package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.CsvSources
import graft.streaming.StreamingJobs

/** The reference's network-flow flagship (NetworkFlowTopNPage: hot URLs
  * from apache.log with wall-format timestamps) and the interval join,
  * golden-checked against independently-computed DuckDB values. */
class NetworkFlowGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val log = getClass.getResource("/reference/apache.log").getPath

  test("top-3 pages per 10-minute window over apache.log matches the DuckDB golden") {
    val events = CsvSources.readApacheLog(spark, log)
    val counts = StreamingJobs.windowedCounts(events, "10 minutes", None, Seq(col("url")))
    val top = StreamingJobs.topNPerWindow(counts, 3, "url")
    val rows = top.collect()
    // DuckDB, over the apache view of ReferenceGoldenSpec:
    // WITH w AS (SELECT time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS window_end,
    //                   url, count(*) AS cnt FROM apache GROUP BY ALL),
    //      r AS (SELECT *, row_number() OVER (PARTITION BY window_end
    //                                         ORDER BY cnt DESC, url) AS rn FROM w)
    // SELECT count(*) FROM r WHERE rn <= 3                                  → 60
    assert(rows.length == 60)
    // SELECT url, cnt FROM r WHERE rn <= 3
    //   AND window_end = TIMESTAMP '2015-05-17 10:10:00' ORDER BY rn
    val firstEnd = java.sql.Timestamp.valueOf("2015-05-17 10:10:00")
    val first = rows.filter(_.getAs[java.sql.Timestamp]("window_end") == firstEnd)
      .sortBy(_.getAs[Int]("rn"))
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("cnt")))
    assert(first.toSeq == Seq(("/favicon.ico", 28L), ("/reset.css", 13L),
      ("/presentations/logstash-monitorama-2013/images/kibana-search.png", 11L)))
  }

  test("synthesized UserBehavior fixture drives the HotItems pipeline shape") {
    // the reference's UserBehavior.csv is stripped from its repo
    // (.MISSING_LARGE_BLOBS); FIXTURES.md §A: synthesize deterministically
    val rnd = new scala.util.Random(42)
    val base = 1511658000L
    val rows = Seq.tabulate(3000) { i =>
      val uid = rnd.nextInt(50) + 1
      val item = rnd.nextInt(20) + 1
      val beh = Seq("pv", "pv", "pv", "buy", "cart", "fav")(rnd.nextInt(6))
      s"$uid,$item,${rnd.nextInt(100)},$beh,${base + i * 5}"
    }
    val dir = java.nio.file.Files.createTempDirectory("ub").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/UserBehavior.csv"),
      rows.mkString("\n").getBytes)
    val ub = CsvSources.readUserBehavior(spark, s"$dir/UserBehavior.csv")
    assert(ub.count() == 3000)
    val pv = ub.filter(col("behavior") === "pv")
    val counts = StreamingJobs.windowedCounts(pv, "1 hour", Some("5 minutes"), Seq(col("itemId")))
    val top = StreamingJobs.topNPerWindow(counts, 5, "itemId").collect()
    assert(top.nonEmpty)
    assert(top.forall(_.getAs[Int]("rn") <= 5))
    // window totals must re-add to the pv row count (each row lands in
    // exactly 12 sliding panes)
    val total = counts.agg(sum(col("cnt"))).collect().head.getLong(0)
    assert(total == pv.count() * 12)
  }

  test("interval join: streaming result == batch result on the same data") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = Seq((1L, 100L), (1L, 200L), (2L, 50L), (3L, 10L))
    val pays = Seq((1L, 95L), (1L, 209L), (2L, 75L), (3L, 300L))
    def frame(data: Seq[(Long, Long)], k: String, t: String) =
      data.toDF(k, s"${t}_secs").withColumn(t, timestamp_seconds(col(s"${t}_secs")))
    val batch = StreamingJobs.intervalJoin(
        frame(clicks, "ck", "ct"), "ck", "ct",
        frame(pays, "pk", "pt"), "pk", "pt", -5, 10)
      .select("ck", "ct_secs", "pt_secs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pay at click-5 and click+9 match; +25 and +290 don't
    assert(batch == Set((1L, 100L, 95L), (1L, 200L, 209L)))
    val li = MemoryStream[(Long, Long)]; val ri = MemoryStream[(Long, Long)]
    val sj = StreamingJobs.intervalJoin(
      li.toDF().toDF("ck", "ct_secs").withColumn("ct", timestamp_seconds(col("ct_secs"))), "ck", "ct",
      ri.toDF().toDF("pk", "pt_secs").withColumn("pt", timestamp_seconds(col("pt_secs"))), "pk", "pt",
      -5, 10)
    val q = graft.sources.Sinks.memory(sj.select("ck", "ct_secs", "pt_secs"), "ij_stream")
    try {
      li.addData(clicks); ri.addData(pays)
      q.processAllAvailable()
      val streaming = spark.table("ij_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streaming == batch)
    } finally q.stop()
  }
}
