package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark harness. It creates a `GraftSession`, calls the public
  * functions of the engine's modules and times those calls from the
  * outside; the engine itself is not modified or instrumented.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores>
  *
  * Writes `<workDir>/result.json` (metrics, attempted/failed counts,
  * sample counts) for `run.py`, which adds the DuckDB oracle checks and
  * prints the final line. A traced run also writes `<workDir>/spans.json`.
  */
object Harness {
  final case class Args(workload: String, data: String, work: String,
                        seconds: Double, trace: Boolean, cores: Int)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: Harness <workload> <dataDir> <workDir> <seconds> <trace> <cores>")
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1", argv(5).toInt)
    val out = new Result(a)
    a.workload match {
      case "batch_reference" => new BatchRun(a, out).run()
      case "stream_events"   => new StreamRun(a, out).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out.metric("peak_rss_mb", peakRssMb(), "MB")
    out.write()
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def session(cores: Int): SparkSession =
    graft.GraftSession("perfbench", s"local[$cores]", cores)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr (run.py keeps it in the harness log). */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Order-insensitive digest of a result: columns sorted by name, rows
    * rendered and sorted. Equal digests mean equal multisets of rows. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    def render(v: Any): String = v match {
      case null                          => "null"
      case s: scala.collection.Seq[_]    => s.map(render).mkString("[", ",", "]")
      case r: Row                        => r.toSeq.map(render).mkString("(", ",", ")")
      case a: Array[_]                   => a.map(render).mkString("<", ",", ">")
      case o                             => o.toString
    }
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(order.map(names(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** JSON in and out: result.json, spans.json, plan.json. */
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = mapper.writeValue(Paths.get(path).toFile, v)
}

/** What one harness run reports back to `run.py`. */
final class Result(a: Harness.Args) {
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val samples = mutable.LinkedHashMap[String, Int]()
  private val failures = mutable.ArrayBuffer[String]()
  private val notes = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def sampleCount(name: String, n: Int): Unit = samples(name) = n
  def note(k: String, v: Any): Unit = notes(k) = v

  /** Count one operation or output check; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
  }

  def write(): Unit = Harness.writeJson(s"${a.work}/result.json", Map(
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "samples" -> samples, "failures" -> failures.toList, "notes" -> notes))
}

/** Results dumped for run.py's DuckDB check: `<work>/outputs/<name>/`
  * holds the rows, `<work>/oracle.json` the oracle SQL and table dir. */
object Oracle {
  private val entries = mutable.LinkedHashMap[String, Map[String, String]]()

  def dump(spark: SparkSession, work: String, name: String, df: DataFrame,
           rows: Array[Row], tables: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/outputs/$name")
    entries(name) = Map("tables" -> tables) ++ graft.SparkEntry.oracleSql.get(name).map("sql" -> _)
    Harness.writeJson(s"$work/oracle.json", entries)
  }
}
