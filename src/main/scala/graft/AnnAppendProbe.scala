package graft

import org.apache.spark.sql.functions._

/** Recall drift of the INCREMENTAL ANN append vs a full retrain
  * (VERDICT r15 next #6) — dev tooling, never run by the driver.
  *
  * Posture: the bundle trains on the FIRST HALF of a scale dir's
  * near-duplicate-clustered corpus (copies 0..K/2−1 of every base
  * vector), publishes, then the second half ARRIVES and appends
  * retrain-free (`IvfPqIndex.append` — coarse-assigned and
  * PQ-encoded with the frozen artifacts). The comparison bundle
  * retrains on the full corpus with the registered recipe. Both serve
  * the same queries over the same grown corpus via `IvfPqIndex.serve`,
  * and recall@k scores against the exact L2 ground truth.
  *
  * Scoring is CROSS-CLUSTER (the RecallSweep caveat: same-cluster
  * neighbors saturate recall ≥0.96 everywhere on these dirs, so the
  * discriminating regime is neighbors from a DIFFERENT base vector —
  * `SPARK_GRAFT_SWEEP_CLUSTER_MOD`, default 2000 for a K×-sf0.1 dir),
  * with the serve depth inflated by clusterSize−1 exactly as the
  * sweep does.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sfbig10 sbt "runMain graft.AnnAppendProbe"
  */
object AnnAppendProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfbig10")
    val k = sys.env.get("SPARK_GRAFT_SWEEP_K").map(_.toInt).getOrElse(5)
    val nQueries = sys.env.get("SPARK_GRAFT_SWEEP_QUERIES").map(_.toInt).getOrElse(50)
    val mod = sys.env.get("SPARK_GRAFT_SWEEP_CLUSTER_MOD").map(_.toLong).getOrElse(2000L)
    val work = sys.env.getOrElse("SPARK_GRAFT_STREAM_WORK", "/tmp/ann_append_probe")
    val spark = GraftSession("graft-ann-append-probe")
    import graft.operators.IvfPqIndex

    val full = graft.sources.Tables.embeddings(spark, d)
    val nBase = full.count()
    require(nBase % mod == 0,
      s"cluster MOD $mod must divide corpus size $nBase (wrong MOD for $d?)")
    val kCopies = (nBase / mod).toInt
    require(kCopies >= 2, s"dir $d has $kCopies copies — need >= 2 to split")
    val clusterSize = kCopies
    val kServe = k + clusterSize - 1
    // first half of the copies trains; the rest arrives post-publish
    val halfId = mod * (kCopies / 2)
    val baseDir = s"$work/base_half"
    full.filter(col("vec_id") < halfId)
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    val grown = full.select(col("vec_id"), col("embedding"))
    val arriving = grown.filter(col("vec_id") >= halfId)
    val queries = grown.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))

    // exact cross-cluster ground truth over the FULL grown corpus
    val q = queries.select(col("query_id"), col("embedding").as("qe"))
    val dist = graft.plans.GraftFunctions.sqDistF64(col("qe"), col("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dd"), col("neighbor_id"))
    val truth = grown.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(col("neighbor_id") % mod =!= col("query_id") % mod)
      .select(col("query_id"), col("neighbor_id"), dist.as("dd"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    println(s"""{"probe":"ann_append_truth","sf":"$d","k":$k,"k_serve":$kServe,""" +
      s""""n_vectors":$nBase,"trained_on":$halfId,"appended":${nBase - halfId}}""")

    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rank"))
      val got = df.filter(col("neighbor_id") % mod =!= col("query_id") % mod)
        .withColumn("xrn", row_number().over(wk)).filter(col("xrn") <= k)
        .select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      truth.map { case (qid, t) =>
        (t intersect got.getOrElse(qid, Set.empty)).size
      }.sum.toDouble / (k * truth.size)
    }

    Seq(("plain", false), ("rotated", true)).foreach { case (tag, rot) =>
      val pApp = s"$work/append_$tag"
      val pFull = s"$work/retrain_$tag"
      val t0 = System.nanoTime()
      IvfPqIndex.train(spark, baseDir, rotated = rot).save(pApp)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val appended = IvfPqIndex.append(spark, pApp, arriving)
      val tAppend = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      IvfPqIndex.train(spark, d, rotated = rot).save(pFull)
      val tRetrain = (System.nanoTime() - t2) / 1e9
      val retrained = IvfPqIndex.load(spark, pFull)
      Seq(2, 4, 8).foreach { nprobe =>
        val rApp = recall(appended.serve(grown, queries, kServe, nprobe))
        val rFull = recall(retrained.serve(grown, queries, kServe, nprobe))
        println(s"""{"probe":"ann_append_recall","bundle":"$tag","nprobe":$nprobe,""" +
          f""""recall_append":$rApp%.4f,"recall_retrain":$rFull%.4f,""" +
          f""""drift":${rFull - rApp}%.4f,"train_half_sec":$tTrain%.1f,""" +
          f""""append_sec":$tAppend%.1f,"retrain_full_sec":$tRetrain%.1f}""")
      }
    }
    spark.stop()
  }
}
