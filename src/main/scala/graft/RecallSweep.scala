package graft

import org.apache.spark.sql.functions._

/** Rotated-vs-plain IVFADC recall sweep (VERDICT r13 #5) — dev tooling,
  * never run by the driver. The round-13 recall pin (rotated 0.38 vs
  * plain 0.36 @5, sf0.1, nprobe=2, nCodes=16) is a 2-point margin on a
  * 4k-vector corpus; this sweep re-measures the curve on the 10×
  * embeddings dir (40k vectors, near-duplicate-clustered) across
  * nprobe ∈ {2,4,8} × nCodes ∈ {16,64} with 50 probe queries, so the
  * rotation's serving claim rests on a curve, not a point.
  *
  * Ground truth is the exact L2 top-k per query, computed engine-side
  * by a brute-force scan (50 × 40k pairs — trivial); recall@k is the
  * mean fraction of true top-k ids the served shortlist recovers.
  * Indexes are the registered ivf_pq_topk / ivf_pq_rotated_topk chains
  * (session-memoized per nCodes, so the 3-nprobe serves share one
  * train). Prints one JSON line per (nCodes, nprobe) cell; PLANS.md
  * pins the table.
  *
  * MEASURED CAVEAT (first 10× run): with same-cluster neighbors
  * eligible, recall saturates ≥ 0.96 in EVERY cell — make_scale_dir's
  * corpus surrounds each query with K−1 noisy copies that quantize to
  * the query's own cell, so plain top-5 is trivially recoverable and
  * the sweep cannot discriminate rotated from plain. Set
  * SPARK_GRAFT_SWEEP_CLUSTER_MOD=<base vector count> (2000 for a
  * K×-sf0.1 dir) to score CROSS-CLUSTER recall instead: ground truth
  * and served shortlists are both restricted to neighbors with
  * vec_id % MOD != query_id % MOD (a different base vector), the
  * regime where the quantizer actually has to rank distant cells and
  * k-NN serving quality lives. The index still serves its registered
  * top-k over the FULL corpus with k inflated by the cluster size
  * (K−1 same-cluster hits can precede the cross-cluster ones), so the
  * measured index is unchanged — only the scoring filter differs.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sfbig10 sbt "runMain graft.RecallSweep"
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfbig10")
    val k = sys.env.get("SPARK_GRAFT_SWEEP_K").map(_.toInt).getOrElse(5)
    val nQueries = sys.env.get("SPARK_GRAFT_SWEEP_QUERIES").map(_.toInt).getOrElse(50)
    // cross-cluster mode: MOD = base vector count of the scale recipe
    // (copies of base vector v have vec_id ≡ v mod MOD)
    val clusterMod = sys.env.get("SPARK_GRAFT_SWEEP_CLUSTER_MOD").map(_.toLong)
    // SPARK_GRAFT_SWEEP_RERANK: ADC shortlist depth (0 = the 4k
    // default). The knob exists because this sweep measured recall
    // FALLING as nprobe rose at nCodes=16 — the fixed shortlist
    // saturates with quantization noise from the extra probed cells.
    val rerankDepth = sys.env.get("SPARK_GRAFT_SWEEP_RERANK").map(_.toInt).getOrElse(0)
    val spark = GraftSession("graft-recall-sweep")
    import graft.operators.{IvfPqIndex, Similarity}

    // exact L2 ground truth for the probe prefix: per query, the k
    // nearest OTHER vectors by squared distance (double arithmetic —
    // a recall denominator, not an oracle surface)
    val base = graft.sources.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val dist = graft.plans.GraftFunctions.sqDistF64(col("qe"), col("ce"))
    val crossCluster = clusterMod.map(m =>
      col("neighbor_id") % m =!= col("query_id") % m)
    val scored = base.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(crossCluster.getOrElse(lit(true)))
      .select(col("query_id"), col("neighbor_id"), dist.as("dd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dd"), col("neighbor_id"))
    val truth = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    val nBase = base.count()
    // cross-cluster mode serves a deeper list: up to clusterSize−1
    // same-cluster hits may precede the cross-cluster neighbors.
    // ADVICE r14: a MOD that doesn't divide the corpus means the wrong
    // MOD for this dir — truncation would silently undersize kServe
    // and understate recall, so fail loudly instead.
    clusterMod.foreach(m => require(nBase % m == 0,
      s"cluster MOD $m must divide corpus size $nBase (wrong MOD for $d?)"))
    val clusterSize = clusterMod.map(m => (nBase / m).toInt).getOrElse(1)
    val kServe = k + clusterSize - 1
    println(s"""{"sweep":"ground_truth","sf":"$d","k":$k,"k_serve":$kServe,""" +
      s""""n_queries":$nQueries,"base_vectors":$nBase,""" +
      s""""cluster_mod":${clusterMod.getOrElse(0L)}}""")

    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rank"))
      val got = df.filter(crossCluster.getOrElse(lit(true)))
        .withColumn("xrn", row_number().over(wk)).filter(col("xrn") <= k)
        .select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      val hits = truth.map { case (qid, t) =>
        (t intersect got.getOrElse(qid, Set.empty)).size
      }.sum
      hits.toDouble / (k * truth.size)
    }

    def serve(rotated: Boolean, nCodes: Int, nprobe: Int) =
      IvfPqIndex.train(spark, d, nCodes = nCodes, rotated = rotated)
        .serve(Similarity.embeddingCorpus(spark, d),
          Similarity.embeddingProbes(spark, d, s"vec_id < $nQueries"),
          kServe, nprobe, rerankDepth)

    for (nCodes <- Seq(16, 64); nprobe <- Seq(2, 4, 8)) {
      val t0 = System.nanoTime()
      val plain = recall(serve(rotated = false, nCodes, nprobe))
      val tp = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val rot = recall(serve(rotated = true, nCodes, nprobe))
      val tr = (System.nanoTime() - t1) / 1e9
      println(s"""{"sweep":"recall","n_codes":$nCodes,"nprobe":$nprobe,""" +
        s""""rerank":$rerankDepth,""" +
        f""""recall_plain":$plain%.4f,"recall_rotated":$rot%.4f,""" +
        f""""delta":${rot - plain}%.4f,"plain_sec":$tp%.1f,"rot_sec":$tr%.1f}""")
    }
    spark.stop()
  }
}
