package graft

import org.apache.spark.sql.functions._

/** Stage decomposition of the bench's top-3 (VERDICT r14 next #6) —
  * dev tooling, never run by the driver. contamination_bloom_sql /
  * contamination_bloom / cross_dedup_persisted top the r14 sf0.1 bench
  * (4.10 / 3.94 / 3.71 s); all three are linear-class and gate-green,
  * but no round has named which stage owns the constant. This probe
  * times cumulative prefixes of each pipeline so PLANS.md can pin
  * tokenize vs probe vs sign vs serve, and a shave (or a written
  * "irreducible because …") can target the real stage.
  *
  * Prefix timing, not instrumentation: each step materializes a strict
  * prefix of the real plan (same expressions, same order), so
  * step_i − step_{i−1} ≈ the added stage's cost under identical scan/
  * codegen conditions. Each step runs `reps` times, min taken (warm
  * JIT/page-cache posture — the bench is warm too).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.StageProbe"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.toInt).getOrElse(3)
    // SPARK_GRAFT_PROBE_ONLY=dedup_serve (comma-sep): run a subset —
    // at a 100× docs dir the full battery would pay for probes whose
    // scale question was already answered at sf0.1
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(',').toSet)
    def enabled(p: String): Boolean = only.forall(_.contains(p))
    val spark = GraftSession("graft-stage-probe")
    import graft.operators.TextOps

    def best(run: () => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }.min

    // ---- cross_dedup_against_store SERVE decomposition (r16): the
    //      face-6 batch replay and the streaming serve share this shape —
    //      name the dominant stage of the per-slice wall: batch sign →
    //      exact sha tier → band join/candidates → candidate-pruned
    //      shingle relation → per-doc array fold → per-pair verify →
    //      full serve ----
    if (enabled("dedup_serve")) locally {
      val path = graft.sources.IndexStore.artifactPath("dedupprobe16", s"$d|src5")
      val (sha, bands, sets) = TextOps.dedupSignatureFrames(
        spark, d, col("source") =!= "src5")
      graft.sources.IndexStore.saveDedupSignatures(spark, sha, bands, sets, path)
      val (cSha, cBands, cSets) =
        graft.sources.IndexStore.loadDedupSignatures(spark, path)
      val signSec = best(() => {
        val (s2, b2, g2) = TextOps.dedupSignatureFrames(
          spark, d, col("source") === "src5")
        s2.agg(count(lit(1))).collect(); b2.agg(count(lit(1))).collect()
        g2.agg(count(lit(1))).collect()
      })
      val (_, newBands, newSets) = TextOps.dedupSignatureFrames(
        spark, d, col("source") === "src5")
      val newDocs = graft.sources.Tables.documents(spark, d)
        .filter(col("source") === "src5").select(col("doc_id"), col("text"))
      val exactSec = best(() => newDocs
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .join(cSha, "h").groupBy("doc_id").agg(min(col("cid")))
        .agg(count(lit(1))).collect())
      val cands = newBands.as("a").join(cBands.as("b"),
          col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val candSec = best(() => { println("pairs=" +
        cands.count()) })
      val allSets = cSets.union(newSets).distinct()
      val candIds = cands.select(col("doc_a").as("doc_id"))
        .union(cands.select(col("doc_b").as("doc_id"))).distinct()
      val pruned = allSets.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      val pruneSec = best(() => pruned.agg(count(lit(1))).collect())
      val arrs = pruned.groupBy("doc_id")
        .agg(collect_list(col("sh")).as("shs"))
      val foldSec = best(() => arrs.agg(count(lit(1))).collect())
      val verifySec = best(() =>
        TextOps.jaccardVerify(cands, pruned, 0.5)
          .agg(count(lit(1))).collect())
      val verifyAsymSec = best(() =>
        TextOps.jaccardVerifyAsym(cands, allSets, 0.5)
          .agg(count(lit(1))).collect())
      val fullSec = best(() =>
        TextOps.crossDedupAgainstStore(spark, d, path, "src5").collect())
      println(s"""{"probe":"dedup_serve","sf":"$d",""" +
        f""""batch_sign_sec":$signSec%.2f,"exact_tier_sec":$exactSec%.2f,""" +
        f""""band_cands_sec":$candSec%.2f,"prune_sets_sec":$pruneSec%.2f,""" +
        f""""array_fold_sec":$foldSec%.2f,"pair_verify_sec":$verifySec%.2f,""" +
        f""""pair_verify_asym_sec":$verifyAsymSec%.2f,""" +
        f""""full_serve_sec":$fullSec%.2f}""")
    }

    // ---- contamination_bloom: scan → tokenize+shingle → hash →
    //      bench sizing → bloom build+probe → per-doc agg ----
    if (enabled("contamination_bloom")) locally {
      val docs = graft.sources.Tables.documents(spark, d)
      val scanSec = best(() => docs.select(col("doc_id"), col("text"))
        .agg(count(lit(1)), sum(length(col("text")))).collect())
      val grams = docs.withColumn("toks", expr(TextOps.toksExpr))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"),
          explode(array_distinct(expr(TextOps.shinglesExpr(5)))).as("gram"))
      val gramSec = best(() =>
        grams.agg(count(lit(1))).collect())
      val (lo, hi) = graft.functions.ColumnFunctions.hash64Pair(
        col("gram"), TextOps.BloomTag)
      val hashed = grams.select(col("doc_id"), col("gram"),
        lo.as("lo"), hi.as("hi"))
      val hashSec = best(() =>
        hashed.agg(count(lit(1)), max(col("lo")), min(col("hi"))).collect())
      val sizeSec = best(() =>
        hashed.filter(col("doc_id") % 10 === 7)
          .select("gram").distinct().count())
      // bloom build + probe, no exact join / no groupBy: how much of
      // the tail is the filter itself vs the gram-string exact join
      val bench = hashed.filter(col("doc_id") % 10 === 7)
      val (kk, mm) = graft.plans.GraftBloom.geometryFor(
        bench.select("gram").distinct().count())
      val bloom = bench.agg(graft.plans.GraftFunctions.bloomState(
        col("lo"), col("hi"), kk, mm).as("bf"))
      val probeSec = best(() =>
        hashed.filter(col("doc_id") % 10 =!= 7)
          .crossJoin(broadcast(bloom))
          .withColumn("flagged", graft.plans.GraftFunctions.bloomContains(
            col("bf"), col("lo"), col("hi")))
          .agg(count(lit(1)), sum(col("flagged").cast("long"))).collect())
      val benchGrams = bench.select("gram").distinct()
        .withColumn("is_exact", lit(1L))
      val joinSec = best(() =>
        hashed.filter(col("doc_id") % 10 =!= 7)
          .crossJoin(broadcast(bloom))
          .withColumn("flagged", graft.plans.GraftFunctions.bloomContains(
            col("bf"), col("lo"), col("hi")))
          .join(broadcast(benchGrams), Seq("gram"), "left")
          .agg(count(lit(1)), sum(col("flagged").cast("long")),
            sum(coalesce(col("is_exact"), lit(0L)))).collect())
      val fullSec = best(() =>
        TextOps.contaminationBloom(spark, d).collect())
      println(s"""{"probe":"contamination_bloom","sf":"$d",""" +
        f""""scan_sec":$scanSec%.2f,"tokenize_shingle_sec":$gramSec%.2f,""" +
        f""""hash_sec":$hashSec%.2f,"bench_sizing_sec":$sizeSec%.2f,""" +
        f""""build_probe_sec":$probeSec%.2f,"probe_exact_join_sec":$joinSec%.2f,""" +
        f""""full_sec":$fullSec%.2f}""")
    }

    // ---- contamination_bloom_sql: the spark.sql text twin — same
    //      logical plan modulo parsing; the delta vs the DSL form is
    //      the SQL-surface overhead ----
    if (enabled("contamination_bloom_sql")) locally {
      val sqlSec = best(() =>
        graft.operators.SqlSurface.contaminationBloomSqlText(spark, d).collect())
      println(s"""{"probe":"contamination_bloom_sql","sf":"$d",""" +
        f""""full_sec":$sqlSec%.2f}""")
    }

    // ---- cross_dedup_persisted: corpus sign (sha+minhash+shingles) →
    //      store save → load+serve (batch sign + band join + verify) ----
    if (enabled("cross_dedup_persisted")) locally {
      val path = graft.sources.IndexStore.artifactPath(
        "dedupprobe", s"$d|src5")
      val signSec = best(() => {
        val (sha, bands, sets) = TextOps.dedupSignatureFrames(
          spark, d, col("source") =!= "src5")
        // materialize all three signature relations without writing
        sha.agg(count(lit(1))).collect()
        bands.agg(count(lit(1))).collect()
        sets.agg(count(lit(1))).collect()
      })
      val saveSec = best(() => {
        val (sha, bands, sets) = TextOps.dedupSignatureFrames(
          spark, d, col("source") =!= "src5")
        graft.sources.IndexStore.saveDedupSignatures(spark, sha, bands, sets, path)
      })
      val serveSec = best(() =>
        TextOps.crossDedupAgainstStore(spark, d, path, "src5").collect())
      val fullSec = best(() =>
        TextOps.crossDedupPersisted(spark, d, "src5").collect())
      println(s"""{"probe":"cross_dedup_persisted","sf":"$d",""" +
        f""""corpus_sign_sec":$signSec%.2f,"sign_and_save_sec":$saveSec%.2f,""" +
        f""""load_serve_sec":$serveSec%.2f,"full_sec":$fullSec%.2f}""")
    }

    // ---- doc_similar_topk (r16: new bench top-3): the warm wall is
    //      the NON-memoized portion (term vectors + topic assignment
    //      are session-memoized like the bench's own warm runs) —
    //      decompose dense-vector build → cell pair join + dot →
    //      top-k window ----
    if (enabled("doc_similar_topk")) locally {
      import org.apache.spark.sql.expressions.Window
      val dim = 64
      val tv = TextOps.docTermVectors(spark, d, dim)
      val tvSec = best(() => tv.agg(count(lit(1))).collect())
      val nl = math.max(2, math.ceil(math.sqrt(
        tv.select("doc_id").distinct().count().toDouble)).toInt)
      val assign = TextOps.docTopics(spark, d, nl, dim, 2)
      val assignSec = best(() => assign.agg(count(lit(1))).collect())
      val dense = tv.groupBy("doc_id")
        .agg(map_from_entries(collect_list(
          struct(col("dim").cast("int").as("k"),
            col("tf").cast("double").as("v")))).as("m"))
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => coalesce(element_at(col("m"), i), lit(0.0))).as("arr"))
        .withColumn("n2", graft.plans.GraftFunctions.dotF64(col("arr"), col("arr")))
        .join(assign, "doc_id")
      val denseSec = best(() => dense.agg(count(lit(1))).collect())
      val dot = graft.plans.GraftFunctions.dotF64(col("aa"), col("ab"))
      val a = dense.select(col("doc_id").as("da"), col("topic"),
        col("arr").as("aa"), col("n2").as("na2"))
      val b = dense.select(col("doc_id").as("db"), col("topic"),
        col("arr").as("ab"), col("n2").as("nb2"))
      val scored = a.join(b, Seq("topic")).filter(col("da") =!= col("db"))
        .select(col("da").as("doc_id"), col("db").as("similar_id"),
          (dot.cast("double") / (sqrt(col("na2")) * sqrt(col("nb2")))).as("score"))
      val pairSec = best(() => scored.agg(count(lit(1))).collect())
      val fullSec = best(() => TextOps.docSimilarTopK(spark, d).collect())
      println(s"""{"probe":"doc_similar_topk","sf":"$d",""" +
        f""""term_vectors_sec":$tvSec%.2f,"assign_sec":$assignSec%.2f,""" +
        f""""dense_build_sec":$denseSec%.2f,"pair_dot_sec":$pairSec%.2f,""" +
        f""""full_sec":$fullSec%.2f}""")
    }

    // ---- embedding_covariance (r16: new bench top-3): scan+cast →
    //      the one-buffer CovGram exact-decimal fold → the exploded
    //      d(d+1)/2 projection ----
    if (enabled("embedding_covariance")) locally {
      val emb = graft.sources.Tables.embeddings(spark, d)
      val scanSec = best(() => emb
        .select(col("embedding").cast("array<double>").as("e"))
        .agg(count(lit(1))).collect())
      val kernelSec = best(() => emb
        .agg(graft.plans.GraftFunctions.covGram(
          col("embedding").cast("array<double>")).as("cg"))
        .select(size(col("cg"))).collect())
      val fullSec = best(() =>
        graft.operators.Similarity.embeddingCovariance(spark, d).collect())
      println(s"""{"probe":"embedding_covariance","sf":"$d",""" +
        f""""scan_cast_sec":$scanSec%.2f,"covgram_kernel_sec":$kernelSec%.2f,""" +
        f""""full_sec":$fullSec%.2f}""")
    }

    // ---- persisted-ANN round-trip decomposition (VERDICT r16 wrong
    //      #1/#2): ivf_pq_persisted / ivf_pq_rotated_persisted were the
    //      only >1.3× bench deltas after the v3 manifest load landed —
    //      name the stage: train (session-memoized), publish (save +
    //      meta counts), LOAD (meta read + manifest existence check +
    //      three validated relation reads), serve-over-loaded. ----
    if (enabled("ann_persisted")) locally {
      import graft.operators.{IvfPqIndex, Similarity}
      import graft.sources.IndexStore
      Seq(false, true).foreach { rotated =>
        val tag = if (rotated) "ivfpqprobe_rot" else "ivfpqprobe"
        val path = IndexStore.artifactPath(tag, s"$d|8|8|16")
        val t0 = System.nanoTime()
        IvfPqIndex.train(spark, d, rotated = rotated).save(path)
        val buildColdSec = (System.nanoTime() - t0) / 1e9
        val buildWarmSec = best(() =>
          IvfPqIndex.train(spark, d, rotated = rotated).save(path))
        // load runs its validation counts; touch nothing more
        val loadSec = best(() => IvfPqIndex.load(spark, path))
        val atSec = best(() => IvfPqIndex.load(spark, path)
          .serve(Similarity.embeddingCorpus(spark, d),
            Similarity.embeddingProbes(spark, d)).collect())
        val fullSec = best(() =>
          Similarity.ivfPqPersistedTopK(spark, d, rotated).collect())
        val nManifest = {
          val p = new org.apache.hadoop.fs.Path(s"$path/codes")
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          val it = fs.listFiles(p, true)
          var n = 0
          while (it.hasNext) { if (it.next().isFile) n += 1 }
          n
        }
        println(s"""{"probe":"ann_persisted","rotated":$rotated,"sf":"$d",""" +
          f""""build_cold_sec":$buildColdSec%.2f,"build_warm_sec":$buildWarmSec%.2f,""" +
          f""""load_validate_sec":$loadSec%.2f,"load_plus_serve_sec":$atSec%.2f,""" +
          f""""full_query_sec":$fullSec%.2f,"codes_files":$nManifest}""")
      }
    }

    // ---- CORE-SCALING probe (r18, VERDICT r17 next #5): the bench's
    //      8c/32c ratios sit at ≈1.0 even at a 10× dir because the toy
    //      input's SPLIT GEOMETRY caps scan parallelism, not the code:
    //      splitSize = max(openCostInBytes=4MB, bytes/minPartitionNum)
    //      floors at 4 MB, so a 5–60 MB table fans out to 1–14 splits
    //      and both core counts idle. At ≥100× real bytes the same
    //      plans split into hundreds of tasks naturally. This probe
    //      emulates that geometry (probe-session-only conf: 1 MB
    //      maxPartitionBytes / 64 KB openCost over a fine-row-group
    //      scale dir) and times the compute-bound kernels at the
    //      session's SPARK_GRAFT_CPUS — run it at 32 and at 8 to get
    //      the honest parallelism ratio the bench cannot show.
    //      Probe-only: the bench harness and GraftSession confs are
    //      untouched (lowering openCost globally would be a toy-input
    //      trick; at 100 TB the default split geometry already yields
    //      ~10⁶ tasks). ----
    if (enabled("core_scaling")) locally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", (64L << 10).toString)
      Seq("embedding_covariance", "doc_similar_topk", "hot_users_topn",
          "ivf_pq_topk", "heavy_hitters", "user_churn").foreach { qn =>
        val t = best(() => SparkEntry.queries(qn)(spark, d).collect())
        println(f"""{"probe":"core_scaling","q":"$qn","cpus":"${sys.env.getOrElse("SPARK_GRAFT_CPUS", "?")}","sec":$t%.3f}""")
      }
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }

    // ---- iteration-constant slope of the fixed-round graph queries
    //      (r18, VERDICT r17 next #6): time textrank_keywords /
    //      label_spread at increasing round counts — the slope is the
    //      per-iteration scheduling+shuffle constant, the intercept the
    //      graph build. Decides whether the per-round cost is AQE
    //      re-planning (attackable) or the irreducible one-shuffle-per-
    //      round of the algorithm (record and leave). ----
    if (enabled("iter_slope")) locally {
      Seq(1, 2, 5, 10).foreach { it =>
        val t = best(() =>
          graft.operators.Corpus.textrankKeywords(spark, d, 30, it).collect())
        println(f"""{"probe":"iter_slope","q":"textrank_keywords","iters":$it,"sec":$t%.3f}""")
      }
      Seq(1, 2, 3).foreach { r =>
        val t = best(() =>
          graft.operators.Similarity.labelSpread(spark, d, rounds = r).collect())
        println(f"""{"probe":"iter_slope","q":"label_spread","rounds":$r,"sec":$t%.3f}""")
      }
    }

    // ---- Spark JOB COUNT per publish/load/serve (r18, VERDICT r17
    //      next #1's "done" criterion): timing at sf0.1 is noise-bound
    //      (±10% run to run), but the number of jobs a publish or a
    //      serve schedules is exact and machine-independent — the
    //      persisted family's cost driver named by the r16/r17
    //      attributions. Counts jobs via a listener around each phase
    //      (warm memos: the training subtree is already cached, so the
    //      counted jobs are the publish/load/serve constant itself). ----
    if (enabled("job_counts")) locally {
      import graft.operators.{IvfPqIndex, Similarity, TextOps}
      import graft.sources.IndexStore
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def jobs(run: () => Unit): Int = {
        run() // warm memos/caches outside the counted window
        Thread.sleep(500) // listener bus is async; let starts drain
        counter.set(0)
        run()
        Thread.sleep(500)
        counter.get()
      }
      val pqPath = IndexStore.artifactPath("jobsprobe_pq", s"$d|8|8|16")
      val nBuildPq = jobs(() => IvfPqIndex.train(spark, d).save(pqPath))
      val nLoadPq = jobs(() => { IvfPqIndex.load(spark, pqPath); () })
      val nServePq = jobs(() => IvfPqIndex.load(spark, pqPath)
        .serve(Similarity.embeddingCorpus(spark, d),
          Similarity.embeddingProbes(spark, d)).collect())
      val dePath = IndexStore.artifactPath("jobsprobe_de", s"$d|src5")
      val nSaveDedup = jobs(() => {
        val (sha, bands, sets) = TextOps.dedupSignatureFrames(
          spark, d, col("source") =!= "src5")
        IndexStore.saveDedupSignatures(spark, sha, bands, sets, dePath)
      })
      val nAppendDedup = jobs(() => {
        val (sA, bA, gA) = TextOps.dedupSignatureFrames(
          spark, d, col("source") === "src5")
        IndexStore.appendDedupSignatures(spark, sA, bA, gA, dePath)
      })
      var appendEpoch = 0L // fresh vec_ids per append (the caller contract)
      val nAppendPq = jobs(() => {
        appendEpoch += 1
        IvfPqIndex.append(spark, pqPath,
          graft.sources.Tables.embeddings(spark, d)
            .filter(col("vec_id") % 1000 === 999)
            .select((col("vec_id") + lit(appendEpoch * 10000000L)).as("vec_id"),
              col("embedding")))
      })
      println(s"""{"probe":"job_counts","sf":"$d",""" +
        s""""build_ivfpq_jobs":$nBuildPq,"load_ivfpq_jobs":$nLoadPq,""" +
        s""""serve_ivfpq_jobs":$nServePq,"save_dedup_jobs":$nSaveDedup,""" +
        s""""append_dedup_jobs":$nAppendDedup,"append_ivfpq_jobs":$nAppendPq}""")
      spark.sparkContext.removeSparkListener(listener)
    }

    spark.stop()
  }
}
