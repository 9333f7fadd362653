package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.IndexStore

/** An IVF-PQ index (IVFADC: Jégou, Douze & Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — public
  * technique): a TRAINED coarse quantizer (`cent`, [[Similarity.ivfTrain]]'s
  * deterministic k-means) restricts the scan to `nprobe` cells per
  * query, and the fine distance runs over RESIDUALS r = v − centroid(cell)
  * encoded with a product quantizer (`codebook`: nSub·nCodes
  * sub-centroids; `codes`: one (vec_id, sub_id, code, list_id) row per
  * vector and subspace). Residual magnitudes are a cell-diameter
  * fraction of raw ones, so the same codebook quantizes far more
  * precisely than [[Similarity.pqAdcTopK]]'s raw PQ.
  *
  * `rotation`, when present, is the OPQ-style orthonormal basis the
  * index was trained in ([[Similarity.pqRotationFor]]): the value
  * describes its own basis, so every way of obtaining it — trained in
  * session, loaded from an [[IndexStore]] bundle, grown by an append —
  * serves through the one [[serve]] path.
  *
  * Scale: centroids and codebook are broadcast-sized by construction
  * (nlists·dim, nSub·nCodes·subDim); serving touches only integer
  * codes of vectors in probed cells plus the O(queries·rerank) exact
  * re-rank join over raw vectors. */
final case class IvfPqIndex(cent: DataFrame, codebook: DataFrame,
                            codes: DataFrame, nCodes: Int, nSub: Int,
                            dim: Int,
                            rotation: Option[Array[Array[Double]]]) {

  /** Top-k of each (query_id, embedding) query against the
    * (vec_id, embedding) `corpus`: probe → residual LUT → cell-
    * restricted ADC → exact re-rank. A rotated index probes with the
    * queries rotated into its training basis; the re-rank always scores
    * the ORIGINAL corpus and queries (the rotation is an isometry, so
    * the original metric is exactly the one the index approximates).
    * Output: (query_id, neighbor_id, adist, dist, rank).
    *
    * Probe + LUT are ONE narrow projection over the queries: the
    * centroid and codebook relations (bounded index artifacts) fold
    * into a single broadcast row, the top-nprobe probe is
    * slice(array_sort(...)) with the (cdist, list_id) tie-break, and
    * every distance is the exact-decimal [[Similarity.exactSqDist]]
    * fold — zero exchanges before the ADC join. */
  def serve(corpus: DataFrame, queries: DataFrame, k: Int = 5,
            nprobe: Int = 2, rerankDepth: Int = 0): DataFrame = {
    val q = queries.select(col("query_id"),
      col("embedding").cast("array<double>").as("qe"))
    val probeQ = rotation.fold(q) { r =>
      Similarity.rotateEmbeddings(queries.sparkSession,
          queries.select(col("query_id").as("vec_id"), col("embedding")), r)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qe"))
    }
    val subDim = dim / nSub
    // coalesce(1) keeps the global collect_list agg exchange-free (the
    // relations are nlists / nSub·nCodes rows); the 1×1 cross join
    // yields the single broadcast row carrying both arrays
    val idxRow = cent.select(col("list_id"), col("cemb")).coalesce(1)
      .agg(collect_list(struct(col("list_id"), col("cemb"))).as("cents"))
      .crossJoin(codebook.select(col("sub_id"), col("code"), col("cemb")).coalesce(1)
        .agg(collect_list(struct(col("sub_id"), col("code"), col("cemb")))
          .as("cbs")))
    def sqDist(x: String, y: String): String =
      s"""CAST(aggregate(
         |  zip_with($x, $y,
         |    (x, y) -> CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
         |                   (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) AS DECIMAL(38,30))),
         |  CAST(0 AS DECIMAL(38,30)),
         |  (acc, v) -> CAST(acc + v AS DECIMAL(38,30))) AS DOUBLE)""".stripMargin
    val lutExpr = expr(
      s"""flatten(transform(
         |  transform(
         |    slice(array_sort(transform(cents,
         |      c -> struct(${sqDist("qe", "c.cemb")} AS cdist,
         |                  c.list_id AS list_id, c.cemb AS cemb))),
         |      1, $nprobe),
         |    p -> struct(p.list_id AS list_id,
         |                zip_with(qe, p.cemb, (x, y) -> x - y) AS rqe)),
         |  pr -> transform(cbs,
         |    cc -> struct(pr.list_id AS list_id, cc.sub_id AS sub_id,
         |                 cc.code AS code,
         |                 ${sqDist(s"slice(pr.rqe, CAST(cc.sub_id AS INT) * $subDim + 1, $subDim)",
                                    "cc.cemb")} AS ld))))""".stripMargin)
    val lut = probeQ.join(broadcast(idxRow))
      .select(col("query_id"), explode(lutExpr).as("l"))
      .select(col("query_id"), col("l.list_id").as("list_id"),
        col("l.sub_id").as("sub_id"), col("l.code").as("code"),
        col("l.ld").as("ld"))
    // ADC restricted to probed cells: codes meet the LUT of their cell
    val approx = codes.join(broadcast(lut), Seq("list_id", "sub_id", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("ld").cast("decimal(38,30)")).cast("double").as("adist"))
    // IVFADC-R re-rank: exact-rescore ONLY the top-`rerank` ADC
    // candidates per query, so the scan stays codes-only while the
    // final ranking is exact; rerankDepth > 0 overrides the
    // probe-budget-scaled [[Similarity.defaultRerankDepth]]
    val rerank = if (rerankDepth > 0) rerankDepth
                 else Similarity.defaultRerankDepth(k, nprobe, nCodes)
    val wR = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    val shortlist = approx.withColumn("arn", row_number().over(wR))
      .filter(col("arn") <= rerank).drop("arn")
    val exact = shortlist
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("ce")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        Similarity.exactSqDist("qe", "ce").as("dist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Mount the index ONCE for steady-state serving: persist the index
    * relations and the corpus, and return a serve function over
    * arbitrary (query_id, embedding) batches — the shape a streaming
    * foreachBatch loop calls per micro-batch. Per batch the only new
    * work is query-proportional (probe/LUT broadcast, the ADC join
    * against the persisted codes, the O(queries·rerank) re-rank). The
    * persisted relations live for the session. */
  def mount(corpus: DataFrame, k: Int = 5, nprobe: Int = 2,
            rerankDepth: Int = 0): DataFrame => DataFrame = {
    val idx = copy(cent = cent.persist(), codebook = codebook.persist(),
      codes = codes.persist())
    val base = corpus.select(col("vec_id"), col("embedding")).persist()
    idx.serve(base, _, k, nprobe, rerankDepth)
  }

  /** Publish the index at `path` (see [[IndexStore.saveIvfPq]]). */
  def save(path: String): Unit =
    IndexStore.saveIvfPq(cent.sparkSession, cent, codebook, codes, path,
      nSub, nCodes, rotation)
}

object IvfPqIndex {

  /** Train on the `embeddings` table of scale dir `d` — plain, or
    * `rotated` into the covariance eigenbasis ([[Similarity.whitenedBase]],
    * same deterministic seeds). Session-memoized: the index relations
    * are index-sized, deterministic and query-independent — what a
    * production system materializes once at build time. */
  def train(spark: SparkSession, d: String, nlists: Int = 8,
            ivfIters: Int = 2, nSub: Int = 8, nCodes: Int = 16,
            iters: Int = 2, dim: Int = 64,
            rotated: Boolean = false): IvfPqIndex = {
    require(dim % nSub == 0, s"dim $dim must divide into $nSub subspaces")
    if (!rotated)
      trainOn(spark, d, "plain", Similarity.embeddingCorpus(spark, d),
        () => Similarity.ivfTrainFull(spark, d, nlists, ivfIters),
        nlists, ivfIters, nSub, nCodes, iters, dim)
    else {
      val (rb, err) = Similarity.whitenedBase(spark, d, nSub, dim)
      require(err <= 1e-9,
        f"rotated IVF-PQ: covariance rotation not orthonormal (witness $err%.3g)")
      trainOn(spark, d, "rotated", rb,
        () => Similarity.ivfTrainFullFrom(rb, nlists, ivfIters),
        nlists, ivfIters, nSub, nCodes, iters, dim)
        .copy(rotation = Some(Similarity.pqRotationFor(spark, d, nSub, dim)))
    }
  }

  /** Train over an ARBITRARY (vec_id, embedding) `base` with the given
    * coarse trainer; `tag` keeps differently-trained indexes of one dir
    * apart in the session memo. */
  private[operators] def trainOn(spark: SparkSession, d: String, tag: String,
                                 base: DataFrame,
                                 coarse: () => (DataFrame, DataFrame),
                                 nlists: Int, ivfIters: Int, nSub: Int,
                                 nCodes: Int, iters: Int,
                                 dim: Int): IvfPqIndex = {
    val (cent, cb, codes, _) = indexCache.getOrBuild(
      (spark, d, tag, nlists, ivfIters, nSub, nCodes, iters, dim)) {
        // cent's LINEAGE is a full Lloyd iteration — persist so the
        // probe and LUT branches don't re-train it
        val (assign, cent0) = coarse()
        val cent = cent0.persist()
        // the residual relation feeds every Lloyd stage of the PQ chain
        // and the encode pass — materialized once (n×dim doubles)
        val resid = residuals(base, assign, cent).persist()
        val rb = resid.select(col("vec_id"), col("embedding"))
        val cb = Similarity.pqCodebook(rb, nSub, nCodes, iters, dim).persist()
        val codes = encode(resid, cb, nSub, dim).persist()
        // resid rides in the cached value so eviction unpersists it too
        (cent, cb, codes, resid)
      }
    IvfPqIndex(cent, cb, codes, nCodes, nSub, dim, None)
  }

  private val indexCache = new graft.SessionMemo[
    (SparkSession, String, String, Int, Int, Int, Int, Int, Int),
    (DataFrame, DataFrame, DataFrame, DataFrame)]("ivf_pq_index")

  /** Load and validate a published bundle; never trains — an absent or
    * torn store fails fast naming the path. */
  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val (cent, cb, codes, rotation, nCodes, nSub, dim) =
      IndexStore.loadIvfPq(spark, path)
    IvfPqIndex(cent, cb, codes, nCodes, nSub, dim, rotation)
  }

  /** INCREMENTAL APPEND to the bundle at `path`: arriving (vec_id,
    * embedding) vectors are encoded with the bundle's OWN trained
    * artifacts — rotated by its stored matrix iff it trained rotated,
    * coarse-assigned to the trained centroids by the exact training
    * argmin ([[Similarity.coarseAssign]]), residual-encoded against the
    * trained codebook — and join the store as a CAS generation
    * ([[IndexStore.appendIvfPqCodes]]: torn appends stay invisible,
    * concurrent writers abort). Nothing retrains, so serving the grown
    * bundle equals a one-shot encode with the same frozen artifacts.
    * vec_ids must be new to the store (the caller's contract). Returns
    * the grown index (codes = the committed manifest, read without a
    * further validation job). */
  def append(spark: SparkSession, path: String, vecs: DataFrame): IvfPqIndex = {
    // validates exactly the artifacts the encode reads, in one job
    // that also yields the trained dim
    val (cent, cb, rotation, meta, expected, dim) =
      IndexStore.loadIvfPqForAppend(spark, path)
    val nSub = meta.getAs[Int]("n_sub")
    // a vector of another width has a null distance to every centroid
    // and would silently drop out of the coarse assignment — fail the
    // write instead
    val arriving = vecs.select(col("vec_id"),
      when(size(col("embedding")) === dim, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"ivfpq bundle at $path: trained at dim=$dim, vec_id "),
          col("vec_id").cast("string"), lit(" has dim "),
          size(col("embedding")).cast("string")))).as("embedding"))
    val base = rotation.fold(arriving)(Similarity.rotateEmbeddings(spark, arriving, _))
    val resid = residuals(base, Similarity.coarseAssign(base,
      cent.select(col("list_id"), col("cemb"))), cent)
    val codes = IndexStore.appendIvfPqCodes(spark, encode(resid, cb, nSub, dim),
      path, meta, expected)
    IvfPqIndex(cent, cb, codes, meta.getAs[Int]("n_codes"), nSub, dim, rotation)
  }

  /** r = v − centroid(assigned cell), element-wise. */
  private def residuals(base: DataFrame, assign: DataFrame,
                        cent: DataFrame): DataFrame =
    base.join(assign, "vec_id")
      .join(broadcast(cent.select(col("list_id"), col("cemb"))), "list_id")
      .select(col("vec_id"), col("list_id"),
        zip_with(col("embedding").cast("array<double>"), col("cemb"),
          (x, y) => x - y).as("embedding"))

  /** Cell-tagged PQ codes of a residual relation. */
  private def encode(resid: DataFrame, cb: DataFrame, nSub: Int,
                     dim: Int): DataFrame =
    Similarity.pqAssign(
        Similarity.subvectors(resid.select(col("vec_id"), col("embedding")), nSub, dim), cb)
      .join(resid.select(col("vec_id"), col("list_id")), "vec_id")
}
