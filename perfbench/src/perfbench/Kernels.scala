package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of the engine's native kernels (the `plans` layer),
  * measured by calling each registered SQL function over a cached copy
  * of the workload's own input after the timed loop.
  *
  * The input frame has columns `s` (string), `x` (bigint) and `v`
  * (array<double>); it is replicated to at least [[MinRows]] rows so
  * the per-query constant does not swamp the per-row cost. */
object Kernels {
  val Names: Seq[String] = Seq("graft_hash_lo", "canonical_text", "hamming64",
    "dot_f64", "sqdist_f64", "cov_gram", "bitmap_state", "theta_state",
    "cms_state", "bloom_state")

  private val MinRows = 100000L
  /** cov_gram folds an exact-decimal dim×dim Gram per row: a few
    * hundred rows keep its query near the others' length. */
  private val CovRows = 250L
  private val Reps = 3

  private val Sql: Map[String, String] = Map(
    "graft_hash_lo"  -> "max(graft_hash_lo('k', s))",
    "canonical_text" -> "sum(length(canonical_text(s)))",
    "hamming64"      -> "sum(hamming64(x, lo))",
    "dot_f64"        -> "sum(dot_f64(v, v))",
    "sqdist_f64"     -> "sum(sqdist_f64(v, reverse(v)))",
    "cov_gram"       -> "size(cov_gram(v))",
    "bitmap_state"   -> "bitmap_card(bitmap_state(x))",
    "theta_state"    -> "theta_card(theta_state(lo))",
    "cms_state"      -> "cms_total(cms_state(lo, hi))",
    "bloom_state"    -> "bloom_bits_set(bloom_state(lo, hi))")

  /** ns per input row for each kernel (median of [[Reps]] runs). */
  def measure(spark: SparkSession, input: DataFrame, tracer: Tracer): Map[String, Double] = {
    val n0 = input.count()
    val copies = math.max(1L, (MinRows + n0 - 1) / math.max(1L, n0))
    val rows = spark.range(copies).toDF("c").crossJoin(input)
      .select(col("s"), (col("x") + col("c") * 1000003L).mod(1L << 20).as("x"),
        expr("graft_hash_lo(cast(c AS STRING), s)").as("lo"),
        expr("graft_hash_hi(cast(c AS STRING), s)").as("hi"),
        col("v"))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val few = rows.limit(CovRows.toInt).cache()
    val nRows = rows.count()
    val nFew = few.count()
    rows.createOrReplaceTempView("perfbench_kernel_input")
    few.createOrReplaceTempView("perfbench_kernel_input_few")
    try Names.map { k =>
      val (table, n) = if (k == "cov_gram") ("perfbench_kernel_input_few", nFew)
        else ("perfbench_kernel_input", nRows)
      val q = s"SELECT ${Sql(k)} FROM $table"
      spark.sql(q).collect() // compile the generated code outside the timing
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(s"plans.$k")(spark.sql(q).collect())
        (System.nanoTime() - t0).toDouble
      }
      k -> Harness.median(ts) / n
    }.toMap
    finally { few.unpersist(); rows.unpersist() }
  }

  /** Kernel input built from an events table: the event text fields,
    * the user key and a 64-wide unit-range vector derived from the
    * event value. */
  def fromEvents(events: DataFrame): DataFrame =
    events.select(concat_ws(" ", col("event_type"), col("props")).as("s"),
      col("user_id").as("x"),
      transform(sequence(lit(1), lit(64)), i => sin(col("value") + i)).as("v"))
}
