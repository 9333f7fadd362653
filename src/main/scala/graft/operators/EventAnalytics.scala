package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.ColumnFunctions.epochSeconds

/** Event-time windowed analytics over the `events` table — the batch
  * expressions of the reference's windowed stream jobs (SURVEY.md §2.5,
  * §2.6, §2.9). The same logical plans run in Structured Streaming via
  * graft.streaming (readStream + withWatermark); here they are the
  * oracle-checked batch forms.
  *
  * Reference mapping:
  *   - hotUsersTopN      ≅ hotItems/HotItems.scala (sliding window count
  *                         + per-windowEnd Top-N, reference lines 61-84)
  *   - pageViews         ≅ networkflow/analysis/PageView.scala:40-55
  *   - uniqueVisitors    ≅ networkflow/analysis/UniqueVisitor_02_Set.scala
  *   - uniqueVisitorsApprox ≅ UniqueVisitor_03_Bloom.scala (HLL++ replaces
  *                         the Redis bloom bitmap)
  *   - channelCounts     ≅ market/AppMarketingByChannel.scala:28-35
  *   - totalCounts       ≅ market/AppMarketingAllChannel.scala:25-35
  *   - clicksByKBucket   ≅ market/AdAnalysisByProvince_BlackList.scala:24-46
  *   - blacklist         ≅ market/z_FilterBlackListUser.scala:8-43 (the
  *                         corrected semantics, not the buggy first draft)
  *
  * Output conventions: window bounds surface as epoch-second BIGINT
  * (`window_end`), counts as BIGINT — both bit-identical in DuckDB.
  *
  * Scale notes: every query is a single shuffle (partial/final
  * HashAggregate on the group keys). Sliding windows expand each row
  * into window/slide rows *inside* the aggregate's first stage — the
  * shuffle carries only per-(window,key) partials, so a 100 TB scan
  * shuffles at most |windows|x|keys| partial rows. Top-N uses
  * row_number over (window_end) which Catalyst rewrites to
  * WindowGroupLimit (top-k pushed before the full sort; no global sort).
  */
object EventAnalytics {

  private def events(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)

  /** Top-N most active users per sliding window (1h window, 5m slide). */
  def hotUsersTopN(spark: SparkSession, d: String, n: Int = 5): DataFrame = {
    // the sliding window() Expand multiplies every event ×12 BEFORE the
    // aggregation exchange, so the whole expand+partial-agg stage runs
    // at the scan's split count — 1–2 tasks on a small/single-row-group
    // input (r18, guide §2.5): spread the pruned rows first; a no-op
    // once the events table has ≥ cores splits. The groupBy re-hashes
    // regardless, so results cannot change.
    val counted = graft.sources.Tables.spread(spark,
        events(spark, d).select(col("ts"), col("user_id")))
      .groupBy(window(col("ts"), "1 hour", "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("user_id"), col("cnt"))
    val rank = Window.partitionBy(col("window_end"))
      .orderBy(col("cnt").desc, col("user_id"))
    counted.withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= n)
  }

  def hotUsersTopNSql(n: Int = 5): String =
    s"""WITH expanded AS (
       |  SELECT user_id,
       |         CAST(floor(epoch(ts)/300) AS BIGINT)*300 + 300 + g.g*300 AS window_end
       |  FROM events CROSS JOIN generate_series(0, 11) AS g(g)
       |), counted AS (
       |  SELECT window_end, user_id, count(*) AS cnt
       |  FROM expanded GROUP BY window_end, user_id
       |)
       |SELECT window_end, user_id, cnt, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY window_end ORDER BY cnt DESC, user_id) AS rn
       |  FROM counted
       |) WHERE rn <= $n""".stripMargin

  /** Total page views per tumbling hour (reference PageView: behavior='pv';
    * here event_type='view'). The reference hand-salts this aggregation to
    * dodge hot-key skew (PageView.scala:42-68); Spark's partial/final
    * HashAggregate makes the salt unnecessary. */
  def pageViews(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("pv"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("pv"))

  val pageViewsSql: String =
    """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 + 3600 AS window_end,
      |       count(*) AS pv
      |FROM events WHERE event_type = 'view'
      |GROUP BY 1""".stripMargin

  /** Exact distinct users per tumbling day (reference UniqueVisitor_02:
    * Set-accumulator exact UV; Spark's count(DISTINCT) is the two-phase
    * exact form — no driver-side Set). */
  def uniqueVisitors(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .groupBy(window(col("ts"), "1 day"))
      .agg(countDistinct(col("user_id")).as("uv"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("uv"))

  val uniqueVisitorsSql: String =
    """SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 + 86400 AS window_end,
      |       count(DISTINCT user_id) AS uv
      |FROM events GROUP BY 1""".stripMargin

  /** Approximate distinct users per tumbling day — HyperLogLog++, the
    * idiomatic replacement for the reference's 128 MB Redis bloom bitmap
    * (UniqueVisitor_03_Bloom.scala:105-109). At 100 TB this is the only
    * sane UV: fixed-size sketch per window, mergeable map-side.
    * No oracle (sketch estimates are engine-specific) → rows-only check. */
  def uniqueVisitorsApprox(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("uv_approx"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("uv_approx"))

  /** Accuracy-contract twin of [[uniqueVisitorsApprox]] (VERDICT r12
    * #5 — retiring the engine's last `no_oracle` row): per daily
    * window, the EXACT distinct count (hash-matched by the oracle)
    * plus the pinned boolean `hll_within_3rsd` = |HLL++ estimate −
    * exact| ≤ 3·rsd·exact. The theta_calibration contract shape: the
    * oracle pins the boolean as literal TRUE, so an HLL++ estimate
    * drifting past its published 3-sigma relative-error bound is a
    * HASH FAILURE, not a silent quality regression. (The estimate
    * itself stays out of the hashed columns — sketch values are
    * engine-specific; the BOUND is the portable contract.) The
    * rows-only uniqueVisitorsApprox query remains as the estimate
    * surface. */
  def uvHllCalibration(spark: SparkSession, d: String,
                       rsd: Double = 0.01): DataFrame =
    events(spark, d)
      .groupBy(window(col("ts"), "1 day"))
      .agg(countDistinct(col("user_id")).as("uv"),
        approx_count_distinct(col("user_id"), rsd).as("est"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("uv"),
        (abs(col("est").cast("double") - col("uv")) <=
          col("uv") * lit(3 * rsd)).as("hll_within_3rsd"))

  val uvHllCalibrationSql: String =
    """SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 + 86400 AS window_end,
      |       count(DISTINCT user_id) AS uv, TRUE AS hll_within_3rsd
      |FROM events GROUP BY 1""".stripMargin

  /** Exact UV via the fixed-size-bitmap TypedImperativeAggregate
    * ([[graft.plans.BitmapDistinct]]) — the faithful form of the
    * reference's Redis-bitmap UV (UniqueVisitor_03_Bloom.scala:96-176),
    * with the bit index the id itself (exact for the bounded id
    * domain) and the bitmap carried in the agg buffer (merge = OR)
    * instead of an external store. Oracle: identical counts to
    * [[uniqueVisitors]].
    *
    * `capacityBits = 0` (the default, and what the query registration
    * uses) sizes the bitmap from ONE max(user_id) probe, rounded up to
    * a power of two (floor 2²⁰) — so a corpus with ids beyond the old
    * fixed 2²⁰ domain sizes up instead of failing the whole run
    * mid-query. The probe refuses CLEARLY at plan time past
    * [[MaxBitmapBits]] (2²⁸ bits = 32 MB per agg buffer — past that an
    * exact per-id bitmap is the wrong tool; use [[uniqueVisitors]]'
    * two-phase exact distinct or [[uniqueVisitorsApprox]]' HLL++). */
  def uniqueVisitorsBitmap(spark: SparkSession, d: String,
                           capacityBits: Int = 0): DataFrame = {
    val ev = events(spark, d)
    val cap =
      if (capacityBits > 0) capacityBits
      else {
        val maxId = Option(ev.agg(max(col("user_id"))).head.get(0))
          .map(_.toString.toLong).getOrElse(0L)
        require(maxId < MaxBitmapBits,
          s"uv_bitmap: max user_id $maxId exceeds the exact-bitmap cap " +
            s"$MaxBitmapBits — use uniqueVisitors (exact two-phase " +
            "distinct) or uniqueVisitorsApprox (HLL++) for this id domain")
        var c = 1 << 20
        while (c <= maxId) c <<= 1
        c
      }
    ev.groupBy(window(col("ts"), "1 day"))
      .agg(graft.plans.GraftFunctions.bitmapDistinct(col("user_id"), cap).as("uv"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("uv"))
  }

  /** Hard ceiling for the auto-sized exact bitmap: 2²⁸ bits = 32 MB
    * per aggregation buffer (shuffled per group partial). */
  val MaxBitmapBits: Long = 1L << 28

  /** Exact UV via the typed Set-buffer Aggregator (reference
    * UvCountAgg, UniqueVisitor_02_Set.scala:53-62) — same results as
    * [[uniqueVisitors]]' builtin count(DISTINCT), exercising the UDx
    * surface (graft.functions.Udx) through the DataFrame API. */
  def uniqueVisitorsUdaf(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.Udx.exactDistinct(col("user_id")).as("uv"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("uv"))

  /** Per-event-type average of the value column via the decimal-exact
    * typed Aggregator (reference MyAvgAgg, HotItems.scala:116-128). */
  def avgValueUdaf(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.Udx.decimalAvg(col("value")).as("avg_value"))

  val avgValueUdafSql: String =
    """SELECT event_type,
      |       CAST(CAST(sum(CAST("value" AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_value
      |FROM events GROUP BY 1""".stripMargin

  /** Counts by event type through the EXPLICIT two-phase salted
    * aggregation (reference PageView.scala:40-68's hand-rolled skew
    * dodge; see StreamingJobs.saltedCount for when it's still needed
    * on top of Spark's implicit partial aggregation). */
  def eventsByTypeSalted(spark: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingJobs.saltedCount(
      events(spark, d), Seq("event_type"), col("user_id"))

  val eventsByTypeSaltedSql: String =
    """SELECT event_type, count(*) AS cnt FROM events GROUP BY 1""".stripMargin

  /** Install/click counts by channel (reference AppMarketingByChannel:
    * keyBy(channel, behavior) + sliding window; here the event_type plays
    * the (channel, behavior) composite). Sliding 1h window, 10m slide.
    *
    * DELIBERATE parameter deviation: the reference slides every 5s
    * (AppMarketingByChannel.scala:30), i.e. 720 windows per row. That is
    * sane for a continuous stream emitting deltas but pathological as a
    * batch expansion (720x row blowup, 3.1M output windows over the
    * 30-day fixture). We keep the 1h window and widen the slide to 10m
    * (6 windows/row); the streaming wrapper (graft.streaming) takes
    * window/slide as parameters so the 5s form is available verbatim. */
  def channelCounts(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .groupBy(window(col("ts"), "1 hour", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("event_type"), col("cnt"))

  val channelCountsSql: String =
    """WITH expanded AS (
      |  SELECT event_type,
      |         CAST(floor(epoch(ts)/600) AS BIGINT)*600 + 600 + g.g*600 AS window_end
      |  FROM events CROSS JOIN generate_series(0, 5) AS g(g)
      |)
      |SELECT window_end, event_type, count(*) AS cnt
      |FROM expanded GROUP BY window_end, event_type""".stripMargin

  /** Global (all-channel) counts per tumbling hour (reference
    * AppMarketingAllChannel: keyBy("total") const key — in Spark a plain
    * global windowed aggregate, no artificial key needed). */
  def totalCounts(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("cnt"))

  val totalCountsSql: String =
    """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 + 3600 AS window_end,
      |       count(*) AS cnt
      |FROM events GROUP BY 1""".stripMargin

  /** Ad-click analysis by "province" (reference AdAnalysisByProvince:
    * clicks per province per window; the events table carries the
    * dimension inside the props JSON — extracted with a scalar regexp,
    * bucketed to 10 provinces). Tumbling 6h — deliberate deviation from
    * the reference's 1h/5s slide (AdAnalysisByProvince_BlackList.scala:43,
    * 720 windows/row; see channelCounts note). Window size is a
    * parameter of the underlying plan; the 5s-slide form runs in
    * streaming mode where it emits incrementally instead of expanding. */
  def clicksByKBucket(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .filter(col("event_type") === "click")
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
      .groupBy(window(col("ts"), "6 hours"), (col("k") % 10).as("province"))
      .agg(count(lit(1)).as("cnt"))
      .select(epochSeconds(col("window.end")).as("window_end"), col("province"), col("cnt"))

  val clicksByKBucketSql: String =
    """SELECT CAST(floor(epoch(ts)/21600) AS BIGINT)*21600 + 21600 AS window_end,
      |       CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 10 AS province,
      |       count(*) AS cnt
      |FROM events WHERE event_type = 'click'
      |GROUP BY 1, 2""".stripMargin

  /** Click-fraud blacklist (reference z_FilterBlackListUser: per
    * (userId, adId) click count over threshold → warn once). Batch form:
    * grouped count + HAVING. Key is (user_id, k-bucket). */
  def blacklist(spark: SparkSession, d: String, threshold: Long = 3): DataFrame =
    events(spark, d)
      .filter(col("event_type") === "click")
      .withColumn("ad_id", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int") % 10)
      .groupBy(col("user_id"), col("ad_id"))
      .agg(count(lit(1)).as("clicks"))
      .filter(col("clicks") > threshold)

  def blacklistSql(threshold: Long = 3): String =
    s"""SELECT user_id,
       |       CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) % 10 AS ad_id,
       |       count(*) AS clicks
       |FROM events WHERE event_type = 'click'
       |GROUP BY 1, 2
       |HAVING count(*) > $threshold""".stripMargin

  /** Per-user session windows (30-min inactivity gap) — the one
    * event-time window type the tumbling/sliding family doesn't cover:
    * Spark's native `session_window` merges events whose gap to the
    * running session end is < gap, closing the session at
    * last-event + gap. Works identically in Structured Streaming
    * (with a watermark bounding session state) — see the
    * StreamingSpec parity test. One (user, merged-window) aggregation
    * shuffle; session state is bounded per user, never corpus-wide.
    * Output times are epoch MICROSECONDS (exact integers — the ts
    * column carries sub-second precision, and the reference convention
    * of epoch seconds would truncate real session boundaries). */
  def sessionWindows(spark: SparkSession, d: String, gap: String = "30 minutes"): DataFrame =
    events(spark, d)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        graft.functions.ColumnFunctions.epochMicros(col("session_window.start")).as("session_start"),
        graft.functions.ColumnFunctions.epochMicros(col("session_window.end")).as("session_end"),
        col("n_events"))

  /** DuckDB twin of [[sessionWindows]]: the classic gaps-and-islands
    * form — a break flag where the gap to the previous event is >= gap
    * (Spark merges strictly-less-than; [ts, ts+gap) intervals touching
    * at a point do NOT merge), a running break-count as session id,
    * then per-(user, session) min/max/count. */
  def sessionWindowsSql(gapMicros: Long = 1800000000L): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us FROM events
       |), b AS (
       |  SELECT user_id, us,
       |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
       |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= $gapMicros
       |         THEN 1 ELSE 0 END AS brk
       |  FROM e
       |), s AS (
       |  SELECT user_id, us,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM b
       |)
       |SELECT user_id, min(us) AS session_start,
       |       max(us) + $gapMicros AS session_end, count(*) AS n_events
       |FROM s GROUP BY user_id, sid""".stripMargin

  /** Epoch-second hour bucket of the event time — ONE definition for
    * every hour-granular operator (cube/pivot/rollup/click_no_purchase)
    * and its SQL twin [[HourBucketSql]], so truncation semantics can
    * never drift between copies. */
  private def hourBucket: Column =
    (floor(epochSeconds(col("ts")) / 3600) * 3600).cast("long")

  /** DuckDB twin of [[hourBucket]]. */
  private val HourBucketSql = "CAST(floor(epoch(ts)/3600) AS BIGINT)*3600"

  /** Per-type hourly traffic anomalies — the operational monitoring
    * face of the hour-granular family: hourly counts per event_type,
    * each flagged against its type's own distribution with the
    * 2σ rule. Moments are DECIMAL-exact (Σcnt, Σcnt² folds; only the
    * final divisions/subtraction/sqrt are double, each correctly
    * rounded — the [[graft.operators.Similarity.embeddingDimStats]]
    * parity recipe, so flags are engine-identical; a constant-count
    * type can round var to a tiny negative → sqrt NaN → compare false
    * → no flag, identically in both engines). Two map-side-combined
    * aggregates ((type, hour), then type) and a broadcast-sized join
    * back — no windows, no skew. */
  def hourlyAnomalies(spark: SparkSession, d: String): DataFrame = {
    val hourly = events(spark, d)
      .withColumn("hour", hourBucket)
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("cnt"))
    val moments = hourly.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      (sum(col("cnt").cast("decimal(38,6)")).cast("double") / count(lit(1)))
        .as("mean"),
      // cast BEFORE squaring: cnt*cnt in int64 silently wraps past
      // cnt ≈ 3.04e9 (plausible hourly count at the 100 TB target)
      // while DuckDB raises — decimal×decimal keeps both engines exact
      ((sum(col("cnt").cast("decimal(38,6)") * col("cnt").cast("decimal(38,6)"))
        .cast("double") /
        count(lit(1))) -
        (sum(col("cnt").cast("decimal(38,6)")).cast("double") / count(lit(1))) *
        (sum(col("cnt").cast("decimal(38,6)")).cast("double") / count(lit(1))))
        .as("variance"))
    hourly.join(broadcast(moments), "event_type")
      .select(col("event_type"), col("hour"), col("cnt"), col("mean"),
        (abs(col("cnt").cast("double") - col("mean")) >
          lit(2.0) * sqrt(col("variance"))).as("is_anomaly"))
  }

  val hourlyAnomaliesSql: String =
    s"""WITH hourly AS (
      |  SELECT event_type, $HourBucketSql AS hour, count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(CAST(sum(CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS mean,
      |    CAST(CAST(sum(CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,6)) * CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*)
      |      - (CAST(CAST(sum(CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*))
      |        * (CAST(CAST(sum(CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*)) AS variance
      |  FROM hourly GROUP BY 1
      |)
      |SELECT h.event_type, h.hour, h.cnt, m.mean,
      |       abs(CAST(h.cnt AS DOUBLE) - m.mean) > 2.0 * sqrt(m.variance) AS is_anomaly
      |FROM hourly h JOIN m ON m.event_type = h.event_type""".stripMargin

  /** Multi-dimensional rollup: CUBE over (event_type, hour) — all four
    * grouping sets in ONE pass (Catalyst expands the cube map-side and
    * the partial aggregate combines before the single shuffle; no
    * union-of-four-queries). gid disambiguates subtotal rows from
    * genuine NULL keys, same bit convention (first column = high bit)
    * in Spark and DuckDB/Postgres. */
  def eventCube(spark: SparkSession, d: String): DataFrame =
    eventCubeFrom(events(spark, d))

  /** Plan builder — shared by batch and the foreachBatch streaming
    * face (see [[eventRollupFrom]]). */
  def eventCubeFrom(e: DataFrame): DataFrame =
    e.withColumn("hour", hourBucket)
      .cube(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"), grouping_id().cast("long").as("gid"))

  val eventCubeSql: String =
    s"""SELECT event_type,
      |       $HourBucketSql AS hour,
      |       count(*) AS cnt,
      |       CAST(GROUPING(event_type,
      |                     $HourBucketSql) AS BIGINT) AS gid
      |FROM events
      |GROUP BY CUBE (1, 2)""".stripMargin

  /** Event types pivoted to columns: one row per hour, one count column
    * per event type — the wide-format report shape (cross-tab). The
    * type list is STATIC (passed in, not discovered), which kills the
    * extra distinct-collect job Spark's `pivot(col)` otherwise runs
    * and keeps the plan a single map-side-combined aggregate whose
    * width is |types|, independent of data volume. */
  def eventPivot(spark: SparkSession, d: String,
                 types: Seq[String] = EventTypes): DataFrame =
    eventPivotFrom(events(spark, d), types)

  /** Plan builder — shared by batch and the foreachBatch streaming
    * face (see [[eventRollupFrom]]). */
  def eventPivotFrom(e: DataFrame, types: Seq[String] = EventTypes): DataFrame =
    e.withColumn("hour", hourBucket)
      .groupBy("hour")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)

  /** The five event types of the synthetic `events` table (TESTDATA.md;
    * pinned so pivot plans and oracles agree on column order). */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  val eventPivotSql: String =
    s"""SELECT $HourBucketSql AS hour,
      |       count(*) FILTER (WHERE event_type = 'click')    AS click,
      |       count(*) FILTER (WHERE event_type = 'error')    AS error,
      |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
      |       count(*) FILTER (WHERE event_type = 'view')     AS view
      |FROM events GROUP BY 1""".stripMargin

  /** ROLLUP along the (event_type → hour) hierarchy: per-type-per-hour,
    * per-type, and grand-total rows in one pass — the drill-down
    * companion to [[eventCube]]'s full cross-product. Same scale shape
    * as any groupBy: grouping-set expansion happens inside the partial
    * aggregate, the shuffle carries only per-set partials. The measure
    * set adds an exact distinct-user count (one extra expand), which
    * cube deliberately omits. */
  def eventRollup(spark: SparkSession, d: String): DataFrame =
    eventRollupFrom(events(spark, d))

  /** Plan builder over an events-shaped relation — the ONE logical
    * plan behind both the batch query and the foreachBatch streaming
    * face ([[graft.streaming.StreamingJobs.snapshotUpdate]]): rollup +
    * exact countDistinct are batch-only aggregates, so the streaming
    * mode re-applies this same builder to the accumulated snapshot
    * each micro-batch. */
  def eventRollupFrom(e: DataFrame): DataFrame =
    e.withColumn("hour", hourBucket)
      .rollup(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("users"),
        grouping_id().cast("long").as("gid"))

  /** Epoch-DAY key of the event time — the coarse stable partition key
    * the retention-bounded streaming faces hang on
    * ([[graft.streaming.StreamingJobs.snapshotUpdatePartitioned]]).
    * Functionally determined by [[hourBucket]] (86400 | hour bucket
    * boundaries), which is exactly the decomposability contract: every
    * hour-grained leaf row derives from one day's rows. Public so the
    * stream side can pre-compute the SAME key it partitions on. */
  def dayKey(ts: Column): Column =
    floor(epochSeconds(ts) / 86400).cast("long")

  /** Daily LEAF grain behind the retention-partitioned faces of
    * [[eventRollupFrom]]/[[eventCubeFrom]]: one row per
    * (day, event_type, hour, user-id SHARD) with the count AND the
    * exact user bitmap of the shard's LOCAL ids
    * ([[graft.plans.BitmapState]] — mergeable distinct state as data).
    * Ids are split as (id >> 20, id & 0xFFFFF) — exactly
    * [[retentionCohortsFrom]]'s move (VERDICT r10 #1) — so the leaf
    * grain's id domain is UNBOUNDED: cardinality beyond one 128 KiB
    * buffer lands in more shard rows, never in a bigger buffer (the
    * reference's own UV sizing assumption is 10⁸ users,
    * UniqueVisitor_03_Bloom.scala:105-109 — raw ids would fail fast at
    * ~10⁶). Decomposable along `day` by construction, so
    * `snapshotUpdatePartitioned` recomputes only touched days; every
    * grouping-set row ABOVE the day grain (per-type subtotals, grand
    * totals, per-hour cube slices) folds on the serving side from
    * these leaves — sums for counts, per-shard OR+popcount summed over
    * shards for exact distinct users (shards partition the id space,
    * so popcounts add exactly — [[graft.streaming.ServingFolds]]).
    * This is the stage split the topNUpdate face documents:
    * non-incremental aggregates move to the serving fold, the stream
    * keeps the decomposable grain. */
  def eventDailyLeafFrom(e: DataFrame): DataFrame =
    e.withColumn("hour", hourBucket)
      .withColumn("day", dayKey(col("ts")))
      .groupBy(col("day"), col("event_type"), col("hour"),
        shiftright(col("user_id"), RetentionShardBits).as("shard"))
      .agg(count(lit(1)).as("cnt"),
        graft.plans.GraftFunctions.bitmapState(
          col("user_id").bitwiseAND(lit((1L << RetentionShardBits) - 1)))
          .as("users_bm"))

  /** Oracle-facing face of [[eventDailyLeafFrom]]: the leaf grain
    * re-aggregated to (day, event_type, hour) with the shard bitmaps
    * materialized back to the exact distinct count — counts sum, and
    * per-shard popcounts sum because the shards partition the id space
    * (`Σ_shard bitmap_card ∘ bitmap_state` ≡ `count(DISTINCT)`), so
    * DuckDB hash-verifies the whole sharded sketch-as-column path
    * end-to-end. */
  def eventDailyLeaf(spark: SparkSession, d: String): DataFrame =
    eventDailyLeafFrom(events(spark, d))
      .groupBy("day", "event_type", "hour")
      .agg(sum(col("cnt")).as("cnt"),
        sum(graft.plans.GraftFunctions.bitmapCard(col("users_bm"))).as("users"))
      .select(col("day"), col("event_type"), col("hour"), col("cnt"),
        col("users"))

  val eventDailyLeafSql: String =
    s"""SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
      |       event_type,
      |       $HourBucketSql AS hour,
      |       count(*) AS cnt,
      |       count(DISTINCT user_id) AS users
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** Cohort offsets (days) reported by [[retentionCohorts]]: next-day
    * and next-week retention, the standard product-analytics pair. */
  val RetentionOffsets: Seq[Long] = Seq(1L, 7L)

  /** Bits of user-id space per retention shard: each shard's local id
    * fits one [[graft.plans.BitmapState]] buffer at its default
    * capacity (2^20 bits = 128 KiB ceiling). */
  private[graft] val RetentionShardBits = 20

  /** Day-over-day cohort retention, EXACT, via sharded bitmap-state
    * set intersection: for each day d and offset k, how many of day
    * d's active users were active again on day d+k, and what fraction.
    *
    * The set-operation half of the sketch-as-column idiom (public in
    * ClickHouse groupBitmapAnd and Druid bitmap intersections), and the
    * batch twin of the reference's Redis-bitmap UV state
    * (hong/networkflow/analysis/UniqueVisitor_03_Bloom.scala:62-92 —
    * there the bitmap answered ONE day's cardinality; held as data it
    * also answers every cross-day intersection without re-scanning
    * events).
    *
    * Shape: ONE event-volume shuffle builds per-(day, user-id-shard)
    * exact bitmaps (map-side OR combine, ≤128 KiB per cell); ids are
    * split as (id >> 20, id & 0xFFFFF) so the exact-bitmap domain is
    * UNBOUNDED — cardinality beyond one buffer's capacity lands in
    * more shards, never in a bigger buffer. Everything after runs on
    * the days × shards bitmap relation — O(users/8) bytes per day
    * regardless of event volume — self-joined shard-aligned at +k
    * days (AQE-chosen: broadcast while it fits, shard-aligned shuffle
    * join at extreme user-day volumes), one codegen'd AND+popcount
    * per row pair, then a days × offsets aggregate. At 100 TB the
    * event scan dominates end-to-end. */
  def retentionCohorts(spark: SparkSession, d: String): DataFrame =
    retentionCohortsFrom(events(spark, d))

  /** [[retentionCohorts]] over any frame with (ts TIMESTAMP,
    * user_id BIGINT) — the face the multi-shard tests drive with ids
    * crossing the 2^20 shard boundary. */
  def retentionCohortsFrom(ev: DataFrame): DataFrame =
    retentionServe(dailyShardBitmaps(ev))

  /** The (day, shard, bm) daily-bitmap relation every bitmap serving
    * query starts from — from an event scan here; the leaf-store
    * faces derive the SAME relation by OR-folding stored leaves. */
  private def dailyShardBitmaps(ev: DataFrame): DataFrame = {
    import graft.plans.GraftFunctions.bitmapState
    ev.groupBy(
        dayKey(col("ts")).as("day"),
        shiftright(col("user_id"), RetentionShardBits).as("shard"))
      .agg(bitmapState(
        col("user_id").bitwiseAND(lit((1L << RetentionShardBits) - 1))).as("bm"))
  }

  /** The cohort-retention serve-fold over a (day, shard, bm) relation
    * — shared by the event-scan and leaf-store faces. */
  private def retentionServe(daily: DataFrame): DataFrame = {
    import graft.plans.GraftFunctions.{bitmapAndCard, bitmapCard}
    val cohorts = daily.groupBy("day")
      .agg(sum(bitmapCard(col("bm"))).as("cohort_users"))

    val later = daily.select(
      col("day").as("rday"), col("shard").as("rshard"), col("bm").as("rbm"))

    // no broadcast hint on the bitmap relation: it is O(users/8) bytes
    // per day (users/2^20 shards × ≤128 KiB), tiny at most scales but
    // past any broadcast limit at extreme user-day volumes — AQE picks
    // broadcast when it fits and a shard-aligned shuffle join beyond
    val retained = daily
      .withColumn("offset_days", explode(array(RetentionOffsets.map(lit): _*)))
      .join(later,
        col("rday") === col("day") + col("offset_days") &&
          col("rshard") === col("shard"), "left")
      .groupBy("day", "offset_days")
      .agg(sum(coalesce(bitmapAndCard(col("bm"), col("rbm")), lit(0L)))
        .as("retained_users"))

    retained.join(broadcast(cohorts), Seq("day"))
      .select(col("day"), col("offset_days"), col("cohort_users"),
        col("retained_users"),
        (col("retained_users") / col("cohort_users")).as("retention_rate"))
  }

  val retentionCohortsSql: String =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
      |  FROM events
      |),
      |cohorts AS (SELECT day, count(*) AS cohort_users FROM daily GROUP BY 1),
      |offsets AS (SELECT CAST(1 AS BIGINT) AS offset_days
      |            UNION ALL SELECT CAST(7 AS BIGINT)),
      |ret AS (
      |  SELECT a.day, o.offset_days, count(b.user_id) AS retained_users
      |  FROM daily a
      |  CROSS JOIN offsets o
      |  LEFT JOIN daily b
      |    ON b.user_id = a.user_id AND b.day = a.day + o.offset_days
      |  GROUP BY 1, 2
      |)
      |SELECT r.day, r.offset_days, c.cohort_users, r.retained_users,
      |       r.retained_users / CAST(c.cohort_users AS DOUBLE) AS retention_rate
      |FROM ret r JOIN cohorts c USING (day)""".stripMargin

  /** Trailing window (days) for [[rollingActiveUsers]]: weekly active
    * users, the standard engagement metric. */
  val RollingActiveWindowDays = 7

  /** Rolling exact distinct actives (WAU): for each day with data, the
    * number of distinct users active in the trailing
    * [[RollingActiveWindowDays]]-day window, plus how many of those
    * days actually had data (short windows at series start surface
    * honestly instead of deflating the metric silently).
    *
    * The union twin of [[retentionCohorts]], on the same sharded
    * daily-bitmap relation: a distinct count across a SLIDING window
    * cannot partial-aggregate from per-day counts (distincts don't
    * sum), but it IS an OR-fold over per-day bitmaps — the new
    * `bitmap_merge_card` aggregate. Shape: one event-volume shuffle
    * builds (day, shard) bitmaps; each fans out to the ≤7 serve-days
    * it covers (KiB rows × 7, not event rows × 7); per-(serve_day,
    * shard) OR-fold, then a sum over shards. Every post-scan relation
    * is O(days · users/2^20) — volume-independent, exact at any id
    * cardinality. */
  def rollingActiveUsers(spark: SparkSession, d: String): DataFrame =
    rollingActiveUsersFrom(events(spark, d))

  /** [[rollingActiveUsers]] over any (ts TIMESTAMP, user_id BIGINT)
    * frame — the multi-shard test face. */
  def rollingActiveUsersFrom(ev: DataFrame): DataFrame = {
    import graft.plans.GraftFunctions.bitmapState
    rollingActiveServe(ev
      .groupBy(
        dayKey(col("ts")).as("day"),
        shiftright(col("user_id"), RetentionShardBits).as("shard"))
      .agg(bitmapState(
        col("user_id").bitwiseAND(lit((1L << RetentionShardBits) - 1))).as("bm")))
  }

  /** The WAU serve-fold over a (day, shard, bm) daily-bitmap relation
    * — shared by the event-scan face ([[rollingActiveUsersFrom]]) and
    * the leaf-store face ([[rollingActiveUsersFromStore]]). */
  private def rollingActiveServe(daily: DataFrame): DataFrame = {
    import graft.plans.GraftFunctions.bitmapMergeCard
    // a day's bitmap serves the window of every day in [day, day+6]
    val fanned = daily
      .withColumn("off", explode(array((0 until RollingActiveWindowDays)
        .map(i => lit(i.toLong)): _*)))
      .withColumn("serve_day", col("day") + col("off"))
      .drop("off")
    // …but only days that themselves have data are reported
    val present = daily.select(col("day").as("serve_day")).distinct()
    val windowRows = fanned.join(broadcast(present), Seq("serve_day"))

    val users = windowRows
      .groupBy("serve_day", "shard")
      .agg(bitmapMergeCard(col("bm")).as("card"))
      .groupBy("serve_day")
      .agg(sum("card").as("active_users"))
    val cover = windowRows
      .groupBy("serve_day")
      .agg(countDistinct(col("day")).as("days_covered"))

    users.join(broadcast(cover), Seq("serve_day"))
      .select(col("serve_day").as("day"), col("days_covered"),
        col("active_users"))
  }

  /** Acquisition-cohort retention matrix (the classic "triangle"):
    * group users by the day they were FIRST seen, then for each cohort
    * and age (days since first seen) count how many of the cohort were
    * active — the signup-cohort complement of the activity-pair
    * [[retentionCohorts]]. Exact, no sketches needed: after the
    * per-(day, user) distinct, each user contributes at most one row
    * per (cohort_day, age_days), so `count(*)` IS the distinct count.
    *
    * Shape: distinct (day, user) pairs (one event-volume shuffle with
    * partial dedup), a user-keyed min-day aggregate, a user-keyed join
    * back (AQE co-partitions the chain on the shared key — same plan
    * family as funnel's user-keyed hops), then a cohort × age
    * aggregate over user-day rows. All shuffles carry at most one row
    * per user-day — 100 TB of events reduce to users × active-days
    * rows after stage one. */
  def acquisitionCohorts(spark: SparkSession, d: String): DataFrame = {
    val daily = events(spark, d)
      .select(dayKey(col("ts")).as("day"), col("user_id")).distinct()
    val firstSeen = daily.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = firstSeen.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    daily.join(firstSeen, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("age_days"), col("cohort_size"),
        col("active_users"),
        (col("active_users") / col("cohort_size")).as("retention_rate"))
  }

  val acquisitionCohortsSql: String =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
      |  FROM events
      |),
      |first_seen AS (
      |  SELECT user_id, min(day) AS cohort_day FROM daily GROUP BY 1
      |),
      |sizes AS (
      |  SELECT cohort_day, count(*) AS cohort_size FROM first_seen GROUP BY 1
      |)
      |SELECT f.cohort_day, d.day - f.cohort_day AS age_days, s.cohort_size,
      |       count(*) AS active_users,
      |       count(*) / CAST(s.cohort_size AS DOUBLE) AS retention_rate
      |FROM daily d
      |JOIN first_seen f USING (user_id)
      |JOIN sizes s USING (cohort_day)
      |GROUP BY 1, 2, 3""".stripMargin

  val rollingActiveUsersSql: String =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
      |  FROM events
      |)
      |SELECT d.day,
      |       count(DISTINCT e.day) AS days_covered,
      |       count(DISTINCT e.user_id) AS active_users
      |FROM (SELECT DISTINCT day FROM daily) d
      |JOIN daily e ON e.day BETWEEN d.day - 6 AND d.day
      |GROUP BY 1""".stripMargin

  /** Day-over-day audience churn, EXACT, via the completed bitmap set
    * algebra (AND / OR / ANDNOT — [[graft.plans.BitmapAndNotCard]] is
    * the new leg): for each day with data, the distinct actives, how
    * many were NOT active the previous day (new_users), how many were
    * (retained_users), and how many of the PREVIOUS day's actives went
    * missing (churned_users). The classic new/retained/churned
    * decomposition, answered without an anti-join over the event
    * volume: once distinct-user state is sharded bitmap data (the
    * [[retentionCohortsFrom]] relation), churn is one ANDNOT popcount
    * per (day, shard) row pair.
    *
    * Shape: one event-volume shuffle into (day, shard) bitmaps;
    * everything after runs on the days × shards KiB-row relation —
    * a shard-aligned self-join at −1 day (full outer: a shard may
    * exist only yesterday — its users all churned — or only today —
    * all new), filtered to days that themselves have data, then four
    * codegen'd popcounts per row. Exact at any id cardinality (the
    * sharded grain), volume-independent after the scan. */
  def userChurn(spark: SparkSession, d: String): DataFrame =
    userChurnFrom(events(spark, d))

  /** [[userChurn]] over any (ts TIMESTAMP, user_id BIGINT) frame —
    * the multi-shard test face. */
  def userChurnFrom(ev: DataFrame): DataFrame =
    churnServe(dailyShardBitmaps(ev))

  /** The churn-decomposition serve-fold over a (day, shard, bm)
    * relation — shared by the event-scan and leaf-store faces. */
  private def churnServe(daily: DataFrame): DataFrame = {
    import graft.plans.GraftFunctions.{bitmapAndCard, bitmapAndNotCard, bitmapCard}
    val prev = daily.select((col("day") + 1).as("day"), col("shard"),
      col("bm").as("pbm"))
    val present = daily.select("day").distinct()
    // missing side of the full outer ⇒ the empty set, so the popcount
    // kernels see a zero-length bitmap (all-new / all-churned shards)
    val empty = lit(Array.emptyByteArray)
    daily.join(prev, Seq("day", "shard"), "full_outer")
      .join(broadcast(present), Seq("day"))
      .select(col("day"), coalesce(col("bm"), empty).as("bm"),
        coalesce(col("pbm"), empty).as("pbm"))
      .groupBy("day")
      .agg(
        sum(bitmapCard(col("bm"))).as("active_users"),
        sum(bitmapAndNotCard(col("bm"), col("pbm"))).as("new_users"),
        sum(bitmapAndCard(col("bm"), col("pbm"))).as("retained_users"),
        sum(bitmapAndNotCard(col("pbm"), col("bm"))).as("churned_users"))
  }

  val userChurnSql: String =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
      |  FROM events
      |),
      |stats AS (
      |  SELECT d.day,
      |         count(*) AS active_users,
      |         count(CASE WHEN p.user_id IS NULL THEN 1 END) AS new_users,
      |         count(p.user_id) AS retained_users
      |  FROM daily d
      |  LEFT JOIN daily p ON p.user_id = d.user_id AND p.day = d.day - 1
      |  GROUP BY 1
      |),
      |chu AS (
      |  SELECT y.day + 1 AS day, count(*) AS churned_users
      |  FROM daily y
      |  LEFT JOIN daily n ON n.user_id = y.user_id AND n.day = y.day + 1
      |  WHERE n.user_id IS NULL
      |  GROUP BY 1
      |)
      |SELECT s.day, s.active_users, s.new_users, s.retained_users,
      |       coalesce(c.churned_users, 0) AS churned_users
      |FROM stats s LEFT JOIN chu c USING (day)""".stripMargin

  /** Pairwise audience overlap between event types per day, EXACT —
    * |A|, |B|, |A ∩ B|, |A ∪ B| and Jaccard for every same-day type
    * pair, from the same sharded bitmap relation (segment-overlap /
    * audience-intersection, the cross-SEGMENT twin of the cross-DAY
    * [[retentionCohortsFrom]]). Intersections come from a shard-aligned
    * self-join (shards present in only one side contribute 0); unions
    * by inclusion–exclusion from the per-type sizes, so no union fold
    * is needed and type pairs sharing NO shard still report their
    * disjoint union. Post-scan relations are O(days · types · shards)
    * KiB rows. */
  def audienceOverlap(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.{bitmapAndCard, bitmapCard, bitmapState}
    val typed = events(spark, d)
      .groupBy(
        dayKey(col("ts")).as("day"), col("event_type"),
        shiftright(col("user_id"), RetentionShardBits).as("shard"))
      .agg(bitmapState(
        col("user_id").bitwiseAND(lit((1L << RetentionShardBits) - 1))).as("bm"))
    val sizes = typed.groupBy("day", "event_type")
      .agg(sum(bitmapCard(col("bm"))).as("users"))
    val inter = typed.as("a").join(typed.as("b"),
        col("a.day") === col("b.day") && col("a.shard") === col("b.shard") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.day").as("day"), col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(sum(bitmapAndCard(col("a.bm"), col("b.bm"))).as("common_users"))
    val base = sizes.as("x").join(sizes.as("y"),
        col("x.day") === col("y.day") &&
          col("x.event_type") < col("y.event_type"))
      .select(col("x.day").as("day"), col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"), col("x.users").as("users_a"),
        col("y.users").as("users_b"))
    base.join(inter, Seq("day", "type_a", "type_b"), "left")
      .withColumn("common_users", coalesce(col("common_users"), lit(0L)))
      .withColumn("union_users",
        col("users_a") + col("users_b") - col("common_users"))
      .withColumn("jaccard", col("common_users") / col("union_users"))
      .select("day", "type_a", "type_b", "users_a", "users_b",
        "common_users", "union_users", "jaccard")
  }

  val audienceOverlapSql: String =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
      |         event_type, user_id
      |  FROM events
      |),
      |sizes AS (SELECT day, event_type, count(*) AS users FROM daily GROUP BY 1, 2),
      |inter AS (
      |  SELECT a.day, a.event_type AS type_a, b.event_type AS type_b,
      |         count(*) AS common_users
      |  FROM daily a
      |  JOIN daily b ON b.day = a.day AND b.user_id = a.user_id
      |              AND a.event_type < b.event_type
      |  GROUP BY 1, 2, 3
      |)
      |SELECT x.day, x.event_type AS type_a, y.event_type AS type_b,
      |       x.users AS users_a, y.users AS users_b,
      |       coalesce(i.common_users, 0) AS common_users,
      |       x.users + y.users - coalesce(i.common_users, 0) AS union_users,
      |       coalesce(i.common_users, 0)
      |         / CAST(x.users + y.users - coalesce(i.common_users, 0) AS DOUBLE)
      |         AS jaccard
      |FROM sizes x
      |JOIN sizes y ON y.day = x.day AND x.event_type < y.event_type
      |LEFT JOIN inter i
      |  ON i.day = x.day AND i.type_a = x.event_type AND i.type_b = y.event_type""".stripMargin

  /** Relative-error tolerance of the theta accuracy-contract queries:
    * generous vs the k = 4096 default's ~1.6 % RSE, and trivially met
    * in exact mode (≤ k distinct ids per group, which holds at every
    * test SF — estimation mode is pinned by [[thetaCalibration]] and
    * the randomized PropertiesSpec bounds instead). */
  private[operators] val ThetaTol = 0.15

  /** Daily UV through the theta sketch, as an ACCURACY CONTRACT the
    * hash gate actually verifies: per day, the exact distinct count
    * plus a boolean asserting the sketch estimate landed within
    * [[ThetaTol]] of it. The estimate is deterministic (fixed SplitMix64
    * hash), so the booleans are stable facts — the oracle's literal
    * TRUE column makes a drifting estimator a HASH FAILURE, not a
    * silent degradation. This is the unbounded-domain answer to the
    * reference's Redis bloom UV (UniqueVisitor_03_Bloom.scala:96-176)
    * with quantified error, complementing the HLL++ row
    * (rows-only by design) with a hash-green twin. */
  def uvThetaDaily(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.{thetaCard, thetaState}
    events(spark, d).groupBy(dayKey(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("users"),
        thetaCard(thetaState(col("user_id"))).as("est"))
      .select(col("day"), col("users"),
        (abs(col("est") - col("users")) <= col("users") * ThetaTol)
          .as("within_tol"))
  }

  val uvThetaDailySql: String =
    """SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
      |       count(DISTINCT user_id) AS users,
      |       TRUE AS within_tol
      |FROM events GROUP BY 1""".stripMargin

  /** Cohort retention through theta-sketch INTERSECTION, as an
    * accuracy contract against the exact sharded-bitmap path: per
    * (day, offset), the exact cohort/retained counts (from
    * [[retentionCohortsFrom]]) plus booleans asserting the sketch
    * estimates landed within tolerance. One unsharded 32 KiB sketch
    * per day replaces the per-shard bitmaps — the trade the theta
    * family exists for: O(k) state at any id cardinality, ~1/√k
    * error. The retained bound scales with the cohort (the
    * theta-framework error bound for intersections scales with the
    * union, which the cohort bounds from below within 2×). */
  def retentionTheta(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.{thetaAndCard, thetaCard, thetaState}
    val daily = events(spark, d)
      .groupBy(dayKey(col("ts")).as("day"))
      .agg(thetaState(col("user_id")).as("sk"))
    val later = daily.select(col("day").as("rday"), col("sk").as("rsk"))
    val est = daily
      .withColumn("offset_days", explode(array(RetentionOffsets.map(lit): _*)))
      .join(later, col("rday") === col("day") + col("offset_days"), "left")
      .select(col("day"), col("offset_days"),
        thetaCard(col("sk")).as("cohort_est"),
        coalesce(thetaAndCard(col("sk"), col("rsk")), lit(0.0)).as("retained_est"))
    retentionCohorts(spark, d).drop("retention_rate")
      .join(est, Seq("day", "offset_days"))
      .select(col("day"), col("offset_days"), col("cohort_users"),
        col("retained_users"),
        (abs(col("cohort_est") - col("cohort_users"))
          <= col("cohort_users") * ThetaTol).as("cohort_ok"),
        (abs(col("retained_est") - col("retained_users"))
          <= (col("cohort_users") + lit(1L)) * ThetaTol).as("retained_ok"))
  }

  val retentionThetaSql: String =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
      |  FROM events
      |),
      |cohorts AS (SELECT day, count(*) AS cohort_users FROM daily GROUP BY 1),
      |offsets AS (SELECT CAST(1 AS BIGINT) AS offset_days
      |            UNION ALL SELECT CAST(7 AS BIGINT)),
      |ret AS (
      |  SELECT a.day, o.offset_days, count(b.user_id) AS retained_users
      |  FROM daily a
      |  CROSS JOIN offsets o
      |  LEFT JOIN daily b
      |    ON b.user_id = a.user_id AND b.day = a.day + o.offset_days
      |  GROUP BY 1, 2
      |)
      |SELECT r.day, r.offset_days, c.cohort_users, r.retained_users,
      |       TRUE AS cohort_ok, TRUE AS retained_ok
      |FROM ret r JOIN cohorts c USING (day)""".stripMargin

  /** Synthetic-cardinality points for [[thetaCalibration]] — sized to
    * force ESTIMATION mode (n ≫ k = 256) across two decades. */
  val ThetaCalibrationSizes: Seq[Long] = Seq(2000L, 20000L, 200000L)

  /** Estimation-mode calibration of the whole theta algebra, hash-
    * checked: two overlapping id ranges A = [0, n) and B = [n/2, 3n/2)
    * are sketched at a deliberately small k = 256 (all three sizes sit
    * well past it), and each estimator — card, intersection (= n/2),
    * union (= 3n/2), difference (= n/2) — must land within its bound
    * (4/√k for card/union; set-difference/intersection compound two
    * samples, so 1.6×). Deterministic given the fixed hash, so the
    * oracle is a literal TRUE table: an estimator regression is a hash
    * failure. The randomized PropertiesSpec twin establishes the same
    * bounds over many draws; this pins the fixed-hash instances the
    * production queries will actually see. */
  def thetaCalibration(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions._
    val k = 256
    val cardTol = 4.0 / math.sqrt(k)
    val setTol = cardTol * 1.6
    ThetaCalibrationSizes.map { n =>
      val half = n / 2
      val a = spark.range(n).agg(thetaState(col("id"), k).as("sa"))
      val b = spark.range(half, n + half).agg(thetaState(col("id"), k).as("sb"))
      a.crossJoin(broadcast(b)).select(
        lit(n).as("n"),
        (abs(thetaCard(col("sa")) - n) <= n * cardTol).as("card_ok"),
        (abs(thetaAndCard(col("sa"), col("sb")) - half) <= half * setTol)
          .as("inter_ok"),
        (abs(thetaOrCard(col("sa"), col("sb")) - (n + half))
          <= (n + half) * cardTol).as("union_ok"),
        (abs(thetaAndNotCard(col("sa"), col("sb")) - half) <= half * setTol)
          .as("diff_ok"))
    }.reduce(_ unionAll _)
  }

  val thetaCalibrationSql: String =
    ThetaCalibrationSizes.map(n =>
      s"SELECT CAST($n AS BIGINT) AS n, TRUE AS card_ok, TRUE AS inter_ok, " +
        "TRUE AS union_ok, TRUE AS diff_ok")
      .mkString("\nUNION ALL\n")

  /** Daily value quantiles through the bottom-k sample
    * ([[graft.plans.QSampleState]] — mergeable quantile state as data),
    * as an accuracy contract: per day, the exact row count plus
    * booleans asserting each sample quantile landed within
    * [[ThetaTol]]·(p90−p10) of the EXACT Spark `percentile`, and the
    * KMV row-count estimate within [[ThetaTol]]. Only the count and
    * the booleans are emitted — no cross-engine float comparison — so
    * the oracle's literal TRUE columns make a drifting estimator a
    * hash failure. In exact mode (≤ k rows/day, every test SF) the
    * sample quantile EQUALS the exact percentile by construction;
    * estimation mode is pinned by [[valueQuantilesByType]] at sf0.1
    * and [[qsampleCalibration]]. */
  def valueQuantilesDaily(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.{qsampleCount, qsampleQuantile, qsampleState}
    val sk = qsampleState(col("event_id"), col("value"))
    events(spark, d).groupBy(dayKey(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, array(0.10, 0.25, 0.50, 0.90))").as("ex"),
        sk.as("sk"))
      .withColumn("spread", col("ex")(3) - col("ex")(0) + lit(1e-9))
      .select(col("day"), col("n"),
        (abs(qsampleQuantile(col("sk"), 0.25) - col("ex")(1))
          <= col("spread") * ThetaTol).as("p25_ok"),
        (abs(qsampleQuantile(col("sk"), 0.50) - col("ex")(2))
          <= col("spread") * ThetaTol).as("p50_ok"),
        (abs(qsampleQuantile(col("sk"), 0.90) - col("ex")(3))
          <= col("spread") * ThetaTol).as("p90_ok"),
        (abs(qsampleCount(col("sk")) - col("n"))
          <= col("n") * ThetaTol).as("count_ok"))
  }

  val valueQuantilesDailySql: String =
    """SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
      |       count(*) AS n,
      |       TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p90_ok,
      |       TRUE AS count_ok
      |FROM events GROUP BY 1""".stripMargin

  /** Per-type value quantiles by FOLDING per-(type, day) samples with
    * [[graft.plans.QSampleMerge]] — the serving-fold move for
    * non-decomposable quantiles, as an accuracy contract. At sf0.1 the
    * per-type row counts (~20k) exceed k = 4096, so this query runs the
    * sample in genuine ESTIMATION mode against the exact percentile
    * computed from the raw rows. Two-stage on purpose: the leaf grain
    * is what a retention-partitioned streaming face would maintain;
    * the type grain is the fold a serving layer would run. */
  def valueQuantilesByType(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.{qsampleCount, qsampleMerge, qsampleQuantile, qsampleState}
    val leaves = events(spark, d)
      .groupBy(col("event_type"), dayKey(col("ts")).as("day"))
      .agg(qsampleState(col("event_id"), col("value")).as("sk"),
        count(lit(1)).as("cnt"))
    val folded = leaves.groupBy("event_type")
      .agg(qsampleMerge(col("sk")).as("sk"), sum(col("cnt")).as("n"))
    val exact = events(spark, d).groupBy("event_type")
      .agg(expr("percentile(value, array(0.10, 0.50, 0.90))").as("ex"))
    folded.join(broadcast(exact), Seq("event_type"))
      .withColumn("spread", col("ex")(2) - col("ex")(0) + lit(1e-9))
      .select(col("event_type"), col("n"),
        (abs(qsampleQuantile(col("sk"), 0.50) - col("ex")(1))
          <= col("spread") * ThetaTol).as("p50_ok"),
        (abs(qsampleCount(col("sk")) - col("n"))
          <= col("n") * ThetaTol).as("count_ok"))
  }

  val valueQuantilesByTypeSql: String =
    """SELECT event_type, count(*) AS n, TRUE AS p50_ok, TRUE AS count_ok
      |FROM events GROUP BY 1""".stripMargin

  /** SKETCH daily leaf grain — the approximate-family twin of
    * [[eventDailyLeafFrom]]: one row per day carrying the theta sketch
    * of the day's user ids (O(k) bytes at ANY id cardinality — no
    * shard bookkeeping) and the bottom-k sample of the day's values
    * (mergeable quantile state), plus the exact row count.
    * Day-decomposable by construction, so it rides
    * [[graft.streaming.StreamingJobs.snapshotUpdatePartitioned]]
    * unchanged; every cross-day question — retention intersections,
    * rolling-window actives, window quantiles — folds on the serving
    * side ([[graft.streaming.ServingFolds]] theta/quantile folds).
    * Because both sketches are order- and partition-independent
    * (KMV determinism), the streamed leaf state is BYTE-identical to
    * the batch-computed leaf at convergence — pinned by
    * StreamingAnalyticsParitySpec. */
  def sketchDailyLeafFrom(e: DataFrame): DataFrame = {
    import graft.plans.GraftFunctions.{qsampleState, thetaState}
    e.withColumn("day", dayKey(col("ts")))
      .groupBy("day")
      .agg(count(lit(1)).as("cnt"),
        thetaState(col("user_id")).as("users_sk"),
        qsampleState(col("event_id"), col("value")).as("values_sk"))
  }

  /** Re-aggregation of [[eventDailyLeafFrom]] PARTIALS back to
    * canonical leaves — the `merge` contract of
    * [[graft.streaming.StreamingJobs.snapshotUpdateMerged]]: counts
    * sum, shard bitmaps OR (`bitmap_merge`, byte-identical to a
    * one-shot build). Every leaf column is a mergeable aggregate, so
    * merge(plan(A) ∪ plan(B)) ≡ plan(A ∪ B) row-for-row. */
  def eventDailyLeafMerge(leaves: DataFrame): DataFrame =
    leaves.groupBy(col("day"), col("event_type"), col("hour"), col("shard"))
      .agg(sum(col("cnt")).as("cnt"),
        graft.plans.GraftFunctions.bitmapMerge(col("users_bm")).as("users_bm"))

  /** [[sketchDailyLeafFrom]]'s merge twin: counts sum, theta/qsample
    * states fold with their own deterministic merges (KMV k-smallest
    * union / bottom-k union — split-insensitive by construction). */
  def sketchDailyLeafMerge(leaves: DataFrame): DataFrame = {
    import graft.plans.GraftFunctions.{qsampleMerge, thetaMerge}
    leaves.groupBy(col("day"))
      .agg(sum(col("cnt")).as("cnt"),
        thetaMerge(col("users_sk")).as("users_sk"),
        qsampleMerge(col("values_sk")).as("values_sk"))
  }

  /** Leaf-store ROUND-TRIP of the daily leaf grain (VERDICT r11 #3):
    * the leaves computed once, upserted day-by-day into the durable
    * `IndexStore` leaf store (the artifact a restarting stream reseeds
    * from in O(days·shards) rows instead of re-scanning events), loaded
    * back, and folded to the oracle-facing (day, type, hour) grain —
    * SHARES event_daily_leaf's DuckDB oracle, so the hash gate pins
    * the store lossless end-to-end (bitmap bytes included: the fold
    * popcounts the loaded bitmaps). */
  def eventDailyLeafStore(spark: SparkSession, d: String): DataFrame =
    leafOracleFold(loadedLeaves(spark, d))

  /** The (day, type, hour) oracle-facing fold of a loaded leaf
    * relation — shared by the self-building round-trip query and the
    * load-only serving face. */
  private def leafOracleFold(leaves: DataFrame): DataFrame =
    leaves
      .groupBy("day", "event_type", "hour")
      .agg(sum(col("cnt")).as("cnt"),
        sum(graft.plans.GraftFunctions.bitmapCard(col("users_bm"))).as("users"))
      .select(col("day"), col("event_type"), col("hour"), col("cnt"),
        col("users"))

  /** Build (once per session) and return the daily-leaf store of a
    * scale dir — the SHARED artifact both store-serving queries load
    * ([[eventDailyLeafStore]], [[rollingActiveUsersFromStore]]): the
    * leaves are deterministic, so sharing the build cannot change any
    * hash, and a bench pass pays the store write once. */
  private def leafStorePath(spark: SparkSession, d: String): String =
    leafStoreCache.getOrBuild((spark, d)) {
      val path = graft.sources.IndexStore.artifactPath("leafstore", d)
      graft.sources.IndexStore.resetDir(spark, path) // fresh round-trip: meta replaced
      graft.sources.IndexStore.upsertLeafDays(
        spark, eventDailyLeafFrom(events(spark, d)), path, "day", batchId = 0L)
      path
    }

  private val leafStoreCache = new graft.SessionMemo[
    (SparkSession, String), String]("event_leaf_store")

  /** The VALIDATED, persisted leaf relation — loaded once per session:
    * `loadLeafStore` pays O(days) manifest-file footer reads plus a
    * validation count per call (measured ~2.4 s of fixed overhead at
    * 79 stored days), which a serving layer pays at startup, not per
    * query. Deterministic rows, so sharing cannot change a hash. */
  private def loadedLeaves(spark: SparkSession, d: String): DataFrame =
    leafLoadCache.getOrBuild((spark, d))(
      graft.sources.IndexStore.loadLeafStore(spark, leafStorePath(spark, d))
        .persist())

  private val leafLoadCache = new graft.SessionMemo[
    (SparkSession, String), DataFrame]("event_leaf_loaded")

  /** Register the session's loaded leaf-store relation as the
    * `leaf_store` temp view — the SQL-text entry to the durable
    * serving layer (VERDICT r12 #6): a pure-SQL client folds the
    * stored leaves with the injected bitmap functions and answers
    * every serving question the DataFrame faces answer. */
  def registerLeafStoreView(spark: SparkSession, d: String): Unit =
    loadedLeaves(spark, d).createOrReplaceTempView("leaf_store")

  /** Trailing 7-day WAU served FROM THE LEAF STORE — no event scan:
    * the per-(day, shard) bitmaps come from `bitmap_merge`-folding the
    * stored (day, type, hour, shard) leaves (OR across cells = the
    * day's user set exactly), then the same fan-out/OR-fold serve as
    * [[rollingActiveUsers]]. Shards partition the id space, so the
    * fold is exact and this SHARES rolling_active_users' DuckDB
    * oracle — the hash gate pins that the durable artifact answers
    * the window-distinct question bit-for-bit without the events. */
  def rollingActiveUsersFromStore(spark: SparkSession, d: String): DataFrame =
    rollingActiveServe(storeDailyBitmaps(spark, d))

  /** The (day, shard, bm) relation served FROM THE LEAF STORE:
    * `bitmap_merge`-fold the stored (day, type, hour, shard) leaves —
    * OR across a day's cells is exactly the day's user set, so every
    * bitmap serving query (WAU, retention, churn) runs off the durable
    * artifact bit-for-bit, no event re-scan. */
  private def storeDailyBitmaps(spark: SparkSession, d: String): DataFrame =
    dailyBitmapsOfLeaves(loadedLeaves(spark, d))

  private def dailyBitmapsOfLeaves(leaves: DataFrame): DataFrame =
    leaves
      .groupBy("day", "shard")
      .agg(graft.plans.GraftFunctions.bitmapMerge(col("users_bm")).as("bm"))

  // ---- load-only serving posture (VERDICT r12 #3) ---------------------

  /** Build the daily-leaf store of a scale dir at an EXPLICIT durable
    * path — the INGEST half of the serving split: one partitioned
    * upsert of the event-derived leaves. The registered `_store`
    * queries keep their self-building scratch-path form (the write IS
    * what their round-trip oracle verifies); a production pipeline
    * calls this once per load and serving clusters answer from the
    * `...StoreAt` faces, which NEVER build. */
  def buildLeafStore(spark: SparkSession, d: String, path: String): Unit =
    graft.sources.IndexStore.upsertLeafDays(
      spark, eventDailyLeafFrom(events(spark, d)), path, "day", batchId = 0L)

  /** LOAD-ONLY leaf relation of an explicit store path: fails fast
    * naming the artifact when the store is absent or torn (the
    * `loadIvf` validation posture) — a serving session must never
    * silently fall back to the event scan the store exists to avoid. */
  private def leavesAt(spark: SparkSession, path: String): DataFrame =
    graft.sources.IndexStore.loadLeafStore(spark, path)

  /** [[eventDailyLeafStore]]'s load-only face over an explicit path. */
  def eventDailyLeafStoreAt(spark: SparkSession, path: String): DataFrame =
    leafOracleFold(leavesAt(spark, path))

  /** [[rollingActiveUsersFromStore]]'s load-only face. */
  def rollingActiveUsersStoreAt(spark: SparkSession, path: String): DataFrame =
    rollingActiveServe(dailyBitmapsOfLeaves(leavesAt(spark, path)))

  /** [[userChurnFromStore]]'s load-only face. */
  def userChurnStoreAt(spark: SparkSession, path: String): DataFrame =
    churnServe(dailyBitmapsOfLeaves(leavesAt(spark, path)))

  /** Cohort retention served FROM THE LEAF STORE — shares
    * retention_cohorts' DuckDB oracle (the store relation equals the
    * event-derived daily bitmaps exactly; shards partition the id
    * space, so every AND-popcount matches). */
  def retentionCohortsFromStore(spark: SparkSession, d: String): DataFrame =
    retentionServe(storeDailyBitmaps(spark, d))

  /** Churn decomposition served FROM THE LEAF STORE — shares
    * user_churn's oracle. With WAU and retention this completes the
    * claim: every bitmap serving question the engine answers from
    * events is ALSO answerable from the durable artifact alone. */
  def userChurnFromStore(spark: SparkSession, d: String): DataFrame =
    churnServe(storeDailyBitmaps(spark, d))

  /** Synthetic sizes for [[qsampleCalibration]] — the larger two force
    * estimation mode past k = 1024. */
  val QSampleCalibrationSizes: Seq[Long] = Seq(500L, 50000L, 500000L)

  /** Estimation-mode calibration of the quantile sample on a KNOWN
    * distribution (uniform 0..n−1 via spark.range, value = id): each
    * quantile estimate must land within its ~4σ rank-error bound
    * (σ = √(q(1−q)/k)), and the KMV count within 4/√k. Deterministic
    * fixed-hash instances, literal-TRUE oracle — same contract shape
    * as [[thetaCalibration]]. */
  def qsampleCalibration(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.{qsampleCount, qsampleQuantile, qsampleState}
    val k = 1024
    def rankTol(q: Double) = 4.0 * math.sqrt(q * (1 - q) / k)
    val countTol = 4.0 / math.sqrt(k)
    QSampleCalibrationSizes.map { n =>
      spark.range(n)
        .agg(qsampleState(col("id"), col("id"), k).as("sk"))
        .select(
          lit(n).as("n"),
          (abs(qsampleQuantile(col("sk"), 0.10) - 0.10 * (n - 1))
            <= lit(n.toDouble * rankTol(0.10))).as("p10_ok"),
          (abs(qsampleQuantile(col("sk"), 0.50) - 0.50 * (n - 1))
            <= lit(n.toDouble * rankTol(0.50))).as("p50_ok"),
          (abs(qsampleQuantile(col("sk"), 0.90) - 0.90 * (n - 1))
            <= lit(n.toDouble * rankTol(0.90))).as("p90_ok"),
          (abs(qsampleCount(col("sk")) - n) <= lit(n * countTol)).as("count_ok"))
    }.reduce(_ unionAll _)
  }

  val qsampleCalibrationSql: String =
    QSampleCalibrationSizes.map(n =>
      s"SELECT CAST($n AS BIGINT) AS n, TRUE AS p10_ok, TRUE AS p50_ok, " +
        "TRUE AS p90_ok, TRUE AS count_ok")
      .mkString("\nUNION ALL\n")

  /** Distinct-state planning report — the [[TextOps.jaccardPlanReport]]
    * companion for the sketch-as-column trio: MEASURE the actual
    * serialized bytes of the exact sharded-bitmap grain, the theta
    * grain, and the quantile-sample grain over this events table, and
    * recommend a route. The oracle computes the same numbers from
    * size ARITHMETIC alone (bitmap bytes = ⌈(max local id + 1)/8⌉ per
    * (day, shard) — the BitSet.toByteArray trim rule; theta bytes =
    * 16 + 8·min(users, k); sample bytes = 16 + 16·min(rows, k)), so a
    * hash match proves the serialization-size model a capacity
    * planner would use at 100 TB. Recommendation: the exact bitmaps
    * win while their byte cost stays within 4× of theta's (dense id
    * spaces); sparse/unbounded id spaces route to theta. */
  def distinctPlanReport(spark: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.{bitmapState, qsampleState, thetaState}
    val ev = events(spark, d)
    val daily = ev.groupBy(
        dayKey(col("ts")).as("day"),
        shiftright(col("user_id"), RetentionShardBits).as("shard"))
      .agg(bitmapState(
        col("user_id").bitwiseAND(lit((1L << RetentionShardBits) - 1))).as("bm"))
    val bm = daily.agg(count(lit(1)).as("leaf_rows"),
      sum(length(col("bm"))).cast("long").as("bitmap_bytes"))
    val sk = ev.groupBy(dayKey(col("ts")).as("day"))
      .agg(length(thetaState(col("user_id"))).as("tb"),
        length(qsampleState(col("event_id"), col("value"))).as("qb"))
      .agg(count(lit(1)).as("days"),
        sum(col("tb")).cast("long").as("theta_bytes"),
        sum(col("qb")).cast("long").as("qsample_bytes"))
    val tot = ev.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("user_id")).as("n_users"))
    tot.crossJoin(broadcast(bm)).crossJoin(broadcast(sk))
      .select(col("n_rows"), col("n_users"), col("days"), col("leaf_rows"),
        col("bitmap_bytes"), col("theta_bytes"), col("qsample_bytes"),
        expr("CASE WHEN bitmap_bytes <= 4 * theta_bytes THEN 'bitmap' " +
          "ELSE 'theta' END").as("chosen"))
  }

  val distinctPlanReportSql: String =
    s"""WITH du AS (
      |  SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
      |  FROM events
      |),
      |daily AS (
      |  SELECT day, user_id >> $RetentionShardBits AS shard,
      |         max(user_id & ${(1L << RetentionShardBits) - 1}) AS maxloc
      |  FROM du GROUP BY 1, 2
      |),
      |bm AS (
      |  SELECT count(*) AS leaf_rows,
      |         CAST(sum((maxloc >> 3) + 1) AS BIGINT) AS bitmap_bytes
      |  FROM daily
      |),
      |byday AS (
      |  SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
      |         count(DISTINCT user_id) AS users, count(*) AS rows_d
      |  FROM events GROUP BY 1
      |),
      |sk AS (
      |  SELECT count(*) AS days,
      |         CAST(sum(16 + 8 * least(users, 4096)) AS BIGINT) AS theta_bytes,
      |         CAST(sum(16 + 16 * least(rows_d, 4096)) AS BIGINT) AS qsample_bytes
      |  FROM byday
      |),
      |tot AS (
      |  SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users FROM events
      |)
      |SELECT t.n_rows, t.n_users, s.days, b.leaf_rows, b.bitmap_bytes,
      |       s.theta_bytes, s.qsample_bytes,
      |       CASE WHEN b.bitmap_bytes <= 4 * s.theta_bytes THEN 'bitmap'
      |            ELSE 'theta' END AS chosen
      |FROM tot t CROSS JOIN bm b CROSS JOIN sk s""".stripMargin

  val eventRollupSql: String =
    s"""SELECT event_type,
      |       $HourBucketSql AS hour,
      |       count(*) AS cnt,
      |       count(DISTINCT user_id) AS users,
      |       CAST(GROUPING(event_type,
      |                     $HourBucketSql) AS BIGINT) AS gid
      |FROM events
      |GROUP BY ROLLUP (1, 2)""".stripMargin

  /** Three-stage conversion funnel with ORDERED semantics: a user
    * converts at stage 2 only if some click follows their FIRST view,
    * and at stage 3 only if some purchase follows that first
    * qualifying click (strictly later timestamps at each hop — the
    * standard product-analytics funnel, not the mere set-intersection
    * count). Output: one row per stage with the surviving user count.
    *
    * Scale: three aggregations keyed on user_id plus two user_id
    * equi-joins — AQE co-partitions the chain on the shared key, and
    * each stage's input is a filtered sliver of the one before. No
    * per-user event buffering anywhere (the collect-and-scan form
    * would hold a user's whole history in one task). */
  def funnel(spark: SparkSession, d: String): DataFrame = {
    val e = events(spark, d).select(col("user_id"), col("event_type"),
      epochSeconds(col("ts")).as("ts_s"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_s")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts_s") > col("t1"))
      .groupBy("user_id").agg(min(col("ts_s")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts_s") > col("t2"))
      .groupBy("user_id").agg(min(col("ts_s")).as("t3"))
    v.agg(count(lit(1)).as("n")).select(lit(1L).as("stage"), lit("view").as("event_type"), col("n"))
      .unionAll(c.agg(count(lit(1)).as("n")).select(lit(2L).as("stage"), lit("click").as("event_type"), col("n")))
      .unionAll(p.agg(count(lit(1)).as("n")).select(lit(3L).as("stage"), lit("purchase").as("event_type"), col("n")))
  }

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
      |), v AS (
      |  SELECT user_id, min(ts_s) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, min(ts_s) AS t2 FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND ts_s > t1 GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, min(ts_s) AS t3 FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND ts_s > t2 GROUP BY 1
      |)
      |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, (SELECT count(*) FROM v) AS n
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM c)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM p)""".stripMargin

  /** Latest event per user — CDC/upsert compaction: collapse an event
    * log to its most recent state per key (the materialization step of
    * every incremental-ingestion pipeline; ties broken by event_id so
    * the survivor is unique). row_number + filter lets Catalyst plan a
    * WindowGroupLimit: each partition keeps only its per-key max
    * before the rank exchange — the shuffle carries one candidate row
    * per (partition, key), NOT the full log. */
  def latestSnapshot(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s").desc, col("event_id").desc)
    events(spark, d)
      .select(col("user_id"), col("event_id"), epochSeconds(col("ts")).as("ts_s"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  val latestSnapshotSql: String =
    """SELECT user_id, event_id, ts_s, event_type, value FROM (
      |  SELECT user_id, event_id, ts_s, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts_s DESC, event_id DESC) AS rn
      |  FROM (SELECT user_id, event_id,
      |          CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_type, value
      |        FROM events)
      |) WHERE rn = 1""".stripMargin

  /** Range-frame rolling aggregate: per event, count and exact sum of
    * the same user's `value` over the PRECEDING HOUR (event-time range
    * frame, ties-as-peers). The OVER-frame capability the
    * window()/session_window() group-by family can't express — running
    * per-event context features (rate limits, velocity checks,
    * per-user activity features for training data). One exchange on
    * user_id + an in-partition range-frame scan; frame state is
    * bounded by one user's events-per-hour. The sum routes through
    * DECIMAL ([[graft.functions.ColumnFunctions.moneySum]] recipe) so
    * the frame sum is order-free and oracle-exact. */
  def rollingHourStats(spark: SparkSession, d: String): DataFrame =
    rollingHourStatsFrom(events(spark, d))

  /** Plan builder over an events-shaped relation — shared by the batch
    * query and the foreachBatch streaming face (OVER frames are
    * batch-only; see [[eventRollupFrom]]). */
  def rollingHourStatsFrom(in: DataFrame): DataFrame = {
    val e = in.select(col("event_id"), col("user_id"),
      epochSeconds(col("ts")).as("ts_s"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-3600, 0)
    e.select(col("event_id"), col("user_id"), col("ts_s"),
      count(lit(1)).over(w).as("n_hour"),
      sum(col("value").cast("decimal(28,10)")).over(w).cast("double").as("sum_hour"))
  }

  val rollingHourStatsSql: String =
    """SELECT event_id, user_id, ts_s,
      |  count(*) OVER w AS n_hour,
      |  CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE) AS sum_hour
      |FROM (SELECT event_id, user_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Set-operation surface (SURVEY §2.10: the reference has none;
    * Spark's EXCEPT comes free with the relational core): (user, hour)
    * cells with click activity but NO purchase — the churn-funnel set
    * difference at the granularity where it's non-trivial (every user
    * eventually purchases; most click-hours convert nothing). Compiles
    * to distinct + LeftAnti hash join, both map-side combined. */
  def clickNoPurchase(spark: SparkSession, d: String): DataFrame = {
    def cells(t: String) = events(spark, d).filter(col("event_type") === t)
      .select(col("user_id"),
        hourBucket.as("hour"))
    cells("click").except(cells("purchase"))
  }

  val clickNoPurchaseSql: String =
    s"""SELECT user_id, $HourBucketSql AS hour
      |FROM events WHERE event_type = 'click'
      |EXCEPT
      |SELECT user_id, $HourBucketSql AS hour
      |FROM events WHERE event_type = 'purchase'""".stripMargin

  /** Semi-structured extraction: JSON-path field pull from the props
    * column (get_json_object — Catalyst's native JsonPath evaluator,
    * not a regex) aggregated per event type. The JSON-parse runs
    * map-side inside whole-stage codegen; the aggregate is one
    * map-side-combined shuffle on a 5-value key. All-integer outputs —
    * exact in any engine. */
  def propsJsonAgg(spark: SparkSession, d: String): DataFrame =
    events(spark, d)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"), sum(col("k")).as("k_sum"))

  val propsJsonAggSql: String =
    """SELECT event_type, count(k) AS n, min(k) AS k_min, max(k) AS k_max,
      |       CAST(sum(k) AS BIGINT) AS k_sum
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1""".stripMargin

  // ---- z-order layout report (multi-dimensional data skipping) --------

  /** Z-order (Morton-curve) layout report over (user, hour) — the
    * data-skipping LAYOUT story for 100 TB (public technique: Morton
    * 1966 bit interleaving; the lakehouse OPTIMIZE ZORDER idiom): a
    * table range-partitioned on the interleaved key gives every file
    * a NARROW min/max range on BOTH dimensions simultaneously, so a
    * predicate on either column prunes ~√-proportionally many files —
    * a linear sort on one column prunes only that column. The report
    * computes the z-value (bit-interleave of the `bits`-bit user and
    * hour buckets), splits the curve into `nBuckets` equal z-ranges
    * (the would-be file boundaries of `repartitionByRange(z)`), and
    * emits per-bucket row counts and per-dimension min/max — the
    * exact statistics a scan planner would skip files with.
    *
    * Guarantee the spec asserts: with nBuckets = 4^k, a bucket fixes
    * the top 2k interleaved bits = the top k bits of EACH dimension,
    * so every bucket's spread on both dims is < 2^(bits−k).
    *
    * Scale: pure per-row bit arithmetic (whole-stage codegen) + ONE
    * map-side-combined aggregate of ≤ nBuckets rows. The write-side
    * twin is `repartitionByRange(nBuckets, z)` + write — same key,
    * same boundaries. */
  def zorderLayout(spark: SparkSession, d: String, bits: Int = 8,
                   nBuckets: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 16, "bits must be in [1,16]")
    val totalBits = 2 * bits
    val k = (math.log(nBuckets) / math.log(2)).round.toInt
    require((1L << k) == nBuckets && k <= totalBits,
      s"nBuckets must be a power of two <= 4^bits, got $nBuckets")
    val events = Tables.events(spark, d)
      .withColumn("u", pmod(col("user_id"), lit(1L << bits)))
      .withColumn("hr", pmod(floor(epochSeconds(col("ts")).cast("double") / 3600)
        .cast("long"), lit(1L << bits)))
    val z = (0 until bits).map { j =>
      shiftleft(shiftright(col("u"), j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(col("hr"), j).bitwiseAND(lit(1L)), 2 * j + 1)
    }.reduce(_ + _)
    events.withColumn("bucket", shiftright(z, totalBits - k))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("u")).as("min_u"), max(col("u")).as("max_u"),
        min(col("hr")).as("min_h"), max(col("hr")).as("max_h"))
  }

  def zorderLayoutSql(bits: Int = 8, nBuckets: Int = 64): String = {
    val totalBits = 2 * bits
    val k = (math.log(nBuckets) / math.log(2)).round.toInt
    val zTerms = (0 until bits).map { j =>
      s"(((u >> $j) & 1) << ${2 * j}) + (((h >> $j) & 1) << ${2 * j + 1})"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT user_id % ${1L << bits} AS u,
       |         (CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT))
       |           % ${1L << bits} AS h
       |  FROM events
       |)
       |SELECT ($zTerms) >> ${totalBits - k} AS bucket,
       |       count(*) AS n_rows,
       |       min(u) AS min_u, max(u) AS max_u,
       |       min(h) AS min_h, max(h) AS max_h
       |FROM b GROUP BY 1""".stripMargin
  }
}
