package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** The closed-loop workload `batch_reference`: one client runs the
  * batch twins of the reference jobs over the events table back to
  * back, each to completion, for the run's length. Per-job scheduling
  * and scan geometry bound it.
  *
  * Every pass starts with the session memos cleared, so each pass does
  * the same work.
  */
final class BatchRun(a: Harness.Args, out: Result) {
  import BatchRun._

  private val tables = s"${a.data}/tables"
  private val tracer = new Tracer

  /** One completed call of a registered query: the query function
    * returning its DataFrame, then `collect()`. */
  final case class Call(query: String, pass: Int, buildS: Double, runS: Double, fromPassStartS: Double) {
    def latency: Double = buildS + runS
  }

  private var spark: SparkSession = _
  private val expected = mutable.Map[String, String]()

  def run(): Unit = {
    tracer.recording = a.trace
    val setups = (0 until SetupReps).map(setup)
    val events = spark.read.parquet(s"$tables/events.parquet").count()

    val calls = mutable.ArrayBuffer[Call]()
    val passWall = mutable.Map[Boolean, mutable.ArrayBuffer[Double]]()
    val t0 = System.nanoTime()
    var p = 0
    while (Harness.seconds(t0) < a.seconds) {
      val traced = a.trace && p % 2 == 0
      val counters = new Counters
      if (traced) spark.sparkContext.addSparkListener(counters)
      tracer.recording = traced
      val tp = System.nanoTime()
      val cs = pass(p, dump = false)
      tracer.recording = false
      passWall.getOrElseUpdate(traced, mutable.ArrayBuffer()) += Harness.seconds(tp)
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        passCounters += counters
      }
      calls ++= cs
      p += 1
    }
    val measuredS = Harness.seconds(t0)
    out.note("passes", p)
    out.note("measured_s", measuredS)

    val lat = calls.map(_.latency).toSeq
    val fresh = calls.map(_.fromPassStartS * 1000.0).toSeq
    out.metric("setup_s", Harness.median(setups.map(s => s._1 + s._2)), "s")
    out.metric("op_p50_s", Harness.pct(lat, 50), "s")
    out.metric("op_p90_s", Harness.pct(lat, 90), "s")
    out.metric("ops_per_s", lat.length / lat.sum, "1/s")
    out.metric("events_per_s", events * lat.length / lat.sum, "1/s")
    out.metric("event_latency_p50_ms", Harness.pct(fresh, 50), "ms")
    out.metric("event_latency_p95_ms", Harness.pct(fresh, 95), "ms")
    out.sampleCount("op_p50_s", lat.length)
    out.sampleCount("op_p90_s", lat.length)
    out.sampleCount("event_latency_p50_ms", fresh.length)
    out.sampleCount("event_latency_p95_ms", fresh.length)
    out.sampleCount("setup_s", setups.length)

    if (a.trace) layerMetrics(setups, calls.toSeq, passWall.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  private val passCounters = mutable.ArrayBuffer[Counters]()

  /** Session build plus one cold pass (the warm-up); returns both times.
    * The first set-up's outputs become the expected results: run.py
    * checks them against the DuckDB oracle, later passes against them. */
  private def setup(rep: Int): (Double, Double) = {
    if (spark != null) { graft.Graft.clearSession(spark); spark.stop() }
    val t0 = System.nanoTime()
    spark = tracer.span("session.build")(Harness.session(a.cores))
    val buildS = Harness.seconds(t0)
    val warm = tracer.span("session.warmup")(pass(-1 - rep, dump = rep == 0))
    Harness.log(f"setup $rep: session $buildS%.2f s, warm-up ${warm.map(_.latency).sum}%.2f s")
    (buildS, warm.map(_.latency).sum)
  }

  /** One pass over the mix. Result digests and dumps happen between
    * calls, outside every timing. */
  private def pass(p: Int, dump: Boolean): Seq[Call] = {
    graft.Graft.clearSession(spark)
    val sc = spark.sparkContext
    var spent = 0.0
    tracer.span("bench.pass", p) {
      ReferenceQueries.map { q =>
        sc.setLocalProperty(Counters.OpKey, q)
        var res: Option[(DataFrame, Array[Row])] = None
        var err: String = null
        val call = tracer.span(s"operators.$q", p) {
          val t0 = System.nanoTime()
          try {
            val df = tracer.span("operators.build", p)(SparkEntry.queries(q)(spark, tables))
            val t1 = System.nanoTime()
            res = Some((df, tracer.span("operators.run", p)(df.collect())))
            val t2 = System.nanoTime()
            spent += (t2 - t0) / 1e9
            Call(q, p, (t1 - t0) / 1e9, (t2 - t1) / 1e9, spent)
          } catch {
            case e: Exception =>
              err = e.toString
              Call(q, p, 0.0, (System.nanoTime() - t0) / 1e9, spent)
          }
        }
        sc.setLocalProperty(Counters.OpKey, null)
        Harness.log(f"pass $p $q ${call.latency}%.3f s")
        res match {
          case Some((df, rows)) => verify(q, df, rows, dump)
          case None             => out.check(false, s"$q: $err")
        }
        call
      }
    }
  }

  private def verify(name: String, df: DataFrame, rows: Array[Row], dump: Boolean): Unit = {
    val d = Harness.digest(df, rows)
    expected.get(name) match {
      case Some(e) => out.check(d == e, s"$name: result differs from the expected result")
      case None =>
        expected(name) = d
        if (dump) Oracle.dump(spark, a.work, name, df, rows, tables)
    }
  }

  private def layerMetrics(setups: Seq[(Double, Double)], calls: Seq[Call],
                           passWall: Map[Boolean, Seq[Double]]): Unit = {
    val traced = passWall.getOrElse(true, Nil)
    val plain = passWall.getOrElse(false, Nil)
    out.metric("session.build_s", Harness.median(setups.map(_._1)), "s")
    out.metric("session.warmup_s", Harness.median(setups.map(_._2)), "s")

    val per = (xs: Seq[Double]) => xs.sum / calls.length.max(1)
    out.metric("operators.build_s", per(calls.map(_.buildS)), "s")
    out.metric("operators.run_s", per(calls.map(_.runS)), "s")

    // counters cover the traced passes only: normalize by their calls
    val tracedCalls = calls.count(_.pass % 2 == 0).max(1)
    val agg = passCounters.map(_.total(_ != "untagged"))
    def tot(g: Counters#Agg => Long) = agg.map(g).sum.toDouble
    out.metric("operators.jobs", tot(_.jobs) / tracedCalls, "count")
    out.metric("operators.stages", tot(_.stages) / tracedCalls, "count")
    out.metric("operators.tasks_per_stage", tot(_.tasks) / tot(_.stages).max(1), "count")
    out.metric("operators.sched_delay_s", tot(_.schedMs) / 1000.0 / tracedCalls, "s")
    out.metric("operators.executor_cpu_s", tot(_.cpuNs) / 1e9 / tracedCalls, "s")
    out.metric("operators.shuffle_mb", tot(_.shuffleBytes) / 1e6 / tracedCalls, "MB")
    out.metric("operators.spill_mb", tot(_.spillBytes) / 1e6 / tracedCalls, "MB")
    val allRunMs = passCounters.map(_.total(_ => true).runMs).sum.toDouble
    out.metric("operators.core_busy_ratio",
      allRunMs / 1000.0 / (traced.sum * a.cores).max(1e-9), "ratio")
    val byName = calls.groupBy(_.query)
    ReferenceQueries.foreach { q =>
      out.metric(s"operators.${q}_s", Harness.median(byName.getOrElse(q, Nil).map(_.latency)), "s")
    }

    val kin = Kernels.fromEvents(Tables.events(spark, tables))
    tracer.recording = true
    Kernels.measure(spark, kin, tracer).foreach { case (k, v) => out.metric(s"plans.${k}_ns_per_row", v, "ns/row") }
    tracer.recording = false

    out.metric("bench.trace_overhead_ratio",
      if (traced.isEmpty || plain.isEmpty) 1.0 else Harness.median(traced) / Harness.median(plain), "ratio")
    Spans.write(tracer, s"${a.work}/spans.json")
  }
}

object BatchRun {
  /** Set-ups per run; `setup_s` is their median. The first, in a cold
    * JVM, is the slowest, so the median is a JVM-warm one. */
  val SetupReps = 3

  /** The 19 batch twins of the reference jobs. */
  val ReferenceQueries: Seq[String] = Seq("hot_users_topn", "hot_users_topn_sql",
    "page_views", "unique_visitors", "unique_visitors_approx", "uv_bitmap", "uv_udaf",
    "channel_counts", "total_counts", "events_by_type_salted", "clicks_by_province",
    "blacklist", "blacklist_stateful", "login_fail", "login_fail_cep", "order_timeout",
    "tx_match", "tx_match_join", "late_events")
}
