package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.SparkEntry
import graft.operators.Stateful.LoginWarn
import graft.streaming.{Machines, StatefulStreams, StreamingJobs}

/** Every progress report of every query, in arrival order. The
  * queries' own `recentProgress` keeps only the last 100. */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val buf = byQuery.computeIfAbsent(e.progress.id, _ => mutable.ArrayBuffer())
    buf.synchronized(buf += e.progress)
  }
  def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
    Option(byQuery.get(q.id)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
  def rowsIn(q: StreamingQuery): Long = of(q).map(_.numInputRows).sum
}

/** The open-loop streaming workload: the paper's own jobs over a file
  * source that a seeded schedule fills.
  *
  *  - `hot_users`: sliding 1 h / 5 min windowed counts in update mode
  *    (`StreamingJobs.windowedCounts` → `topNUpdate`), folded into a
  *    serving table and ranked there (`topNPerWindow`).
  *  - `login_fail`: `StatefulStreams.runStreaming` over
  *    `Machines.LoginFailMachine`.
  *
  * Phase A drains a fixed backlog at a fixed `maxFilesPerTrigger`;
  * phase B releases files on a fixed schedule below the drain rate, and
  * each file's latency runs from when it was due to the end of the
  * first micro-batch that covered it, in both queries. The generated
  * files come from run.py; this class only moves them into the source
  * directory (an atomic rename) when they are due.
  */
final class StreamRun(a: Harness.Args, out: Result) {
  private val plan = Harness.mapper.readTree(Paths.get(s"${a.data}/stream/plan.json").toFile)
  private val rate = plan.get("rate_files_per_s").asDouble()
  private val maxFiles = plan.get("max_files_per_trigger").asInt()
  private val wmDelay = plan.get("watermark_delay").asText()
  private val rowsOf: Map[String, Long] =
    plan.get("rows").fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  private def staged(kind: String): Seq[Path] =
    Files.list(Paths.get(s"${a.data}/stream/$kind")).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private val tracer = new Tracer
  private val progress = new ProgressLog
  private val Us = 1000000L

  private final class Faces(val root: String, val hot: StreamingQuery, val login: StreamingQuery,
                            val serving: ConcurrentHashMap[(Long, Long), Long],
                            val warnings: mutable.ArrayBuffer[LoginWarn]) {
    def all: Seq[(String, StreamingQuery)] = Seq("hot_users" -> hot, "login_fail" -> login)
    def src: String = s"$root/events.parquet"
    def stop(): Unit = all.foreach(_._2.stop())
  }

  /** Release record: file name, when it was due and when it was moved
    * in (epoch ms). */
  private final case class Release(name: String, dueMs: Double, doneMs: Double)

  private var spark: SparkSession = _

  def run(): Unit = {
    val warm = staged("warm").head
    tracer.recording = a.trace
    val setups = (0 until StreamRun.SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span("session.build")(Harness.session(a.cores))
      spark.streams.addListener(progress)
      val buildS = Harness.seconds(t0)
      val t1 = System.nanoTime()
      val f = tracer.span("session.warmup") {
        val root = s"${a.work}/stream/r$r"
        Files.createDirectories(Paths.get(s"$root/events.parquet"))
        val copy = Paths.get(s"$root/events.parquet/${warm.getFileName}")
        Files.copy(warm, copy)
        lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
        Files.setLastModifiedTime(copy, FileTime.fromMillis(lastMtime))
        val f = start(root)
        awaitRows(f, rowsOf(warm.getFileName.toString), 120)
        f
      }
      val warmS = Harness.seconds(t1)
      if (r < StreamRun.SetupReps - 1) f.stop()
      (buildS, warmS, f)
    }
    val faces = setups.last._3
    val released = mutable.ArrayBuffer(Release(warm.getFileName.toString, 0, 0))

    Harness.log(f"set-up done: ${setups.map(x => x._1 + x._2).mkString(", ")} s")
    // phase A: the whole backlog lands at once and drains at maxFilesPerTrigger
    val tA = System.nanoTime()
    val aStartMs = System.currentTimeMillis().toDouble
    val backlog = staged("backlog")
    backlog.foreach { p =>
      moveIn(p, faces.src)
      released += Release(p.getFileName.toString, aStartMs, aStartMs)
    }
    val backlogRows = backlog.map(p => rowsOf(p.getFileName.toString)).sum
    val drainedBy = rowsOf(warm.getFileName.toString) + backlogRows
    out.check(awaitRows(faces, drainedBy, 120), "backlog did not drain within 120 s")
    // the end of the batch in which each query's input reached the backlog's end
    val aEndMs = faces.all.map { case (_, q) =>
      val ps = progress.of(q)
      val cum = ps.scanLeft(0L)(_ + _.numInputRows).tail
      batchEndMs(ps(cum.indexWhere(_ >= drainedBy)))
    }.max
    val drainS = (aEndMs - aStartMs) / 1000.0

    Harness.log(f"phase A drained in $drainS%.2f s")
    // phase B: open loop at a fixed rate for the rest of the run
    val liveStaged = staged("live")
    val bSeconds = math.max(1.0, a.seconds - Harness.seconds(tA))
    val interval = 1.0 / rate
    val bStartNs = System.nanoTime()
    val bStartMs = System.currentTimeMillis().toDouble
    val nLive = math.min(liveStaged.length, math.floor(bSeconds * rate).toInt)
    require(nLive >= 20, s"live phase too short: $nLive files")
    val lateMs = mutable.ArrayBuffer[Double]()
    val tracedSlice = mutable.ArrayBuffer[Boolean]()
    (0 until nLive).foreach { i =>
      val dueNs = bStartNs + (i * interval * 1e9).toLong
      val waitNs = dueNs - System.nanoTime()
      if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
      // a traced run alternates tracing by one-second slices to measure its own cost
      tracer.recording = a.trace && ((i * interval).toInt % 2 == 0)
      tracedSlice += tracer.recording
      moveIn(liveStaged(i), faces.src)
      val doneMs = System.currentTimeMillis().toDouble
      val dueMs = bStartMs + i * interval * 1000.0
      lateMs += doneMs - dueMs
      released += Release(liveStaged(i).getFileName.toString, dueMs, doneMs)
    }
    tracer.recording = false
    val totalRows = released.map(r => rowsOf(r.name)).sum
    val drained = awaitRows(faces, totalRows, 60)
    val measuredS = Harness.seconds(tA)
    Harness.log(f"phase B released $nLive files, drained after $measuredS%.2f s")
    faces.stop()
    out.check(drained, "live phase did not drain within 60 s of the last release")

    // attribution: every released file in exactly one committed batch per query
    val batchOf = faces.all.map { case (face, q) => face -> fileBatches(faces.root, face, q) }.toMap
    faces.all.foreach { case (face, q) =>
      val seen = batchOf(face)
      released.foreach { r =>
        out.check(seen.get(r.name).exists(_.size == 1),
          s"$face: ${r.name} covered by batches ${seen.getOrElse(r.name, Nil)}")
      }
      out.check(progress.rowsIn(q) == totalRows,
        s"$face: input rows ${progress.rowsIn(q)} != generated $totalRows")
    }

    // per-file latency over the live phase: the later of the two queries
    val endOf = faces.all.map { case (face, q) =>
      face -> progress.of(q).map(p => p.batchId -> batchEndMs(p)).toMap
    }.toMap
    val live = released.drop(1 + backlog.length).toSeq
    val latency = live.map { r =>
      faces.all.map { case (face, _) =>
        batchOf(face).get(r.name).flatMap(_.headOption).flatMap(endOf(face).get)
          .getOrElse(Double.NaN) - r.dueMs
      }.max
    }
    // sustainability: the live rate is below the drain rate, and the
    // backlog does not grow over the live phase -- at the last release at
    // most one trigger's worth of files is still uncovered, and latency
    // does not climb with due time
    val liveEventsPerS = rate * rowsOf(live.head.name)
    val lastMs = live.last.doneMs
    val pendingAtEnd = faces.all.map { case (face, _) =>
      live.count(r => batchOf(face).get(r.name).flatMap(_.headOption).flatMap(endOf(face).get)
        .forall(_ > lastMs))
    }.max
    val slope = StreamRun.slope(live.map(_.dueMs / 1000.0), latency.map(_ / 1000.0))
    out.note("live_events_per_s", liveEventsPerS)
    out.note("pending_files_at_end", pendingAtEnd)
    out.note("latency_slope", slope)
    out.check(!latency.exists(_.isNaN), "live phase: a released file was never covered")
    out.check(liveEventsPerS < backlogRows / drainS,
      f"live phase unsustainable: live rate $liveEventsPerS%.0f events/s >= drain rate ${backlogRows / drainS}%.0f")
    out.check(pendingAtEnd <= maxFiles,
      s"live phase unsustainable: $pendingAtEnd files uncovered at the last release (one trigger: $maxFiles)")
    out.check(slope <= StreamRun.MaxLatencySlope,
      f"live phase unsustainable: latency grew by $slope%.3f s per s of the live phase")

    faces.all.foreach { case (face, q) =>
      val dropped = progress.of(q).flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      out.check(dropped == 0, s"$face: $dropped rows dropped as late")
    }

    // outputs: the serving tables against the batch twins over the same files
    checkOutputs(faces)
    Harness.log("outputs checked")

    // one operation: a data micro-batch of the live phase (drain batches
    // are another size class; phase A is measured by events_per_s)
    val liveBatches = faces.all.flatMap { case (_, q) => progress.of(q) }
      .filter(p => p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= bStartMs)
    val batchS = liveBatches.map(ms(_, "triggerExecution") / 1000.0)
    val liveS = (liveBatches.map(batchEndMs).max - bStartMs) / 1000.0
    // the first set-up runs in a cold JVM and is left out
    out.metric("setup_s", Harness.median(setups.drop(1).map(s => s._1 + s._2)), "s")
    out.metric("op_p50_s", Harness.pct(batchS, 50), "s")
    out.metric("op_p90_s", Harness.pct(batchS, 90), "s")
    out.metric("ops_per_s", liveBatches.length / liveS, "1/s")
    out.metric("events_per_s", backlogRows / drainS, "1/s")
    out.metric("event_latency_p50_ms", Harness.pct(latency, 50), "ms")
    out.metric("event_latency_p95_ms", Harness.pct(latency, 95), "ms")
    out.sampleCount("setup_s", setups.length - 1)
    out.sampleCount("op_p50_s", batchS.length)
    out.sampleCount("op_p90_s", batchS.length)
    out.sampleCount("event_latency_p50_ms", latency.length)
    out.sampleCount("event_latency_p95_ms", latency.length)
    out.note("setups_s", setups.map(s => s._1 + s._2))
    out.note("live_files", nLive)
    out.note("backlog_files", backlog.length)
    out.note("drain_s", drainS)

    if (a.trace) {
      out.metric("session.build_s", Harness.median(setups.drop(1).map(_._1)), "s")
      out.metric("session.warmup_s", Harness.median(setups.drop(1).map(_._2)), "s")
      out.metric("bench.generator_late_ms_max", lateMs.max, "ms")
      val on = latency.zip(tracedSlice).collect { case (l, true) => l }
      val off = latency.zip(tracedSlice).collect { case (l, false) => l }
      out.metric("bench.trace_overhead_ratio",
        if (on.isEmpty || off.isEmpty) 1.0 else Harness.median(on) / Harness.median(off), "ratio")
      val offsetMs = faces.all.flatMap { case (_, q) => progress.of(q).filter(_.numInputRows > 0) }
        .map(p => ms(p, "latestOffset") + ms(p, "getBatch"))
      out.metric("sources.stream_offset_ms_p50", Harness.median(offsetMs), "ms")
      faces.all.foreach { case (face, q) => faceMetrics(face, q, released.toSeq, batchOf(face)) }
      tracer.recording = true
      faces.all.foreach { case (face, q) => batchSpans(face, q) }
      val kin = Kernels.fromEvents(graft.sources.Tables.events(spark, faces.root))
      Kernels.measure(spark, kin, tracer).foreach { case (k, v) => out.metric(s"plans.${k}_ns_per_row", v, "ns/row") }
      tracer.recording = false
      Spans.write(tracer, s"${a.work}/spans.json")
    }
  }

  /** The engine reports each micro-batch's phases as durations after the
    * fact; lay them out as spans in the order the batch runs them. */
  private def batchSpans(face: String, q: StreamingQuery): Unit = {
    val nsPerEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    progress.of(q).foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + nsPerEpochMs
      val id = tracer.add(s"streaming.$face.batch", -1, p.batchId, start,
        start + (ms(p, "triggerExecution") * 1e6).toLong)
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foldLeft(start) { (t, phase) =>
          val end = t + (ms(p, phase) * 1e6).toLong
          tracer.add(s"streaming.$face.$phase", id, p.batchId, t, end)
          end
        }
    }
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def batchEndMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli + ms(p, "triggerExecution")

  private var lastMtime = 0L

  /** Move a staged file into the source directory. The file source
    * orders new files by modification time, so every file gets a
    * strictly later mtime than the one before it. */
  private def moveIn(p: Path, dir: String): Unit = {
    lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
    Files.setLastModifiedTime(p, FileTime.fromMillis(lastMtime))
    Files.move(p, Paths.get(dir, p.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wait until both queries have read `rows` input rows. */
  private def awaitRows(f: Faces, rows: Long, timeoutS: Double): Boolean = {
    val t0 = System.nanoTime()
    while (f.all.exists { case (_, q) => progress.rowsIn(q) < rows } && Harness.seconds(t0) < timeoutS) {
      f.all.foreach { case (face, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"$face failed", e))
      }
      Thread.sleep(5)
    }
    f.all.forall { case (_, q) => progress.rowsIn(q) >= rows }
  }

  /** Start both queries on `<root>/events.parquet`, each with its own
    * checkpoint under `<root>/ckpt_<face>`. */
  private def start(root: String): Faces = {
    val s = spark
    import s.implicits._
    def source: DataFrame = s.readStream.schema(StreamRun.EventsSchema)
      .option("maxFilesPerTrigger", maxFiles.toString).parquet(s"$root/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))

    val serving = new ConcurrentHashMap[(Long, Long), Long]()
    s.conf.set("spark.sql.streaming.checkpointLocation", s"$root/ckpt_hot_users")
    val hot = tracer.span("streaming.hot_users.start") {
      val counts = StreamingJobs.windowedCounts(source.select(col("ts"), col("user_id")),
        "1 hour", Some("5 minutes"), Seq(col("user_id")), wmDelay)
      StreamingJobs.topNUpdate(counts) { (delta, batchId) =>
        tracer.span("streaming.hot_users.fold", batchId) {
          delta.select(unix_seconds(col("window_end")), col("user_id"), col("cnt")).collect()
            .foreach(r => serving.put((r.getLong(0), r.getLong(1)), r.getLong(2)))
        }
      }
    }

    val warnings = mutable.ArrayBuffer[LoginWarn]()
    s.conf.set("spark.sql.streaming.checkpointLocation", s"$root/ckpt_login_fail")
    val login = tracer.span("streaming.login_fail.start") {
      val m = new Machines.LoginFailMachine(2, 7200 * Us)
      val ev = source.withWatermark("ts", wmDelay)
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), (col("event_type") === "error").as("flag"))
        .as[(Long, java.sql.Timestamp, Long, Long, Boolean)]
      StatefulStreams.runStreaming(ev.groupByKey(_._1), m)(
        r => Machines.Flagged(r._3, r._4, r._5))((k, o) => LoginWarn(k, o._1, o._2, 2))
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[LoginWarn], batchId: Long) =>
          tracer.span("streaming.login_fail.fold", batchId) {
            val ws = b.collect()
            warnings.synchronized(warnings ++= ws)
            ()
          }
        }.start()
    }
    new Faces(root, hot, login, serving, warnings)
  }

  /** file name → ids of the committed query batches that read it. The
    * source's own log numbers its batches by `logOffset`; a query batch
    * covers the log batches in (startOffset, endOffset]. */
  private def fileBatches(root: String, face: String, q: StreamingQuery): Map[String, Seq[Long]] = {
    val mapper = Harness.mapper
    def logOffset(json: String): Long =
      if (json == null) -1L else mapper.readTree(json).get("logOffset").asLong()
    val queryBatchOf = progress.of(q).flatMap { p =>
      val src = p.sources.head
      ((logOffset(src.startOffset) + 1) to logOffset(src.endOffset)).map(_ -> p.batchId)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val ckpt = Files.list(Paths.get(s"$root/ckpt_$face")).iterator().asScala.toSeq.head
    Files.list(ckpt.resolve("sources/0")).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1).filter(_.trim.nonEmpty))
      .map(mapper.readTree)
      .map(j => (Paths.get(new java.net.URI(j.get("path").asText())).getFileName.toString,
        j.get("batchId").asLong()))
      .distinct
      .groupBy(_._1)
      .map { case (name, es) => name -> es.flatMap(e => queryBatchOf.getOrElse(e._2, Nil)).sorted }
  }

  private def checkOutputs(f: Faces): Unit = {
    val s = spark
    import s.implicits._
    val folded = f.serving.asScala.toSeq.map { case ((w, u), c) => (w, u, c) }
      .toDF("window_end", "user_id", "cnt")
    val served = StreamingJobs.topNPerWindow(folded, 5, "user_id")
    val batchHot = SparkEntry.queries("hot_users_topn")(s, f.root)
    val hotRows = batchHot.collect()
    out.check(Harness.digest(served, served.collect()) == Harness.digest(batchHot, hotRows),
      "hot_users: served Top-N differs from hot_users_topn over the same files")
    val warned = f.warnings.synchronized(f.warnings.toList).toDF()
    val batchLogin = SparkEntry.queries("login_fail")(s, f.root)
    val loginRows = batchLogin.collect()
    out.check(Harness.digest(warned, warned.collect()) == Harness.digest(batchLogin, loginRows),
      "login_fail: streamed warnings differ from login_fail over the same files")
    Oracle.dump(s, a.work, "hot_users_topn", batchHot, hotRows, f.root)
    Oracle.dump(s, a.work, "login_fail", batchLogin, loginRows, f.root)
  }

  private def faceMetrics(face: String, q: StreamingQuery, released: Seq[Release],
                          batches: Map[String, Seq[Long]]): Unit = {
    val ps = progress.of(q).drop(1)
    val data = ps.filter(_.numInputRows > 0)
    val p = s"streaming.$face"
    out.metric(s"$p.batch_ms_p50", Harness.median(data.map(ms(_, "triggerExecution"))), "ms")
    out.metric(s"$p.batch_ms_p95", Harness.pct(data.map(ms(_, "triggerExecution")), 95), "ms")
    out.metric(s"$p.planning_ms_p50", Harness.median(data.map(ms(_, "queryPlanning"))), "ms")
    out.metric(s"$p.commit_ms_p50", Harness.median(data.map(b => ms(b, "walCommit") + ms(b, "commitOffsets"))), "ms")
    out.metric(s"$p.add_batch_ms_p50", Harness.median(data.map(ms(_, "addBatch"))), "ms")
    out.metric(s"$p.nodata_batch_ratio", (ps.length - data.length).toDouble / ps.length.max(1), "ratio")
    val lag = data.flatMap { b =>
      for (mx <- Option(b.eventTime.get("max")); wm <- Option(b.eventTime.get("watermark")))
        yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli) / 1000.0
    }
    out.metric(s"$p.watermark_lag_s", Harness.median(lag), "s")
    // files released before a batch started and not covered by an earlier batch
    val covered = batches.map { case (n, bs) => n -> bs.head }
    val backlog = ps.map { b =>
      val startMs = java.time.Instant.parse(b.timestamp).toEpochMilli
      released.count(r => r.doneMs > 0 && r.doneMs <= startMs && covered.get(r.name).forall(_ >= b.batchId))
    }
    out.metric(s"$p.backlog_files_max", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count")
    val ops = ps.flatMap(_.stateOperators)
    val events = data.map(_.numInputRows).sum.toDouble
    out.metric(s"$p.state_rows_updated_per_event", ops.map(_.numRowsUpdated).sum / events.max(1), "ratio")
    out.metric(s"$p.state_rows_max", if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble, "count")
    out.metric(s"$p.state_mb_max", if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max / 1e6, "MB")
    out.metric(s"$p.rows_dropped_late", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
  }
}

object StreamRun {
  /** Set-ups per run; `setup_s` is the median of all but the first.
    * Set-up time still falls from one set-up to the next as the JIT
    * warms, so a median over several is steadier than any one. */
  val SetupReps = 8

  /** Most latency may grow per second of the live phase (least-squares
    * slope) before the phase counts as falling behind. */
  val MaxLatencySlope = 0.05

  def slope(x: Seq[Double], y: Seq[Double]): Double = {
    val (mx, my) = (x.sum / x.length, y.sum / y.length)
    val sxx = x.map(v => (v - mx) * (v - mx)).sum
    if (sxx == 0) 0.0 else x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum / sxx
  }

  /** The events table's schema (the stream source cannot infer it from
    * an empty directory). */
  val EventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }
}
