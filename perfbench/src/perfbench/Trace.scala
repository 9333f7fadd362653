package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call at a layer boundary. `parent` is the id of the span
  * that was open on the same thread when this one started (-1 at the
  * root); spans of one operation share `op`. Times are nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      start: Long, end: Long)

/** In-memory span recorder. While `recording` is false `span` only runs
  * its body, so an untraced run pays one volatile read per call. */
final class Tracer {
  @volatile var recording = false
  private val spans = ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!recording) body
    else {
      val id = newId()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { spans += Span(id, name, stack.headOption.getOrElse(-1), op, t0, t1) }
      }
    }

  /** Record a span measured elsewhere (streaming phases reported by
    * the engine after the fact). */
  def add(name: String, parent: Int, op: Long, start: Long, end: Long): Int =
    if (!recording) -1
    else {
      val id = newId()
      synchronized { spans += Span(id, name, parent, op, start, end) }
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Duration minus the part of it covered by child spans. */
  def selfTimes: Map[Int, Long] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - (a max reach)), b)
        }._1
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** Per-operation Spark counters, attributed through the job-local
  * property [[Counters.OpKey]] the harness sets before each call. */
final class Counters extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, schedMs, shuffleBytes, spillBytes, writeBytes = 0L
  }
  private val byOp = new ConcurrentHashMap[String, Agg]()
  private val stageOp = new ConcurrentHashMap[Int, String]()

  private def agg(op: String): Agg = byOp.computeIfAbsent(op, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.OpKey)))
      .getOrElse("untagged")
    e.stageIds.foreach(stageOp.put(_, op))
    val a = agg(op)
    a.synchronized(a.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageOp.getOrDefault(e.stageInfo.stageId, "untagged"))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    val a = agg(stageOp.getOrDefault(e.stageId, "untagged"))
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Sum over the operations `ops` accepts. */
  def total(ops: String => Boolean): Agg = {
    val t = new Agg
    byOp.asScala.foreach { case (k, a) if ops(k) =>
      a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.schedMs += a.schedMs
        t.shuffleBytes += a.shuffleBytes; t.spillBytes += a.spillBytes
        t.writeBytes += a.writeBytes
      }
      case _ => ()
    }
    t
  }
}

object Counters {
  val OpKey = "perfbench.op"
}

/** The traced run's sidecar: every span with its self time, plus the
  * per-name totals. */
object Spans {
  def write(tracer: Tracer, path: String): Unit = {
    val all = tracer.all
    val self = tracer.selfTimes
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val byName = all.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.length, "total_s" -> ss.map(s => s.end - s.start).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
    Harness.writeJson(path, Map(
      "by_name" -> byName,
      "spans" -> all.sortBy(_.start).map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_s" -> (s.start - t0) / 1e9,
        "end_s" -> (s.end - t0) / 1e9, "self_s" -> self(s.id) / 1e9))))
  }
}
