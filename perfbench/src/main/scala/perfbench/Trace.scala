package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` names the module the time belongs to;
  * `parent` is the id of the enclosing span (-1 for a root). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
  def contains(o: Span, tolUs: Long = 0L): Boolean =
    startUs - tolUs <= o.startUs && o.endUs <= endUs + tolUs
}

/** Epoch microseconds from the monotonic clock, so the benchmark's own
  * spans line up with the epoch-millisecond times that Spark's listener
  * events and planning tracker carry. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans recorded around the benchmark's calls into each layer. One client
  * thread drives every operation, so a stack gives each span its parent.
  * When off, `span` only runs its body. */
final class Tracer {
  var on = false
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = Clock.nowUs
      try body
      finally {
        stack = stack.tail
        buf += Span(id, parent, layer, name, start, Clock.nowUs)
      }
    }

  def take(): Seq[Span] = { val r = buf.toList; buf.clear(); r }
}

/** Per-task counters summed over a traced pass. */
final class TaskSums {
  var tasks, failedTasks = 0L
  var runMs, cpuNs, schedDelayMs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, fetchWaitMs, spillBytes = 0L
  var inputRows, outputRows = 0L
}

/** Collects Spark job intervals, task counters and the planning phases of
  * every query execution while a traced pass runs. Times are event times,
  * not delivery times, so the asynchronous bus does not skew them. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobStart = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val phases = mutable.ArrayBuffer.empty[Phase]
  var sums = new TaskSums

  def reset(): Unit = synchronized {
    jobStart.clear(); jobs.clear(); phases.clear(); sums = new TaskSums
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time * 1000L
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += Job(s, e.time * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = sums
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      // the scheduler-delay formula of Spark's own stage page
      s.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResultTime > 0)
          e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRows += m.inputMetrics.recordsRead
      s.outputRows += m.outputMetrics.recordsWritten
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing")
        phases += Phase(qe.id, name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

object Recorder {
  final case class Job(startUs: Long, endUs: Long)
  final case class Phase(qe: Long, name: String, startUs: Long, endUs: Long)
}

/** One operation's assembled span tree and what it says per layer. */
final case class OpTrace(
    op: Span,
    spans: Seq[Span],
    selfUs: Map[String, Long],
    jobUnionUs: Long,
    txMetaUs: Long,
    actions: Int) {
  def wallUs: Long = op.durUs
  def accountedUs: Long = selfUs.valuesIterator.sum
  /** The layer accounting check: self times add up to the op's wall. */
  def accounted(tolerance: Double = 0.05): Boolean =
    math.abs(accountedUs - wallUs) <= tolerance * math.max(wallUs, 1L)
}

object Trace {
  /** Listener times are whole milliseconds; allow that much skew either
    * side of a bench span before calling an interval outside it. */
  val TolUs = 2000L

  val Layers = Seq("queries", "plans", "spark", "sources.txlog",
    "sources.warehouse", "driver")

  def layerOf(s: Span): String = s.layer match {
    case l if l.startsWith("plans.") => "plans"
    case "queries" | "spark" | "sources.txlog" | "sources.warehouse" => s.layer
    case _ => "driver"
  }

  /** Total length of the union of intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  private def clip(s: Span, to: Span): Span =
    s.copy(startUs = math.max(s.startUs, to.startUs),
      endUs = math.max(math.max(s.startUs, to.startUs), math.min(s.endUs, to.endUs)))

  /** Builds one tree per "op" span: the benchmark's own spans keep their
    * recorded parents; phases and (overlap-merged) job groups from the
    * listener hang under the innermost span that contains them. */
  def assemble(bench: Seq[Span], jobs: Seq[(Long, Long)],
               phases: Seq[(Long, String, Long, Long)]): Seq[OpTrace] = {
    val byId = bench.map(s => s.id -> s).toMap
    def opOf(s: Span): Option[Span] =
      if (s.layer == "op") Some(s)
      else byId.get(s.parent).flatMap(opOf)
    val benchByOp = bench.groupBy(opOf).collect { case (Some(o), ss) => o -> ss }
    var nextId = (if (bench.isEmpty) 0 else bench.map(_.id).max) + 1
    bench.filter(_.layer == "op").sortBy(_.startUs).map { op =>
      val own = benchByOp.getOrElse(op, Seq(op))
      val inOp = (a: Long, b: Long) =>
        a >= op.startUs - TolUs && b <= op.endUs + TolUs
      val opJobs = jobs.filter { case (a, b) => inOp(a, b) }
        .map { case (a, b) => (math.max(a, op.startUs), math.min(b, op.endUs)) }
      // concurrent jobs (broadcasts beside the main job) are one stretch
      // of Spark time, so overlapping ones merge into a single span
      val groups = mutable.ArrayBuffer.empty[(Long, Long, Int)]
      opJobs.sortBy(_._1).foreach { case (a, b) =>
        if (groups.nonEmpty && a < groups.last._2)
          groups(groups.size - 1) = (groups.last._1, math.max(b, groups.last._2), groups.last._3 + 1)
        else groups += ((a, b, 1))
      }
      val opPhases = phases.filter { case (_, _, a, b) => inOp(a, b) }
      val listened = opPhases.map { case (_, n, a, b) =>
          val id = nextId; nextId += 1
          Span(id, -1, s"plans.$n", n, a, b)
        } ++ groups.map { case (a, b, n) =>
          val id = nextId; nextId += 1
          Span(id, -1, "spark", s"jobs:$n", a, b)
        }
      // innermost container first: a job inside a planning phase nests
      // under the phase, a phase inside a TxLog call under the call
      val placed = mutable.ArrayBuffer.from(own)
      listened.sortBy(s => (-s.durUs, s.startUs)).foreach { l =>
        val parent = placed.filter(p => p.id != l.id && p.contains(l, TolUs) &&
            p.durUs >= l.durUs)
          .minByOption(_.durUs).getOrElse(op)
        placed += clip(l.copy(parent = parent.id), parent)
      }
      val spans = placed.toSeq
      val kids = spans.groupBy(_.parent)
      val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
      spans.foreach { s =>
        val covered = unionUs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a })
        self(layerOf(s)) += s.durUs - covered
      }
      val txMeta = spans.filter(_.layer == "sources.txlog").map { t =>
        t.durUs - unionUs(opJobs.filter { case (a, b) => a >= t.startUs - TolUs && b <= t.endUs + TolUs }
          .map { case (a, b) => (math.max(a, t.startUs), math.min(b, t.endUs)) }
          .filter { case (a, b) => b > a })
      }.sum
      OpTrace(op, spans, self.toMap, unionUs(opJobs.filter { case (a, b) => b > a }),
        txMeta, opPhases.map(_._1).distinct.size)
    }
  }
}
