package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder plus Spark listener counts for the traced run.
  *
  * A span is a named wall-clock interval with a parent and a pass id. While a
  * span is open its id is the thread's `perfbench.span` local property, so
  * every job and stage Spark submits inside it carries the id in its
  * properties: jobs, stages and task metrics are attributed exactly, with no
  * timing heuristics. Query-planning phases (from `QueryExecutionListener`)
  * carry no properties, so they go to the innermost span whose interval
  * holds the phase start.
  *
  * Listener callbacks run on the listener-bus thread; call [[drain]] before
  * reading any count.
  */
final class Collector(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Collector._

  final case class Span(id: Int, name: String, parent: Int, pass: Int,
                        startNs: Long, startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Listener totals for one span (its own work, not its children's). */
  final class Counts {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskCpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spillMem = 0L; var spillDisk = 0L
    var planMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskCpuNs += o.taskCpuNs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spillMem += o.spillMem; spillDisk += o.spillDisk; planMs += o.planMs
      jobIntervals ++= o.jobIntervals
    }
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val counts = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
  private val planEvents = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, duration ms)

  /** Run `body` inside a new child span of the innermost open span. */
  def span[T](name: String, pass: Int = 0)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), pass,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  def drain(): Unit = ListenerBusDrain(sc)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
  private def countsOf(id: Int): Counts = counts.getOrElseUpdate(id, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = spanOf(e.properties)
    jobStart(e.jobId) = (id, e.time)
    countsOf(id).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (id, t0) => countsOf(id).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = id
    countsOf(id).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = countsOf(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      c.taskCpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spillMem += m.memoryBytesSpilled
      c.spillDisk += m.diskBytesSpilled
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) planEvents += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = recordPlan(qe)

  /** Listener totals of span `id` and all its descendants. Drains first. */
  def total(id: Int): Counts = {
    drain()
    synchronized {
      assignPlanEvents()
      val ids = subtree(id)
      val t = new Counts
      ids.foreach(i => counts.get(i).foreach(t.add))
      t
    }
  }

  /** Seconds of `s` covered by no job of its subtree: driver-side time
    * (planning, scheduling, result handling) between and around jobs. */
  def driverGapSeconds(s: Span): Double = {
    val merged = total(s.id).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, iv) => iv :: acc
      }
    val coveredMs = merged.map { case (a, b) => b - a }.sum
    math.max(0.0, s.seconds - coveredMs / 1e3)
  }

  def selfSeconds(s: Span): Double = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  private var assignedPlans = 0
  private def assignPlanEvents(): Unit = {
    planEvents.drop(assignedPlans).foreach { case (startMs, durMs) =>
      val holder = spans.filter(s => s.startMs <= startMs && startMs <= s.endMs)
        .sortBy(s => (-s.startMs, s.endMs - s.startMs)).headOption.map(_.id).getOrElse(-1)
      countsOf(holder).planMs += durMs
    }
    assignedPlans = planEvents.size
  }

  private def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ subtree(k))
  }

  /** All spans, with self time and their own listener counts, as JSON. */
  def spansJson: String = {
    drain()
    synchronized {
      assignPlanEvents()
      Json.render(spans.toSeq.map { s =>
        val c = counts.getOrElse(s.id, new Counts)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.seconds,
          "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_cpu_s" -> c.taskCpuNs / 1e9, "shuffle_read_bytes" -> c.shuffleRead,
          "shuffle_write_bytes" -> c.shuffleWrite, "spill_memory_bytes" -> c.spillMem,
          "spill_disk_bytes" -> c.spillDisk, "plan_s" -> c.planMs / 1e3,
          "job_intervals_ms" -> c.jobIntervals.toSeq.sorted.map { case (a, b) => Seq(a, b) })
      })
    }
  }
}

object Collector {
  val SpanKey = "perfbench.span"
}
