package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans of one run: workload → unit (pass, iteration or round) → call →
  * phase, kept in memory. Spans are always recorded (a clock read each);
  * the traced run also attaches [[ExecListener]], whose Spark jobs hang
  * off the call that submitted them. The trace is written once, at the
  * end of the run.
  */
final class Trace(sc: SparkContext, val traced: Boolean) {
  import Trace.Span

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 0
  val exec: Option[ExecListener] = if (traced) Some(new ExecListener) else None
  private var attached = false

  /** Whether the listener is attached and calls set their job group; the
    * traced run turns this on for every other unit.
    */
  def on: Boolean = attached
  def on_=(v: Boolean): Unit = if (v != attached) exec.foreach { l =>
    if (v) sc.addSparkListener(l)
    else { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(l) }
    attached = v
  }

  /** Runs `f` inside a span; `attrs` is read when `f` has returned. A call
    * span sets the job group, so the listener can tie jobs to it.
    */
  def span[A](name: String, kind: String, attrs: => Map[String, Any] = Map.empty)(f: => A): A = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    if (on && kind == "call") sc.setJobGroup(id.toString, name)
    val wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      spans += Span(id, parent, name, kind, wall, System.nanoTime() - t0, attrs)
      r
    } catch {
      case e: Throwable =>
        spans += Span(id, parent, name, kind, wall, System.nanoTime() - t0,
          Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        throw e
    } finally {
      stack = stack.tail
      if (on && kind == "call") sc.clearJobGroup()
    }
  }

  def of(kind: String): Seq[Span] = spans.filter(_.kind == kind).toSeq

  /** The trace as JSON: recorded spans plus the listener's job spans,
    * each with its self time (duration minus what its children cover).
    */
  def toJson: String = {
    val jobs = exec.map(_.jobSpans).getOrElse(Seq.empty)
    val all: Seq[(Int, Int, String, String, Long, Long, Map[String, Any])] =
      spans.toSeq.map(s => (s.id, s.parent, s.name, s.kind, s.startMs, s.endMs, s.attrs)) ++
        jobs.zipWithIndex.map { case (j, i) =>
          (-(i + 1), j.group, s"job ${j.jobId}", "job", j.startMs, j.endMs, j.attrs) }
    val kids = all.groupBy(_._2)
    Json(all.map { case (id, parent, name, kind, start, end, attrs) =>
      val covered = Trace.union(kids.getOrElse(id, Nil).map(k => (k._5, k._6)), start, end)
      Map("id" -> id, "parent" -> parent, "name" -> name, "kind" -> kind,
        "start_ms" -> start, "dur_ms" -> (end - start),
        "self_ms" -> ((end - start) - covered)) ++ attrs
    })
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        startMs: Long, durNs: Long, attrs: Map[String, Any]) {
    def endMs: Long = startMs + durNs / 1000000L
    def ms: Double = durNs / 1e6
  }

  /** Milliseconds of [lo, hi) covered by the union of `ivs`. */
  def union(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}

/** The benchmark's own Spark listener: per-job task counts, task time,
  * shuffle bytes and spill, and every task's run interval (for idle time).
  */
final class ExecListener extends SparkListener {
  final class Job(val jobId: Int, val group: Int, val startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks, failedTasks = 0
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    def attrs: Map[String, Any] = Map("stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> runMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead)
  }
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Job]()
  val taskIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(0)
    val j = new Job(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (info != null && !info.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobSpans: Seq[Job] = synchronized(jobs.values.toSeq)

  /** Jobs that started inside [lo, hi) wall ms. */
  def jobsIn(lo: Long, hi: Long): Seq[Job] = jobSpans.filter(j => j.startMs >= lo && j.startMs < hi)

  def tasks: Seq[(Long, Long)] = synchronized(taskIntervals.toSeq)
}
