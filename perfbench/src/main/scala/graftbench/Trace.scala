package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a call into an engine layer. `trace` groups
  * the spans of one cycle or one query; `parent` is the enclosing span
  * (0 at the top). Times are wall-clock milliseconds, the clock the
  * listener's job and task events use. */
final case class Span(id: Long, name: String, parent: Long, trace: Long,
    startMs: Long, endMs: Long) {
  def wallMs: Long = endMs - startMs
}

/** Task totals of one stage (or of any set of stages). */
final class TaskTally {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  def add(o: TaskTally): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    schedDelayMs += o.schedDelayMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

final case class JobRec(id: Int, group: Option[String], startMs: Long,
    stageIds: Seq[Int], var endMs: Long = -1L)

/** Collects job, stage and task events. Jobs carry the job group their
  * span set; tasks roll up into their stage. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, TaskTally]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stages.getOrElseUpdate(e.stageId, new TaskTally)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        t.schedDelayMs += math.max(0L, info.duration - busy)
      }
    }
  }
}

/** What the jobs attributed to one span (and its descendants) did. */
final case class SpanCost(jobs: Int, stages: Int, tally: TaskTally,
    gapMs: Long)

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced run registers no listener and sets no job group. Enabled,
  * each span sets a job group so the listener can attribute jobs to it;
  * a job that carries no bench group (a thread the group did not reach)
  * falls to the innermost span open at its start, which is exact for the
  * benchmark's single-client closed loop. */
final class Recorder(sc: SparkContext, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Long, String, Long)] // id, name, startMs
  private var nextId = 1L
  private var traceId = 0L
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) }
    else None

  def newTrace(): Unit = traceId += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, name, System.currentTimeMillis()) :: stack
      sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, traceId, start, System.currentTimeMillis())
        stack.headOption match {
          case Some((pid, pname, _)) =>
            sc.setJobGroup(groupOf(pid), pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def groupOf(id: Long) = s"graftbench-$id"

  def spans: Seq[Span] = done.toSeq

  /** Cost of every span: its own jobs plus its descendants'. */
  def costs(): Map[Long, SpanCost] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.BenchBus.drain(sc)
      l.synchronized {
        val byId = done.map(s => s.id -> s).toMap
        val children = done.groupBy(_.parent)
        // job → owning span: its group, else the innermost span open at
        // its start
        val owner = l.jobs.values.flatMap { j =>
          val fromGroup = j.group.filter(_.startsWith("graftbench-"))
            .map(_.stripPrefix("graftbench-").toLong).filter(byId.contains)
          fromGroup.orElse(
            done.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
              .sortBy(s => s.endMs - s.startMs).headOption.map(_.id))
            .map(_ -> j)
        }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
        def subtree(id: Long): Seq[Long] =
          id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSeq
        done.map { s =>
          val js = subtree(s.id).flatMap(owner.getOrElse(_, Nil))
          val tally = new TaskTally
          val stageIds = js.flatMap(_.stageIds).distinct
          stageIds.foreach(st => l.stages.get(st).foreach(tally.add))
          val ran = stageIds.count(l.stages.contains)
          s.id -> SpanCost(js.size, ran, tally, gapMs(s, js))
        }.toMap
      }
  }

  /** Wall time of `s` covered by none of `jobs`. */
  private def gapMs(s: Span, jobs: Seq[JobRec]): Long = {
    val iv = jobs.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    s.wallMs - covered
  }

  /** Self time of every span: its wall minus the part its children cover
    * (children never overlap: the benchmark is one closed-loop client). */
  def selfMs(): Map[Long, Long] = {
    val children = done.groupBy(_.parent)
    done.map { s =>
      s.id -> (s.wallMs - children.getOrElse(s.id, Nil).map(_.wallMs).sum)
    }.toMap
  }
}
