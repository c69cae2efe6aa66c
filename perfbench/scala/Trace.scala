package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed interval. Times are epoch milliseconds (fractional), so the
  * benchmark's own spans and Spark's listener events share one clock.
  * `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis().toDouble
  /** Monotonic epoch-aligned milliseconds. */
  def nowMs: Double = anchorEpochMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Spans around the benchmark's calls into the program. Disabled, `span`
  * only runs its body: untraced runs pay nothing. Spans stay in memory
  * and are written once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private def newId(): Int = { nextId += 1; nextId }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, "bench", t0, Clock.nowMs)
      }
    }

  /** Adds a span measured elsewhere (a micro-batch, a Spark job or stage);
    * `parent` -2 asks for the innermost benchmark span enclosing its start.
    */
  def record(name: String, kind: String, startMs: Double, endMs: Double,
      parent: Int = -2): Int = {
    val id = newId()
    if (enabled) spans += Span(id, parent, name, kind, startMs, endMs)
    id
  }

  /** Every span, with each recorded span parented to the innermost
    * benchmark span or micro-batch that encloses its start.
    */
  def all: Seq[Span] = {
    val own = spans.toSeq
    val hosts = own.filter(s => s.kind == "bench" || s.kind == "batch")
    own.map { s =>
      if (s.parent != -2) s
      else {
        val enclosing = hosts.filter(b => b.id != s.id && b.startMs <= s.startMs &&
          s.startMs <= b.endMs && b.durMs >= s.durMs)
        s.copy(parent = if (enclosing.isEmpty) -1 else enclosing.minBy(_.durMs).id)
      }
    }
  }
}

object Trace {
  /** Total duration minus the part of each span covered by its children,
    * summed per span name.
    */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }
        s.durMs - Stats.unionLength(ivs)
      }.sum
    }
  }
}

final class StageAgg(val stageId: Int, val name: String) {
  var submitMs = 0.0
  var endMs = 0.0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var failedTasks = 0
  val taskMs = ArrayBuffer.empty[Long]
}

final class JobAgg(val jobId: Int, val startMs: Double, val stageIds: Seq[Int]) {
  var endMs = 0.0
}

/** Per-stage task totals and job intervals, drained between passes. */
final class StageListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  private def stage(id: Int, name: String) =
    stages.computeIfAbsent(id, _ => new StageAgg(id, name))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new JobAgg(e.jobId, e.time.toDouble, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.name)
    e.stageInfo.submissionTime.foreach(t => s.submitMs = t.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.name)
    e.stageInfo.submissionTime.foreach(t => if (s.submitMs == 0) s.submitMs = t.toDouble)
    e.stageInfo.completionTime.foreach(t => s.endMs = t.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, "")
    s.synchronized {
      if (e.taskInfo.failed) s.failedTasks += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Everything seen since the last call; the caller drains the bus first. */
  def take(): (Seq[JobAgg], Seq[StageAgg]) = {
    val j = jobs.values.asScala.toSeq.sortBy(_.jobId)
    val s = stages.values.asScala.toSeq.sortBy(_.stageId)
    jobs.clear(); stages.clear()
    (j, s)
  }
}

/** Micro-batch progress of every streaming query on the session. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = buf.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def take(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val out = buf.asScala.toSeq
    buf.clear()
    out
  }
}

/** Stage-layer figures of one pass. */
final case class StageSums(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
    runS: Double, gcS: Double, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, input: Long, output: Long, skew: Double,
    utilization: Double, driverGapS: Double, failedTasks: Int)

object StageSums {
  def of(jobs: Seq[JobAgg], stages: Seq[StageAgg], wallS: Double,
      passStartMs: Double, passEndMs: Double, cores: Int): StageSums = {
    val run = stages.map(_.runMs).sum / 1e3
    // the stage that bounds the pass: the one with the most task time
    val worst = if (stages.isEmpty) None else Some(stages.maxBy(_.runMs))
    val skew = worst.map { w =>
      val med = Stats.median(w.taskMs.map(_.toDouble).toSeq)
      if (med > 0) w.taskMs.max / med else 1.0
    }.getOrElse(1.0)
    val busy = Stats.unionLength(jobs.map(j =>
      (math.max(j.startMs, passStartMs), math.min(if (j.endMs > 0) j.endMs else passEndMs, passEndMs))))
    StageSums(jobs.size, stages.size, stages.map(_.taskMs.size).sum,
      stages.map(_.cpuNs).sum / 1e9, run, stages.map(_.gcMs).sum / 1e3,
      stages.map(_.shuffleWrite).sum, stages.map(_.shuffleRead).sum,
      stages.map(_.spill).sum, stages.map(_.input).sum,
      stages.map(_.output).sum, skew,
      if (wallS > 0) run / (wallS * cores) else 0.0,
      math.max(0.0, wallS - busy / 1e3), stages.map(_.failedTasks).sum)
  }
}
