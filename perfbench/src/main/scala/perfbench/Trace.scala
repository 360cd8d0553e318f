package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

/** One timed interval recorded by the harness around a call into graft.
  * `kind` is the layer boundary ("pass", "op", "construct", "plan",
  * "exec", "open", "epoch", "compact"); `parent` is the enclosing span's
  * id (-1 for none). Wall-clock milliseconds are kept beside the
  * nanosecond clock because Spark stamps its events in wall-clock ms. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(tMs: Long): Boolean = startMs <= tMs && tMs <= endMs
}

/** Spans kept in memory; written out when the run ends. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def span[T](kind: String, name: String, parent: Int = -1)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val ms = System.currentTimeMillis()
    val ns = System.nanoTime()
    try body(id)
    finally done += Span(id, parent, kind, name, ms, System.currentTimeMillis(), ns, System.nanoTime())
  }

  /** The span that ended last (an enclosing span ends after its children). */
  def last: Span = done.last
  def since(id: Int): Seq[Span] = done.filter(_.id >= id).toSeq
  def mark: Int = nextId
}

final case class JobRec(id: Int, submitMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, inBytes: Long, shuffleWrite: Long, shuffleRead: Long,
                         spill: Long, peakMem: Long, failed: Boolean)

/** Job, stage and task records from the scheduler's listener bus.
  * Jobs are later charged to harness spans by their submission time (not
  * by local properties, which pooled threads carry over from whichever
  * operation created them). */
final class JobRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  @volatile var lastEventNs: Long = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time); touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()); touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
      metric(_.executorRunTime), metric(_.executorCpuTime), metric(_.jvmGCTime),
      metric(_.inputMetrics.bytesRead), metric(_.shuffleWriteMetrics.bytesWritten),
      metric(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      metric(t => t.memoryBytesSpilled + t.diskBytesSpilled), metric(_.peakExecutionMemory),
      i.failed || i.killed)
    touch()
  }

  /** Block until every job seen has ended and the bus has been quiet for
    * a moment, so records of the last operation are complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized(jobs.values.forall(_.endMs >= 0)) &&
      System.nanoTime() - lastEventNs > 300000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }
}

/** Counts ERROR (and worse) log events from every logger. */
final class ErrorCounter extends AbstractAppender(
    "perfbench-error-counter", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

object ErrorCounter {
  def attach(): ErrorCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val a = new ErrorCounter
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.ERROR, null)
    ctx.updateLoggers()
    a
  }

  def detach(a: ErrorCounter): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(a.getName)
    ctx.updateLoggers()
    a.stop()
  }
}

/** Peak live heap over an interval: the heap in use right after each
  * collection (what survived it), sampled every 100 ms. The raw peak is
  * not used: with a fixed heap it reads the heap size. */
final class HeapPeak extends Thread("perfbench-heap-peak") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var peak = 0L
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null).toSeq
  private def sample(): Unit = peak = math.max(peak, pools.map(_.getCollectionUsage.getUsed).sum)
  override def run(): Unit = while (running) { sample(); Thread.sleep(100) }
  def stopMb(): Double = { running = false; join(); sample(); peak / 1048576.0 }
}

/** The traced phase's per-layer metrics, computed from the harness's
  * spans and the scheduler's records. Times are seconds, sizes MB.
  * Per-op figures are means over the phase's operations (requests,
  * entries or epochs); per-pass figures are totals for one pass. */
object Layers {
  private val MB = 1048576.0

  /** Milliseconds of `span` covered by the union of the intervals. */
  private def covered(span: Span, intervals: Seq[(Long, Long)]): Long = {
    val iv = intervals.map { case (a, b) => (math.max(a, span.startMs), math.min(b, span.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** graft's module of a registry entry, by the entry's name prefix. */
  val Modules = Seq("similarity" -> "ann_", "graph" -> "graph_", "text" -> "text_", "dedup" -> "dedup_")

  def compute(spans: Seq[Span], rec: JobRecorder, ops: Seq[Span], passes: Int)
      : mutable.LinkedHashMap[String, Double] = {
    val jobs = rec.synchronized(rec.jobs.values.filter(_.endMs >= 0).toVector)
    val tasks = rec.synchronized(rec.tasks.toVector)
    val stageSubmit = rec.synchronized(rec.stageSubmitMs.toMap)
    // a stage that several jobs list ran its tasks in the first of them
    val jobOfStage = mutable.HashMap.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, j.id)))
    val tasksOfJob = tasks.groupBy(t => jobOfStage.getOrElse(t.stageId, -1))

    val children = spans.groupBy(_.parent)
    def kids(s: Span, kind: String) = children.getOrElse(s.id, Nil).filter(_.kind == kind)
    def jobsIn(s: Span) = jobs.filter(j => s.contains(j.submitMs))
    def jobIntervals(s: Span) = jobsIn(s).map(j => (j.submitMs, j.endMs))
    val opJobs = ops.flatMap(jobsIn)
    val opTasks = opJobs.flatMap(j => tasksOfJob.getOrElse(j.id, Nil))
    val n = math.max(ops.size, 1).toDouble

    def sumKids(kind: String) = ops.flatMap(kids(_, kind)).map(_.seconds).sum
    def selfOf(kind: String) = ops.flatMap(kids(_, kind))
      .map(s => s.seconds - covered(s, jobIntervals(s)) / 1000.0).sum
    val opS = ops.map(_.seconds).sum
    val constructS = sumKids("construct")
    val planS = sumKids("plan")
    val execS = sumKids("exec")
    val constructJobs = ops.flatMap(kids(_, "construct")).map(jobsIn(_).size).sum

    val opens = spans.filter(_.kind == "open")
    val openJobs = opens.map(jobsIn(_).size).sum

    val stageIds = opTasks.map(_.stageId).distinct
    val skews = opTasks.groupBy(_.stageId).values.filter(_.size >= 4).map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      val med = median(d)
      if (med > 0) d.max / med else 1.0
    }.toSeq
    val waits = opTasks.flatMap(t => stageSubmit.get(t.stageId).map(s => (t.launchMs - s) / 1000.0))

    val compacts = spans.filter(_.kind == "compact")
    val epochs = spans.filter(_.kind == "epoch")

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("tables.open_s") = if (opens.isEmpty) 0.0 else opens.map(_.seconds).sum / opens.size
    m("tables.open_jobs") = openJobs.toDouble
    m("tables.jobs_per_open") = if (opens.isEmpty) 0.0 else openJobs.toDouble / opens.size
    m("construct.s") = constructS / n
    m("construct.self_s") = selfOf("construct") / n
    m("construct.jobs") = constructJobs / n
    m("construct.share") = if (opS > 0) constructS / opS else 0.0
    Modules.foreach { case (module, prefix) =>
      m(s"construct.${module}_s") = ops.filter(_.name.startsWith(prefix))
        .flatMap(kids(_, "construct")).map(_.seconds).sum / math.max(passes, 1)
    }
    m("catalyst.plan_s") = planS / n
    m("scheduler.jobs") = opJobs.size / n
    m("scheduler.job_s") = opJobs.map(j => (j.endMs - j.submitMs) / 1000.0).sum / n
    m("scheduler.stages") = stageIds.size / n
    m("scheduler.tasks") = opTasks.size / n
    m("scheduler.task_wait_s") = if (waits.isEmpty) 0.0 else waits.sum / waits.size
    m("scheduler.failed_tasks") = opTasks.count(_.failed).toDouble
    m("exec.s") = execS / n
    m("exec.self_s") = selfOf("exec") / n
    m("exec.task_run_s") = opTasks.map(_.runMs).sum / 1000.0 / n
    m("exec.task_cpu_s") = opTasks.map(_.cpuNs).sum / 1e9 / n
    m("exec.input_mb") = opTasks.map(_.inBytes).sum / MB / n
    m("exec.shuffle_write_mb") = opTasks.map(_.shuffleWrite).sum / MB / n
    m("exec.shuffle_read_mb") = opTasks.map(_.shuffleRead).sum / MB / n
    m("exec.spill_mb") = opTasks.map(_.spill).sum / MB / n
    m("exec.gc_s") = opTasks.map(_.gcMs).sum / 1000.0 / n
    m("exec.peak_task_mem_mb") = if (opTasks.isEmpty) 0.0 else opTasks.map(_.peakMem).max / MB
    m("exec.skew_max_median") = if (skews.isEmpty) 0.0 else median(skews)
    m("stream.epoch_jobs") = if (epochs.isEmpty) 0.0 else epochs.map(jobsIn(_).size).sum.toDouble / epochs.size
    m("stream.compact_s") = if (compacts.isEmpty) 0.0 else compacts.map(_.seconds).sum / compacts.size
    m("stream.compactions") = compacts.size.toDouble / math.max(passes, 1)
    m("trace.ops") = ops.size.toDouble
    // the part of an operation that neither a harness child span nor a
    // Spark job covers: the harness's own share, or (for a stream epoch,
    // which has no child spans) the driver-side micro-batch work
    m("trace.op_self_s") = ops.map { o =>
      val inside = children.getOrElse(o.id, Nil).map(c => (c.startMs, c.endMs)) ++ jobIntervals(o)
      o.seconds - covered(o, inside) / 1000.0
    }.sum / n
    m
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
