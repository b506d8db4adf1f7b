package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-level counts for a window of work, read from a listener the
  * benchmark registers (the engine is not instrumented). */
final case class SparkWindow(jobs: Int, stages: Int, tasks: Long,
    execRunMs: Double, execCpuMs: Double, gcMs: Double, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    taskSkew: Double, driverGapMs: Double,
    jobIntervals: Seq[(Int, Long, Long)],
    stageIntervals: Seq[(Int, Int, Long, Long)])

/** Collects job, stage and task events. Callers run one operation at a
  * time and call [[window]] after it, which drains the listener bus and
  * takes everything recorded since the previous window. */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  import SparkProbe.{Job, Stage}

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  // task durations per stage, for skew
  private val taskDur =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  @volatile var on: Boolean = true

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (on && s != 0L) jobs.add(Job(e.jobId, s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskInfo != null)
      taskDur.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new ConcurrentLinkedQueue[Long]()).add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.add(Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = Seq.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  /** Everything recorded since the last call; `wallMs` is the window's
    * wall time, used for the part of it no job covered. */
  def window(wallMs: Double): SparkWindow = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val js = drain(jobs)
    val ss = drain(stages)
    val skews = ss.flatMap { s =>
      Option(taskDur.remove((s.id, s.attempt))).map(_.asScala.toArray.sorted)
        .filter(_.nonEmpty).map { d =>
          val med = Stats.quantile(d.map(_.toDouble), 0.5)
          d.last / math.max(med, 1.0)
        }
    }
    val covered = Trace.unionNs(js.map(j => (j.startMs, j.endMs))).toDouble
    SparkWindow(js.size, ss.size, ss.map(_.tasks.toLong).sum,
      ss.map(_.run).sum.toDouble, ss.map(_.cpuNs).sum / 1e6,
      ss.map(_.gc).sum.toDouble, ss.map(_.in).sum, ss.map(_.shR).sum,
      ss.map(_.shW).sum, ss.map(_.spill).sum,
      if (skews.isEmpty) 1.0 else skews.max,
      math.max(0.0, wallMs - covered),
      js.map(j => (j.id, j.startMs, j.endMs)),
      ss.map(s => (s.id, s.attempt, s.startMs, s.endMs)))
  }
}

object SparkProbe {
  private final case class Job(id: Int, startMs: Long, endMs: Long)
  private final case class Stage(id: Int, attempt: Int, startMs: Long,
      endMs: Long, tasks: Int, run: Long, cpuNs: Long, gc: Long, in: Long,
      shR: Long, shW: Long, spill: Long)

  /** Sum of windows, for totals over many operations. */
  def sum(ws: Seq[SparkWindow]): SparkWindow =
    SparkWindow(ws.map(_.jobs).sum, ws.map(_.stages).sum, ws.map(_.tasks).sum,
      ws.map(_.execRunMs).sum, ws.map(_.execCpuMs).sum, ws.map(_.gcMs).sum,
      ws.map(_.inputBytes).sum, ws.map(_.shuffleReadBytes).sum,
      ws.map(_.shuffleWriteBytes).sum, ws.map(_.spillBytes).sum,
      if (ws.isEmpty) 1.0 else ws.map(_.taskSkew).max,
      ws.map(_.driverGapMs).sum, Nil, Nil)

  /** Per-layer metrics for `ops` operations summed in `w`, per operation. */
  def metrics(w: SparkWindow, ops: Int): Seq[(String, Double, String)] = {
    val n = math.max(ops, 1).toDouble
    Seq(
      ("spark.jobs", w.jobs / n, "count"),
      ("spark.stages", w.stages / n, "count"),
      ("spark.tasks", w.tasks / n, "count"),
      ("spark.exec_run_ms", w.execRunMs / n, "ms"),
      ("spark.exec_cpu_ms", w.execCpuMs / n, "ms"),
      ("spark.gc_ms", w.gcMs / n, "ms"),
      ("spark.input_bytes", w.inputBytes / n, "bytes"),
      ("spark.shuffle_read_bytes", w.shuffleReadBytes / n, "bytes"),
      ("spark.shuffle_write_bytes", w.shuffleWriteBytes / n, "bytes"),
      ("spark.spill_bytes", w.spillBytes / n, "bytes"),
      ("spark.task_skew", w.taskSkew, "ratio"),
      ("spark.driver_gap_ms", w.driverGapMs / n, "ms"))
  }
}

/** Durations, in ms, of the tasks that ended between [[start]] and
  * [[stop]]. Cheap enough to run untraced: one queue add per task. */
final class TaskTimes(sc: SparkContext) extends SparkListener {
  private val ms = new ConcurrentLinkedQueue[Double]()
  @volatile private var on = false

  sc.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskInfo != null && e.taskInfo.successful)
      ms.add(e.taskInfo.duration.toDouble)

  def start(): Unit = { org.apache.spark.PerfbenchBridge.drainListeners(sc); on = true }

  def stop(): Seq[Double] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    on = false
    sc.removeSparkListener(this)
    ms.asScala.toSeq
  }
}
