package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span (-1 at
  * the top), `op` the operation it belongs to (-1 during set-up). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long)

final case class JobRec(id: Int, group: String, site: String,
                        startMs: Long, var endMs: Long)

final case class StageRec(id: Int, job: Int, tasks: Int, runMs: Long,
                          cpuNs: Long, gcMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spill: Long, input: Long)

/** Job, stage and task counts, keyed by the job group the tracer sets
  * around each span. Events arrive on the listener bus thread; readers
  * call [[Tracer.drained]] first. */
final class CountingListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = ArrayBuffer[StageRec]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    // the result stage carries the job's call site ("parquet at X.scala:N")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobRec(e.jobId, group, site, e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages += StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1),
      si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out at the end. Disabled, a span is just the call. Enabled,
  * each span runs under its own Spark job group, so every job is
  * attributed to the innermost span that started it. */
final class Tracer {
  private var recording = false
  val spans = ArrayBuffer[Span]()
  private var listener = new CountingListener
  private var sc: SparkContext = _
  private var stack: List[Int] = Nil

  /** Binds to a (new) context; counts start afresh, job ids restart. */
  def attach(ctx: SparkContext): Unit = {
    sc = ctx
    listener = new CountingListener
    if (recording) sc.addSparkListener(listener)
  }

  def on: Boolean = recording

  /** Starts recording spans and counts (on the attached context, if any). */
  def enable(): Unit = if (!recording) {
    recording = true
    if (sc != null) sc.addSparkListener(listener)
  }

  /** Stops recording; counts so far are kept. */
  def disable(): Unit = if (recording) {
    recording = false
    sc.removeSparkListener(listener)
  }

  def apply[T](name: String, op: Int)(f: => T): T = {
    if (!on) return f
    val id = spans.size
    spans += Span(id, name, stack.headOption.getOrElse(-1), op, System.nanoTime(), -1L)
    stack = id :: stack
    group(Some(id))
    try f
    finally {
      spans(id).endNs = System.nanoTime()
      stack = stack.tail
      group(stack.headOption)
    }
  }

  private def group(span: Option[Int]): Unit =
    if (sc != null && !sc.isStopped) span match {
      case Some(p) => sc.setJobGroup(s"span-$p", spans(p).name)
      case None => sc.clearJobGroup()
    }

  /** Waits for the listener bus to deliver every posted event. */
  def drained(): CountingListener = {
    if (on) org.apache.spark.graftbench.BusDrain.drain(sc)
    listener
  }
}
