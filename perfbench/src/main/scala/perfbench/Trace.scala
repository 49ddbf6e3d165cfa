package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock with sub-millisecond resolution on the epoch-ms axis that
  * Spark's listener events use, so benchmark spans and Spark's job,
  * phase and micro-batch times can be compared directly. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Micro-batch progress, always recorded: the benchmark's end-to-end
  * micro-batch latencies come from the progress events Spark already
  * emits. Per-phase durations are kept for the traced run's spans. */
final class ProgressRecorder extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    batches.add(e.progress)
  def clear(): Unit = batches.clear()
}

/** Listeners for the traced run: Spark jobs (with their tasks' metrics)
  * and Catalyst phases, each kept as a span on the epoch-ms axis. They
  * are attached only while the traced unit runs and read only after the
  * listener bus has been drained. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = ArrayBuffer.empty[Job]
  val phases = ArrayBuffer.empty[Phase]
  private val jobOfStage = scala.collection.mutable.Map.empty[Int, Job]
  @volatile var on = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      val j = new Job(e.jobId, e.time, e.stageIds.size)
      jobs += j
      e.stageIds.foreach(s => jobOfStage(s) = j)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    if (on) qe.tracker.phases.foreach { case (n, p) =>
      phases += Phase(n, p.startTimeMs, p.endTimeMs)
    }
  }
}

object Tracer {
  final class Job(val id: Int, val start: Long, val stages: Int) {
    var end = -1L
    var tasks, failedTasks = 0
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, input, output = 0L
  }
  final case class Phase(name: String, start: Long, end: Long)
}

/** JVM-wide counters that have no listener: codegen, `Staged` builds,
  * garbage collection. A snapshot is taken at each boundary of a phase. */
final case class Counters(compiles: Long, compileNs: Long, stagedNs: Long,
                          gcMs: Long, gcCount: Long) {
  def minus(o: Counters): Counters = Counters(compiles - o.compiles,
    compileNs - o.compileNs, stagedNs - o.stagedNs, gcMs - o.gcMs,
    gcCount - o.gcCount)
}
object Counters {
  def now(): Counters = {
    val gcs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    Counters(
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime,
      graft.operators.Staged.buildNanos,
      gcs.map(_.getCollectionTime.max(0L)).sum,
      gcs.map(_.getCollectionCount.max(0L)).sum)
  }
}

object Bus {
  /** Deliver every queued listener event before a counter is read. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
}
