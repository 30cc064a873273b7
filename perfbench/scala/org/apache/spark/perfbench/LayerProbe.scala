package org.apache.spark.perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's listeners on Spark's own surfaces, registered only
  * for a traced run. Counts jobs, tasks and their metrics
  * (`SparkListener`), planning phases of each finished action
  * (`QueryExecutionListener`, from `QueryExecution.tracker`), and every
  * streaming progress event (`StreamingQueryListener`). The time spent
  * inside these callbacks is itself measured, as the tracing overhead.
  *
  * Lives under `org.apache.spark` only to reach the `private[spark]`
  * `listenerBus.waitUntilEmpty`, so counts read after an action include
  * that action's last task-end events.
  */
final class LayerProbe extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val gcMs = new AtomicLong
  val planMs = new DoubleAdder
  val actions = new AtomicLong
  val callbackNs = new AtomicLong
  /** Job (start, end) nanoTime intervals, for the driver-gap split. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime(); f; callbackNs.addAndGet(System.nanoTime() - t); ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.incrementAndGet(); jobStart.put(e.jobId, System.nanoTime())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val s = jobStart.remove(e.jobId)
    jobSpans.synchronized(jobSpans += ((s, System.nanoTime())))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed {
        actions.incrementAndGet()
        qe.tracker.phases.values.foreach(p => planMs.add(p.durationMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress.synchronized(progress += e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The query-layer counters now, keyed by metric name, so a window's
    * share is the difference of two snapshots. */
  def counters: Map[String, Double] = Map(
    "ops.plan_ms" -> planMs.sum, "ops.actions" -> actions.get.toDouble,
    "ops.jobs" -> jobs.get.toDouble, "ops.tasks" -> tasks.get.toDouble,
    "ops.task_s" -> taskMs.get / 1000.0,
    "ops.shuffle_read_mb" -> shuffleRead.get / 1048576.0,
    "ops.shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
    "ops.spill_mb" -> spill.get / 1048576.0, "ops.gc_ms" -> gcMs.get.toDouble)

  /** Wait until every posted event reached the listeners. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def drainProgress(): Seq[StreamingQueryListener.QueryProgressEvent] =
    progress.synchronized { val p = progress.toList; progress.clear(); p }
}
