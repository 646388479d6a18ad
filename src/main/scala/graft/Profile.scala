package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One streaming micro-batch's progress event. `stateCommitMs` is
  * state-store commit time summed over the batch's state-store
  * partitions (task time, not wall): it can exceed the trigger's wall and
  * is not a component of `durationMs("addBatch")`. */
final case class BatchProgress(durationMs: Map[String, Long], inputRows: Long,
  stateCommitMs: Long, nSources: Int)

/** What one measured window cost, summed over every task that ended in it.
  * The `readTask*` fields cover only tasks that read shuffle bytes: the
  * skew probes' straggler metric, which a scan stage (no shuffle read)
  * would otherwise mask. */
final case class Profile(
  wallS: Double,
  shuffleWriteBytes: Long,
  shuffleReadBytes: Long,
  gcMs: Long,
  memorySpillBytes: Long,
  diskSpillBytes: Long,
  peakTaskMemBytes: Long,
  readTaskMaxMs: Long,
  readTaskMaxBytes: Long,
  readTaskSumBytes: Long,
  readTasks: Long,
  queryStarts: Long,
  batches: Seq[BatchProgress])

/** The one task-metrics collector of the diagnostic mains (Bench and the
  * probes): one [[SparkListener]] and one [[StreamingQueryListener]] on
  * `spark`, read through [[measure]]. `Engine.session` attaches nothing;
  * only a main that builds a `Profiler` pays for the listeners.
  *
  * Events reach the listeners asynchronously, so [[measure]] drains the
  * listener bus before resetting and again before reading: without the
  * second drain a straggling TaskEnd lands after the read and is credited
  * to the NEXT window. Windows must not overlap (one at a time per
  * session). */
final class Profiler(spark: SparkSession) extends AutoCloseable {
  private val shuffleWrite, shuffleRead, gc, memSpill, diskSpill, peak,
    readMaxMs, readMax, readSum, readTasks, starts = new AtomicLong(0L)
  private val counters = Seq(shuffleWrite, shuffleRead, gc, memSpill,
    diskSpill, peak, readMaxMs, readMax, readSum, readTasks, starts)
  private val progress = new ConcurrentLinkedQueue[BatchProgress]()

  private def max(a: AtomicLong, v: Long): Unit =
    a.accumulateAndGet(v, (x: Long, y: Long) => math.max(x, y)): Unit

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val read = m.shuffleReadMetrics.totalBytesRead
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(read)
        gc.addAndGet(m.jvmGCTime)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        max(peak, m.peakExecutionMemory)
        if (read > 0 && e.taskInfo != null) {
          max(readMaxMs, e.taskInfo.duration)
          max(readMax, read)
          readSum.addAndGet(read)
          readTasks.incrementAndGet()
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      starts.incrementAndGet(): Unit
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(BatchProgress(
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
        p.numInputRows, p.stateOperators.map(_.commitTimeMs).sum,
        p.sources.length)): Unit
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(taskListener)
  spark.streams.addListener(streamListener)

  /** Runs `body` and returns its result with the window's [[Profile]]. */
  def measure[T](body: => T): (T, Profile) = {
    ListenerBridge.drain(spark.sparkContext)
    counters.foreach(_.set(0L))
    progress.clear()
    val t0 = System.nanoTime()
    val result = body
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerBridge.drain(spark.sparkContext)
    (result, Profile(wall, shuffleWrite.get(), shuffleRead.get(), gc.get(),
      memSpill.get(), diskSpill.get(), peak.get(), readMaxMs.get(),
      readMax.get(), readSum.get(), readTasks.get(), starts.get(),
      progress.iterator().asScala.toList))
  }

  /** Detaches both listeners (a shared session outlives the profiler). */
  override def close(): Unit = {
    spark.sparkContext.removeSparkListener(taskListener)
    spark.streams.removeListener(streamListener)
  }
}
