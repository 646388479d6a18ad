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

/** What one measured window cost, summed over every task that ended in it. */
final case class Profile(
  wallS: Double,
  shuffleWriteBytes: Long,
  shuffleReadBytes: Long,
  gcMs: Long,
  queryStarts: Long,
  batches: Seq[BatchProgress])

/** The one task-metrics collector, read by Bench: one [[SparkListener]]
  * and one [[StreamingQueryListener]] on `spark`, read through
  * [[measure]]. `Engine.session` attaches nothing; only a main that
  * builds a `Profiler` pays for the listeners.
  *
  * Events reach the listeners asynchronously, so [[measure]] drains the
  * listener bus before resetting and again before reading: without the
  * second drain a straggling TaskEnd lands after the read and is credited
  * to the NEXT window. Windows must not overlap (one at a time per
  * session). */
final class Profiler(spark: SparkSession) extends AutoCloseable {
  private val shuffleWrite, shuffleRead, gc, starts = new AtomicLong(0L)
  private val counters = Seq(shuffleWrite, shuffleRead, gc, starts)
  private val progress = new ConcurrentLinkedQueue[BatchProgress]()

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        gc.addAndGet(m.jvmGCTime): Unit
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
      starts.get(), progress.iterator().asScala.toList))
  }

  /** Detaches both listeners (a shared session outlives the profiler). */
  override def close(): Unit = {
    spark.sparkContext.removeSparkListener(taskListener)
    spark.streams.removeListener(streamListener)
  }
}
