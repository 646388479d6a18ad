package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Narrow accessor for SparkContext's `private[spark]` listener bus.
  * `graft.Profiler` (Bench's one task-metrics collector)
  * attributes task metrics and streaming progress to the window that
  * just ran; events drain asynchronously, so without a real flush a
  * straggling event lands after the window's reset and gets credited to
  * the NEXT window. `waitUntilEmpty` (10 s bound) is an actual
  * empty-queue barrier, not a fixed sleep. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
  // timeout → at worst the old behavior (bounded undercount), never a hang

  /** Test-only: clear a previously set checkpoint dir so the shared
    * test session's Engine.materialize spec can exercise the reliable-
    * checkpoint branch without leaving every later spec on it (there is
    * no public unset API; `checkpointDir` is private[spark]). */
  def clearCheckpointDir(sc: SparkContext): Unit =
    sc.checkpointDir = None
}
