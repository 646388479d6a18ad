package graft

import org.apache.spark.sql.DataFrame

/** The bench's per-query wall cap on a live session: a stalled query is
  * cancelled through its job group, reported failed, and leaves the
  * session usable for the next row. */
class BenchCapSpec extends SparkSpecBase {
  import BenchCapSpec.started

  /** One partition, one task, asleep far past any cap used here. */
  private def stalled: DataFrame = {
    import spark.implicits._
    spark.range(0, 1, 1, 1)
      .map { i => started.set(true); Thread.sleep(30000); i.longValue }.toDF()
  }

  private def assertKilledFast(capSec: Double): Unit = {
    val zombiesBefore = Bench.zombies.size
    val t0 = System.nanoTime()
    val (sec, capped) = Bench.timeOnceCapped(spark, stalled, capSec, tag = "stall")
    val wallSec = (System.nanoTime() - t0) / 1e9
    assert(sec == -1.0 && capped)
    assert(wallSec < capSec + 15.0, s"cap kill took ${wallSec}s; the task sleeps 30s")
    assert(Bench.zombies.size == zombiesBefore, "the cancelled worker must unwind")
    assert(spark.range(10).count() == 10)
  }

  test("timeOnceCapped: a stalled task is cancelled at the cap, no zombie, session stays usable") {
    assertKilledFast(capSec = 0.5)
  }

  test("timeOnceCapped: a RUNNING task is interrupted, not waited out") {
    // the 0.5s cap can fire before the job is even submitted (a cold
    // plan), which exercises the refused-future-job path; a 5s cap on a
    // warm plan lands while the task sleeps
    stalled.limit(0).write.format("noop").mode("overwrite").save()
    started.set(false)
    assertKilledFast(capSec = 5.0)
    assert(started.get(), "the task never started, so no interrupt was exercised")
  }
}

object BenchCapSpec {
  /** Set by the task (local mode: same JVM) once it runs. */
  val started = new java.util.concurrent.atomic.AtomicBoolean(false)
}
