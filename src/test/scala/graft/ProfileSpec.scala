package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpecBase {

  test("Profiler.measure attributes shuffle bytes to its own window") {
    val profiler = new Profiler(spark)
    try {
      val (groups, agg) = profiler.measure(
        spark.range(0, 100000, 1, 8).groupBy(col("id") % 100).count().collect().length)
      assert(groups === 100)
      assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0)
      assert(agg.wallS > 0)
      // the drain barrier: nothing of the aggregate leaks into the next,
      // shuffle-free window (`range(10).count()` is not one: its final
      // exchange to one partition writes ~0.5 KB)
      val (n, next) = profiler.measure(spark.range(10).collect().length)
      assert(n === 10)
      assert(next.shuffleWriteBytes === 0L && next.shuffleReadBytes === 0L)
      assert(next.queryStarts === 0L && next.batches.isEmpty)
    } finally profiler.close()
  }

  test("Profiler.measure reports one progress entry per streaming micro-batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val profiler = new Profiler(spark)
    try {
      val batches = 3
      val input = MemoryStream[Long]
      input.addData(0L, 1L) // data before start: the first trigger is a batch
      val (_, p) = profiler.measure {
        val q = input.toDS().writeStream.format("memory")
          .queryName("profile_spec_progress").start()
        try (1 to batches).foreach { b =>
          if (b > 1) input.addData(b.toLong * 10, b.toLong * 10 + 1)
          q.processAllAvailable()
        } finally q.stop()
      }
      assert(p.queryStarts === 1L)
      assert(p.batches.size === batches, p.batches)
      assert(p.batches.map(_.inputRows) === Seq.fill(batches)(2L))
      assert(p.batches.forall(b => b.nSources === 1 &&
        b.durationMs.contains("triggerExecution")))
    } finally profiler.close()
  }
}
