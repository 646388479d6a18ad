package graft

import org.apache.spark.sql.functions._

/** Engine.materialize — the deployment-aware lineage cut (r15 verdict
  * §3): on `local[*]` (no checkpoint dir) it must be exactly the old
  * `localCheckpoint`; with a reliable checkpoint dir configured (a
  * cluster deployment that opts in), the SAME call sites must write
  * recoverable checkpoint files instead of executor-local blocks, so
  * losing an executor degrades to a re-read, not a job failure. */
class MaterializeSpec extends SparkSpecBase {
  import graft.engine.Engine

  private def probeDf = spark.range(100)
    .select(col("id"), (col("id") * 2).as("v"))

  test("local mode (no checkpoint dir): materialize = localCheckpoint, results intact") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val m = Engine.materialize(probeDf, eager = true)
    assert(m.count() === 100)
    assert(m.agg(sum(col("v"))).head().getLong(0) === 9900L)
    // localCheckpoint truncates lineage to an RDD scan
    assert(m.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }

  test("configured checkpoint dir: materialize writes reliable checkpoint files") {
    val dir = Scratch.tempDir("graft_ckpt_spec")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val m = Engine.materialize(probeDf, eager = true)
      assert(m.count() === 100)
      assert(m.agg(sum(col("v"))).head().getLong(0) === 9900L)
      // the reliable branch persists rdd-* part files under the dir
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toList
      assert(files.nonEmpty,
        s"expected reliable checkpoint files under $dir, found none")
    } finally {
      org.apache.spark.graftbridge.ListenerBridge
        .clearCheckpointDir(spark.sparkContext)
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      graft.ops.Scale.deleteTree(dir)
    }
  }

  test("configured checkpoint dir: unpersistMaterialized deletes the reliable checkpoint files") {
    val dir = Scratch.tempDir("graft_ckpt_spec")
    import scala.jdk.CollectionConverters._
    // the rdd-<id> directories a reliable checkpoint writes under the dir
    def rddDirs(): List[java.nio.file.Path] =
      java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-")).toList
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val m = Engine.materialize(probeDf, eager = true)
      assert(rddDirs().nonEmpty, s"expected an rdd-* checkpoint dir under $dir")
      org.apache.spark.sql.graftbridge.Bridge.unpersistMaterialized(m)
      assert(rddDirs().isEmpty, s"checkpoint dirs left behind: ${rddDirs()}")
    } finally {
      org.apache.spark.graftbridge.ListenerBridge
        .clearCheckpointDir(spark.sparkContext)
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      graft.ops.Scale.deleteTree(dir)
    }
  }

  test("lazy materialize folds into the first action in both branches") {
    val m = Engine.materialize(probeDf, eager = false)
    assert(m.filter(col("v") >= 100).count() === 50)
  }
}
