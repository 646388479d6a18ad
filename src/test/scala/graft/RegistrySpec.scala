package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.functions._
import graft.engine.Engine

/** [[Engine.table]] is the one table registry: the schema of every
  * testdata read, batch or stream, is the file's own, inferred once per
  * file content. */
class RegistrySpec extends SparkSpecBase {

  /** Spark jobs started by `body`, counted through a job group. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    ListenerBridge.drain(sc) // the status tracker is fed by the listener bus
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("Engine.table reads every testdata table with its inferred parquet schema") {
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(sfDir).getParent)
    val sfDirs = try dirs.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("sf") &&
        java.nio.file.Files.isDirectory(p)).map(_.toString).sorted
    finally dirs.close()
    assert(sfDirs.contains(sfDir), s"no $sfDir among $sfDirs")
    // and directories Spark wrote: several parts, a _SUCCESS marker,
    // .crc files and the Spark schema stored in each footer; one also
    // with the _metadata and _common_metadata summaries
    val written = Scratch.tempDir("graft_registry").toString
    val frame = spark.range(0, 300, 1, 3).selectExpr("id", "cast(id AS string) AS s",
      "cast(id AS decimal(12, 2)) AS amount", "timestamp_micros(id) AS ts",
      "array(id, id + 1) AS ids", "named_struct('a', id, 'b', 'x') AS st")
    frame.write.parquet(s"$written/multi.parquet")
    frame.write.option("parquet.summary.metadata.level", "ALL")
      .parquet(s"$written/summarized.parquet")
    def listed(n: String) = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(s"$written/$n.parquet"))
      try st.iterator().asScala.map(_.getFileName.toString).toSeq finally st.close()
    }
    assert(listed("multi").contains("_SUCCESS") &&
      listed("multi").count(_.startsWith("part-")) > 1, listed("multi"))
    assert(listed("summarized").contains("_common_metadata"), listed("summarized"))
    val tables = (for (d <- sfDirs; n <- Engine.tableNames) yield d -> n) ++
      Seq(written -> "multi", written -> "summarized")
    for ((d, n) <- tables)
      assert(Engine.table(spark, d, n).schema ===
        spark.read.parquet(s"$d/$n.parquet").schema, s"$d/$n")
  }

  test("Engine.stream has the batch schema of events and documents") {
    for (n <- Seq("events", "documents")) {
      val stream = Engine.stream(spark, sfDir, n)
      assert(stream.isStreaming)
      assert(stream.schema === Engine.table(spark, sfDir, n).schema, n)
    }
  }

  test("a second Engine.table on the same file starts no Spark job") {
    val dir = Scratch.tempDir("graft_registry").toString
    spark.range(10).write.parquet(s"$dir/w.parquet")
    val cold = jobsOf("registry-cold")(Engine.table(spark, dir, "w"))
    assert(cold === 0, "the first read infers the schema on the driver")
    assert(jobsOf("registry-warm")(Engine.table(spark, dir, "w")) === 0)
  }

  test("Engine.configure and registerTestdata on a fresh sf dir start no Spark job") {
    val copy = Scratch.tempDir("graft_registry")
    for (n <- Engine.tableNames) java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/$n.parquet"), copy.resolve(s"$n.parquet"))
    try {
      val jobs = jobsOf("registry-setup") {
        Engine.configure(spark)
        Engine.registerTestdata(spark, copy.toString)
      }
      assert(jobs === 0, "set-up infers the test CSV and every parquet schema on the driver")
    } finally Engine.registerTestdata(spark, sfDir)
  }

  test("a rewritten file is read with its new schema") {
    val dir = Scratch.tempDir("graft_registry").toString
    val path = s"$dir/r.parquet"
    spark.range(5).write.parquet(path)
    assert(Engine.table(spark, dir, "r").columns.toSeq === Seq("id"))
    spark.range(5).select(col("id"), (col("id") * 2).as("extra"))
      .write.mode("overwrite").parquet(path)
    val again = Engine.table(spark, dir, "r")
    assert(again.columns.toSeq === Seq("id", "extra"))
    assert(again.agg(sum(col("extra"))).head().getLong(0) === 20L)
  }
}
