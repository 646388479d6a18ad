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
    for (d <- sfDirs; n <- Engine.tableNames)
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
    assert(cold > 0, "the first read must infer the schema with a job")
    assert(jobsOf("registry-warm")(Engine.table(spark, dir, "w")) === 0)
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
