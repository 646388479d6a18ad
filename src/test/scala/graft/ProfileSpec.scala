package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpecBase {

  test("Profiler.measure attributes shuffle and peak memory to its own window") {
    val profiler = new Profiler(spark)
    try {
      val (groups, agg) = profiler.measure(
        spark.range(0, 100000, 1, 8).groupBy(col("id") % 100).count().collect().length)
      assert(groups === 100)
      assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0)
      assert(agg.peakTaskMemBytes > 0)
      assert(agg.readTasks > 0 && agg.readTaskSumBytes === agg.shuffleReadBytes)
      assert(agg.wallS > 0)
      // the drain barrier: nothing of the aggregate leaks into the next,
      // shuffle-free window (`range(10).count()` is not one: its final
      // exchange to one partition writes ~0.5 KB)
      val (n, next) = profiler.measure(spark.range(10).collect().length)
      assert(n === 10)
      assert(next.shuffleWriteBytes === 0L && next.shuffleReadBytes === 0L)
      assert(next.readTasks === 0L && next.queryStarts === 0L && next.batches.isEmpty)
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

  test("rowChecksum equals the inline md5/bit_xor fold and ignores row order") {
    val df = spark.range(0, 500, 1, 4).select(col("id"),
      concat(lit("w"), (col("id") % 37).cast("string")).as("w"))
    val inline = df.select(conv(substring(md5(concat_ws("|",
        col("w"), col("id").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    def ck(d: org.apache.spark.sql.DataFrame): Long =
      ScaleProbe.rowChecksum(d, col("w"), col("id").cast("string"))
    assert(ck(df) === inline)
    assert(inline !== 0L)
    assert(ck(df.repartition(7)) === inline)
    assert(ck(df.orderBy(col("id").desc)) === inline)
    assert(ck(df.filter(col("id") > 0)) !== inline)
  }

  private val mapper = new ObjectMapper()
  private def keysOf(f: java.nio.file.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(Files.readString(f)).fieldNames().asScala.toSet
  }

  test("ProbeArtifact: a full sweep writes every recorded key, probes last") {
    val f = Scratch.tempDir("probe_artifact").resolve("PROBE_LOCAL_10x.json")
    Files.writeString(f, """{"stale":1}""")
    val a = new ProbeArtifact(f, merge = false)
    a.record("factor", "10")
    a.recordProbe("text_bm25", """{"shuffle_mb":6.6}""")
    a.record("bm25_checksum", """{"checksum":7}""")
    a.record("inc_minhash_checksum", """{"checksum":42}""")
    a.record("recovery_amortized", """{"ratio":1.3}""")
    assert(Files.readString(f) === """{"stale":1}""", "nothing is written before write()")
    a.write()
    val root = mapper.readTree(Files.readString(f))
    assert(keysOf(f) === Set("factor", "bm25_checksum", "inc_minhash_checksum",
      "recovery_amortized", "probes"))
    assert(root.path("inc_minhash_checksum").path("checksum").asLong() === 42L)
    assert(root.path("probes").path("text_bm25").path("shuffle_mb").asDouble() === 6.6)
    assert(Files.readString(f).trim.endsWith("""{"text_bm25":{"shuffle_mb":6.6}}}"""))
    assert(a.reference("inc_minhash_checksum", "checksum") === Some(42L))
    assert(a.reference("window_range_prefix", "framed_total") === None)
  }

  test("ProbeArtifact: a gated merge keeps the keys it did not record") {
    val f = Scratch.tempDir("probe_artifact").resolve("PROBE_LOCAL_10x.json")
    Files.writeString(f,
      """{"factor":10,"bm25_checksum":{"checksum":7},"probes":{"a":{"wall_s":1.0}}}""")
    val a = new ProbeArtifact(f, merge = true)
    a.record("bm25_checksum", """{"checksum":8}""")
    a.recordProbe("b", """{"wall_s":2.0}""")
    a.write() // no-op: each key was merged as it was recorded
    val root = mapper.readTree(Files.readString(f))
    assert(root.path("factor").asInt() === 10)
    assert(root.path("bm25_checksum").path("checksum").asLong() === 8L)
    assert(root.path("probes").path("a").path("wall_s").asDouble() === 1.0)
    assert(root.path("probes").path("b").path("wall_s").asDouble() === 2.0)
  }

  test("ProbeArtifact: a merge into a missing file is reported and creates nothing") {
    val f = Scratch.tempDir("probe_artifact").resolve("PROBE_LOCAL_10x.json")
    val a = new ProbeArtifact(f, merge = true)
    val said = new java.io.ByteArrayOutputStream()
    Console.withOut(said) {
      a.record("sessionize_state", """{"users":200}""")
      a.recordProbe("text_bm25", """{"wall_s":1.0}""")
    }
    assert(!Files.exists(f))
    assert(said.toString.contains(s"$f missing"))
    assert(said.toString.contains("sessionize_state not recorded"))
    assert(said.toString.contains("probes.text_bm25 not recorded"))
    assert(a.reference("bm25_checksum", "checksum") === None)
  }
}
