package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Spill-under-pressure probe for the prefix-sum RANGE-frame rewrite.
  *
  * `Scale.rangeFramePrefixSum`'s scale story rests on a claim the main
  * probe cannot test: its 1149 MB peak-task reservation (the union-merge
  * sort of ~2n rows per key partition, PROBE_LOCAL_100x.json
  * `window_range_prefix`) is a SPILLABLE UnsafeExternalSorter that
  * "degrades to disk, linearly" under executor-memory pressure — unlike
  * the sliding frame's quadratic compute, which no spill can recover.
  * This main makes that claim measured evidence: it reruns the identical
  * rewrite over the identical shard in a JVM whose unified-memory pool
  * is squeezed (`spark.memory.fraction`, static per JVM — why this is a
  * separate main rather than a ScaleProbe row), and asserts that
  *
  *  1. the query COMPLETES — no OOM — with real disk spill recorded in
  *     task metrics (`diskBytesSpilled` > 0), and
  *  2. the framed total equals the unconstrained run's value recorded in
  *     `PROBE_LOCAL_{factor}x.json` — spilling changed the cost, not the
  *     answer.
  *
  * The result row is merged into the same probe artifact under
  * `window_range_prefix_spill` (run ScaleProbe first; a full ScaleProbe
  * rerun rewrites the artifact, so rerun this after it).
  *
  * Usage: SPARK_DRIVER_MEM=3g tools/run.sh graft.SpillProbe [factor]
  */
object SpillProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR",
      s"/tmp/graft_scale_probe_${factor}x")
    // reclaim spill/checkpoint debris at exit (the ScaleProbe policy);
    // the shard dir stays outside the scratch for reuse
    Scratch.install("spillprobe", preferTmpfs = false): Unit
    // 0.05 of an 8 GB heap ≈ 400 MB unified pool shared by all tasks —
    // far under the rewrite's measured 1149 MB single-task peak, so the
    // sort CANNOT fit and must spill to finish. Overridable for tuning.
    // Static per JVM, so it goes in as a system property, which SparkConf
    // reads when the session is built.
    val frac = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.05")
    System.setProperty("spark.memory.fraction", frac)
    val spark = graft.engine.Engine.session()

    val memSpill = new java.util.concurrent.atomic.AtomicLong(0L)
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakTask = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakTask.accumulateAndGet(m.peakExecutionMemory,
            (a: Long, b: Long) => math.max(a, b))
        }
      }
    })

    val ord = spark.read.parquet(
      ScaleProbe.ordersShard(spark, base, out, factor, graft.engine.Engine.cores))
    val t0 = System.nanoTime()
    val total = graft.ops.Scale.rangeFramePrefixSum(ord,
        "o_orderpriority", "o_orderkey", "o_totalprice", 1000L * factor)
      .agg(sum(col("n_in_range"))).collect().head.getLong(0) // 1-row reduce
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val memMb = memSpill.get() / 1e6
    val diskMb = diskSpill.get() / 1e6
    val peakMb = peakTask.get() / 1e6

    println(f"SPILL PROBE: fraction=$frac framedTotal=$total wall=$wall%.1fs " +
      f"mem_spill=$memMb%.1f MB disk_spill=$diskMb%.1f MB peak_task=$peakMb%.1f MB")
    // loud failure both ways: no spill means the pool wasn't actually
    // constrained (claim untested), a changed total means spill broke
    // correctness (claim false)
    require(diskMb > 0,
      s"no disk spill under fraction=$frac — pool not constrained, claim untested")

    val probeFile = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT_DIR",
      "/root/repo") + s"/PROBE_LOCAL_${factor}x.json")
    if (Files.exists(probeFile)) {
      val mapper = new ObjectMapper()
      val rootNode = mapper.readTree(Files.readString(probeFile)).asInstanceOf[ObjectNode]
      val unconstrained = rootNode.path("window_range_prefix").path("framed_total")
      if (!unconstrained.isMissingNode)
        require(unconstrained.asLong() == total,
          s"spilled run diverged: unconstrained=${unconstrained.asLong()} spilled=$total")
      def r1(v: Double): Double = math.rint(v * 10) / 10
      val row = rootNode.putObject("window_range_prefix_spill")
      row.put("mem_fraction", frac.toDouble)
      row.put("framed_total", total)
      row.put("matches_unconstrained", !unconstrained.isMissingNode)
      row.put("wall_s", r1(wall))
      row.put("mem_spill_mb", r1(memMb))
      row.put("disk_spill_mb", r1(diskMb))
      row.put("peak_task_mem_mb", r1(peakMb))
      Files.writeString(probeFile, mapper.writeValueAsString(rootNode) + "\n")
      println(s"merged window_range_prefix_spill into $probeFile")
    } else println(s"[spill] $probeFile missing — row not recorded (run ScaleProbe first)")

    // ---- second squeeze target: the inverted-index term window -------
    // text_inverted_index's 100× peak task (159 MB on the DESIGNED
    // adversarial ~31-term vocab, where one term's posting partition is
    // corpus÷31) is a row_number/count window sort — the same spillable
    // UnsafeExternalSorter class as the prefix-sum rewrite. Same claim,
    // same treatment: under the squeezed pool it must finish by
    // SPILLING, and its full-output checksum must equal the
    // unconstrained run's value recorded by ScaleProbe.
    memSpill.set(0L); diskSpill.set(0L); peakTask.set(0L)
    val t1 = System.nanoTime()
    val invCk = ScaleProbe.invertedIndexChecksum(spark, out)
    val invWall = (System.nanoTime() - t1) / 1e9
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val invDiskMb = diskSpill.get() / 1e6
    val invPeakMb = peakTask.get() / 1e6
    println(f"SPILL PROBE (inverted index): checksum=$invCk wall=$invWall%.1fs " +
      f"disk_spill=$invDiskMb%.1f MB peak_task=$invPeakMb%.1f MB")
    require(invDiskMb > 0,
      s"inverted-index window did not spill under fraction=$frac — claim untested")
    if (Files.exists(probeFile)) {
      val mapper = new ObjectMapper()
      val rootNode = mapper.readTree(Files.readString(probeFile)).asInstanceOf[ObjectNode]
      val ref = rootNode.path("inverted_index_checksum").path("checksum")
      if (!ref.isMissingNode)
        require(ref.asLong() == invCk,
          s"spilled inverted index diverged: unconstrained=${ref.asLong()} spilled=$invCk")
      def r1(v: Double): Double = math.rint(v * 10) / 10
      val row = rootNode.putObject("inverted_index_spill")
      row.put("mem_fraction", frac.toDouble)
      row.put("checksum", invCk)
      row.put("matches_unconstrained", !ref.isMissingNode)
      row.put("wall_s", r1(invWall))
      row.put("disk_spill_mb", r1(invDiskMb))
      row.put("peak_task_mem_mb", r1(invPeakMb))
      Files.writeString(probeFile, mapper.writeValueAsString(rootNode) + "\n")
      println(s"merged inverted_index_spill into $probeFile")
    }

    // ---- third squeeze target: BM25's hits aggregation + dl join -----
    // text_bm25's corpus-side shape is one exploded (doc, term) hash
    // aggregation plus the doc-length shuffle join — both back onto the
    // same spillable hash/sort machinery. Under the squeezed pool the
    // ranked output must still be byte-identical to the unconstrained
    // run's checksum recorded by ScaleProbe.
    memSpill.set(0L); diskSpill.set(0L); peakTask.set(0L)
    val t2 = System.nanoTime()
    val bmCk = ScaleProbe.bm25Checksum(spark, out)
    val bmWall = (System.nanoTime() - t2) / 1e9
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val bmDiskMb = diskSpill.get() / 1e6
    val bmPeakMb = peakTask.get() / 1e6
    println(f"SPILL PROBE (bm25): checksum=$bmCk wall=$bmWall%.1fs " +
      f"disk_spill=$bmDiskMb%.1f MB peak_task=$bmPeakMb%.1f MB")
    require(bmDiskMb > 0,
      s"bm25 did not spill under fraction=$frac — claim untested")
    if (Files.exists(probeFile)) {
      val mapper = new ObjectMapper()
      val rootNode = mapper.readTree(Files.readString(probeFile)).asInstanceOf[ObjectNode]
      val ref = rootNode.path("bm25_checksum").path("checksum")
      if (!ref.isMissingNode)
        require(ref.asLong() == bmCk,
          s"spilled bm25 diverged: unconstrained=${ref.asLong()} spilled=$bmCk")
      def r1(v: Double): Double = math.rint(v * 10) / 10
      val row = rootNode.putObject("bm25_spill")
      row.put("mem_fraction", frac.toDouble)
      row.put("checksum", bmCk)
      row.put("matches_unconstrained", !ref.isMissingNode)
      row.put("wall_s", r1(bmWall))
      row.put("disk_spill_mb", r1(bmDiskMb))
      row.put("peak_task_mem_mb", r1(bmPeakMb))
      Files.writeString(probeFile, mapper.writeValueAsString(rootNode) + "\n")
      println(s"merged bm25_spill into $probeFile")
    }

    // ---- fourth squeeze target: the blocked minhash verify (r10) -----
    // dedup_incremental_minhash's rebuilt verify carries the dedup
    // family's largest peak task (269 MB: per-shard-doc collect_set,
    // block-join sorts, final agg). All of it is spillable hash/sort
    // machinery — under the squeezed pool the full output checksum must
    // equal the unconstrained run's value recorded by ScaleProbe.
    memSpill.set(0L); diskSpill.set(0L); peakTask.set(0L)
    val t3 = System.nanoTime()
    val incCk = ScaleProbe.incMinhashChecksum(spark, out)
    val incWall = (System.nanoTime() - t3) / 1e9
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val incDiskMb = diskSpill.get() / 1e6
    val incPeakMb = peakTask.get() / 1e6
    println(f"SPILL PROBE (inc minhash): checksum=$incCk wall=$incWall%.1fs " +
      f"disk_spill=$incDiskMb%.1f MB peak_task=$incPeakMb%.1f MB")
    require(incDiskMb > 0,
      s"blocked minhash verify did not spill under fraction=$frac — claim untested")
    if (Files.exists(probeFile)) {
      val mapper = new ObjectMapper()
      val rootNode = mapper.readTree(Files.readString(probeFile)).asInstanceOf[ObjectNode]
      val ref = rootNode.path("inc_minhash_checksum").path("checksum")
      if (!ref.isMissingNode)
        require(ref.asLong() == incCk,
          s"spilled minhash verify diverged: unconstrained=${ref.asLong()} spilled=$incCk")
      def r1(v: Double): Double = math.rint(v * 10) / 10
      val row = rootNode.putObject("inc_minhash_spill")
      row.put("mem_fraction", frac.toDouble)
      row.put("checksum", incCk)
      row.put("matches_unconstrained", !ref.isMissingNode)
      row.put("wall_s", r1(incWall))
      row.put("disk_spill_mb", r1(incDiskMb))
      row.put("peak_task_mem_mb", r1(incPeakMb))
      Files.writeString(probeFile, mapper.writeValueAsString(rootNode) + "\n")
      println(s"merged inc_minhash_spill into $probeFile")
    }
    spark.stop()
  }
}
