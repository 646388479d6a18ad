package graft

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
  * The same squeeze is applied to the three spillable hash/sort targets
  * whose full-output checksums ScaleProbe records
  * ([[ScaleProbe.checksums]]). Every target runs; each one that spilled
  * is merged into the same probe artifact under `<target>_spill` (run
  * ScaleProbe first; a full ScaleProbe rerun rewrites the artifact, so
  * rerun this after it), and the run then fails naming every target
  * that did not spill. A diverged result fails at once.
  *
  * Usage: SPARK_DRIVER_MEM=3g tools/run.sh graft.SpillProbe [factor]
  */
object SpillProbe {

  /** `spark.memory.fraction` of the squeezed JVM: 0.05 of an 8 GB heap ≈
    * 400 MB unified pool shared by all tasks — far under the rewrite's
    * measured 1149 MB single-task peak, so the sort CANNOT fit and must
    * spill to finish. */
  private val MemFraction = 0.05

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR",
      s"/tmp/graft_scale_probe_${factor}x")
    // reclaim spill/checkpoint debris at exit (the ScaleProbe policy);
    // the shard dir stays outside the scratch for reuse
    Scratch.install("spillprobe", preferTmpfs = false): Unit
    // static per JVM, so it goes in as a system property, which SparkConf
    // reads when the session is built
    System.setProperty("spark.memory.fraction", MemFraction.toString)
    val spark = graft.engine.Engine.session()
    val profiler = new Profiler(spark)
    val artifact = ProbeArtifact.forFactor(factor, merge = true)

    val ord = spark.read.parquet(
      ScaleProbe.ordersShard(spark, base, out, factor, graft.engine.Engine.cores))
    // (artifact key, result field, compute, unconstrained reference key):
    // the prefix-sum rewrite's framed total, then the inverted-index term
    // window (a row_number/count window sort, the same spillable
    // UnsafeExternalSorter class; its 100× peak comes from the shard's
    // DESIGNED adversarial ~31-term vocab), BM25's exploded (doc, term)
    // hash aggregation + doc-length shuffle join, and the blocked minhash
    // verify (per-shard-doc collect_set, block-join sorts, final agg)
    val targets: Seq[(String, String, () => Long, String)] = Seq(
      ("window_range_prefix_spill", "framed_total", () =>
        graft.ops.Scale.rangeFramePrefixSum(ord,
            "o_orderpriority", "o_orderkey", "o_totalprice", 1000L * factor)
          .agg(sum(col("n_in_range"))).collect().head.getLong(0), // 1-row reduce
        "window_range_prefix"),
      ("inverted_index_spill", "checksum", () =>
        ScaleProbe.checksum(spark, out, "inverted_index_checksum"),
        "inverted_index_checksum"),
      ("bm25_spill", "checksum", () =>
        ScaleProbe.checksum(spark, out, "bm25_checksum"), "bm25_checksum"),
      ("inc_minhash_spill", "checksum", () =>
        ScaleProbe.checksum(spark, out, "inc_minhash_checksum"),
        "inc_minhash_checksum"))

    val unspilled = targets.filterNot { case (key, field, compute, refKey) =>
      val (value, p) = profiler.measure(compute())
      val (memMb, diskMb, peakMb) = (p.memorySpillBytes / 1e6,
        p.diskSpillBytes / 1e6, p.peakTaskMemBytes / 1e6)
      println(f"SPILL PROBE $key: $field=$value wall=${p.wallS}%.1fs " +
        f"mem_spill=$memMb%.1f MB disk_spill=$diskMb%.1f MB peak_task=$peakMb%.1f MB")
      // a changed result means spill broke correctness (claim false)
      val ref = artifact.reference(refKey, field)
      for (r <- ref)
        require(r == value, s"$key diverged: unconstrained=$r spilled=$value")
      val spilled = diskMb > 0
      def r1(v: Double): Double = math.rint(v * 10) / 10
      if (spilled)
        artifact.record(key, s"""{"mem_fraction":$MemFraction,"$field":$value,""" +
          s""""matches_unconstrained":${ref.isDefined},"wall_s":${r1(p.wallS)},""" +
          s""""mem_spill_mb":${r1(memMb)},"disk_spill_mb":${r1(diskMb)},""" +
          s""""peak_task_mem_mb":${r1(peakMb)}}""")
      spilled
    }.map(_._1)
    spark.stop()
    // no spill means the pool wasn't actually constrained: the claim is
    // untested for that target, so the run fails once every target ran
    require(unspilled.isEmpty, s"no disk spill under fraction=$MemFraction — " +
      s"pool not constrained, claim untested: ${unspilled.mkString(", ")}")
  }
}
