package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.functions.HashExpressions

/** Streaming decontamination — the continuous-ingest form of the batch
  * `pipe_decontam_bloom`: documents arriving on a file stream are
  * flagged against a STATIC benchmark gram set.
  *
  * Unlike the dedup/sessionize streams this is deliberately STATELESS:
  * contamination is a pure function of (document, reference set), so no
  * watermark, no state store, and append mode — the shape that scales to
  * any ingest rate because each micro-batch is an independent map pass.
  * Grams never explode on the stream side (an explode would force a
  * per-doc re-aggregation that append mode cannot express); instead the
  * per-doc gram-hash ARRAY is tested row-local in two bounded stages:
  *
  *  1. `bloom_might_contain_any` — a broadcast Bloom filter over the
  *     bench gram hashes (~1.2 bytes/gram at 1% fpp). The common path:
  *     clean docs (the overwhelming majority) stop here.
  *  2. `sorted_longs_contain_any` — the false-positive killer: an exact
  *     binary-search probe into a broadcast SORTED long array
  *     (8 bytes/gram), reached only when the bloom fires, via the
  *     short-circuiting AND.
  *
  * This replaces the earlier collect_set-into-one-array-row
  * stream-static crossJoin, which capped the bench set at a 2 GB single
  * binary cell and rebuilt an O(|bench|) hash set inside arrays_overlap
  * per row. Static-side size is now bounded and linear: 9.2 bytes/gram
  * total across both broadcasts, with the exact side deserialized once
  * per executor. Grams ride as xxhash64 longs (the batch path's
  * representation; same documented ~2^-64 collision caveat).
  */
object DecontamStream {

  /** Hard bound on the broadcast reference side: 2×10⁸ distinct grams ≈
    * 1.6 GB exact sorted-long side + ~0.24 GB bloom ≈ 1.9 GB total on
    * the driver and every executor — the edge of comfortable broadcast
    * territory. Any real eval suite sits orders of magnitude below
    * (10⁷ grams ≈ 80 MB); a set above the bound means someone pointed
    * the stream at a corpus, not a benchmark, and the right tool is the
    * batch path, which keeps the reference side distributed. */
  private[graft] val MaxBenchGrams: Long = 200000000L

  /** Loud guard, checked BEFORE the driver collect so an oversized set
    * fails with an actionable message instead of an OOM. */
  private[graft] def assertBenchBroadcastable(nGrams: Long): Unit =
    require(nGrams <= MaxBenchGrams,
      s"DecontamStream: benchmark gram set has $nGrams distinct grams " +
        f"(~${nGrams * 9.2 / 1e9}%.1f GB broadcast), over the $MaxBenchGrams " +
        "bound (~1.9 GB). This stream broadcasts the whole reference set to " +
        "every executor; for a set this large use the batch " +
        "pipe_decontam_bloom path, which keeps the reference side distributed.")

  /** Flagged stream: (doc_id, n_grams, contaminated) for every non-bench
    * document, row-identical to batch `pipe_decontam_bloom` (and hence to
    * `pipe_decontam` — the bloom is a prefilter, never the verdict). */
  def flaggedDocs(spark: SparkSession, dir: String): DataFrame = {
    def sh = HashExpressions.word_shingles(col("text"), 8)
    // Static reference side, materialized ONCE at stream definition (the
    // bench set is fixed for the life of the stream — no per-batch
    // re-execution, which the old localCheckpoint only mitigated).
    // The collect() here is the broadcast-build path for the REFERENCE
    // side only — the same driver hop df.stat.bloomFilter's
    // treeAggregate takes — bounded by the bench gram count, never by
    // corpus size. NOT a corpus collect.
    val benchDistinct = Engine.table(spark, dir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(explode(sh).as("gram"))
      .select(xxhash64(col("gram")).as("gh"))
      .distinct()
      .persist()
    val benchGh: Array[Long] =
      try {
        assertBenchBroadcastable(benchDistinct.count()) // count-then-collect:
        // the guard fires on the cheap aggregate, never mid-collect OOM
        benchDistinct.orderBy(col("gh")).collect().map(_.getLong(0))
      } finally benchDistinct.unpersist()
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(benchGh.length.toLong, 1024L), 0.01)
    benchGh.foreach(bf.putLong)
    val bfB = spark.sparkContext.broadcast(bf)
    val ghB = spark.sparkContext.broadcast(benchGh)
    Engine.stream(spark, dir, "documents")
      .filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), transform(sh, g => xxhash64(g)).as("ghs"))
      .select(col("doc_id"),
        // coalesce(…, 0/false): word_shingles is null-intolerant, so NULL
        // text → ghs NULL, where batch pipe_decontam_bloom's
        // explode_outer+count emits (0, false) — the row-identity
        // contract covers NULL input too
        coalesce(size(col("ghs")).cast("long"), lit(0L)).as("n_grams"),
        coalesce(
          HashExpressions.bloom_might_contain_any(col("ghs"), bfB) &&
            HashExpressions.sorted_longs_contain_any(col("ghs"), ghB),
          lit(false)).as("contaminated"))
  }
}
