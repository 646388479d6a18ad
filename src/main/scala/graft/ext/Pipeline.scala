package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine.{MaterializeOps, table => t}

/** Training-data pipeline primitives beyond the reference's own surface:
  * deterministic split, sequence packing, and weighted mixture sampling —
  * the operations that turn a deduped corpus into model-ready shards.
  *
  * All three are hash-deterministic (md5-bucket, not `rand()`), so they
  * are reproducible across runs/retries — a stage retry at 100 TB must
  * not re-roll the dice on which documents land in the eval split — and
  * exactly mirrorable in the DuckDB oracle.
  */
object Pipeline {

  private def md5Bucket(c: org.apache.spark.sql.Column, mod: Int) =
    graft.functions.HashExpressions.md5Bucket(c, mod)

  /** Packing shard count. The shard is an OUTPUT column of pipe_pack,
    * pipe_pack_stats and pipe_end_to_end (the published training-data
    * layout), so it is a constant: the same corpus packs the same way on
    * every host. It is also interpolated into the DuckDB oracle SQL
    * below, which must use the same value. The running-sum window
    * partitions by (lang, shard), so this also bounds that window's
    * parallelism to ~#lang×16 tasks.
    */
  val packShards: Int = 16

  /** The sequence-packing assignment: concatenate documents in
    * deterministic order and cut at a fixed 512-token context length —
    * each doc gets (shard, bin, offset). Partitioned by (lang, shard):
    * the running sum is a window per shard, so parallelism scales with
    * shard count (`packShards`), not language count.
    * Shared by pipe_pack and pipe_pack_stats so the efficiency report
    * audits the exact frame the pack ships. */
  private def packFrame(s: SparkSession, dir: String): DataFrame = {
    val ctxLen = 512L
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5Bucket(col("doc_id").cast("string"), packShards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("tok_end", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        (col("tok_end") - col("n_tokens")).as("tok_start"),
        floor((col("tok_end") - col("n_tokens")) / ctxLen).cast("long").as("bin"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // rendezvous (highest-random-weight) sharding: the stable
    // assignment scheme a growing corpus store needs — when the shard
    // count goes n→n+1, ONLY the ~1/(n+1) of docs whose new shard wins
    // their rendezvous move; modulo hashing would reshuffle ~n/(n+1) of
    // the corpus. shard(doc) = argmax over shards s of
    // md5(doc_id ':' s), computed as a pure per-row expression
    // (array_max over a transform'd struct array — hash sorts first,
    // shard id breaks impossible ties), so assignment is SHUFFLE-FREE:
    // the only exchanges are the three per-shard count aggregations
    // over (shard8, shard9) pairs, each map-side-partial over ≤ 2
    // small ints per doc. The query emits both the 8-shard and
    // 9-shard assignments plus per-shard moved-out counts — the
    // stability property as a measured result (moved ≈ n_docs/9,
    // all landing on the new shard).
    "pipe_rendezvous_shard" -> ((s, dir) => {
      def argmaxShard(n: Int): org.apache.spark.sql.Column = expr(
        s"""array_max(transform(sequence(0, ${n - 1}),
           |  s -> struct(md5(concat(cast(doc_id as string), ':',
           |                         cast(s as string))) as h,
           |              cast(s as bigint) as s))).s""".stripMargin)
      val assign = t(s, dir, "documents")
        .select(col("doc_id"), argmaxShard(8).as("s8"), argmaxShard(9).as("s9"))
      val n8 = assign.groupBy(col("s8").as("shard"))
        .agg(count(lit(1)).as("n8"))
      val n9 = assign.groupBy(col("s9").as("shard"))
        .agg(count(lit(1)).as("n9"))
      val moved = assign.filter(col("s8") =!= col("s9"))
        .groupBy(col("s8").as("shard")).agg(count(lit(1)).as("moved_out"))
      val spine = s.range(9).select(col("id").as("shard"))
      spine.join(broadcast(n8), Seq("shard"), "left")
        .join(broadcast(n9), Seq("shard"), "left")
        .join(broadcast(moved), Seq("shard"), "left")
        .select(col("shard"), coalesce(col("n8"), lit(0L)).as("n8"),
          coalesce(col("n9"), lit(0L)).as("n9"),
          coalesce(col("moved_out"), lit(0L)).as("moved_out"))
        .orderBy(col("shard"))
    }),

    // deterministic train/val/test split: pure per-row map — no shuffle,
    // no RNG state; the split of a document is a function of its id alone
    "pipe_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5Bucket(col("doc_id").cast("string"), 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))),

    // sequence packing: concatenate documents in deterministic order and
    // cut at a fixed context length — each doc gets (shard, bin, offset).
    // Partitioned by (lang, shard): the running sum is a window per
    // shard, so parallelism scales with shard count (`packShards`), not
    // language count
    "pipe_pack" -> ((s, dir) =>
      packFrame(s, dir).orderBy(col("doc_id"))),

    // packing-efficiency audit over the pipe_pack assignment (the same
    // frame by reference — the report and the plan cannot drift): per
    // language, bins actually opened vs the per-shard ideal
    // ceil(toks/512), and the fill ratio. Greedy sequential packing
    // opens floor(start/512)+1 bins per shard; fill = mass/(bins·512)
    // on the exact 1e-6 grid (a doc straddling its bin's boundary can
    // push fill past 1.0 — bin is assigned by START offset; the report
    // makes that visible rather than hiding it). Scale shape: two
    // map-side-combinable aggregations over the already-probed pack
    // frame, langs-sized output.
    "pipe_pack_stats" -> ((s, dir) => {
      val perShard = packFrame(s, dir)
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("toks"),
          (max(col("bin")) + 1L).as("bins"))
        .withColumn("ideal", expr("(toks + 511) div 512"))
      perShard.groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("toks")).as("total_toks"),
          sum(col("bins")).as("n_bins"),
          sum(col("ideal")).as("ideal_bins"))
        .withColumn("fill", TextAnalysis.ratioRound(
          col("total_toks"), col("n_bins") * 512L, 6))
        .orderBy(col("lang"))
    }),

    // SFT (instruction-tuning) example formatting + loss-mask spans +
    // sequence packing — the post-training counterpart of pipe_pack.
    // Each document becomes a chat-templated (instruction, response)
    // example: the first 8 words stand in for the instruction, the rest
    // for the response (deterministic, id-free split). Token accounting
    // mirrors a real template — <|user|>\n + instruction + \n<|assistant|>\n
    // puts 2 extra tokens on the prompt side; response + <|end|> plus the
    // assistant marker puts 2 on the response side. Examples pack
    // greedily into 512-token bins within (lang, shard) exactly like
    // pipe_pack (same window, same bin arithmetic), and each example
    // carries its loss-mask span [mask_start, mask_end) — the token range
    // the trainer computes loss on (response only, prompt masked out).
    // Scale shape: one per-(lang, shard) window over long counters, no
    // text past the scan — identical to the probed pipe_pack plan.
    "pipe_sft_pack" -> ((s, dir) => {
      val ctxLen = 512L
      val promptWords = 8L
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5Bucket(col("doc_id").cast("string"), packShards).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .filter(col("n_tok") >= promptWords + 4) // require a real response
        .select(col("doc_id"), col("lang"), col("shard"),
          lit(promptWords + 2L).as("prompt_toks"),
          (col("n_tok") - promptWords + 2L).as("resp_toks"),
          (col("n_tok") + 4L).as("total_toks"))
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("tok_end", sum(col("total_toks")).over(w))
        .select(col("doc_id"), col("lang"), col("shard"),
          col("prompt_toks"), col("resp_toks"), col("total_toks"),
          (col("tok_end") - col("total_toks")).as("tok_start"),
          floor((col("tok_end") - col("total_toks")) / ctxLen).cast("long").as("bin"),
          (col("tok_end") - col("total_toks") + col("prompt_toks")).as("mask_start"),
          col("tok_end").as("mask_end"))
        .orderBy(col("doc_id"))
    }),

    // DoReMi-style domain reweighting (Xie et al. 2023,
    // arXiv:2305.10429), one exponentiated-gradient step: domains whose
    // text the corpus-level reference model finds SURPRISING (higher
    // excess loss) are upweighted for the next mixture. The proxy model
    // is the text_unigram_logprob unigram LM (top-4096 vocab, 0.5 floor);
    // per-doc scores land on the validated 1e-4 integer grid (the ccnet
    // precedent), so each domain's mean is one exact-BIGINT sum and one
    // double division — the only cross-engine float exposure is
    // exp(excess) on a deterministic input, absorbed by round(6) (the
    // text_dsir ln() precedent). w ∝ uniform·exp(η·excess), η = 1;
    // the uniform baseline cancels in the normalization. Scale shape:
    // one corpus scoring pass (probed for the unigram scorer), the
    // domain frame is D rows checkpointed once, everything after is
    // broadcast arithmetic.
    "pipe_doremi" -> ((s, dir) => {
      val vocabK = 4096
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => length(x) > 0)).as("w"))
      val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .materialize(false)
      val tot = counts.agg(sum(col("c")).cast("double").as("tot"))
      val vocab = counts.orderBy(col("c").desc, col("w")).limit(vocabK)
      val scored = toks.join(broadcast(vocab), Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp",
          when(col("c").isNotNull, log(col("c") / col("tot")))
            .otherwise(log(lit(0.5) / col("tot"))))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tok"),
          round(avg(col("lp")) * 10000).cast("long").as("score_m4"))
      // D-row domain frame with several consumers: driver-local
      // relation (the toLocal contract — eager localCheckpoint blocks
      // are never unpersisted and accumulate across bench iterations)
      val dom = Similarity.toLocal(s, scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"),
          sum(col("score_m4")).as("sum_m4")))
      val ctot = dom.agg(sum(col("sum_m4")).as("c_sum"),
        sum(col("n_docs")).as("c_n"), count(lit(1)).as("d"))
      // per-domain and corpus mean nll ROUNDED TO THE 1e-4 GRID FIRST
      // (pure-BIGINT identity — scores are negative, so negate into the
      // identity's non-negative domain); excess is then an exact
      // integer difference and exp() sees a deterministic input
      val ex = dom.crossJoin(broadcast(ctot))
        .withColumn("dm4",
          TextAnalysis.ratioRoundInt(-col("sum_m4"), col("n_docs"), 0))
        .withColumn("cm4",
          TextAnalysis.ratioRoundInt(-col("c_sum"), col("c_n"), 0))
        .withColumn("excess4", col("dm4") - col("cm4"))
        .withColumn("e", exp(col("excess4").cast("double") / lit(10000.0)))
      val z = ex.agg(sum(col("e")).as("z"))
      ex.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("n_toks"),
          (col("dm4").cast("double") / lit(10000.0)).as("nll"),
          (col("excess4").cast("double") / lit(10000.0)).as("excess"),
          TextAnalysis.ratioRound(lit(1L), col("d"), 6).as("w_uniform"),
          round(col("e") / col("z"), 6).as("w_doremi"))
        .orderBy(col("source"))
    }),

    // context-window chunking: split each document's token stream into
    // overlapping fixed-size chunks (128 tokens, stride 96 → 32-token
    // overlap) — the step between curation and packing when documents
    // exceed the training context. Pure per-row fan-out (explode of an
    // arithmetic sequence): no shuffle except the output sort, chunk
    // count ∝ tokens — scales like the corpus, embarrassingly parallel.
    // chunk_id = tok_start/stride is exact integer arithmetic (starts
    // are stride multiples), identical in the oracle.
    "pipe_chunk" -> ((s, dir) => {
      val chunkLen = 128L
      val stride = 96L
      t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0L), col("n_tok") - 1, lit(stride))).as("tok_start"))
        .select(col("doc_id"),
          expr(s"tok_start div $stride").as("chunk_id"),
          col("tok_start"),
          least(lit(chunkLen), col("n_tok") - col("tok_start")).as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // benchmark decontamination: flag corpus documents sharing any word
    // 8-gram with a benchmark set (stand-in: every 50th doc). The
    // benchmark gram set is tiny relative to the corpus → broadcast; the
    // corpus explodes its grams ONCE and semi-joins — no shuffle of the
    // corpus, work linear in total grams. Standard eval-leakage guard.
    "pipe_decontam" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.HashExpressions.word_shingles(col("text"), 8).as("sh"))
      val bench = sh.filter(col("doc_id") % 50 === 0)
        .select(explode(col("sh")).as("gram")).distinct()
        .withColumn("hit", lit(true))
      // single pass over the corpus grams: explode_outer keeps empty/null
      // docs (n_grams = 0, matching the oracle's len([]) = 0), the tiny
      // bench set broadcasts, and the groupBy partial-aggregates map-side
      // so the shuffle carries one row per document, not per gram
      t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          explode_outer(graft.functions.HashExpressions.word_shingles(col("text"), 8))
            .as("gram"))
        .join(broadcast(bench), Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("gram")).as("n_grams"),
          coalesce(max(col("hit")), lit(false)).as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // decontamination, bloom-prefilter variant: pipe_decontam's broadcast
    // semi-join assumes the benchmark gram set fits in executor memory as
    // an exact hash relation. When it doesn't (every eval suite ever
    // released, n-grams of each), the exact join must shuffle BOTH sides
    // — including every corpus gram. This variant restores the map-side
    // cut: (1) build a Bloom filter over the bench grams (~1.2 bytes/gram
    // at 1% fpp vs ~70-byte strings, so it broadcasts when the exact set
    // cannot); (2) prefilter corpus grams through it map-side — only true
    // hits + ~1% false positives reach the exchange; (3) exact semi-join
    // the survivors to kill the false positives. Result is IDENTICAL to
    // the exact path (same oracle SQL), only the plan shape differs.
    // The membership test is a native codegen'd expression
    // ([[graft.functions.HashExpressions.BloomMightContainLong]], the
    // same shape as Spark's internal runtime-filter
    // BloomFilterMightContain) — the filter stage runs once per corpus
    // gram, so it stays inside whole-stage codegen with zero per-row
    // serialization (plan-asserted: no ScalaUDF node).
    "pipe_decontam_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // grams ride as xxhash64 longs from the scan stage on (the
      // dedup_substring precedent): the bloom tests 8 bytes and the
      // verify semi-join exchanges 8 bytes per gram — at the probe's
      // designed worst case (~100% hit rate) the string form shuffled
      // 843 MB at 500k docs, ~8× this. A 64-bit collision could flag
      // one clean doc (P ≈ bench×corpus grams / 2^64, ~10^-11 at
      // oracle scale; the hash-compare would surface it).
      def gh8(g: org.apache.spark.sql.Column) = when(g.isNotNull, xxhash64(g))
      // localCheckpoint: the frame has three consumers (count, bloom
      // build, verify semi-join) — uncheckpointed, each re-scans and
      // re-distincts the bench docs (the ann_pq seeds/codebook pattern)
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(
          graft.functions.HashExpressions.word_shingles(col("text"), 8)).as("gram"))
        .select(gh8(col("gram")).as("gh"))
        .distinct()
        .materialize(true)
      // deterministic: fixed-seed hashes, bit-OR merge is order-free
      val bf = bench.stat.bloomFilter("gh", math.max(bench.count(), 1024L), 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          explode_outer(graft.functions.HashExpressions.word_shingles(col("text"), 8))
            .as("gram"))
        .select(col("doc_id"), gh8(col("gram")).as("gh"))
      // native codegen'd membership test (a NULL gh yields NULL → the
      // filter drops it, same as the former UDF's explicit null guard)
      val flagged = corpus.filter(
        graft.functions.HashExpressions.bloom_might_contain(col("gh"), bfB))
        .join(bench, Seq("gh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("contaminated", lit(true))
      corpus.groupBy(col("doc_id"))
        .agg(count(col("gh")).as("n_grams"))
        .join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // token-budget corpus assembly: per language, take the best-scoring
    // documents (stopword-density quality score) until a token budget is
    // reached — the final selection step that turns a scored corpus into
    // a fixed-size training mix.
    //
    // The naive shape — running-sum window straight over each language —
    // shuffles WHOLE languages to single tasks (the pipe_pack scale bug,
    // but unshardable: budget selection needs a global order). Instead,
    // two phases: (A) quantize scores into 1000 buckets, aggregate
    // per-(lang, bucket) token mass (tiny frame), running-sum buckets
    // top-down, admit only buckets that start before the budget line;
    // (B) exact running-sum window over ADMITTED docs only. Bucket
    // quantization is order-compatible (bkt(x) < bkt(y) ⇒ score(x) <
    // score(y)), so phase B over the admitted subset selects exactly the
    // docs the full window would — but its input is ~budget-sized
    // regardless of corpus size. Degenerate case: a single bucket
    // holding most of a language (near-constant scores) re-inflates the
    // window input — the same failure mode as any quantile cut.
    "pipe_token_budget" -> ((s, dir) => {
      val budget = 2000L
      val nTok = TextAnalysis.nTokens(col("text"))
      // the score lives on a pure integer 1e-6 grid from birth:
      // score6 = (stops·10^6) div ntok. The former double score's
      // round(·,6) was a half-way hazard — stops/ntok can have an exact
      // terminating 7-decimal expansion ending in 5 (1/640 = 0.0015625),
      // landing exactly where the engines' round() diverge. Integer div
      // is engine-exact, and bkt = score6 div 1000 = floor(stops·10^3 /
      // ntok) preserves the bucket semantics (floor∘floor composition).
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), nTok.cast("long").as("n_tok"),
          TextAnalysis.stopwordHits(col("text"), TextAnalysis.stopEn)
            .cast("long").as("stops"))
        .withColumn("score6", expr("(stops * 1000000) div greatest(n_tok, 1)"))
        .withColumn("bkt", expr("score6 div 1000"))
      val wBkt = Window.partitionBy(col("lang")).orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val admitted = d.groupBy(col("lang"), col("bkt"))
        .agg(sum(col("n_tok")).as("tok"))
        .withColumn("cum_excl", sum(col("tok")).over(wBkt) - col("tok"))
        .filter(col("cum_excl") < budget)
        .select(col("lang"), col("bkt"))
      val wDoc = Window.partitionBy(col("lang"))
        .orderBy(col("score6").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(admitted), Seq("lang", "bkt"))
        .withColumn("tok_end", sum(col("n_tok")).over(wDoc))
        .filter(col("tok_end") - col("n_tok") < budget)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("score6"), col("tok_end"))
        .orderBy(col("lang"), col("tok_end"), col("doc_id"))
    }),

    // stratified sampling: EXACTLY k docs per (lang, source) stratum,
    // chosen by md5 order — deterministic and retry-safe like the other
    // samplers (a rand()-based sample re-rolls on stage retry), and
    // EXACT-k where pipe_mixture's rate-based sample is expected-k.
    //
    // The naive shape — rank window straight over the corpus — shuffles
    // each WHOLE stratum to one task (a 5 TB single task at 100 TB with
    // few strata). Instead: per-stratum counts (tiny, broadcast) derive
    // a hash THRESHOLD admitting ~64k candidates per stratum (md5 is
    // uniform, so "hash below 64k/n of the space" is a deterministic
    // pre-filter both engines compute identically; n ≤ 64k ⇒ admit
    // all). The rank window then runs over candidates only — per-task
    // work is bounded by the 64× oversample regardless of corpus size,
    // and the scan-side filter is a pure map. P(a stratum yields <k
    // candidates) is astronomically small at 64× — and if it ever did,
    // both engines apply the same rule, so the contract ("the k docs
    // with smallest hash among candidates") stays exact.
    "pipe_stratified_sample" -> ((s, dir) => {
      val k = 50
      val full = 1L << 32
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("doc_id").cast("string")).as("hsh"))
      val counts = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("hsh"), col("doc_id"))
      d.join(broadcast(counts), Seq("lang", "source"))
        .withColumn("h32", conv(substring(col("hsh"), 1, 8), 16, 10).cast("long"))
        // integer arithmetic only (`div`, not `/` — Spark's `/` on longs
        // is DOUBLE division): 64k·2^32 div n, exact in DuckDB via //
        .filter(col("h32") < least(lit(full), expr(s"${64L * k * full} div n")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("doc_id"), col("lang"), col("source"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("source"), col("rk"))
    }),

    // model-based quality gate (the FineWeb-Edu / fasttext-classifier
    // shape, arXiv:2406.17557): a FIXED-WEIGHT linear scorer over
    // integer text features with a sigmoid readout — the gate every
    // modern pre-training pipeline runs after the heuristic rules
    // (text_gopher_rules) and before mixing. The weights here are
    // corpus-calibrated constants standing in for a trained model; the
    // PLUMBING is the deliverable: per-row integer feature extraction →
    // integer logit → gate at z > 0 (a BIGINT comparison, so no float
    // boundary can flip membership cross-engine) → per-language pass
    // accounting. The only float is one exp() per LANGUAGE on the
    // deterministic integer mean logit (text_dsir's ln precedent),
    // rounded at 4dp. Pure map until the langs-sized aggregate.
    "pipe_quality_classifier" -> ((s, dir) => {
      val toks = "filter(split(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)"
      val d = t(s, dir, "documents")
        .withColumn("n_tok", expr(s"size($toks)").cast("long"))
        .withColumn("n_uniq",
          expr(s"size(array_distinct($toks))").cast("long"))
        .withColumn("n_stop", graft.ext.TextAnalysis
          .stopwordHits(col("text"), graft.ext.TextAnalysis.stopEn)
          .cast("long"))
        // densities on the 1e4 integer grid (truncating div, mirrored
        // by DuckDB // on the same non-negative integers)
        .withColumn("stopd", expr("n_stop * 10000 div greatest(n_tok, 1)"))
        .withColumn("uniqd", expr("n_uniq * 10000 div greatest(n_tok, 1)"))
        // fixed integer weights; z straddles 0 on the real corpus so
        // the gate does real work (calibrated against sf0.01 feature
        // means: 100·n_tok ≈ 5400, 4·stopd ≈ 2400, uniqd ≈ 5000)
        .withColumn("z",
          lit(100L) * col("n_tok") + lit(4L) * col("stopd") +
            col("uniqd") - lit(12800L))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("z") > 0L).cast("long")).as("n_pass"),
          sum(col("z")).as("sum_z"))
        .select(col("lang"), col("n_docs"), col("n_pass"),
          graft.ext.TextAnalysis
            .ratioRound(col("n_pass"), col("n_docs"), 6).as("pass_rate"),
          col("sum_z"),
          round(lit(1.0) / (lit(1.0) +
            exp(negate((col("sum_z").cast("double") / col("n_docs"))
              / lit(10000.0)))), 4).as("lang_score"))
        .orderBy(col("lang"))
    }),

    // fill-in-the-middle transformation (Bavarian et al. 2022,
    // arXiv:2207.14255): reorder each document to prefix‖suffix‖middle
    // (PSM) so an autoregressive model learns infilling — the data-side
    // transform behind every code model's FIM objective. Cut points are
    // deterministic character thirds (integer div — a real deployment
    // swaps in seeded random cuts, same plumbing); docs under 30 chars
    // pass through untransformed (fim = false), the standard fim_rate
    // gate. Pure per-row expression work; the reordered text is
    // md5-pinned rather than returned bodily (the pii_scrub rule).
    "pipe_fim_transform" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("cut1", expr("n_chars div 3"))
        .withColumn("cut2", expr("(2 * n_chars) div 3"))
        .withColumn("fim", col("n_chars") >= 30L)
        .withColumn("out_md5", expr(
          """CASE WHEN fim THEN md5(concat(
            |  substr(text, 1, CAST(cut1 AS INT)),
            |  substr(text, CAST(cut2 + 1 AS INT)),
            |  substr(text, CAST(cut1 + 1 AS INT), CAST(cut2 - cut1 AS INT))))
            |ELSE md5(text) END""".stripMargin))
        .select(col("doc_id"), col("n_chars"), col("cut1"), col("cut2"),
          col("fim"), col("out_md5"))
        .orderBy(col("doc_id"))),

    // deterministic global training-order shuffle — the step between a
    // curated corpus and a dataloader: every doc gets an exact global
    // position in md5(seed:doc)-pseudo-random order plus its derived
    // shard/offset (1024-doc shards here). Seeded and content-keyed, so
    // the order is reproducible across reruns AND stable under corpus
    // repartitioning — a retry can never see two docs swap. The global
    // rank is ext/DistRank's two-level form (hex-nibble shard census +
    // broadcast offsets), so no sort task ever holds more than a
    // key-range slice: the exact opposite of orderBy(rand()), which is
    // both nondeterministic under retry and a corpus-wide sort.
    "pipe_shuffle_order" -> ((s, dir) => {
      val docsPerShard = 1024L
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("seed42:"), col("doc_id").cast("string"))).as("key"))
      val ranked = DistRank.rowNumber(s, keyed,
        conv(substring(col("key"), 1, 1), 16, 10).cast("long"),
        Seq(col("key").asc, col("doc_id").asc), "pos1")
      ranked
        .select(col("doc_id"), (col("pos1") - 1L).as("pos"))
        .withColumn("shard", expr(s"pos div $docsPerShard"))
        .withColumn("offset", expr(s"pos % $docsPerShard"))
        .orderBy(col("doc_id"))
    }),

    // systematic probability-proportional-to-size sampling (Madow 1949,
    // the textbook PPS design): walk the corpus weight line (w = chars)
    // in md5-pseudo-shuffled order and take one hit at every multiple of
    // step = total div k — inclusion probability ∝ size with ZERO
    // per-row randomness, and a doc longer than step is drawn with
    // multiplicity (mult = multiples of step inside its interval). The
    // char-budget counterpart of pipe_stratified_sample's equal-count
    // draw: sampling docs for eval/inspection where long docs should
    // surface proportionally to the token mass they contribute.
    //
    // Scale shape: the global weight prefix-sum is the two-level census
    // form (mm_shard_manifest's layout — 16 hex-nibble key-range
    // buckets, per-bucket byte mass through the driver as a K-row
    // constant under the toLocal contract, per-bucket window + broadcast
    // offsets), so sort state stays bucket-sized at any corpus size and
    // every boundary decision is exact BIGINT div — no float anywhere.
    "pipe_pps_sample" -> ((s, dir) => {
      import s.implicits._
      val k = 40L
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("w"),
          md5(col("doc_id").cast("string")).as("key"))
      val tot = d.agg(sum(col("w")).as("tot"))
      // hex first nibble is order-consistent with the key sort ('0'<'9'
      // <'a'<'f' lexicographically = nibble order), so bucket-local
      // prefix sums + census offsets compose to the exact global one
      val bucketed = d.withColumn("__b",
        conv(substring(col("key"), 1, 1), 16, 10).cast("long"))
      val census = bucketed.groupBy(col("__b"))
        .agg(sum(col("w")).as("__bw"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val offDf = broadcast(census.map(_._1)
        .zip(census.map(_._2).scanLeft(0L)(_ + _)).toSeq.toDF("__b", "__off"))
      val win = Window.partitionBy(col("__b")).orderBy(col("key"), col("doc_id"))
      bucketed
        .withColumn("__cum", sum(col("w")).over(win))
        .join(offDf, Seq("__b"))
        .crossJoin(broadcast(tot))
        .withColumn("cum", col("__off") + col("__cum"))
        // multiples of step inside (cum−w, cum]: g·step hits THIS doc.
        // step floors at 1 (a shard with Σw < k would otherwise make
        // Spark's div-by-zero NULL out while DuckDB RAISES — divergent
        // failure modes on the same degenerate input)
        .withColumn("mult", expr(
          s"cum div greatest(tot div $k, 1)" +
            s" - (cum - w) div greatest(tot div $k, 1)"))
        .filter(col("mult") >= 1L)
        .select(col("doc_id"), col("w"), col("mult"))
        .orderBy(col("doc_id"))
    }),

    // temperature-reweighted mixture: per-language keep-rates ∝ share^(1/T)
    // with T=2 — the standard low-resource upsampling for multilingual
    // corpora (flattens the language distribution toward uniform as T→∞).
    // p^(1/2) is written as sqrt(), which is IEEE-correctly-rounded in
    // both engines (pow() is not guaranteed to be). Keep-decision is the
    // doc's own md5 bucket against a rate-derived threshold: pure map,
    // deterministic, retry-safe. Scale shape: two tiny aggregates
    // (per-lang counts, the sqrt-mass normalizer), broadcast rates, one
    // map-side-partial final agg — nothing corpus-sized ever shuffles.
    "pipe_temperature_mix" -> ((s, dir) => {
      val K = 200.0 // target sampled-doc budget across the corpus
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      // the sqrt-mass normalizer is the one reduction feeding a hard
      // floor(rate·2^32) threshold, so it must not be an order-sensitive
      // double sum (partial-agg merge order vs DuckDB row order) — sum
      // floor(sqrt(n)·10⁶) BIGINTs instead: associative, and the 1e-6
      // truncation is identical in both engines
      val z = counts.agg(
        sum(floor(sqrt(col("n")) * lit(1000000.0)).cast("long")).as("zq"))
      val rates = counts.crossJoin(broadcast(z))
        .select(col("lang"), col("n"),
          least(lit(1.0),
            lit(K) * sqrt(col("n")) / (col("zq") / lit(1000000.0)) / col("n"))
            .as("rate"))
        .withColumn("thr", floor(col("rate") * lit(4294967296.0)).cast("long"))
      val kept = docs
        .withColumn("h32",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"))
        .join(broadcast(rates), Seq("lang"))
        .filter(col("h32") < col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).cast("long").as("chars_kept"))
      // left join from rates: a language sampled to zero must still report
      rates.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n").as("n_docs"), round(col("rate"), 6).as("rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
        .orderBy(col("lang"))
    }),

    // curriculum phasing — order the corpus into 4 difficulty phases by
    // sequence length (the standard curriculum-learning proxy: short →
    // easy first): phase boundaries are the exact R-7 quartiles of
    // n_chars via the same rank-selection pattern pipe_quality_cut
    // proved (one shuffle-sort, no per-group buffering), the 3-row
    // cutoff frame broadcasts back, and phase assignment is a map-side
    // CASE — the corpus is never re-sorted into phases, only tagged.
    // Cutoff doubles derive from identical integer rank selections in
    // both engines (the quality-cut precedent), so a boundary doc can
    // never switch phases across engines. The rank is the two-level
    // DISTRIBUTED form (DistRank — length-bucket shards + broadcast
    // prefix-sum offsets): the r7/r8 global-window version's single
    // sort partition measured 57→127 MB peak task from 10× to 100×
    // (linear in the corpus = guaranteed fall-over at cluster scale);
    // shard sorts stay length-bucket-sized at any SF. The census gives
    // the exact total for free, so the 6 quartile-boundary ranks are
    // driver constants and ALL cuts come from ONE filtered aggregate
    // over ≤6 rank-selected rows (the r8 three-aggregation form
    // re-executed the ranked frame once per quartile).
    "pipe_curriculum" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val (ranked, n) = DistRank.rowNumberWithCount(s, docs,
        floor(col("n_chars") / 16).cast("long"),
        Seq(col("n_chars"), col("doc_id")), "rn")
      // t = q·(n−1) in driver doubles — bit-identical to the in-plan
      // lit(q)*(n-1) arithmetic it replaces (same IEEE ops, same order)
      val targets = Seq(1 -> 0.25, 2 -> 0.50, 3 -> 0.75).map { case (i, q) =>
        val tq = q * (n - 1).toDouble
        (i, math.floor(tq).toLong + 1, math.ceil(tq).toLong + 1,
          tq - math.floor(tq))
      }
      val wantedRanks = targets.flatMap { case (_, lo, hi, _) => Seq(lo, hi) }
        .distinct.map(lit(_))
      val aggs = targets.flatMap { case (i, lo, hi, _) => Seq(
        max(when(col("rn") === lo, col("n_chars"))).as(s"vlo$i"),
        max(when(col("rn") === hi, col("n_chars"))).as(s"vhi$i")) }
      val c = broadcast(ranked
        .filter(col("rn").isin(wantedRanks: _*))
        .groupBy().agg(aggs.head, aggs.tail: _*)
        .select(targets.map { case (i, _, _, f) =>
          (col(s"vlo$i") + (col(s"vhi$i") - col(s"vlo$i")) * lit(f))
            .as(s"c$i") }: _*))
      docs.crossJoin(c)
        .withColumn("phase",
          when(col("n_chars") <= col("c1"), 1L)
            .when(col("n_chars") <= col("c2"), 2L)
            .when(col("n_chars") <= col("c3"), 3L)
            .otherwise(4L))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("n_chars")).as("len_min"), max(col("n_chars")).as("len_max"))
        .orderBy(col("phase"))
    }),

    // contamination-rate REPORT across gram sizes — the go/no-go number
    // a training run reads before it starts (the decontam passes flag
    // and drop; this reports HOW contaminated the corpus is, and how
    // the verdict moves with the gram size: 4-grams over-flag common
    // phrases, 13-grams under-flag paraphrase — the standard
    // sensitivity sweep). One corpus scan on each side: every size's
    // shingles are tagged and exploded through a single generator, the
    // bench gram set broadcasts per (size, gram), and the per-(size,
    // doc) aggregation partial-aggregates map-side, so the exchange
    // carries 3 rows per document, never grams. Docs shorter than a
    // gram size have no grams AT that size and drop from that size's
    // denominator (mirrored exactly in the oracle).
    "pipe_decontam_report" -> ((s, dir) => {
      val sizes = Seq(4, 8, 13)
      def tagged(df: DataFrame) = df
        .select(col("doc_id"), explode(flatten(array(
          sizes.map(n => transform(
            graft.functions.HashExpressions.word_shingles(col("text"), n),
            g => struct(lit(n.toLong).as("n"), g.as("gram")))): _*))).as("t"))
        .select(col("doc_id"), col("t.n").as("n"), col("t.gram").as("gram"))
      val docs = t(s, dir, "documents")
      val bench = broadcast(tagged(docs.filter(col("doc_id") % 50 === 0))
        .select(col("n"), col("gram")).distinct()
        .withColumn("hit", lit(true)))
      val per = tagged(docs.filter(col("doc_id") % 50 =!= 0))
        .join(bench, Seq("n", "gram"), "left")
        .groupBy(col("n"), col("doc_id"))
        .agg(count(lit(1)).as("grams"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("hits"))
      per.groupBy(col("n"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("grams")).as("grams_total"),
          sum(col("hits")).as("grams_hit"))
        .select(col("n"), col("n_docs"), col("n_flagged"),
          TextAnalysis.ratioRound(col("n_flagged"),
            greatest(col("n_docs"), lit(1L)), 6).as("flagged_pct"),
          col("grams_total"), col("grams_hit"))
        .orderBy(col("n"))
    }),

    // the INCREMENTAL corpus-maintenance loop as one job — the other
    // production composite next to pipe_end_to_end's from-scratch build:
    // a new crawl shard is (1) gated by the Gopher battery, (2)
    // exact-deduped against the ingested corpus AND within itself
    // (keep-first per content hash), (3) upserted, and (4) the merged
    // corpus is summarized per language WITH a content checksum — the
    // validation a real migration pipeline runs after every merge.
    // Scale shape per stage: the gate is per-row map work; the dedup is
    // an 8B-hash anti-join (never text) + one keep-first window over
    // shard-sized frames; the merge is a union (no shuffle); the
    // summary is one map-side-combinable aggregate whose checksum is
    // the q_table_checksum xor fold. Stage frames share by reference
    // the gate (gopherFrame), so the chain and the standalone
    // text_gopher_rules can never drift.
    "pipe_incremental_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val base = docs.filter(col("doc_id") % 2 === 0)
      val shard = docs.filter(col("doc_id") % 2 =!= 0)
      // gated (the Gopher gate's regex kernels) feeds the dedup chain
      // AND its own stage census; survivors feeds the merge AND its
      // census — checkpoint both so the gate runs once per sweep, not
      // once per consumer (the bm25/basket multi-consumer rule)
      val gated = TextAnalysis.gopherFrame(shard)
        .filter(col("passes_gopher"))
        .select(col("doc_id"), col("lang"), col("text"),
          md5(col("text")).as("h"))
        .materialize(false)
      val corpusH = base.select(md5(col("text")).as("h")).distinct()
      val marked = gated
        .join(corpusH.withColumn("dup", lit(true)), Seq("h"), "left")
      val survivors = marked.filter(!coalesce(col("dup"), lit(false)))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("text"))
        .materialize(false)
      val merged = base.unionAll(survivors)
      def g(df: DataFrame, c: String) =
        df.groupBy(col("lang")).agg(count(lit(1)).as(c))
      val fin = merged
        .withColumn("rh", conv(substring(md5(concat_ws("|",
          col("doc_id").cast("string"), col("text"))), 1, 15), 16, 10)
          .cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_final"),
          sum(length(col("text")).cast("long")).as("chars_final"),
          expr("bit_xor(rh)").as("checksum"))
      docs.select(col("lang")).distinct()
        .join(g(base, "n_base"), Seq("lang"), "left")
        .join(g(shard, "n_shard"), Seq("lang"), "left")
        .join(g(gated, "n_gated"), Seq("lang"), "left")
        .join(g(survivors, "n_inserted"), Seq("lang"), "left")
        .join(fin, Seq("lang"), "left")
        .select(col("lang"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_shard"), lit(0L)).as("n_shard"),
          coalesce(col("n_gated"), lit(0L)).as("n_gated"),
          coalesce(col("n_inserted"), lit(0L)).as("n_inserted"),
          (coalesce(col("n_gated"), lit(0L)) -
            coalesce(col("n_inserted"), lit(0L))).as("n_dup_dropped"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("chars_final"), lit(0L)).as("chars_final"),
          coalesce(col("checksum"), lit(0L)).as("checksum"))
        .orderBy(col("lang"))
    }),

    // epoch / repeat-factor planning — the budgeting step BEFORE any
    // mixture is sampled: given a token budget of 3× the corpus (the
    // multi-epoch regime) spread uniformly across sources, how many
    // epochs (repeats) must each source run to meet its target, where
    // does the repeat cap (3.5 epochs — past which repeated data stops
    // helping) bind, and what does each source actually contribute
    // under the cap. Pure planning arithmetic on per-source totals:
    // one map-side-combinable 20-row aggregate, a 1-row broadcast
    // total — nothing corpus-sized moves, at any corpus size. All
    // ratios live on the exact 1e-4 BIGINT grid (ratioRoundInt), and
    // targets/effective chars are integer `div` — no float can drift
    // the plan across engines.
    "pipe_epoch_plan" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(col("n_chars")).cast("long").as("avail"))
      val tot = per.agg(sum(col("avail")).as("total"),
        count(lit(1)).as("n_src"))
      per.crossJoin(broadcast(tot))
        .withColumn("target", expr("(3 * total) div n_src"))
        .withColumn("e_u4", TextAnalysis.ratioRoundInt(
          col("target"), greatest(col("avail"), lit(1L)), 4))
        .select(col("source"), col("avail").as("available_chars"),
          col("target").as("target_chars"),
          (col("e_u4").cast("double") / 10000.0).as("epochs"),
          (least(col("e_u4"), lit(35000L)).cast("double") / 10000.0)
            .as("epochs_capped"),
          expr("(least(e_u4, 35000) * avail) div 10000")
            .as("effective_chars"),
          (col("e_u4") > 35000L).as("over_cap"))
        .orderBy(col("source"))
    }),

    // weighted mixture sampling: per-source keep-rates applied via the
    // doc's own hash bucket — deterministic, retry-safe, no shuffle; the
    // sampled mixture is then summarized per source
    "pipe_mixture" -> ((s, dir) => {
      val rate = Map("src0" -> 30, "src1" -> 90, "src2" -> 100, "src3" -> 60)
      val docs = t(s, dir, "documents")
        .withColumn("bucket", md5Bucket(col("doc_id").cast("string"), 100))
      val keep = rate.foldLeft(lit(80)) { case (acc, (src, r)) =>
        when(col("source") === src, lit(r)).otherwise(acc)
      }
      docs.filter(col("bucket") < keep)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("chars_kept"))
        .orderBy(col("source"))
    }),

    // FUZZY benchmark decontamination: the exact-gram pass
    // (pipe_decontam) misses paraphrased/lightly-edited leakage; this
    // pass flags corpus docs NEAR-DUP to any benchmark doc. Same
    // MinHash-LSH machinery as dedup_minhash_lsh but ASYMMETRIC: the
    // bench side is the eval suite — tiny — so its banded keys (with
    // shingle sets for verification) BROADCAST, the corpus side never
    // shuffles (the join runs in the scan stage), and no bucket cap is
    // needed: candidates are bounded by bench size × corpus bucket
    // hits, the corpus can't go quadratic against itself. Verified with
    // the exact-Jaccard ≥ 0.7 threshold shared with the dedup pass.
    "pipe_decontam_fuzzy" -> ((s, dir) => {
      import graft.ext.Dedup
      val docs = t(s, dir, "documents")
      val sig = Dedup.signatures(docs) // doc_id, sh, sig
      val banded = sig.select(col("doc_id"), col("sh"),
        posexplode(Dedup.bandKeys(col("sig"))).as(Seq("band", "bkey")))
      val bench = banded.filter(col("doc_id") % 50 === 0)
        .select(col("band"), col("bkey"),
          col("doc_id").as("bench_id"), col("sh").as("sh_b"))
      val flagged = banded.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), Seq("band", "bkey"))
        .filter(Dedup.jaccard(col("sh"), col("sh_b")) >= 0.7)
        .groupBy(col("doc_id"))
        .agg(min(col("bench_id")).as("matched_bench"))
      docs.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"))
        .join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("matched_bench").isNotNull.as("is_fuzzy_contaminated"),
          col("matched_bench"))
        .orderBy(col("doc_id"))
    }),

    // corpus refresh (MERGE/upsert semantics): a re-crawl batch carries
    // updated versions of existing docs (batch wins on doc_id) plus
    // brand-new docs (appended). Copy-on-write expressed relationally:
    // base ANTI JOIN batch-keys ∪ batch — the standard way to refresh a
    // parquet corpus without a table format. Scale shape: at 100 TB the
    // corpus lives hash-bucketed on doc_id, so the anti join is
    // exchange-free on the corpus side (the incremental_bucketed probe
    // measures exactly that layout) and the rewrite is bounded to the
    // partitions the batch touches; the batch itself is shard-sized and
    // broadcasts. The batch here is derived deterministically from the
    // table (every 7th doc re-crawled, every 13th doc's successor
    // inserted) so the oracle can replay it.
    "pipe_upsert" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val updates = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" [recrawl]")).as("text"))
      val inserts = base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          concat(lit("NEW "), col("text")).as("text"))
      val batch = updates.unionAll(inserts)
      val merged = base
        .join(batch.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionAll(batch)
      merged.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // corpus-version diff — the audit report between two corpus
    // snapshots (what did the recrawl actually change?): FULL OUTER
    // join on doc_id, content compared by md5 so only 16-byte digests
    // cross the comparison, statuses added/removed/changed/unchanged
    // with doc counts and the char-mass delta. v1 is a deterministic
    // derivation of v0 (pipe_upsert's recrawl transform + a %11
    // deletion slice) so both engines diff the same pair. Scale shape:
    // one co-partitioned full outer join on the corpus key — on a
    // bucketed corpus layout it is exchange-free (the
    // incremental_bucketed probe's shape); everything after is a
    // 4-row aggregate.
    "pipe_dataset_diff" -> ((s, dir) => {
      val v0 = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val v1 = v0.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [recrawl]")))
            .otherwise(col("text")).as("text"))
        .unionAll(v0.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
            concat(lit("NEW "), col("text")).as("text")))
      val a = v0.select(col("doc_id"), md5(col("text")).as("h0"),
        length(col("text")).cast("long").as("c0"))
      val b = v1.select(col("doc_id"), md5(col("text")).as("h1"),
        length(col("text")).cast("long").as("c1"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h0").isNull, "added")
            .when(col("h1").isNull, "removed")
            .when(col("h0") =!= col("h1"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("c1"), lit(0L)) - coalesce(col("c0"), lit(0L)))
            .as("chars_delta"))
        .orderBy(col("status"))
    }),

    // padding-minimizing batch assembly — the FINE-TUNING/inference
    // counterpart of pipe_pack (which concatenates docs to fill
    // pretraining context windows): sequences of similar length batch
    // together so per-batch padding (to the batch's common pad length)
    // is bounded. pad_to = tokens rounded UP to a multiple of 16 — a
    // pure integer grid, deliberately not ceil(log2(·)) (a float
    // boundary both engines would have to agree on); every doc in a
    // pad_to group pads to the same length, so waste is exact integer
    // algebra. Batches are md5-ordered B=32 slices within each pad_to
    // group (the pipe_split retry-safe determinism rule). Scale: one
    // narrow (doc_id, tokens) shuffle keyed by pad_to; the ranking
    // window streams per group, batch count ∝ corpus.
    "pipe_length_buckets" -> ((s, dir) => {
      val B = 32
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
            .cast("long").as("tokens"))
        .withColumn("pad_to", expr("((tokens + 15) div 16) * 16"))
        .withColumn("h", md5(col("doc_id").cast("string")))
      val ranked = toks.withColumn("rn", row_number().over(
        Window.partitionBy(col("pad_to")).orderBy(col("h"), col("doc_id"))))
        .withColumn("batch_no", expr(s"(rn - 1) div $B"))
      ranked.groupBy(col("pad_to"), col("batch_no"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("sum_tokens"))
        .withColumn("padded_tokens", col("n_docs") * col("pad_to"))
        // greatest()-guard per ratioRound's den >= 1 contract: an all-
        // whitespace doc has tokens=0 → pad_to=0 → padded_tokens=0, and
        // the ANSI IntegralDivide would throw; the oracle guards the
        // same way (greatest(n_docs*pad_to, 1)) and reports waste 0.0
        .withColumn("waste6", TextAnalysis.ratioRound(
          col("padded_tokens") - col("sum_tokens"),
          greatest(col("padded_tokens"), lit(1L)), 6))
        .select(col("pad_to"), col("batch_no"), col("n_docs"),
          col("sum_tokens"), col("padded_tokens"), col("waste6"))
        .orderBy(col("pad_to"), col("batch_no"))
    }),

    // FineWeb-style per-language percentile gate: keep each language's
    // docs at/above its own P75 of a quality signal (n_chars here — the
    // signal is pluggable, the GATE is the operator). The exact quantile
    // is computed by rank selection over ONE shuffle-sort — row_number +
    // count windows stream per partition, then the two interpolation
    // neighbors at floor/ceil of t = 0.75·(n−1) are picked by rank
    // (R-7 linear interpolation, exact in double: BIGINT values and a
    // quarter-grid fraction). Spark's own percentile() aggregate
    // buffers every group value in the agg buffer — MEASURED against
    // this plan (PROBE_LOCAL_100x.json `quality_cut_alternative`):
    // percentile() is faster on the 500k-doc shard (1.5 vs 4.3s,
    // identical cutoffs) precisely because its per-group buffer sits in
    // UNTRACKED heap — peakExecutionMemory reads 0.0 MB while it holds
    // the whole group — and untracked means unspillable: its failure
    // mode at corpus scale is an executor OOM, not a slow spill. This
    // formulation pays ~3s at probe scale for a TRACKED spillable sort.
    // The K-row cutoff frame broadcasts back for a map-side gate.
    // Oracle: DuckDB's quantile_cont — an INDEPENDENT implementation
    // of the same R-7 definition.
    "pipe_quality_cut" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val byLang = Window.partitionBy(col("lang"))
      val r = docs
        .withColumn("rn",
          row_number().over(byLang.orderBy(col("n_chars"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(byLang))
        .withColumn("t", lit(0.75) * (col("n") - 1))
      val picks = r
        .groupBy(col("lang"))
        .agg(
          max(when(col("rn") === floor(col("t")).cast("long") + 1,
            col("n_chars"))).as("vlo"),
          max(when(col("rn") === ceil(col("t")).cast("long") + 1,
            col("n_chars"))).as("vhi"),
          max(col("t") - floor(col("t"))).as("f"))
        .select(col("lang"),
          (col("vlo") + (col("vhi") - col("vlo")) * col("f")).as("cutoff"))
      docs.join(broadcast(picks), Seq("lang"))
        .filter(col("n_chars") >= col("cutoff"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("chars_kept"))
        .join(broadcast(picks), Seq("lang"))
        .select(col("lang"), col("cutoff"), col("n_kept"), col("chars_kept"))
        .orderBy(col("lang"))
    }),

    // C4-style duplicate-span REMOVAL — the corpus-rewrite stage
    // downstream of `dedup_substring`'s detection pass (C4 removed any
    // three-sentence span occurring more than once, keeping one copy;
    // here the span unit is a non-overlapping 10-word tile, the same
    // gram size the detector uses). A tile duplicated anywhere in the
    // corpus — across docs or within one — survives only at its first
    // occurrence in (doc_id, tile_idx) order; every doc is then
    // reassembled from its kept tiles. Scale shape: tile TEXT never
    // crosses an exchange — the global occurrence count + first-winner
    // aggregate rides on xxhash64(tile) (8 B/tile, map-side partial
    // min/count), and only the DUPLICATED subset (dup mass, not corpus
    // mass) flows into the two broadcasts that mark removals, so the
    // corpus itself is never reshuffled: tiling, removal marking, and
    // reassembly are all per-row map work over the original layout. If
    // dup mass outgrew the broadcast ceiling the two small joins fall
    // back to shuffle joins on h / doc_id — the 8 B-per-tile count
    // exchange stays the only corpus-sized movement either way.
    // (Same 64-bit caveat as dedup_substring: Spark keys on
    // xxhash64(tile), the oracle on the tile string.)
    "pipe_span_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // native ceil-split tiling (WordTiles): the HOF chain it replaces
      // (split → filter → transform → slice → array_join) ran twice per
      // doc through interpreted lambda frames — see the expression's
      // scaladoc; the oracle keeps the HOF formulation in DuckDB as the
      // independent mirror
      val tiled = docs
        .select(col("doc_id"),
          graft.functions.HashExpressions.word_tiles(col("text"), 10).as("tiles"))
        .filter(size(col("tiles")) > 0)
      // (doc_id, tile_idx) packed into one BIGINT so the first-winner
      // aggregate is min(long) — a codegen'd HashAggregate with map-side
      // partials; min(struct(..)) would force a SortAggregate, i.e. a
      // per-partition sort of the corpus-sized tile stream. Envelope:
      // doc_id < 2^43 and < 2^20 tiles/doc (10M words) — same
      // documented-grid style as the integer money columns.
      val tl = tiled
        .select(col("doc_id"), posexplode(col("tiles")).as(Seq("pos", "tile")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("tile_idx"),
          xxhash64(col("tile")).as("h"))
        .withColumn("ord", col("doc_id") * lit(1L << 20) + col("tile_idx"))
      val dup = tl.groupBy(col("h"))
        .agg(count(lit(1)).as("c"), min(col("ord")).as("first_ord"))
        .filter(col("c") >= 2)
      val removed = tl.join(broadcast(dup), Seq("h"))
        .filter(col("ord") =!= col("first_ord"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("tile_idx"))).as("rm"))
      val rebuilt = tiled.join(broadcast(removed), Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("tiles")).cast("long").as("n_tiles"),
          coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"),
          expr("array_join(filter(tiles, (x, i) -> NOT array_contains(" +
            "coalesce(rm, array()), CAST(i+1 AS BIGINT))), ' ')")
            .as("cleaned_text"))
      docs.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tiles"), lit(0L)).as("n_tiles"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
        .orderBy(col("doc_id"))
    }),

    // ── END-TO-END CORPUS BUILD ───────────────────────────────────────
    // the composition a production 100 TB run executes as ONE job:
    //   curation gate → exact dedup → MinHash near-dup removal →
    //   benchmark decontamination → mixture sampling → per-language
    //   token-budget selection → sequence packing.
    // Every stage was driver-verified ALONE before round 8; this entry
    // chains them so the stage CONTRACTS (who feeds whom, which doc
    // survives end to end, where each survivor lands in its shard) are
    // gated too. The oracle replays the same chain as one CTE pipeline
    // reusing the per-stage SQL fragments (the minhash CTEs by
    // reference — Dedup.minhashBandedCtes — so the two replays cannot
    // drift). Scale shape is inherited from the stages: after the scan
    // projections the text never crosses an exchange (narrow id/stat
    // frames only), candidate banding runs corpus-wide (the ingest-time
    // shape) with pairs restricted to survivors, the bench gram set
    // broadcasts, budget admission is the two-phase bucket cut, packing
    // windows per (lang, shard).
    "pipe_end_to_end" -> ((s, dir) => endToEnd(s, dir)),

    // dataset card / corpus statistics report — the per-language summary
    // a training-data release ships (HF dataset-card style): doc and
    // source counts, token mass, exact mean and R-7 P50/P95 token
    // quantiles, corpus share. Scale shape: ONE narrow (lang, n_tok,
    // source) projection off the scan; the exact quantiles reuse the
    // pipe_quality_cut rank-selection pattern (one window sort per
    // language partition, no per-group buffering — percentile() would
    // collect each group into one aggregation buffer); every other
    // stat is a map-side-combinable aggregate. Mean and share are
    // computed on the exact BIGINT grid (ratioRound) — no float-ratio
    // rounding hazard.
    "pipe_dataset_card" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_tok"))
      val byLang = Window.partitionBy(col("lang"))
      val r = d
        .withColumn("rn",
          row_number().over(byLang.orderBy(col("n_tok"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(byLang))
      def pick(p: Double, name: String) = {
        val tt = lit(p) * (col("n") - 1)
        Seq(
          max(when(col("rn") === floor(tt).cast("long") + 1, col("n_tok")))
            .as(s"${name}_lo"),
          max(when(col("rn") === ceil(tt).cast("long") + 1, col("n_tok")))
            .as(s"${name}_hi"),
          max(tt - floor(tt)).as(s"${name}_f"))
      }
      val aggs = Seq(
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_tok")).as("tok_total")) ++
        pick(0.5, "p50") ++ pick(0.95, "p95")
      val perLang = r.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), aggs: _*)
      val tot = d.agg(count(lit(1)).as("total_docs"))
      perLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_sources"), col("tok_total"),
          TextAnalysis.ratioRound(col("tok_total"), col("n_docs"), 6)
            .as("tok_mean"),
          (col("p50_lo") + (col("p50_hi") - col("p50_lo")) * col("p50_f"))
            .as("tok_p50"),
          (col("p95_lo") + (col("p95_hi") - col("p95_lo")) * col("p95_f"))
            .as("tok_p95"),
          TextAnalysis.ratioRound(col("n_docs"), col("total_docs"), 6)
            .as("share"))
        .orderBy(col("lang"))
    }),

    // deterministic source-interleaved training order — the "don't feed
    // the model a source at a time" primitive: docs are md5-shuffled
    // WITHIN each source (retry-safe, the pipe_split rule), then dealt
    // round-robin across sources; exhausted sources drop out of later
    // rounds. NO global sort exists anywhere:
    //  - the within-source dense rank is the standard two-level
    //    construction — docs range-shard on the md5 PREFIX (first hex
    //    byte, order-consistent with the full-hash sort), rank locally
    //    per (source, shard) window, and add the broadcast prefix-sum
    //    offset of earlier shards. A per-source window would put one
    //    whole source (TBs at corpus scale, with few sources) in one
    //    sort task; the shard windows are 256× finer and the offset
    //    table is K×256 rows.
    //  - the global position is a CLOSED FORM over the K-row broadcast
    //    size table: doc (source s, rank rn) sits at pos =
    //    Σ_s' min(size_s', rn−1) + |{s' < s with size_s' ≥ rn}| —
    //    a doc×K map-side aggregate.
    "pipe_interleave" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("hsh"))
        .withColumn("shard",
          conv(substring(col("hsh"), 1, 2), 16, 10).cast("long"))
      val byShard = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("hsh"), col("doc_id"))
      val shardSizes = d.groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n"))
      val offsets = shardSizes
        .withColumn("off", coalesce(sum(col("n")).over(
          Window.partitionBy(col("source")).orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("source"), col("shard"), col("off"))
      val sizes = shardSizes.groupBy(col("source").as("s2"))
        .agg(sum(col("n")).as("sz"))
      d.withColumn("lrn", row_number().over(byShard).cast("long"))
        .join(broadcast(offsets), Seq("source", "shard"))
        .withColumn("rn", col("lrn") + col("off"))
        .crossJoin(broadcast(sizes))
        .groupBy(col("doc_id"), col("source"), col("rn"))
        .agg(sum(least(col("sz"), col("rn") - 1) +
          when(col("s2") < col("source") && col("sz") >= col("rn"), 1L)
            .otherwise(0L)).as("pos"))
        .select(col("pos"), col("doc_id"), col("source"), col("rn"))
        .orderBy(col("pos"))
    }),

    // per-source domain cap — the CCNet/C4-style anti-dominance gate:
    // no single source may exceed a fixed share of the corpus (4% here),
    // overflow dropped worst-first so the cap costs the least quality.
    // Differs from pipe_stratified_sample (exact k per stratum,
    // unconditional): the cap binds only on over-represented sources
    // and keeps small sources whole. Shapes: one per-source count
    // (map-side partial, broadcast back), one corpus count riding the
    // same aggregate via grouping-sets-free rollup (two tiny frames),
    // and ONE source-partitioned rank window — the shuffle key is the
    // source, exactly the key a domain-capped corpus must co-locate
    // anyway; a pathological mega-domain is the AQE-skew/salting case
    // documented at ops/Scale.saltedJoin. Keep order inside a source
    // is (n_chars DESC, doc_id) — longest-first, total and retry-safe.
    "pipe_domain_cap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val tot = d.agg(count(lit(1)).as("n_total"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      d.crossJoin(broadcast(tot))
        // cap = ceil(0.04 · N) in pure integer arithmetic: (N+24) div 25
        .withColumn("cap", expr("(n_total + 24) div 25"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= col("cap"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rk") > col("cap"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("rk") <= col("cap"), col("n_chars"))
            .otherwise(0L)).as("kept_chars"))
        .orderBy(col("source"))
    }),

    // Poisson-bootstrap confidence interval — uncertainty for a corpus
    // statistic (mean doc length) WITHOUT resampling rows: each of
    // B=50 replicas weights every doc by a deterministic
    // Poisson(1)-distributed count w ∈ {0,1,2,3} derived from
    // md5(b:doc_id) against precomputed inverse-CDF thresholds on the
    // 2³² grid (1/e, 2/e, 2.5/e — the ≥3 tail, true mass 8.0%, is
    // capped at 3; constants are integer literals in both engines).
    // This is THE bootstrap that works on a stream/cluster: the B
    // replicas ride ONE corpus pass as a B-way explode into a
    // map-side-combinable (b, Σw·x, Σw) aggregate — no shuffled
    // resample, no per-replica scan. Replica means live on the exact
    // 1e-4 grid; the 2.5/97.5 band is nearest-rank over the sorted
    // 50-row frame via sort_array (no window — the frame is
    // B-bounded by construction).
    "pipe_bootstrap_ci" -> ((s, dir) => {
      import graft.ext.TextAnalysis.{ratioRound, ratioRoundInt}
      val B = 50
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val w32 = conv(substring(md5(concat(col("b").cast("string"), lit(":"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      val reps = d
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("w",
          when(w32 < 1580030168L, 0L)
            .when(w32 < 3160060337L, 1L)
            .when(w32 < 3950075421L, 2L).otherwise(3L))
        .groupBy(col("b"))
        .agg(sum(col("w") * col("n_chars")).as("sx"), sum(col("w")).as("sw"))
        .select(ratioRoundInt(col("sx"), greatest(col("sw"), lit(1L)), 4)
          .as("m_u4"))
      val base = d.agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      reps.agg(sort_array(collect_list(col("m_u4"))).as("ms"))
        .crossJoin(broadcast(base))
        .select(col("n_docs"),
          ratioRound(col("sum_chars"), col("n_docs"), 4).as("mean_chars"),
          (element_at(col("ms"), 2).cast("double") / lit(10000.0))
            .as("ci_lo"),
          (element_at(col("ms"), 49).cast("double") / lit(10000.0))
            .as("ci_hi"))
    })
  )

  /** The end-to-end corpus build, stage by stage. The r16 scale probe
    * recorded its survivor FUNNEL per stage (`e2e_funnel` in
    * PROBE_LOCAL_100x.json). On that adversarial near-dup shard the
    * funnel is the evidence: replicas collapse in the near-dup stage,
    * and the shard's bench-id arithmetic ((orig·100+k) % 50 = 0 ⇔
    * k ∈ {0, 50}) puts EVERY original text in the bench gram set, so
    * decontamination legitimately empties the corpus — AQE then
    * propagates EmptyRelation through the tail stages. The driver
    * contract runs at sf dirs where the funnel stays populated. */
  private def endToEnd(s: SparkSession, dir: String): DataFrame = {
      val ctxLen = 512L
      val budget = 2000L
      val docs = t(s, dir, "documents")
      val nTok = TextAnalysis.nTokens(col("text"))
      // stage 1 — curation: narrow projection + quality gate
      val gated = docs.select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("h"),
          nTok.cast("long").as("n_tok"),
          TextAnalysis.stopwordHits(col("text"), TextAnalysis.stopEn)
            .cast("long").as("stops"))
        .filter(col("n_chars").between(50, 5000) && col("n_tok") >= 10)
      // stage 2 — exact dedup: keep-first per normalized content hash.
      // exactKept feeds THREE consumers (both near-dup semi-join sides
      // via `ids`, and the survivor anti-join) — without materialization
      // each re-runs the scan + md5/token/stopword kernels + the dedup
      // window (the 56-scan plan this stage chain used to produce);
      // checkpointed it is a narrow survivor frame, ids + longs only
      val exactKept = gated
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tok"), col("stops"))
        .materialize(false)
      // stage 3 — near-dup removal: banding corpus-wide, pairs
      // restricted to exact survivors, exact-Jaccard ≥ 0.7 verify,
      // keep-first (drop the larger id of each verified pair)
      val sig = Dedup.signatures(docs)
      val ids = exactKept.select(col("doc_id"))
      // verification sides come from a DEDICATED shingle frame — joining
      // `sig` back would re-execute its 64-slot minhash kernel once per
      // side (the dedup_minhash_lsh precedent); shingles alone are the
      // cheap third of that pass
      val shH = docs
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), Dedup.shingles(col("text")).as("shv"))
        .filter(size(col("shv")) > 0)
        // both verify sides consume shH — one shingling pass, not two
        .materialize(false)
      val nearDup = Dedup.minhashCandidates(sig) // doc_a < doc_b
        .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .join(shH.select(col("doc_id").as("doc_a"), col("shv").as("sh_a")),
          Seq("doc_a"))
        .join(shH.select(col("doc_id").as("doc_b"), col("shv").as("sh_b")),
          Seq("doc_b"))
        .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.7)
        .select(col("doc_b").as("doc_id")).distinct()
      // stage 4 — decontamination: bench docs (doc_id % 50 = 0) never
      // enter the corpus; survivors sharing any word 8-gram with the
      // bench set are dropped (the broadcast semi-join of pipe_decontam)
      // surv feeds the contamination probe AND the clean anti-join —
      // checkpoint so the near-dup banding/verify chain above runs once
      val surv = exactKept.join(nearDup, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 50 =!= 0)
        .materialize(false)
      val benchGrams = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(
          graft.functions.HashExpressions.word_shingles(col("text"), 8)).as("gram"))
        .distinct()
      val contaminated = docs
        .join(surv.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(
          graft.functions.HashExpressions.word_shingles(col("text"), 8)).as("gram"))
        .join(broadcast(benchGrams), Seq("gram"), "left_semi")
        .select(col("doc_id")).distinct()
      val clean = surv.join(contaminated, Seq("doc_id"), "left_anti")
      // stage 5 — mixture: per-source md5-bucket keep rates (pipe_mixture)
      val rate = Map("src0" -> 30, "src1" -> 90, "src2" -> 100, "src3" -> 60)
      val keep = rate.foldLeft(lit(80)) { case (acc, (src, r)) =>
        when(col("source") === src, lit(r)).otherwise(acc) }
      val mixed = clean
        .filter(md5Bucket(col("doc_id").cast("string"), 100) < keep)
      // stage 6 — per-language token budget (pipe_token_budget's
      // two-phase bucket admission, budget 2000)
      // d feeds the bucket-admission census AND the per-doc selection —
      // checkpoint so the decontamination explode-join chain runs once
      val d = mixed
        .withColumn("score6", expr("(stops * 1000000) div greatest(n_tok, 1)"))
        .withColumn("bkt", expr("score6 div 1000"))
        .materialize(false)
      val wBkt = Window.partitionBy(col("lang")).orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val admitted = d.groupBy(col("lang"), col("bkt"))
        .agg(sum(col("n_tok")).as("tok"))
        .withColumn("cum_excl", sum(col("tok")).over(wBkt) - col("tok"))
        .filter(col("cum_excl") < budget)
        .select(col("lang"), col("bkt"))
      val wDoc = Window.partitionBy(col("lang"))
        .orderBy(col("score6").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val selected = d.join(broadcast(admitted), Seq("lang", "bkt"))
        .withColumn("tok_end", sum(col("n_tok")).over(wDoc))
        .filter(col("tok_end") - col("n_tok") < budget)
      // stage 7 — pack the selected mix into context windows (pipe_pack)
      val wPack = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      selected
        .withColumn("shard",
          md5Bucket(col("doc_id").cast("string"), packShards).cast("long"))
        .withColumn("pk_end", sum(col("n_tok")).over(wPack))
        .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
          col("score6"), col("shard"),
          (col("pk_end") - col("n_tok")).as("tok_start"),
          expr(s"(pk_end - n_tok) div $ctxLen").as("bin"))
        .orderBy(col("doc_id"))
  }

  private val oracleSql0: Map[String, String] = Map(
    "pipe_rendezvous_shard" ->
      """WITH h AS (
        |  SELECT doc_id, s,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS hx
        |  FROM documents, (SELECT unnest(range(0, 9)) AS s)
        |), a8 AS (
        |  SELECT doc_id, arg_max(s, hx) AS s8 FROM h WHERE s < 8
        |  GROUP BY doc_id
        |), a9 AS (
        |  SELECT doc_id, arg_max(s, hx) AS s9 FROM h GROUP BY doc_id
        |), j AS (
        |  SELECT a8.doc_id, s8, s9 FROM a8 JOIN a9 USING (doc_id)
        |), spine AS (SELECT unnest(range(0, 9)) AS shard
        |), n8 AS (SELECT s8 AS shard, count(*) AS n FROM j GROUP BY 1
        |), n9 AS (SELECT s9 AS shard, count(*) AS n FROM j GROUP BY 1
        |), mv AS (
        |  SELECT s8 AS shard, count(*) AS n FROM j WHERE s8 <> s9 GROUP BY 1
        |)
        |SELECT CAST(sp.shard AS BIGINT) AS shard,
        |  CAST(coalesce(n8.n, 0) AS BIGINT) AS n8,
        |  CAST(coalesce(n9.n, 0) AS BIGINT) AS n9,
        |  CAST(coalesce(mv.n, 0) AS BIGINT) AS moved_out
        |FROM spine sp
        |LEFT JOIN n8 ON n8.shard = sp.shard
        |LEFT JOIN n9 ON n9.shard = sp.shard
        |LEFT JOIN mv ON mv.shard = sp.shard
        |ORDER BY shard""".stripMargin,

    "pipe_dataset_diff" ->
      """WITH v0 AS (SELECT doc_id, lang, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawl]'
        |         ELSE text END AS text
        |  FROM v0 WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, lang, 'NEW ' || text
        |  FROM v0 WHERE doc_id % 13 = 0
        |), a AS (SELECT doc_id, md5(text) AS h0,
        |         CAST(length(text) AS BIGINT) AS c0 FROM v0),
        |b AS (SELECT doc_id, md5(text) AS h1,
        |      CAST(length(text) AS BIGINT) AS c1 FROM v1),
        |d AS (
        |  SELECT CASE WHEN h0 IS NULL THEN 'added'
        |              WHEN h1 IS NULL THEN 'removed'
        |              WHEN h0 <> h1 THEN 'changed'
        |              ELSE 'unchanged' END AS status,
        |    coalesce(c1, 0) - coalesce(c0, 0) AS delta
        |  FROM a FULL OUTER JOIN b USING (doc_id)
        |)
        |SELECT status, count(*) AS n_docs,
        |  CAST(sum(delta) AS BIGINT) AS chars_delta
        |FROM d GROUP BY status ORDER BY status""".stripMargin,

    "pipe_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    "pipe_pack" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $packShards AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        |  FROM d)
        |SELECT doc_id, lang, shard, n_tokens,
        |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
        |  CAST(floor((tok_end - n_tokens) / 512.0) AS BIGINT) AS bin
        |FROM cum ORDER BY doc_id""".stripMargin,

    "pipe_pack_stats" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $packShards AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        |  FROM d),
        |pershard AS (
        |  SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS toks,
        |    CAST(max(CAST(floor((tok_end - n_tokens) / 512.0) AS BIGINT)) + 1
        |      AS BIGINT) AS bins,
        |    (CAST(sum(n_tokens) AS BIGINT) + 511) // 512 AS ideal
        |  FROM cum GROUP BY lang, shard)
        |SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_toks,
        |  CAST(sum(bins) AS BIGINT) AS n_bins,
        |  CAST(sum(ideal) AS BIGINT) AS ideal_bins,
        |  CAST((CAST(sum(toks) AS BIGINT) * 2000000 + sum(bins) * 512)
        |    // (sum(bins) * 512 * 2) AS DOUBLE) / 1000000.0 AS fill
        |FROM pershard GROUP BY lang ORDER BY lang""".stripMargin,

    "pipe_doremi" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0)) AS w
        |  FROM documents
        |), counts AS (
        |  SELECT w, count(*) AS c FROM toks GROUP BY 1
        |), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM counts),
        |vocab AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096),
        |scored AS (
        |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(round(avg(CASE WHEN v.c IS NOT NULL THEN ln(v.c / tot.tot)
        |                        ELSE ln(0.5 / tot.tot) END) * 10000)
        |         AS BIGINT) AS score_m4
        |  FROM toks LEFT JOIN vocab v USING (w) CROSS JOIN tot
        |  GROUP BY doc_id, source
        |), dom AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_toks,
        |    CAST(sum(score_m4) AS BIGINT) AS sum_m4
        |  FROM scored GROUP BY source
        |), ctot AS (
        |  SELECT CAST(sum(sum_m4) AS BIGINT) AS c_sum,
        |    CAST(sum(n_docs) AS BIGINT) AS c_n,
        |    CAST(count(*) AS BIGINT) AS d
        |  FROM dom
        |), ex AS (
        |  SELECT source, n_docs, n_toks,
        |    (2 * (-sum_m4) + n_docs) // (2 * n_docs) AS dm4,
        |    (2 * (-c_sum) + c_n) // (2 * c_n) AS cm4,
        |    d
        |  FROM dom CROSS JOIN ctot
        |), ee AS (
        |  SELECT source, n_docs, n_toks, dm4, dm4 - cm4 AS excess4, d,
        |    exp(CAST(dm4 - cm4 AS DOUBLE) / 10000.0) AS e
        |  FROM ex
        |), z AS (SELECT sum(e) AS z FROM ee)
        |SELECT source, n_docs, n_toks,
        |  CAST(dm4 AS DOUBLE) / 10000.0 AS nll,
        |  CAST(excess4 AS DOUBLE) / 10000.0 AS excess,
        |  CAST((2 * 1000000 + d) // (2 * d) AS DOUBLE) / 1000000.0 AS w_uniform,
        |  round(e / z.z, 6) AS w_doremi
        |FROM ee CROSS JOIN z ORDER BY source""".stripMargin,

    "pipe_sft_pack" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $packShards AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang, shard,
        |    CAST(10 AS BIGINT) AS prompt_toks,
        |    CAST(n_tok - 6 AS BIGINT) AS resp_toks,
        |    CAST(n_tok + 4 AS BIGINT) AS total_toks
        |  FROM d WHERE n_tok >= 12),
        |cum AS (
        |  SELECT doc_id, lang, shard, prompt_toks, resp_toks, total_toks,
        |    sum(total_toks) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        |  FROM f)
        |SELECT doc_id, lang, shard, prompt_toks, resp_toks, total_toks,
        |  CAST(tok_end - total_toks AS BIGINT) AS tok_start,
        |  CAST(floor((tok_end - total_toks) / 512.0) AS BIGINT) AS bin,
        |  CAST(tok_end - total_toks + prompt_toks AS BIGINT) AS mask_start,
        |  CAST(tok_end AS BIGINT) AS mask_end
        |FROM cum ORDER BY doc_id""".stripMargin,

    "pipe_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    unnest(generate_series(0, n_tok - 1, 96)) AS tok_start
        |  FROM d WHERE n_tok > 0)
        |SELECT doc_id,
        |  CAST(tok_start // 96 AS BIGINT) AS chunk_id,
        |  CAST(tok_start AS BIGINT) AS tok_start,
        |  CAST(least(128, n_tok - tok_start) AS BIGINT) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "pipe_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
        |           || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
        |           || ' ' || tk[i+7])) AS sh
        |  FROM toks
        |), bench AS (
        |  SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE doc_id % 50 = 0
        |), corpus AS (
        |  SELECT * FROM sh WHERE doc_id % 50 != 0
        |), flagged AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS gram FROM corpus) g
        |  JOIN bench USING (gram)
        |)
        |SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_grams,
        |  (f.doc_id IS NOT NULL) AS contaminated
        |FROM corpus c LEFT JOIN flagged f USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,

    // identical result to the exact path by construction — the bloom is
    // a prefilter, never the verdict — so the oracle is pipe_decontam's,
    // verbatim (aliased below the map literal so the two cannot drift)

    "pipe_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tok,
        |    CAST(length(regexp_extract_all(lower(text),
        |      '\b(the|a|and|of|to|in|is|on|for|with)\b')) AS BIGINT) AS stops
        |  FROM documents),
        |b AS (SELECT doc_id, lang, n_tok,
        |        (stops * 1000000) // greatest(n_tok, 1) AS score6,
        |        ((stops * 1000000) // greatest(n_tok, 1)) // 1000 AS bkt
        |      FROM d),
        |bs AS (SELECT lang, bkt, sum(n_tok) AS tok FROM b GROUP BY 1, 2),
        |bc AS (
        |  SELECT lang, bkt,
        |    sum(tok) OVER (PARTITION BY lang ORDER BY bkt DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum_excl
        |  FROM bs),
        |adm AS (SELECT lang, bkt FROM bc WHERE cum_excl < 2000),
        |w AS (
        |  SELECT b.doc_id, b.lang, b.n_tok, b.score6,
        |    sum(b.n_tok) OVER (PARTITION BY b.lang
        |      ORDER BY b.score6 DESC, b.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        |  FROM b JOIN adm USING (lang, bkt))
        |SELECT doc_id, lang, n_tok, score6,
        |  CAST(tok_end AS BIGINT) AS tok_end
        |FROM w WHERE tok_end - n_tok < 2000
        |ORDER BY lang, tok_end, doc_id""".stripMargin,

    "pipe_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS hsh
        |  FROM documents),
        |c AS (SELECT lang, source, count(*) AS n FROM h GROUP BY 1, 2),
        |cand AS (
        |  SELECT h.doc_id, h.lang, h.source, h.hsh
        |  FROM h JOIN c USING (lang, source)
        |  WHERE ('0x' || substr(h.hsh, 1, 8))::BIGINT
        |        < least(4294967296, 13743895347200 // c.n)),
        |r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY hsh, doc_id) AS rk
        |  FROM cand)
        |SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 50
        |ORDER BY lang, source, rk""".stripMargin,

    "pipe_quality_classifier" ->
      """WITH f AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> len(x) > 0)) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(list_filter(string_split_regex(
        |      lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS BIGINT)
        |      AS n_uniq,
        |    CAST(length(regexp_extract_all(lower(text),
        |      '\b(the|a|and|of|to|in|is|on|for|with)\b')) AS BIGINT)
        |      AS n_stop
        |  FROM documents
        |), z AS (
        |  SELECT lang,
        |    100 * n_tok + 4 * (n_stop * 10000 // greatest(n_tok, 1))
        |      + (n_uniq * 10000 // greatest(n_tok, 1)) - 12800 AS z
        |  FROM f
        |), g AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pass,
        |    CAST(sum(z) AS BIGINT) AS sum_z
        |  FROM z GROUP BY lang
        |)
        |SELECT lang, n_docs, n_pass,
        |  CAST((2 * n_pass * 1000000 + n_docs) // (2 * n_docs) AS DOUBLE)
        |    / 1000000.0 AS pass_rate,
        |  sum_z,
        |  round(1.0 / (1.0 + exp(-(CAST(sum_z AS DOUBLE) / n_docs)
        |    / 10000.0)), 4) AS lang_score
        |FROM g ORDER BY lang""".stripMargin,

    "pipe_fim_transform" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, text,
        |    n_chars // 3 AS cut1, (2 * n_chars) // 3 AS cut2,
        |    (n_chars >= 30) AS fim
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, CAST(cut1 AS BIGINT) AS cut1,
        |  CAST(cut2 AS BIGINT) AS cut2, fim,
        |  CASE WHEN fim THEN md5(
        |    substr(text, 1, CAST(cut1 AS INTEGER)) ||
        |    substr(text, CAST(cut2 + 1 AS INTEGER)) ||
        |    substr(text, CAST(cut1 + 1 AS INTEGER), CAST(cut2 - cut1 AS INTEGER)))
        |  ELSE md5(text) END AS out_md5
        |FROM d ORDER BY doc_id""".stripMargin,

    // the two-level rank must be invisible: the mirror is ONE global
    // row_number in the same (md5 key, doc_id) order
    "pipe_shuffle_order" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    md5('seed42:' || CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents
        |), r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY key, doc_id) - 1 AS pos
        |  FROM k
        |)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(pos // 1024 AS BIGINT) AS shard,
        |  CAST(pos % 1024 AS BIGINT) AS offset
        |FROM r ORDER BY doc_id""".stripMargin,

    // the decomposed census prefix-sum must be invisible: the mirror is
    // ONE global running sum in the same (md5 key, doc_id) walk order
    "pipe_pps_sample" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |    md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    sum(w) OVER (ORDER BY key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |t AS (SELECT sum(w) AS tot FROM d)
        |SELECT doc_id, w,
        |  CAST(cum // greatest(tot // 40, 1)
        |       - (cum - w) // greatest(tot // 40, 1) AS BIGINT) AS mult
        |FROM c, t
        |WHERE cum // greatest(tot // 40, 1)
        |      - (cum - w) // greatest(tot // 40, 1) >= 1
        |ORDER BY doc_id""".stripMargin,

    "pipe_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |z AS (SELECT sum(CAST(floor(sqrt(n) * 1000000.0) AS BIGINT)) AS zq FROM c),
        |r AS (SELECT lang, n,
        |  least(1.0, 200 * sqrt(n) / (z.zq / 1000000.0) / n) AS rate FROM c, z),
        |t AS (SELECT lang, n, rate,
        |  CAST(floor(rate * 4294967296.0) AS BIGINT) AS thr FROM r),
        |k AS (
        |  SELECT d.lang, count(*) AS n_kept, sum(d.n_chars) AS chars_kept
        |  FROM documents d JOIN t USING (lang)
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < t.thr
        |  GROUP BY 1)
        |SELECT t.lang, CAST(t.n AS BIGINT) AS n_docs, round(t.rate, 6) AS rate,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(k.chars_kept, 0) AS BIGINT) AS chars_kept
        |FROM t LEFT JOIN k USING (lang) ORDER BY lang""".stripMargin,

    "pipe_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars FROM documents
        |), c AS (
        |  SELECT quantile_cont(n_chars, 0.25) AS c1,
        |         quantile_cont(n_chars, 0.50) AS c2,
        |         quantile_cont(n_chars, 0.75) AS c3
        |  FROM d
        |)
        |SELECT CAST(CASE WHEN n_chars <= c1 THEN 1
        |            WHEN n_chars <= c2 THEN 2
        |            WHEN n_chars <= c3 THEN 3
        |            ELSE 4 END AS BIGINT) AS phase,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(n_chars) AS len_min, max(n_chars) AS len_max
        |FROM d CROSS JOIN c
        |GROUP BY 1 ORDER BY phase""".stripMargin,

    "pipe_decontam_report" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), ns AS (
        |  SELECT unnest([4, 8, 13]) AS n
        |), sh AS (
        |  SELECT t.doc_id, ns.n,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - ns.n + 1, 0)),
        |      i -> array_to_string(tk[i:i+ns.n-1], ' '))) AS sh
        |  FROM toks t CROSS JOIN ns
        |), bench AS (
        |  SELECT DISTINCT n, unnest(sh) AS gram FROM sh WHERE doc_id % 50 = 0
        |), corpus AS (
        |  SELECT doc_id, n, unnest(sh) AS gram FROM sh WHERE doc_id % 50 != 0
        |), per AS (
        |  SELECT c.n, c.doc_id, count(*) AS grams, count(b.gram) AS hits
        |  FROM corpus c
        |  LEFT JOIN bench b ON b.n = c.n AND b.gram = c.gram
        |  GROUP BY 1, 2
        |), agg AS (
        |  SELECT CAST(n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_flagged,
        |    CAST(sum(grams) AS BIGINT) AS grams_total,
        |    CAST(sum(hits) AS BIGINT) AS grams_hit
        |  FROM per GROUP BY 1
        |)
        |SELECT n, n_docs, n_flagged,
        |  CAST((2 * n_flagged * 1000000 + greatest(n_docs, 1))
        |    // (2 * greatest(n_docs, 1)) AS DOUBLE) / 1000000.0 AS flagged_pct,
        |  grams_total, grams_hit
        |FROM agg ORDER BY n""".stripMargin,

    // the oracle replays the identical chain; the Gopher gate CTE and
    // pass condition are shared BY REFERENCE with text_gopher_rules
    "pipe_incremental_e2e" -> (s"""WITH m AS (${TextAnalysis.gopherOracleM}),
        |base AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0
        |), shard AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 <> 0
        |), gated AS (
        |  SELECT s.doc_id, s.lang, s.text, md5(s.text) AS h
        |  FROM shard s JOIN m ON m.doc_id = s.doc_id
        |  WHERE ${TextAnalysis.gopherPassCond}
        |), corpush AS (
        |  SELECT DISTINCT md5(text) AS h FROM base
        |), surv AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT g.doc_id, g.lang, g.text,
        |      row_number() OVER (PARTITION BY g.h ORDER BY g.doc_id) AS rn
        |    FROM gated g
        |    WHERE NOT EXISTS (SELECT 1 FROM corpush c WHERE c.h = g.h))
        |  WHERE rn = 1
        |), merged AS (
        |  SELECT doc_id, lang, text FROM base
        |  UNION ALL SELECT doc_id, lang, text FROM surv
        |), fin AS (
        |  SELECT lang, count(*) AS n_final,
        |    CAST(sum(length(text)) AS BIGINT) AS chars_final,
        |    bit_xor(('0x' || substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))::BIGINT)
        |      AS checksum
        |  FROM merged GROUP BY 1
        |), spine AS (SELECT DISTINCT lang FROM documents)
        |SELECT sp.lang,
        |  coalesce(b.n, 0) AS n_base, coalesce(sh.n, 0) AS n_shard,
        |  coalesce(ga.n, 0) AS n_gated, coalesce(sv.n, 0) AS n_inserted,
        |  coalesce(ga.n, 0) - coalesce(sv.n, 0) AS n_dup_dropped,
        |  coalesce(f.n_final, 0) AS n_final,
        |  coalesce(f.chars_final, 0) AS chars_final,
        |  coalesce(f.checksum, 0) AS checksum
        |FROM spine sp
        |LEFT JOIN (SELECT lang, count(*) AS n FROM base GROUP BY 1) b
        |  ON b.lang = sp.lang
        |LEFT JOIN (SELECT lang, count(*) AS n FROM shard GROUP BY 1) sh
        |  ON sh.lang = sp.lang
        |LEFT JOIN (SELECT lang, count(*) AS n FROM gated GROUP BY 1) ga
        |  ON ga.lang = sp.lang
        |LEFT JOIN (SELECT lang, count(*) AS n FROM surv GROUP BY 1) sv
        |  ON sv.lang = sp.lang
        |LEFT JOIN fin f ON f.lang = sp.lang
        |ORDER BY sp.lang""".stripMargin),

    "pipe_epoch_plan" ->
      """WITH per AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(avail) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_src
        |  FROM per
        |), plan AS (
        |  SELECT source, avail, (3 * total) // n_src AS target,
        |    (2 * ((3 * total) // n_src) * 10000 + greatest(avail, 1))
        |      // (2 * greatest(avail, 1)) AS e_u4
        |  FROM per CROSS JOIN tot
        |)
        |SELECT source, avail AS available_chars,
        |  CAST(target AS BIGINT) AS target_chars,
        |  CAST(e_u4 AS DOUBLE) / 10000.0 AS epochs,
        |  CAST(least(e_u4, 35000) AS DOUBLE) / 10000.0 AS epochs_capped,
        |  CAST((least(e_u4, 35000) * avail) // 10000 AS BIGINT)
        |    AS effective_chars,
        |  e_u4 > 35000 AS over_cap
        |FROM plan ORDER BY source""".stripMargin,

    "pipe_mixture" ->
      """WITH b AS (
        |  SELECT *,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
        |    CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 90
        |                WHEN 'src2' THEN 100 WHEN 'src3' THEN 60
        |                ELSE 80 END AS keep
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM b WHERE bucket < keep
        |GROUP BY source ORDER BY source""".stripMargin,

    "pipe_length_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> length(x) > 0)) AS BIGINT) AS tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, tokens, ((tokens + 15) // 16) * 16 AS pad_to, h
        |  FROM toks
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY pad_to ORDER BY h, doc_id) AS rn
        |  FROM g
        |), batched AS (
        |  SELECT pad_to, (rn - 1) // 32 AS batch_no, tokens FROM ranked
        |), agg AS (
        |  SELECT pad_to, batch_no, count(*) AS n_docs,
        |    CAST(sum(tokens) AS BIGINT) AS sum_tokens
        |  FROM batched GROUP BY 1, 2
        |)
        |SELECT pad_to, batch_no, n_docs, sum_tokens,
        |  n_docs * pad_to AS padded_tokens,
        |  CAST((2 * (n_docs * pad_to - sum_tokens) * 1000000
        |        + greatest(n_docs * pad_to, 1))
        |    // (2 * greatest(n_docs * pad_to, 1)) AS DOUBLE) / 1000000.0 AS waste6
        |FROM agg ORDER BY pad_to, batch_no""".stripMargin,

    // pipe_quality_cut: quantile_cont IS the independent mirror of the
    // rank-selection plan (same R-7 definition, different implementation)
    "pipe_quality_cut" ->
      """WITH cuts AS (
        |  SELECT lang, quantile_cont(n_chars, 0.75) AS cutoff
        |  FROM documents GROUP BY lang
        |)
        |SELECT d.lang, c.cutoff,
        |  count(*) AS n_kept,
        |  CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
        |FROM documents d JOIN cuts c USING (lang)
        |WHERE d.n_chars >= c.cutoff
        |GROUP BY d.lang, c.cutoff
        |ORDER BY d.lang""".stripMargin,

    // pipe_span_scrub: the oracle ranks duplicate tiles by the tile
    // STRING (Spark keys on xxhash64 — identical unless 64-bit collision)
    "pipe_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), tiles AS (
        |  SELECT doc_id, i AS tile_idx,
        |    array_to_string(tk[(i-1)*10+1:(i-1)*10+10], ' ') AS tile
        |  FROM toks, LATERAL unnest(generate_series(1,
        |    CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS u(i)
        |  WHERE len(tk) > 0
        |), ranked AS (
        |  SELECT doc_id, tile_idx, tile,
        |    count(*) OVER (PARTITION BY tile) AS c,
        |    row_number() OVER (PARTITION BY tile ORDER BY doc_id, tile_idx) AS rn
        |  FROM tiles
        |), kept AS (
        |  SELECT doc_id, tile_idx, tile FROM ranked WHERE c = 1 OR rn = 1
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(tile, ' ' ORDER BY tile_idx) AS cleaned_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id
        |), stats AS (
        |  SELECT doc_id, count(*) AS n_tiles FROM tiles GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n_tiles, 0) AS BIGINT) AS n_tiles,
        |  CAST(coalesce(s.n_tiles, 0) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(r.cleaned_text, '') AS cleaned_text
        |FROM documents d
        |LEFT JOIN stats s USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // quantile_cont is DuckDB's own R-7 implementation — an independent
    // route to the same interpolation the rank-selection computes
    "pipe_dataset_card" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents
        |), tot AS (SELECT count(*) AS total_docs FROM d)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
        |  CAST((2 * sum(n_tok) * 1000000 + count(*)) // (2 * count(*))
        |       AS DOUBLE) / 1000000 AS tok_mean,
        |  quantile_cont(n_tok, 0.5) AS tok_p50,
        |  quantile_cont(n_tok, 0.95) AS tok_p95,
        |  CAST((2 * count(*) * 1000000 + total_docs) // (2 * total_docs)
        |       AS DOUBLE) / 1000000 AS share
        |FROM d CROSS JOIN tot
        |GROUP BY lang, total_docs ORDER BY lang""".stripMargin,

    // mirrors the two-level rank: prefix-byte shard, local window rank,
    // prefix-sum offset — the identical rn as one big per-source window
    "pipe_interleave" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hsh,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
        |      AS shard
        |  FROM documents
        |), lr AS (
        |  SELECT doc_id, source, shard,
        |    CAST(row_number() OVER (PARTITION BY source, shard
        |                            ORDER BY hsh, doc_id) AS BIGINT) AS lrn
        |  FROM d
        |), ssz AS (
        |  SELECT source, shard, count(*) AS n FROM d GROUP BY 1, 2
        |), offs AS (
        |  SELECT source, shard,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS off
        |  FROM ssz
        |), r AS (
        |  SELECT lr.doc_id, lr.source, lr.lrn + offs.off AS rn
        |  FROM lr JOIN offs USING (source, shard)
        |), sz AS (
        |  SELECT source AS s2, count(*) AS sz FROM d GROUP BY 1
        |)
        |SELECT CAST(sum(least(sz.sz, r.rn - 1)
        |    + CASE WHEN sz.s2 < r.source AND sz.sz >= r.rn
        |           THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |  r.doc_id, r.source, r.rn
        |FROM r CROSS JOIN sz
        |GROUP BY r.doc_id, r.source, r.rn
        |ORDER BY pos""".stripMargin,

    "pipe_domain_cap" ->
      """WITH tot AS (SELECT count(*) AS n_total FROM documents
        |), r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk,
        |    (SELECT (n_total + 24) // 25 FROM tot) AS cap
        |  FROM documents
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN rk <= cap THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN rk > cap THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  CAST(sum(CASE WHEN rk <= cap THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS kept_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "pipe_bootstrap_ci" ->
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |reps AS (
        |  SELECT b, CAST(sum(w * n_chars) AS BIGINT) AS sx,
        |    CAST(sum(w) AS BIGINT) AS sw
        |  FROM (
        |    SELECT n_chars, b,
        |      CASE WHEN u < 1580030168 THEN 0
        |           WHEN u < 3160060337 THEN 1
        |           WHEN u < 3950075421 THEN 2 ELSE 3 END AS w
        |    FROM (
        |      SELECT doc_id, n_chars, b,
        |        ('0x' || substr(md5(CAST(b AS VARCHAR) || ':' ||
        |          CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
        |      FROM d, unnest(generate_series(0, 49)) AS t(b)))
        |  GROUP BY b
        |), ms AS (
        |  SELECT list_sort(list(
        |    (2 * sx * 10000 + greatest(sw, 1)) // (2 * greatest(sw, 1))))
        |    AS l
        |  FROM reps
        |), base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sc
        |  FROM d
        |)
        |SELECT n_docs,
        |  CAST((2 * sc * 10000 + n_docs) // (2 * n_docs) AS DOUBLE)
        |    / 10000.0 AS mean_chars,
        |  CAST(l[2] AS DOUBLE) / 10000.0 AS ci_lo,
        |  CAST(l[49] AS DOUBLE) / 10000.0 AS ci_hi
        |FROM ms CROSS JOIN base""".stripMargin
  )

  /** The bloom variant's contract is "identical output to the exact
    * path", so its oracle IS the exact path's oracle — aliased, not
    * copied, so an edit to one cannot silently diverge the other. */
  private val upsertOracle: (String, String) = "pipe_upsert" ->
    """WITH base AS (SELECT doc_id, lang, text FROM documents),
      |upd AS (SELECT doc_id, lang, text || ' [recrawl]' AS text
      |        FROM base WHERE doc_id % 7 = 0),
      |ins AS (SELECT doc_id + 10000000 AS doc_id, lang, 'NEW ' || text AS text
      |        FROM base WHERE doc_id % 13 = 0),
      |batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
      |merged AS (
      |  SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM batch)
      |  UNION ALL SELECT * FROM batch)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(len(text)) AS BIGINT) AS sum_chars,
      |       max(doc_id) AS max_id
      |FROM merged GROUP BY lang ORDER BY lang""".stripMargin

  // replays the SAME banding CTE chain as the minhash dedup oracle
  // (Dedup.minhashBandedCtes), then the asymmetric bench join
  private val fuzzyDecontamOracle: (String, String) = "pipe_decontam_fuzzy" ->
    (graft.ext.Dedup.minhashBandedCtes +
      """, cands AS (
        |  SELECT c.doc_id, b.doc_id AS bench_id
        |  FROM banded c
        |  JOIN banded b ON b.band = c.band AND b.bkey = c.bkey
        |  WHERE b.doc_id % 50 = 0 AND c.doc_id % 50 <> 0
        |), flagged AS (
        |  SELECT c.doc_id, min(c.bench_id) AS matched_bench
        |  FROM cands c
        |  JOIN hexsig sa ON sa.doc_id = c.doc_id
        |  JOIN hexsig sb ON sb.doc_id = c.bench_id
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.7
        |  GROUP BY c.doc_id
        |)
        |SELECT d.doc_id,
        |  f.matched_bench IS NOT NULL AS is_fuzzy_contaminated,
        |  f.matched_bench
        |FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin)

  // the end-to-end chain replayed as ONE CTE pipeline: the minhash
  // stages ride Dedup.minhashBandedCtes by reference (same text the
  // dedup oracle replays), and each later CTE is the corresponding
  // stage oracle's fragment applied to the previous stage's survivors
  private val endToEndOracle: (String, String) = "pipe_end_to_end" ->
    (graft.ext.Dedup.minhashBandedCtes +
      s""", okbuckets AS (
        |  SELECT band, bkey FROM banded
        |  GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 64
        |), cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a
        |  JOIN okbuckets ok ON a.band = ok.band AND a.bkey = ok.bkey
        |  JOIN banded b ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
        |), narrow AS (
        |  SELECT doc_id, lang, source,
        |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h,
        |    CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tok,
        |    CAST(length(regexp_extract_all(lower(text),
        |      '\\b(the|a|and|of|to|in|is|on|for|with)\\b')) AS BIGINT) AS stops
        |  FROM documents
        |  WHERE n_chars BETWEEN 50 AND 5000
        |    AND length(regexp_extract_all(text, '[A-Za-z0-9]+')) >= 10
        |), exact_kept AS (
        |  SELECT doc_id, lang, source, n_tok, stops FROM (
        |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |    FROM narrow)
        |  WHERE rn = 1
        |), near_dup AS (
        |  SELECT DISTINCT c.doc_b AS doc_id
        |  FROM cands c
        |  JOIN exact_kept ka ON ka.doc_id = c.doc_a
        |  JOIN exact_kept kb ON kb.doc_id = c.doc_b
        |  JOIN hexsig sa ON sa.doc_id = c.doc_a
        |  JOIN hexsig sb ON sb.doc_id = c.doc_b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.7
        |), surv AS (
        |  SELECT * FROM exact_kept
        |  WHERE doc_id NOT IN (SELECT doc_id FROM near_dup)
        |    AND doc_id % 50 <> 0
        |), g8 AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
        |           || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
        |           || ' ' || tk[i+7])) AS sh8
        |  FROM toks
        |), bench AS (
        |  SELECT DISTINCT unnest(sh8) AS gram FROM g8 WHERE doc_id % 50 = 0
        |), contam AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT s.doc_id, unnest(g.sh8) AS gram
        |    FROM surv s JOIN g8 g USING (doc_id)) x
        |  JOIN bench USING (gram)
        |), clean AS (
        |  SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        |), mixed AS (
        |  SELECT * FROM clean
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
        |    CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 90
        |                WHEN 'src2' THEN 100 WHEN 'src3' THEN 60 ELSE 80 END
        |), b AS (
        |  SELECT *, (stops * 1000000) // greatest(n_tok, 1) AS score6,
        |    ((stops * 1000000) // greatest(n_tok, 1)) // 1000 AS bkt
        |  FROM mixed
        |), bs AS (SELECT lang, bkt, sum(n_tok) AS tok FROM b GROUP BY 1, 2),
        |bc AS (
        |  SELECT lang, bkt,
        |    sum(tok) OVER (PARTITION BY lang ORDER BY bkt DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum_excl
        |  FROM bs),
        |adm AS (SELECT lang, bkt FROM bc WHERE cum_excl < 2000),
        |sel AS (
        |  SELECT b.*, sum(b.n_tok) OVER (PARTITION BY b.lang
        |      ORDER BY b.score6 DESC, b.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        |  FROM b JOIN adm USING (lang, bkt)),
        |packed AS (
        |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % $packShards AS shard
        |  FROM sel WHERE tok_end - n_tok < 2000),
        |pk AS (
        |  SELECT *, sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk_end
        |  FROM packed)
        |SELECT doc_id, lang, source, n_tok,
        |  CAST(score6 AS BIGINT) AS score6,
        |  CAST(shard AS BIGINT) AS shard,
        |  CAST(pk_end - n_tok AS BIGINT) AS tok_start,
        |  CAST((pk_end - n_tok) // 512 AS BIGINT) AS bin
        |FROM pk ORDER BY doc_id""".stripMargin)

  val oracleSql: Map[String, String] =
    oracleSql0 + ("pipe_decontam_bloom" -> oracleSql0("pipe_decontam")) +
      upsertOracle + fuzzyDecontamOracle + endToEndOracle
}
