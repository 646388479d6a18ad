package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine

/** End-to-end scale probe: replicate the sf0.1 documents table Nx on
  * disk (default 100x → ~500k docs, an sf10-ish shard) and run the
  * dedup/curation pipelines over it once, reporting wall time and
  * SHUFFLE BYTES per query — measured evidence that the bucketed LSH
  * and narrow-projection designs hold beyond the driver's sf0.1.
  *
  * Replica 0 keeps each document verbatim; every other replica appends
  * a distinct tail token, so the shard is a 100-way NEAR-dup corpus —
  * the adversarial shape for MinHash banding (every bucket is hot; the
  * bucket cap is what keeps candidate generation non-quadratic).
  *
  * Usage: tools/run.sh graft.ScaleProbe [factor]   (writes a README row)
  */
object ScaleProbe {

  /** Factor-replicated orders shard (o_orderkey spread so per-key order
    * is preserved, five o_orderpriority partition keys — the worst-case
    * per-key window volume). Shared with [[SpillProbe]], which must run
    * the SAME shard in a memory-constrained JVM. */
  private[graft] def ordersShard(spark: SparkSession, base: String, out: String,
      factor: Int, cpus: Int): String = {
    val ordDir = s"$out/orders.parquet"
    if (!Files.exists(Paths.get(s"$ordDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      val orders = Engine.table(spark, base, "orders")
      val reps = spark.range(factor).select(col("id").as("k"))
      orders.crossJoin(reps)
        .select((col("o_orderkey") * factor + col("k")).as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(ordDir)
      println(f"generated ${factor}x orders in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    ordDir
  }

  /** Order-independent checksum of a frame: bit_xor over rows of the
    * first 15 hex digits of md5(`cols` joined by "|") — the
    * `q_table_checksum` fold. The committed PROBE_LOCAL checksums were
    * computed with exactly this expression; keep it bit-identical. */
  private[graft] def rowChecksum(df: DataFrame, cols: Column*): Long =
    df.select(conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
        .cast("long").as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  /** Full-output checksums of the spill-squeeze targets: artifact key ->
    * (query, output columns). The unconstrained sweep records them and
    * [[SpillProbe]]'s memory-squeezed rerun must reproduce them (spill
    * must change the cost, not the answer); one table, so the two values
    * cannot drift. */
  private[graft] val checksums: Seq[(String, (String, Seq[Column]))] = Seq(
    "inverted_index_checksum" -> ("text_inverted_index", Seq(col("term"),
      col("df").cast("string"), col("cf").cast("string"),
      col("postings_head"))),
    "bm25_checksum" -> ("text_bm25", Seq(col("q_id").cast("string"),
      col("rk").cast("string"), col("doc_id").cast("string"),
      col("score_u6").cast("string"))),
    // the r10 blocked-attach minhash verify: its 269 MB peak task is the
    // dedup family's largest (per-doc collect_set, block-join sorts, agg)
    "inc_minhash_checksum" -> ("dedup_incremental_minhash", Seq(
      col("doc_id").cast("string"), col("n_shingles").cast("string"),
      coalesce(col("dup_partner").cast("string"), lit("-")),
      col("n_corpus_matches").cast("string"),
      col("dup_of_corpus").cast("string"))))

  private[graft] def checksum(spark: SparkSession, dir: String, key: String): Long = {
    val (query, cols) = checksums.toMap.apply(key)
    rowChecksum(SparkEntry.queries(query)(spark, dir), cols: _*)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // factor-specific default dir: a 10x and a 100x probe must never
    // silently share (and mis-report) one cached shard
    // diversified-vocabulary shard variant (see the builder below); its
    // shard lives in its own dir and its rows merge under
    // `<name>_diversified` so the standard-shard rows stay comparable
    val diversified = sys.env.get("SPARK_GRAFT_PROBE_DIVERSIFIED").contains("1")
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR",
      s"/tmp/graft_scale_probe_${factor}x" + (if (diversified) "_div" else ""))
    val cpus = Engine.cores
    // per-run disk scratch (reclaimed at exit): replay layouts and
    // streaming checkpoints at 1000x are multi-GB and used to persist in
    // /tmp forever — exactly the churn debris that degraded the windows
    // after the r12 probe. The SHARD dir (`out`) deliberately stays
    // outside the scratch so gated reruns can reuse it; see the keep
    // policy at the bottom of main.
    Scratch.install("probe", preferTmpfs = false): Unit
    val spark = Engine.session(cpus)

    // gated run (SPARK_GRAFT_ONLY): only the named probes run, and the
    // artifact merges their keys instead of being rewritten
    val onlyProbes = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val artifact = ProbeArtifact.forFactor(factor, merge = onlyProbes.isDefined)
    // shard-need predicates for gated runs: the orders-shard rule
    // generalized in r12 — a 1000× gated run of document-family rows
    // must not pay the 100M-row events crossJoin (minutes of generation
    // for a shard no gated row reads). A full (ungated) run still
    // generates everything.
    def gatedNeeds(p: String => Boolean): Boolean =
      onlyProbes.forall(_.exists(p))
    val needEmbeddings = gatedNeeds(n => n.startsWith("ann_") ||
      n.startsWith("emb_") || Set("dedup_embedding", "dedup_semantic",
        "text_rrf_fusion", "text_retrieval_eval",
        "text_source_similarity")(n))
    val needEvents = gatedNeeds(n => n.startsWith("q_events") ||
      n.startsWith("q_stream") || n.startsWith("q_sessionize"))
    val needBaskets = gatedNeeds(n => n == "q_basket_rules")

    // _SUCCESS marker, not the directory: a generation run killed
    // mid-write must regenerate, not get probed as a complete shard
    if (!Files.exists(Paths.get(s"$out/documents.parquet/_SUCCESS"))) {
      val t0 = System.nanoTime()
      val docs = Engine.table(spark, base, "documents")
      val reps = spark.range(factor).select(col("id").as("k"))
      val replicated = if (!diversified) {
        // standard shard: replica 0 verbatim, every other replica
        // appends a distinct tail token — a factor-way NEAR-dup corpus,
        // the adversarial shape for MinHash banding
        val text = when(col("k") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v"), col("k")))
        docs.crossJoin(reps)
          .select((col("doc_id") * factor + col("k")).as("doc_id"),
            text.as("text"), col("lang"), col("source"),
            length(text).cast("long").as("n_chars"))
      } else {
        // DIVERSIFIED shard (r12 verdict task 7): on the standard shard
        // every replica of a doc shares the doc's ENTIRE shingle
        // vocabulary, so the containment family's DF cap drops all of
        // it and the only survivors — the replica-suffix grams —
        // multiply with the factor, making the 1000× shuffle ratio
        // super-linear BY CONSTRUCTION (14.2, adjudicated r12). A real
        // corpus differs in two ways this builder reproduces:
        //  - cross-doc sharing without whole-vocabulary replication:
        //    replica k of doc i INTERLEAVES doc i's words with doc
        //    ((i+k) mod N)'s — mixed shingles belong to the (i,partner)
        //    pairing, not to the whole replica family;
        //  - Heaps-law vocabulary growth: every 6th word is salted with
        //    the replica id, so ~half of each replica's 3-gram shingles
        //    are corpus-unique. Those df=1 postings ride the df-filter
        //    exchange at full linear volume (the corpus-sized cost the
        //    probe exists to measure — the synthetic base vocabulary is
        //    so small that WITHOUT the salt, partial aggregation
        //    collapses the exchange and the probe reads near-zero) but
        //    can never generate a candidate pair.
        val nOrig = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
        val partner = docs.select(col("doc_id").as("p_id"),
          col("text").as("p_text"))
        val wa = split(col("text"), " ")
        val wb = split(col("p_text"), " ")
        val nMin = least(size(wa), size(wb))
        val interleaved = concat(
          flatten(zip_with(slice(wa, lit(1), nMin), slice(wb, lit(1), nMin),
            (x, y) => array(x, y))),
          slice(wa, nMin + 1, greatest(size(wa) - nMin, lit(0))))
        val rid = (col("doc_id") * factor + col("k")).cast("string")
        val mixed = array_join(transform(interleaved, (w, p) =>
          when(p % 6 === 5, concat(w, lit("u"), rid)).otherwise(w)), " ")
        val text = when(col("k") === 0, col("text")).otherwise(mixed)
        docs.crossJoin(reps)
          .withColumn("p_id", (col("doc_id") + col("k")) % lit(nOrig))
          .join(broadcast(partner), Seq("p_id"))
          .select((col("doc_id") * factor + col("k")).as("doc_id"),
            text.as("text"), col("lang"), col("source"),
            length(text).cast("long").as("n_chars"))
      }
      replicated
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(f"generated ${factor}x${if (diversified) " diversified" else ""} shard in ${(System.nanoTime() - t0) / 1e9}%.1fs -> $out")
    }
    // embeddings shard for the ANN probes: replica 0 verbatim, every
    // other replica nudged by k·1e-3 per component — near-identical
    // vectors that all land in the same LSH buckets / IVF cells, the
    // adversarial shape for bucketed ANN (mirrors the documents shard's
    // near-dup construction)
    if (needEmbeddings &&
        !Files.exists(Paths.get(s"$out/embeddings.parquet/_SUCCESS"))) {
      val t0 = System.nanoTime()
      val emb = Engine.table(spark, base, "embeddings")
      val reps = spark.range(factor).select(col("id").as("k"))
      val vec = when(col("k") === 0, col("embedding")).otherwise(
        transform(col("embedding"),
          x => (x + col("k").cast("float") * lit(0.001f)).cast("float")))
      emb.crossJoin(reps)
        .select(
          (col("vec_id") * factor + col("k")).as("vec_id"),
          vec.as("embedding"), col("label"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(f"generated ${factor}x embeddings in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // events shard for the time-grid probes: N× the events at the SAME
    // time range (ids remapped) — the load shape those operators claim
    // to be immune to (their output is time-range-sized, so only the
    // first hourly aggregation should grow with the factor)
    if (needEvents &&
        !Files.exists(Paths.get(s"$out/events.parquet/_SUCCESS"))) {
      val t0 = System.nanoTime()
      val ev = Engine.table(spark, base, "events")
      val reps = spark.range(factor).select(col("id").as("k"))
      ev.crossJoin(reps)
        .select((col("event_id") * factor + col("k")).as("event_id"),
          col("ts"), col("user_id"), col("event_type"), col("value"),
          col("props"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      println(f"generated ${factor}x events in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // basket shard for q_basket_rules (r16 checkpoint-site census): the
    // lineitem rows replicated over REMAPPED order keys — 100× more
    // baskets at the SAME basket size (the per-group bound the query's
    // self-join claims), narrowed to the two columns the query reads;
    // `part` (the broadcast dim side) passes through verbatim. The gate
    // checks `part`, the last write, so a run killed between the two
    // writes regenerates both.
    if (needBaskets &&
        !Files.exists(Paths.get(s"$out/part.parquet/_SUCCESS"))) {
      val t0 = System.nanoTime()
      val li = Engine.table(spark, base, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val reps = spark.range(factor).select(col("id").as("k"))
      li.crossJoin(reps)
        .select((col("l_orderkey") * factor + col("k")).as("l_orderkey"),
          col("l_partkey"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      Engine.table(spark, base, "part")
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      println(f"generated ${factor}x lineitem in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    val nDocs = Engine.table(spark, out, "documents").count()
    val nVecs = if (needEmbeddings)
      Engine.table(spark, out, "embeddings").count() else -1L
    println(s"shard: $nDocs documents, $nVecs embeddings")
    if (onlyProbes.isEmpty) Seq("factor" -> factor.toLong, "docs" -> nDocs,
      "vecs" -> nVecs).foreach { case (k, v) => artifact.record(k, v.toString) }

    // shuffle volume = sum of per-operator "shuffle bytes written"
    // SQLMetrics over the executed (post-AQE) plan, via Explain.analyze.
    // The probed set covers every heavy family: hash dedup, LSH banding,
    // label-propagation clustering, the narrow curation composite,
    // gram-explode decontamination, and bucketed/cell-pruned ANN.
    def shuffleWrittenMb(df: DataFrame): Double =
      Explain.analyze(df)
        .filter(col("metric") === "shuffleBytesWritten")
        .agg(sum(col("value")).as("bytes"))
        .collect() // 1 row — diagnostic main, not an operator
        .headOption.filterNot(_.isNullAt(0))
        .map(_.getLong(0) / 1e6).getOrElse(0.0)
    // per-TASK peak execution memory across a probed window — the
    // number that answers "does one partition's working set fit in an
    // executor": shuffle bytes say what moves, this says what must be
    // RESIDENT while an operator (hash agg, sort, join build) runs
    val profiler = new Profiler(spark)
    def r1(v: Double): Double = math.rint(v * 10) / 10

    val probes = Seq("dedup_exact", "dedup_minhash_lsh",
      "dedup_minhash_inbucket", "dedup_clusters",
      "curation_pipeline", "pipe_decontam", "ann_lsh", "ann_ivf",
      "pipe_stratified_sample", "text_unigram_logprob", "emb_quantize",
      "pipe_chunk", "dedup_substring", "pipe_decontam_bloom",
      "pipe_token_budget", "ann_pq", "ann_lsh_multiprobe",
      "pipe_span_scrub", "text_inverted_index", "text_cdc_chunks",
      "pipe_quality_cut", "emb_negative_sample", "pipe_length_buckets",
      "pipe_end_to_end", "text_bm25", "text_bpe_pairs", "text_bpe_merge",
      "pipe_dataset_card", "text_cms_topk", "ann_ivf_pq", "pipe_interleave",
      "mm_payload_dedup", "text_rrf_fusion", "dedup_canonical",
      "pipe_epoch_plan", "text_gopher_rules", "emb_covariance",
      "pipe_incremental_e2e", "text_vocab_coverage", "pipe_decontam_report",
      "dedup_threshold_sweep", "text_zipf_fit", "ann_recall_eval", "pipe_curriculum",
      "q_events_gapfill", "q_events_locf", "q_events_anomaly",
      "q_histogram",
      // round-9 additions. dedup_containment's DF-capped postings meet
      // their design case head-on here: the 100-way replica shard puts
      // every original shingle in ≥100 docs, so the cap drops the
      // entire shared vocabulary and candidates survive only on the
      // replica-distinct tail shingles — the probe measures the
      // df-filter pass (the corpus-sized cost) with the quadratic
      // blowup structurally excluded, exactly the common-shingle
      // removal claim. (q_scd2/q_data_profile are absent: they read
      // orders/lineitem, and their plans are per-key windows / pruned
      // single-column aggregates with no corpus-growth axis here.)
      // r16: simhash carries the r15 `fp` checkpoint (3 consumers) and
      // basket_rules the r15 `items` checkpoint (4 consumers) — the
      // 100×-shard shuffle census every r15 checkpoint site owes
      "dedup_simhash", "q_basket_rules",
      "dedup_containment", "mm_shard_manifest", "text_dsir",
      "emb_standardize", "ann_range_search", "q_stream_topk",
      "text_ccnet_bucket", "emb_outliers", "pipe_dataset_diff",
      "dedup_incremental_minhash", "dedup_minhash_calibration",
      "pipe_sft_pack", "emb_ivf_balance", "mm_phash_dedup",
      "pipe_doremi", "pipe_pack_stats", "text_ngram_novelty",
      "emb_centroid_drift", "emb_matryoshka_eval", "text_bpe_fertility",
      "text_langid_eval", "emb_cluster_purity", "text_retrieval_eval",
      "q_stream_cdc", "q_events_funnel", "q_events_retention",
      "mm_caption_filter",
      // streaming rows on the replicated events shard: the replay
      // chunking, watermark trajectory and state machinery at 10M
      // events (the shuffle metric covers only the post-drain
      // projection — the dedup_clusters precedent — so wall + peak
      // task memory are the probe signals here). The attribution
      // JOINS are deliberately absent: the shard multiplies event
      // DENSITY on a fixed time range, so clicks×purchases pairs grow
      // quadratically (~10⁴× at 100×) and the memory sink must hold
      // them all — a shard artifact, not an operator property (a real
      // 100× corpus grows the TIME axis at similar density; the
      // joins' O(rate × window) state bound is what matters at scale
      // and is probed to collapse by StreamStateProbe/StreamingSpec)
      "q_stream_late_drop", "q_sessionize_stream", "q_sessionize_tws",
      "q_stream_session_window", "q_stream_dau",
      // batch q_events_attribution is absent for the same
      // density-artifact reason as the streaming attribution joins
      // above (its purchase×click pairs grow ~quadratically on a
      // density-multiplied shard); transitions/rfm are per-user
      // window/agg — linear in the shard
      "q_events_transitions", "q_events_rfm", "pipe_domain_cap",
      "text_source_similarity", "q_events_dau", "q_events_paths",
      "q_events_gini", "q_events_ab_test", "text_collocations",
      "q_events_bot_flags", "emb_mmr_rerank", "emb_farthest_first",
      "pipe_bootstrap_ci", "q_events_ltv",
      // continuation: grid-family time-series readouts (ACF/CUSUM/
      // forecast aggregate the density-multiplied shard ONCE into the
      // fixed-size hourly grid — walls should stay flat like gapfill),
      // the distinct-audience self-join, and the shuffle-free
      // rendezvous assignment over the documents shard
      "q_events_acf", "q_events_cusum", "q_events_forecast",
      "q_events_seasonality", "q_events_audience_overlap",
      "pipe_rendezvous_shard",
      // winnowing is a pure per-row array-expression chain — the probe
      // pins that its cost scales with docs (no shuffle axis at all)
      "text_winnowing",
      // line dedup: hash-only exchanges — the replica shard makes every
      // line boilerplate (df ≥ 100), stressing the join-back fanout;
      // pps: the census prefix-sum's sort state must stay bucket-sized;
      // hll merge: per-day sketch build + K-sketch union on the
      // density-multiplied grid; markov: one corpus window pass then
      // K-row arithmetic — walls should track the per-user lead window
      "text_line_dedup", "pipe_pps_sample", "q_events_hll_merge",
      "q_events_markov", "q_events_twa",
      // BPE training: the corpus pass is the word count; 6 rounds of
      // vocab-sized work after — walls should track text_bpe_merge;
      // encode adds the lang-vocab apply; the classifier is the pure
      // per-row filter-pass shape (walls linear, zero shuffle growth)
      "text_bpe_train", "text_bpe_encode", "pipe_quality_classifier",
      // winnowing collisions on the replica shard hit the DF cap's
      // design case: every original fingerprint sits in ≥100 replicas,
      // so the cap drops the shared vocabulary and candidates survive
      // only on replica-distinct tails (the dedup_containment story)
      "dedup_winnowing",
      // BQ: the corpus rides as 8-byte codes — the probe pins that the
      // cross join against the 10-query broadcast stays code-sized;
      // the rerank adds 50 float-vector touches per query on top
      "emb_binary_quantize", "ann_bq_rerank",
      // stickiness/time-to-convert collapse the density-multiplied
      // shard into user-sized frames in one pass (q_scd2_asof is
      // absent like q_scd2 — it reads orders, which the shard lacks)
      "q_events_stickiness", "q_events_time_to_convert",
      // the two-level rank's sort state must stay key-range-sized
      "pipe_shuffle_order",
      // prefix families on the replica shard: every original's 100
      // variants share a prefix — n_variants counts the distinct tails
      "dedup_prefix",
      // FIM is the pure per-row reorder shape: linear walls, no shuffle
      "pipe_fim_transform", "q_events_new_vs_returning",
      // r12: repetition stats became one native TokenStats pass per row
      // (was explode + groupBy(doc, w) + three per-doc windows) — the
      // probe pins the zero-shuffle-growth claim like fim/classifier
      "text_repetition",
      "q_events_session_stats",
      // round-10: the SNM rewrite's whole point is bounded pairs on a
      // corpus whose 30 blocks each grow linearly — the replica shard's
      // blocks are ~100× the sf0.1 ones, so the r9 full pair-join would
      // have been ~10⁴× the pairs while SNM is ~100× (O(rows × W));
      // the MIH phash row probes 32-bit buckets (fan-out corpus/2^32)
      // against the banded row's corpus/2^16 at identical output;
      // recovery replays kill-and-resume over the 10M-event shard —
      // checkpointed offsets + state + the parquet sink's commit log at
      // 100× the verified scale
      "dedup_levenshtein", "mm_phash_dedup_mih", "q_stream_recovery",
      "q_stream_recovery_tws")
    // probe-only variants measured AGAINST a queries() entry (never part
    // of the driver contract): the in-bucket LSH verify alternative
    val extraProbes: Map[String, (SparkSession, String) => DataFrame] =
      Map("dedup_minhash_inbucket" -> ((s, d) => ext.Dedup.minhashLshInBucket(s, d)))
    val toRun = probes.filter(n => onlyProbes.forall(_.contains(n)))
    // the histogram probe reads orders — generate that shard only when
    // it will actually run (the other probes never touch it)
    if (toRun.contains("q_histogram"))
      ScaleProbe.ordersShard(spark, base, out, factor, cpus): Unit
    toRun.foreach { name =>
      val q = SparkEntry.queries.getOrElse(name, extraProbes(name))
      // cumulative host-steal ticks bracketing each probe (r15): guest
      // loadavg cannot see host-level contention, but a probe under load
      // accrues steal when the host schedules someone else — the r15
      // taxed windows measured 65-70 ticks/s suite-wide against ~3
      // clean, so the delta adjudicates a slow probe wall without a
      // paired rerun
      val stealBefore = Bench.hostStealTicks()
      // fail FAST and attributably when a gated probe reads a shard the
      // needEmbeddings/needEvents patterns skipped (ADVICE r12): the raw
      // PATH_NOT_FOUND surfaces mid-probe with no hint that the fix is
      // the gate patterns, not the data
      val (shuffleMb, p) = profiler.measure(try shuffleWrittenMb(q(spark, out))
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains(out) &&
                e.getMessage.contains("PATH_NOT_FOUND") =>
            throw new IllegalStateException(
              s"probe '$name' reads a shard this gated run skipped " +
                s"(needEmbeddings=$needEmbeddings, needEvents=$needEvents): " +
                s"${e.getMessage.linesIterator.next()} — update the " +
                "gatedNeeds patterns in ScaleProbe", e)
        })
      val stealDelta =
        if (stealBefore < 0) -1L
        else math.max(-1L, Bench.hostStealTicks() - stealBefore)
      val peakMb = p.peakTaskMemBytes / 1e6
      println(f"PROBE $name%-22s wall=${p.wallS}%8.1fs shuffle_written=$shuffleMb%10.1f MB peak_task_mem=$peakMb%8.1f MB steal=${stealDelta}t")
      artifact.recordProbe(if (diversified) s"${name}_diversified" else name,
        s"""{"wall_s":${r1(p.wallS)},"shuffle_mb":${r1(shuffleMb)},"peak_task_mem_mb":${r1(peakMb)},"steal_ticks":$stealDelta}""")
    }
    for ((key, (query, _)) <- checksums if toRun.contains(query))
      artifact.record(key, s"""{"checksum":${checksum(spark, out, key)}}""")
    // amortized-recovery probe (r10 verdict task 8): the recovery ROWS
    // replay at maxFilesPerTrigger=1 (maximal commit count — their 100×
    // walls are nearly all per-batch commit overhead, the cost the row
    // deliberately exercises). This variant re-runs kill-and-resume at
    // a production batch size and compares it against the UNINTERRUPTED
    // run of the same input at the same trigger: the ratio isolates the
    // restart's own cost and must sit well under 2×.
    if (toRun.contains("q_stream_recovery") ||
        onlyProbes.exists(_.contains("recovery_amortized"))) {
      val (u, r, n) = streaming.StreamQueries.recoveryAmortized(spark, out)
      val ratio = math.rint(r / u * 100) / 100
      val json = s"""{"uninterrupted_s":${r1(u)},"recovered_s":${r1(r)},""" +
        s""""ratio":$ratio,"sessions":$n}"""
      println(s"PROBE recovery_amortized $json")
      artifact.record("recovery_amortized", json)
    }
    // survivor funnel of the end-to-end corpus build — the evidence the
    // bare probe row can't carry on this shard: near-dup replicas
    // collapse, then the shard's bench-id arithmetic puts every original
    // text in the bench gram set and decontamination empties the corpus
    // (AQE then propagates EmptyRelation, which is also why the probe's
    // shuffle metric reads 0 for the final plan). Each count re-executes
    // the chain prefix — probe-only diagnostics, not an operator.
    if (toRun.contains("pipe_end_to_end")) {
      val (funnel, p) = profiler.measure(ext.Pipeline.endToEndStages(spark, out)
        .map { case (stage, df) => s""""$stage":${df.count()}""" })
      val json = funnel.mkString("{", ",", s""","wall_s":${r1(p.wallS)}}""")
      println(s"PROBE e2e_funnel $json")
      artifact.record("e2e_funnel", json)
    }
    // Remapped-id twin of the funnel. The zero tail above is an artifact
    // of the shard BUILDER's id arithmetic (doc_id = orig·factor + k ⇒
    // id % 50 collapses onto k % 50, so the bench rule selects two full
    // replicas of EVERY original and decontamination correctly empties
    // the corpus). A real 100× corpus has no correlation between id
    // residue and duplication, so the builder artifact also suppresses
    // the decontam → mixture → budget → pack stages from ever running at
    // shard scale. Remapping rid = orig + k·M (M = a multiple of 50 ≥
    // max orig id + 1) preserves each ORIGINAL's residue class — the
    // bench set is 2% of originals, exactly as at 1× — and the whole
    // tail runs live; wall/shuffle/peak of the full chain are recorded
    // alongside the stage counts.
    if (toRun.contains("pipe_end_to_end")) {
      val remapDir = s"$out/e2e_remap"
      if (!Files.exists(Paths.get(s"$remapDir/documents.parquet/_SUCCESS"))) {
        val docs = Engine.table(spark, out, "documents")
        val maxOrig = docs
          .agg(max(expr(s"doc_id div $factor")).as("m")).head().getLong(0)
        val m = ((maxOrig + 1 + 49) / 50) * 50
        docs.select(
            (expr(s"doc_id div $factor") + (col("doc_id") % factor) * m)
              .as("doc_id"),
            col("text"), col("lang"), col("source"), col("n_chars"))
          .repartition(cpus)
          .write.mode("overwrite").parquet(s"$remapDir/documents.parquet")
      }
      val t0 = System.nanoTime()
      val funnel = ext.Pipeline.endToEndStages(spark, remapDir)
        .map { case (stage, df) => s""""$stage":${df.count()}""" }
      val (shuffleMb, p) = profiler.measure(shuffleWrittenMb(
        ext.Pipeline.endToEndStages(spark, remapDir).last._2))
      val secs = r1((System.nanoTime() - t0) / 1e9)
      val json = funnel.mkString("{", ",",
        s""","wall_s":$secs,"chain_shuffle_mb":${r1(shuffleMb)}""" +
          s""","chain_peak_task_mem_mb":${r1(p.peakTaskMemBytes / 1e6)}}""")
      println(s"PROBE e2e_funnel_remapped $json")
      artifact.record("e2e_funnel_remapped", json)
    }
    // ---- IVF partition-pruned layout demonstration -------------------
    // ann_ivf's comment claims "cells are the partitioning key so a
    // probe is partition-pruned, not a full scan". Make that MEASURED:
    // write the probe shard cell-partitioned, run one query's probe
    // phase against it, and read PartitionFilters + partitions/files
    // actually scanned off the executed plan.
    if (onlyProbes.forall(_.contains("ann_ivf_pruned"))) {
      import graft.ext.Similarity.{cosineWithNorms, l2norm}
      val nCells = 16
      val nProbe = 6
      val ivfDir = s"$out/embeddings_ivf.parquet"
      val emb = Engine.table(spark, out, "embeddings")
        .withColumn("nrm", l2norm(col("embedding")))
      // layout seeds: 16 DISTINCT base vectors (replica 0 of base ids
      // 0..15) — the 1× ann_ivf seed rule lifted to the replicated
      // shard, where "first 16 vec_ids" would be 16 near-identical
      // replicas of one vector and every cell would collapse into one
      val seeds = broadcast(
        emb.filter(col("vec_id") % factor === 0 &&
            col("vec_id") < nCells.toLong * factor)
          .select((col("vec_id") / factor).cast("int").as("cell"),
            col("embedding").as("c_vec"), col("nrm").as("c_nrm"))
          .localCheckpoint(true))
      if (!Files.exists(Paths.get(s"$ivfDir/_SUCCESS"))) {
        val t0 = System.nanoTime()
        emb.crossJoin(seeds)
          .withColumn("__csim", cosineWithNorms(col("embedding"), col("c_vec"),
            col("nrm"), col("c_nrm")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cell"), col("embedding")),
            struct(col("__csim"), negate(col("cell")))).as("best"))
          .select(col("vec_id"), col("best.embedding").as("embedding"),
            col("best.cell").as("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(ivfDir)
        println(f"cell-partitioned layout written in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      // probe phase for ONE query (the serving shape is per-query):
      // its nProbe nearest cells become partition-filter literals.
      // The collect is 6 planning values, not data — same class as a
      // broadcast build.
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"), col("nrm").as("q_nrm"))
      val probeCells: Array[Int] = q0.crossJoin(seeds)
        .withColumn("__csim", cosineWithNorms(col("q_vec"), col("c_vec"),
          col("q_nrm"), col("c_nrm")))
        .orderBy(col("__csim").desc, col("cell"))
        .limit(nProbe)
        .select(col("cell")).collect().map(_.getInt(0))
      val scan = spark.read.parquet(ivfDir)
        .filter(col("cell").isin(probeCells.toIndexedSeq.map(Int.box): _*))
        .agg(count(lit(1)).as("n"))
      val nScanned = scan.collect().head.getLong(0)
      val metrics = Explain.analyze(
        spark.read.parquet(ivfDir)
          .filter(col("cell").isin(probeCells.toIndexedSeq.map(Int.box): _*))
          .agg(count(lit(1)).as("n")))
        .filter(col("operator").startsWith("Scan") ||
          col("operator").contains("FileScan"))
        .select(col("metric"), col("value")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val partsRead = metrics.getOrElse("numPartitions", -1L)
      val filesRead = metrics.getOrElse("numFiles", -1L)
      import scala.jdk.CollectionConverters._
      val partsTotal = Files.list(Paths.get(ivfDir)).iterator().asScala
        .count(_.getFileName.toString.startsWith("cell="))
      val filesTotal = Files.walk(Paths.get(ivfDir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      val pf = spark.read.parquet(ivfDir)
        .filter(col("cell").isin(probeCells.toIndexedSeq.map(Int.box): _*))
        .agg(count(lit(1)))
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      val pruned = "PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r
        .findFirstIn(pf).isDefined
      println(f"IVF PRUNING: partitions $partsRead/$partsTotal files $filesRead/$filesTotal rows=$nScanned partitionFilters=$pruned")
      // loud failure: the pruning claim is the point of this probe
      require(pruned, s"no PartitionFilters on the cell scan:\n$pf")
      require(partsRead > 0 && partsRead < partsTotal,
        s"scan read $partsRead of $partsTotal partitions — not pruned")
      artifact.record("ivf_pruning", s"""{"cells_probed":${probeCells.length},"partitions_read":$partsRead,"partitions_total":$partsTotal,"files_read":$filesRead,"files_total":$filesTotal,"rows_scanned":$nScanned}""")
    }

    // ---- incremental-dedup bucketed-layout demonstration -------------
    // dedup_incremental's scale comment claims "at 100 TB the corpus
    // side lives pre-bucketed by hash, so the check is an exchange-free
    // semi join" (ext/Dedup.scala). Make that MEASURED, the same way IVF
    // pruning was: write the shard-factor corpus hash set as a bucketed
    // saveAsTable, semi-join an incoming shard against it, and assert
    // from the EXECUTED plan that the only exchange is the shard-sized
    // one aligning to the bucket layout — the corpus side never rides a
    // shuffle again, for this and every future shard.
    if (onlyProbes.forall(_.contains("incr_bucketed"))) {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
      val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        // plan-SHAPE demonstration: no runtime re-plan, no broadcast
        // rescue — the corpus side must stand on its bucket layout
        // alone (at 100 TB the corpus is far past broadcast size)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val nBuckets = 32
        val tbl = "graft_probe_corpus_hashes"
        val docs = Engine.table(spark, out, "documents")
        if (!spark.catalog.tableExists(tbl)) {
          val t0 = System.nanoTime()
          docs.filter(col("doc_id") % 2 === 0)
            .select(md5(col("text")).as("h"))
            .distinct()
            .write.bucketBy(nBuckets, "h").sortBy("h")
            .option("path", s"$out/corpus_hashes")
            .mode("overwrite").saveAsTable(tbl)
          println(f"bucketed corpus hash table in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        }
        val corpus = spark.table(tbl)
        val shard = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), md5(col("text")).as("h"))
        val dup = shard.join(corpus.hint("merge"), Seq("h"), "left_semi")
        val t0 = System.nanoTime()
        val nDup = dup.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val exchanges = dup.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeLike => e }
        // every exchange subtree must be the SHARD scan; the bucketed
        // corpus table must appear under none of them
        val corpusExchanged = exchanges.exists(_.toString.contains("corpus_hashes"))
        val planStr = dup.queryExecution
          .explainString(org.apache.spark.sql.execution.SimpleMode)
        val bucketScan = planStr.contains("SelectedBucketsCount") ||
          planStr.contains("Bucketed: true")
        println(s"INCR BUCKETED: dups=$nDup exchanges=${exchanges.length} " +
          f"corpusExchanged=$corpusExchanged bucketScan=$bucketScan wall=$wall%.1fs")
        // loud failure: the exchange-free claim is the point
        require(exchanges.length == 1,
          s"expected exactly the shard-side exchange, got ${exchanges.length}:\n$planStr")
        require(!corpusExchanged, s"corpus side rode an exchange:\n$planStr")
        require(bucketScan, s"corpus scan is not bucket-aware:\n$planStr")
        artifact.record("incremental_bucketed", s"""{"buckets":$nBuckets,"dup_rows":$nDup,"exchanges":${exchanges.length},"corpus_side_exchange_free":true,"wall_s":${r1(wall)}}""")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
      }
    }

    // ---- RANGE-frame window at shard scale ---------------------------
    // q_window_range partitions by o_orderpriority — FIVE distinct keys,
    // the worst per-key volume shape a window can have (each key holds
    // ~n/5 of the table). The scale question is whether memory is
    // bounded by WindowExec's spillable buffer + frame rather than the
    // partition: measure per-key row counts (uniformity) and the actual
    // per-task peak memory on a factor-x orders shard.
    def ordersShard(): String = ScaleProbe.ordersShard(spark, base, out, factor, cpus)
    var wrTotal: Option[Long] = None // the two window probes' framed totals must agree
    if (onlyProbes.forall(_.contains("window_range"))) {
      val ord = spark.read.parquet(ordersShard())
      val keyCounts = ord.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .collect().map(_.getLong(1)) // 5 diagnostic rows — the key domain
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
        .rangeBetween(-1000L * factor, 0) // frame scaled with key density
      val (total, p) = profiler.measure(ord
        .select(col("o_orderpriority"),
          count(lit(1)).over(w).as("n_in_range"),
          sum(col("o_totalprice")).over(w).as("sum_in_range"))
        .agg(sum(col("n_in_range"))).collect().head.getLong(0)) // 1-row reduce
      val peakMb = p.peakTaskMemBytes / 1e6
      wrTotal = Some(total)
      println(f"WINDOW RANGE: rows=${keyCounts.sum} keyMax=${keyCounts.max} " +
        f"keyMin=${keyCounts.min} framedTotal=$total wall=${p.wallS}%.1fs peak_task_mem=$peakMb%.1f MB")
      artifact.record("window_range", s"""{"rows":${keyCounts.sum},"keys":${keyCounts.length},"key_rows_max":${keyCounts.max},"key_rows_min":${keyCounts.min},"framed_total":$total,"wall_s":${r1(p.wallS)},"peak_task_mem_mb":${r1(peakMb)}}""")
    }

    // ---- prefix-sum rewrite of the same RANGE frame ------------------
    // The sliding frame above is O(rows × frame_rows); the rewrite is
    // two O(n) cumulative windows + the union-merge as-of lookup
    // (ops/Scale.rangeFramePrefixSum — oracle-proven equal at sf0.01 by
    // q_window_range_prefix). The framed totals are asserted identical,
    // so the two probe rows measure the SAME computation both ways.
    if (onlyProbes.forall(_.contains("window_range_prefix"))) {
      val ord = spark.read.parquet(ordersShard())
      val (total, p) = profiler.measure(graft.ops.Scale.rangeFramePrefixSum(ord,
          "o_orderpriority", "o_orderkey", "o_totalprice", 1000L * factor)
        .agg(sum(col("n_in_range"))).collect().head.getLong(0)) // 1-row reduce
      val peakMb = p.peakTaskMemBytes / 1e6
      for (a <- wrTotal)
        require(a == total, s"prefix rewrite diverged: sliding=$a prefix=$total")
      println(f"WINDOW RANGE PREFIX: framedTotal=$total wall=${p.wallS}%.1fs " +
        f"peak_task_mem=$peakMb%.1f MB totalsAgree=${wrTotal.forall(_ == total)}")
      artifact.record("window_range_prefix", s"""{"framed_total":$total,"wall_s":${r1(p.wallS)},"peak_task_mem_mb":${r1(peakMb)}}""")
    }

    // ---- quality-cut formulation comparison --------------------------
    // pipe_quality_cut's comment claims Spark's percentile() aggregate
    // "buffers every group value — the per-group OOM shape at corpus
    // scale" while the rank-selection plan streams. Measure BOTH
    // formulations over the shard's documents: same cutoffs required
    // (they implement the same R-7 definition), peak task memory is the
    // verdict metric.
    if (onlyProbes.forall(_.contains("quality_cut_alternative"))) {
      val docs = Engine.table(spark, out, "documents")
        .select(col("lang"), col("n_chars"))
      val (buffered, pBuf) = profiler.measure(docs.groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.75)").as("cutoff"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
      val (ranked, pRk) = profiler.measure(
        graft.SparkEntry.queries("pipe_quality_cut")(spark, out)
          .select(col("lang"), col("cutoff"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
      val (bufWall, bufPeak) = (pBuf.wallS, pBuf.peakTaskMemBytes / 1e6)
      val (rkWall, rkPeak) = (pRk.wallS, pRk.peakTaskMemBytes / 1e6)
      require(buffered == ranked,
        s"formulations diverged: percentile()=$buffered rank=$ranked")
      println(f"QUALITY CUT ALT: percentile() wall=$bufWall%.1fs peak=$bufPeak%.1f MB " +
        f"vs rank-selection wall=$rkWall%.1fs peak=$rkPeak%.1f MB, cutoffs agree")
      artifact.record("quality_cut_alternative", s"""{"cutoffs_agree":true,"percentile_wall_s":${r1(bufWall)},"percentile_peak_task_mb":${r1(bufPeak)},"rank_wall_s":${r1(rkWall)},"rank_peak_task_mb":${r1(rkPeak)}}""")
    }

    // ---- vocab-scale rank: global window vs two-level DistRank -------
    // text_vocab_coverage/text_zipf_fit rest on "the vocab is small
    // relative to the corpus" — true, but a WEB-scale vocab is still
    // 10⁷–10⁸ types. Turn the assumption into a measurement: synthesize
    // a 10⁷-type Zipf vocab (wc = V div (rank+1), so ~half the types
    // are hapax — the exact skew shape that breaks naive sharding),
    // rank it BOTH ways over the same materialized frame, require
    // bit-identical rank checksums, and record wall + peak task memory.
    // The verdict metric is peak task memory: the global window puts
    // all 10⁷ rows in ONE sort task; DistRank's biggest sort is a
    // (count-band × first-byte) shard.
    if (onlyProbes.forall(_.contains("vocab_rank_scale"))) {
      val v = 10L * 1000 * 1000
      val vocab = spark.range(v)
        .select(md5(col("id").cast("string")).as("w"),
          expr(s"greatest(1L, $v div (id + 1))").as("wc"))
        .repartition(cpus)
        .localCheckpoint(true) // both paths rank the SAME blocks
      def measure(ranked: => DataFrame): (Long, Double, Double) = {
        val (ck, p) = profiler.measure(
          rowChecksum(ranked, col("w"), col("rn").cast("string")))
        (ck, p.wallS, p.peakTaskMemBytes / 1e6)
      }
      val (ckG, wallG, peakG) = measure(
        vocab.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("wc").desc, col("w"))).cast("long")))
      val (ckD, wallD, peakD) = measure(
        graft.ext.DistRank.rowNumber(spark, vocab,
          graft.ext.DistRank.countDescWordShard(col("wc"), col("w")),
          Seq(col("wc").desc, col("w")), "rn"))
      require(ckG == ckD,
        s"rank formulations diverged: global=$ckG distributed=$ckD")
      println(f"VOCAB RANK SCALE: types=$v global wall=$wallG%.1fs " +
        f"peak=$peakG%.1f MB vs two-level wall=$wallD%.1fs peak=$peakD%.1f MB " +
        "(checksums agree)")
      artifact.record("vocab_rank_scale", s"""{"n_types":$v,"checksums_agree":true,"global_wall_s":${r1(wallG)},"global_peak_task_mb":${r1(peakG)},"twolevel_wall_s":${r1(wallD)},"twolevel_peak_task_mb":${r1(peakD)}}""")
    }

    // ---- z-order layout pruning demonstration ------------------------
    // writeZOrdered claims parquet footer stats prune 2-D box predicates.
    // Measure it against the honest alternative — the same shard sorted
    // by the box's LEADING column only (which prunes that dimension
    // perfectly and the other not at all). Metric: the scan's
    // numOutputRows, i.e. rows surviving row-group/page pruning before
    // the residual filter runs; the box answer itself must be identical.
    if (onlyProbes.forall(_.contains("zorder_pruning"))) {
      val ord = spark.read.parquet(ordersShard())
      val linDir = s"$out/orders_lin.parquet"
      val zDir = s"$out/orders_z.parquet"
      if (!Files.exists(Paths.get(s"$linDir/_SUCCESS"))) {
        val t0 = System.nanoTime()
        ord.repartitionByRange(cpus, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey"))
          .write.mode("overwrite")
          .option("parquet.block.size", 8L << 20).parquet(linDir)
        println(f"linear layout written in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      if (!Files.exists(Paths.get(s"$zDir/_SUCCESS"))) {
        val t0 = System.nanoTime()
        graft.ops.Scale.writeZOrdered(ord, zDir, "o_orderkey", "o_totalprice",
          cpus)
        println(f"z-order layout written in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      // ~10% of the key domain (keys are orig*factor+k, orig ≤ ~600k at
      // sf0.1) × ~10% of the price domain — both dimensions selective,
      // the regime where a 1-D sort must over-read
      val loK = 120000L * factor
      val hiK = 180000L * factor
      def boxQ(dir: String) = spark.read.parquet(dir)
        .filter(col("o_orderkey").between(loK, hiK) &&
          col("o_totalprice").between(50000, 110000))
        .agg(count(lit(1)).as("n"))
      def measure(dir: String): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        val m = Explain.analyze(boxQ(dir))
        val wall = (System.nanoTime() - t0) / 1e9
        val scanRows = m.filter((col("operator").startsWith("Scan") ||
            col("operator").contains("FileScan")) &&
            col("metric") === "numOutputRows")
          .agg(sum(col("value"))).collect().head.getLong(0)
        val n = boxQ(dir).collect().head.getLong(0) // 1-row reduce
        (scanRows, n, wall)
      }
      val (linScan, linN, linWall) = measure(linDir)
      val (zScan, zN, zWall) = measure(zDir)
      require(linN == zN, s"layouts disagree on the box answer: $linN vs $zN")
      require(zScan < linScan,
        s"z-order read MORE rows than the 1-D sort: $zScan vs $linScan")
      println(f"ZORDER PRUNING: box_rows=$zN scan_linear=$linScan scan_zorder=$zScan " +
        f"ratio=${linScan.toDouble / zScan}%.1fx wall_lin=$linWall%.1fs wall_z=$zWall%.1fs")
      artifact.record("zorder_pruning", s"""{"box_rows":$zN,"scan_rows_linear":$linScan,"scan_rows_zorder":$zScan,"wall_linear_s":${r1(linWall)},"wall_zorder_s":${r1(zWall)}}""")
    }

    // ---- dynamic partition pruning (join-driven) ---------------------
    // The static layouts above (IVF cells, z-order) prune on literals
    // known at plan time. The star-schema workhorse at 100 TB is the
    // OTHER pruning: a filter on a small dim table reaching the fact
    // scan at RUNTIME through the join key (Spark's DPP — the broadcast
    // build doubles as an IN-subquery over the fact's partition column).
    // Layout: the 15M-row orders shard partitioned by a 365-value day
    // column; dim maps days to months; the query filters ONE month on
    // the dim side only. The fact scan must read ~1/12 of the
    // partitions with zero partition literals in the query text.
    if (onlyProbes.forall(_.contains("dpp"))) {
      val dppDir = s"$out/orders_byday.parquet"
      if (!Files.exists(Paths.get(s"$dppDir/_SUCCESS"))) {
        val t0 = System.nanoTime()
        spark.read.parquet(ordersShard())
          .withColumn("day_id", pmod(col("o_orderkey"), lit(365L)))
          .repartition(col("day_id")) // one file per day directory
          .write.mode("overwrite").partitionBy("day_id").parquet(dppDir)
        println(f"day-partitioned layout written in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      val dim = spark.range(365).select(col("id").as("day_id"),
        (col("id") % 12).as("month"))
      val fact = spark.read.parquet(dppDir)
      val q = fact.join(broadcast(dim), "day_id")
        .filter(col("month") === 3)
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sp"))
      val t0 = System.nanoTime()
      val m = Explain.analyze(q)
        .filter((col("operator").startsWith("Scan") ||
          col("operator").contains("FileScan")) &&
          col("metric").isin("numPartitions", "numFiles", "numOutputRows"))
        .groupBy(col("metric")).agg(max(col("value")).as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wall = (System.nanoTime() - t0) / 1e9
      val partsRead = m.getOrElse("numPartitions", -1L)
      val filesRead = m.getOrElse("numFiles", -1L)
      val rowsRead = m.getOrElse("numOutputRows", -1L)
      import scala.jdk.CollectionConverters._
      val partsTotal = Files.list(Paths.get(dppDir)).iterator().asScala
        .count(_.getFileName.toString.startsWith("day_id="))
      // Explain.analyze executed q's OWN queryExecution, so this is
      // the final post-AQE plan of the run measured above
      val plan = q.queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
      require(plan.contains("dynamicpruning"),
        s"fact scan has no dynamic pruning filter:\n$plan")
      require(partsRead > 0 && partsRead <= partsTotal / 10,
        s"DPP read $partsRead of $partsTotal partitions — not pruned")
      println(f"DPP: partitions $partsRead/$partsTotal files=$filesRead " +
        f"rows_scanned=$rowsRead wall=$wall%.1fs")
      artifact.record("dpp_pruning", s"""{"partitions_read":$partsRead,"partitions_total":$partsTotal,"files_read":$filesRead,"rows_scanned":$rowsRead,"wall_s":${r1(wall)}}""")
    }

    // ---- small-files compaction at shard scale -----------------------
    // The DPP layout above is the canonical fragmentation shape: 365
    // one-file day directories. Compact the whole layout (flattening the
    // partition column back into the rows — day_id stays queryable, the
    // hive layout is traded for file-size health + a doc_id clustering
    // sort) and require content invariance plus a real file-count cut.
    // At 100 TB the same call runs per fragmented PARTITION, bounded by
    // the fragmented subset; the full-layout pass here is the worst case.
    if (onlyProbes.forall(_.contains("compaction"))) {
      val dppDir = s"$out/orders_byday.parquet"
      require(Files.exists(Paths.get(s"$dppDir/_SUCCESS")),
        "run the dpp probe first — compaction reuses its fragmented layout")
      val compDir = s"$out/orders_compacted.parquet"
      import scala.jdk.CollectionConverters._
      val filesBefore = Files.walk(Paths.get(dppDir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      val src = spark.read.parquet(dppDir) // day_id partition col → row col
      val t0 = System.nanoTime()
      val nOut = {
        // size-derived like compactParquet, but over the partitioned tree
        val bytes = Files.walk(Paths.get(dppDir)).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(_.toFile.length()).sum
        math.max(1L, (bytes + (64L << 20) - 1) / (64L << 20)).toInt
      }
      src.repartitionByRange(nOut, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").parquet(compDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val filesAfter = Files.list(Paths.get(compDir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      // content invariance on an order-free aggregate fingerprint
      def fp(d: DataFrame) = d
        .agg(count(lit(1)), sum(col("o_orderkey")),
          sum(col("o_totalprice").cast("decimal(20,2)")), sum(col("day_id")))
        .collect().head.toSeq
      require(fp(src) == fp(spark.read.parquet(compDir)),
        "compaction changed content")
      require(filesAfter * 4 < filesBefore,
        s"compaction barely helped: $filesBefore -> $filesAfter")
      println(f"COMPACTION: files $filesBefore -> $filesAfter wall=$wall%.1fs")
      artifact.record("compaction", s"""{"files_before":$filesBefore,"files_after":$filesAfter,"wall_s":${r1(wall)}}""")
    }

    // ---- AQE skew-join vs explicit salting ---------------------------
    // Scale.saltedJoin's doc claims "AQE's skew-join handles moderate
    // skew automatically; explicit salting is the tool for the extreme
    // tail". Measure the same pathologically-skewed join (one key owns
    // 30% of the 15M-row shard) under all three treatments:
    //   (a) plain shuffle SMJ, AQE off — the failure mode: the hot key
    //       is ONE task, and that task is the job's critical path;
    //   (b) AQE skew-join — the executed plan must carry skew=true and
    //       the AQEShuffleRead must report real skew splits;
    //   (c) explicit salting (Scale.saltedJoin, 64 salts), AQE off.
    // All three must produce the identical join cardinality; the skew
    // metric is max task duration (p100 IS the straggler story — wall
    // clock hides it behind the other 31 cores), over SHUFFLE-READING
    // tasks only (the Profile `readTask*` fields): the scan stage (no
    // shuffle read, identical across treatments, and for the salted plan
    // also carrying the salt-hash compute) would otherwise mask the join
    // stage, which is where the hot key lives; the final 1-row reduce
    // also reads shuffle but is single-digit-ms noise under any max
    if (onlyProbes.forall(_.contains("skew_join"))) {
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
      val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        // the dim side is 1000 rows — broadcast would dissolve the
        // skew (correct at this size, but the probe models a dim far
        // past broadcast size at 100 TB), so force the shuffle path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val ord = spark.read.parquet(ordersShard())
        val left = ord.select(
          when(col("o_orderkey") % 10 < 3, 0L)
            .otherwise(pmod(col("o_orderkey"), lit(1000L))).as("k"),
          col("o_orderkey"), col("o_totalprice"))
        val dim = spark.range(1000).select(col("id").as("k"),
          (col("id") % 97).as("w"))
        // the reduce must CONSUME payload from both sides — a bare
        // count(1) lets Catalyst prune the join to key-only rows, and
        // 4.5M copies of one constant long compress below any sane
        // skew threshold (first probe run proved it: AQE coalesced,
        // nothing to split). Summing o_totalprice (incompressible
        // doubles) + w keeps real bytes on the hot partition.
        def reduce(j: DataFrame) =
          j.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sp"),
            sum(col("w")).as("sw"))
        // returns the EXECUTED reduce frame too: under AQE the final
        // (skew-split) plan exists only on a query that ran
        // per-run: rows, wall, max task s, max task read MB, read
        // IMBALANCE (max/mean over shuffle-reading tasks — the
        // straggler factor: 1.0 is perfectly balanced, the skewed
        // join's is ~ hot_share × n_tasks), executed frame
        def consume(j: DataFrame)
            : (Long, Double, Double, Double, Double, DataFrame) = {
          val q = reduce(j)
          val (n, p) = profiler.measure(q.collect().head.getLong(0)) // 1-row reduce
          val imb = p.readTaskMaxBytes.toDouble /
            (p.readTaskSumBytes.toDouble / math.max(p.readTasks, 1L))
          (n, p.wallS, p.readTaskMaxMs / 1e3, p.readTaskMaxBytes / 1e6, imb, q)
        }
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val plainJ = left.join(dim, "k")
        val (nPlain, wallPlain, maxPlain, readPlain, imbPlain, _) = consume(plainJ)

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        // the hot partition is ~110 MB here — representative skew at
        // this shard size but under AQE's 256 MB default threshold, so
        // scale the knobs to the shard the way a cluster config would
        // be sized to its executors (thresholds are runtime SQLConfs)
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        val aqeJ = left.join(dim, "k")
        val (nAqe, wallAqe, maxAqe, readAqe, imbAqe, aqeQ) = consume(aqeJ)
        val aqePlan = aqeQ.queryExecution
          .explainString(org.apache.spark.sql.execution.SimpleMode)
        require(aqePlan.contains("skew=true"),
          s"AQE did not mark the join skewed:\n$aqePlan")
        val skewMetrics = Explain.analyze(reduce(left.join(dim, "k")))
          .filter(col("operator").contains("AQEShuffleRead") &&
            col("metric").isin("numSkewedPartitions", "numSkewedSplits"))
          .groupBy(col("metric")).agg(max(col("value")).as("v"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val skewParts = skewMetrics.getOrElse("numSkewedPartitions", -1L)
        val skewSplits = skewMetrics.getOrElse("numSkewedSplits", -1L)

        spark.conf.set("spark.sql.adaptive.enabled", "false")
        // per-row discriminator salt: every row of the hot key carries
        // a distinct o_orderkey, exactly the saltCols contract. 64
        // salts (not 16): reducers are assigned by hash(k, salt) % 32,
        // so a few of 16 hot sub-keys clustering into one reducer
        // still left it ~3x the average (measured 16.4 MB vs 4.3 MB
        // avg); at 64 salts each hot sub-key is ~0.65 MB and the
        // clustering tail is bounded well under the 5x bar
        val saltedJ = graft.ops.Scale.saltedJoin(left, dim, "k", 64,
          Seq(col("o_orderkey")))
        val (nSalted, wallSalted, maxSalted, readSalted, imbSalted, _) = consume(saltedJ)

        require(nPlain == nAqe && nPlain == nSalted,
          s"treatments disagree on cardinality: $nPlain / $nAqe / $nSalted")
        require(skewParts > 0 && skewSplits > skewParts,
          s"AQE reported no real splits: parts=$skewParts splits=$skewSplits")
        // the claim under test, on the DETERMINISTIC axis (bytes, not
        // wall — this sandbox has a multi-second task floor under
        // co-tenant load that masks sub-5s duration ratios; at cluster
        // scale the hot task is hours and the bytes ratio IS the wall
        // ratio): untreated, one task's read is several times the
        // mean (the hot key rides one reducer); both treatments must
        // bring the straggler factor into the balanced regime AND cut
        // the absolute hot-task bytes by ≥4x. The salted ceiling is
        // reducer-count-bound: hash(k, salt) clusters a few hot
        // sub-keys per reducer, so max/mean lands ~2, not 1.
        require(imbPlain > 5,
          f"hot key did not skew the untreated join: imbalance=$imbPlain%.1f")
        require(imbAqe < 3.5 && imbSalted < 3.5,
          f"treatment left the join unbalanced: aqe=$imbAqe%.1f salted=$imbSalted%.1f")
        require(readPlain > 4 * readAqe,
          f"AQE split did not spread the hot partition: $readPlain%.1f vs $readAqe%.1f MB")
        require(readPlain > 4 * readSalted,
          f"salting did not spread the hot partition: $readPlain%.1f vs $readSalted%.1f MB")
        println(f"SKEW JOIN: rows=$nPlain " +
          f"plain(max_read=$readPlain%.1fMB imb=$imbPlain%.1f max_task=$maxPlain%.1fs wall=$wallPlain%.1fs) " +
          f"aqe(max_read=$readAqe%.1fMB imb=$imbAqe%.1f max_task=$maxAqe%.1fs wall=$wallAqe%.1fs parts=$skewParts splits=$skewSplits) " +
          f"salted(max_read=$readSalted%.1fMB imb=$imbSalted%.1f max_task=$maxSalted%.1fs wall=$wallSalted%.1fs)")
        artifact.record("aqe_skew_join", s"""{"rows":$nPlain,"plain":{"wall_s":${r1(wallPlain)},"max_task_s":${r1(maxPlain)},"max_task_read_mb":${r1(readPlain)},"read_imbalance":${r1(imbPlain)}},""" +
          s""""aqe":{"wall_s":${r1(wallAqe)},"max_task_s":${r1(maxAqe)},"max_task_read_mb":${r1(readAqe)},"read_imbalance":${r1(imbAqe)},"skewed_partitions":$skewParts,"skew_splits":$skewSplits},""" +
          s""""salted":{"wall_s":${r1(wallSalted)},"max_task_s":${r1(maxSalted)},"max_task_read_mb":${r1(readSalted)},"read_imbalance":${r1(imbSalted)}}}""")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }

    // ---- runtime bloom-filter join pruning ---------------------------
    // DPP (probe above) prunes PARTITIONS through a partition column;
    // the runtime bloom filter is its row-level sibling for joins on
    // NON-partition keys: the selective dim side builds a bloom filter
    // at runtime and Catalyst injects might_contain(xxhash64(key)) into
    // the fact side BEFORE its exchange, so non-matching fact rows never
    // ride the shuffle. At 100 TB this is the difference between
    // shuffling the whole fact table and shuffling ~|dim matches| + FP
    // rows. The join is forced onto the shuffle path (dim far past
    // broadcast size is the 100 TB premise — same rationale as the skew
    // probe) and the size gates are scaled to the shard exactly like the
    // AQE skew knobs (defaults expect a 10 GB fact scan).
    if (onlyProbes.forall(_.contains("bloom_join"))) {
      val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
        spark.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
        val dimDir = s"$out/bloom_dim.parquet"
        if (!Files.exists(Paths.get(s"$dimDir/_SUCCESS"))) {
          spark.range(1000000L)
            .select(col("id").as("k"), pmod(col("id"), lit(2999L)).as("grp"))
            .write.mode("overwrite").parquet(dimDir)
        }
        val fact = spark.read.parquet(ordersShard())
        // Filter-over-scan on the dim: the selective-predicate shape
        // InjectRuntimeFilter keys on (an in-memory range() is not a
        // scan and never triggers injection)
        def dim = spark.read.parquet(dimDir).filter(col("grp") === 7)
        // the reduce consumes o_totalprice so real fact payload rides
        // the exchange (the count(1)-prunes-payload trap, see above)
        def q() = fact.join(dim, col("o_orderkey") === col("k"))
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sp"))
        def run(): (Long, Double, Double, DataFrame) = {
          val frame = q()
          val (n, p) = profiler.measure(frame.collect().head.getLong(0))
          (n, p.readTaskSumBytes / 1e6, p.wallS, frame)
        }
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        val (nOff, mbOff, wallOff, _) = run()
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        val (nOn, mbOn, wallOn, onQ) = run()
        // executed frame's own queryExecution: the injected subquery
        // filter must be visible in the final plan
        val plan = onQ.queryExecution
          .explainString(org.apache.spark.sql.execution.SimpleMode)
        require(plan.toLowerCase.contains("might_contain"),
          s"no runtime bloom filter in the executed plan:\n$plan")
        require(nOn == nOff && nOn > 0,
          s"bloom changed the join result: $nOff vs $nOn")
        // the claim, on the deterministic axis (bytes, not wall): the
        // fact side must shed its exchange volume
        require(mbOff > 5 * mbOn,
          f"runtime bloom did not cut the shuffle: $mbOff%.1f vs $mbOn%.1f MB")
        println(f"RUNTIME BLOOM JOIN: rows=$nOn shuffle ${mbOff}%.1f -> ${mbOn}%.1f MB " +
          f"(wall $wallOff%.1fs -> $wallOn%.1fs)")
        artifact.record("runtime_bloom_join",
          s"""{"rows":$nOn,"shuffle_mb_off":${r1(mbOff)},"shuffle_mb_on":${r1(mbOn)},""" +
            s""""wall_off_s":${r1(wallOff)},"wall_on_s":${r1(wallOn)}}""")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        spark.conf.unset(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      }
    }

    // a full sweep replaces the artifact with every key it recorded
    // (walls are single-run ±30%; the shuffle-bytes column is
    // deterministic and is the scale evidence)
    artifact.write()
    // shard reclamation (r12 verdict task 5): the 1000x probe leaves
    // ~10 GB of generated shards, and the windows measured after it
    // degraded measurably (the r12 driver bench ran 39 minutes later
    // into a timeout). A successful FULL sweep deletes its shards — they
    // regenerate on demand. Gated runs keep theirs by default (they ARE
    // the iteration flow, and regenerating per iteration would cause
    // more churn than it avoids); SPARK_GRAFT_PROBE_KEEP=1/0 overrides
    // either way. Only reached on success: a failed run leaves the shard
    // for the diagnosis rerun. A USER-SUPPLIED dir is never deleted
    // (r13 ADVICE): reclamation exists to clean up the factor-derived
    // default path, and a recursive delete of an explicitly-pointed
    // SPARK_GRAFT_PROBE_DIR would destroy whatever else lives there.
    val keep = sys.env.get("SPARK_GRAFT_PROBE_KEEP") match {
      case Some(v) => v == "1"
      case None => onlyProbes.isDefined || sys.env.contains("SPARK_GRAFT_PROBE_DIR")
    }
    if (!keep) {
      graft.ops.Scale.deleteTree(Paths.get(out))
      println(s"[probe] reclaimed shard dir $out")
    }
    spark.stop()
  }
}
