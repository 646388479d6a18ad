package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{MaterializeOps, table => t}

/** Deduplication operators for training-data pipelines, designed for
  * 100 TB corpora:
  *
  *  - exact dedup: hash-groupBy on a 128-bit content hash — the shuffle
  *    carries (hash, doc_id) pairs only, never the document text;
  *  - MinHash + LSH near-dup: per-row signature computation (no shuffle)
  *    via codegen'd higher-order functions, then banding so only documents
  *    sharing a band bucket are ever paired — candidate generation is
  *    O(docs × bands), not O(docs²); oversized buckets (degenerate/common
  *    content) are capped to bound worst-case skew;
  *  - SimHash: 64-bit fingerprint per document, Hamming-ball candidates
  *    via 4×16-bit band exact match (any pair within Hamming distance 3
  *    shares at least one of 4 bands by pigeonhole);
  *  - n-gram Jaccard: the exact verifier applied to LSH candidates (and,
  *    as its own oracle-checked query, to a deterministic blocked sample).
  *
  * All signature math runs in native Catalyst expressions over the
  * md5-derived hash family (see graft.functions.HashExpressions) — one
  * fused JVM loop per row, no UDF serialization, and bit-reproducible
  * in the DuckDB oracle.
  */
object Dedup {

  /** Lowercased word tokens of `text` (native single-pass expression). */
  private def tokens(c: Column): Column =
    graft.functions.HashExpressions.word_shingles(c, 1, distinct = false)

  /** Word n-gram shingles (default 3) as a distinct array. */
  def shingles(c: Column, n: Int = 3): Column =
    graft.functions.HashExpressions.word_shingles(c, n)

  /** 64-slot MinHash signature over the shingle set — a native Catalyst
    * expression (one JVM loop per row; each shingle hashed once, k
    * long-mixes per shingle). See graft.functions.HashExpressions for why
    * this beats the equivalent transform/array_min HOF nesting ~20×. */
  def minhashSignature(shingleCol: Column, k: Int = 64): Column =
    graft.functions.HashExpressions.minhash_sig(shingleCol, k)

  /** LSH band keys: hash r consecutive signature slots per band. Two
    * documents with Jaccard ~s collide in ≥1 of b bands with probability
    * 1-(1-s^r)^b; with b=16, r=4 the S-curve threshold is ≈0.5.
    * Keyed by the first 60 BITS of md5 over the fixed-width-hex slot
    * values, as a BIGINT — not the 32-char hex string (r11): the band
    * key is the widest column on every banding exchange (bucket
    * groupBys, candidate joins, the okC cap filter), and the 60-bit
    * prefix cuts it 36→8 bytes per row while the DuckDB oracle still
    * reproduces the buckets bit-for-bit (same prefix both sides — the
    * md5Hash64/'0x'||substr pattern the signature slots already use;
    * 15 hex chars keeps Spark's conv() inside the signed-long range,
    * the probe checksums' precedent). A 60-bit prefix collision
    * (~10⁻⁵ at 5M buckets) merely MERGES two buckets identically in
    * both engines — candidates stay a superset and the exact Jaccard
    * verify decides membership, so results are unchanged even then.
    * The prefix idiom and its collision-safety rule live in
    * [[graft.functions.HashExpressions.md5Prefix60]]. */
  def bandKeys(sig: Column, bands: Int = 16, rows: Int = 4): Column = {
    val hx = transform(sig, x => lower(lpad(hex(x), 16, "0")))
    transform(sequence(lit(0), lit(bands - 1)),
      b => graft.functions.HashExpressions.md5Prefix60(
        md5(concat_ws(",", slice(hx, b * rows + 1, lit(rows))))))
  }

  /** 64-bit SimHash over token hashes: bit j is set iff the sum of
    * (±1 per token, + when bit j of the token hash is set) is positive.
    * Native expression — one pass over the tokens per row. */
  def simhash(c: Column): Column =
    graft.functions.HashExpressions.simhash64(tokens(c))

  /** Exact near-dup verifier: Jaccard similarity of two DISTINCT-element
    * arrays (shingles() is distinct). Same rational value as the oracle's
    * len(list_intersect)/len(list_distinct(list_concat)) formula.
    *
    * Native one-pass kernel since r10: the previous composed form
    * (`size(array_intersect)/(|a|+|b|−size(array_intersect))`) repeated
    * array_intersect three times, and Catalyst pushes `jaccard ≥ t`
    * filters into the verify-join CONDITION where the expression runs
    * interpreted without subexpression elimination — measured
    * ~310µs/pair, ~80s of the 100× incremental-minhash probe wall.
    * [[graft.functions.HashExpressions.JaccardSim]] mirrors the exact
    * distinct-intersection / raw-size-union semantics in one compiled
    * pass per pair. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.HashExpressions.jaccard_sim(a, b)

  // NOTE (measured, 100× shard + sf0.1): hashing each shingle to a
  // 60-bit long via md5 (the oracle-portable hash) to shrink the
  // verification join payload is a 2× LOSS — Spark's Md5+conv per
  // shingle costs more than the string payload it saves. String
  // shingles stay; the verification sides are narrow dedicated frames
  // (below) so no minhash pass is wasted on them.
  //
  // NOTE 2 (measured by the r6 scale probe, recorded as
  // `dedup_minhash_inbucket` in PROBE_LOCAL_{10,100}x.json): the OTHER
  // verify alternative — carrying shingle arrays into the banding
  // shuffle and computing Jaccard inside each bucket's collected
  // structs, skipping the two-sided re-join — is a 5-8× shuffle LOSS
  // (10×: 668 vs 85 MB; 100×: 2964 vs 545 MB) and 1.2-2.3× wall: every
  // doc's array rides all 16 band buckets, where the re-join ships it
  // once per verify side. Its only win is peak task memory (10-26 vs
  // 71-144 MB — no join build), which is not the binding constraint.
  // The re-join design stays.

  /** (doc_id, sh, sig) for every non-empty document.
    *
    * Deliberately NOT cached: with the native minhash expression the
    * signature pass costs ~0.3s at sf0.1, while `.persist()` of the
    * nested array<string> shingle column costs ~14s building columnar
    * cache batches — recomputation beats caching for cheap-to-derive
    * nested columns (measured; the same holds on a cluster, where caching
    * also costs memory pressure on every executor).
    *
    * Repartitions first: a small parquet input arrives as ONE split, and
    * per-row signature math dominates — spread it across every core
    * before computing (at corpus scale the input is already many-split,
    * and the hash repartition just balances). The repartition is ALSO
    * the reuse point: consumers of the same signatures frame share one
    * exchange (ReuseExchange), so the minhash pass runs ONCE per query.
    * Measured r11: making the repartition conditional on scan
    * parallelism (to keep text out of the exchange, r10 verdict task 3)
    * un-deduplicates that pass — every consumer re-ran scan+shingle+
    * minhash and the incremental probe regressed 6× wall at 100×
    * (51.8→323s) for only −8% shuffle. The text exchange stays. */
  def signatures(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"), minhashSignature(col("sh")).as("sig"))

  /** Candidate pairs from MinHash-LSH banding over a [[signatures]] frame:
    * explode band keys, bucket by (band, key), self-join inside buckets.
    * `maxBucket` caps degenerate buckets (skew guard — at corpus scale a
    * boilerplate bucket with 10^6 docs would otherwise produce 10^12
    * pairs). */
  def minhashCandidates(sig: DataFrame, maxBucket: Int = 64): DataFrame = {
    val banded = sig.select(col("doc_id"),
        posexplode(bandKeys(col("sig"))).as(Seq("band", "bkey")))
    // one shuffle: gather each bucket's members, drop singleton buckets
    // (no pairs) and oversized ones (skew guard), then expand the pairs
    // inside the bucket. This beats the window+self-join formulation by
    // >10×: a window over (band, bkey) means one tiny window partition
    // per bucket — per-partition setup dominates — and the self-join
    // shuffles the banded table twice more.
    val buckets = banded
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("a"), y.as("b"))))))
        .as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** Connected-component labels (doc_id → min doc_id of its near-dup
    * component) over the MinHash-LSH candidate edges, by label
    * propagation to fixpoint — shared by `dedup_clusters` (size
    * histogram) and `dedup_canonical` (survivor selection).
    *
    * Iterative algorithms need lineage truncation, not columnar
    * caching: measured, `.persist()` here is a 13× LOSS (columnar
    * cache build serializes the upstream), while localCheckpoint
    * materializes the tiny edge list once and keeps each round's plan
    * flat. On a cluster swap for reliable checkpoint (executor-loss
    * tolerance); semantics identical.
    *
    * Propagates to FIXPOINT (true connected components, matching the
    * oracle's transitive closure), not a fixed round count: each round
    * checkpoints the new labels and counts changes — an aggregate
    * action, no collect of data. Near-dup clusters are shallow, so
    * this converges in a handful of rounds; the cap is a runaway guard. */
  private[ext] def clusterLabels(docs: DataFrame): DataFrame = {
    val sig = signatures(docs)
    val cand = minhashCandidates(sig)
    val edges = cand
      .union(cand.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .materialize(true)
    var labels = sig.select(col("doc_id"), col("doc_id").as("label"))
      .materialize(true)
    // the frame whose blocks round r's count just stopped referencing
    // (ADVICE r15): each round materializes a new corpus-sized frame and
    // the previous round's blocks are dead the moment the new count
    // returns — without the unpersist, executor storage grows O(rounds ×
    // corpus). At most two rounds of blocks are ever alive.
    var prevRound: DataFrame = labels
    var changed = 1L
    var round = 0
    while (changed > 0 && round < 20) {
      val prop = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("label")), "doc_b")
        .groupBy(col("doc_a")).agg(min(col("label")).as("nbr_label"))
      // the moved flag rides the SAME frame as the new label (newLabel
      // computed once, compared against the old before it is renamed):
      // the convergence count then scans the checkpointed blocks
      // instead of re-joining next against labels — one shuffle join
      // less per round, identical labels and identical changed count
      val newLabel = least(col("label"), coalesce(col("nbr_label"), col("label")))
      val stepped = labels
        .join(prop.select(col("doc_a").as("doc_id"), col("nbr_label")), Seq("doc_id"), "left")
        .select(col("doc_id"), newLabel.as("new_label"),
          (newLabel =!= col("label")).as("moved"))
        .materialize(false)
      changed = stepped.filter(col("moved")).count()
      // stepped is materialized; nothing references the previous
      // round's blocks anymore (this round's join already ran)
      org.apache.spark.sql.graftbridge.Bridge.unpersistMaterialized(prevRound)
      prevRound = stepped
      labels = stepped.select(col("doc_id"), col("new_label").as("label"))
      round += 1
    }
    // the edge list is dead too once the loop exits: the returned labels
    // frame reads only the final round's blocks
    org.apache.spark.sql.graftbridge.Bridge.unpersistMaterialized(edges)
    // the cap is a runaway guard, not a tolerance: labels returned with
    // changed > 0 are NOT connected components, and downstream the
    // symptom would be an unexplained oracle hash mismatch (the oracle
    // computes true transitive closure). Fail loudly at the source so a
    // diameter-20 component reads as a convergence failure, never as an
    // engine divergence.
    if (changed > 0)
      throw new IllegalStateException(
        s"clusterLabels: label propagation did not converge after $round " +
          s"rounds ($changed labels still changing) — a near-dup component's " +
          "diameter exceeds the cap; raise the round cap for this corpus")
    labels
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: one survivor (min doc_id) per md5(text) group
    "dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))),

    // PREFIX dedup — the truncation-family detector exact dedup misses:
    // a doc cut mid-crawl (or re-crawled with an appended footer) shares
    // its 128-char prefix with the original but not its full hash, so
    // md5(text) keeps both copies. Groups by prefix hash; a family with
    // ≥2 distinct FULL hashes is a truncation/extension cluster (same
    // full hash twice is plain exact duplication, already handled).
    // One map-side-combined pass — only 32-hex hashes and counters
    // ride the exchange, text never leaves the scan.
    "dedup_prefix" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(substring(col("text"), 1, 128)).as("ph"),
          md5(col("text")).as("fh"), col("n_chars"))
        .groupBy(col("ph"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fh")).as("n_variants"),
          min(col("doc_id")).as("keep_id"),
          min(col("n_chars")).as("len_min"),
          max(col("n_chars")).as("len_max"))
        .filter(col("n_docs") >= 2)
        .select(col("ph"), col("n_docs"), col("n_variants"), col("keep_id"),
          col("len_min"), col("len_max"),
          (col("n_variants") >= 2).as("has_truncation"))
        .orderBy(col("ph"))),

    // incremental (re-ingestion) dedup: a corpus is never deduped once —
    // every new shard must be checked against what is ALREADY ingested.
    // Corpus = doc_id % 2 = 0 (the deduped baseline), incoming shard =
    // doc_id % 3 = 0; documents divisible by 6 arrive again and must be
    // flagged by CONTENT (hash semi-join), not by id. Scale shape: only
    // (hash, doc_id) pairs ride the exchange — the corpus side is its
    // distinct hash set (at 100 TB that side lives pre-bucketed by hash,
    // so the check is an exchange-free semi join against the bucket
    // layout; here it hash-shuffles once). The shard side is
    // incremental-ingest-sized, never corpus-sized.
    "dedup_incremental" -> ((s, dir) => {
      val corpusH = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("h"))
        .distinct()
      val shard = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), md5(col("text")).as("h"))
      shard
        .join(corpusH.withColumn("dup", lit(true)), Seq("h"), "left")
        .select(col("doc_id"),
          coalesce(col("dup"), lit(false)).as("dup_of_corpus"),
          (!coalesce(col("dup"), lit(false))).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // incremental NEAR-dup: the MinHash complement of dedup_incremental.
    // A re-ingested shard must be screened not just for exact re-uploads
    // (the hash semi-join above) but for near-duplicates of content the
    // corpus ALREADY holds — re-crawls with boilerplate drift, minor
    // edits, mirrored pages. Scale shape: the corpus side's band keys
    // are precomputed once at ingest time and live bucketed by
    // (band, bkey) — the production join against them is exchange-free
    // (the incremental_bucketed probe's layout); here both sides band in
    // one pass each. Only the shard's bands (ingest-sized) and the
    // CANDIDATE corpus docs' shingles (pair-bounded via the candidate
    // join, never the whole corpus) cross an exchange. The bucket cap
    // applies on the corpus side — a boilerplate bucket with 10^6
    // ingested members would otherwise fan every shard doc into 10^6
    // verification pairs.
    "dedup_incremental_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val shard = docs.filter(col("doc_id") % 3 === 0)
      val sigS = signatures(shard)
      val bandedC = signatures(corpus).select(col("doc_id").as("c_id"),
        posexplode(bandKeys(col("sig"))).as(Seq("band", "bkey")))
      val bandedS = sigS.select(col("doc_id").as("s_id"),
        posexplode(bandKeys(col("sig"))).as(Seq("band", "bkey")))
      // corpus-side skew guard: singleton corpus buckets still pair
      // (cross-side join needs only one member), oversized ones drop
      val okC = bandedC.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("n")).filter(col("n") <= 64)
        .select(col("band"), col("bkey"))
      // id-pair frame with 3 consumers (verify join + the two semi
      // restrictions below) — materialize once, never recompute the
      // banding per consumer (the ann_ivf shared-scan precedent)
      val cands = bandedS
        .join(bandedC.join(okC, Seq("band", "bkey")), Seq("band", "bkey"))
        .select(col("s_id"), col("c_id")).distinct()
        .materialize(false) // lazy: folds into first consumer (r15 A/B 0.92x)
      val par = s.sparkContext.defaultParallelism
      // semi-restrict BOTH shingle sides to documents that actually
      // appear in a candidate pair before any shingle array is shuffled:
      // the semi join ships 8-byte ids; in production (dup fraction ≪ 1)
      // this is what makes "only candidate corpus docs ship shingles"
      // literally true — the corpus side's text never rides the verify
      // exchange for the non-candidate bulk.
      //
      // MEASURED r11 (verdict task 3 prescription tried and reverted):
      // an ids-FIRST variant — broadcast the candidate id sets onto the
      // scan side, shingle only candidates post-filter — cut shuffle
      // 58→39 MB at 10× but DOUBLED wall (6.7→13.8s; 100×: 51.8→323s
      // with the signatures() exchange also removed). Cause: the
      // repartition subtrees below are IDENTICAL to signatures()' and
      // ReuseExchange already deduplicates them, so the text exchange
      // this "saves" was free, while the two id broadcasts added
      // blocking driver collects and a second scan. This form stands on
      // measurement, not on the per-exchange byte count.
      val shS = shard.repartition(par, col("doc_id"))
        .select(col("doc_id").as("s_id"), shingles(col("text")).as("sh_s"))
        .filter(size(col("sh_s")) > 0)
        .join(cands.select(col("s_id")), Seq("s_id"), "leftsemi")
      // Verify WITHOUT an O(pairs × array) exchange. The naive
      // cands ⋈ shS ⋈ shC chain re-partitions the (pair, sh_s)
      // intermediate by c_id, so a shard doc's shingle array rides the
      // wire once PER PAIR — on the 100× replica shard (8M true
      // near-dup pairs, ~48 corpus partners per shard doc) that single
      // exchange measured 2.31 GB of the query's 2.57 GB total.
      // Blocked attach instead: group the pair list per shard doc
      // (bounded: ≤ bands × maxBucket = 1024 partners), attach sh_s
      // ONCE per doc, then explode only per c-id BLOCK (pmod P) and
      // join block-aligned against shC partitioned the same way — each
      // array now ships at most min(partners, P) times, i.e.
      // O(docs × P) worst-case array bytes instead of O(pairs).
      // P trades copies against join parallelism; defaultParallelism
      // matches the machine here and scales with the cluster.
      val P = par
      // subset co-partitioning: both join children are hash-partitioned
      // on cpart alone while the join keys are (cpart, c_id) — the
      // session-wide requireAllClusterKeysForCoPartition relaxation
      // that makes Spark elide the redundant exchange is owned by
      // Engine.tune (applied at every session construction, r12).
      // block key = pmod(hash(c_id), P), not pmod(c_id, P): shard ids
      // here are always even (doc_id % 2 residue), so a raw modulus
      // would leave half the block partitions empty — hash() decorrelates
      // the key from any id arithmetic (plan-internal only; the oracle
      // never sees cpart)
      val byS = cands.groupBy(col("s_id"))
        .agg(collect_set(col("c_id")).as("cs"))
      val sParts = byS.join(shS, "s_id")
        .select(col("s_id"), col("sh_s"), col("cs"),
          explode(array_distinct(transform(col("cs"),
            c => pmod(hash(c), lit(P))))).as("cpart"))
        .select(col("s_id"), col("sh_s"), col("cpart"),
          filter(col("cs"), c => pmod(hash(c), lit(P)) === col("cpart"))
            .as("cs_part"))
      val sExp = sParts.repartition(P, col("cpart"))
        .select(col("cpart"), col("s_id"), col("sh_s"),
          explode(col("cs_part")).as("c_id"))
      val shC = corpus.repartition(par, col("doc_id"))
        .select(col("doc_id").as("c_id"), shingles(col("text")).as("sh_c"))
        .filter(size(col("sh_c")) > 0)
        .join(cands.select(col("c_id")), Seq("c_id"), "leftsemi")
      val shCp = shC
        .withColumn("cpart", pmod(hash(col("c_id")), lit(P)))
        .repartition(P, col("cpart"))
      val dupOf = sExp.join(shCp, Seq("cpart", "c_id"))
        .select(col("s_id"), col("c_id"),
          jaccard(col("sh_s"), col("sh_c")).as("j"))
        .filter(col("j") >= 0.7)
        .groupBy(col("s_id"))
        .agg(min(col("c_id")).as("dup_partner"),
          count(lit(1)).as("n_corpus_matches"))
      sigS.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
        .join(dupOf.withColumnRenamed("s_id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"), col("dup_partner"),
          coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
          col("dup_partner").isNotNull.as("dup_of_corpus"))
        .orderBy(col("doc_id"))
    }),

    // per-doc MinHash signature summary + LSH candidate/duplicate verdict
    "dedup_minhash_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // NOT checkpointed (r15, measured at the 100× shard): sig/shH
      // checkpoints looked neutral-to-positive at sf0.1 but regressed
      // the shard's plan-determined shuffle 465→687/762 MB — the
      // checkpoint's RDD scan drops the repartition exchange's
      // partitioning metadata, so the verify joins re-shuffle the
      // shingle arrays the exchange-reuse shape ships once. Full revert
      // reproduces the committed 465.2 MB / 71 MB peak exactly.
      val sig = signatures(docs)
      val cands = minhashCandidates(sig)
      // verification sides are a DEDICATED narrow frame derived straight
      // from the scan — reusing `sig` here would re-execute its
      // (unneeded for verification) 64-slot minhash pass once per side
      val shH = docs
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), shingles(col("text")).as("shv"))
        .filter(size(col("shv")) > 0)
      val shA = shH.select(col("doc_id").as("doc_a"), col("shv").as("sh_a"))
      val shB = shH.select(col("doc_id").as("doc_b"), col("shv").as("sh_b"))
      val verified = cands
        .join(shA, "doc_a").join(shB, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          jaccard(col("sh_a"), col("sh_b")).as("j"))
        .filter(col("j") >= 0.7)
      // verdict per document: min partner id marks the cluster
      val dupOf = verified.select(col("doc_b").as("doc_id"), col("doc_a").as("partner"))
        .union(verified.select(col("doc_a").as("doc_id"), col("doc_b").as("partner")))
        .groupBy(col("doc_id")).agg(min(col("partner")).as("dup_partner"))
      sig.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
          lower(lpad(hex(element_at(col("sig"), 1)), 16, "0")).as("minhash_0"))
        .join(dupOf, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"), col("minhash_0"),
          coalesce(col("dup_partner") < col("doc_id"), lit(false)).as("is_near_dup"))
        .orderBy(col("doc_id"))
    }),

    // MinHash estimator calibration — the measurement that justifies
    // trusting the signature at all: over every LSH candidate pair,
    // compare the ESTIMATED Jaccard (fraction of agreeing signature
    // slots — an unbiased estimator, E[agree/64] = J) against the EXACT
    // shingle-set Jaccard, bucketed by estimate decile. A healthy
    // estimator shows mean_j tracking mean_est per bucket; drift means
    // the hash family or slot count needs revisiting before the sweep's
    // thresholds mean anything. Scale shape: one candidate generation
    // (the probed banding), signature+shingle frames checkpointed once
    // and joined per side (the ann_ivf shared-scan precedent — sig has
    // 3 consumers here), 10-row output. Exactness: slot agreement is
    // integer; exact j lands on the 1e-6 grid via ratioRoundInt (pure
    // BIGINT — no float anywhere near a bucket boundary); the report
    // doubles divide exact integers.
    "dedup_minhash_calibration" -> ((s, dir) => {
      val sig = signatures(t(s, dir, "documents")).materialize(true)
      val cands = minhashCandidates(sig)
      val sa = sig.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"), col("sh").as("sh_a"))
      val sb = sig.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"), col("sh").as("sh_b"))
      // MEASURED r12 (verdict task 7 prescription tried and reverted):
      // a blocked-attach variant (the dedup_incremental_minhash shape —
      // pair lists grouped per doc_a, (sig_a, sh_a) attached once per
      // doc, exploded per doc_b block, block-aligned join) was built and
      // probed against this form on the same shards:
      //   10×: shuffle 34.6 → 301.3 MB (9×), peak task 303 → 135 MB
      //   100×: shuffle 1289.2 → 1107.0 MB (−14%), peak 103 → 233 MB
      // The 10× blow-up is the tell (plan-verified on the shards): the
      // PAIR LIST is 16-byte rows, so Catalyst broadcasts IT into the
      // checkpointed sig scans — at 10× BOTH pair joins are
      // BroadcastHashJoin and no heavy payload rides any exchange (the
      // 34.6 MB is just the banding); at 100× the first join still
      // broadcasts and only the second is a SortMergeJoin. The
      // variant's explicit block repartitions destroy the broadcast
      // option everywhere while buying only 14% on the one exchange
      // that remains, at 2.3× the peak task memory (the block explode
      // holds payload copies in the build). The plain pair-join form
      // stands on measurement; at true 100 TB the levers are the bucket
      // cap (bounding pairs) and the broadcast-able pair list, not
      // re-plumbing the verify exchange.
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
      cands.join(sa, "doc_a").join(sb, "doc_b")
        .select(
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            x => x)).cast("long").as("n_agree"),
          inter.as("inter"),
          (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - inter)
            .as("uni"))
        .select(col("n_agree"),
          TextAnalysis.ratioRoundInt(col("inter"), col("uni"), 6).as("j6"))
        .groupBy(least(lit(9L), expr("(n_agree * 10) div 64"))
          .cast("long").as("est_decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("n_agree")).as("sum_agree"), sum(col("j6")).as("sum_j6"),
          round(min(col("j6")).cast("double") / lit(1000000.0), 6).as("min_j"),
          round(max(col("j6")).cast("double") / lit(1000000.0), 6).as("max_j"))
        // the two means are exact integer ratios — round them on the
        // pure-BIGINT identity, NOT with round(): a bucket whose ratio
        // terminates exactly at the grid boundary (e.g. 249/(2·10⁶))
        // flips between Spark's decimal HALF_UP and DuckDB's
        // binary-double round (the ratioRound scaladoc hazard)
        .select(col("est_decile"), col("n_pairs"),
          TextAnalysis.ratioRound(col("sum_agree"), col("n_pairs") * 64L, 6)
            .as("mean_est"),
          (TextAnalysis.ratioRoundInt(col("sum_j6"), col("n_pairs"), 0)
            .cast("double") / lit(1000000.0)).as("mean_j"),
          col("min_j"), col("max_j"))
        .orderBy(col("est_decile"))
    }),

    // Jaccard-threshold sensitivity sweep — the tuning report for the
    // near-dup pass: how many pairs qualify and how many documents
    // would be removed at each τ of the sweep, from ONE candidate
    // generation + ONE exact verification (the sweep re-thresholds the
    // already-computed j, it never re-pairs). The j comparisons are
    // divisions of small exact integers — bit-identical doubles in
    // both engines (the ≥ 0.7 filter in dedup_minhash_lsh is the
    // hash-validated precedent). Removal counts doc_b per pair
    // (candidates are oriented doc_a < doc_b), the keep-first rule.
    "dedup_threshold_sweep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sig = signatures(docs)
      val cands = minhashCandidates(sig)
      val shH = docs
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), shingles(col("text")).as("shv"))
        .filter(size(col("shv")) > 0)
      val pairs = cands
        .join(shH.select(col("doc_id").as("doc_a"), col("shv").as("sh_a")), "doc_a")
        .join(shH.select(col("doc_id").as("doc_b"), col("shv").as("sh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          jaccard(col("sh_a"), col("sh_b")).as("j"))
      // 0.7 is the production default; the 0.96/0.975/0.985 band is
      // where THIS corpus's replica-style near-dups actually separate
      // (a sweep that can't move the counts tunes nothing)
      val taus = Seq("0.70" -> 0.7, "0.96" -> 0.96,
        "0.975" -> 0.975, "0.985" -> 0.985)
      pairs
        .select(col("doc_a"), col("doc_b"), explode(array(taus.map {
          case (name, tv) =>
            struct(lit(name).as("tau"), (col("j") >= lit(tv)).as("hit"))
        }: _*)).as("x"))
        .filter(col("x.hit"))
        .groupBy(col("x.tau").as("tau"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_b")).as("n_docs_removed"))
        .orderBy(col("tau"))
    }),

    // 64-bit SimHash fingerprints + Hamming-band near-dup flag
    "dedup_simhash" -> ((s, dir) => {
      // fp has THREE consumers (both band sides + the final report
      // join) — checkpoint the narrow (id, fp) frame so the simhash
      // text pass runs once, not three times
      val fp = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), simhash(col("text")).as("fp"))
        .materialize(false)
      // 4 bands of 16 bits: Hamming distance ≤3 guarantees a shared band
      val banded = fp.select(col("doc_id"), col("fp"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("fp"), b * 16)
            .bitwiseAND(lit(0xFFFFL)))).as(Seq("band", "bkey")))
      val a = banded.select(col("band"), col("bkey"),
        col("doc_id").as("doc_a"), col("fp").as("fp_a"))
      val b = banded.select(col("band"), col("bkey"),
        col("doc_id").as("doc_b"), col("fp").as("fp_b"))
      val near = a.join(b, Seq("band", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
        .filter(col("hamming") <= 3)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("is_near_dup", lit(true))
      // fp rendered as fixed-width hex: DuckDB's mirror is an UBIGINT
      // while Spark's is a signed long — the hex string is the common form
      fp.join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          lower(lpad(hex(col("fp")), 16, "0")).as("fp_hex"),
          coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"))
        .orderBy(col("doc_id"))
    }),

    // near-dup clusters via label propagation (the distributed
    // connected-components algorithm): every doc starts as its own
    // cluster; each round, labels flow across candidate edges and each
    // node keeps the minimum. Converges in O(cluster diameter) rounds —
    // near-dup clusters are shallow, so a fixed small round count is the
    // scalable choice (no driver-side union-find, no collect).
    "dedup_clusters" -> ((s, dir) =>
      clusterLabels(t(s, dir, "documents"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))),

    // canonical-survivor selection — the decision stage downstream of
    // clustering that a production dedup actually ships: within each
    // near-dup cluster keep the BEST document (not the lowest id), where
    // "best" is the stopword-density quality signal on the exact 1e-6
    // integer grid (ratioRoundInt — cross-engine BIGINT, so the argmax
    // can never flip on a float), ties broken by doc_id. Scale shape:
    // the cluster labels come from the same fixpoint label propagation
    // as dedup_clusters (probed there); the survivor argmax is one
    // row_number window over (label) — labels frames carry (doc_id,
    // label, score) longs only, never text, and multi-member clusters
    // are a dup-mass-sized subset of the corpus.
    "dedup_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val score = TextAnalysis.ratioRoundInt(
        TextAnalysis.stopwordHits(col("text"), TextAnalysis.stopEn),
        greatest(TextAnalysis.nTokens(col("text")), lit(1)), 6)
      val labeled = clusterLabels(docs)
        .join(docs.select(col("doc_id"), score.as("score_u6")), "doc_id")
      val multi = labeled
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("label"))))
        .filter(col("cluster_size") >= 2)
      multi
        .withColumn("rn", row_number().over(Window.partitionBy(col("label"))
          .orderBy(col("score_u6").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("label").as("cluster"), col("cluster_size"),
          col("doc_id").as("survivor_id"),
          col("score_u6").as("survivor_score_u6"),
          (col("cluster_size") - 1).as("n_removed"))
        .orderBy(col("cluster"))
    }),

    // exact word-3-gram Jaccard over a deterministic blocked sample.
    // Blocking key is (lang, shingle-count ÷ 16) with OVERLAPPING buckets:
    // language blocks alone leave a quadratic pair space within the
    // dominant language; size bucketing (integer-exact in both engines —
    // no float log) cuts it ~5× more. To avoid the boundary blind spot
    // (15 vs 16 shingles can be Jaccard 15/16 yet land in different
    // buckets) the probe side explodes each doc into szb-1..szb+1 keys,
    // so every pair within one bucket of each other meets — while the
    // join STAYS an equi-join on (lang, key), the shape that scales.
    // Each qualifying unordered pair matches exactly once: the build
    // side keeps a single szb, and doc_a < doc_b kills the mirror
    // orientation. The oracle mirrors with a BETWEEN range predicate
    // (DuckDB needs no blocking at oracle scale) — identical pair set.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      // modulus 2 (not a thinner sample): at the verified sf0.01 scale
      // the %10 sample produced ZERO qualifying pairs, so the integer
      // threshold/union algebra below was only vacuously cross-checked;
      // %2 yields real pairs whose j column the oracle hash-compares
      // the narrow shingle frame feeds BOTH sides of the self-join:
      // without materialization each side re-runs the scan + regex
      // shingling (the dominant cost — measured as a 1.4–6.5s run
      // spread at sf0.1); localCheckpoint computes it once and keeps
      // both join inputs reading the same blocks (persist() would pin
      // the plan in the cross-run CacheManager and turn later bench
      // runs into cache-hit measurements — localCheckpoint is
      // per-invocation, the honest reuse)
      val sample = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("lang"), shingles(col("text")).as("sh"))
        .withColumn("szb", (size(col("sh")).cast("long") / 16).cast("long"))
        .materialize(true)
      val a = sample.select(col("doc_id").as("doc_a"), col("lang"),
        explode(array(col("szb") - 1, col("szb"), col("szb") + 1)).as("szb"),
        col("sh").as("sh_a"))
      val b = sample.select(col("doc_id").as("doc_b"), col("lang"), col("szb"),
        col("sh").as("sh_b"))
      a.join(b, Seq("lang", "szb"))
        .filter(col("doc_a") < col("doc_b"))
        // Jaccard as an exact integer pair (|A∩B|, |A∪B|): the 0.05
        // admission threshold is the pure-integer 20·inter ≥ union, and
        // the output rounds HALF_UP in BIGINT — round() of an
        // integer-ratio double sits exactly half-way whenever the
        // reduced ratio terminates in 5 one place past the scale
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
          (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("ss"))
        .withColumn("uni", col("ss") - col("inter"))
        .filter(col("uni") > 0 && col("inter") * 20 >= col("uni"))
        .select(col("doc_a"), col("doc_b"),
          TextAnalysis.ratioRound(col("inter"), col("uni"), 4).as("j"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // CONTAINMENT near-dup detection — the asymmetric complement of
    // Jaccard: C = |A∩B| / min(|A|,|B|) catches a document EMBEDDED in
    // a larger one (quote inclusion, page-within-crawl), which Jaccard
    // misses because the union is dominated by the big side (and the
    // ngram_jaccard size-bucket blocking never even pairs them).
    // Candidates come from an inverted-index self-join on the shingle
    // hash with DF-CAPPED postings (shingles in >64 docs are dropped
    // from both the index AND the size denominators — the standard
    // common-shingle removal, mirrored exactly by the oracle): per-gram
    // join fanout is ≤ cap², every exchange carries 16-byte
    // (doc_id, hash) rows, and the pair count IS the join's group-by —
    // no array_intersect over pair-replicated shingle lists. The 0.5
    // admission is the pure-integer 2·inter ≥ min(szа,szb); xxhash64
    // collisions merge two grams with the same odds dedup_substring
    // documents (~1e-9 at corpus scale, oracle-detectable at test
    // scale).
    "dedup_containment" -> ((s, dir) => {
      val ex = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(shingles(col("text"))).as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("g"))
      val df = ex.groupBy(col("g")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") <= 64).select(col("g"))
      val kept = ex.join(df, Seq("g")).materialize(true)
      val sz = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val pairs = kept.select(col("doc_id").as("doc_a"), col("g"))
        .join(kept.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sza")), Seq("doc_a"))
        .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("szb")), Seq("doc_b"))
        .withColumn("mn", least(col("sza"), col("szb")))
        .filter(col("inter") * 2 >= col("mn"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("mn"),
          TextAnalysis.ratioRound(col("inter"), col("mn"), 4).as("c"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // exact duplicated-SPAN detection — the "dedup training data"
    // substring pass (suffix-array method in the literature) re-expressed
    // relationally: every overlapping word 10-gram of every document,
    // grouped corpus-wide; a span is duplicated when its gram occurs in
    // ≥2 DISTINCT documents (within-doc repetition is text_repetition's
    // job). Per doc: total spans, duplicated spans, duplicated mass.
    //
    // Scale shape: the corpus-wide exchanges carry (doc_id,
    // xxhash64(gram)) — 16 bytes/row instead of the ~70-byte gram text.
    // This is NOT the md5-long compression the LSH verify path measured
    // as a 2× loss: there the long was derived via Md5+conv per shingle
    // (string hash → hex → bigint) purely to shrink an already-narrow
    // verify join; here xxhash64 is one native codegen'd hash AND the
    // hashed value is the groupBy/join key itself, so the string would
    // otherwise ride two full shuffles. A 64-bit collision merges two
    // grams (false dup); at 10^12 corpus grams that is ~10^-9 of spans —
    // statistically invisible, and the oracle hash-compare would catch
    // one at test scale (P ≈ 10^-11).
    "dedup_substring" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = docs
        .select(col("doc_id"), explode(
          graft.functions.HashExpressions.word_shingles(col("text"), 10, distinct = false))
          .as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("h"))
      // per-gram distinct-doc count: the (doc_id, h) distinct partial-
      // aggregates map-side, so the exchange carries each doc's gram SET.
      //
      // MEASURED r12 (tried and reverted): pre-aggregating to
      // (doc_id, h, cnt) so "both consumers share one gc subtree" is a
      // 1.8× shuffle / 1.9× wall LOSS at 10× (59.4→105.1 MB,
      // 3.2→6.0s). In THIS shape nd is broadcast into the occurrence
      // stream (plan: BroadcastHashJoin over scan→Generate with NO
      // probe-side exchange), so the raw-occurrence join the variant
      // "fixed" never shuffles at all — while the variant added a
      // second set-exchange on the probe side and Catalyst's inferred
      // join-key non-null filter made the two gc subtrees unequal, so
      // ReuseExchange never fired and the gram pass STILL ran twice.
      val nd = g.distinct().groupBy(col("h")).agg(count(lit(1)).as("nd"))
      val per = g.join(nd, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          TextAnalysis.ratioRound(coalesce(col("n_dup_spans"), lit(0L)),
            greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)), 6)
            .as("dup_ratio"))
        .orderBy(col("doc_id"))
    })
  )

  /** Shared DuckDB CTE chain replaying [[signatures]] + [[bandKeys]]:
    * tokens → 3-gram shingles → 64-slot minhash (seeded xor of the
    * md5-long per shingle) → hex signature → 16 banded md5 keys. Used by
    * `dedup_minhash_lsh` and the fuzzy decontamination oracle
    * (`ext/Pipeline.scala`) so the two replays cannot drift. */
  private[ext] val minhashBandedCtes: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> length(x) > 0) AS tk
      |  FROM documents
      |), shng AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(tk) - 2, 0)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM toks
      |), mh AS (
      |  SELECT doc_id, sh,
      |    list_transform(sh, s2 -> ('0x' || substr(md5(s2),1,16))::UBIGINT) AS hv
      |  FROM shng WHERE len(sh) > 0
      |), sig AS (
      |  SELECT doc_id, sh,
      |    list_transform(range(0, 64), j ->
      |      list_min(list_transform(hv, h ->
      |        xor(h, ('0x' || substr(md5(concat('seed_', j)),1,16))::UBIGINT)))) AS sg
      |  FROM mh
      |), hexsig AS (
      |  SELECT doc_id, sh,
      |    list_transform(sg, x -> lower(lpad(hex(x), 16, '0'))) AS hx
      |  FROM sig
      |), banded AS (
      |  SELECT doc_id, t.band,
      |    ('0x' || substr(md5(array_to_string(hx[t.band*4+1 : t.band*4+4], ',')), 1, 15))::BIGINT AS bkey
      |  FROM hexsig, range(0, 16) t(band)
      |)""".stripMargin

  /** The LSH-candidate + recursive-transitive-closure oracle CTE chain
    * through `comp` (node, label) — shared by the dedup_clusters and
    * dedup_canonical oracles so the two mirrors can never drift. */
  private val ccOracleCtes: String =
    """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), shng AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 2, 0)),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM toks
        |), mh AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, s2 -> ('0x' || substr(md5(s2),1,16))::UBIGINT) AS hv
        |  FROM shng WHERE len(sh) > 0
        |), sig AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), j ->
        |      list_min(list_transform(hv, h ->
        |        xor(h, ('0x' || substr(md5(concat('seed_', j)),1,16))::UBIGINT)))) AS sg
        |  FROM mh
        |), hexsig AS (
        |  SELECT doc_id, list_transform(sg, x -> lower(lpad(hex(x), 16, '0'))) AS hx
        |  FROM sig
        |), banded AS (
        |  SELECT doc_id, t.band,
        |    ('0x' || substr(md5(array_to_string(hx[t.band*4+1 : t.band*4+4], ',')), 1, 15))::BIGINT AS bkey
        |  FROM hexsig, range(0, 16) t(band)
        |), okbuckets AS (
        |  SELECT band, bkey FROM banded
        |  GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 64
        |), cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a
        |  JOIN okbuckets ok ON a.band = ok.band AND a.bkey = ok.bkey
        |  JOIN banded b ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
        |), edges AS (
        |  SELECT doc_a, doc_b FROM cands
        |  UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM cands
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS label FROM mh
        |  UNION
        |  SELECT e.doc_a AS node, r.label
        |  FROM edges e JOIN reach r ON r.node = e.doc_b
        |), comp AS (
        |  SELECT node, min(label) AS label FROM reach GROUP BY node
        |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_prefix" ->
      """WITH n AS (
        |  SELECT doc_id, md5(substr(text, 1, 128)) AS ph, md5(text) AS fh,
        |    CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents
        |), g AS (
        |  SELECT ph, count(*) AS n_docs,
        |    count(DISTINCT fh) AS n_variants,
        |    min(doc_id) AS keep_id,
        |    min(n_chars) AS len_min, max(n_chars) AS len_max
        |  FROM n GROUP BY ph HAVING count(*) >= 2
        |)
        |SELECT ph, n_docs, n_variants, keep_id, len_min, len_max,
        |  (n_variants >= 2) AS has_truncation
        |FROM g ORDER BY ph""".stripMargin,

    "dedup_incremental" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |shard AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0)
        |SELECT s.doc_id,
        |  (c.h IS NOT NULL) AS dup_of_corpus,
        |  (c.h IS NULL) AS keep
        |FROM shard s LEFT JOIN corpus c USING (h)
        |ORDER BY s.doc_id""".stripMargin,

    // calibration: same banded chain; slot agreement over the sig CTE's
    // raw sg arrays, exact j on the 1e-6 grid via the integer
    // (n·2·10^p + d) // (2d) rounding identity (ratioRoundInt mirror)
    "dedup_minhash_calibration" -> (minhashBandedCtes +
      """, okbuckets AS (
        |  SELECT band, bkey FROM banded
        |  GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 64
        |), cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a
        |  JOIN okbuckets ok ON a.band = ok.band AND a.bkey = ok.bkey
        |  JOIN banded b ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
        |), pairm AS (
        |  SELECT
        |    CAST(len(list_filter(range(1, 65), i -> sa.sg[i] = sb.sg[i])) AS BIGINT) AS n_agree,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
        |    CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS uni
        |  FROM cands
        |  JOIN sig sa ON sa.doc_id = doc_a
        |  JOIN sig sb ON sb.doc_id = doc_b
        |), graded AS (
        |  SELECT n_agree,
        |    (inter * 2000000 + uni) // (uni * 2) AS j6,
        |    least(9, (n_agree * 10) // 64) AS est_decile
        |  FROM pairm
        |)
        |SELECT CAST(est_decile AS BIGINT) AS est_decile,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST((2 * sum(n_agree) * 1000000 + count(*) * 64)
        |    // (2 * count(*) * 64) AS DOUBLE) / 1000000.0 AS mean_est,
        |  CAST((2 * sum(j6) + count(*)) // (2 * count(*)) AS DOUBLE)
        |    / 1000000.0 AS mean_j,
        |  round(CAST(min(j6) AS DOUBLE) / 1000000.0, 6) AS min_j,
        |  round(CAST(max(j6) AS DOUBLE) / 1000000.0, 6) AS max_j
        |FROM graded GROUP BY est_decile ORDER BY est_decile""".stripMargin),

    // incremental near-dup: the same banded chain BY REFERENCE, split
    // into corpus/shard sides by the dedup_incremental id arithmetic;
    // corpus-side-only bucket cap, cross-side candidates, exact-Jaccard
    // verification, per-shard-doc verdict
    "dedup_incremental_minhash" -> (minhashBandedCtes +
      """, bc AS (
        |  SELECT doc_id AS c_id, band, bkey FROM banded WHERE doc_id % 2 = 0
        |), bs AS (
        |  SELECT doc_id AS s_id, band, bkey FROM banded WHERE doc_id % 3 = 0
        |), okc AS (
        |  SELECT band, bkey FROM bc GROUP BY band, bkey HAVING count(*) <= 64
        |), cands AS (
        |  SELECT DISTINCT s_id, c_id
        |  FROM bs JOIN okc USING (band, bkey) JOIN bc USING (band, bkey)
        |), jp AS (
        |  SELECT s_id, c_id,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS j
        |  FROM cands
        |  JOIN hexsig sa ON sa.doc_id = s_id
        |  JOIN hexsig sb ON sb.doc_id = c_id
        |), dup AS (
        |  SELECT s_id, min(c_id) AS dup_partner,
        |    CAST(count(*) AS BIGINT) AS n_corpus_matches
        |  FROM jp WHERE j >= 0.7 GROUP BY s_id
        |)
        |SELECT h.doc_id, CAST(len(h.sh) AS BIGINT) AS n_shingles,
        |  d.dup_partner,
        |  CAST(coalesce(d.n_corpus_matches, 0) AS BIGINT) AS n_corpus_matches,
        |  (d.dup_partner IS NOT NULL) AS dup_of_corpus
        |FROM hexsig h LEFT JOIN dup d ON d.s_id = h.doc_id
        |WHERE h.doc_id % 3 = 0
        |ORDER BY h.doc_id""".stripMargin),

    // dedup_minhash_lsh: full pipeline mirror — md5-xor signature family,
    // md5 band keys, [2,64] bucket guard, exact-Jaccard verification
    // same banded chain BY REFERENCE; the sweep only re-thresholds j
    "dedup_threshold_sweep" -> (minhashBandedCtes +
      """, okbuckets AS (
        |  SELECT band, bkey FROM banded
        |  GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 64
        |), cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a
        |  JOIN okbuckets ok ON a.band = ok.band AND a.bkey = ok.bkey
        |  JOIN banded b ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
        |), jpairs AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS j
        |  FROM cands
        |  JOIN hexsig sa ON sa.doc_id = doc_a
        |  JOIN hexsig sb ON sb.doc_id = doc_b
        |), taus AS (
        |  SELECT unnest(['0.70', '0.96', '0.975', '0.985']) AS tau,
        |         unnest([0.7, 0.96, 0.975, 0.985]) AS t
        |)
        |SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_removed
        |FROM jpairs CROSS JOIN taus WHERE j >= t
        |GROUP BY tau ORDER BY tau""".stripMargin),

    "dedup_minhash_lsh" -> (minhashBandedCtes +
      """, okbuckets AS (
        |  SELECT band, bkey FROM banded
        |  GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 64
        |), cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a
        |  JOIN okbuckets ok ON a.band = ok.band AND a.bkey = ok.bkey
        |  JOIN banded b ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
        |), verified AS (
        |  SELECT doc_a, doc_b FROM cands
        |  JOIN hexsig sa ON sa.doc_id = doc_a
        |  JOIN hexsig sb ON sb.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.7
        |), dup AS (
        |  SELECT doc_id, min(partner) AS dup_partner FROM (
        |    SELECT doc_b AS doc_id, doc_a AS partner FROM verified
        |    UNION ALL SELECT doc_a AS doc_id, doc_b AS partner FROM verified
        |  ) GROUP BY doc_id
        |)
        |SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_shingles,
        |  s.hx[1] AS minhash_0,
        |  coalesce(d.dup_partner < s.doc_id, false) AS is_near_dup
        |FROM hexsig s LEFT JOIN dup d ON s.doc_id = d.doc_id
        |ORDER BY s.doc_id""".stripMargin),

    // dedup_simhash: exact fingerprint + banded Hamming near-dup mirror —
    // token hash is the first 8 bytes of md5, expressible in both engines
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id,
        |    list_transform(tk, t -> ('0x' || substr(md5(t),1,16))::UBIGINT) AS th
        |  FROM toks
        |), fp AS (
        |  SELECT doc_id, CAST(coalesce(list_sum(list_transform(range(0, 64), j ->
        |    CASE WHEN coalesce(list_sum(list_transform(th, h ->
        |        CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
        |    THEN (CAST(1 AS UBIGINT) << j) ELSE CAST(0 AS UBIGINT) END)), 0) AS UBIGINT) AS f
        |  FROM hs
        |), banded AS (
        |  SELECT doc_id, f, t.band, (f >> (t.band * 16)) & 65535 AS bkey
        |  FROM fp, range(0, 4) t(band)
        |), near AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.f, b.f)) <= 3
        |)
        |SELECT fp.doc_id, lower(lpad(hex(f), 16, '0')) AS fp_hex,
        |  (n.doc_id IS NOT NULL) AS is_near_dup
        |FROM fp LEFT JOIN near n ON fp.doc_id = n.doc_id
        |ORDER BY fp.doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents WHERE doc_id % 2 = 0
        |), sh0 AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 2, 0)),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM toks
        |), sh AS (
        |  SELECT doc_id, lang, sh, len(sh) // 16 AS szb FROM sh0
        |)
        |, iu AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |    CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS uni
        |  FROM sh a JOIN sh b ON a.lang = b.lang
        |    AND b.szb BETWEEN a.szb - 1 AND a.szb + 1 AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |  CAST((2 * inter * 10000 + uni) // (2 * uni) AS DOUBLE) / 10000.0 AS j
        |FROM iu WHERE uni > 0 AND 20 * inter >= uni
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the oracle indexes by the gram STRING where Spark keys on
    // xxhash64(gram) — identical sets unless two grams collide in 64
    // bits (the dedup_substring bound)
    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents WHERE doc_id % 2 = 0
        |), sh0 AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM toks
        |), ex AS (SELECT doc_id, unnest(sh) AS g FROM sh0),
        |df AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 64),
        |kept AS (SELECT doc_id, ex.g FROM ex JOIN df ON ex.g = df.g),
        |sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT p.doc_a, p.doc_b, p.inter,
        |  CAST(least(sa.sz, sb.sz) AS BIGINT) AS mn,
        |  CAST((2 * p.inter * 10000 + least(sa.sz, sb.sz))
        |       // (2 * least(sa.sz, sb.sz)) AS DOUBLE) / 10000.0 AS c
        |FROM pairs p
        |JOIN sz sa ON p.doc_a = sa.doc_id
        |JOIN sz sb ON p.doc_b = sb.doc_id
        |WHERE 2 * p.inter >= least(sa.sz, sb.sz)
        |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    // dedup_clusters: same LSH candidate edges as dedup_minhash_lsh,
    // then TRUE connected components via recursive transitive closure —
    // the fixpoint the Spark label propagation converges to
    "dedup_clusters" -> (ccOracleCtes + """
        |, sizes AS (
        |  SELECT label, count(*) AS cluster_size FROM comp GROUP BY label
        |)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),

    // dedup_canonical: same components, then the survivor argmax on the
    // 1e-6 integer-grid stopword-density score (exact BIGINT `//`
    // half-up — the text_quality-validated grid), ties by doc_id
    "dedup_canonical" -> (ccOracleCtes + """
        |, score AS (
        |  SELECT doc_id,
        |    (2 * CAST(length(regexp_extract_all(lower(text),
        |         '\b(the|a|and|of|to|in|is|on|for|with)\b')) AS BIGINT)
        |       * 1000000
        |     + greatest(CAST(length(regexp_extract_all(text,
        |         '[A-Za-z0-9]+')) AS BIGINT), 1))
        |    // (2 * greatest(CAST(length(regexp_extract_all(text,
        |         '[A-Za-z0-9]+')) AS BIGINT), 1)) AS score_u6
        |  FROM documents
        |), labeled AS (
        |  SELECT c.node AS doc_id, c.label, s.score_u6,
        |    count(*) OVER (PARTITION BY c.label) AS cluster_size
        |  FROM comp c JOIN score s ON s.doc_id = c.node
        |), ranked AS (
        |  SELECT doc_id, label, score_u6, cluster_size,
        |    row_number() OVER (PARTITION BY label
        |        ORDER BY score_u6 DESC, doc_id) AS rn
        |  FROM labeled WHERE cluster_size >= 2
        |)
        |SELECT label AS cluster, CAST(cluster_size AS BIGINT) AS cluster_size,
        |  doc_id AS survivor_id, CAST(score_u6 AS BIGINT) AS survivor_score_u6,
        |  CAST(cluster_size - 1 AS BIGINT) AS n_removed
        |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin),

    // dedup_substring: the oracle groups by the gram STRING (the Spark
    // side groups by xxhash64(gram) — per-doc counts are identical
    // unless two distinct grams collide in 64 bits)
    "dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(tk) - 9, 0)),
        |      i -> array_to_string(tk[i:i+9], ' '))) AS gram
        |  FROM toks
        |), nd AS (
        |  SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1
        |), per AS (
        |  SELECT g.doc_id, count(*) AS n_spans,
        |    sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
        |  FROM g JOIN nd USING (gram) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(per.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST((2 * CAST(coalesce(per.n_dup_spans, 0) AS BIGINT) * 1000000
        |        + greatest(coalesce(per.n_spans, 0), 1))
        |    // (2 * greatest(coalesce(per.n_spans, 0), 1)) AS DOUBLE)
        |    / 1000000.0 AS dup_ratio
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
  )
}
