package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine.{MaterializeOps, table => t}

/** Similarity search over an embedding column (`Array[Float]`, dim 64).
  *
  *  - Brute-force cosine top-k: the baseline. The (small) query set is
  *    broadcast so the corpus side never shuffles — at 100 TB the corpus
  *    streams through map tasks once, each holding only the broadcast
  *    queries and a per-query k-heap (here expressed as window top-k,
  *    which AQE executes after a shuffle only of the tiny
  *    (query × corpus-partition) partial results).
  *  - LSH-bucketed ANN: random-hyperplane signatures computed per-row
  *    (codegen'd, no shuffle); candidates must share the bucket key, so
  *    comparisons drop from O(|Q|·N) to O(|Q|·N/2^bits) per probe. The
  *    hyperplanes are pseudo-random ±1 vectors derived from md5 parities so
  *    they are identical on every executor without any broadcast state
  *    (and bit-reproducible in the DuckDB oracle).
  *
  * Dot products run through the native `dot_f32` expression (one fused
  * JVM loop per row, double accumulation) — no per-element lambda
  * frames, no UDF.
  */
object Similarity {

  import graft.functions.HashExpressions.dot_f32

  /** L2 norm of a float-array column (double accumulation). */
  def l2norm(a: Column): Column = sqrt(dot_f32(a, a))

  /** Cosine similarity of two float-array columns, accumulated in double
    * (native fused dot — see HashExpressions.DotF32). Prefer the
    * norm-hoisted form in joins: compute [[l2norm]] per side BEFORE the
    * join so each row's norm is computed once, not once per pair. */
  def cosine(a: Column, b: Column): Column = {
    val dot = dot_f32(a, b)
    val na = l2norm(a)
    val nb = l2norm(b)
    when(na === 0 || nb === 0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Cosine from a precomputed-norm pair: dot/(na*nb). */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0, lit(0.0)).otherwise(dot_f32(a, b) / (na * nb))

  /** Rebuild a BOUNDED-size frame (O(K) rows by construction — seeds,
    * centroids, codebooks, probe lists; never a corpus) as a
    * driver-local relation: one collect() job, then a LocalRelation
    * whose broadcast costs nothing and holds no executor state. This
    * replaces eager localCheckpoint(true) on these frames: checkpoint
    * blocks were never unpersisted, so repeated invocations (the bench
    * loop) accumulated block-manager garbage — the measured 3–5×
    * run-to-run spread on ann_ivf — and every broadcast reference still
    * re-read the blocks through a job. The collect IS the size
    * contract: callers must pass only frames bounded by an algorithm
    * constant (K cells / codewords / queries), the same bound the
    * K-row-broadcast design already guarantees. */
  private[ext] def toLocal(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Random-hyperplane LSH signature: bit j = sign of
    * <floor(v*1000 + 0.5), h_j> where h_j[i] = ±1 derived from md5
    * parity (half-toward-+∞ tie rule spelled out identically in both
    * engines — their default round() disagrees on .5 ties). Native Catalyst
    * expression (one compiled loop per row — the interpreted HOF version
    * this replaces paid ~bits×dim lambda frames per row), deterministic
    * on every executor, and exactly mirrored by the DuckDB oracle
    * (see HashExpressions.HyperplaneSig). */
  def hyperplaneSig(vec: Column, bits: Int): Column =
    graft.functions.HashExpressions.hyperplane_sig(vec, bits)

  /** DuckDB mirror of [[hyperplaneSig]] for oracle SQL (same md5-parity
    * hyperplanes, same integer quantization — exact in both engines). */
  def hyperplaneSigDuck(vecExpr: String, bits: Int): String =
    s"""list_sum(list_transform(range(0, $bits), j ->
       |    CASE WHEN list_sum(list_transform(range(0, len($vecExpr)), i ->
       |      CAST(floor(CAST($vecExpr[i+1] AS DOUBLE)*1000 + 0.5) AS BIGINT) *
       |      (CASE WHEN substr(md5(concat(j, '_', i)),1,1) IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END)
       |    )) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))""".stripMargin

  /** Shared LSH top-k harness (8-bit signatures, k=5, exact in-bucket
    * rerank): the corpus keeps ONE bucket per vector; only the tiny
    * query side fans out over `probeBuckets(bucket)` — a 1-element array
    * is single-probe `ann_lsh`, the home+Hamming-1 array is
    * `ann_lsh_multiprobe`. One definition so the shared shape (k, bits,
    * rounding, tie-break) cannot drift between the two ops. */
  private def lshTopK(s: SparkSession, dir: String,
      probeBuckets: Column => Column): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        hyperplaneSig(col("embedding"), 8).as("bucket"),
        l2norm(col("embedding")).as("nrm"))
    val q = broadcast(
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("nrm").as("q_nrm"),
          explode(probeBuckets(col("bucket"))).as("bucket")))
    val cands = emb.filter(col("vec_id") >= 10)
      .join(q, Seq("bucket")) // bucket-equality join prunes the corpus
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_vec"), col("embedding"),
          col("q_nrm"), col("nrm")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk").cast("long").as("rk"),
        col("vec_id"), round(col("sim"), 5).as("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Brute-force cosine top-k per query (q = vec_id < qMax, candidates
    * = vec_id ≥ qMax) — shared by `ann_bruteforce` (qMax=10, k=5) and
    * `text_rrf_fusion`'s dense side (qMax=5, k=20). Small single-split
    * input: spread the dot-product work over cores; norms computed once
    * per row on each side, never per pair. */
  /** 1-bit sign code of the 64-dim embedding as ONE BIGINT (bit d =
    * grid component d > 0), shared by `emb_binary_quantize` and
    * `ann_bq_rerank`. Per-row bitwise-OR fold — pure scan-side work. */
  private[ext] val bqCodeExpr: Column = expr(
    """aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, d) ->
      |  CASE WHEN CAST(floor(CAST(element_at(embedding, d) AS DOUBLE)
      |                 * 1000 + 0.5) AS BIGINT) > 0
      |       THEN acc | shiftleft(CAST(1 AS BIGINT), d - 1)
      |       ELSE acc END)""".stripMargin)

  /** DuckDB mirror of [[bqCodeExpr]]: WITH-prefix through `code`
    * (vec_id, code) plus the q/c query-vs-corpus split. */
  private val bqCodeOracleCtes: String =
    """WITH e AS (
      |  SELECT vec_id, embedding, unnest(generate_series(1, 64)) AS d
      |  FROM embeddings
      |), code AS (
      |  SELECT vec_id,
      |    bit_or(CASE WHEN CAST(floor(CAST(embedding[CAST(d AS INTEGER)]
      |        AS DOUBLE) * 1000 + 0.5) AS BIGINT) <= 0
      |      THEN CAST(0 AS BIGINT)
      |      -- DuckDB checks 1<<63 as overflow; bit 64 IS the sign bit
      |      WHEN d = 64 THEN CAST(-9223372036854775808 AS BIGINT)
      |      ELSE (CAST(1 AS BIGINT) << (CAST(d AS INTEGER) - 1))
      |      END) AS code
      |  FROM e GROUP BY 1
      |), q AS (SELECT vec_id AS q_id, code AS qc FROM code WHERE vec_id < 10
      |), c AS (SELECT vec_id, code FROM code WHERE vec_id >= 10
      |)""".stripMargin

  private[ext] def bruteForceTopK(s: SparkSession, dir: String,
      qMax: Int, k: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("nrm", l2norm(col("embedding")))
    val q = broadcast(
      emb.filter(col("vec_id") < qMax)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("nrm").as("q_nrm")))
    val scored = emb.filter(col("vec_id") >= qMax)
      .crossJoin(q)
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_vec"), col("embedding"),
          col("q_nrm"), col("nrm")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"),
        col("vec_id"), round(col("sim"), 5).as("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // brute-force cosine top-k (k=5) for a broadcast query set
    "ann_bruteforce" -> ((s, dir) => bruteForceTopK(s, dir, qMax = 10, k = 5)),

    // range search: ALL corpus vectors within a cosine threshold of any
    // query — the radius-query dual of top-k (top-k bounds the result
    // count, range search bounds the similarity; dedup and retrieval
    // both need the latter when match quality, not quota, is the
    // contract). Broadcast query set, one corpus scan, no window at
    // all: the threshold filter replaces the rank. A corpus-×-corpus
    // range search would instead ride the LSH bucket join
    // (dedup_embedding's shape) — this entry is the bounded-query-set
    // exact form.
    "ann_range_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .withColumn("nrm", l2norm(col("embedding")))
      val q = broadcast(
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("nrm").as("q_nrm")))
      emb.filter(col("vec_id") >= 10)
        .crossJoin(q)
        .select(col("q_id"), col("vec_id"),
          cosineWithNorms(col("q_vec"), col("embedding"),
            col("q_nrm"), col("nrm")).as("sim"))
        .filter(col("sim") >= 0.3)
        .select(col("q_id"), col("vec_id"), round(col("sim"), 5).as("sim"))
        .orderBy(col("q_id"), col("vec_id"))
    }),

    // LSH-bucketed ANN: 8-bit hyperplane signature, exact rerank in-bucket
    "ann_lsh" -> ((s, dir) => lshTopK(s, dir, b => array(b))),

    // recall@5 evaluation of the bucketed ANN variants against the
    // brute-force ground truth — the accept/reject number an ANN
    // deployment is tuned on (the multi-probe row quantifies exactly
    // what the 9-bucket probe buys over single-bucket). All three
    // rankers run their existing oracle-validated shapes; the eval
    // itself joins (queries × 5)-row frames. Recall rides the 1e-6
    // integer grid — no float division near the hash. The absolute
    // numbers are regime-dependent: at 500 vectors an 8-bit signature
    // leaves ~2 vectors per bucket, so single-bucket recall@5 is near
    // zero BY CONSTRUCTION and the row quantifies precisely what the
    // 9-bucket multiprobe buys back; as the corpus grows, buckets fill
    // and both curves rise (the tuning decision this eval feeds).
    "ann_recall_eval" -> ((s, dir) => {
      // truth joins against BOTH eval variants; measured (r15 paired
      // A/B, 3 rounds): checkpointing it is a 1.25× LOSS — the two
      // truth subtrees run as parallel stages of the one job and the
      // RDD cut costs more than the duplicated 50-row-output pass
      val truth = bruteForceTopK(s, dir, qMax = 10, k = 5)
        .select(col("q_id"), col("vec_id"))
      def row(name: String, variant: DataFrame) =
        truth.join(variant.select(col("q_id"), col("vec_id"))
            .withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(lit(name).as("variant"), col("n_truth"), col("n_hit"),
            TextAnalysis.ratioRound(col("n_hit"),
              greatest(col("n_truth"), lit(1L)), 6).as("recall"))
      row("lsh", lshTopK(s, dir, b => array(b)))
        .unionAll(row("lsh_multiprobe", lshTopK(s, dir, b =>
          array(b +: (0 until 8).map(j => b.bitwiseXOR(lit(1L << j))): _*))))
        .orderBy(col("variant"))
    }),

    // multi-probe LSH: probe the query's home bucket PLUS every
    // single-bit-flip neighbor (9 buckets at 8 bits) — the standard
    // recall/latency knob: near-misses land in Hamming-adjacent buckets,
    // so probing them recovers most of what single-bucket LSH drops for
    // ~9× the (still corpus-fraction-sized) candidate set. Each
    // (query, candidate) pair matches at most once — the 9 probe buckets
    // are distinct by construction — and the bucket math is integer XOR,
    // no float anywhere near the oracle.
    "ann_lsh_multiprobe" -> ((s, dir) => lshTopK(s, dir, b =>
      array(b +: (0 until 8).map(j => b.bitwiseXOR(lit(1L << j))): _*))),

    // embedding near-dup detection: all pairs above a cosine threshold,
    // LSH-bucketed so the pair space never materializes at corpus scale
    "dedup_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"),
          hyperplaneSig(col("embedding"), 4).as("bucket"),
          l2norm(col("embedding")).as("nrm"))
      val a = emb.select(col("bucket"), col("vec_id").as("id_a"),
        col("embedding").as("v_a"), col("nrm").as("n_a"))
      val b = emb.select(col("bucket"), col("vec_id").as("id_b"),
        col("embedding").as("v_b"), col("nrm").as("n_b"))
      val pairs = a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          cosineWithNorms(col("v_a"), col("v_b"), col("n_a"), col("n_b")).as("sim"))
        .filter(col("sim") >= 0.45)
      val flagged = pairs.select(col("id_b").as("vec_id")).distinct()
        .withColumn("near_dup", lit(true))
      t(s, dir, "embeddings").select(col("vec_id"), col("label"))
        .join(flagged, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("near_dup"), lit(false)).as("near_dup"))
        .orderBy(col("vec_id"))
    }),

    // IVF (inverted-file) ANN — the other scale path: partition the
    // corpus into C coarse cells (nearest of C deterministic centroids),
    // then probe only the P cells closest to each query. At 100 TB the
    // cell assignment is a one-time map pass and each query touches
    // ~P/C of the corpus; cells are the partitioning key so a probe is
    // partition-pruned, not a full scan — MEASURED, not asserted:
    // the r16 scale probe wrote the 100× shard partitionBy("cell") and
    // a 6-of-16-cell probe scan showed PartitionFilters at the source
    // and read 192 of 513 files (PROBE_LOCAL_100x.json "ivf_pruning").
    "ann_ivf" -> ((s, dir) => {
      // recall on UNclustered (uniform random) data is ~nProbe/nCells by
      // construction; real embedding corpora cluster, which is what IVF
      // exploits. 6/16 keeps the demo honest at testdata scale.
      val nCells = 16
      val nProbe = 6
      // localCheckpoint (not toLocal — this frame is CORPUS-sized, and
      // not persist() — the dedup_ngram_jaccard rationale): `emb` feeds
      // the seed pick, the Lloyd assignment cross-join, the corpus side
      // and the query side, so without materialization the scan+
      // repartition+norm chain re-executes 4× per invocation — the r8
      // driver-window divergence (8.7s driver vs 1.7s quiet was the
      // repeated-scan cost under co-tenant contention, not compute).
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .withColumn("nrm", l2norm(col("embedding")))
        .materialize(true)
      // coarse centroids: deterministic seed (first C vectors) refined by
      // one Lloyd iteration — assign every vector to its nearest seed,
      // then average each cell (posexplode → (cell, dim) partial means →
      // rebuild). One extra map+shuffle pass; at corpus scale this is the
      // classic scalable k-means step (never collects vectors).
      //
      // The tiny frames (seeds / centroids / probes — O(nCells) and
      // O(queries×nProbe) rows) are collected to driver-local relations
      // before broadcast (see toLocal): broadcast() re-executes its
      // subplan at every reference, and these sit on top of the full
      // scan→repartition→norm(→Lloyd) chain.
      val seeds = broadcast(toLocal(s,
        emb.filter(col("vec_id") < nCells)
          .select(col("vec_id").as("cell"), col("embedding").as("c_vec"),
            col("nrm").as("c_nrm"))))
      // nearest seed per vector via groupBy + max_by: map-side partial
      // aggregation, where the row_number window this replaces built one
      // window partition (sort + state) per corpus row
      val assigned0 = emb.crossJoin(seeds)
        .withColumn("__ssim", cosineWithNorms(col("embedding"), col("c_vec"),
          col("nrm"), col("c_nrm")))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cell"), col("embedding")),
          struct(col("__ssim"), negate(col("cell")))).as("best"))
        .select(col("best.cell").as("cell"), col("vec_id"),
          col("best.embedding").as("embedding"))
      val refined = assigned0
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        // centroid mean over integer-quantized components
        // (floor(v*1000+0.5), the hyperplane_sig tie rule): the BIGINT sum
        // is associative — immune to partition/accumulation order — and
        // one double division follows, so the refined centroids are
        // bit-identical in DuckDB and the whole IVF pipeline is
        // hash-comparable. 1/1000 granularity moves centroids ~1e-4,
        // irrelevant to cell shapes (recall spec unchanged).
        .withColumn("q",
          floor(col("v").cast("double") * lit(1000) + lit(0.5)))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("q")).cast("double") / count(lit(1)) / lit(1000.0)).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"),
          transform(col("dm"), x => x.getField("m").cast("float")).as("c_vec"))
        .withColumn("c_nrm", l2norm(col("c_vec")))
      val centroids = broadcast(toLocal(s, refined))
      // top-`keep` cells per row: aggregate the (nCells-long) scored list
      // per row and slice — no per-row window partitions; every column of
      // `df` is constant per __id so first() is exact
      def nearestCells(df: DataFrame, vecCol: String, nrmCol: String, keep: Int) = {
        val keepCols = df.columns.filter(_ != "__id").toSeq
        val scored = df.crossJoin(centroids)
          .withColumn("__csim", cosineWithNorms(col(vecCol), col("c_vec"),
            col(nrmCol), col("c_nrm")))
        val aggs = keepCols.map(c => first(col(c)).as(c)) :+
          slice(array_sort(collect_list(struct(negate(col("__csim")).as("ns"),
            col("cell")))), 1, keep).as("__top")
        scored.groupBy(col("__id"))
          .agg(aggs.head, aggs.tail: _*)
          .select((col("__id") +: keepCols.map(col)) :+
            explode(col("__top.cell")).as("cell"): _*)
      }
      val corpus = emb.filter(col("vec_id") >= 10)
        .withColumn("__id", col("vec_id"))
      val assigned = nearestCells(corpus, "embedding", "nrm", 1) // 1 cell per vector
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("nrm").as("q_nrm"))
        .withColumn("__id", col("q_id"))
      val probes = broadcast(toLocal(s,
        nearestCells(queries, "q_vec", "q_nrm", nProbe)
          .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"))))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      assigned.join(probes, Seq("cell")) // probe only matching cells
        .select(col("q_id"), col("vec_id"),
          cosineWithNorms(col("q_vec"), col("embedding"),
            col("q_nrm"), col("nrm")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk").cast("long").as("rk"),
          col("vec_id"), round(col("sim"), 5).as("sim"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // Product quantization ANN — the MEMORY scale path (LSH prunes
    // comparisons, IVF prunes partitions, PQ shrinks the resident
    // corpus): each 64-dim vector is encoded as M=4 sub-space codeword
    // ids (16 codewords each → 4 bits... stored as ints here; 2 bytes
    // real), a 64× cut vs float32. Queries never touch the vectors —
    // scoring is ADC (asymmetric distance): the query precomputes its
    // squared-L2 distance to every codeword (M×16 values, broadcast) and
    // a candidate's distance is the SUM of 4 table lookups. On the
    // testdata's L2-normalized embeddings, L2² = 2−2·cos, so the ADC
    // ranking approximates the cosine ranking the other ANN queries use.
    //
    // Oracle exactness: the ENTIRE distance pipeline is integer
    // arithmetic on the 1e-3 grid — subvector components quantize to
    // floor(v·1000+½) at the scan, Lloyd means re-quantize to the same
    // grid, so every squared distance is an exact integer in 1e-6 units
    // (integer-valued doubles through dot_f32: products ≤ ~1e6 ≪ 2^53,
    // no rounding anywhere, no float-summation-order hazard — a
    // floor(d²·10⁶)-of-double variant lost an ulp to DuckDB on exactly
    // one boundary value at sf0.01). Argmin ties break by codeword id;
    // the 4-term ADC sum is a BIGINT sum.
    "ann_pq" -> ((s, dir) => {
      val sub = pqSub(s, dir)
      // ONE collect of the first-16 subvector rows serves both the
      // codebook seeds (vec_id < 16) and the query ADC tables
      // (vec_id < 10) — the seeds toLocal and queryAdc toLocal used to
      // be two separate sequential driver job rounds (r16; the
      // emb_mmr_rerank K-row-local precedent). Same integer-grid
      // arithmetic, driver-side: d2hLocal replays dot_f32's
      // left-to-right double accumulation over exact grid integers.
      val subHead = pqHead16(sub)
      val cbB = pqCodebooks(s, sub, pqSeedsFrom(s, subHead))
      pqRankAdc(
        pqCodes(sub, cbB).join(pqQueryAdcLocal(s, subHead, cbB),
          col("m") === col("qm") && col("code") === col("cw")))
    }),

    // IVF-PQ — the production ANN composition: the coarse quantizer
    // prunes WHICH vectors are scored (the shared integer-grid k-means,
    // so the cell structure is byte-identical to emb_kmeans /
    // dedup_semantic and the oracle reuses kmeansCtes by reference),
    // and PQ codes shrink WHAT is scored (ADC over 4 codeword ids —
    // queries never touch raw corpus vectors). Scale shape: probe
    // selection is a 10×K driver-local frame; the candidate set is the
    // probed cells' membership joined map-side against the broadcast
    // probe list; ADC scoring then touches only candidates × 4 subspace
    // rows. Everything stays on the exact 1e-6 integer grid end to end,
    // so the full composed pipeline hash-compares against DuckDB.
    "ann_ivf_pq" -> ((s, dir) => {
      val nProbe = 3
      val (assigned, cents, qv, head16) = kmeansGridFull(s, dir)
      // query-side probe list and PQ subvectors both derive from the
      // clustering's ALREADY-CHECKPOINTED quantized corpus frame `qv`
      // instead of re-scanning + re-quantizing the parquet (r15: two
      // corpus scan jobs saved). Exactness: qv's s IS the 1e-3 grid
      // quantization, its ss the same dot_f32; slicing a quantized
      // vector equals quantizing the slice (elementwise grid map), so
      // every downstream integer distance is bit-identical to the
      // pqSub-from-scan formulation (oracle re-verified).
      //
      // r16 job-round collapse: probe selection, codebook seeds and the
      // query ADC tables are all derived from frames ALREADY local —
      // `head16` (the clustering's one collected head) and `cents` /
      // `cbB` (LocalRelations) — so the three toLocal job rounds the
      // r15 shape still paid (probes, codebook seeds, query ADC) are
      // now driver arithmetic. d2hLocal replays dot_f32's left-to-right
      // double accumulation; every operand is an exact 1e-3-grid
      // integer, so each distance (and the rank order, ties on the
      // lower id) is bit-identical to the distributed expression.
      val headL = head16.map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      val centsL = cents.collect() // LocalRelation — driver-only, no job
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      import s.implicits._
      val probes = broadcast(headL.filter(_._1 < 10).toSeq
        .flatMap { case (qid, qs, qss) =>
          centsL.map { case (k, c, cc) => (k, d2hLocal(qss, qs, c, cc)) }
            .sortBy { case (k, d) => (d, k) }.take(nProbe)
            .map { case (k, _) => (qid, k) }
        }.toDF("q_id", "k"))
      val cand = assigned.filter(col("vec_id") >= 10)
        .select(col("vec_id"), col("k"))
        .join(probes, Seq("k"))
        .select(col("q_id"), col("vec_id"))
      val subDim = 16
      val sub = qv
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(3))).as("m"), col("s"))
        .select(col("vec_id"), col("m"),
          slice(col("s"), col("m") * subDim + 1, lit(subDim)).as("s"))
        .withColumn("ss", dot_f32(col("s"), col("s")))
      // local subvector head: slice-of-quantized = quantize-of-slice,
      // so these rows equal sub.filter(vec_id < 16).collect() exactly
      val subHead = headL.filter(_._1 < 16).flatMap { case (id, arr, _) =>
        (0 until 4).map { m =>
          val sl = java.util.Arrays.copyOfRange(arr, m * subDim, (m + 1) * subDim)
          (id, m, sl, dotLocal(sl, sl))
        }
      }
      val cbB = pqCodebooks(s, sub, pqSeedsFrom(s, subHead))
      val qd = pqQueryAdcLocal(s, subHead, cbB).withColumnRenamed("q_id", "qq")
      pqRankAdc(
        cand.join(pqCodes(sub, cbB), Seq("vec_id"))
          .join(qd, col("m") === col("qm") && col("code") === col("cw") &&
            col("q_id") === col("qq")))
    }),

    // per-vector norm stats — sanity surface for the embedding column
    // diversity (coreset) sampling: EXACTLY k vectors per embedding-space
    // region — hyperplane-LSH buckets stratify the space, so the sample
    // spans it instead of concentrating where the density is (the
    // practical "diverse subset for training/eval" primitive; random
    // sampling oversamples dense clusters). Deterministic md5 order =
    // retry-safe; the count-derived hash threshold bounds the rank
    // window's input at a 64× oversample per bucket regardless of corpus
    // size (the pipe_stratified_sample scale pattern on a computed,
    // rather than stored, stratum key).
    "emb_diversity_sample" -> ((s, dir) => {
      val k = 20
      val full = 1L << 32
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), hyperplaneSig(col("embedding"), 4).as("bucket"),
          md5(col("vec_id").cast("string")).as("hsh"))
      val counts = e.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("hsh"), col("vec_id"))
      e.join(broadcast(counts), Seq("bucket"))
        .withColumn("h32", conv(substring(col("hsh"), 1, 8), 16, 10).cast("long"))
        .filter(col("h32") < least(lit(full), expr(s"${64L * k * full} div n")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("bucket"), col("rk").cast("long").as("rk"), col("vec_id"))
        .orderBy(col("bucket"), col("rk"))
    }),

    // MMR rerank — maximal marginal relevance, the diversity-aware
    // top-k every retrieval/curation stack layers over a raw
    // similarity ranker (emb_diversity_sample diversifies a SAMPLE by
    // LSH bucket; MMR diversifies a RANKING against a query):
    // greedily pick argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s).
    // Greedy selection is inherently sequential, so the K−1 steps are
    // UNROLLED over K-bounded frames (the emb_pca fixed-iteration
    // precedent): the distributed work is exactly one corpus scan
    // (top-12 candidates by cosine); candidates and their 12×12 sim
    // matrix then come local under the toLocal K-row contract and the
    // five selection steps are tiny chained joins. Scores are doubles
    // from the SAME dot/norm expressions both engines rank with
    // (ann_bruteforce's cross-engine argmax precedent); λ = 0.7.
    "emb_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .withColumn("nrm", l2norm(col("embedding")))
      val q = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"), col("nrm").as("q_nrm")))
      val cand = toLocal(s, emb.filter(col("vec_id") >= 10).crossJoin(q)
        .select(col("vec_id"), col("embedding"), col("nrm"),
          cosineWithNorms(col("q_vec"), col("embedding"),
            col("q_nrm"), col("nrm")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(12))
      val a = cand.select(col("vec_id").as("cid"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      val b = cand.select(col("vec_id").as("sid"),
        col("embedding").as("se"), col("nrm").as("sn"))
      val pairs = toLocal(s, a.crossJoin(b).filter(col("cid") =!= col("sid"))
        .select(col("cid"), col("sid"),
          cosineWithNorms(col("ce"), col("se"), col("cn"), col("sn"))
            .as("psim")))
      // the K−1 greedy steps run on the DRIVER over the two frames
      // already local above (same O(K) contract): the unrolled-frame
      // formulation re-planned and re-ran every prior step per union
      // branch — ~40 scheduled jobs of 12-row joins, pure plan/schedule
      // overhead at any scale. Scores are the SAME doubles: rel/psim
      // come from the Spark-computed frames, the step score is the
      // identical IEEE expression 0.7*rel − 0.3*maxsim (0.3 as a
      // literal, not 1.0−0.7 = 0.30000000000000004 — the oracle parses
      // "0.3"), max over psim is order-immune, ties break on vec_id,
      // and the final round(·,5) is applied by Spark on the result
      // frame exactly as before.
      val candL = cand.select(col("vec_id"), col("rel")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val psim = pairs.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      // NaN cannot reach the orderings here: rel/psim come from
      // cosineWithNorms, whose zero-norm guard returns 0.0 (never 0/0),
      // and the testdata embeddings carry no NaN components — so the
      // Scala minBy tie-break and Spark's orderBy agree on every input
      // either engine can produce (ADVICE r15)
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      if (candL.nonEmpty) {
        val first = candL.minBy { case (id, rel) => (-rel, id) }
        sel += ((1L, first._1, first._2))
      }
      for (i <- 2 to 5 if sel.nonEmpty) {
        val chosen = sel.map(_._2).toSet
        val remaining = candL.filter(c => !chosen.contains(c._1))
          .flatMap { case (id, rel) =>
            // psim.get, not apply (ADVICE r15): a (candidate, selected)
            // pair absent from psim drops the candidate for this step —
            // mirroring the old inner-join formulation, which silently
            // dropped such candidates instead of throwing. Total today
            // by construction (pairs is the full off-diagonal cross
            // product of cand), so behavior is unchanged on every
            // reachable input.
            val sims = sel.flatMap(st => psim.get((id, st._2)))
            if (sims.size == sel.size) Some((id, 0.7 * rel - 0.3 * sims.max))
            else None
          }
        // tiny-SF corpus can run out of candidates before step 5 — the
        // frame formulation just unioned an empty frame; mirror that
        if (remaining.nonEmpty) {
          val next = remaining.minBy { case (id, score) => (-score, id) }
          sel += ((i.toLong, next._1, next._2))
        }
      }
      import s.implicits._
      sel.toSeq.toDF("step", "vec_id", "score")
        .select(col("step"), col("vec_id"), round(col("score"), 5).as("score"))
        .orderBy(col("step"))
    }),

    // farthest-first traversal (Gonzalez k-center) — the DETERMINISTIC
    // stand-in for k-means++ seeding: each step picks the vector
    // maximizing its min cosine-distance to the seeds so far. The
    // K−1 steps are each ONE corpus scan (argmax over the broadcast
    // ≤K-row seed set — the standard K-pass cost every k-means++ run
    // pays at cluster scale); the scan chain is localCheckpoint'd once
    // (the ann_ivf repeated-scan fix) so step k re-reads blocks, not
    // lineage. Seed 1 is vec_id 0 by convention (k-means++'s random
    // first pick made reproducible); its reported distance is 0.
    // Complements emb_kmeans (fixed first-C seeds + one Lloyd pass):
    // this is the INIT-quality half, emb_kmeans the refinement half.
    "emb_farthest_first" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .withColumn("nrm", l2norm(col("embedding")))
        .materialize(false) // lazy: folds into step-2 job (r15 A/B 0.86x)
      var sel = emb.filter(col("vec_id") === 0)
        .select(lit(1L).as("step"), col("vec_id"), lit(0.0).as("dist"),
          col("embedding").as("se"), col("nrm").as("sn"))
      for (i <- 2 to 4) {
        val seeds = broadcast(sel.select(col("vec_id").as("sid"),
          col("se"), col("sn")))
        val next = emb.crossJoin(seeds)
          .filter(col("vec_id") =!= col("sid"))
          .groupBy(col("vec_id"))
          .agg(min(lit(1.0) - cosineWithNorms(col("embedding"), col("se"),
            col("nrm"), col("sn"))).as("dist"),
            first(col("embedding")).as("embedding"),
            first(col("nrm")).as("nrm"))
          .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .orderBy(col("dist").desc, col("vec_id")).limit(1)
          .select(lit(i.toLong).as("step"), col("vec_id"), col("dist"),
            col("embedding").as("se"), col("nrm").as("sn"))
        sel = sel.unionByName(next)
      }
      sel.select(col("step"), col("vec_id"), round(col("dist"), 5).as("dist"))
        .orderBy(col("step"))
    }),

    "emb_norms" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          round(l2norm(col("embedding")), 5).as("l2"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")), 5).as("sum"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("vec_id"))),

    // per-dimension z-score standardization — the feature-normalization
    // pass in front of k-means / PCA / any distance that must not let
    // one high-variance dimension dominate. Shape: posexplode to
    // (vec, dim, v), per-dim μ/σ via one map-side-combinable aggregate
    // (d rows — broadcast back), z = (v−μ)/σ rejoined per element, then
    // per-vector summary. The d-row broadcast join is the whole scale
    // story: the corpus-sized side is touched exactly twice (stats pass
    // + transform pass), both embarrassingly parallel, no window. The
    // z-sum crosses the oracle hash on a 1e-6 integer grid (per-element
    // round before the sum → accumulation order can't move the hash).
    "emb_standardize" -> ((s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v", col("v").cast("double"))
      val stats = ex.groupBy(col("pos"))
        .agg(avg(col("v")).as("mu"), stddev_pop(col("v")).as("sd"))
      ex.join(broadcast(stats), Seq("pos"))
        .withColumn("z", (col("v") - col("mu")) / col("sd"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("dim"),
          sum(round(col("z") * 1e6).cast("long")).as("z_sum_micro"),
          round(min(col("z")), 5).as("z_min"),
          round(max(col("z")), 5).as("z_max"),
          round(max(when(col("pos") === 0, col("z"))), 5).as("z0"))
        .orderBy(col("vec_id"))
    }),

    // distributed covariance of the embedding matrix — the PCA /
    // whitening / decorrelation precursor (the Σ = E[xxᵀ] − μμᵀ every
    // dimensionality-reduction stage needs). The classic distributed
    // linear-algebra shape: each vector contributes its d(d+1)/2
    // upper-triangle cross products through ONE generator, which
    // collapse in the map-side hash aggregate to ≤ d(d+1)/2 keys per
    // partition — the AGGREGATION exchange carries partitions × 2080
    // rows (d=64), never anything corpus-sized; the per-dimension sums
    // are a d-row broadcast. (The one corpus-sized movement below is
    // the up-front repartition that spreads the few-split local input
    // across cores — measured 108 MB at the 100× probe, exactly the
    // quantized vectors; on a real many-split corpus drop it and the
    // scan feeds the generator in place.) Everything rides the same 1e-3 integer grid as the
    // k-means family, so the covariance NUMERATOR n·Σxᵢxⱼ − Σxᵢ·Σxⱼ is
    // exact BIGINT in both engines (cov = num / (n²·10⁶); the double
    // division is left to the consumer — no float ever crosses the
    // oracle hash). Grid-sum magnitude bounds the single-pass variant
    // to ~10⁹ rows per aggregation; past that, shard the pass and sum
    // the per-shard (n, Σx, Σxy) moments — they merge exactly. The
    // PCA step itself (power iteration on the 64×64 result) is
    // driver-side by design — the matrix is KB-sized at any corpus
    // size — and is pinned in ExtensionSpec, not the oracle.
    "emb_covariance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
          .as("qv"))
      // the d-row sums frame is materialized to a driver-local relation
      // (the K-row broadcast pattern): joined TWICE below, leaving it
      // lazy would re-run its whole corpus scan chain once per side
      val sums = toLocal(s, emb
        .select(posexplode(col("qv")).as(Seq("i", "v")))
        .groupBy(col("i")).agg(sum(col("v")).as("sx"))
        .select(col("i").cast("long").as("i"), col("sx")))
      val pairs = emb.select(explode(expr(
        """flatten(transform(qv, (x, i) ->
          |  transform(slice(qv, i + 1, size(qv) - i), (y, j) ->
          |    struct(CAST(i AS BIGINT) AS i, CAST(i + j AS BIGINT) AS j,
          |           x * y AS xy))))""".stripMargin)).as("p"))
        .groupBy(col("p.i").as("i"), col("p.j").as("j"))
        .agg(count(lit(1)).as("n"), sum(col("p.xy")).as("sxy"))
      pairs
        .join(broadcast(sums.select(col("i"), col("sx").as("sx_i"))), "i")
        .join(broadcast(sums.select(col("i").as("j"), col("sx").as("sx_j"))), "j")
        .select(col("i"), col("j"), col("n"),
          (col("n") * col("sxy") - col("sx_i") * col("sx_j")).as("cov_num"))
        .orderBy(col("i"), col("j"))
    }),

    // top principal component of the embedding cloud — the whitening /
    // dimensionality-reduction primitive an embedding pipeline runs
    // before indexing (OPQ rotation, decorrelation, variance auditing).
    // Scale split is the MLlib RowMatrix.computePrincipalComponents
    // shape: the CORPUS-sized work is the one distributed pass that
    // builds the exact-integer covariance numerators (emb_covariance's
    // proven pipeline — d(d+1)/2 upper-triangle cells, map-side
    // combinable); the eigen step then runs on a d×d matrix — an
    // algorithm CONSTANT (4096 cells at d=64), collected under the
    // toLocal K-row contract exactly like centroids and codebooks.
    //
    // The eigen step is 5 power iterations kept EXACT and
    // cross-engine-stable end to end:
    //  - the matrix is pre-scaled by a power of two: s = max(0,
    //    bitlen(max|cov_num|) − 20), Ã = sign·(|cov_num| >> s) — so
    //    every later product stays far inside 2^53 at ANY corpus scale
    //    (|Ã| < 2^20, |x| ≤ 1000 ⇒ |y| ≤ d·2^20·1000 ≈ 6.7e10); the
    //    shift is sign-magnitude (not arithmetic >> on negatives, whose
    //    floor-vs-truncate behavior differs across engines);
    //  - each iterate renormalizes to the 1e-3 grid by its max
    //    magnitude: x′ = floor(y·1000/m + ½) with y, m exact integers
    //    ≤ 6.4e13 — the double ops are identical IEEE in both engines;
    //  - x₀ = all-1000 (grid all-ones), iteration count fixed at 5.
    // Output: the grid-integer component per dimension plus the exact
    // Rayleigh numerators (λ̃ ≈ rayleigh_num / xx_num / 2^shift) — the
    // variance-explained readout. Power iteration is scale-invariant,
    // so the pre-shift changes nothing but the overflow bound.
    "emb_pca" -> ((s, dir) => {
      val (x, shift, rayleigh, xx) = pcaGrid(s, dir)
      import s.implicits._
      x.zipWithIndex
        .map { case (v, i) => (i.toLong, v, shift.toLong, rayleigh, xx) }
        .toSeq
        .toDF("dim", "pc1_q", "shift", "rayleigh_num", "xx_num")
        .orderBy(col("dim"))
    }),

    // PC1 PROJECTION per vector — the APPLY step downstream of emb_pca
    // (1-D reduce for binning / curriculum / drift monitoring): the
    // grid component vector is a driver CONSTANT (d longs), inlined as
    // an array literal so the projection is one map-side zip_with/
    // aggregate per row — no join, no shuffle beyond the output sort.
    // Everything is BIGINT (|qv|·|pc1_q|·d ≤ ~6.4e7), so the dot is
    // exact and the oracle re-derives the identical component vector
    // through the shared CTE chain and joins it per dimension.
    "emb_pca_project" -> ((s, dir) => {
      val (x, _, _, _) = pcaGrid(s, dir)
      val xLit = x.mkString("array(", "L, ", "L)")
      t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("label"),
          expr(
            s"""aggregate(zip_with(
               |  transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)),
               |  $xLit, (a, b) -> a * b), 0L, (acc, v) -> acc + v)""".stripMargin)
            .as("pc1_dot"))
        .orderBy(col("vec_id"))
    }),

    // contrastive-training negative sampling: per query, K deterministic
    // "random" negatives = the first K of an md5-ordered candidate pool
    // whose cosine is UNDER the similarity floor τ (near-duplicates and
    // semantic neighbors must never be labeled negative). The τ-floor —
    // not a rank-band exclusion — is what keeps the shape linear at
    // corpus scale: the M-candidate pool is a hash-range scan
    // (TakeOrdered on md5, NO scoring of the corpus), queries broadcast,
    // and only M×Q pairs are ever scored, where brute-force rank
    // exclusion would pair-score the whole corpus per query. md5 order
    // makes the sample retry-safe (the pipe_split determinism rule). A
    // query with fewer than K sub-τ candidates in the pool yields fewer
    // rows — the caller's cue to widen M, never silently refilled.
    "emb_negative_sample" -> ((s, dir) => {
      val M = 60
      val K = 5
      val tau = 0.1
      val emb = t(s, dir, "embeddings")
        .withColumn("nrm", l2norm(col("embedding")))
      val q = broadcast(emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("nrm").as("q_nrm")))
      val cand = emb.filter(col("vec_id") >= 10)
        .withColumn("h",
          conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
        .orderBy(col("h"), col("vec_id")).limit(M)
      cand.crossJoin(q)
        .select(col("q_id"), col("vec_id"), col("h"),
          cosineWithNorms(col("q_vec"), col("embedding"),
            col("q_nrm"), col("nrm")).as("sim"))
        .filter(col("sim") < tau)
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("h"), col("vec_id"))))
        .filter(col("neg_rank") <= K)
        .select(col("q_id"), col("neg_rank").cast("long").as("neg_rank"),
          col("vec_id"), round(col("sim"), 5).as("sim"))
        .orderBy(col("q_id"), col("neg_rank"))
    }),

    // int8 affine quantization — the memory-4× primitive a 100 TB ANN
    // corpus stores and scans (full-precision floats live only at the
    // final rerank). Per vector: code(x) = floor((x−mn)·255/(mx−mn) + ½)
    // in [0,255], with the min/max cast to double BEFORE the affine map
    // (float→double then identical IEEE ops in DuckDB — the same
    // portability rule HyperplaneSig's floor-tie fix established).
    // Output is the code-space summary (sum + end codes), not the raw
    // array, so the oracle compare stays column-stable. Pure per-row
    // map — no shuffle, scales linearly with executors.
    "emb_quantize" -> ((s, dir) => {
      // raw min/max carry distinct names (mn_raw/mx_raw): aliasing the
      // ROUNDED outputs as "mn"/"mx" in the same select would silently
      // rebind the lambda's col("mn") to the rounded LATERAL COLUMN
      // ALIAS (Spark 4 implicit LCA resolution preferring the select's
      // own alias inside HOF lambdas) — measured: codes near rounding
      // boundaries flip and q_sum drifts by ±1 vs the oracle
      val d = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          array_min(col("embedding")).cast("double").as("mn_raw"),
          array_max(col("embedding")).cast("double").as("mx_raw"))
      def code(x: Column, mn: Column, mx: Column): Column =
        when(mx === mn, lit(0L)).otherwise(
          floor((x.cast("double") - mn) * lit(255.0) / (mx - mn) + lit(0.5)).cast("long"))
      d.select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(col("mn_raw"), 4).as("mn"), round(col("mx_raw"), 4).as("mx"),
          aggregate(col("embedding"), lit(0L),
            (acc, x) => acc + code(x, col("mn_raw"), col("mx_raw"))).as("q_sum"),
          code(element_at(col("embedding"), 1), col("mn_raw"), col("mx_raw")).as("q_first"),
          code(element_at(col("embedding"), -1), col("mn_raw"), col("mx_raw")).as("q_last"))
        .orderBy(col("vec_id"))
    }),

    // 1-bit BINARY quantization + Hamming retrieval — the modern
    // vector-DB cheap-prefilter (64 dims collapse to ONE BIGINT per
    // vector, a 256× shrink over float32): bit d = sign of the 1e-3
    // grid component (the hyperplane_sig tie rule — grid 0 reads
    // negative), packed per row with a bitwise-OR fold; distance =
    // bit_count(xor) — exact integer, no float anywhere past the scan.
    // Top-5 per broadcast query by (hamming asc, vec_id): the candidate
    // stage a float rerank then refines (emb_matryoshka_eval measures
    // the analogous truncation loss; the spec here pins BQ recall
    // against brute-force truth). Scale shape: the corpus rides as
    // 8-byte codes — the packing is a per-row expression at the scan,
    // retrieval shuffles only (q, code) pairs.
    "emb_binary_quantize" -> ((s, dir) => {
      val codes = t(s, dir, "embeddings")
        .select(col("vec_id"), bqCodeExpr.as("code"))
      val q = broadcast(codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("code").as("qc")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("hamming"), col("vec_id"))
      codes.filter(col("vec_id") >= 10)
        .crossJoin(q)
        .select(col("q_id"), col("vec_id"),
          expr("CAST(bit_count(code ^ qc) AS BIGINT)").as("hamming"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk").cast("long").as("rk"),
          col("vec_id"), col("hamming"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // the two-stage retrieval every production vector store runs:
    // Hamming-cheap BQ candidates (top-50 of 8-byte codes) → exact
    // float rerank of ONLY those 50 → top-5; recall measured against
    // brute-force truth side by side with BQ-direct, so the artifact
    // shows what the rerank stage BUYS (candidate recall ceiling vs
    // direct-rank recall). Scale shape: stage 1 moves 8-byte codes,
    // stage 2 touches 50 float vectors per query — the corpus is never
    // float-scanned per query.
    "ann_bq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .withColumn("nrm", l2norm(col("embedding")))
        .withColumn("code", bqCodeExpr)
      val q = broadcast(emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("nrm").as("q_nrm"), col("code").as("qc")))
      val hw = Window.partitionBy(col("q_id"))
        .orderBy(col("hamming"), col("vec_id"))
      // cand feeds both report variants and truth joins against each;
      // measured (r15 paired A/B, 3 rounds): checkpointing either is a
      // 1.2× LOSS here — the duplicated subtrees run as parallel
      // stages of the one job, so the RDD cut buys nothing back
      val cand = emb.filter(col("vec_id") >= 10)
        .crossJoin(q)
        .withColumn("hamming", expr("CAST(bit_count(code ^ qc) AS BIGINT)"))
        .withColumn("hrk", row_number().over(hw))
        .filter(col("hrk") <= 50)
      val rw = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      val reranked = cand
        .withColumn("sim", cosineWithNorms(col("q_vec"), col("embedding"),
          col("q_nrm"), col("nrm")))
        .withColumn("rk", row_number().over(rw))
        .filter(col("rk") <= 5)
      val truth = bruteForceTopK(s, dir, qMax = 10, k = 5)
        .select(col("q_id"), col("vec_id"))
      def row(name: String, variant: DataFrame) =
        truth.join(variant.select(col("q_id"), col("vec_id"))
            .withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(lit(name).as("variant"), col("n_truth"), col("n_hit"),
            TextAnalysis.ratioRound(col("n_hit"),
              greatest(col("n_truth"), lit(1L)), 6).as("recall"))
      row("bq50_rerank", reranked)
        .unionAll(row("bq_direct", cand.filter(col("hrk") <= 5)))
        .orderBy(col("variant"))
    }),

    // K-means clustering (Lloyd, K=8, 2 iterations) over the embedding
    // corpus — the curation primitive behind IVF cell maps, semantic
    // sharding, and cluster-balanced sampling (k-means-then-sample is
    // the standard "semantic dedup" recipe at corpus scale). Everything
    // rides the 1e-3 integer grid (the ann_pq exactness pattern):
    // components quantize to floor(v·1000+½) at the scan, centroid means
    // re-quantize to the grid, squared-L2 distances are exact integers in
    // 1e-6 units — products ≤ ~4e6 over 64 dims sum ≪ 2^53, so a full
    // 2-iteration run is bit-identical in DuckDB and the assignment
    // hash-compares. Scale shape: centroids are a K-row broadcast
    // (assignment is a linear map pass per iteration — never a corpus
    // shuffle, never a per-row window); the refine step shuffles only
    // (k, dim) partial sums — map-side combined, O(K·dim) rows on the
    // wire per iteration. Empty clusters drop out identically in both
    // engines (groupBy over assigned rows only).
    "emb_kmeans" -> ((s, dir) =>
      kmeansAssignGrid(s, dir)
        .select(col("vec_id"), col("k").cast("long").as("cluster"),
          // round at the grid's own scale (6) — the ann_pq boundary rule
          round(col("d6") / lit(1000000.0), 6).as("d2"))
        .orderBy(col("vec_id"))),

    // cluster-outlier report: the 5 FARTHEST members of every k-means
    // cluster — the embedding-space QA pass that surfaces mislabeled /
    // corrupted / off-distribution samples before training. Outliers by
    // distance RANK, not z-score: the ranking key is the exact-BIGINT
    // grid distance d6 (ties on vec_id), so no float moment estimate
    // sits near a decision boundary at any corpus size. The window is
    // partitioned by cluster — per-key sort state, and WindowGroupLimit
    // prunes to k rows per partition before the final sort.
    "emb_outliers" -> ((s, dir) => {
      val w = Window.partitionBy(col("k"))
        .orderBy(col("d6").desc, col("vec_id"))
      kmeansAssignGrid(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("k").cast("long").as("cluster"),
          col("rk").cast("long").as("rk"), col("vec_id"),
          round(col("d6") / lit(1000000.0), 6).as("d2"))
        .orderBy(col("cluster"), col("rk"))
    }),

    // clustering-quality eval — label purity per k-means cluster: the
    // majority true label's share of each cluster (the external
    // validation a clustering used for curation/mixing must pass before
    // its cells are trusted as strata). Shares the Lloyd assignment BY
    // REFERENCE with emb_kmeans / dedup_semantic / emb_ivf_balance, so
    // the clustering under eval is the one that ships. Scale shape:
    // one labels join + a groupBy to ≤ K×labels cells; the majority
    // argmax is a window over that CELL frame (K×labels rows), never
    // the corpus; purity on the exact 1e-6 grid.
    "emb_cluster_purity" -> ((s, dir) => {
      val a = kmeansAssignGrid(s, dir).select(col("vec_id"), col("k"))
        .join(t(s, dir, "embeddings").select(col("vec_id"), col("label")),
          "vec_id")
      val cells = a.groupBy(col("k"), col("label")).agg(count(lit(1)).as("n"))
      val tot = cells.groupBy(col("k")).agg(sum(col("n")).as("n_cluster"))
      val w = Window.partitionBy(col("k")).orderBy(col("n").desc, col("label"))
      cells.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(tot, Seq("k"))
        .select(col("k").cast("long").as("cluster"), col("n_cluster"),
          col("label").cast("long").as("majority_label"),
          col("n").as("n_majority"),
          TextAnalysis.ratioRound(col("n"), col("n_cluster"), 6).as("purity"))
        .orderBy(col("cluster"))
    }),

    // Matryoshka truncation eval (Kusupati et al. 2022, arXiv:2205.13147
    // — MRL): recall@5 of brute-force cosine over the PREFIX of each
    // embedding (16 and 32 of 64 dims) against the full-dim truth — the
    // measurement behind the standard cheap-prefilter design (search the
    // truncated index, re-rank survivors full-width). A 64-dim row rides
    // along as the self-consistency control (recall exactly 1.0). Scale
    // shape: the ann_bruteforce plan per variant — broadcast 10-query
    // set, one corpus pass each, per-query WindowGroupLimit top-k;
    // truncation happens AT THE SCAN (slice before norm), so the 16-dim
    // pass moves 4× fewer vector bytes — the point of MRL.
    "emb_matryoshka_eval" -> ((s, dir) => {
      def topK(d: Int): DataFrame = {
        val emb = t(s, dir, "embeddings")
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"), slice(col("embedding"), 1, d).as("v"))
          .withColumn("nrm", l2norm(col("v")))
        val q = broadcast(emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("q_vec"),
            col("nrm").as("q_nrm")))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("vec_id"))
        emb.filter(col("vec_id") >= 10).crossJoin(q)
          .select(col("q_id"), col("vec_id"),
            cosineWithNorms(col("q_vec"), col("v"),
              col("q_nrm"), col("nrm")).as("sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("q_id"), col("vec_id"))
      }
      // the truth frame feeds all three union branches — 50 rows by
      // construction, so a driver-local relation (toLocal contract)
      // keeps the full-dim brute-force subtree from executing 3×
      val truth = toLocal(s, bruteForceTopK(s, dir, qMax = 10, k = 5)
        .select(col("q_id"), col("vec_id")))
      def row(d: Int) =
        truth.join(topK(d).withColumn("hit", lit(1L)),
            Seq("q_id", "vec_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(lit(d.toLong).as("dim"), col("n_truth"), col("n_hit"),
            TextAnalysis.ratioRound(col("n_hit"),
              greatest(col("n_truth"), lit(1L)), 6).as("recall"))
      row(16).unionAll(row(32)).unionAll(row(64)).orderBy(col("dim"))
    }),

    // embedding drift monitor — per-label centroid displacement between
    // two corpus snapshots (baseline = even vec_ids, current = odd):
    // the audit that catches an embedding-model change or upstream
    // distribution shift before retraining on a silently-moved space.
    // All-BIGINT: components quantize to the 1e-3 grid at the scan;
    // each per-(label, dim, snapshot) mean is rounded back onto the
    // grid by the integer identity ((s+nK)·2+n) div (2n) − K with
    // K = 2^20 — the offset keeps the numerator non-negative so
    // truncating and flooring integer division agree cross-engine
    // (ratioRoundInt is only round-half-up for non-negative operands);
    // drift² is then an exact integer in 1e-6 units. Scale shape: one
    // map-side-combined groupBy to labels×dims×2 rows (the exchange
    // carries partial sums, never vectors), checkpointed once,
    // labels-sized output.
    "emb_centroid_drift" -> ((s, dir) => {
      val K = 1L << 20
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("label"), col("dim"),
          (col("vec_id") % 2 === 0).as("base"),
          floor(col("x").cast("double") * lit(1000) + lit(0.5))
            .cast("long").as("xg"))
      // labels×dims×2-row frame with 3 consumers: driver-local relation
      // (bounded by algorithm constants — the toLocal contract)
      val means = toLocal(s, e.groupBy(col("label"), col("dim"), col("base"))
        .agg(sum(col("xg")).as("sx"), count(lit(1)).as("n"))
        .select(col("label"), col("dim"), col("base"),
          (TextAnalysis.ratioRoundInt(
            col("sx") + col("n") * lit(K), col("n"), 0) - lit(K)).as("m"),
          col("n")))
      val a = means.filter(col("base"))
        .select(col("label"), col("dim"), col("m").as("ma"))
      val b = means.filter(!col("base"))
        .select(col("label"), col("dim"), col("m").as("mb"))
      val drift = a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("drift6"))
      val cnts = means.filter(col("dim") === 0)
        .groupBy(col("label"))
        .agg(max(when(col("base"), col("n"))).as("n_base"),
          max(when(!col("base"), col("n"))).as("n_cur"))
      drift.join(cnts, Seq("label"))
        .select(col("label").cast("long").as("label"),
          col("n_base"), col("n_cur"),
          round(col("drift6").cast("double") / lit(1000000.0), 6).as("drift_d2"))
        .orderBy(col("label"))
    }),

    // IVF index health report — the balance/quantization audit run
    // before an IVF index ships: per-cell population, load factor
    // (n·K/total — 1.0 is perfectly balanced; a hot cell defeats the
    // pruning ann_ivf measured at 6/16 partitions), and mean/max
    // quantization error (distance to own centroid — the recall-vs-
    // speed budget). One groupBy over the shared Lloyd assignment:
    // K-row output, map-side combined, no window. Exactness: counts
    // and the d6 sums are BIGINT on the 1e-6 grid (per-cluster sum
    // < 2^63 up to ~10^13 vectors/cell at this dim — past that, shard
    // the sum as emb_covariance documents); the three report doubles
    // divide exact integers, identical IEEE in both engines.
    "emb_ivf_balance" -> ((s, dir) => {
      val cells = kmeansAssignGrid(s, dir)
        .groupBy(col("k").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("d6")).cast("long").as("sum_d6"),
          max(col("d6")).cast("long").as("max_d6"))
      val tot = cells.agg(sum(col("n_vecs")).cast("long").as("n_total"),
        count(lit(1)).as("n_cells"))
      // load_x / mean_d2 are exact integer ratios — pure-BIGINT rounding
      // identity, not round(): a ratio terminating exactly at the grid
      // boundary flips between Spark HALF_UP and DuckDB binary round
      cells.crossJoin(broadcast(tot))
        .select(col("cluster"), col("n_vecs"),
          TextAnalysis.ratioRound(col("n_vecs") * col("n_cells"),
            col("n_total"), 6).as("load_x"),
          (TextAnalysis.ratioRoundInt(col("sum_d6"), col("n_vecs"), 0)
            .cast("double") / lit(1000000.0)).as("mean_d2"),
          round(col("max_d6").cast("double") / lit(1000000.0), 6).as("max_d2"))
        .orderBy(col("cluster"))
    }),

    // SemDeDup-style semantic deduplication (Abbas et al. 2023,
    // arXiv:2303.09540): k-means the embedding corpus, then prune
    // near-identical pairs WITHIN each cluster only — the clustering
    // bounds the otherwise-quadratic pair space to Σ|cluster|², and K
    // is the knob that keeps cluster size (hence per-key work) constant
    // as the corpus grows (the paper runs K=110k on LAION; here K=8 so
    // the full 2-iteration Lloyd stays DuckDB-replayable). The
    // within-cluster pair join is key-partitioned on the cluster id —
    // no global pair materialization, no cross-cluster traffic.
    //
    // Exactness: the shared integer-grid Lloyd chain (kmeansAssignGrid —
    // same code emb_kmeans runs, same CTE chain the oracle replays, so
    // the two replays cannot drift) yields integer component arrays; the
    // cosine threshold cos ≥ 0.45 is tested as
    //   dot > 0  AND  400·dot² ≥ 81·ssa·ssb            (0.45² = 81/400)
    // in pure BIGINT — dot, ssa, ssb are exact grid integers ≤ ~6.4e7
    // for unit-scale 64-dim embeddings, so 400·dot² ≤ 1.6e18 < 2^63:
    // no float compare anywhere near the oracle boundary. (Safe-scale
    // envelope: |component|·1000 ≤ 2.1e4 at dim ≤ 1024 keeps every term
    // under 2^63; past that, promote the two products to DECIMAL.)
    "dedup_semantic" -> ((s, dir) => {
      val assigned = kmeansAssignGrid(s, dir)
        .withColumn("ss", dot_f32(col("s"), col("s")).cast("long"))
        .materialize(true) // 3 self-references below; Lloyd runs once
      val a = assigned.select(col("k"), col("vec_id").as("id_a"),
        col("s").as("s_a"), col("ss").as("ss_a"))
      val b = assigned.select(col("k"), col("vec_id").as("id_b"),
        col("s").as("s_b"), col("ss").as("ss_b"))
      // drop the HIGHER id of every over-threshold pair (deterministic
      // keep-first representative — the paper's random keeper replaced
      // by the lowest id so both engines agree)
      val dup = a.join(b, Seq("k"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dot", dot_f32(col("s_a"), col("s_b")).cast("long"))
        .filter(col("dot") > 0 &&
          lit(400L) * col("dot") * col("dot") >=
            lit(81L) * col("ss_a") * col("ss_b"))
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("sem_dup", lit(true))
      assigned.join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("k").cast("long").as("cluster"),
          coalesce(col("sem_dup"), lit(false)).as("sem_dup"))
        .orderBy(col("vec_id"))
    })
  )

  /** Shared 2-iteration integer-grid Lloyd (K=8, deterministic first-K
   * seeds): the exact chain `emb_kmeans` exposes, factored out so
   * `dedup_semantic` clusters with the SAME code (and the SAME oracle
   * CTE chain — see [[kmeansCtes]]) rather than a drift-prone copy.
   * Returns the final assignment: (vec_id, k, s: grid-int float array,
   * d6: exact squared-L2 to the centroid in 1e-6 units). */
  /** Hoisted-self-dot squared-L2 (the cosineWithNorms precedent): ss is
    * computed once per ROW, cc once per CODEWORD/CENTROID — only the
    * cross term runs per pair, cutting 2/3 of the pairwise dot work
    * (measured 38.8s → the README row at the 100× probe). Exact on the
    * integer grid because dot_f32 accumulates in double. */
  private def pqD2h(ss: Column, a: Column, b: Column, cc: Column): Column =
    ss - lit(2.0) * dot_f32(a, b) + cc

  /** Driver-side replica of [[dot_f32]] (left-to-right double
    * accumulation over the common prefix): every operand on the PQ/IVF
    * path is an exact 1e-3-grid integer, so the result is bit-identical
    * to the distributed expression. */
  private def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Driver-side replica of [[pqD2h]] over collected grid rows. */
  private def d2hLocal(ss: Double, a: Array[Float], b: Array[Float],
      cc: Double): Double = ss - 2.0 * dotLocal(a, b) + cc

  /** The first-16 subvector rows (vec_id, m, s, ss), collected ONCE —
    * one job that serves both the codebook seeds (vec_id < 16) and the
    * query-side ADC tables (vec_id < 10), replacing two sequential
    * driver job rounds (r16). */
  private def pqHead16(sub: DataFrame): Array[(Long, Int, Array[Float], Double)] =
    sub.filter(col("vec_id") < 16).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray, r.getDouble(3)))

  /** Codebook seed relation (m, cw, c, cc) from the collected head —
    * the same rows the old `sub.filter(vec_id < 16)` toLocal produced. */
  private def pqSeedsFrom(s: SparkSession,
      subHead: Array[(Long, Int, Array[Float], Double)]): DataFrame = {
    import s.implicits._
    broadcast(subHead.toSeq
      .map { case (id, m, arr, ss) => (m, id, arr.toSeq, ss) }
      .toDF("m", "cw", "c", "cc"))
  }

  /** ADC tables (q_id, qm, cw, d6) computed on the DRIVER from the
    * collected query subvectors × the (already driver-local) codebooks:
    * 10×4×16 exact integer distances — the old distributed formulation
    * spent a full toLocal job round to produce the same 640 rows. */
  private def pqQueryAdcLocal(s: SparkSession,
      subHead: Array[(Long, Int, Array[Float], Double)],
      cbB: DataFrame): DataFrame = {
    val cbRows = cbB.collect() // LocalRelation — driver-only, no job
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray,
        r.getDouble(3)))
    import s.implicits._
    broadcast(subHead.filter(_._1 < 10).toSeq
      .flatMap { case (qid, m, arr, ss) =>
        cbRows.filter(_._1 == m).map { case (cm, cw, c, cc) =>
          (qid, cm, cw, d2hLocal(ss, arr, c, cc).toLong)
        }
      }.toDF("q_id", "qm", "cw", "d6"))
  }

  /** (vec_id, m, s, ss): the m-th 16-dim subvector of every embedding,
    * grid-quantized — integers ≤ ~10³ are exact in float32, so the PQ
    * chain is hash-comparable end to end. Shared by ann_pq / ann_ivf_pq. */
  private def pqSub(s: SparkSession, dir: String): DataFrame = {
    val M = 4; val subDim = 16
    t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(M - 1))).as("m"), col("embedding"))
      .select(col("vec_id"), col("m"),
        transform(slice(col("embedding"), col("m") * subDim + 1, lit(subDim)),
          x => floor(x.cast("double") * lit(1000) + lit(0.5)).cast("float")).as("s"))
      .withColumn("ss", dot_f32(col("s"), col("s")))
      // corpus×M frame with 3+ consumers per query (codebook seeds +
      // Lloyd assign, corpus codes, query ADC tables): materialize once
      // so the scan/explode/quantize chain never re-executes
      .materialize(true)
  }

  /** Per-subspace codebooks (m, cw, c, cc): first-16 seeds + one Lloyd
    * step — centroid mean per (m, cw, dim) via BIGINT partial sums
    * (associative, order-immune), one double division, re-quantized to
    * the grid. Returned as a broadcast driver-local relation. */
  private def pqCodebooks(s: SparkSession, sub: DataFrame,
      seeds: DataFrame): DataFrame = {
    val a0 = sub.join(seeds, Seq("m"))
      .withColumn("__d", pqD2h(col("ss"), col("s"), col("c"), col("cc")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(struct(col("cw"), col("s")), struct(col("__d"), col("cw"))).as("best"))
      .select(col("m"), col("best.cw").as("cw"), col("best.s").as("s"))
    val cb = a0
      .select(col("m"), col("cw"), posexplode(col("s")).as(Seq("dim", "v")))
      .groupBy(col("m"), col("cw"), col("dim"))
      .agg((sum(col("v").cast("long")).cast("double") / count(lit(1))).as("mu"))
      .groupBy(col("m"), col("cw"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mu")))).as("dm"))
      .select(col("m"), col("cw"),
        transform(col("dm"),
          x => floor(x.getField("mu") + lit(0.5)).cast("float")).as("c"))
      .withColumn("cc", dot_f32(col("c"), col("c")))
    broadcast(toLocal(s, cb))
  }

  /** Corpus codes (vec_id, m, code): nearest codeword per subspace. */
  private def pqCodes(sub: DataFrame, cbB: DataFrame): DataFrame =
    sub.filter(col("vec_id") >= 10)
      .join(cbB, Seq("m"))
      .withColumn("__d", pqD2h(col("ss"), col("s"), col("c"), col("cc")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cw"), struct(col("__d"), col("cw"))).as("code"))

  /** Shared ADC tail: sum the 4 subspace distances per (query, vector),
    * rank, and round at the GRID's own scale (6), never coarser: adc6/1e6
    * is within 1 ulp of a 1e-6 grid point, so round(·,6) recovers the
    * grid exactly in both engines. round(·,5) put ~10% of rows (adc6
    * ending in 5) exactly on the half-way boundary where Spark HALF_UP
    * and DuckDB's binary std::round disagree. */
  private def pqRankAdc(joined: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc6"), col("vec_id"))
    joined
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d6")).as("adc6"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("vec_id"),
        round(col("adc6") / lit(1000000.0), 6).as("adc_dist"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The emb_pca eigen computation, shared with emb_pca_project: the
    * distributed exact-integer covariance numerators collected as the
    * d×d constant (toLocal K-row contract), pre-scaled by
    * 2^max(0, bitlen(max|a|)−20) in sign-magnitude, then 5 exact power
    * iterations with 1e-3-grid max-renormalization (identical IEEE ops
    * to the unrolled SQL oracle). Returns (component, shift,
    * rayleigh_num, xx_num). */
  private def pcaGrid(s: SparkSession, dir: String): (Array[Long], Int, Long, Long) = {
    val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
          .as("qv"))
        // two corpus consumers (sums + upper collects) — materialize
        // once, the round-9 multi-consumer-scan rule
        .materialize(true)
      val sums = toLocal(s, emb
        .select(posexplode(col("qv")).as(Seq("i", "v")))
        .groupBy(col("i")).agg(sum(col("v")).as("sx"))
        .select(col("i").cast("long").as("i"), col("sx")))
      val upper = emb.select(explode(expr(
        """flatten(transform(qv, (x, i) ->
          |  transform(slice(qv, i + 1, size(qv) - i), (y, j) ->
          |    struct(CAST(i AS BIGINT) AS i, CAST(i + j AS BIGINT) AS j,
          |           x * y AS xy))))""".stripMargin)).as("p"))
        .groupBy(col("p.i").as("i"), col("p.j").as("j"))
        .agg(count(lit(1)).as("n"), sum(col("p.xy")).as("sxy"))
        .join(broadcast(sums.select(col("i"), col("sx").as("sx_i"))), "i")
        .join(broadcast(sums.select(col("i").as("j"), col("sx").as("sx_j"))), "j")
        .select(col("i"), col("j"),
          (col("n") * col("sxy") - col("sx_i") * col("sx_j")).as("a"))
      // d×d cells — the K-row contract (an algorithm constant, never
      // corpus-sized); the driver loop below is the same arithmetic the
      // oracle unrolls in SQL, op for op
      val cells = upper.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val d = (cells.map(_._2).max + 1).toInt
      val a = Array.ofDim[Long](d, d)
      cells.foreach { case (i, j, v) => a(i.toInt)(j.toInt) = v; a(j.toInt)(i.toInt) = v }
      val mA = a.flatten.map(math.abs).max
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(mA)
      val shift = math.max(0, bitlen - 20)
      val at = a.map(_.map(v => if (v < 0) -((-v) >> shift) else v >> shift))
      var x = Array.fill(d)(1000L)
      for (_ <- 1 to 5) {
        val y = Array.tabulate(d)(i =>
          (0 until d).map(j => at(i)(j) * x(j)).sum)
        val m = y.map(math.abs).max
        if (m > 0)
          x = y.map(v => math.floor(v.toDouble * 1000.0 / m.toDouble + 0.5).toLong)
      }
      val rayleigh = (0 until d).map(i =>
        (0 until d).map(j => x(i) * at(i)(j) * x(j)).sum).sum
      val xx = x.map(v => v * v).sum
      (x, shift, rayleigh, xx)
  }

  /** Integer-grid k-means (K=8, 2 Lloyd iterations): returns the final
    * assignment frame `(vec_id, k, s, d6)` AND the driver-local centroid
    * frame `(k, c, cc)` — the latter doubles as the IVF coarse quantizer
    * for [[ann_ivf_pq]]'s probe selection. */
  private def kmeansGrid(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    kmeansGridFull(s, dir) match { case (a, c, _, _) => (a, c) }

  /** [[kmeansGrid]] plus the checkpointed quantized-corpus frame
    * `(vec_id, s, ss)` it is built over — ann_ivf_pq derives its probe
    * queries and PQ subvectors from that frame instead of re-scanning
    * and re-quantizing the parquet (r15: two corpus scan jobs saved;
    * slicing a quantized vector equals quantizing the slice, since the
    * grid map is elementwise). */
  private def kmeansGridFull(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Array[org.apache.spark.sql.Row]) = {
    val K = 8
    def d2h(ss: Column, a: Column, b: Column, cc: Column): Column =
      ss - lit(2.0) * dot_f32(a, b) + cc
    val qv = t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000) + lit(0.5)).cast("float")).as("s"))
      .withColumn("ss", dot_f32(col("s"), col("s")))
      // assign() runs 3× (+ the seed pick) over this corpus frame —
      // materialize the quantized scan once per invocation
      .materialize(true)
    // ONE collected head serves every K-bounded derivation (r16): the
    // kmeans seeds (vec_id < K=8) here, and — for ann_ivf_pq — the
    // probe queries (< 10) and PQ codebook seeds (< 16), which used to
    // be three further sequential driver job rounds over the same rows.
    // K-row frames become driver-local relations so each broadcast
    // reference costs nothing and no checkpoint blocks leak.
    val head16 = qv.filter(col("vec_id") < 16).collect()
    val seeds = {
      import s.implicits._
      head16.filter(_.getLong(0) < K).toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
        .toDF("k", "c", "cc")
    }
    // nearest centroid per vector: groupBy + min_by (map-side partial
    // agg; ties break toward the lower cluster id)
    def assign(cent: DataFrame): DataFrame =
      qv.crossJoin(broadcast(cent))
        .withColumn("__d", d2h(col("ss"), col("s"), col("c"), col("cc")))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("k"), col("s"), col("__d")),
          struct(col("__d"), col("k"))).as("best"))
        .select(col("vec_id"), col("best.k").as("k"), col("best.s").as("s"),
          col("best.__d").cast("long").as("d6"))
    // Lloyd update: BIGINT partial sums per (k, dim) — associative,
    // order-immune — one double division, re-quantized to the grid
    def refine(assigned: DataFrame): DataFrame =
      toLocal(s, assigned
        .select(col("k"), posexplode(col("s")).as(Seq("dim", "v")))
        .groupBy(col("k"), col("dim"))
        .agg((sum(col("v").cast("long")).cast("double") / count(lit(1))).as("mu"))
        .groupBy(col("k"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mu")))).as("dm"))
        .select(col("k"),
          transform(col("dm"),
            x => floor(x.getField("mu") + lit(0.5)).cast("float")).as("c"))
        .withColumn("cc", dot_f32(col("c"), col("c"))))
    val cFinal = refine(assign(refine(assign(seeds))))
    (assign(cFinal), cFinal, qv, head16)
  }

  private def kmeansAssignGrid(s: SparkSession, dir: String): DataFrame =
    kmeansGrid(s, dir)._1

  /** Shared CTE prefix of the emb_pca / emb_pca_project oracles —
    * covariance chain + pre-scale + x0 (see the emb_pca comment for
    * the MATERIALIZED and generate_series rationale). */
  private val pcaOracleBase: String =
    """WITH q AS MATERIALIZED (
          |  SELECT vec_id,
          |    list_transform(embedding,
          |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
          |  FROM embeddings
          |), e AS MATERIALIZED (
          |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
          |    qv[CAST(i AS INTEGER)] AS v
          |  FROM q, unnest(generate_series(1, len(qv))) AS t(i)
          |), sums AS (
          |  SELECT i, CAST(sum(v) AS BIGINT) AS sx FROM e GROUP BY 1
          |), agg AS (
          |  SELECT a.i AS i, b.i AS j, count(*) AS n,
          |    CAST(sum(a.v * b.v) AS BIGINT) AS sxy
          |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
          |  GROUP BY 1, 2
          |), cov AS MATERIALIZED (
          |  SELECT agg.i, agg.j, n * sxy - sa.sx * sb.sx AS a
          |  FROM agg
          |  JOIN sums sa ON sa.i = agg.i
          |  JOIN sums sb ON sb.i = agg.j
          |), fullm AS MATERIALIZED (
          |  SELECT i, j, a FROM cov
          |  UNION ALL
          |  SELECT j AS i, i AS j, a FROM cov WHERE i <> j
          |), mmax AS (SELECT max(abs(a)) AS m FROM fullm
          |), sh AS MATERIALIZED (
          |  SELECT coalesce((SELECT max(k)
          |    FROM generate_series(1, 43) t(k), mmax
          |    WHERE mmax.m >= (CAST(1 AS BIGINT) << (19 + k))), 0) AS s
          |), at AS MATERIALIZED (
          |  SELECT i, j,
          |    CASE WHEN a < 0 THEN -((-a) >> s) ELSE a >> s END AS a
          |  FROM fullm, sh
          |), x0 AS MATERIALIZED (
          |  SELECT DISTINCT i AS dim, CAST(1000 AS BIGINT) AS v FROM fullm
          |)""".stripMargin

  /** The 5 unrolled power-iteration CTE steps. */
  private val pcaOracleIters: String =
    (1 to 5).map { k =>
        val (px, y, m, x) = (s"x${k - 1}", s"y$k", s"m$k", s"x$k")
        s""", $y AS MATERIALIZED (
           |  SELECT at.i AS dim, CAST(sum(at.a * $px.v) AS BIGINT) AS y
           |  FROM at JOIN $px ON $px.dim = at.j GROUP BY 1
           |), $m AS (SELECT max(abs(y)) AS m FROM $y
           |), $x AS MATERIALIZED (
           |  SELECT $y.dim,
           |    CASE WHEN $m.m = 0 THEN $px.v
           |         ELSE CAST(floor(CAST($y.y AS DOUBLE) * 1000.0
           |                / CAST($m.m AS DOUBLE) + 0.5) AS BIGINT)
           |    END AS v
           |  FROM $y JOIN $px ON $px.dim = $y.dim, $m
           |)""".stripMargin
      }.mkString

  val oracleSql: Map[String, String] = Map(
    "emb_binary_quantize" ->
      (bqCodeOracleCtes +
      """, scored AS (
        |  SELECT q.q_id, c.vec_id,
        |    CAST(bit_count(xor(c.code, q.qc)) AS BIGINT) AS hamming,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY bit_count(xor(c.code, q.qc)), c.vec_id) AS rk
        |  FROM c CROSS JOIN q
        |)
        |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, hamming
        |FROM scored WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin),

    "ann_bq_rerank" ->
      (bqCodeOracleCtes +
      """, hs AS (
        |  SELECT q.q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY bit_count(xor(c.code, q.qc)), c.vec_id) AS hrk
        |  FROM c CROSS JOIN q
        |), qv AS (
        |  SELECT vec_id AS q_id, embedding AS q_vec
        |  FROM embeddings WHERE vec_id < 10
        |), rer AS (
        |  SELECT h.q_id, h.vec_id,
        |    row_number() OVER (PARTITION BY h.q_id
        |      ORDER BY list_cosine_similarity(CAST(qv.q_vec AS DOUBLE[]),
        |        CAST(ev.embedding AS DOUBLE[])) DESC, h.vec_id) AS rk
        |  FROM hs h
        |  JOIN embeddings ev ON ev.vec_id = h.vec_id
        |  JOIN qv ON qv.q_id = h.q_id
        |  WHERE h.hrk <= 50
        |), truth AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.q_id, e2.vec_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |          CAST(e2.embedding AS DOUBLE[])) DESC, e2.vec_id) AS rk
        |    FROM embeddings e2 CROSS JOIN qv q WHERE e2.vec_id >= 10)
        |  WHERE rk <= 5
        |), rr AS (
        |  SELECT 'bq50_rerank' AS variant, count(*) AS n_truth,
        |    CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hit
        |  FROM truth t LEFT JOIN (SELECT q_id, vec_id FROM rer
        |    WHERE rk <= 5) r
        |    ON r.q_id = t.q_id AND r.vec_id = t.vec_id
        |  UNION ALL
        |  SELECT 'bq_direct' AS variant, count(*) AS n_truth,
        |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hit
        |  FROM truth t LEFT JOIN (SELECT q_id, vec_id FROM hs
        |    WHERE hrk <= 5) b
        |    ON b.q_id = t.q_id AND b.vec_id = t.vec_id
        |)
        |SELECT variant, n_truth, n_hit,
        |  CAST((2 * n_hit * 1000000 + greatest(n_truth, 1))
        |    // (2 * greatest(n_truth, 1)) AS DOUBLE) / 1000000.0 AS recall
        |FROM rr ORDER BY variant""".stripMargin),

    "emb_quantize" ->
      """WITH d AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(mn, 4) AS mn, round(mx, 4) AS mx,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CASE WHEN mx = mn THEN 0
        |         ELSE CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT)
        |         END)) AS BIGINT) AS q_sum,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE CAST(floor((CAST(embedding[1] AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT)
        |       END AS q_first,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE CAST(floor((CAST(embedding[-1] AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT)
        |       END AS q_last
        |FROM d ORDER BY vec_id""".stripMargin,

    // emb_negative_sample: the cosine doubles are the same comparison
    // the ann_bruteforce oracle already hash-validates; the only new
    // algebra is the md5-ordered pool + τ-floor, replayed verbatim
    "emb_negative_sample" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
        |           FROM embeddings WHERE vec_id < 10),
        |cand AS (
        |  SELECT vec_id, embedding,
        |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM embeddings WHERE vec_id >= 10
        |  ORDER BY h, vec_id LIMIT 60
        |), scored AS (
        |  SELECT q.q_id, c.vec_id, c.h,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS sim
        |  FROM cand c CROSS JOIN q
        |), negs AS (
        |  SELECT q_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY h, vec_id) AS neg_rank
        |  FROM scored WHERE sim < 0.1
        |)
        |SELECT q_id, CAST(neg_rank AS BIGINT) AS neg_rank, vec_id,
        |  round(sim, 5) AS sim
        |FROM negs WHERE neg_rank <= 5 ORDER BY q_id, neg_rank""".stripMargin,

    "ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |                           CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 10
        |), ranked AS (
        |  SELECT q_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
        |  FROM scored
        |)
        |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(sim, 5) AS sim
        |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // threshold membership is engine-exact here: both sides accumulate
    // the dot in double and no corpus pair sits within float noise of
    // the 0.3 cut (nearest measured gap ≫ 1e-9 at every tested SF)
    "ann_range_search" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |                           CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 10
        |)
        |SELECT q_id, vec_id, round(sim, 5) AS sim
        |FROM scored WHERE sim >= 0.3 ORDER BY q_id, vec_id""".stripMargin,

    "emb_standardize" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |    unnest(range(len(embedding))) AS pos,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings
        |), stats AS (
        |  SELECT pos, avg(v) AS mu, stddev_pop(v) AS sd
        |  FROM ex GROUP BY pos
        |), z AS (
        |  SELECT vec_id, ex.pos, (v - mu) / sd AS z
        |  FROM ex JOIN stats ON ex.pos = stats.pos
        |)
        |SELECT vec_id, count(*) AS dim,
        |  CAST(sum(CAST(round(z * 1e6) AS BIGINT)) AS BIGINT) AS z_sum_micro,
        |  round(min(z), 5) AS z_min, round(max(z), 5) AS z_max,
        |  round(max(CASE WHEN pos = 0 THEN z END), 5) AS z0
        |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Full-pipeline IVF mirror. Every stage is engine-exact or
    // precedent-validated: seed assignment + probe ranking are cosine
    // argmaxes (double accumulation both sides — the same comparison the
    // ann_bruteforce oracle already hash-validates), and the one
    // order-dependent float step, the Lloyd centroid average, is an
    // integer-quantized mean (BIGINT sum + single double division), so
    // refined centroids are bit-identical across engines.
    "ann_ivf" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c_vec
        |  FROM embeddings WHERE vec_id < 16
        |), a0 AS (
        |  SELECT vec_id, cell, embedding FROM (
        |    SELECT e.vec_id, s.cell, e.embedding,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        s.c_vec) DESC, s.cell) AS rn
        |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1
        |), expl AS (
        |  SELECT cell,
        |    unnest(range(len(embedding))) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM a0
        |), means AS (
        |  SELECT cell, dim,
        |    CAST(sum(CAST(floor(v * 1000 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 1000.0 AS m
        |  FROM expl GROUP BY cell, dim
        |), cent AS (
        |  SELECT cell, CAST(list(CAST(m AS REAL) ORDER BY dim) AS DOUBLE[]) AS c_vec
        |  FROM means GROUP BY cell
        |), corpus AS (
        |  SELECT vec_id, cell, embedding FROM (
        |    SELECT e.vec_id, c.cell, e.embedding,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        c.c_vec) DESC, c.cell) AS rn
        |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 10) WHERE rn = 1
        |), probes AS (
        |  SELECT q_id, q_vec, cell FROM (
        |    SELECT e.vec_id AS q_id, CAST(e.embedding AS DOUBLE[]) AS q_vec, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        c.c_vec) DESC, c.cell) AS rn
        |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 10) WHERE rn <= 6
        |), scored AS (
        |  SELECT p.q_id, a.vec_id,
        |    list_cosine_similarity(p.q_vec, CAST(a.embedding AS DOUBLE[])) AS sim
        |  FROM corpus a JOIN probes p USING (cell)
        |), ranked AS (
        |  SELECT q_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
        |  FROM scored
        |)
        |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(sim, 5) AS sim
        |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // ann_lsh / dedup_embedding gained real oracles once the signature
    // moved to md5-parity hyperplanes + integer quantization (exactly
    // expressible in DuckDB — see hyperplaneSigDuck).
    // recall eval: truth + both variants replayed in one WITH chain —
    // the same comparisons the three per-variant oracles already
    // hash-validate, composed
    "ann_recall_eval" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |  ${hyperplaneSigDuck("embedding", 8)} AS bucket
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec, bucket
         |  FROM e WHERE vec_id < 10
         |), truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, c.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
         |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rk
         |    FROM e c CROSS JOIN q WHERE c.vec_id >= 10)
         |  WHERE rk <= 5
         |), lsh AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, c.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
         |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rk
         |    FROM e c JOIN q ON c.bucket = q.bucket WHERE c.vec_id >= 10)
         |  WHERE rk <= 5
         |), mpq AS (
         |  SELECT q_id, q_vec,
         |    unnest(list_concat([bucket],
         |      list_transform(range(0, 8), j -> xor(bucket, 1 << j))))
         |      AS bucket
         |  FROM q
         |), mp AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, c.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
         |          CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rk
         |    FROM e c JOIN mpq q ON c.bucket = q.bucket WHERE c.vec_id >= 10)
         |  WHERE rk <= 5
         |), evalr AS (
         |  SELECT 'lsh' AS variant, CAST(count(*) AS BIGINT) AS n_truth,
         |    CAST(count(l.vec_id) AS BIGINT) AS n_hit
         |  FROM truth t LEFT JOIN lsh l
         |    ON l.q_id = t.q_id AND l.vec_id = t.vec_id
         |  UNION ALL
         |  SELECT 'lsh_multiprobe', CAST(count(*) AS BIGINT),
         |    CAST(count(m.vec_id) AS BIGINT)
         |  FROM truth t LEFT JOIN mp m
         |    ON m.q_id = t.q_id AND m.vec_id = t.vec_id
         |)
         |SELECT variant, n_truth, n_hit,
         |  CAST((2 * n_hit * 1000000 + greatest(n_truth, 1))
         |    // (2 * greatest(n_truth, 1)) AS DOUBLE) / 1000000.0 AS recall
         |FROM evalr ORDER BY variant""".stripMargin,

    "ann_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |  ${hyperplaneSigDuck("embedding", 8)} AS bucket
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM e WHERE vec_id < 10
         |), cands AS (
         |  SELECT q.q_id, e.vec_id,
         |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
         |                           CAST(e.embedding AS DOUBLE[])) AS sim
         |  FROM e JOIN q ON e.bucket = q.bucket WHERE e.vec_id >= 10
         |), ranked AS (
         |  SELECT q_id, vec_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |  FROM cands
         |)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(sim, 5) AS sim
         |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "ann_lsh_multiprobe" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |  ${hyperplaneSigDuck("embedding", 8)} AS bucket
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec,
         |    unnest(list_concat([bucket],
         |      list_transform(range(0, 8), j -> xor(bucket, 1 << j)))) AS bucket
         |  FROM e WHERE vec_id < 10
         |), cands AS (
         |  SELECT q.q_id, e.vec_id,
         |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
         |                           CAST(e.embedding AS DOUBLE[])) AS sim
         |  FROM e JOIN q ON e.bucket = q.bucket WHERE e.vec_id >= 10
         |), ranked AS (
         |  SELECT q_id, vec_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |  FROM cands
         |)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(sim, 5) AS sim
         |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "dedup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |  ${hyperplaneSigDuck("embedding", 4)} AS bucket
         |  FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                           CAST(b.embedding AS DOUBLE[])) AS sim
         |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |), flagged AS (
         |  SELECT DISTINCT id_b AS vec_id FROM pairs WHERE sim >= 0.45
         |)
         |SELECT e.vec_id, e.label, (f.vec_id IS NOT NULL) AS near_dup
         |FROM e LEFT JOIN flagged f ON e.vec_id = f.vec_id
         |ORDER BY e.vec_id""".stripMargin,

    // Full-pipeline PQ mirror. Everything on the 1e-3 integer grid:
    // inner products over integer-valued DOUBLE lists are exact
    // (list_inner_product ≡ dot_f32, the ann_bruteforce-validated
    // pairing, with no rounding possible below 2^53), Lloyd means are
    // BIGINT sums + one division + floor, the ADC sum is BIGINT.
    "ann_pq" ->
      s"""WITH $pqCtes, adc AS (
        |  SELECT qd.q_id, codes.vec_id, sum(qd.d6) AS adc6
        |  FROM codes JOIN qd ON codes.m = qd.m AND codes.code = qd.cw
        |  GROUP BY 1, 2
        |)$pqRankSql""".stripMargin,

    // IVF-PQ composition: the SAME kmeansCtes chain as emb_kmeans /
    // dedup_semantic supplies the coarse cells (fin + c2), the SAME
    // pqCtes chain as ann_pq supplies codes + ADC tables; only the
    // probe selection and candidate restriction are new. The three
    // oracles replay byte-identical sub-pipelines by reference.
    "ann_ivf_pq" ->
      s"""WITH $kmeansCtes, $pqCtes, probes AS (
        |  SELECT q_id, k FROM (
        |    SELECT qv.vec_id AS q_id, c2.k,
        |      row_number() OVER (PARTITION BY qv.vec_id
        |        ORDER BY list_inner_product(qv.s, qv.s)
        |          - 2*list_inner_product(qv.s, c2.c)
        |          + list_inner_product(c2.c, c2.c), c2.k) AS rn
        |    FROM qv CROSS JOIN c2 WHERE qv.vec_id < 10) WHERE rn <= 3
        |), cand AS (
        |  SELECT p.q_id, f.vec_id
        |  FROM fin f JOIN probes p ON f.k = p.k
        |  WHERE f.vec_id >= 10
        |), adc AS (
        |  SELECT c.q_id, c.vec_id, sum(qd.d6) AS adc6
        |  FROM cand c
        |  JOIN codes ON codes.vec_id = c.vec_id
        |  JOIN qd ON qd.m = codes.m AND qd.cw = codes.code
        |         AND qd.q_id = c.q_id
        |  GROUP BY 1, 2
        |)$pqRankSql""".stripMargin,

    "emb_diversity_sample" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    CAST(${hyperplaneSigDuck("embedding", 4)} AS BIGINT) AS bucket,
         |    md5(CAST(vec_id AS VARCHAR)) AS hsh
         |  FROM embeddings
         |), c AS (SELECT bucket, count(*) AS n FROM e GROUP BY 1),
         |cand AS (
         |  SELECT e.vec_id, e.bucket, e.hsh
         |  FROM e JOIN c USING (bucket)
         |  WHERE ('0x' || substr(e.hsh, 1, 8))::BIGINT
         |        < least(4294967296, ${64L * 20 * (1L << 32)} // c.n)
         |), r AS (
         |  SELECT bucket, vec_id,
         |    row_number() OVER (PARTITION BY bucket ORDER BY hsh, vec_id) AS rk
         |  FROM cand)
         |SELECT bucket, CAST(rk AS BIGINT) AS rk, vec_id
         |FROM r WHERE rk <= 20
         |ORDER BY bucket, rk""".stripMargin,

    // emb_covariance: the same 1e-3 grid quantization as the k-means
    // family, pairs via an index-range self-join — exact BIGINT end to
    // end, so both engines hash the identical numerator
    "emb_covariance" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |    qv[CAST(i AS INTEGER)] AS v
        |  FROM q, unnest(generate_series(1, len(qv))) AS t(i)
        |), sums AS (
        |  SELECT i, CAST(sum(v) AS BIGINT) AS sx FROM e GROUP BY 1
        |), agg AS (
        |  SELECT a.i AS i, b.i AS j, count(*) AS n,
        |    CAST(sum(a.v * b.v) AS BIGINT) AS sxy
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2
        |)
        |SELECT agg.i, agg.j, CAST(n AS BIGINT) AS n,
        |  n * sxy - sa.sx * sb.sx AS cov_num
        |FROM agg
        |JOIN sums sa ON sa.i = agg.i
        |JOIN sums sb ON sb.i = agg.j
        |ORDER BY agg.i, agg.j""".stripMargin,

    // the covariance CTE chain (same text as emb_covariance so the two
    // mirrors cannot drift), mirrored to the full symmetric matrix,
    // power-of-two pre-scaled (the generate_series form computes
    // max(0, bitlen−20) exactly — no float log2; series stops at 43 =
    // the max shift a BIGINT magnitude can need, and 1<<(19+44) would
    // itself overflow), then 5 unrolled power-iteration steps of the
    // exact arithmetic the Spark driver loop runs: BIGINT matvec,
    // max-magnitude, and the identical floor(y·1000/m + ½) double
    // renormalization. Multi-referenced CTEs are AS MATERIALIZED:
    // DuckDB inlines plain CTEs per reference, and the x_k → {y_k,
    // x_{k-1}, m_k} chain re-expands the whole covariance subtree
    // ~3^5 times without it (measured: the inlined form exhausts file
    // handles before it finishes; materialized it runs in 0.1 s)
    "emb_pca" -> (pcaOracleBase + pcaOracleIters + """, ray AS (
      |  SELECT CAST(sum(xa.v * at.a * xb.v) AS BIGINT) AS rayleigh_num
      |  FROM at JOIN x5 xa ON xa.dim = at.i JOIN x5 xb ON xb.dim = at.j
      |), xx AS (SELECT CAST(sum(v * v) AS BIGINT) AS xx_num FROM x5)
      |SELECT x5.dim, x5.v AS pc1_q, CAST(sh.s AS BIGINT) AS shift,
      |  ray.rayleigh_num, xx.xx_num
      |FROM x5, sh, ray, xx ORDER BY dim""".stripMargin),

    // the same chain, applied: per-vector exact BIGINT dot with the
    // final component (e holds every vector's grid components)
    "emb_pca_project" -> (pcaOracleBase + pcaOracleIters + """, proj AS (
      |  SELECT e.vec_id, CAST(sum(e.v * x5.v) AS BIGINT) AS pc1_dot
      |  FROM e JOIN x5 ON x5.dim = e.i GROUP BY 1
      |)
      |SELECT em.vec_id, em.label, p.pc1_dot
      |FROM embeddings em JOIN proj p ON p.vec_id = em.vec_id
      |ORDER BY em.vec_id""".stripMargin),

    // MMR unrolled as 4 MATERIALIZED selection CTEs (the emb_pca
    // inlining gotcha: each step references the previous several
    // times); scores stay full-precision doubles through the argmax,
    // rounded only on output — the ann_bruteforce argmax precedent
    "emb_mmr_rerank" ->
      """WITH q AS (SELECT embedding AS q_vec FROM embeddings
        |           WHERE vec_id = 0),
        |cand AS MATERIALIZED (
        |  SELECT e.vec_id, e.embedding,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS rel
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 10
        |  ORDER BY rel DESC, e.vec_id LIMIT 12
        |), pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS cid, b.vec_id AS sid,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS psim
        |  FROM cand a CROSS JOIN cand b WHERE a.vec_id <> b.vec_id
        |), s1 AS MATERIALIZED (
        |  SELECT CAST(1 AS BIGINT) AS step, vec_id, rel AS score
        |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
        |), s2 AS MATERIALIZED (
        |  SELECT CAST(2 AS BIGINT) AS step, c.vec_id,
        |    0.7::DOUBLE * c.rel - 0.3::DOUBLE * max(p.psim) AS score
        |  FROM cand c JOIN pairs p ON p.cid = c.vec_id
        |  JOIN s1 ON p.sid = s1.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY score DESC, c.vec_id LIMIT 1
        |), sel2 AS MATERIALIZED (
        |  SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
        |), s3 AS MATERIALIZED (
        |  SELECT CAST(3 AS BIGINT) AS step, c.vec_id,
        |    0.7::DOUBLE * c.rel - 0.3::DOUBLE * max(p.psim) AS score
        |  FROM cand c JOIN pairs p ON p.cid = c.vec_id
        |  JOIN sel2 ON p.sid = sel2.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY score DESC, c.vec_id LIMIT 1
        |), sel3 AS MATERIALIZED (
        |  SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3
        |), s4 AS MATERIALIZED (
        |  SELECT CAST(4 AS BIGINT) AS step, c.vec_id,
        |    0.7::DOUBLE * c.rel - 0.3::DOUBLE * max(p.psim) AS score
        |  FROM cand c JOIN pairs p ON p.cid = c.vec_id
        |  JOIN sel3 ON p.sid = sel3.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY score DESC, c.vec_id LIMIT 1
        |), sel4 AS MATERIALIZED (
        |  SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4
        |), s5 AS MATERIALIZED (
        |  SELECT CAST(5 AS BIGINT) AS step, c.vec_id,
        |    0.7::DOUBLE * c.rel - 0.3::DOUBLE * max(p.psim) AS score
        |  FROM cand c JOIN pairs p ON p.cid = c.vec_id
        |  JOIN sel4 ON p.sid = sel4.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY score DESC, c.vec_id LIMIT 1
        |)
        |SELECT step, vec_id, round(score, 5) AS score FROM (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        |  UNION ALL SELECT * FROM s5)
        |ORDER BY step""".stripMargin,

    "emb_farthest_first" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        |s1 AS MATERIALIZED (
        |  SELECT CAST(1 AS BIGINT) AS step, vec_id, 0.0::DOUBLE AS dist,
        |    embedding
        |  FROM e WHERE vec_id = 0
        |), n2 AS MATERIALIZED (
        |  SELECT CAST(2 AS BIGINT) AS step, c.vec_id,
        |    min(1.0::DOUBLE - list_cosine_similarity(
        |      CAST(c.embedding AS DOUBLE[]),
        |      CAST(s.embedding AS DOUBLE[]))) AS dist,
        |    c.embedding
        |  FROM e c JOIN s1 s ON c.vec_id <> s.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
        |  GROUP BY c.vec_id, c.embedding
        |  ORDER BY dist DESC, c.vec_id LIMIT 1
        |), sel2 AS MATERIALIZED (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM n2
        |), n3 AS MATERIALIZED (
        |  SELECT CAST(3 AS BIGINT) AS step, c.vec_id,
        |    min(1.0::DOUBLE - list_cosine_similarity(
        |      CAST(c.embedding AS DOUBLE[]),
        |      CAST(s.embedding AS DOUBLE[]))) AS dist,
        |    c.embedding
        |  FROM e c JOIN sel2 s ON c.vec_id <> s.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
        |  GROUP BY c.vec_id, c.embedding
        |  ORDER BY dist DESC, c.vec_id LIMIT 1
        |), sel3 AS MATERIALIZED (
        |  SELECT * FROM sel2 UNION ALL SELECT * FROM n3
        |), n4 AS MATERIALIZED (
        |  SELECT CAST(4 AS BIGINT) AS step, c.vec_id,
        |    min(1.0::DOUBLE - list_cosine_similarity(
        |      CAST(c.embedding AS DOUBLE[]),
        |      CAST(s.embedding AS DOUBLE[]))) AS dist,
        |    c.embedding
        |  FROM e c JOIN sel3 s ON c.vec_id <> s.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
        |  GROUP BY c.vec_id, c.embedding
        |  ORDER BY dist DESC, c.vec_id LIMIT 1
        |)
        |SELECT step, vec_id, round(dist, 5) AS dist FROM (
        |  SELECT step, vec_id, dist FROM sel3
        |  UNION ALL SELECT step, vec_id, dist FROM n4)
        |ORDER BY step""".stripMargin,

    "emb_norms" ->
      """SELECT vec_id, label,
        |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> x * x))), 5) AS l2,
        |  round(list_sum(CAST(embedding AS DOUBLE[])), 5) AS sum,
        |  CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // Full-pipeline k-means mirror: the ann_pq integer-grid recipe
    // (quantize → argmin by exact integer squared-L2 → BIGINT-mean
    // re-quantized centroids), unrolled for 2 Lloyd iterations + the
    // final assignment. Argmin ties break by cluster id on both sides.
    // The chain is shared with dedup_semantic (kmeansCtes) so the two
    // oracles replay the IDENTICAL clustering and cannot drift.
    "emb_kmeans" ->
      s"""WITH $kmeansCtes
        |SELECT vec_id, CAST(k AS BIGINT) AS cluster,
        |  round(d6 / 1000000.0, 6) AS d2
        |FROM fin ORDER BY vec_id""".stripMargin,

    // same kmeansCtes chain + the labels join; the majority window
    // runs over the cell frame only
    "emb_cluster_purity" ->
      s"""WITH $kmeansCtes,
        |al AS (
        |  SELECT f.vec_id, f.k, e.label
        |  FROM fin f JOIN embeddings e USING (vec_id)
        |), cells AS (
        |  SELECT k, label, CAST(count(*) AS BIGINT) AS n
        |  FROM al GROUP BY 1, 2
        |), tot AS (
        |  SELECT k, CAST(sum(n) AS BIGINT) AS n_cluster FROM cells GROUP BY 1
        |), mj AS (
        |  SELECT k, label, n FROM (
        |    SELECT k, label, n, row_number() OVER (PARTITION BY k
        |      ORDER BY n DESC, label) AS rn FROM cells)
        |  WHERE rn = 1
        |)
        |SELECT CAST(m.k AS BIGINT) AS cluster, t.n_cluster,
        |  CAST(m.label AS BIGINT) AS majority_label, m.n AS n_majority,
        |  CAST((2 * m.n * 1000000 + t.n_cluster) // (2 * t.n_cluster)
        |    AS DOUBLE) / 1000000.0 AS purity
        |FROM mj m JOIN tot t USING (k) ORDER BY cluster""".stripMargin,

    // prefix-sliced cosine per variant against the full-dim truth;
    // the integer recall identity mirrors ann_recall_eval
    "emb_matryoshka_eval" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), truth AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN e q WHERE c.vec_id >= 10 AND q.vec_id < 10)
        |  WHERE rk <= 5
        |), dims AS (SELECT unnest([16, 32, 64]) AS d
        |), trunc AS (
        |  SELECT d, q_id, vec_id FROM (
        |    SELECT dims.d, q.vec_id AS q_id, c.vec_id,
        |      row_number() OVER (PARTITION BY dims.d, q.vec_id
        |        ORDER BY list_cosine_similarity(q.v[1:dims.d], c.v[1:dims.d])
        |          DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN e q CROSS JOIN dims
        |    WHERE c.vec_id >= 10 AND q.vec_id < 10)
        |  WHERE rk <= 5
        |), evalr AS (
        |  SELECT dims.d AS d, CAST(count(*) AS BIGINT) AS n_truth,
        |    CAST(count(x.vec_id) AS BIGINT) AS n_hit
        |  FROM dims CROSS JOIN truth t
        |  LEFT JOIN trunc x ON x.d = dims.d AND x.q_id = t.q_id
        |    AND x.vec_id = t.vec_id
        |  GROUP BY dims.d
        |)
        |SELECT CAST(d AS BIGINT) AS dim, n_truth, n_hit,
        |  CAST((2 * n_hit * 1000000 + greatest(n_truth, 1))
        |    // (2 * greatest(n_truth, 1)) AS DOUBLE) / 1000000.0 AS recall
        |FROM evalr ORDER BY dim""".stripMargin,

    // snapshot split + integer-grid means with the non-negative-offset
    // rounding identity; mg is MATERIALIZED (3 references)
    "emb_centroid_drift" ->
      """WITH e AS (
        |  SELECT vec_id, label, unnest(range(len(embedding))) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings
        |), q AS (
        |  SELECT label, dim, (vec_id % 2 = 0) AS base,
        |    CAST(floor(v * 1000 + 0.5) AS BIGINT) AS xg
        |  FROM e
        |), mg AS MATERIALIZED (
        |  SELECT label, dim, base,
        |    ((sum(xg) + count(*) * 1048576) * 2 + count(*)) // (count(*) * 2)
        |      - 1048576 AS m,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY label, dim, base
        |), d AS (
        |  SELECT a.label, sum((a.m - b.m) * (a.m - b.m)) AS drift6
        |  FROM mg a JOIN mg b ON a.label = b.label AND a.dim = b.dim
        |    AND a.base AND NOT b.base
        |  GROUP BY a.label
        |), c AS (
        |  SELECT label,
        |    max(CASE WHEN base THEN n END) AS n_base,
        |    max(CASE WHEN NOT base THEN n END) AS n_cur
        |  FROM mg WHERE dim = 0 GROUP BY label
        |)
        |SELECT CAST(d.label AS BIGINT) AS label, c.n_base, c.n_cur,
        |  round(CAST(drift6 AS DOUBLE) / 1000000.0, 6) AS drift_d2
        |FROM d JOIN c USING (label) ORDER BY label""".stripMargin,

    // same kmeansCtes chain; the report doubles divide exact integers
    "emb_ivf_balance" ->
      s"""WITH $kmeansCtes,
        |cells AS (
        |  SELECT CAST(k AS BIGINT) AS cluster,
        |    CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(sum(d6) AS BIGINT) AS sum_d6,
        |    CAST(max(d6) AS BIGINT) AS max_d6
        |  FROM fin GROUP BY k
        |), tot AS (
        |  SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |    CAST(count(*) AS BIGINT) AS n_cells
        |  FROM cells
        |)
        |SELECT cluster, n_vecs,
        |  CAST((2 * n_vecs * n_cells * 1000000 + n_total) // (2 * n_total)
        |    AS DOUBLE) / 1000000.0 AS load_x,
        |  CAST((2 * sum_d6 + n_vecs) // (2 * n_vecs) AS DOUBLE)
        |    / 1000000.0 AS mean_d2,
        |  round(CAST(max_d6 AS DOUBLE) / 1000000.0, 6) AS max_d2
        |FROM cells CROSS JOIN tot ORDER BY cluster""".stripMargin,

    // same kmeansCtes chain; the outlier rank is over the exact d6 grid
    "emb_outliers" ->
      s"""WITH $kmeansCtes,
        |r AS (
        |  SELECT k, vec_id, d6,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY d6 DESC, vec_id) AS rk
        |  FROM fin
        |)
        |SELECT CAST(k AS BIGINT) AS cluster, CAST(rk AS BIGINT) AS rk,
        |  vec_id, round(d6 / 1000000.0, 6) AS d2
        |FROM r WHERE rk <= 5 ORDER BY cluster, rk""".stripMargin,

    // SemDeDup mirror: same kmeansCtes chain, then within-cluster pairs
    // under the all-BIGINT cosine test (0.45² = 81/400) — see the Spark
    // side for the exactness argument.
    "dedup_semantic" ->
      s"""WITH $kmeansCtes,
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_inner_product(a.s, b.s) AS BIGINT) AS dot,
        |    CAST(list_inner_product(a.s, a.s) AS BIGINT) AS ssa,
        |    CAST(list_inner_product(b.s, b.s) AS BIGINT) AS ssb
        |  FROM fin a JOIN fin b ON a.k = b.k AND a.vec_id < b.vec_id
        |), dup AS (
        |  SELECT DISTINCT id_b AS vec_id FROM pairs
        |  WHERE dot > 0 AND 400 * dot * dot >= 81 * ssa * ssb
        |)
        |SELECT f.vec_id, CAST(f.k AS BIGINT) AS cluster,
        |  (d.vec_id IS NOT NULL) AS sem_dup
        |FROM fin f LEFT JOIN dup d ON f.vec_id = d.vec_id
        |ORDER BY f.vec_id""".stripMargin
  )

  /** DuckDB replay of the PQ sub-pipeline ([[pqSub]] → [[pqCodebooks]] →
    * [[pqCodes]] + [[pqQueryAdc]]) — the shared CTE chain ending in
    * `codes(vec_id, m, code)` and `qd(q_id, m, cw, d6)`. Spelled once so
    * ann_pq and ann_ivf_pq replay the identical quantizer. */
  private def pqCtes: String =
    """sub AS (
      |  SELECT vec_id, t.m,
      |    list_transform(CAST(embedding[t.m*16+1 : t.m*16+16] AS DOUBLE[]),
      |      x -> floor(x * 1000 + 0.5)) AS s
      |  FROM embeddings, range(0, 4) t(m)
      |), seeds AS (
      |  SELECT m, vec_id AS cw, s AS c FROM sub WHERE vec_id < 16
      |), a0 AS (
      |  SELECT m, cw, s FROM (
      |    SELECT sub.vec_id, sub.m, seeds.cw, sub.s,
      |      row_number() OVER (PARTITION BY sub.vec_id, sub.m
      |        ORDER BY list_inner_product(sub.s, sub.s)
      |          - 2*list_inner_product(sub.s, seeds.c)
      |          + list_inner_product(seeds.c, seeds.c), seeds.cw) AS rn
      |    FROM sub JOIN seeds USING (m)) WHERE rn = 1
      |), expl AS (
      |  SELECT m, cw, unnest(range(len(s))) AS dim, unnest(s) AS v FROM a0
      |), means AS (
      |  SELECT m, cw, dim,
      |    CAST(sum(CAST(v AS BIGINT)) AS DOUBLE) / count(*) AS mu
      |  FROM expl GROUP BY m, cw, dim
      |), cb AS (
      |  SELECT m, cw, list(floor(mu + 0.5) ORDER BY dim) AS c
      |  FROM means GROUP BY m, cw
      |), codes AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT sub.vec_id, sub.m, cb.cw AS code,
      |      row_number() OVER (PARTITION BY sub.vec_id, sub.m
      |        ORDER BY list_inner_product(sub.s, sub.s)
      |          - 2*list_inner_product(sub.s, cb.c)
      |          + list_inner_product(cb.c, cb.c), cb.cw) AS rn
      |    FROM sub JOIN cb USING (m) WHERE sub.vec_id >= 10) WHERE rn = 1
      |), qd AS (
      |  SELECT sub.vec_id AS q_id, sub.m, cb.cw,
      |    CAST(list_inner_product(sub.s, sub.s)
      |      - 2*list_inner_product(sub.s, cb.c)
      |      + list_inner_product(cb.c, cb.c) AS BIGINT) AS d6
      |  FROM sub JOIN cb USING (m) WHERE sub.vec_id < 10
      |)""".stripMargin

  /** Shared ADC ranking tail (mirrors [[pqRankAdc]]). */
  private def pqRankSql: String =
    """, ranked AS (
      |  SELECT q_id, vec_id, adc6,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc6, vec_id) AS rk
      |  FROM adc
      |)
      |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id,
      |  round(adc6 / 1000000.0, 6) AS adc_dist
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** DuckDB replay of [[kmeansGrid]] — the shared CTE chain ending
   * in `fin(vec_id, k, s, d6)` (and centroids `c2`). Spelled once so
   * every consumer (emb_kmeans, dedup_semantic, ann_ivf_pq) replays the
   * identical clustering. */
  private def kmeansCtes: String =
    """qv AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> floor(x * 1000 + 0.5)) AS s
      |  FROM embeddings
      |), c0 AS (
      |  SELECT vec_id AS k, s AS c FROM qv WHERE vec_id < 8
      |), a1 AS (
      |  SELECT vec_id, k, s FROM (
      |    SELECT qv.vec_id, c0.k, qv.s,
      |      row_number() OVER (PARTITION BY qv.vec_id
      |        ORDER BY list_inner_product(qv.s, qv.s)
      |          - 2*list_inner_product(qv.s, c0.c)
      |          + list_inner_product(c0.c, c0.c), c0.k) AS rn
      |    FROM qv CROSS JOIN c0) WHERE rn = 1
      |), e1 AS (
      |  SELECT k, unnest(range(len(s))) AS dim, unnest(s) AS v FROM a1
      |), m1 AS (
      |  SELECT k, dim, CAST(sum(CAST(v AS BIGINT)) AS DOUBLE) / count(*) AS mu
      |  FROM e1 GROUP BY k, dim
      |), c1 AS (
      |  SELECT k, list(floor(mu + 0.5) ORDER BY dim) AS c FROM m1 GROUP BY k
      |), a2 AS (
      |  SELECT vec_id, k, s FROM (
      |    SELECT qv.vec_id, c1.k, qv.s,
      |      row_number() OVER (PARTITION BY qv.vec_id
      |        ORDER BY list_inner_product(qv.s, qv.s)
      |          - 2*list_inner_product(qv.s, c1.c)
      |          + list_inner_product(c1.c, c1.c), c1.k) AS rn
      |    FROM qv CROSS JOIN c1) WHERE rn = 1
      |), e2 AS (
      |  SELECT k, unnest(range(len(s))) AS dim, unnest(s) AS v FROM a2
      |), m2 AS (
      |  SELECT k, dim, CAST(sum(CAST(v AS BIGINT)) AS DOUBLE) / count(*) AS mu
      |  FROM e2 GROUP BY k, dim
      |), c2 AS (
      |  SELECT k, list(floor(mu + 0.5) ORDER BY dim) AS c FROM m2 GROUP BY k
      |), fin AS (
      |  SELECT vec_id, k, s, d6 FROM (
      |    SELECT qv.vec_id, c2.k, qv.s,
      |      CAST(list_inner_product(qv.s, qv.s)
      |        - 2*list_inner_product(qv.s, c2.c)
      |        + list_inner_product(c2.c, c2.c) AS BIGINT) AS d6,
      |      row_number() OVER (PARTITION BY qv.vec_id
      |        ORDER BY list_inner_product(qv.s, qv.s)
      |          - 2*list_inner_product(qv.s, c2.c)
      |          + list_inner_product(c2.c, c2.c), c2.k) AS rn
      |    FROM qv CROSS JOIN c2) WHERE rn = 1
      |)""".stripMargin
}
