package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine.{MaterializeOps, table => t}

/** Text-analysis operators for training-data curation: language ID
  * (stopword-density heuristic), quality scoring (length/punctuation/
  * stopword ratios), token counting (whitespace + BPE-ish regex), and
  * document fingerprinting (normalized-content hash + rolling hash).
  *
  * Everything is per-row expression work (codegen'd built-ins, no UDFs,
  * no shuffle), so throughput scales linearly with executors — exactly
  * what a 100 TB filter pass needs. Heuristics are deliberately mirrored
  * 1:1 in the DuckDB oracle SQL.
  */
object TextAnalysis {

  private[ext] val stopEn = Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
  private val stopEs = Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "por")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den")
  private val stopFr = Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour")

  /** Count of word tokens drawn from `words` (word-boundary regex). */
  private[ext] def stopwordHits(c: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(c),
      lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  private[ext] def nTokens(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9]+"), lit(0)))

  /** HALF_UP(num/den) at p decimals computed ENTIRELY in BIGINT, then
    * one exact-grid division. `round()` of an integer-ratio double is
    * the cross-engine half-way hazard: num/den can have an exact
    * terminating expansion ending in 5 one place past p (1/640 =
    * 0.0015625 at p = 6), which is precisely where Spark's decimal
    * HALF_UP and DuckDB's binary std::round disagree (the ann_pq /
    * TPC-H / token-budget fix generalized). Requires num ≥ 0, den ≥ 1
    * (callers greatest()-guard). DuckDB mirror:
    * `CAST((2*num*10^p + den) // (2*den) AS DOUBLE) / 10^p`. */
  /** The BIGINT half of [[ratioRound]]: HALF_UP(num/den · 10^p) as a
    * long — for pipelines that keep the grid value on the wire. */
  private[graft] def ratioRoundInt(num: Column, den: Column, p: Int): Column = {
    val s = math.pow(10, p).toLong
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    org.apache.spark.sql.graftbridge.Bridge.column(IntegralDivide(
      org.apache.spark.sql.graftbridge.Bridge.expression(
        num.cast("long") * lit(2L * s) + den.cast("long")),
      org.apache.spark.sql.graftbridge.Bridge.expression(
        den.cast("long") * lit(2L))))
  }

  private[graft] def ratioRound(num: Column, den: Column, p: Int): Column =
    ratioRoundInt(num, den, p).cast("double") / lit(math.pow(10, p))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // quality scoring: structural ratios + a composite score
    "text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val nTok = nTokens(col("text"))
      val nChar = length(col("text"))
      val nPunct = size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0)))
      val nStop = stopwordHits(col("text"), stopEn)
      d.select(
        col("doc_id"),
        nChar.cast("long").as("n_chars"),
        nTok.cast("long").as("n_tokens"),
        ratioRound(nChar, greatest(nTok, lit(1)), 4).as("avg_token_len"),
        ratioRound(nPunct, greatest(nChar, lit(1)), 6).as("punct_ratio"),
        ratioRound(nStop, greatest(nTok, lit(1)), 6).as("stopword_ratio"),
        // composite: long enough, some stopwords, not punctuation soup
        (nChar.between(100, 10000) &&
          (nStop.cast("double") / greatest(nTok, lit(1)).cast("double")) > 0.01 &&
          (nPunct.cast("double") / greatest(nChar, lit(1)).cast("double")) < 0.2)
          .as("passes_quality"))
        .orderBy(col("doc_id"))
    }),

    // the Gopher rule battery (Rae et al. 2021, §A1.1) — the canonical
    // pre-training quality gate, distinct from text_quality's ratio
    // report: hard per-rule pass/fail bits whose thresholds are applied
    // as exact INTEGER comparisons (3 ≤ mean word len ≤ 10 is checked
    // as 3·n_words ≤ Σlen ≤ 10·n_words, symbol ratio ≤ 0.1 as
    // 10·n_sym ≤ n_words, alpha ratio ≥ 0.8 as 5·n_alpha ≥ 4·n_words)
    // so no float boundary can flip a verdict cross-engine; the ratio
    // columns are grid-rounded report values only. The stopword rule is
    // Gopher's DISTINCT-presence count (≥ 2 of its named 8), not a
    // density. Pure per-row expression work — no shuffle but the output
    // sort, the linear 100 TB filter-pass shape.
    "text_gopher_rules" -> ((s, dir) =>
      gopherFrame(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"),
          ratioRound(col("sum_word_len"), greatest(col("n_words"), lit(1L)), 4)
            .as("mean_word_len"),
          ratioRound(col("n_sym"), greatest(col("n_words"), lit(1L)), 6)
            .as("symbol_ratio"),
          ratioRound(col("n_alpha"), greatest(col("n_words"), lit(1L)), 6)
            .as("alpha_ratio"),
          col("n_stop_distinct"), col("r_word_count"), col("r_mean_len"),
          col("r_symbol"), col("r_alpha"), col("r_stopwords"),
          col("passes_gopher"))
        .orderBy(col("doc_id"))),

    // language ID: argmax of per-language stopword density
    "text_langid" -> ((s, dir) => langidFrame(s, dir).orderBy(col("doc_id"))),

    // language-ID accuracy eval — the confusion matrix + per-class
    // recall the langid heuristic is actually judged by, against the
    // corpus's own lang labels (the same frame text_langid ships, BY
    // REFERENCE — classifier and eval cannot drift). Each confusion
    // cell carries its share of the true language's documents (the
    // diagonal cell's share IS per-class recall) on the exact 1e-6
    // grid. Scale shape: one per-row classification pass, map-side
    // combined to a ≤ langs² cell frame, marginals joined langs-sized.
    "text_langid_eval" -> ((s, dir) => {
      val conf = langidFrame(s, dir)
        .groupBy(col("labeled_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val tot = conf.groupBy(col("labeled_lang")).agg(sum(col("n")).as("n_true"))
      conf.join(tot, Seq("labeled_lang"))
        .select(col("labeled_lang"), col("pred_lang"), col("n"),
          ratioRound(col("n"), col("n_true"), 6).as("share"))
        .orderBy(col("labeled_lang"), col("pred_lang"))
    }),

    // token counting: whitespace tokens vs BPE-ish subword pieces
    "text_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
            .cast("long").as("ws_tokens"),
          // BPE-ish: letter runs, digit runs, single punctuation marks
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("bpe_tokens"),
          ratioRound(length(col("text")),
            greatest(size(regexp_extract_all(col("text"),
              lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))), lit(1)), 4)
            .as("chars_per_token"))
        .orderBy(col("doc_id"))),

    // fingerprinting: hash of whitespace/case-normalized content
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("norm_md5"))
        .orderBy(col("doc_id"))),

    // end-to-end curation pipeline: the composite a training-data run
    // executes per shard — exact-dedup survivors → quality gate →
    // per-language corpus stats. One pass, no driver-side loops; every
    // stage is a pushdown-friendly expression or a single hash shuffle.
    "curation_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val nTok = nTokens(col("text"))
      val nStop = stopwordHits(col("text"), stopEn)
      // narrow pre-shuffle projection: the content hash AND every quality
      // stat the later stages need are computed in the scan stage, so the
      // document text never enters the dedup exchange — at 100 TB the
      // shuffle carries ~50 bytes/doc (h, doc_id, lang, n_chars, n_tok,
      // stop_ratio) instead of the corpus bodily
      val narrow = d.select(
        col("doc_id"), col("lang"), col("n_chars"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("h"),
        nTok.as("n_tok"),
        // stop ratio rides the exchange as exact HALF_UP micro-units
        // (BIGINT 1e-6 grid) so the per-language average aggregates in
        // integers — no float round anywhere in the pipeline
        ratioRoundInt(nStop, greatest(nTok, lit(1)), 6).as("stop6"))
      // stage 1: exact dedup — keep min doc_id per normalized-content hash
      val survivors = narrow
        .withColumn("keep", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("keep") === 1)
      // stage 2: quality gate (must follow dedup: same h ≠ same raw text —
      // normalization can erase whitespace/case differences — so the kept
      // copy's stats, not an arbitrary copy's, are what's gated)
      val curated = survivors
        .filter(col("n_chars").between(50, 5000) && col("n_tok") >= 10)
      // stage 3: per-language corpus stats
      curated.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("stop6")).as("sum_stop6"))
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          ratioRound(col("sum_chars"), col("n_docs"), 4).as("avg_chars"),
          // average of the per-doc micro-grid ratios, HALF_UP to the
          // nearest micro — pure integer arithmetic end to end
          (ratioRoundInt(col("sum_stop6"), col("n_docs"), 0).cast("double")
            / lit(1000000.0)).as("avg_stop_ratio"))
        .orderBy(col("lang"))
    }),

    // TF-IDF: classic two-pass term weighting — tf per (doc, term), df
    // per term (one shuffle each), top-3 terms per doc. The document
    // frequency table is small (vocabulary-sized) and broadcast back.
    // unigram log-probability quality score — the CCNet/perplexity-style
    // curation filter: score each document by the average log-prob of
    // its tokens under the corpus's own unigram distribution (gibberish
    // and boilerplate-free text score low/high respectively). The scale
    // design is the point: the MODEL is a top-K vocabulary selected via
    // orderBy+limit (Spark plans TakeOrderedAndProject — distributed
    // partial top-K, no single-partition window) and BROADCAST — at
    // 100 TB the full vocabulary's long tail is unbounded, so the model
    // must be capped to broadcast; out-of-vocab tokens get a 0.5-count
    // floor. Scoring is then a broadcast join + map-side-partial avg:
    // the corpus shuffles one row per document, never per token.
    "text_unigram_logprob" -> ((s, dir) => {
      val vocabK = 4096
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => length(x) > 0)).as("w"))
      // counts is VOCAB-sized (small); localCheckpoint materializes it
      // once so the two consumers below (total + top-K) don't each
      // re-scan the corpus — without it the plan read the parquet 3×
      // (plan-inspected): scoring, counts-for-tot, counts-for-vocab
      val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .materialize(false)
      val tot = counts.agg(sum(col("c")).cast("double").as("tot"))
      val vocab = counts.orderBy(col("c").desc, col("w")).limit(vocabK)
      toks.join(broadcast(vocab), Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp",
          when(col("c").isNotNull, log(col("c") / col("tot")))
            .otherwise(log(lit(0.5) / col("tot"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          round(avg(col("lp")), 4).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM-quality bucketing (Wenzek et al. 2019,
    // arXiv:1911.00359): split each language's documents into
    // head/middle/tail by LM score — the pre-filtering shape CommonCrawl
    // pipelines actually ship (train on head+middle, audit tail). The
    // score is the unigram model's mean log-prob on a 1e-4 integer grid
    // (score_m4 = round(avg_lp·10⁴) — same model, same rounding exposure
    // as text_unigram_logprob), and the per-language cutoffs are exact
    // R-7 quartiles (p25/p75 — binary-exact fractions, so BOTH
    // interpolation formulas are exact over integer grid scores and the
    // cutoff can never drift an ulp between engines; the head/tail
    // boundary comparisons are integer-vs-exact-fraction). Scale shape:
    // one corpus score pass, rank window partitioned BY LANGUAGE
    // (per-key sort state), K-row cutoff frame broadcast back, output
    // is langs × 3 rows.
    "text_ccnet_bucket" -> ((s, dir) => {
      val vocabK = 4096
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
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
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(col("lp")) * 10000).cast("long").as("score_m4"))
      // NOT checkpointed: scored's two consumers (quantile census +
      // bucket join) run as parallel stages of the one job — a
      // checkpoint here measured 1.03× (r15 paired A/B), no win
      val byLang = Window.partitionBy(col("lang"))
      val r = scored
        .withColumn("rn", row_number().over(
          byLang.orderBy(col("score_m4"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(byLang))
        .withColumn("t25", lit(0.25) * (col("n") - 1))
        .withColumn("t75", lit(0.75) * (col("n") - 1))
      def pick(t: String, out: String) = Seq(
        max(when(col("rn") === floor(col(t)).cast("long") + 1,
          col("score_m4"))).as(s"lo$out"),
        max(when(col("rn") === ceil(col(t)).cast("long") + 1,
          col("score_m4"))).as(s"hi$out"),
        max(col(t) - floor(col(t))).as(s"f$out"))
      val agg = pick("t25", "25") ++ pick("t75", "75")
      val picks = r.groupBy(col("lang")).agg(agg.head, agg.tail: _*)
        .select(col("lang"),
          (col("lo25") + (col("hi25") - col("lo25")) * col("f25")).as("c25"),
          (col("lo75") + (col("hi75") - col("lo75")) * col("f75")).as("c75"))
      scored.join(broadcast(picks), Seq("lang"))
        .withColumn("bucket",
          when(col("score_m4") >= col("c75"), "head")
            .when(col("score_m4") <= col("c25"), "tail")
            .otherwise("middle"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("score_m4")).as("sum_m4"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    // every raw document by the log-likelihood ratio of a TARGET-domain
    // hashed-feature distribution (here: the lang='en' slice stands in
    // for the curated target) against the raw-corpus distribution —
    // the data-selection step that reweights a web crawl toward a
    // domain without training a classifier. Features are hashed word
    // unigrams in B=1024 buckets (the paper's hashed n-gram trick: the
    // model is a FIXED-size count vector however large the vocab);
    // add-1 smoothing on both sides. Scale shape: the two count passes
    // are map-side-combinable aggregates onto ≤B keys, the per-bucket
    // llr frame broadcasts (B rows — an algorithm constant), scoring is
    // one broadcast join + per-doc sum. Float discipline: one ln per
    // bucket from identical integer ratios both engines, per-doc sum
    // rounded at 4 (the text_unigram_logprob precedent).
    "text_dsir" -> ((s, dir) => {
      val B = 1024
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => length(x) > 0)).as("w"))
        .withColumn("b", graft.functions.HashExpressions.md5Bucket(col("w"), B))
      // raw + target counts in ONE corpus pass (the target is a slice
      // of the same stream — a conditional count, not a second scan),
      // collapsing to ≤B rows before any exchange.
      val cnt = toks.groupBy(col("b"))
        .agg(count(lit(1)).as("rc"),
          count(when(col("lang") === "en", lit(1))).as("tc"))
      val tots = cnt.agg(sum(col("rc")).as("rtot"), sum(col("tc")).as("ttot"))
      val llr = cnt.crossJoin(broadcast(tots))
        .select(col("b"),
          (log((col("tc") + 1).cast("double") /
               (col("ttot") + B).cast("double")) -
           log((col("rc") + 1).cast("double") /
               (col("rtot") + B).cast("double"))).as("llr"))
      toks.join(broadcast(llr), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), round(sum(col("llr")), 4).as("dsir"))
        .orderBy(col("doc_id"))
    }),

    // bigram-conditional LM score — the step past text_unigram_logprob's
    // bag-of-words: P(w2|w1) = C2(w1w2)/C1(w1), model capped to the top-K
    // bigrams (same reason as the unigram cap: the bigram long tail is
    // unbounded at corpus scale, the model must stay broadcastable), flat
    // 0.5/total floor for out-of-model bigrams. Count frames are
    // vocab-sized and localCheckpoint'ed once; scoring is one broadcast
    // join + map-side partial avg — one shuffle row per document, the
    // unigram scorer's proven shape.
    "text_bigram_logprob" -> ((s, dir) => {
      val modelK = 4096
      def grams(n: Int) = explode(
        graft.functions.HashExpressions.word_shingles(col("text"), n, distinct = false))
      val d = t(s, dir, "documents")
      val uni = d.select(grams(1).as("w"))
      val bg = d.select(col("doc_id"), grams(2).as("b"))
      val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        .materialize(false)
      val c2 = bg.groupBy(col("b")).agg(count(lit(1)).as("c2"))
        .materialize(false)
      val tot2 = c2.agg(sum(col("c2")).cast("double").as("tot"))
      val top2 = c2.orderBy(col("c2").desc, col("b")).limit(modelK)
      // attach C1 of each top bigram's first word → the broadcast model
      val model = top2
        .withColumn("w", element_at(split(col("b"), " "), 1))
        .join(c1, Seq("w"))
        .select(col("b"), col("c2"), col("c1"))
      bg.join(broadcast(model), Seq("b"), "left")
        .crossJoin(broadcast(tot2))
        .withColumn("lp",
          when(col("c2").isNotNull, log(col("c2") / col("c1").cast("double")))
            .otherwise(log(lit(0.5) / col("tot"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("lp")), 4).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    "text_tfidf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // corpus size as a lazy broadcast scalar frame — no driver-side
      // d.count() at plan-build time (that forced an eager job per
      // invocation and baked the scalar into the plan)
      val nDocs = d.agg(count(lit(1)).cast("double").as("n_docs"))
      val terms = d
        .select(col("doc_id"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => length(x) > 0)).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf_raw").desc, col("term"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf_raw",
          col("tf") * log(col("n_docs") / col("df")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
          round(col("tfidf_raw"), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // repetition quality signals (the Gopher/C4-style filters): duplicate
    // word mass and top-word concentration per document. One explode +
    // two hash aggregations; the per-doc window runs over vocabulary-sized
    // partitions (distinct words), not raw tokens.
    "text_repetition" -> ((s, dir) => {
      // r12 re-plan: all four statistics never leave their row, so the
      // explode → groupBy(doc, w) → three-window formulation (which
      // shuffled every token occurrence corpus-wide, then every distinct
      // (doc, word) pair again for the per-doc windows) is one native
      // TokenStats pass per document — a pure map stage at any corpus
      // size. Same values including the mode tie rule (cnt desc, word
      // binary asc); token-less docs stay excluded via the n_words gate.
      val ts = graft.functions.HashExpressions.token_stats(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), ts.as("ts"))
        .filter(col("ts.n_words") > 0)
        .select(col("doc_id"),
          col("ts.n_words").as("n_words"),
          col("ts.n_distinct").as("n_distinct"),
          // 1 − a/b ≡ (b−a)/b exactly, so the integer rounder applies
          ratioRound(col("ts.n_words") - col("ts.n_distinct"),
            col("ts.n_words"), 6).as("dup_word_ratio"),
          col("ts.top_word").as("top_word"),
          col("ts.top_cnt").as("top_cnt"),
          ratioRound(col("ts.top_cnt"), col("ts.n_words"), 6)
            .as("top_word_frac"))
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing: count + redact emails / phone numbers / IPv4
    // addresses (pure per-row regex work — linear scan shape, no
    // shuffle). The synthetic corpus carries no PII, so a deterministic
    // doc_id-derived injection gives the scrubber real work; the
    // redacted text is fingerprinted (md5) rather than returned bodily.
    "text_pii_scrub" -> ((s, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" host 10.0.0.1"))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("t0"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t0"), lit(email), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("t0"), lit(phone), lit(0)))
            .cast("long").as("n_phones"),
          size(regexp_extract_all(col("t0"), lit(ip), lit(0)))
            .cast("long").as("n_ips"),
          md5(regexp_replace(
            regexp_replace(
              regexp_replace(col("t0"), email, "<EMAIL>"),
              phone, "<PHONE>"),
            ip, "<IP>")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }),

    // fuzzy dedup by edit distance: Levenshtein ≤ 5 on a deterministic
    // sample, SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo,
    // SIGMOD '95) inside (lang, length bucket) blocks. The r9 shape —
    // full pair-join inside each block — was the verdict's one weak
    // plan: block COUNT is an algorithm constant (30 keys) while block
    // SIZE grows with the corpus, so within-block pairs grew
    // quadratically (149k pairs at sf0.1 and unbounded at 100 TB). A
    // drop-cap à la minhashCandidates would be wrong here: each pair
    // has exactly ONE block (no 16-band second chance), so dropping an
    // oversized block loses every pair in it. SNM instead ranks each
    // block by head40 and compares only rank-neighbors within W = 32 —
    // pairs are O(rows × W), linear in the corpus, and edit-close
    // 40-char heads sort adjacently so recall survives. W ≥ the largest
    // sf0.01 block (27), so at the verified scale the result equals the
    // full pair set; the oracle mirrors the SNM semantics exactly.
    "dedup_levenshtein" -> ((s, dir) => {
      val W = 32
      // modulus 2 (the dedup_ngram_jaccard precedent): the %10 sample
      // met ZERO qualifying pairs at the verified sf0.01 scale, so the
      // blocking + threshold algebra was only vacuously cross-checked;
      // %2 yields real pairs whose dist column the oracle hash-compares
      val sample = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 40).as("head40"),
          // integer DIV, not cast(double): DuckDB's double→int cast
          // rounds to nearest while Spark truncates
          expr("n_chars DIV 100").as("len_bucket"))
      // per-block rank via the grouped two-level form: shard by the
      // head40 first code point (order-consistent with the string sort —
      // UTF-8 binary order IS code-point order on the first character),
      // so no sort partition ever holds a whole corpus block
      val ranked = DistRank.rowNumberGrouped(s, sample,
        Seq("lang", "len_bucket"),
        ascii(substring(col("head40"), 1, 1)),
        Seq(col("head40"), col("doc_id")), "rn")
      // neighbor pairing as a bounded equi-join on rank-chunks of width
      // W: a pair with 1 ≤ rn_b − rn_a ≤ W has chunk_b ∈ {chunk_a,
      // chunk_a+1}, so emitting the b side to its own chunk and the
      // previous one makes the equi-join exhaustive; chunk count grows
      // with the corpus, so join parallelism scales where the r9
      // block-key join could not
      val aSide = ranked.select(col("doc_id").as("id_a"), col("lang"),
        col("len_bucket"), col("head40").as("h_a"), col("rn").as("rn_a"),
        expr(s"(rn - 1) DIV $W").as("chunk"))
      val bSide = ranked.select(col("doc_id").as("id_b"), col("lang"),
        col("len_bucket"), col("head40").as("h_b"), col("rn").as("rn_b"),
        explode(array(expr(s"(rn - 1) DIV $W"),
          expr(s"(rn - 1) DIV $W - 1"))).as("chunk"))
      aSide.join(bSide, Seq("lang", "len_bucket", "chunk"))
        .filter((col("rn_b") - col("rn_a")).between(1, W))
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"),
          // 3-arg threshold form: Spark computes only the |i−j| ≤ 5
          // diagonal band of the DP matrix (O(len·k) vs O(len²)) and
          // returns −1 past the threshold — identical accepted
          // distances, so the unthresholded oracle filter matches
          levenshtein(col("h_a"), col("h_b"), 5).cast("long").as("dist"))
        .filter(col("dist") >= 0)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // 64-bit content fingerprint (xxhash64 — no DuckDB equivalent,
    // rows-only check; exercised further by the scalatest spec)
    "text_fingerprint_xx" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          xxhash64(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("xx64"))
        .orderBy(col("doc_id"))),

    // character-level Shannon entropy — the classic gibberish/boilerplate
    // signal (random bytes score high, "aaaa..." scores ~0). A native
    // Catalyst expression (one code-point pass + sorted-histogram walk
    // per row): the HOF formulation paid O(uniq × len) interpreted
    // lambda frames — measured 22.8s for the sf0.1 bench row, slowest in
    // the suite by 8×; the expression is sub-second. No shuffle — at
    // 100 TB this is a pure map pass like the other text scores. Both
    // engines fold the same term order (sorted distinct chars); the only
    // cross-engine risk is a libm log2 ulp, absorbed by round(…,4).
    // n-gram novelty scoring — the curation signal for ORDER-aware
    // ingestion (WIMBD-style corpus analytics): what fraction of a
    // document's distinct word 8-grams has never appeared in any
    // EARLIER document (first occurrence = min doc_id over the corpus)?
    // Boilerplate-heavy late arrivals score near 0, genuinely new
    // content near 1. Scale shape: grams ride every exchange as 60-bit
    // md5-derived keys, never strings (the dedup_substring collision
    // bound: ~10^12 grams at 100 TB vs 2^60 key space); first-occurrence
    // is a map-side-combinable min; the join back is narrow (key,
    // first_doc). The per-doc ratio lands on the exact 1e-6 grid via
    // pure-BIGINT ratioRoundInt.
    "text_ngram_novelty" -> ((s, dir) => {
      // r12 re-plan (measured): novelty WITHOUT the gram join-back.
      // The old shape joined the full (doc_id, gk) frame against the
      // first-occurrence table — the corpus's widest exchange here —
      // and ran the scan+shingle+md5 subtree twice (groupBy(gk) and
      // join(gk) partition identically but with different partials, so
      // no exchange reuse). Novel counts fall straight out of the
      // first-occurrence table instead: group fst by first_doc. Both
      // engines now count novelty at the KEY level (one per distinct
      // 60-bit gk a doc introduced) rather than per gram string — the
      // two differ only when two distinct grams of ONE doc collide in
      // the 60-bit prefix (~n_grams²/2^61 per doc, the family's
      // accepted bound; a cross-doc collision resolved to the same
      // min either way). n_grams stays string-level via a join-free
      // map pass (size of the distinct-shingle array).
      val docs = t(s, dir, "documents")
      val grams = docs
        .select(col("doc_id"),
          explode(graft.functions.HashExpressions.word_shingles(col("text"), 8))
            .as("g"))
        .select(col("doc_id"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gk"))
      val novel = grams.groupBy(col("gk")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
        .select(col("first_doc").as("doc_id"), col("n_novel"))
      docs
        .select(col("doc_id"),
          size(graft.functions.HashExpressions.word_shingles(col("text"), 8))
            .cast("long").as("n_grams"))
        .filter(col("n_grams") > 0)
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty", ratioRound(col("n_novel"), col("n_grams"), 6))
        .orderBy(col("doc_id"))
    }),

    "text_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.HashExpressions.char_entropy(col("text")).as("ce"))
        .select(col("doc_id"),
          col("ce.n_uniq_chars").as("n_uniq_chars"),
          round(col("ce.char_entropy"), 4).as("char_entropy"))
        .orderBy(col("doc_id"))),

    // winnowing fingerprints (the MOSS scheme): hash every word 3-gram,
    // slide a window of 4 consecutive gram hashes, keep each window's
    // minimum — guaranteed-coverage sampling (any shared run of
    // w+k-1 = 6 words contributes ≥1 common fingerprint) at expected
    // density 2/(w+1) = 0.4, the local-similarity complement to the
    // global MinHash sketch. Tie rule is LEFTMOST minimum, made explicit
    // because word-soup docs DO repeat grams (identical md5 at two
    // positions in one window is real, not a hash collision). The whole
    // selection is ONE per-row array expression chain (grams → (h,pos)
    // structs → per-window array_min → array_distinct): embarrassingly
    // parallel, ZERO shuffle before the final order — the per-doc cost
    // is O(words × w) however large the corpus. Emitted per doc as
    // counts + an order-insensitive md5 checksum of the selected hash
    // multiset, so the row stays narrow.
    "text_winnowing" -> ((s, dir) =>
      winnowFrame(s, dir)
        .select(col("doc_id"), col("n_grams"),
          size(col("sel")).cast("long").as("n_selected"),
          expr("(2 * cast(size(sel) AS bigint) * 1000000 + n_grams) div (2 * n_grams)")
            .as("density6"),
          md5(concat_ws("",
            array_sort(expr("transform(sel, x -> x.h)")))).as("fp_checksum"))
        .orderBy(col("doc_id"))),

    // winnowing put to its MOSS purpose: LOCAL-similarity candidate
    // pairs from fingerprint collisions — catches shared PASSAGES that
    // whole-doc MinHash dilutes away (a 10% plagiarized span barely
    // moves doc-level Jaccard but its winnow fingerprints collide
    // verbatim). Postings are DF-capped (≤ 50 docs per fingerprint, the
    // dedup_containment rule: a boilerplate fingerprint would fan every
    // carrier into every other); the pair count IS the join's groupBy,
    // and only 8-byte BIGINT keys ride exchanges (r12: the posting key
    // is the 60-bit md5 prefix — md5Prefix60's safety rule applies
    // because a prefix collision only merges two posting lists
    // IDENTICALLY in both engines, feeding the same shared-≥3 admission
    // count; the SELECTION inside winnowFrame stays on the full hex,
    // where the leftmost-min tie rule depends on the whole digest);
    // admission shared ≥ 3 with the fingerprint-containment score
    // reported on the 1e-6 grid.
    "dedup_winnowing" -> ((s, dir) => {
      val cap = 50
      val fp = winnowFrame(s, dir)
        .select(col("doc_id"), explode(array_distinct(transform(col("sel"),
          x => graft.functions.HashExpressions.md5Prefix60(x.getField("h")))))
          .as("h"))
        .materialize(false) // 3 consumers of one selection pass
      val sz = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val keep = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("h"))
      // both self-join sides consume pf — checkpoint so the df census
      // join over fp runs once, not per side
      val pf = fp.join(keep, Seq("h")).materialize(false)
      val pairs = pf.select(col("doc_id").as("doc_a"), col("h"))
        .join(pf.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 3)
      pairs
        .join(sz.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("shared"),
          col("n_a"), col("n_b"),
          ratioRound(col("shared"), least(col("n_a"), col("n_b")), 6)
            .as("score6"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // inverted index (posting lists): term → document frequency,
    // collection frequency, and the first-POSTING_CAP doc_ids in sorted
    // order — the retrieval/dedup-side index build. The cap is applied
    // BEFORE any list materializes: a row_number window over (term →
    // doc_id) streams each term's postings and keeps ≤ CAP rows, so a
    // stop-word term at 100 TB never collects a billion-element array
    // into one aggregation buffer (collect-then-slice would). df/cf are
    // window aggregates over the same per-(term,doc) frame — the corpus
    // shuffles once to (term, doc_id) grain (map-side tf partials),
    // then once more on term for the window+final agg; both exchanges
    // carry counts, never text bodies beyond the term itself.
    // content-defined chunking (CDC) — the rolling-hash fingerprint
    // primitive (Rabin-style): chunk boundaries are INTENSIONAL, cut
    // where the 8-char rolling hash Σ code·31^j ≡ 0 (mod 64), so an
    // insertion near the head of a document shifts only the chunk it
    // lands in — every later boundary re-synchronizes and those chunk
    // fingerprints survive verbatim. That is the property the tile-based
    // pipe_span_scrub lacks (fixed tiling shifts every downstream tile)
    // and what makes CDC fingerprints the shift-robust dedup signal.
    // Expected chunk ≈ 64 chars (no min/max clamps — FastCDC's variance
    // trims are a tuning layer, not the semantics). Pure per-row map —
    // O(8·len) exact BIGINT window sums (max Σ < 4·10^12, no overflow),
    // no shuffle but the output sort; fingerprints are md5-prefix
    // longs so both engines derive them identically. Empty/NULL docs
    // have no chunkable content and are absent on both sides.
    // Output grain is one ROW per chunk (doc_id, chunk_idx) — scalar
    // columns only, so the oracle harness hash-compares every single
    // chunk fingerprint (an array<bigint> column is unhashable there).
    "text_cdc_chunks" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .withColumn("n", length(col("text")))
        // native rolling-hash boundary scan (see CdcCuts scaladoc): the
        // HOF window formulation (8 element_at per position through
        // interpreted lambda frames) was the slowest bench query at
        // 3.3 s — the DuckDB oracle below KEEPS that formulation as the
        // independent mirror of the same cut rule
        .withColumn("cuts",
          graft.functions.HashExpressions.cdc_cuts(col("text")))
        .withColumn("ch", expr(
          """transform(sequence(1, size(cuts) + 1), k ->
            |  substring(text,
            |    (CASE WHEN k = 1 THEN 0 ELSE element_at(cuts, k - 1) END) + 1,
            |    (CASE WHEN k = size(cuts) + 1 THEN n ELSE element_at(cuts, k) END)
            |      - (CASE WHEN k = 1 THEN 0 ELSE element_at(cuts, k - 1) END)))"""
            .stripMargin))
        // length/fp are computed INSIDE the transform, so the generate
        // emits 16-byte structs, never the chunk text itself — the
        // chunk strings die in the projection and only scalars reach
        // the explode and the output sort
        .select(col("doc_id"),
          size(col("ch")).cast("long").as("n_chunks"),
          posexplode(expr(
            """transform(ch, x -> struct(
              |  CAST(length(x) AS BIGINT) AS len,
              |  CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) AS fp))"""
              .stripMargin)).as(Seq("i", "cf")))
        .select(col("doc_id"), col("n_chunks"),
          (col("i") + 1).cast("long").as("chunk_idx"),
          col("cf.len").as("chunk_len"), col("cf.fp").as("fp"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    "text_inverted_index" -> ((s, dir) => {
      val cap = 20
      val postings = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => length(x) > 0)).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val byTerm = Window.partitionBy(col("term"))
      val headed = postings
        .withColumn("df", count(lit(1)).over(byTerm))
        .withColumn("cf", sum(col("tf")).over(byTerm))
        .withColumn("rn", row_number().over(byTerm.orderBy(col("doc_id"))))
        .filter(col("rn") <= cap)
      // postings_head is rendered as a comma-joined STRING (doc ids in
      // ascending numeric order): the driver's oracle harness lexsorts
      // then hashes the frame, and array columns are unhashable there —
      // the join keeps the full head verbatim in one scalar cell.
      headed.groupBy(col("term"))
        .agg(max(col("df")).as("df"), max(col("cf")).as("cf"),
          expr("array_join(transform(sort_array(collect_list(doc_id))," +
            " x -> CAST(x AS STRING)), ',')").as("postings_head"))
        .orderBy(col("term"))
    }),

    // BM25 ranked retrieval (Lucene's 1+ idf variant, k1=1.2, b=0.75) —
    // the relevance scorer a corpus-search / hard-negative-mining stage
    // runs over the same postings `text_inverted_index` materializes.
    // The query set is data-derived (first 5 tokens of docs 0..4), so
    // the entry is self-contained on any corpus. Scale shape: ONE
    // corpus explode; the broadcast query-term semi-join cuts the
    // (doc, term) shuffle to query-term hits before any aggregation;
    // df/avgdl/N are K-row / 1-row broadcast frames; per-(query, doc)
    // scores aggregate hit-sized frames only. Cross-engine float
    // determinism: each TERM contribution is rounded onto a 1e-6
    // integer grid (identical double in both engines — all fractional
    // literals forced to double in the oracle), and the per-doc score
    // is the exact BIGINT sum of grid values, so summation order can
    // never flip a hash.
    "text_bm25" -> ((s, dir) => bm25TopK(s, dir, 10)),

    // known-item retrieval eval — the self-retrieval check every
    // search index ships with: each query is derived FROM a known
    // document (its first 5 words — exactly bm25TopK's query set), so
    // that document is the ground-truth answer and its rank is the
    // metric. Per query: the source doc's rank in BM25 top-20 (0 if
    // missed), reciprocal rank as exact BIGINT 10^6 div rank (MRR =
    // mean of rr_u6 — derivable, order-immune), and hit@1/@k flags.
    // Near-dup replicas can legitimately tie the source's score; the
    // deterministic doc_id tiebreak keeps both engines agreeing. Scale
    // shape: the probed BM25 plan + a (queries × k)-row self-join.
    "text_retrieval_eval" -> ((s, dir) => {
      val ranked = bm25TopK(s, dir, 20)
      val qs = t(s, dir, "documents").filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"))
      qs.join(ranked.filter(col("doc_id") === col("q_id"))
          .select(col("q_id"), col("rk")), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("rk"), lit(0L)).as("self_rank"),
          coalesce(expr("1000000 div rk"), lit(0L)).as("rr_u6"),
          coalesce(col("rk") === 1L, lit(false)).as("hit_top1"),
          col("rk").isNotNull.as("hit_topk"))
        .orderBy(col("q_id"))
    }),

    // hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009,
    // k=60) of the two ranking systems this engine already runs: BM25
    // over the documents postings and brute-force cosine over the
    // embeddings (the systems never exchange scores, only RANKS, which
    // is RRF's whole point — no score calibration across modalities).
    // This is the hard-negative-mining / retrieval stage of an LLM data
    // pipeline: lexical recall catches literal matches, dense recall
    // catches paraphrases, and the fusion is what's actually indexed.
    // Scale shape: all corpus-scale work lives in the two upstream
    // retrieval shapes (each already probed); the fusion itself joins
    // two (queries × k)-row frames — a full outer join on (q_id, id)
    // over K-sized inputs, broadcastable at any corpus size. The rank
    // contribution 10^6 div (60 + rank) is exact BIGINT division in
    // both engines, so fused scores (and thus the fused order) can
    // never drift on a float.
    "text_rrf_fusion" -> ((s, dir) => {
      val lex = bm25TopK(s, dir, 20)
        .select(col("q_id"), col("doc_id").as("id"), col("rk").as("rk_lex"))
      val sem = Similarity.bruteForceTopK(s, dir, qMax = 5, k = 20)
        .select(col("q_id"), col("vec_id").as("id"), col("rk").as("rk_sem"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("rrf_u").desc, col("id"))
      lex.join(sem, Seq("q_id", "id"), "full_outer")
        .withColumn("rrf_u",
          coalesce(expr("1000000 div (60 + rk_lex)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rk_sem)"), lit(0L)))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("rk").cast("long").as("rk"),
          col("id").as("doc_id"), col("rrf_u"),
          coalesce(col("rk_lex"), lit(0L)).as("rk_lex"),
          coalesce(col("rk_sem"), lit(0L)).as("rk_sem"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // tokenizer vocabulary coverage — the OOV analysis that sizes a
    // word-level vocab: for candidate sizes K ∈ {10, 20, 1000} (sized so the curve is
    // non-degenerate on the bundled corpus, whose vocab is ~31 types), what
    // fraction of the corpus' TOKEN MASS the top-K words capture and
    // how much is out-of-vocabulary. One corpus word-count aggregation
    // (map-side combinable, the wordCounts pass the BPE family shares);
    // everything after is vocab-sized — the global frequency rank runs
    // over the VOCAB (MBs at 100 TB corpus scale), never the corpus,
    // and even so it is the two-level DistRank form (count-band ×
    // first-byte shards), not a single-partition window: a web-scale
    // vocab is 10⁷–10⁸ types and the hapax band alone would be one
    // multi-GB sort task (measured either way in the r9
    // `vocab_rank_scale` probe). The word-count frame is checkpointed
    // so the rank census re-reads blocks, not the corpus explode.
    // Coverage ratios ride the exact 1e-6 grid; ties
    // in frequency break on the raw [a-z0-9]+ word bytes, identical
    // binary order in both engines.
    "text_vocab_coverage" -> ((s, dir) => {
      val wc = wordCounts(s, dir).materialize(false)
      val ranked = DistRank.rowNumber(s, wc,
        DistRank.countDescWordShard(col("wc"), col("w")),
        Seq(col("wc").desc, col("w")), "rn")
      val tot = wc.agg(sum(col("wc")).as("tokens_total"),
        count(lit(1)).as("n_types"))
      ranked.select(col("wc"), col("rn"))
        .crossJoin(broadcast(tot))
        .withColumn("k", explode(array(Seq(10L, 20L, 1000L).map(lit): _*)))
        .filter(col("rn") <= col("k"))
        .groupBy(col("k"), col("n_types"), col("tokens_total"))
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("wc")).as("tokens_covered"))
        .select(col("k"), col("n_types"), col("tokens_total"),
          col("n_vocab"), col("tokens_covered"),
          ratioRound(col("tokens_covered"), col("tokens_total"), 6)
            .as("coverage"),
          (col("tokens_total") - col("tokens_covered")).as("oov_tokens"))
        .orderBy(col("k"))
    }),

    // Zipf-law fit of the word-frequency distribution — the corpus
    // NATURALNESS statistic: log-frequency regressed on log-rank slopes
    // ≈ −1 for natural language; a strong deviation is the
    // synthetic/garbage/boilerplate signal a corpus profile reports
    // next to the entropy and repetition scores. Same two-level
    // distributed rank as text_vocab_coverage (one corpus word-count
    // pass, checkpointed; shard-sized sorts, no single-partition
    // window); the regression sums 2·|vocab| doubles —
    // rounded at 4, the q_agg_regr precedent for cross-engine regr_*.
    "text_zipf_fit" -> ((s, dir) => {
      val ranked = DistRank.rowNumber(s,
        wordCounts(s, dir).materialize(false),
        DistRank.countDescWordShard(col("wc"), col("w")),
        Seq(col("wc").desc, col("w")), "rank")
      ranked.agg(
        count(lit(1)).as("n_types"),
        sum(col("wc")).as("n_tokens"),
        round(regr_slope(log(col("wc")), log(col("rank"))), 4)
          .as("zipf_slope"),
        round(regr_intercept(log(col("wc")), log(col("rank"))), 4)
          .as("zipf_intercept"),
        round(regr_r2(log(col("wc")), log(col("rank"))), 4).as("r2"))
    }),

    // BPE pair statistics — the inner loop of byte-pair-encoding
    // tokenizer training: the weighted adjacent-pair counts whose argmax
    // is the next merge. The pivotal scale property: pair counting runs
    // over the DISTINCT-WORD vocabulary weighted by word frequency, not
    // over the corpus — one corpus-wide (word → count) aggregation
    // (map-side combinable, ~word-sized rows), then all pair work is
    // vocab-sized. At 100 TB the vocab is MBs while the corpus is TBs,
    // which is exactly why real BPE trainers count over the vocab.
    "text_bpe_pairs" -> ((s, dir) => {
      val words = wordCounts(s, dir)
      words.filter(length(col("w")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    }),

    // the SECOND BPE iteration — `text_bpe_pairs` is the argmax input,
    // this applies that merge to the vocabulary and recounts: symbol
    // sequences ride as '~'-separated strings (words are [a-z0-9]+ so
    // the separator can't occur in a symbol), the merge is plain
    // non-overlapping left-to-right string replace (identical semantics
    // in both engines, and safe here because iteration 1 merges over
    // single-char symbols — no multi-char symbol exists yet for the
    // pattern to straddle; a further iteration would switch to a
    // boundary-anchored '~a~' encoding), and the new pair counts come
    // off the merged sequences. Still vocab-sized work end-to-end; the
    // 1-row argmax broadcasts.
    "text_bpe_merge" -> ((s, dir) => {
      val words = wordCounts(s, dir).filter(length(col("w")) >= 2)
      val top = topMergePair(words, "merge_applied")
      words
        .select(col("wc"),
          concat_ws("~", split(col("w"), "")).as("sym"))
        .crossJoin(broadcast(top))
        .withColumn("sym2", expr(
          "replace(sym, replace(merge_applied, ' ', '~')," +
            " replace(merge_applied, ' ', ''))"))
        .filter(size(split(col("sym2"), "~")) >= 2)
        .select(col("wc"), col("merge_applied"), explode(expr(
          "transform(sequence(1, size(split(sym2, '~')) - 1)," +
            " i -> concat(element_at(split(sym2, '~'), i), ' '," +
            " element_at(split(sym2, '~'), i + 1)))")).as("pair"))
        .groupBy(col("merge_applied"), col("pair"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    }),

    // tokenizer fertility audit — tokens-per-word and chars-per-token
    // per language under the trained merges (here: the top-1 BPE merge,
    // text_bpe_merge's own argmax — with a full merge table the plan is
    // identical, only the broadcast replace-list grows). Fertility is
    // THE number a multilingual tokenizer is judged by: a language
    // whose words shatter into many symbols pays more context budget
    // per sentence. Frequency-weighted over the per-language DISTINCT
    // word vocabulary — corpus touched once for the (lang, word)
    // counts, everything after is vocab-sized (why real BPE evals
    // scale); ratios on the pure-BIGINT 1e-6 grid.
    "text_bpe_fertility" -> ((s, dir) => {
      val wl = t(s, dir, "documents")
        .select(col("lang"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => length(x) > 0)).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wc"))
        .materialize(false) // vocab×langs-sized; 2 consumers
      val top = topMergePair(
        wl.groupBy(col("w")).agg(sum(col("wc")).as("wc")), "mrg")
      wl.crossJoin(broadcast(top))
        .withColumn("sym2", expr(
          "replace(concat_ws('~', split(w, ''))," +
            " replace(mrg, ' ', '~'), replace(mrg, ' ', ''))"))
        .withColumn("n_sym", size(split(col("sym2"), "~")).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("wc")).as("word_mass"),
          sum(col("wc") * col("n_sym")).as("token_mass"),
          sum(col("wc") * length(col("w")).cast("long")).as("char_mass"))
        .withColumn("fertility",
          ratioRound(col("token_mass"), col("word_mass"), 6))
        .withColumn("chars_per_token",
          ratioRound(col("char_mass"), col("token_mass"), 6))
        .orderBy(col("lang"))
    }),

    // Count-Min Sketch heavy hitters (d=4 rows × w=1024 md5-derived
    // buckets): the FIXED-SIZE frequency summary a streaming/merging
    // pipeline keeps when the vocabulary itself is too big to hold —
    // the sketch is 4096 cells no matter the corpus, cells merge by
    // addition across shards, and est(term) = min over rows of its
    // cell. Here the estimates are joined back against exact counts
    // for the top-20 terms so the CMS overestimate guarantee
    // (est ≥ true, equality when a term's 4 cells are collision-free)
    // is driver-checked cross-engine, not just asserted. Scale shape:
    // one vocab-sized aggregation feeds the sketch; cell build and
    // estimate join are sketch-sized (broadcast).
    "text_cms_topk" -> ((s, dir) => {
      import graft.functions.HashExpressions.md5Bucket
      val words = wordCounts(s, dir)
      val seeds = array((0 to 3).map(i => lit(i.toString)): _*)
      def bucket(sd: Column, w: Column): Column =
        md5Bucket(concat(sd, lit(":"), w), 1024)
      val cells = words
        .select(col("w"), col("wc"), explode(seeds).as("sd"))
        .groupBy(col("sd"), bucket(col("sd"), col("w")).as("b"))
        .agg(sum(col("wc")).as("m"))
      val top = words.orderBy(col("wc").desc, col("w")).limit(20)
      top
        .select(col("w"), col("wc"), explode(seeds).as("sd"))
        .withColumn("b", bucket(col("sd"), col("w")))
        .join(broadcast(cells), Seq("sd", "b"))
        .groupBy(col("w"), col("wc")).agg(min(col("m")).as("cms_est"))
        .select(col("w").as("term"), col("wc").as("n"), col("cms_est"))
        .orderBy(col("n").desc, col("term"))
    }),

    // pairwise vocabulary Jaccard between sources — the corpus-mixture
    // diagnostic that flags mirror/scraped-twice sources before dedup
    // ever runs (two crawls of the same site share vocabulary long
    // before they share exact documents). One distinct (source, word)
    // pass (map-side combinable), per-source set sizes, then the
    // intersection via a word-keyed self-join with s1 < s2 — the
    // shuffle key is the word, so the join is vocab-sized, and each
    // word contributes at most |sources(word)|² pair rows. With S
    // sources that bound is S² per word; S here is catalog-sized
    // (tens–thousands), so the pair frame stays tiny relative to the
    // corpus — at web scale (millions of domains) the same question is
    // answered with MinHash source signatures (the dedup_minhash_lsh
    // machinery keyed by source instead of doc). Union size by
    // inclusion–exclusion, never materialized.
    "text_source_similarity" -> ((s, dir) => {
      val sw = t(s, dir, "documents")
        .select(col("source"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            w => length(w) > 0)).as("w"))
        .distinct()
      val sizes = sw.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val inter = sw.join(sw.select(col("source").as("s2"), col("w")),
          Seq("w"))
        .filter(col("source") < col("s2"))
        .groupBy(col("source"), col("s2"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sizes), "source")
        .join(broadcast(sizes.select(col("source").as("s2"),
          col("sz").as("sz2"))), "s2")
        .select(col("source").as("src_a"), col("s2").as("src_b"),
          col("sz").as("n_a"), col("sz2").as("n_b"), col("n_common"),
          ratioRound(col("n_common"),
            col("sz") + col("sz2") - col("n_common"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
        .limit(30)
    }),

    // PMI collocations — the phrase-mining pass a tokenizer/embedding
    // pipeline runs to promote "new york"-style bigrams to single
    // units (word2vec's phrase pass). PMI = ln P(x,y)/(P(x)P(y)),
    // computed as ln(c_xy)+ln(N)−ln(c_x)−ln(c_y): the log-sum form
    // never overflows BIGINT at any corpus size (c_xy·N would at
    // ~10¹³ tokens) and is written in the IDENTICAL expression shape
    // in both engines, rounded at 4 (the zipf_fit libm precedent).
    // Shapes: adjacent-pair explode → map-side-combinable bigram
    // counts; unigram counts are the shared wordCounts pass joined
    // twice (vocab-sized, word-keyed); min-support 10 prunes the
    // hapax tail BEFORE the joins.
    "text_collocations" -> ((s, dir) => {
      val bi = t(s, dir, "documents")
        .select(filter(split(lower(col("text")), "[^a-z0-9]+"),
          w => length(w) > 0).as("ws"))
        .filter(size(col("ws")) >= 2) // sequence(1,0) would run BACKWARD
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> " +
            "struct(ws[i-1] AS x, ws[i] AS y))")).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 10)
      val uni = wordCounts(s, dir)
      val tot = uni.agg(sum(col("wc")).as("n_tok"))
      bi.join(uni.select(col("w").as("x"), col("wc").as("c_x")), "x")
        .join(uni.select(col("w").as("y"), col("wc").as("c_y")), "y")
        .crossJoin(broadcast(tot))
        .select(col("x"), col("y"), col("c_xy"),
          round(log(col("c_xy")) + log(col("n_tok")) -
            log(col("c_x")) - log(col("c_y")), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("x"), col("y"))
        .limit(15)
    }),

    // the FULL BPE training loop (Sennrich et al. 2016, arXiv:1508.07909)
    // — text_bpe_pairs/merge unroll iterations 1-2; this runs SIX greedy
    // rounds and reports the learned merge table WITH the corpus token
    // mass after each round, making the compression trajectory (the
    // reason BPE exists) a measured, oracle-checked output. Symbol
    // sequences ride as BOUNDARY-ANCHORED '~'-strings ('~h~e~y~'): with
    // multi-char symbols in play from round 2 on, the anchored pattern
    // '~a~b~' can never straddle a symbol boundary the way the
    // unanchored form could. Merge application is leftmost
    // non-overlapping replace — identical semantics in Spark and DuckDB
    // (the text_bpe_merge rule, now load-bearing for repeated-symbol
    // runs: '~a~a~a~' merges its FIRST pair only — stated tie rule,
    // same both engines).
    //
    // Scale shape: the corpus collapses to the frequency-weighted
    // distinct-word vocab ONCE (the BPE-family invariant — training
    // never touches corpus text again); each round is one vocab-sized
    // pair count + a 1-ROW argmax through the toLocal contract + one
    // vocab-sized replace, checkpointed so round k+1 reads blocks, not
    // the round-k lineage. 6 rounds ⇒ ~12 vocab-sized jobs at ANY SF.
    "text_bpe_train" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val out = bpeTrainMerges(s, dir, 6)
      s.createDataFrame(
          out.map(t => Row(t._1, t._2, t._3, t._4)).toList.asJava,
          StructType(Seq(StructField("round", LongType, false),
            StructField("pair", StringType, false),
            StructField("n", LongType, false),
            StructField("token_mass", LongType, false))))
        .orderBy(col("round"))
    }),

    // the ENCODE step — what a pipeline actually runs per document once
    // training is done: apply the full learned merge table (the 6-round
    // text_bpe_train output) to the per-language vocab and report
    // fertility / chars-per-token per language under it. The corpus is
    // touched once for the (lang, word) counts (the text_bpe_fertility
    // invariant — encoding evals are vocab-sized, which is why they
    // scale); the merge table is a 6-row driver constant applied as 6
    // chained replaces in rank order, the real tokenizer's merge
    // priority. Ratios on the pure-BIGINT 1e-6 grid.
    "text_bpe_encode" -> ((s, dir) => {
      val merges = bpeTrainMerges(s, dir, 6).map(_._2)
      val wl = t(s, dir, "documents")
        .select(col("lang"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            x => length(x) > 0)).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wc"))
      val seg0 = "concat('~', concat_ws('~', split(w, '')), '~')"
      val segExpr = merges.foldLeft(seg0) { (acc, pair) =>
        val Array(a, b) = pair.split(" ")
        s"replace($acc, '~$a~$b~', '~$a$b~')"
      }
      wl.withColumn("n_sym",
          expr(s"size(filter(split($segExpr, '~'), x -> length(x) > 0))")
            .cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("wc")).as("word_mass"),
          sum(col("wc") * col("n_sym")).as("token_mass"),
          sum(col("wc") * length(col("w")).cast("long")).as("char_mass"))
        .withColumn("fertility",
          ratioRound(col("token_mass"), col("word_mass"), 6))
        .withColumn("chars_per_token",
          ratioRound(col("char_mass"), col("token_mass"), 6))
        .orderBy(col("lang"))
    }),

    // LINE-level boilerplate dedup (CCNet arXiv:1911.00359 §3.1 /
    // RefinedWeb arXiv:2306.01116 dedup stage): a line duplicated
    // across ≥2 DISTINCT documents is boilerplate (headers, nav bars,
    // license blurbs) and is dropped from every doc that carries it —
    // the pass that runs BEFORE whole-doc near-dup at corpus scale.
    // The word-salad corpus has no newlines, so a "line" is the
    // deterministic 8-word chunk (pipe_chunk's grid at stride = width);
    // real deployments swap the splitter, the plumbing is identical.
    //
    // Scale shape: only 32-hex md5 line keys ever ride an exchange —
    // the corpus text stays at the scan. Pass 1 is a map-side-combined
    // groupBy(line_hash) distinct-doc count (shuffle = one row per
    // distinct (hash, doc) pair); the boilerplate set joins back by
    // hash; the per-doc rebuild aggregates (line_no, hash) structs,
    // K-bounded by the doc's own line count. The kept-content checksum
    // chains the KEPT line hashes in line order, so the scrubbed text
    // is pinned without the oracle ever re-concatenating text bodies.
    "text_line_dedup" -> ((s, dir) => {
      val w = 8
      val lines = t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > 0).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(w))).as("st"))
        .select(col("doc_id"),
          expr(s"st div $w").cast("long").as("line_no"),
          md5(array_join(expr(s"slice(toks, st + 1, $w)"), " ")).as("h"))
      val boiler = lines.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("h"), lit(true).as("dup"))
      lines.join(boiler, Seq("h"), "left")
        .select(col("doc_id"), col("line_no"), col("h"),
          coalesce(col("dup"), lit(false)).as("dup"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("dup").cast("long")).as("n_dup_lines"),
          md5(concat_ws("", expr(
            "transform(filter(array_sort(collect_list(struct(line_no, h, dup)))," +
              " x -> NOT x.dup), x -> x.h)"))).as("kept_md5"))
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          ratioRound(col("n_dup_lines"), col("n_lines"), 6).as("dup_line_frac"),
          col("kept_md5"))
        .orderBy(col("doc_id"))
    })
  )

  /** Corpus → (distinct word, frequency): the one corpus-wide pass the
    * BPE family shares; everything downstream is vocab-sized. */
  /** Gopher rule counters + per-rule bits + `passes_gopher`, appended to
    * the input frame's columns (every input column survives, so callers
    * can gate and carry lang/text through). Shared by `text_gopher_rules`
    * and the incremental-maintenance chain. The rule SEMANTICS
    * (≥ 2 DISTINCT stopwords present) is Gopher's; the word list is the
    * corpus-calibrated stopEn set — the paper's exact 8 words target
    * crawled web English, and a faithful gate must use a list its
    * corpus can actually contain. */
  private[graft] def gopherFrame(d: DataFrame): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), x => length(x) > 0)
    // the '...' char-count delta is always a multiple of 3 (replace
    // removes whole occurrences), so the div-3 is exact and the long
    // cast lossless — n_sym stays BIGINT like its oracle mirror
    val nSym = ((length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long") +
      ((length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))).cast("long") / 3)
        .cast("long"))
    val nStop = stopEn.map(w =>
      when(lower(col("text")).rlike("\\b" + w + "\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    d.withColumn("n_words", size(words).cast("long"))
      .withColumn("sum_word_len",
        length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
      .withColumn("n_alpha",
        size(filter(words, x => x.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_sym", nSym)
      .withColumn("n_stop_distinct", nStop)
      .withColumn("r_word_count", col("n_words").between(50L, 100000L))
      .withColumn("r_mean_len",
        col("sum_word_len") >= col("n_words") * 3L &&
          col("sum_word_len") <= col("n_words") * 10L)
      .withColumn("r_symbol", col("n_sym") * 10L <= col("n_words"))
      .withColumn("r_alpha", col("n_alpha") * 5L >= col("n_words") * 4L)
      .withColumn("r_stopwords", col("n_stop_distinct") >= 2L)
      .withColumn("passes_gopher",
        col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
          col("r_alpha") && col("r_stopwords"))
  }

  /** BM25 top-k per query (Lucene's 1+ idf variant, k1=1.2, b=0.75) —
    * shared by `text_bm25` (k=10) and `text_rrf_fusion` (k=20). See the
    * `text_bm25` entry's scaladoc for the scale shape and the 1e-6
    * integer-grid float-determinism argument. */
  private[ext] def bm25TopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val d = t(s, dir, "documents")
    def toks(df: DataFrame) = df.select(col("doc_id"),
      explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
        x => length(x) > 0)).as("term"))
    val qterms = d.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"),
        explode(slice(filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => length(x) > 0), 1, 5)).as("term"))
      .distinct()
    // doc length is a PER-ROW expression (array size), not an
    // explode+groupBy — one corpus-wide aggregation less; only docs
    // with ≥1 token count (the explode-side definition of "document")
    // dl feeds TWO consumers (the corpus stats and the per-doc score
    // join) and hits feeds TWO more (df census + score chain) — without
    // materialization each consumer re-runs the corpus tokenize/explode,
    // the dominant cost of the whole ranker (the dedup_minhash_
    // calibration shared-scan precedent). Both frames are narrow
    // (ids + longs, never text), so the checkpoint stores KBs at this
    // SF and stays doc-count-sized, not token-sized, at any corpus.
    val dl = d.select(col("doc_id"),
        size(filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => length(x) > 0)).cast("long").as("dl"))
      .filter(col("dl") >= 1)
      .materialize(false)
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val hits = toks(d)
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .materialize(false)
    val dfr = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_u6").desc, col("doc_id"))
    hits
      .join(broadcast(dfr), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), "term")
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("c_u", round(col("idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))) * lit(1e6))
        .cast("long"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c_u")).as("score_u6"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("score_u6"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Per-doc language-ID frame (doc_id, labeled_lang, hits_*, pred_lang):
    * the n-gram/stopword-heuristic classifier — shared by text_langid
    * (per-doc output) and text_langid_eval (confusion matrix), so the
    * classifier under eval is the one that ships. */
  private def langidFrame(s: SparkSession, dir: String): DataFrame = {
    val scores = Seq(
      "en" -> stopwordHits(col("text"), stopEn),
      "es" -> stopwordHits(col("text"), stopEs),
      "de" -> stopwordHits(col("text"), stopDe),
      "fr" -> stopwordHits(col("text"), stopFr))
    t(s, dir, "documents").select(
        Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
          scores.map { case (l, sc) => sc.cast("long").as(s"hits_$l") }: _*)
      .withColumn("pred_lang",
        when(greatest(col("hits_es"), col("hits_de"), col("hits_fr")) <= col("hits_en"), "en")
          .when(greatest(col("hits_de"), col("hits_fr")) <= col("hits_es"), "es")
          .when(col("hits_fr") <= col("hits_de"), "de")
          .otherwise("fr"))
  }

  /** The BPE trainer's next merge: argmax over frequency-weighted
    * adjacent char-pair counts of a distinct-word (w, wc) frame —
    * shared by text_bpe_merge (applies it) and text_bpe_fertility
    * (audits under it), so the merge audited IS the merge trained. */
  private def topMergePair(words: DataFrame, out: String): DataFrame =
    words.filter(length(col("w")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1)," +
          " i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1)
      .select(col("pair").as(out))

  /** Winnowing selection (MOSS, k=3 word-grams, window w=4): doc_id,
    * n_grams, and `sel` = the distinct (h, pos) window-minimum
    * fingerprints. Shared by `text_winnowing` (reports density/checksum)
    * and `dedup_winnowing` (collides fingerprints across docs). One
    * native [[graft.functions.HashExpressions.WinnowSel]] pass per row
    * since r12 (the HOF transform/slice/array_min chain it replaces paid
    * interpreted lambda frames per window and held both winnowing bench
    * rows at ~2.9s/2.1s; CodegenSpec pins value equality against that
    * chain) — still zero shuffle. */
  private[ext] def winnowFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("wsel",
        graft.functions.HashExpressions.winnow_sel(col("text"), 3, 4))
      .withColumn("n_grams", col("wsel.n_grams"))
      .filter(col("n_grams") >= 4)
      .withColumn("sel", col("wsel.sel"))

  /** DuckDB mirror of [[winnowFrame]] through the distinct-fingerprint
    * `sel` CTE (doc_id, wkey, wh) — shared WITH-prefix for the two
    * winnowing oracles. */
  private val winnowOracleCtes: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, pos,
      |    md5(word || ' ' ||
      |        lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' ||
      |        lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos)) AS h
      |  FROM words
      |  QUALIFY lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos)
      |    IS NOT NULL
      |), ng AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      |  FROM grams GROUP BY 1 HAVING count(*) >= 4
      |), wins AS (
      |  SELECT doc_id,
      |    min(h || lpad(CAST(pos AS VARCHAR), 12, '0'))
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
      |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
      |  FROM grams
      |), sel AS (
      |  SELECT DISTINCT doc_id, wkey, substr(wkey, 1, 32) AS wh
      |  FROM wins WHERE wn = 4
      |)""".stripMargin

  /** Generated DuckDB mirror of [[bpeTrainMerges]]: WITH-prefix ending
    * after round-6's m/mass CTEs (no trailing comma). Shared by the
    * train and encode oracles so the learned table cannot drift. */
  private lazy val bpeTrainOracleCtes: String = {
    val blocks = (1 to 6).map { k =>
      s"""sy$k AS (
         |  SELECT wc, list_filter(string_split(seg, '~'),
         |    x -> len(x) > 0) AS a
         |  FROM seg${k - 1}
         |), pc$k AS (
         |  SELECT a[CAST(i AS INTEGER)] || ' ' ||
         |    a[CAST(i AS INTEGER) + 1] AS pr, sum(wc) AS n
         |  FROM sy$k, unnest(generate_series(1, len(a) - 1)) AS t(i)
         |  GROUP BY 1
         |), m$k AS MATERIALIZED (
         |  SELECT pr AS pair, CAST(n AS BIGINT) AS n FROM pc$k
         |  ORDER BY n DESC, pr LIMIT 1
         |), seg$k AS MATERIALIZED (
         |  SELECT wc,
         |    replace(seg, '~' || replace(m.pair, ' ', '~') || '~',
         |            '~' || replace(m.pair, ' ', '') || '~') AS seg
         |  FROM seg${k - 1}, m$k m
         |), mass$k AS (
         |  SELECT CAST(sum(wc * len(list_filter(string_split(seg, '~'),
         |    x -> len(x) > 0))) AS BIGINT) AS token_mass
         |  FROM seg$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH w AS (
       |  SELECT w, count(*) AS wc FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text),
       |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
       |    FROM documents)
       |  GROUP BY 1 HAVING length(w) >= 2
       |), seg0 AS MATERIALIZED (
       |  SELECT wc,
       |    '~' || array_to_string(string_split(w, ''), '~') || '~' AS seg
       |  FROM w
       |), $blocks""".stripMargin
  }

  /** The 6-round greedy BPE training loop shared by `text_bpe_train`
    * (reports it) and `text_bpe_encode` (applies it): returns
    * (round, pair, weighted count, corpus token mass after the merge).
    * Each round is one vocab-sized pair count + a 1-ROW argmax through
    * the toLocal contract + one vocab-sized checkpointed replace; a
    * degenerate vocab that runs out of pairs stops early (the oracle's
    * round-k rows vanish the same way — empty mK empties segK and every
    * later round). */
  private[ext] def bpeTrainMerges(s: SparkSession, dir: String,
      rounds: Int): Seq[(Long, String, Long, Long)] = {
    var cur = wordCounts(s, dir).filter(length(col("w")) >= 2)
      .select(col("wc"),
        concat(lit("~"), concat_ws("~", split(col("w"), "")), lit("~"))
          .as("seg"))
      .materialize(true)
    val symsOf = "filter(split(seg, '~'), x -> length(x) > 0)"
    val massCol = sum(col("wc") * expr(s"size($symsOf)").cast("long"))
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val masses = scala.collection.mutable.ArrayBuffer[Long]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // the PREVIOUS round's token-mass census rides this round's
      // pair-count job via observe() instead of being its own driver
      // action (r16, guide §1.5 job rounds: 3 jobs/round → 2). Same
      // expression over the same materialized frame — identical values;
      // the observe node sits below the pair filter, so it sees every
      // row of cur exactly as the standalone agg did.
      val obs = if (out.nonEmpty) Some(org.apache.spark.sql.Observation())
        else None
      val scanned = obs.map(o => cur.observe(o, massCol.as("m"))).getOrElse(cur)
      val top = scanned
        // sequence(1, 0) runs BACKWARD (the text_collocations rule) —
        // fully-merged single-symbol words must not reach the zip
        .filter(expr(s"size($symsOf) >= 2"))
        .select(col("wc"), explode(expr(
          s"transform(sequence(1, size($symsOf) - 1)," +
            s" i -> concat(element_at($symsOf, i), ' '," +
            s" element_at($symsOf, i + 1)))")).as("pr"))
        .groupBy(col("pr")).agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pr")).limit(1)
        .collect() // 1-row argmax — the toLocal K-row contract
      // AQE's empty-relation propagation removes the CollectMetrics
      // node when the pair frame comes up empty (the exhausted-vocab
      // path: every word fully merged), so the observed metric can be
      // legitimately ABSENT — reproduce the census with the standalone
      // agg over the same frame (one extra job, exhaustion round only;
      // same expression, same frame, identical value)
      obs.foreach(o => masses += o.get.get("m").map(_.asInstanceOf[Long])
        .getOrElse(cur.agg(massCol.as("m")).collect()(0).getLong(0)))
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val Array(a, b) = pair.split(" ")
        cur = cur.withColumn("seg",
            expr(s"replace(seg, '~$a~$b~', '~$a$b~')"))
          .materialize(true)
        out += ((r.toLong, pair, top(0).getLong(1)))
        r += 1
      }
    }
    // the FINAL merge's mass has no later pair-count job to ride — one
    // standalone census (the only one left of the former rounds×1)
    if (out.size > masses.size)
      masses += cur.agg(massCol.as("m")).collect()(0).getLong(0)
    out.toSeq.zip(masses.toSeq).map { case ((rd, p, n), m) => (rd, p, n, m) }
  }

  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
        x => length(x) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

  /** DuckDB mirror of [[topMergePair]]: p1/top1 CTEs over a (w, wc)
    * CTE named `src` (already length-filtered), binding the argmax to
    * `alias` — spliced into the text_bpe_merge and text_bpe_fertility
    * oracles so the trained merge cannot drift between them. */
  private def topMergeOracleCtes(src: String, alias: String): String =
    // assembled without margin pipes: this fragment is spliced into
    // outer oracle strings BEFORE their stripMargin runs, and a line
    // starting with `|| substr` would be eaten as a margin there
    s"p1 AS (\n" +
      "  SELECT substr(w, CAST(i AS INTEGER), 1) || ' ' || " +
      "substr(w, CAST(i AS INTEGER) + 1, 1) AS pair, wc\n" +
      s"  FROM $src, unnest(generate_series(1, length(w) - 1)) AS t(i)\n" +
      "), top1 AS (\n" +
      s"  SELECT pair AS $alias FROM (\n" +
      "    SELECT pair, sum(wc) AS n FROM p1 GROUP BY 1\n" +
      "    ORDER BY n DESC, pair LIMIT 1)\n" +
      ")"

  /** Language-ID oracle chain through `pred` (doc_id, labeled_lang,
    * hits_*, pred_lang) — shared by text_langid and text_langid_eval. */
  private val langidOracleCtes: String =
    """WITH h AS (
      |  SELECT doc_id, lang AS labeled_lang,
      |    CAST(length(regexp_extract_all(lower(text),
      |      '\b(the|a|and|of|to|in|is|on|for|with)\b')) AS BIGINT) AS hits_en,
      |    CAST(length(regexp_extract_all(lower(text),
      |      '\b(el|la|de|que|y|en|un|una|es|por)\b')) AS BIGINT) AS hits_es,
      |    CAST(length(regexp_extract_all(lower(text),
      |      '\b(der|die|das|und|ist|von|mit|ein|zu|den)\b')) AS BIGINT) AS hits_de,
      |    CAST(length(regexp_extract_all(lower(text),
      |      '\b(le|la|les|de|et|un|une|est|que|pour)\b')) AS BIGINT) AS hits_fr
      |  FROM documents
      |), pred AS (
      |  SELECT doc_id, labeled_lang, hits_en, hits_es, hits_de, hits_fr,
      |    CASE WHEN greatest(hits_es, hits_de, hits_fr) <= hits_en THEN 'en'
      |         WHEN greatest(hits_de, hits_fr) <= hits_es THEN 'es'
      |         WHEN hits_fr <= hits_de THEN 'de'
      |         ELSE 'fr' END AS pred_lang
      |  FROM h
      |)""".stripMargin

  /** The BM25 oracle CTE chain through `scored` (q_id, doc_id,
    * score_u6, rk) — shared by the text_bm25 and text_rrf_fusion
    * oracles so the two mirrors can never drift. */
  private val bm25OracleCtes: String =
    """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)) AS term
        |  FROM documents
        |), qterms AS (
        |  SELECT DISTINCT doc_id AS q_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)[1:5]) AS term
        |  FROM documents WHERE doc_id < 5
        |), dl AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                         x -> length(x) > 0)) AS BIGINT) AS dl
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                        x -> length(x) > 0)) >= 1
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
        |), hits AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2
        |), dfr AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
        |), contrib AS (
        |  SELECT q.q_id, h.doc_id,
        |    CAST(round(
        |      ln(1 + (s.n_docs - f.df + CAST(0.5 AS DOUBLE))
        |             / (f.df + CAST(0.5 AS DOUBLE)))
        |      * (h.tf * CAST(2.2 AS DOUBLE))
        |      / (h.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |           + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl))
        |      * 1e6) AS BIGINT) AS c_u
        |  FROM hits h
        |  JOIN dfr f USING (term)
        |  JOIN dl l USING (doc_id)
        |  CROSS JOIN stats s
        |  JOIN qterms q USING (term)
        |), scored AS (
        |  SELECT q_id, doc_id, sum(c_u) AS score_u6,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY sum(c_u) DESC, doc_id) AS rk
        |  FROM contrib GROUP BY 1, 2
        |)""".stripMargin

  /** Gopher per-doc counters as an oracle CTE body (everything the
    * rule bits derive from) — shared by the text_gopher_rules and
    * pipe_incremental_e2e oracles so the gate can never drift. */
  private[ext] val gopherOracleM: String =
    """SELECT doc_id,
    CAST(len(list_filter(string_split_regex(text, '\s+'),
      x -> length(x) > 0)) AS BIGINT) AS n_words,
    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
      AS sum_word_len,
    CAST(len(list_filter(
      list_filter(string_split_regex(text, '\s+'),
        x -> length(x) > 0),
      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      + CAST(length(text) - length(replace(text, '...', ''))
          AS BIGINT) // 3 AS n_sym,
    (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\ba\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\bin\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\bis\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\bon\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\bfor\b') THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END
    )::BIGINT AS n_stop_distinct
  FROM documents"""

  /** The composite Gopher pass condition over [[gopherOracleM]]'s
    * columns — integer comparisons only. */
  private[ext] val gopherPassCond: String =
    """(n_words BETWEEN 50 AND 100000
      | AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
      | AND n_sym * 10 <= n_words AND n_alpha * 5 >= n_words * 4
      | AND n_stop_distinct >= 2)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // leftmost-min tie rule is encoded as min over (h || zero-padded
    // pos): fixed-width pad makes string order = numeric order, so the
    // combined key is (h asc, pos asc) — the struct(h, pos) array_min
    // on the Spark side, collapsed into one window-able value
    "text_winnowing" ->
      (winnowOracleCtes +
      """, agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected,
        |    md5(string_agg(wh, '' ORDER BY wh)) AS fp_checksum
        |  FROM sel GROUP BY 1
        |)
        |SELECT ng.doc_id, ng.n_grams, a.n_selected,
        |  CAST((2 * a.n_selected * 1000000 + ng.n_grams)
        |    // (2 * ng.n_grams) AS BIGINT) AS density6,
        |  a.fp_checksum
        |FROM ng JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    "dedup_winnowing" ->
      (winnowOracleCtes +
      """, fp AS (
        |  SELECT DISTINCT doc_id, ('0x' || substr(wh, 1, 15))::BIGINT AS h
        |  FROM sel
        |), sz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY 1
        |), keep AS (
        |  SELECT h FROM fp GROUP BY h HAVING count(*) <= 50
        |), pf AS (
        |  SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM pf a JOIN pf b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |)
        |SELECT p.doc_a, p.doc_b, p.shared, sa.n_fp AS n_a, sb.n_fp AS n_b,
        |  CAST((2 * p.shared * 1000000 + least(sa.n_fp, sb.n_fp))
        |    // (2 * least(sa.n_fp, sb.n_fp)) AS DOUBLE) / 1000000.0 AS score6
        |FROM pairs p
        |JOIN sz sa ON p.doc_a = sa.doc_id
        |JOIN sz sb ON p.doc_b = sb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin),

    "text_quality" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS nt,
        |    CAST(length(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS np,
        |    CAST(length(regexp_extract_all(lower(text),
        |      '\b(the|a|and|of|to|in|is|on|for|with)\b')) AS BIGINT) AS ns
        |  FROM documents)
        |SELECT doc_id, nc AS n_chars, nt AS n_tokens,
        |  CAST((2 * nc * 10000 + greatest(nt, 1)) // (2 * greatest(nt, 1))
        |    AS DOUBLE) / 10000.0 AS avg_token_len,
        |  CAST((2 * np * 1000000 + greatest(nc, 1)) // (2 * greatest(nc, 1))
        |    AS DOUBLE) / 1000000.0 AS punct_ratio,
        |  CAST((2 * ns * 1000000 + greatest(nt, 1)) // (2 * greatest(nt, 1))
        |    AS DOUBLE) / 1000000.0 AS stopword_ratio,
        |  (nc BETWEEN 100 AND 10000
        |   AND CAST(ns AS DOUBLE) / greatest(nt, 1) > 0.01
        |   AND CAST(np AS DOUBLE) / greatest(nc, 1) < 0.2) AS passes_quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "text_gopher_rules" -> (s"""WITH m AS ($gopherOracleM)
        |SELECT doc_id, n_words,
        |  CAST((2 * sum_word_len * 10000 + greatest(n_words, 1))
        |    // (2 * greatest(n_words, 1)) AS DOUBLE) / 10000.0 AS mean_word_len,
        |  CAST((2 * n_sym * 1000000 + greatest(n_words, 1))
        |    // (2 * greatest(n_words, 1)) AS DOUBLE) / 1000000.0 AS symbol_ratio,
        |  CAST((2 * n_alpha * 1000000 + greatest(n_words, 1))
        |    // (2 * greatest(n_words, 1)) AS DOUBLE) / 1000000.0 AS alpha_ratio,
        |  n_stop_distinct,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  (sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10)
        |    AS r_mean_len,
        |  n_sym * 10 <= n_words AS r_symbol,
        |  n_alpha * 5 >= n_words * 4 AS r_alpha,
        |  n_stop_distinct >= 2 AS r_stopwords,
        |  $gopherPassCond AS passes_gopher
        |FROM m ORDER BY doc_id""".stripMargin),

    "text_langid" -> (langidOracleCtes +
      """
        |SELECT doc_id, labeled_lang, hits_en, hits_es, hits_de, hits_fr,
        |  pred_lang
        |FROM pred ORDER BY doc_id""".stripMargin),

    // same pred chain BY REFERENCE; diagonal share = per-class recall
    "text_langid_eval" -> (langidOracleCtes +
      """, conf AS (
        |  SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |  FROM pred GROUP BY 1, 2
        |), tot AS (
        |  SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS n_true
        |  FROM conf GROUP BY 1
        |)
        |SELECT c.labeled_lang, c.pred_lang, c.n,
        |  CAST((2 * c.n * 1000000 + t.n_true) // (2 * t.n_true) AS DOUBLE)
        |    / 1000000.0 AS share
        |FROM conf c JOIN tot t USING (labeled_lang)
        |ORDER BY c.labeled_lang, c.pred_lang""".stripMargin),

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(length(list_filter(string_split_regex(text, '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS ws_tokens,
        |  CAST(length(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |  CAST((2 * CAST(length(text) AS BIGINT) * 10000 +
        |        greatest(length(regexp_extract_all(text,
        |          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 1))
        |    // (2 * greatest(length(regexp_extract_all(text,
        |          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 1))
        |    AS DOUBLE) / 10000.0 AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0)) AS w
        |  FROM documents
        |), counts AS (
        |  SELECT w, count(*) AS c FROM toks GROUP BY 1
        |), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM counts),
        |vocab AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096)
        |SELECT doc_id, count(*) AS n_tok,
        |  round(avg(CASE WHEN v.c IS NOT NULL THEN ln(v.c / tot.tot)
        |                 ELSE ln(0.5 / tot.tot) END), 4) AS avg_logprob
        |FROM toks LEFT JOIN vocab v USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the unigram-model chain (toks/counts/tot/vocab) restated with lang
    // carried through; cutoffs via quantile_cont — the INDEPENDENT
    // route (rank-selection vs quantile function), exact over integer
    // grid scores at binary-exact fractions
    "text_ccnet_bucket" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0)) AS w
        |  FROM documents
        |), counts AS (
        |  SELECT w, count(*) AS c FROM toks GROUP BY 1
        |), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM counts),
        |vocab AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096),
        |scored AS (
        |  SELECT doc_id, lang,
        |    CAST(round(avg(CASE WHEN v.c IS NOT NULL THEN ln(v.c / tot.tot)
        |                        ELSE ln(0.5 / tot.tot) END) * 10000)
        |         AS BIGINT) AS score_m4
        |  FROM toks LEFT JOIN vocab v USING (w) CROSS JOIN tot
        |  GROUP BY doc_id, lang
        |), cuts AS (
        |  SELECT lang, quantile_cont(score_m4, 0.25) AS c25,
        |    quantile_cont(score_m4, 0.75) AS c75
        |  FROM scored GROUP BY lang
        |)
        |SELECT s.lang,
        |  CASE WHEN score_m4 >= c75 THEN 'head'
        |       WHEN score_m4 <= c25 THEN 'tail'
        |       ELSE 'middle' END AS bucket,
        |  count(*) AS n_docs, CAST(sum(score_m4) AS BIGINT) AS sum_m4
        |FROM scored s JOIN cuts USING (lang)
        |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    "text_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
        |  FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> length(x) > 0)) AS w
        |    FROM documents)
        |), cnt AS (
        |  SELECT b, count(*) AS rc,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS tc
        |  FROM toks GROUP BY b
        |), tots AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM cnt),
        |llr AS (
        |  SELECT cnt.b,
        |    ln(CAST(tc + 1 AS DOUBLE) / (ttot + 1024)) -
        |    ln(CAST(rc + 1 AS DOUBLE) / (rtot + 1024)) AS llr
        |  FROM cnt CROSS JOIN tots
        |)
        |SELECT doc_id, count(*) AS n_tok, round(sum(llr), 4) AS dsir
        |FROM toks JOIN llr ON toks.b = llr.b
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0)) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, round(tfidf_raw, 6) AS tfidf
        |FROM (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf_raw,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC, tf.term) AS rk
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0)) AS w
        |  FROM documents
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS cnt FROM toks GROUP BY 1, 2
        |), r AS (
        |  SELECT doc_id, w, cnt,
        |    sum(cnt) OVER (PARTITION BY doc_id) AS n_words,
        |    count(*) OVER (PARTITION BY doc_id) AS n_distinct,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY cnt DESC, w) AS rn
        |  FROM wc
        |)
        |SELECT doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST((2 * (n_words - n_distinct) * 1000000 + n_words)
        |    // (2 * n_words) AS DOUBLE) / 1000000.0 AS dup_word_ratio,
        |  w AS top_word, CAST(cnt AS BIGINT) AS top_cnt,
        |  CAST((2 * cnt * 1000000 + n_words) // (2 * n_words) AS DOUBLE)
        |    / 1000000.0 AS top_word_frac
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "text_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' contact u' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.0.1' ELSE '' END AS t0
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t0,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t0,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrub_md5
        |FROM aug ORDER BY doc_id""".stripMargin,

    "dedup_levenshtein" ->
      """WITH sample AS (
        |  SELECT doc_id, lang, substring(text, 1, 40) AS head40,
        |    n_chars // 100 AS len_bucket
        |  FROM documents WHERE doc_id % 2 = 0
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang, len_bucket
        |    ORDER BY head40, doc_id) AS rn
        |  FROM sample
        |)
        |SELECT least(a.doc_id, b.doc_id) AS doc_a,
        |  greatest(a.doc_id, b.doc_id) AS doc_b,
        |  CAST(levenshtein(a.head40, b.head40) AS BIGINT) AS dist
        |FROM ranked a JOIN ranked b
        |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket
        |  AND b.rn - a.rn BETWEEN 1 AND 32
        |WHERE levenshtein(a.head40, b.head40) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "curation_pipeline" ->
      """WITH hashed AS (
        |  SELECT *, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
        |    row_number() OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |                       ORDER BY doc_id) AS keep
        |  FROM documents
        |), survivors AS (
        |  SELECT * FROM hashed WHERE keep = 1
        |), curated AS (
        |  SELECT *,
        |    CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |      AS n_tok,
        |    (2 * CAST(length(regexp_extract_all(lower(text),
        |        '\b(the|a|and|of|to|in|is|on|for|with)\b')) AS BIGINT) * 1000000
        |     + greatest(length(regexp_extract_all(text, '[A-Za-z0-9]+')), 1))
        |    // (2 * greatest(length(regexp_extract_all(text, '[A-Za-z0-9]+')), 1))
        |      AS stop6
        |  FROM survivors
        |  WHERE n_chars BETWEEN 50 AND 5000
        |    AND length(regexp_extract_all(text, '[A-Za-z0-9]+')) >= 10
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST((2 * CAST(sum(n_chars) AS BIGINT) * 10000 + count(*))
        |    // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_chars,
        |  CAST((2 * CAST(sum(stop6) AS BIGINT) + count(*))
        |    // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_stop_ratio
        |FROM curated GROUP BY lang ORDER BY lang""".stripMargin,

    "text_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0) AS tk
        |  FROM documents
        |), uni AS (
        |  SELECT unnest(tk) AS w FROM toks
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS b
        |  FROM toks
        |), c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
        |c2 AS (SELECT b, count(*) AS c2 FROM bg GROUP BY 1),
        |tot2 AS (SELECT CAST(sum(c2) AS DOUBLE) AS tot FROM c2),
        |top2 AS (SELECT b, c2 FROM c2 ORDER BY c2 DESC, b LIMIT 4096),
        |model AS (
        |  SELECT t.b, t.c2, c1.c1
        |  FROM top2 t JOIN c1 ON c1.w = string_split(t.b, ' ')[1])
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  round(avg(CASE WHEN m.c2 IS NOT NULL
        |    THEN ln(m.c2 / CAST(m.c1 AS DOUBLE))
        |    ELSE ln(0.5 / tot2.tot) END), 4) AS avg_logprob
        |FROM bg LEFT JOIN model m USING (b) CROSS JOIN tot2
        |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,

    // same fold order as the Spark side (sorted distinct chars), so the
    // sums agree to the last ulp of libm log2; round(…,4) absorbs that
    // edge alignment with the Spark expression: DuckDB's
    // string_split('', '') yields [''] (1 "distinct char") where
    // CharEntropy sees 0 code points, and NULL text must stay NULL on
    // both outputs — both spelled out as CASEs so the mirror holds for
    // every input, not just the testdata's non-empty strings
    "text_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), shng AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
        |        || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
        |        || ' ' || tk[i+7])) AS sh
        |  FROM toks
        |), g AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(x), 1, 15))::BIGINT AS gk
        |  FROM shng, unnest(sh) t(x)
        |), fst AS (
        |  SELECT gk, min(doc_id) AS first_doc FROM g GROUP BY gk
        |), novel AS (
        |  SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |  FROM fst GROUP BY 1
        |), totals AS (
        |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams FROM shng
        |  WHERE len(sh) > 0
        |)
        |SELECT t.doc_id, t.n_grams,
        |  coalesce(n.n_novel, 0) AS n_novel,
        |  CAST((coalesce(n.n_novel, 0) * 2000000 + t.n_grams)
        |    // (t.n_grams * 2) AS DOUBLE) / 1000000.0 AS novelty
        |FROM totals t LEFT JOIN novel n USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "text_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, text, string_split(text, '') AS cs FROM documents)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN len(text) = 0 THEN 0
        |       ELSE CAST(len(list_distinct(cs)) AS BIGINT) END AS n_uniq_chars,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN len(text) = 0 THEN 0.0
        |       ELSE
        |  round(coalesce(list_sum(list_transform(list_sort(list_distinct(cs)),
        |    u -> -(len(list_filter(cs, x -> x = u)) / CAST(len(cs) AS DOUBLE))
        |         * log2(len(list_filter(cs, x -> x = u)) / CAST(len(cs) AS DOUBLE)))),
        |    0.0) + 0.0, 4) END AS char_entropy
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_cdc_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_transform(string_split(text, ''),
        |                   x -> CAST(ascii(x) AS BIGINT)) AS codes
        |  FROM documents
        |), cuts AS (
        |  SELECT doc_id, text, n,
        |    list_filter(list_transform(
        |      CASE WHEN n >= 8 THEN generate_series(1, n - 7) ELSE [] END,
        |      i -> CASE WHEN (codes[i]*1 + codes[i+1]*31 + codes[i+2]*961
        |            + codes[i+3]*29791 + codes[i+4]*923521
        |            + codes[i+5]*28629151 + codes[i+6]*887503681
        |            + codes[i+7]*27512614111) % 64 = 0
        |            AND i + 7 < n THEN i + 7 ELSE -1 END),
        |      p -> p >= 0) AS cuts
        |  FROM c
        |), chunks AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(cuts) + 1), k ->
        |      substr(text,
        |        (CASE WHEN k = 1 THEN 0 ELSE cuts[k-1] END) + 1,
        |        (CASE WHEN k = len(cuts) + 1 THEN n ELSE cuts[k] END)
        |          - (CASE WHEN k = 1 THEN 0 ELSE cuts[k-1] END))) AS ch
        |  FROM cuts WHERE n > 0
        |)
        |SELECT doc_id, n_chunks, chunk_idx,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len,
        |  ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS fp
        |FROM (
        |  SELECT doc_id, CAST(len(ch) AS BIGINT) AS n_chunks,
        |    CAST(unnest(generate_series(1, len(ch))) AS BIGINT) AS chunk_idx,
        |    unnest(ch) AS chunk
        |  FROM chunks)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)) AS term
        |  FROM documents
        |), p AS (
        |  SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
        |), w AS (
        |  SELECT term, doc_id, tf,
        |    count(*) OVER (PARTITION BY term) AS df,
        |    sum(tf) OVER (PARTITION BY term) AS cf,
        |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |  FROM p
        |)
        |SELECT term, CAST(max(df) AS BIGINT) AS df, CAST(max(cf) AS BIGINT) AS cf,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings_head
        |FROM w WHERE rn <= 20
        |GROUP BY term ORDER BY term""".stripMargin,

    // every fractional literal is CAST to DOUBLE: DuckDB would otherwise
    // type them DECIMAL and take an exact-decimal route to a DIFFERENT
    // double than Spark's all-double arithmetic (2.2 is not binary-exact)
    // same scored chain BY REFERENCE; self-rank within top-20
    "text_retrieval_eval" -> (bm25OracleCtes +
      """, self AS (
        |  SELECT q_id, rk FROM scored WHERE doc_id = q_id AND rk <= 20
        |), qs AS (SELECT doc_id AS q_id FROM documents WHERE doc_id < 5)
        |SELECT q.q_id,
        |  CAST(coalesce(s.rk, 0) AS BIGINT) AS self_rank,
        |  CAST(coalesce(1000000 // s.rk, 0) AS BIGINT) AS rr_u6,
        |  coalesce(s.rk = 1, false) AS hit_top1,
        |  s.rk IS NOT NULL AS hit_topk
        |FROM qs q LEFT JOIN self s USING (q_id) ORDER BY q.q_id""".stripMargin),

    "text_bm25" -> (bm25OracleCtes + """
        |SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id,
        |  CAST(score_u6 AS BIGINT) AS score_u6
        |FROM scored WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin),

    // RRF fusion: the BM25 CTE chain is shared BY REFERENCE with the
    // text_bm25 oracle (the two can never drift); the dense side is the
    // ann_bruteforce-validated cosine comparison; the fused score is
    // exact BIGINT `//` division — no float anywhere past the two
    // already-validated rankers
    "text_rrf_fusion" -> (bm25OracleCtes + """
        |, lex AS (
        |  SELECT q_id, doc_id AS id, rk AS rk_lex FROM scored WHERE rk <= 20
        |), qv AS (
        |  SELECT vec_id AS q_id, embedding AS q_vec
        |  FROM embeddings WHERE vec_id < 5
        |), sscore AS (
        |  SELECT qv.q_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(qv.q_vec AS DOUBLE[]),
        |                           CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id >= 5
        |), sem AS (
        |  SELECT q_id, id, rk_sem FROM (
        |    SELECT q_id, id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id)
        |        AS rk_sem
        |    FROM sscore) WHERE rk_sem <= 20
        |), fused AS (
        |  SELECT coalesce(l.q_id, s.q_id) AS q_id, coalesce(l.id, s.id) AS id,
        |    coalesce(1000000 // (60 + l.rk_lex), 0)
        |      + coalesce(1000000 // (60 + s.rk_sem), 0) AS rrf_u,
        |    coalesce(l.rk_lex, 0) AS rk_lex, coalesce(s.rk_sem, 0) AS rk_sem
        |  FROM lex l FULL OUTER JOIN sem s ON l.q_id = s.q_id AND l.id = s.id
        |), franked AS (
        |  SELECT q_id, id, rrf_u, rk_lex, rk_sem,
        |    row_number() OVER (PARTITION BY q_id ORDER BY rrf_u DESC, id) AS rk
        |  FROM fused
        |)
        |SELECT q_id, CAST(rk AS BIGINT) AS rk, id AS doc_id,
        |  CAST(rrf_u AS BIGINT) AS rrf_u, CAST(rk_lex AS BIGINT) AS rk_lex,
        |  CAST(rk_sem AS BIGINT) AS rk_sem
        |FROM franked WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin),


    "text_zipf_fit" ->
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1
        |), r AS (
        |  SELECT wc, row_number() OVER (ORDER BY wc DESC, w) AS rank FROM w
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(wc) AS BIGINT) AS n_tokens,
        |  round(regr_slope(ln(wc), ln(rank)), 4) AS zipf_slope,
        |  round(regr_intercept(ln(wc), ln(rank)), 4) AS zipf_intercept,
        |  round(regr_r2(ln(wc), ln(rank)), 4) AS r2
        |FROM r""".stripMargin,

    "text_vocab_coverage" ->
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1
        |), r AS (
        |  SELECT wc, row_number() OVER (ORDER BY wc DESC, w) AS rn FROM w
        |), tot AS (
        |  SELECT CAST(sum(wc) AS BIGINT) AS tokens_total,
        |    CAST(count(*) AS BIGINT) AS n_types
        |  FROM w
        |), ks AS (
        |  SELECT unnest([10, 20, 1000]) AS k
        |), g AS (
        |  SELECT CAST(k AS BIGINT) AS k, n_types, tokens_total,
        |    CAST(count(*) AS BIGINT) AS n_vocab,
        |    CAST(sum(wc) AS BIGINT) AS tokens_covered
        |  FROM r CROSS JOIN tot CROSS JOIN ks WHERE rn <= k
        |  GROUP BY 1, 2, 3
        |)
        |SELECT k, n_types, tokens_total, n_vocab, tokens_covered,
        |  CAST((2 * tokens_covered * 1000000 + tokens_total)
        |    // (2 * tokens_total) AS DOUBLE) / 1000000.0 AS coverage,
        |  tokens_total - tokens_covered AS oov_tokens
        |FROM g ORDER BY k""".stripMargin,

    "text_bpe_pairs" ->
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1
        |), p AS (
        |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
        |  FROM w, unnest(generate_series(1, length(w) - 1)) AS t(i)
        |  WHERE length(w) >= 2
        |)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "text_bpe_merge" ->
      s"""WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1 HAVING length(w) >= 2
        |), ${topMergeOracleCtes("w", "merge_applied")}, m AS (
        |  SELECT wc, merge_applied,
        |    replace(array_to_string(string_split(w, ''), '~'),
        |            replace(merge_applied, ' ', '~'),
        |            replace(merge_applied, ' ', '')) AS sym2
        |  FROM w CROSS JOIN top1
        |), syms AS (
        |  SELECT wc, merge_applied, string_split(sym2, '~') AS a
        |  FROM m WHERE len(string_split(sym2, '~')) >= 2
        |), p2 AS (
        |  SELECT wc, merge_applied,
        |    a[CAST(i AS INTEGER)] || ' ' || a[CAST(i AS INTEGER) + 1] AS pair
        |  FROM syms, unnest(generate_series(1, len(a) - 1)) AS t(i)
        |)
        |SELECT merge_applied, pair, CAST(sum(wc) AS BIGINT) AS n
        |FROM p2 GROUP BY 1, 2 ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "text_bpe_fertility" ->
      s"""WITH wl AS (
        |  SELECT lang, w, count(*) AS wc FROM (
        |    SELECT lang, unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT w, sum(wc) AS wc FROM wl GROUP BY 1 HAVING length(w) >= 2
        |), ${topMergeOracleCtes("g", "mrg")}, m AS (
        |  SELECT lang, wc, length(w) AS wlen,
        |    len(string_split(replace(array_to_string(string_split(w, ''), '~'),
        |      replace(mrg, ' ', '~'), replace(mrg, ' ', '')), '~')) AS n_sym
        |  FROM wl CROSS JOIN top1
        |), agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(wc) AS BIGINT) AS word_mass,
        |    CAST(sum(wc * n_sym) AS BIGINT) AS token_mass,
        |    CAST(sum(wc * wlen) AS BIGINT) AS char_mass
        |  FROM m GROUP BY lang
        |)
        |SELECT lang, n_words, word_mass, token_mass, char_mass,
        |  CAST((token_mass * 2000000 + word_mass) // (word_mass * 2) AS DOUBLE)
        |    / 1000000.0 AS fertility,
        |  CAST((char_mass * 2000000 + token_mass) // (token_mass * 2) AS DOUBLE)
        |    / 1000000.0 AS chars_per_token
        |FROM agg ORDER BY lang""".stripMargin,

    "text_cms_topk" ->
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1
        |), seeds AS (
        |  SELECT unnest(['0', '1', '2', '3']) AS sd
        |), cells AS (
        |  SELECT sd,
        |    ('0x' || substr(md5(sd || ':' || w), 1, 8))::BIGINT % 1024 AS b,
        |    sum(wc) AS m
        |  FROM w CROSS JOIN seeds GROUP BY 1, 2
        |), top AS (
        |  SELECT w, wc FROM w ORDER BY wc DESC, w LIMIT 20
        |)
        |SELECT t.w AS term, CAST(t.wc AS BIGINT) AS n,
        |  CAST(min(c.m) AS BIGINT) AS cms_est
        |FROM top t CROSS JOIN seeds s
        |JOIN cells c ON c.sd = s.sd
        | AND c.b = ('0x' || substr(md5(s.sd || ':' || t.w), 1, 8))::BIGINT % 1024
        |GROUP BY 1, 2 ORDER BY n DESC, term""".stripMargin,

    "text_source_similarity" ->
      """WITH sw AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source, unnest(list_filter(string_split_regex(
        |      lower(text), '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |), sizes AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS sz FROM sw GROUP BY 1
        |), inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT i.src_a, i.src_b, sa.sz AS n_a, sb.sz AS n_b, i.n_common,
        |  CAST((2 * i.n_common * 1000000 + (sa.sz + sb.sz - i.n_common))
        |    // (2 * (sa.sz + sb.sz - i.n_common)) AS DOUBLE) / 1000000.0
        |    AS jaccard
        |FROM inter i JOIN sizes sa ON i.src_a = sa.source
        |JOIN sizes sb ON i.src_b = sb.source
        |ORDER BY jaccard DESC, src_a, src_b LIMIT 30""".stripMargin,

    "text_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS ws
        |  FROM documents
        |), bi AS (
        |  SELECT ws[CAST(i AS INTEGER)] AS x,
        |    ws[CAST(i AS INTEGER) + 1] AS y, count(*) AS c_xy
        |  FROM toks, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2
        |  GROUP BY 1, 2 HAVING count(*) >= 10
        |), uni AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1
        |), tot AS (SELECT sum(wc) AS n_tok FROM uni)
        |SELECT bi.x, bi.y, CAST(bi.c_xy AS BIGINT) AS c_xy,
        |  round(ln(bi.c_xy) + ln((SELECT n_tok FROM tot))
        |    - ln(ux.wc) - ln(uy.wc), 4) AS pmi
        |FROM bi JOIN uni ux ON bi.x = ux.w JOIN uni uy ON bi.y = uy.w
        |ORDER BY pmi DESC, x, y LIMIT 15""".stripMargin,

    // 6 unrolled greedy rounds; every multi-referenced CTE MATERIALIZED
    // (the emb_pca inline-expansion gotcha). Generated, not hand-typed:
    // the per-round block is identical modulo the index.
    "text_bpe_train" -> {
      val rows = (1 to 6).map(k =>
        s"SELECT CAST($k AS BIGINT) AS round, pair, n, token_mass " +
          s"FROM m$k, mass$k").mkString("\n|UNION ALL\n|")
      s"""$bpeTrainOracleCtes
         |$rows
         |ORDER BY round""".stripMargin
    },

    // same generated training chain, then the 6 merges applied in rank
    // order to the per-language vocab as nested replaces. The m1..m6
    // 1-row frames come in via LEFT JOIN ON TRUE, NOT a cross join: if
    // training exhausts before 6 rounds (the early-stop case
    // bpeTrainMerges handles and BpeSpec pins) an empty m_k would empty
    // a cross-joined result while the Spark side still encodes with the
    // merges actually learned. A NULL pair coalesces to chr(1), whose
    // '~'+chr(1)+'~' search string can never occur in a segmented word
    // ([a-z0-9~] alphabet) — the replace degrades to a no-op, exactly
    // the engine's behavior for a missing round.
    "text_bpe_encode" -> {
      val seg0 = "'~' || array_to_string(string_split(w, ''), '~') || '~'"
      val segExpr = (1 to 6).foldLeft(seg0) { (acc, k) =>
        s"replace($acc, '~' || replace(coalesce(m$k.pair, chr(1)), ' ', '~') || '~'," +
          s" '~' || replace(coalesce(m$k.pair, chr(1)), ' ', '') || '~')"
      }
      s"""$bpeTrainOracleCtes,
         |wl AS (
         |  SELECT lang, w, count(*) AS wc FROM (
         |    SELECT lang, unnest(list_filter(string_split_regex(lower(text),
         |      '[^a-z0-9]+'), x -> length(x) > 0)) AS w
         |    FROM documents)
         |  GROUP BY 1, 2
         |), enc AS (
         |  SELECT lang, wc, length(w) AS wlen,
         |    len(list_filter(string_split($segExpr, '~'),
         |      x -> len(x) > 0)) AS n_sym
         |  FROM wl
         |  LEFT JOIN m1 ON TRUE LEFT JOIN m2 ON TRUE LEFT JOIN m3 ON TRUE
         |  LEFT JOIN m4 ON TRUE LEFT JOIN m5 ON TRUE LEFT JOIN m6 ON TRUE
         |), agg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(wc) AS BIGINT) AS word_mass,
         |    CAST(sum(wc * n_sym) AS BIGINT) AS token_mass,
         |    CAST(sum(wc * wlen) AS BIGINT) AS char_mass
         |  FROM enc GROUP BY lang
         |)
         |SELECT lang, n_words, word_mass, token_mass, char_mass,
         |  CAST((token_mass * 2000000 + word_mass) // (word_mass * 2)
         |    AS DOUBLE) / 1000000.0 AS fertility,
         |  CAST((char_mass * 2000000 + token_mass) // (token_mass * 2)
         |    AS DOUBLE) / 1000000.0 AS chars_per_token
         |FROM agg ORDER BY lang""".stripMargin
    },

    // kept_md5 over the ALL-dup doc: Spark md5(concat_ws of an empty
    // array) = md5(''), so the mirror coalesces string_agg's NULL to ''.
    "text_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, CAST(st // 8 AS BIGINT) AS line_no,
        |    md5(array_to_string(toks[CAST(st + 1 AS INTEGER) :
        |      CAST(st + 8 AS INTEGER)], ' ')) AS h
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(0, len(toks) - 1, 8)) AS st
        |        FROM d WHERE len(toks) > 0)
        |), boiler AS (
        |  SELECT h FROM l GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |), f AS (
        |  SELECT l.doc_id, l.line_no, l.h, (b.h IS NOT NULL) AS dup
        |  FROM l LEFT JOIN boiler b ON l.h = b.h
        |)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        |  CAST((2 * sum(CASE WHEN dup THEN 1 ELSE 0 END) * 1000000
        |        + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000.0
        |    AS dup_line_frac,
        |  md5(coalesce(
        |    string_agg(CASE WHEN NOT dup THEN h END, '' ORDER BY line_no),
        |    '')) AS kept_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
