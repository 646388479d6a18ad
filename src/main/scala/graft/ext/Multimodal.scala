package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Engine.{MaterializeOps, table => t}

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed by a per-partition
  * batch "decoder".
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked DETERMINISTIC STUB (see [[FakeCodec.decode]]) — what is
  * real and tested is the Spark-side plumbing a 100 TB pipeline needs:
  *
  *  - the schema contract (`binary` payload + struct metadata);
  *  - `mapPartitions` batch shape: the decoder is initialized once per
  *    partition (the expensive part for a real codec — model/codec init
  *    amortizes over the whole partition, the same pattern as a Pandas
  *    `mapInPandas` batch UDF);
  *  - bounded work: rows stream through the partition iterator (never
  *    materialized as a batch), and [[FakeCodec.decode]] reads at most
  *    [[FakeCodec.MaxDecodeBytes]] of any payload, bounding per-row
  *    decode CPU. NOTE the payload bytes themselves are materialized by
  *    the scan before decode sees them — a hard MEMORY bound needs
  *    scan-side truncation (substring on the binary column) or a
  *    max-blob-size filter at ingest, which a real deployment applies;
  *  - feature extraction output as a typed Dataset ready for downstream
  *    relational ops.
  */
object Multimodal {

  /** DETERMINISTIC FAKE of a media codec. A real deployment swaps this
    * object for JNI/codec bindings; everything downstream is unchanged. */
  object FakeCodec {
    /** Decode window cap: bytes of payload a single decode may touch.
      * Real codecs sniff headers/keyframes in a bounded window; enforcing
      * the bound here keeps per-row decode CPU independent of blob size. */
    val MaxDecodeBytes: Int = 64 << 20

    /** Per-partition decoder context — the expensive-to-create object a
      * real codec wraps (decoder handles, model weights). Create ONE per
      * partition and reuse across its rows. Not thread-safe, like most
      * real codec contexts. */
    final class Context {
      private val md = java.security.MessageDigest.getInstance("MD5")

      /** STUB: "decode" a payload into (width, height, n_frames,
        * checksum). Real decode is impossible in this container — the
        * fake derives pseudo-metadata from md5 of (at most
        * [[MaxDecodeBytes]] of) the bytes. md5, not a custom roll: the
        * derivation is then bit-reproducible in the DuckDB oracle, so
        * even the stubbed queries are hash-checked. */
      def decode(payload: Array[Byte]): (Int, Int, Int, Long) = {
        md.reset()
        md.update(payload, 0, math.min(payload.length, MaxDecodeBytes))
        val hex = md.digest().map("%02x".format(_)).mkString
        def part(from: Int, len: Int): Long =
          java.lang.Long.parseLong(hex.substring(from, from + len), 16)
        val w = 64 + (part(0, 8) % 1024).toInt
        val ht = 64 + (part(8, 8) % 1024).toInt
        val frames = 1 + (part(16, 8) % 300).toInt
        (w, ht, frames, part(0, 15)) // 60-bit checksum: BIGINT-safe in the oracle
      }
    }
  }

  /** Documents re-cast as a multimodal table: payload = utf-8 bytes of the
    * text (stand-in for image bytes), metadata struct alongside. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(col("source").as("uri"), col("lang").as("codec"),
        col("n_chars").as("n_bytes_claimed")).as("meta"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // binary-column plumbing, expression side: sizes + hashes on blobs
    "mm_binary_meta" -> ((s, dir) =>
      mediaTable(s, dir)
        .select(col("media_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          col("meta.uri").as("uri"),
          col("meta.codec").as("codec"),
          (octet_length(col("payload")) === col("meta.n_bytes_claimed")).as("size_ok"))
        .orderBy(col("media_id"))),

    // batch "decode" via mapPartitions: codec init once per partition,
    // rows streamed through — the real pattern, a stubbed codec
    "mm_decode_features" -> ((s, dir) => {
      val media = mediaTable(s, dir).select(col("media_id"), col("payload"))
      val outSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("n_frames", IntegerType, nullable = false),
        StructField("checksum", LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      media.mapPartitions { rows =>
        // per-partition init: ONE codec context amortized over the
        // partition's rows (the expensive part for a real codec)
        val ctx = new FakeCodec.Context
        rows.map { r =>
          val (w, h, f, c) = ctx.decode(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), w, h, f, c)
        }
      }(enc).orderBy(col("media_id"))
    }),

    // resize plumbing: decoded dimensions → letterboxed target geometry
    // (pure arithmetic on the decode output — the real resize kernel
    // would run inside the same mapPartitions as FakeCodec.decode)
    "mm_resize_plan" -> ((s, dir) => {
      val target = 224
      val media = mediaTable(s, dir).select(col("media_id"), col("payload"))
      val outSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("src_w", IntegerType, nullable = false),
        StructField("src_h", IntegerType, nullable = false),
        StructField("dst_w", IntegerType, nullable = false),
        StructField("dst_h", IntegerType, nullable = false),
        StructField("pad_x", IntegerType, nullable = false),
        StructField("pad_y", IntegerType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      media.mapPartitions { rows =>
        val ctx = new FakeCodec.Context
        rows.map { r =>
          val (w, h, _, _) = ctx.decode(r.getAs[Array[Byte]]("payload"))
          // operation ORDER matters for the oracle: (w * 224.0) / max —
          // identical IEEE ops in DuckDB → identical double → same round
          val dw = math.max(1, math.round(w * target.toDouble / math.max(w, h)).toInt)
          val dh = math.max(1, math.round(h * target.toDouble / math.max(w, h)).toInt)
          Row(r.getLong(0), w, h, dw, dh, (target - dw) / 2, (target - dh) / 2)
        }
      }(enc).orderBy(col("media_id"))
    }),

    // frame-sampling plumbing: deterministic frame indices per media row,
    // exploded to (media_id, frame_no) — the shape a video pipeline fans
    // out to before per-frame decode
    "mm_frame_sample" -> ((s, dir) => {
      val media = mediaTable(s, dir)
        .select(col("media_id"),
          // md5-derived frame count (not xxhash64): bit-identical in
          // DuckDB, so the fan-out is oracle-checkable
          (graft.functions.HashExpressions.md5Bucket(col("payload"), 30) + lit(2))
            .as("n_frames"))
      media
        .select(col("media_id"),
          explode(sequence(lit(0), col("n_frames") - 1, lit(7))).as("frame_no"))
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // media-payload dedup + the storage-savings report a blob store runs
    // before perceptual passes: content identity by a BOUNDED-WINDOW
    // digest (at most MaxDecodeBytes of the blob hashes — per-row CPU
    // independent of blob size, the same cap the decode stub enforces),
    // keep-first winner per group, bytes reclaimed = group mass minus
    // the kept copy. Scale shape: one map-side-combinable groupBy on
    // the 16-byte digest — payload bytes never cross an exchange.
    // (Testdata blobs are ≪ the cap, so the digest sees the full
    // payload and the oracle's md5(text) is the exact mirror — the
    // KNOWN BOUND note below applies here too.)
    "mm_payload_dedup" -> ((s, dir) =>
      mediaTable(s, dir)
        .select(col("media_id"),
          md5(expr(s"substring(payload, 1, ${FakeCodec.MaxDecodeBytes})"))
            .as("dg"),
          octet_length(col("payload")).cast("long").as("n_bytes"))
        .groupBy(col("dg"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          min_by(col("n_bytes"), col("media_id")).as("n_bytes_kept"),
          (sum(col("n_bytes")) - min_by(col("n_bytes"), col("media_id")))
            .as("bytes_saved"))
        .orderBy(col("keep_id"))),

    // caption–media pair gate — the LAION-style curation funnel between
    // the multimodal plumbing and training: each media payload rides
    // with its caption (stand-in: the source document's text — a real
    // pipeline joins alt-text/captions on the media key, the identical
    // join shape), gated sequentially by caption length, language,
    // payload size, and caption degeneracy (top word ≤ 20% of caption
    // mass — integer cross-multiplication, no ratio ever computed).
    // Output is the per-gate funnel report. Scale shape: one caption
    // token pass collapsing to (media, n_words, top_cnt) via groupBy
    // (no per-doc window), narrow key joins, a single aggregation row
    // exploded to 4 stages.
    "mm_caption_filter" -> ((s, dir) => {
      // r12 re-plan: caption word stats are per-row quantities — the
      // native TokenStats pass replaces the explode → groupBy(media, w)
      // → groupBy(media) chain that shuffled every caption token
      // corpus-wide TWICE (297.7 MB at the 100× shard) and the
      // stats join-back with it. One media⋈caption join remains (the
      // two sides are genuinely different tables); token-less captions
      // reproduce the old left-join-miss gates exactly (n_words=0
      // fails g_len; top_cnt coalesced to 1 made g_dup 5<=0 false,
      // mirrored here by the n_words>0 conjunct).
      val media = mediaTable(s, dir).select(col("media_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      val ts = graft.functions.HashExpressions.token_stats(col("text"))
      // coalesce: TokenStats is null-intolerant, and a NULL-text caption
      // must take the same explicit-false gates the old left-join miss
      // produced, not NULL-propagated ones
      val caps = t(s, dir, "documents").select(col("doc_id").as("media_id"),
        col("lang"),
        coalesce(ts.getField("n_words"), lit(0L)).as("n_words"),
        coalesce(ts.getField("top_cnt"), lit(0L)).as("top_cnt"))
      val flags = media.join(caps, "media_id")
        .select(
          col("n_words").between(5L, 60L).as("g_len"),
          (col("lang") === "en").as("g_lang"),
          (col("n_bytes") >= 64L).as("g_bytes"),
          (col("n_words") > 0L &&
            col("top_cnt") * 5L <= col("n_words")).as("g_dup"))
      flags.agg(
          count(lit(1)).as("n0"),
          count(when(col("g_len"), 1)).as("n1"),
          count(when(col("g_len") && col("g_lang"), 1)).as("n2"),
          count(when(col("g_len") && col("g_lang") && col("g_bytes"), 1))
            .as("n3"),
          count(when(col("g_len") && col("g_lang") && col("g_bytes") &&
            col("g_dup"), 1)).as("n4"))
        .select(explode(array(
          struct(lit(1L).as("stage_no"), lit("caption_length").as("gate"),
            col("n0").as("n_in"), col("n1").as("n_out")),
          struct(lit(2L).as("stage_no"), lit("language").as("gate"),
            col("n1").as("n_in"), col("n2").as("n_out")),
          struct(lit(3L).as("stage_no"), lit("payload_bytes").as("gate"),
            col("n2").as("n_in"), col("n3").as("n_out")),
          struct(lit(4L).as("stage_no"), lit("caption_repetition").as("gate"),
            col("n3").as("n_in"), col("n4").as("n_out")))).as("r"))
        .select(col("r.stage_no"), col("r.gate"), col("r.n_in"), col("r.n_out"))
        .orderBy(col("stage_no"))
    }),

    // perceptual-hash near-dup report — the pass a media store runs
    // AFTER exact digest dedup (above): re-encoded / lightly-edited
    // copies share no digest but land within a small Hamming distance
    // of each other's perceptual hash. The hash here is the honest
    // stand-in for pHash-of-decoded-pixels this container permits: the
    // codegen'd simhash64 over the decoded payload's content tokens —
    // like a real pHash it is locality-sensitive (similar content ⇒
    // close hashes), and it is bit-reproducible in the oracle. Pairing
    // uses the dedup_simhash geometry: 4×16-bit bands, so any pair
    // within Hamming distance 3 shares ≥1 band by pigeonhole — the
    // candidate join is an equi-join on (band, bkey), never all-pairs.
    // Output is the review-queue report: pairs / affected media / bytes
    // per Hamming distance. Scale note: 16-bit band keys bound bucket
    // fan-out by corpus/65536 per band — at 10^11 media a production
    // deployment widens to multi-index Hamming (more bands over wider
    // keys); the shape of the join is unchanged.
    "mm_phash_dedup" -> ((s, dir) => {
      // token-free or NULL payloads carry no perceptual signal and
      // would all collapse onto fp = 0 (pairing every such blob with
      // every other at Hamming 0) — exclude them on BOTH sides, the
      // same guard signatures() applies to empty shingle sets
      val fp = mediaTable(s, dir).select(col("media_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          graft.functions.HashExpressions.word_shingles(
            col("payload").cast("string"), 1, distinct = false).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("media_id"), col("n_bytes"),
          graft.functions.HashExpressions.simhash64(col("tk")).as("fp"))
        // both banded join sides consume fp — checkpoint the narrow
        // (id, bytes, fp) frame so the simhash payload pass runs once
        .materialize(false)
      val banded = fp.select(col("media_id"), col("fp"), col("n_bytes"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("fp"), b * 16)
            .bitwiseAND(lit(0xFFFFL)))).as(Seq("band", "bkey")))
      val a = banded.select(col("band"), col("bkey"),
        col("media_id").as("id_a"), col("fp").as("fp_a"))
      val b = banded.select(col("band"), col("bkey"),
        col("media_id").as("id_b"), col("fp").as("fp_b"),
        col("n_bytes").as("bytes_b"))
      a.join(b, Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("bytes_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct() // a close pair shares several bands — count it once
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id_b")).as("n_media"),
          sum(col("bytes_b")).cast("long").as("review_bytes"))
        .orderBy(col("hamming"))
    }),

    // multi-index Hamming widening of mm_phash_dedup (Norouzi et al.,
    // "Fast Search in Hamming Space with Multi-Index Hashing") — the
    // 10^11-media shape the banded row's scale note names. The 4×16-bit
    // banding bounds bucket fan-out by corpus/2^16 per band: at 10^11
    // media that is ~1.5M ids per hot bucket and the in-bucket pairing
    // goes quadratic. MIH flips the trade: 2 bands of 32 bits (buckets
    // of corpus/2^32 — ~23 ids at 10^11) with the PROBE side expanded
    // to every key within Hamming 1 of its band key (1 exact + 32
    // one-bit flips). Pigeonhole at radius 3 over 2 bands: the errors
    // split (0,3)(1,2)(2,1)(3,0), so some band carries ≤1 error and the
    // expanded equi-join is EXHAUSTIVE — the result set is identical to
    // the banded row's, and the oracle row is literally shared. Cost
    // shape: 33× probe rows (each 16 bytes) against 65536× tighter
    // buckets — linear fan-out where the 16-bit banding is quadratic in
    // bucket load.
    "mm_phash_dedup_mih" -> ((s, dir) => {
      val fp = mediaTable(s, dir).select(col("media_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          graft.functions.HashExpressions.word_shingles(
            col("payload").cast("string"), 1, distinct = false).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("media_id"), col("n_bytes"),
          graft.functions.HashExpressions.simhash64(col("tk")).as("fp"))
        // index AND probe sides consume fp — checkpoint the narrow
        // (id, bytes, fp) frame so the simhash payload pass runs once
        // (the r11 measurement note below priced a single extra pass
        // at 2-3× this row's wall on the 100× shard)
        .materialize(false)
      val mask32 = lit(0xFFFFFFFFL)
      // Fingerprints AND bytes ride the expansions on purpose — the
      // r10 verdict's task-3 slimming prescriptions were both tried
      // and MEASURED as regressions in r11, paired same-window runs of
      // the two binaries on the 100× shard:
      //  - ids-only expansions with fp/bytes re-joined after a distinct
      //    over raw band matches: shuffle 1130→2468 MB, wall ~8×. The
      //    hamming ≤ 3 filter is the selective step and must run BEFORE
      //    the pair distinct, which needs fp on both expansion sides.
      //  - keeping fp but re-joining only bytes_b after the filtered
      //    distinct: shuffle 1130→1034 MB (−8%) but wall 16.6→43.3s /
      //    17.4→34.7s (paired r10-vs-r11 binaries, same windows) — the
      //    re-join forces a THIRD full simhash pass over every payload,
      //    which costs far more than the 8-byte column it sheds.
      // Candidate rows are (ids, fp, bytes) ≈ 40 B — already thin; the
      // expansion-row COUNT (33×, the MIH trade) is the cost, not the
      // payload width.
      val indexSide = fp.select(col("media_id").as("id_b"),
        col("fp").as("fp_b"), col("n_bytes").as("bytes_b"),
        posexplode(transform(sequence(lit(0), lit(1)),
          b => call_function("shiftright", col("fp"), b * 32)
            .bitwiseAND(mask32))).as(Seq("band", "bkey")))
      // probe side: each band key plus its 32 one-bit neighbors — the
      // radius-⌊r/m⌋ query expansion that lets 2 wide bands cover r = 3
      val probeSide = fp.select(col("media_id").as("id_a"),
          col("fp").as("fp_a"),
          posexplode(transform(sequence(lit(0), lit(1)),
            b => call_function("shiftright", col("fp"), b * 32)
              .bitwiseAND(mask32))).as(Seq("band", "bkey0")))
        .select(col("id_a"), col("fp_a"), col("band"),
          explode(concat(array(col("bkey0")),
            transform(sequence(lit(0), lit(31)),
              i => col("bkey0").bitwiseXOR(
                call_function("shiftleft", lit(1L), i))))).as("bkey"))
      probeSide.join(indexSide, Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("bytes_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct() // a close pair can match via both bands / several flips
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id_b")).as("n_media"),
          sum(col("bytes_b")).cast("long").as("review_bytes"))
        .orderBy(col("hamming"))
    }),

    // WebDataset-style shard planner: assign every sample to a ~16 KB
    // tar shard by cumulative payload bytes in a deterministic
    // pseudo-shuffled order (md5 of the payload — IID shards without a
    // random-seed dependency). The global byte prefix-sum uses the
    // two-level form (DistRank's census pattern, here summing bytes):
    // bucket by the key's first hex nibble (16 contiguous key ranges,
    // order-consistent with the md5 sort), census the per-bucket byte
    // mass (16 rows through the driver — an algorithm constant), then
    // cumsum inside each bucket and add the broadcast offset. No global
    // window, so sort state per task is bucket-sized at any corpus
    // size; shard boundaries are exact, not approximate.
    "mm_shard_manifest" -> ((s, dir) => {
      import s.implicits._
      val shardBytes = 16384L
      val m = mediaTable(s, dir).select(
        col("media_id"),
        md5(col("payload")).as("key"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      val bucketed = m.withColumn("__b",
        conv(substring(col("key"), 1, 1), 16, 10).cast("long"))
      // census: 16 rows max (hex nibble), the documented K-row bound
      val census = bucketed.groupBy(col("__b"))
        .agg(sum(col("n_bytes")).as("__bytes"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val offsets = census.map(_._1)
        .zip(census.map(_._2).scanLeft(0L)(_ + _)).toSeq
      val offDf = broadcast(offsets.toDF("__b", "__off"))
      val w = Window.partitionBy(col("__b"))
        .orderBy(col("key"), col("media_id"))
      bucketed
        .withColumn("__cum", sum(col("n_bytes")).over(w))
        .join(offDf, Seq("__b"))
        .withColumn("__before", col("__off") + col("__cum") - col("n_bytes"))
        .withColumn("shard_id", floor(col("__before") / shardBytes))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("n_bytes")).as("shard_bytes"),
          min(col("key")).as("first_key"),
          max(col("key")).as("last_key"))
        .orderBy(col("shard_id"))
    })
  )

  // Every multimodal query is oracle-checked: the stub codec derives its
  // pseudo-metadata from md5, which DuckDB reproduces bit-for-bit (the
  // payload is utf-8 text bytes, so DuckDB's md5(text) sees the same
  // bytes Spark's MessageDigest does).
  //
  // KNOWN BOUND: FakeCodec hashes at most MaxDecodeBytes (64 MB) of a
  // payload, while these oracles md5 the FULL text — for a payload over
  // the cap the two sides diverge by design (the cap is the decode-CPU
  // bound a real codec needs; the oracle SQL has no cheap byte-bounded
  // substr on a blob). Testdata documents are ≪64 MB so the contract
  // holds everywhere the driver checks it; a deployment raising blob
  // sizes past the cap must mirror the truncation in any oracle.
  val oracleSql: Map[String, String] = Map(
    "mm_decode_features" ->
      """WITH d AS (SELECT doc_id AS media_id, md5(text) AS hx FROM documents)
        |SELECT media_id,
        |  CAST(64 + ('0x' || substr(hx, 1, 8))::BIGINT % 1024 AS INTEGER) AS width,
        |  CAST(64 + ('0x' || substr(hx, 9, 8))::BIGINT % 1024 AS INTEGER) AS height,
        |  CAST(1 + ('0x' || substr(hx, 17, 8))::BIGINT % 300 AS INTEGER) AS n_frames,
        |  ('0x' || substr(hx, 1, 15))::BIGINT AS checksum
        |FROM d ORDER BY media_id""".stripMargin,

    "mm_resize_plan" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    64 + ('0x' || substr(md5(text), 1, 8))::BIGINT % 1024 AS w,
        |    64 + ('0x' || substr(md5(text), 9, 8))::BIGINT % 1024 AS h
        |  FROM documents
        |), r AS (
        |  SELECT media_id, w, h,
        |    greatest(1, CAST(round(w * 224.0 / greatest(w, h)) AS BIGINT)) AS dw,
        |    greatest(1, CAST(round(h * 224.0 / greatest(w, h)) AS BIGINT)) AS dh
        |  FROM d
        |)
        |SELECT media_id,
        |  CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
        |  CAST(dw AS INTEGER) AS dst_w, CAST(dh AS INTEGER) AS dst_h,
        |  CAST((224 - dw) // 2 AS INTEGER) AS pad_x,
        |  CAST((224 - dh) // 2 AS INTEGER) AS pad_y
        |FROM r ORDER BY media_id""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  source AS uri, lang AS codec,
        |  octet_length(CAST(text AS BLOB)) = n_chars AS size_ok
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT % 30 + 2 AS n_frames
        |  FROM documents)
        |SELECT media_id, unnest(range(0, n_frames, 7)) AS frame_no
        |FROM m ORDER BY media_id, frame_no""".stripMargin,

    "mm_payload_dedup" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS dg,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT dg, min(media_id) AS keep_id, count(*) AS n_copies,
        |  arg_min(n_bytes, media_id) AS n_bytes_kept,
        |  CAST(sum(n_bytes) - arg_min(n_bytes, media_id) AS BIGINT)
        |    AS bytes_saved
        |FROM m GROUP BY dg ORDER BY keep_id""".stripMargin,

    "mm_caption_filter" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |    lang, text
        |  FROM documents
        |), st AS (
        |  SELECT media_id, CAST(sum(cnt) AS BIGINT) AS n_words,
        |    CAST(max(cnt) AS BIGINT) AS top_cnt
        |  FROM (
        |    SELECT media_id, w, count(*) AS cnt FROM (
        |      SELECT media_id,
        |        unnest(list_filter(string_split_regex(lower(text),
        |          '[^a-z0-9]+'), x -> length(x) > 0)) AS w
        |      FROM media)
        |    GROUP BY media_id, w)
        |  GROUP BY media_id
        |), flags AS (
        |  SELECT coalesce(n_words, 0) BETWEEN 5 AND 60 AS g_len,
        |    m.lang = 'en' AS g_lang,
        |    m.n_bytes >= 64 AS g_bytes,
        |    coalesce(top_cnt, 1) * 5 <= coalesce(n_words, 0) AS g_dup
        |  FROM media m LEFT JOIN st USING (media_id)
        |), n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(count(CASE WHEN g_len THEN 1 END) AS BIGINT) AS n1,
        |    CAST(count(CASE WHEN g_len AND g_lang THEN 1 END) AS BIGINT) AS n2,
        |    CAST(count(CASE WHEN g_len AND g_lang AND g_bytes THEN 1 END)
        |      AS BIGINT) AS n3,
        |    CAST(count(CASE WHEN g_len AND g_lang AND g_bytes AND g_dup
        |      THEN 1 END) AS BIGINT) AS n4
        |  FROM flags
        |)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_no, 'caption_length' AS gate,
        |    n0 AS n_in, n1 AS n_out FROM n
        |  UNION ALL SELECT 2, 'language', n1, n2 FROM n
        |  UNION ALL SELECT 3, 'payload_bytes', n2, n3 FROM n
        |  UNION ALL SELECT 4, 'caption_repetition', n3, n4 FROM n
        |) ORDER BY stage_no""".stripMargin,

    // simhash64 mirror (the dedup_simhash oracle's fp chain) over the
    // payload's decoded text, 4×16-bit bands, per-distance report
    // shared verbatim with mm_phash_dedup_mih below: MIH is a candidate-
    // generation widening, not a semantics change — identical pair set
    "mm_phash_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), hs AS (
        |  SELECT media_id, n_bytes,
        |    list_transform(tk, t -> ('0x' || substr(md5(t),1,16))::UBIGINT) AS th
        |  FROM toks WHERE len(tk) > 0
        |), fp AS (
        |  SELECT media_id, n_bytes,
        |    CAST(coalesce(list_sum(list_transform(range(0, 64), j ->
        |      CASE WHEN coalesce(list_sum(list_transform(th, h ->
        |          CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
        |      THEN (CAST(1 AS UBIGINT) << j) ELSE CAST(0 AS UBIGINT) END)), 0)
        |      AS UBIGINT) AS f
        |  FROM hs
        |), pairs AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    b.n_bytes AS bytes_b,
        |    CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
        |  FROM (SELECT media_id, f, t.band, (f >> (t.band * 16)) & 65535 AS bkey
        |        FROM fp, range(0, 4) t(band)) a
        |  JOIN (SELECT media_id, n_bytes, f, t.band,
        |          (f >> (t.band * 16)) & 65535 AS bkey
        |        FROM fp, range(0, 4) t(band)) b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.f, b.f)) <= 3
        |)
        |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT id_b) AS BIGINT) AS n_media,
        |  CAST(sum(bytes_b) AS BIGINT) AS review_bytes
        |FROM pairs GROUP BY hamming ORDER BY hamming""".stripMargin,

    "mm_phash_dedup_mih" ->
      """WITH toks AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS tk
        |  FROM documents
        |), hs AS (
        |  SELECT media_id, n_bytes,
        |    list_transform(tk, t -> ('0x' || substr(md5(t),1,16))::UBIGINT) AS th
        |  FROM toks WHERE len(tk) > 0
        |), fp AS (
        |  SELECT media_id, n_bytes,
        |    CAST(coalesce(list_sum(list_transform(range(0, 64), j ->
        |      CASE WHEN coalesce(list_sum(list_transform(th, h ->
        |          CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
        |      THEN (CAST(1 AS UBIGINT) << j) ELSE CAST(0 AS UBIGINT) END)), 0)
        |      AS UBIGINT) AS f
        |  FROM hs
        |), pairs AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    b.n_bytes AS bytes_b,
        |    CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
        |  FROM (SELECT media_id, f, t.band, (f >> (t.band * 16)) & 65535 AS bkey
        |        FROM fp, range(0, 4) t(band)) a
        |  JOIN (SELECT media_id, n_bytes, f, t.band,
        |          (f >> (t.band * 16)) & 65535 AS bkey
        |        FROM fp, range(0, 4) t(band)) b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.f, b.f)) <= 3
        |)
        |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT id_b) AS BIGINT) AS n_media,
        |  CAST(sum(bytes_b) AS BIGINT) AS review_bytes
        |FROM pairs GROUP BY hamming ORDER BY hamming""".stripMargin,

    // the oracle states the semantics directly: ONE global running sum
    // — the Spark side must make the two-level decomposition invisible
    "mm_shard_manifest" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS key,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |  FROM documents
        |), c AS (
        |  SELECT key, media_id, n_bytes,
        |    sum(n_bytes) OVER (ORDER BY key, media_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes
        |      AS cum_before
        |  FROM m
        |)
        |SELECT CAST(cum_before // 16384 AS BIGINT) AS shard_id,
        |  count(*) AS n_samples,
        |  CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
        |  min(key) AS first_key, max(key) AS last_key
        |FROM c GROUP BY shard_id ORDER BY shard_id""".stripMargin
  )
}
