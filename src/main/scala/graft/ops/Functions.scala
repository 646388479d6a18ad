package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine.{table => t}

/** SURVEY §2.8 scalar function families — string, math, date/time, regex,
  * conditional/null, array, struct/map, crypto/encoding, unnest — each
  * family as one projection query with a DuckDB oracle. All expressions
  * are Spark built-ins (codegen'd, whole-stage-compatible).
  */
object Functions {

  /** Unicode fixture for q_text_normalize, shared verbatim by both
    * engines (embedded UTF-8 literals — Spark's chr() is ASCII-modular
    * and DuckDB's standard strings don't process \u escapes, so actual
    * characters in the SQL text are the one portable encoding):
    * decomposed e+U+0301 (composes), precomposed U+00E9 (fixed point),
    * U+212B ANGSTROM SIGN (NFC singleton → U+00C5), decomposed Hangul
    * jamo (compose to one syllable U+D55C), plain ASCII. */
  private val normalizeValues: String =
    "(1, 'caf' || 'é'), (2, 'café'), (3, 'unit Å'), " +
      "(4, '한'), (5, 'plain ascii stays')"

  /** Heterogeneous JSON fixture for q_variant_funcs — nested objects,
    * arrays, json-null vs missing path, mixed numeric types. */
  private val variantValues: String =
    """(1, '{"k": 7, "tags": ["a", "b"], "meta": {"score": 1.5, "ok": true}}'), """ +
      """(2, '{"k": 42, "tags": [], "meta": {"score": -0.25, "ok": false}}'), """ +
      """(3, '{"k": null, "tags": ["z"], "meta": null}'), """ +
      """(4, '{"nested": {"deep": {"x": [10, 20, 30]}}}')"""

  /** Mixed-case fixture for q_collation_ci. */
  private val collationValues: String =
    "('Apple'), ('apple'), ('APPLE'), ('Banana'), ('banana'), ('Cherry')"

  /** XML fixture for q_xml_funcs — attributes, nested element, missing
    * optional field, numeric content. */
  private val xmlValues: String =
    """(1, '<item id="7"><name>alpha</name><qty>3</qty><meta><tag>x</tag></meta></item>'), """ +
      """(2, '<item id="9"><name>beta</name><qty>12</qty></item>'), """ +
      """(3, '<item id="2"><name>gamma</name><qty>0</qty><meta><tag>z</tag></meta></item>')"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Spark 4 VARIANT — the semi-structured column type for schema-free
    // ingestion (the open-table-format answer to "props is whatever the
    // client sent"): parse once into the binary variant encoding, then
    // typed path extraction with SQL-null for json-null AND for missing
    // paths (pinned by rows 3/4). At corpus scale the parse is a pure
    // per-row projection and the binary encoding pushes through
    // shuffles ~2-5× smaller than re-parsed JSON text. The oracle reads
    // the SAME paths through DuckDB's JSON type — variant has no DuckDB
    // twin, but the typed-extraction CONTRACT is engine-neutral.
    "q_variant_funcs" -> ((s, _) => {
      val v = s.sql(s"SELECT id, j FROM VALUES $variantValues AS t(id, j)")
        .select(col("id").cast("long").as("id"),
          parse_json(col("j")).as("v"))
      v.select(col("id"),
          expr("variant_get(v, '$.k', 'long')").as("k"),
          expr("variant_get(v, '$.tags[0]', 'string')").as("tag0"),
          expr("variant_get(v, '$.meta.score', 'double')").as("score"),
          expr("variant_get(v, '$.meta.ok', 'boolean')").as("ok"),
          expr("variant_get(v, '$.nested.deep.x[2]', 'long')").as("x2"),
          expr("try_variant_get(v, '$.missing', 'long')").as("missing"))
        .orderBy(col("id"))
    }),

    // XML ingestion surface (the reference's DataFusion layer has no
    // XML either, but a corpus pipeline meets XML sitemaps/feeds):
    // Spark's xpath_* family extracts typed fields per row — pure
    // projection, the linear scan shape. The oracle re-reads the SAME
    // fields via regexp (DuckDB has no XML type), pinning the
    // extraction CONTRACT: attribute, nested element, missing-optional
    // → NULL, numeric content cast.
    "q_xml_funcs" -> ((s, _) => {
      val v = s.sql(s"SELECT id, x FROM VALUES $xmlValues AS t(id, x)")
      v.select(col("id").cast("long").as("id"),
          expr("xpath_long(x, '/item/@id')").as("item_id"),
          expr("xpath_string(x, '/item/name')").as("name"),
          expr("xpath_long(x, '/item/qty')").as("qty"),
          expr("nullif(xpath_string(x, '/item/meta/tag'), '')").as("tag"),
          expr("size(xpath(x, '/item/*'))").cast("long").as("n_children"))
        .orderBy(col("id"))
    }),

    // Spark 4 COLLATION — case-insensitive grouping WITHOUT destroying
    // the data (the lower()-projection alternative loses the original
    // strings and its key can't short-circuit on collation-aware
    // statistics): group on `collate(s, 'UTF8_LCASE')`, report the
    // binary-min representative + the members. The fixture carries a
    // case-DISTINCT triple and a singleton so a collation regression
    // (binary grouping) splits row 1 into three and flips the hash.
    // DuckDB's NOCASE collation is the oracle twin (ASCII-identical).
    "q_collation_ci" -> ((s, _) => {
      val v = s.sql(s"SELECT s FROM VALUES $collationValues AS t(s)")
      v.groupBy(expr("collate(s, 'UTF8_LCASE')").as("k"))
        .agg(count(lit(1)).as("n"), min(col("s")).as("grp"),
          array_join(array_sort(collect_list(col("s"))), ",").as("members"))
        .select(col("grp"), col("n"), col("members"))
        .orderBy(col("grp"))
    }),

    // Unicode NFC canonicalization — the pre-hash normalization step of
    // any web-corpus pipeline, as the native codegen'd UnicodeNormalize
    // expression (java.text.Normalizer kernel; DuckDB nfc_normalize is
    // the oracle). Pure per-row projection: at corpus scale this rides
    // whatever scan carries the text column — no shuffle, and the
    // isNormalized fast path returns already-canonical rows (nearly all
    // real text) without re-encoding.
    "q_text_normalize" -> ((s, _) => {
      import graft.functions.HashExpressions.unicode_normalize
      val v = s.sql(s"SELECT id, s FROM VALUES $normalizeValues AS t(id, s)")
      v.select(col("id").cast("long").as("id"),
          length(col("s")).cast("long").as("raw_chars"),
          unicode_normalize(col("s")).as("nfc"),
          length(unicode_normalize(col("s"))).cast("long").as("nfc_chars"),
          (unicode_normalize(col("s")) =!= col("s")).as("changed"))
        .orderBy(col("id"))
    }),

    // sort-first on the unique key (see q_date_funcs): the 22 derived
    // string columns are computed once, after the narrow-key exchange
    "q_str_funcs" -> ((s, dir) =>
      t(s, dir, "part")
        .orderBy(col("p_partkey"))
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          length(col("p_name")).cast("long").as("len"),
          substring(col("p_name"), 1, 5).as("sub"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("cat"),
          concat_ws("-", col("p_brand"), col("p_type")).as("catws"),
          trim(lit("  pad  ")).as("trimmed"),
          lpad(col("p_brand"), 12, "*").as("lpadded"),
          rpad(col("p_brand"), 12, "*").as("rpadded"),
          regexp_replace(col("p_name"), " ", "_").as("replaced"),
          reverse(col("p_brand")).as("rev"),
          repeat(lit("ab"), 3).as("rep"),
          split_part(col("p_type"), lit(" "), lit(1)).as("first_word"),
          instr(col("p_name"), "a").cast("long").as("pos_a"),
          translate(col("p_brand"), "#", "№").as("trans"),
          ascii(col("p_brand")).cast("long").as("asc"),
          left(col("p_type"), lit(3)).as("l3"),
          right(col("p_type"), lit(3)).as("r3"),
          col("p_name").startsWith("a").as("starts_a"),
          col("p_name").endsWith("e").as("ends_e"),
          col("p_name").contains("or").as("has_or"))),

    // sort-first on the unique key (see q_date_funcs)
    "q_math_funcs" -> ((s, dir) =>
      t(s, dir, "supplier")
        .orderBy(col("s_suppkey"))
        .select(
          col("s_suppkey"),
          abs(col("s_acctbal")).as("a"),
          // Spark ceil/floor(double)→long, DuckDB →double: align on double
          ceil(col("s_acctbal")).cast("double").as("c"),
          floor(col("s_acctbal")).cast("double").as("f"),
          round(sqrt(abs(col("s_acctbal"))), 6).as("sq"),
          round(pow(col("s_suppkey").cast("double"), 2.0), 2).as("p2"),
          round(exp(col("s_suppkey") % 5), 6).as("e"),
          round(log(abs(col("s_acctbal")) + 1), 6).as("lnv"),
          round(log10(abs(col("s_acctbal")) + 1), 6).as("l10"),
          round(log2(col("s_suppkey") + 1), 6).as("l2"),
          round(sin(col("s_suppkey")), 6).as("sn"),
          round(cos(col("s_suppkey")), 6).as("cs"),
          round(atan2(col("s_suppkey"), lit(7)), 6).as("at2"),
          round(degrees(col("s_suppkey") % 4), 6).as("deg"),
          round(radians(col("s_suppkey") % 360), 6).as("rad"),
          signum(col("s_acctbal")).as("sgn"),
          round(cbrt(abs(col("s_acctbal"))), 6).as("cb"),
          (col("s_suppkey") % 10).cast("long").as("m10"),
          pmod(col("s_suppkey"), lit(3)).cast("long").as("pm3"),
          greatest(col("s_acctbal"), lit(0.0)).as("g0"),
          least(col("s_acctbal"), lit(0.0)).as("l0"))),

    // math family round-out: factorial, gcd/lcm (custom expressions —
    // DataFusion has them, Spark doesn't), pi, isnan/nanvl, trunc
    "q_math_funcs2" -> ((s, dir) => {
      import graft.functions.HashExpressions.{num_gcd, num_lcm}
      t(s, dir, "supplier")
        .filter(col("s_suppkey") > 0)
        .orderBy(col("s_suppkey")) // sort-first (see q_date_funcs)
        .select(
          col("s_suppkey"),
          factorial((col("s_suppkey") % 10).cast("int")).as("fact"),
          num_gcd(col("s_suppkey"), lit(36L)).as("g"),
          num_lcm(col("s_suppkey") % 12, lit(8L)).as("l"),
          round(lit(math.Pi), 6).as("pi_v"),
          isnan(lit(Double.NaN) * col("s_acctbal")).as("nan_chk"),
          nanvl(lit(Double.NaN), col("s_acctbal")).as("nv"),
          col("s_acctbal").cast("long").as("tr")) // toward-zero truncation
    }),

    // sort FIRST on the unique scan key, project AFTER (r15, guide
    // §2.3/§2.4): a global orderBy above the projection makes the range
    // exchange sample its child — the heavy expression chain executed
    // twice — and ships every derived column through the exchange;
    // sorted-then-projected, the exchange carries the 2 scan columns
    // and the expressions run once, post-shuffle. Same rows, same
    // unique-key order.
    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_orderkey"))
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          // date-typed outputs rendered as strings: parquet DATE vs
          // DuckDB DATE pandas-roundtrip differently; strings are stable
          date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd").as("as_date"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("plus30"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_end"),
          unix_timestamp(date_trunc("second", col("o_orderdate"))).as("epoch_s"))),

    // NOT sort-first: the o_orderkey < 3000 filter leaves ~2% of the
    // table, so the double-sampled projection is already tiny — paired
    // A/B measured the reorder at 1.10× (no win); HEAD shape kept
    "q_date_funcs2" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          date_format(make_date(lit(2024), lit(3), lit(17)), "yyyy-MM-dd").as("md"),
          date_format(to_date(lit("2024-03-17")), "yyyy-MM-dd").as("td"),
          dayofweek(col("o_orderdate")).cast("long").as("dow_sun1"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          weekofyear(col("o_orderdate")).cast("long").as("woy"))
        .filter(col("o_orderkey") < 3000)
        .orderBy(col("o_orderkey"))),

    "q_regex_funcs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("text").rlike("data").as("has_data"),
          regexp_extract(col("text"), "([A-Za-z]+)", 1).as("first_word"),
          regexp_replace(col("text"), "[aeiou]", "").as("novowel"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
            .cast("long").as("n_words"))
        .filter(col("doc_id") < 200)
        .orderBy(col("doc_id"))),

    "q_cond_null" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          coalesce(when(col("c_acctbal") < 0, col("c_acctbal")), lit(0.0)).as("neg_or_zero"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"),
          when(col("c_acctbal").isNull, lit("?")).otherwise(lit("ok")).as("nullcheck"),
          greatest(col("c_acctbal"), col("c_custkey").cast("double")).as("g"),
          least(col("c_acctbal"), col("c_custkey").cast("double")).as("l"))
        .orderBy(col("c_custkey"))),

    "q_array_funcs" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          // widen f32→f64 BEFORE rounding, or round() happens in float
          // space where e.g. 0.05425 is unrepresentable
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"),
          round(element_at(col("embedding"), -1).cast("double"), 6).as("last_elem"),
          round(array_max(col("embedding")).cast("double"), 6).as("mx"),
          round(array_min(col("embedding")).cast("double"), 6).as("mn"),
          // nested outputs serialized: quantize f32→micro-int (exact — no
          // .5 tie is representable as (2k+1)/2e6 in binary) then join,
          // so both engines hash the identical canonical string
          array_join(transform(slice(col("embedding"), 1, 3),
            x => round(x.cast("double") * 1e6).cast("long").cast("string")), ",")
            .as("head3"),
          array_join(transform(sort_array(slice(col("embedding"), 1, 4)),
            x => round(x.cast("double") * 1e6).cast("long").cast("string")), ",")
            .as("sorted4"),
          array_contains(col("embedding"), lit(0.0f)).as("has_zero"),
          round(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x), 5).as("vec_sum"))
        .filter(col("vec_id") < 100)
        .orderBy(col("vec_id"))),

    "q_array_ops" -> ((s, _) =>
      s.sql(
        """SELECT k,
          |  array_sort(array_distinct(a)) AS dist,
          |  array_sort(array_union(a, b)) AS un,
          |  array_sort(array_intersect(a, b)) AS inter,
          |  array_sort(array_except(a, b)) AS ex,
          |  flatten(array(a, b)) AS flat,
          |  sequence(1, k) AS seq,
          |  array_position(a, 2) AS pos2,
          |  array_sort(array_remove(a, 1)) AS no1
          |FROM VALUES
          |  (1, array(1, 2, 2, 3), array(2, 3, 4)),
          |  (2, array(5, 5, 6), array(6, 7)),
          |  (3, array(1, 1, 1), array(1))
          | AS t(k, a, b)
          |ORDER BY k""".stripMargin)
        // serialize array outputs (driver's comparer can't sort nested cols)
        .selectExpr("CAST(k AS BIGINT) AS k",
          "array_join(CAST(dist AS ARRAY<STRING>), ',') AS dist",
          "array_join(CAST(un AS ARRAY<STRING>), ',') AS un",
          "array_join(CAST(inter AS ARRAY<STRING>), ',') AS inter",
          "array_join(CAST(ex AS ARRAY<STRING>), ',') AS ex",
          "array_join(CAST(flat AS ARRAY<STRING>), ',') AS flat",
          "array_join(CAST(seq AS ARRAY<STRING>), ',') AS seq",
          "CAST(pos2 AS BIGINT) AS pos2",
          "array_join(CAST(no1 AS ARRAY<STRING>), ',') AS no1")),

    // array family round-out: repeat/reverse/prepend/append/compact/
    // cardinality/contains (datafusion-functions-nested parity)
    "q_array_ops2" -> ((s, _) =>
      s.sql(
        """SELECT k,
          |  array_repeat(k, 3) AS rep,
          |  reverse(a) AS rev,
          |  array_prepend(a, 0) AS pre,
          |  array_append(a, 9) AS app,
          |  array_compact(array(k, CAST(NULL AS INT), k + 1)) AS cmp,
          |  cardinality(a) AS card,
          |  array_contains(a, 2) AS has2
          |FROM VALUES
          |  (1, array(1, 2, 2, 3)),
          |  (2, array(5, 5, 6)),
          |  (3, array(1, 1, 1))
          | AS t(k, a)
          |ORDER BY k""".stripMargin)
        .selectExpr("CAST(k AS BIGINT) AS k",
          "array_join(CAST(rep AS ARRAY<STRING>), ',') AS rep",
          "array_join(CAST(rev AS ARRAY<STRING>), ',') AS rev",
          "array_join(CAST(pre AS ARRAY<STRING>), ',') AS pre",
          "array_join(CAST(app AS ARRAY<STRING>), ',') AS app",
          "array_join(CAST(cmp AS ARRAY<STRING>), ',') AS cmp",
          "CAST(card AS BIGINT) AS card", "has2")),

    // higher-order array functions as user surface (transform / filter /
    // aggregate / exists / forall / zip_with)
    "q_higher_order" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 50)
        .select(
          col("vec_id"),
          round(aggregate(transform(col("embedding"), x => x.cast("double") * 2),
            lit(0.0), (acc, x) => acc + x), 5).as("sum2x"),
          size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
          exists(col("embedding"), x => x > 0.3).as("any_big"),
          forall(col("embedding"), x => abs(x) < 1).as("all_small"),
          round(aggregate(
            zip_with(slice(col("embedding"), 1, 8), slice(col("embedding"), 9, 8),
              (a, b) => a.cast("double") * b.cast("double")),
            lit(0.0), (acc, x) => acc + x), 6).as("dot8"))
        .orderBy(col("vec_id"))),

    "q_struct_funcs" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          struct(col("c_name").as("name"), col("c_acctbal").as("bal")).as("info"))
        .select(
          col("c_custkey"),
          col("info.name").as("name"),
          col("info.bal").as("bal"))
        .orderBy(col("c_custkey"))),

    "q_crypto_funcs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(col("text")).as("h_md5"),
          sha2(col("text"), 256).as("h_sha256"),
          // Spark base64 emits MIME 76-char line wraps; strip for the
          // canonical unwrapped form
          regexp_replace(base64(col("text").cast("binary")), "\r\n", "").as("b64"),
          hex(col("doc_id")).as("hx"))
        .filter(col("doc_id") < 200)
        .orderBy(col("doc_id"))),

    // crc32 has no DuckDB function, but CRC-32 (IEEE 802.3) is a pinned
    // public standard: the driver gate compares Spark's crc32 against
    // oracle VALUES literals from an independent implementation (zlib /
    // java.util.zip agree; '123456789' → 0xCBF43926 is the algorithm's
    // own published check value). The corpus-scan crypto surface stays
    // driver-gated via q_crypto_funcs' md5/sha256 over documents, and
    // GoldenSpec cross-checks crc32 against java.util.zip.CRC32.
    "q_crc32" -> ((s, dir) => {
      import s.implicits._
      Seq("123456789", "", "a", "abc",
        "The quick brown fox jumps over the lazy dog", "graft spark engine")
        .toDF("sv")
        .select(col("sv"), crc32(col("sv").cast("binary")).as("crc"))
        .orderBy(col("sv"))
    }),

    "q_explode" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
        .orderBy(col("word"))),

    // JSON functions over the events props payload
    "q_json_funcs" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k_int"),
          to_json(struct(col("event_id").as("id"))).as("as_json"))
        .filter(col("event_id") < 2000)
        .orderBy(col("event_id"))),

    "q_posexplode" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 8)))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("idx"),
          round(col("col").cast("double"), 6).as("val"))
        .orderBy(col("vec_id"), col("idx"))),

    // §2.8 long tail (reference inherits these from datafusion-functions,
    // Cargo.lock:1404): find_in_set, chr, initcap, btrim, to_char numeric
    // formatting, to_timestamp_{micros,millis,seconds}, to_local_time
    // (→ from_utc_timestamp), iszero. uuid is covered by q_nondet_fns.
    "q_fn_longtail" -> ((s, dir) =>
      t(s, dir, "supplier")
        .select(
          col("s_suppkey"),
          expr("find_in_set(CAST(s_nationkey AS STRING), '0,5,10,15,20')")
            .cast("long").as("fis"),
          expr("chr(65 + s_suppkey % 26)").as("ch"),
          initcap(lower(col("s_name"))).as("ini"),
          expr("btrim(concat('xx', s_name, 'xx'), 'x')").as("bt"),
          expr("to_char(abs(s_acctbal), '00000.00')").as("tc"),
          date_format(timestamp_micros(lit(1700000000000000L) + col("s_suppkey") * 1234567L),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("tmu"),
          date_format(timestamp_millis(lit(1700000000000L) + col("s_suppkey") * 98765L),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("tms"),
          date_format(timestamp_seconds(lit(1700000000L) + col("s_suppkey") * 3600L),
            "yyyy-MM-dd HH:mm:ss").as("tse"),
          // DataFusion to_local_time analogue: shift UTC instant into a zone
          date_format(from_utc_timestamp(
            timestamp_seconds(lit(1700000000L) + col("s_suppkey") * 3600L),
            "Asia/Kolkata"), "yyyy-MM-dd HH:mm:ss").as("loc"),
          (pmod(col("s_suppkey"), lit(5)).cast("double") === 0.0).as("isz"))
        .orderBy(col("s_suppkey"))),

    // §2.8 long tail, part 2: bit_length, char_length, ltrim/rtrim with
    // trim-set, to_hex, nvl2, ifnull, regexp_count, typeof, version
    "q_fn_longtail2" -> ((s, dir) =>
      t(s, dir, "nation")
        .select(
          col("n_nationkey"),
          bit_length(col("n_name")).cast("long").as("bl"),
          char_length(col("n_name")).cast("long").as("cl"),
          // Spark's 2-arg [lr]trim is (trimStr, src) — reversed vs DuckDB
          expr("ltrim('xy', concat('xy', n_name))").as("lt"),
          expr("rtrim('xy', concat(n_name, 'yx'))").as("rt"),
          lower(hex(col("n_nationkey") + 255)).as("hx"),
          expr("nvl2(nullif(n_regionkey, 0), 'has_region', 'region_zero')").as("nv2"),
          expr("ifnull(nullif(n_regionkey, 0), -1)").cast("long").as("ifn"),
          expr("regexp_count(n_name, '[AEIOU]+')").cast("long").as("rc"),
          lower(expr("typeof(CAST(n_nationkey AS BIGINT))")).as("ty"),
          expr("version() IS NOT NULL").as("ver_ok"))
        .orderBy(col("n_nationkey")))
  )

  val oracleSql: Map[String, String] = Map(
    // same paths through DuckDB's JSON type: ->> yields SQL NULL for
    // json-null, missing paths, and out-of-range array indexes —
    // exactly variant_get's contract
    "q_variant_funcs" ->
      s"""SELECT CAST(id AS BIGINT) AS id,
         |  CAST(j->>'$$.k' AS BIGINT) AS k,
         |  j->>'$$.tags[0]' AS tag0,
         |  CAST(j->>'$$.meta.score' AS DOUBLE) AS score,
         |  CAST(j->>'$$.meta.ok' AS BOOLEAN) AS ok,
         |  CAST(j->>'$$.nested.deep.x[2]' AS BIGINT) AS x2,
         |  CAST(j->>'$$.missing' AS BIGINT) AS missing
         |FROM (VALUES $variantValues) AS t(id, j)
         |ORDER BY id""".stripMargin,

    "q_xml_funcs" ->
      s"""SELECT CAST(id AS BIGINT) AS id,
         |  CAST(regexp_extract(x, 'id="(\\d+)"', 1) AS BIGINT) AS item_id,
         |  regexp_extract(x, '<name>([^<]*)</name>', 1) AS name,
         |  CAST(regexp_extract(x, '<qty>(\\d+)</qty>', 1) AS BIGINT) AS qty,
         |  nullif(regexp_extract(x, '<tag>([^<]*)</tag>', 1), '') AS tag,
         |  CAST(len(regexp_extract_all(x, '<(name|qty|meta)>')) AS BIGINT)
         |    AS n_children
         |FROM (VALUES $xmlValues) AS t(id, x)
         |ORDER BY id""".stripMargin,

    "q_collation_ci" ->
      s"""SELECT min(s) AS grp, count(*) AS n,
         |  string_agg(s, ',' ORDER BY s) AS members
         |FROM (VALUES $collationValues) AS t(s)
         |GROUP BY s COLLATE NOCASE
         |ORDER BY grp""".stripMargin,

    "q_text_normalize" ->
      s"""SELECT CAST(id AS BIGINT) AS id,
         |  CAST(length(s) AS BIGINT) AS raw_chars,
         |  nfc_normalize(s) AS nfc,
         |  CAST(length(nfc_normalize(s)) AS BIGINT) AS nfc_chars,
         |  nfc_normalize(s) <> s AS changed
         |FROM (VALUES $normalizeValues) AS t(id, s)
         |ORDER BY id""".stripMargin,

    "q_str_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_brand) AS lo,
        |  CAST(length(p_name) AS BIGINT) AS len,
        |  substring(p_name, 1, 5) AS sub,
        |  p_brand || '#' || p_type AS cat,
        |  concat_ws('-', p_brand, p_type) AS catws,
        |  trim('  pad  ') AS trimmed,
        |  lpad(p_brand, 12, '*') AS lpadded,
        |  rpad(p_brand, 12, '*') AS rpadded,
        |  replace(p_name, ' ', '_') AS replaced,
        |  reverse(p_brand) AS rev,
        |  repeat('ab', 3) AS rep,
        |  split_part(p_type, ' ', 1) AS first_word,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS pos_a,
        |  translate(p_brand, '#', '№') AS trans,
        |  CAST(ascii(p_brand) AS BIGINT) AS asc,
        |  left(p_type, 3) AS l3, right(p_type, 3) AS r3,
        |  starts_with(p_name, 'a') AS starts_a,
        |  suffix(p_name, 'e') AS ends_e,
        |  contains(p_name, 'or') AS has_or
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT s_suppkey,
        |  abs(s_acctbal) AS a,
        |  ceil(s_acctbal) AS c,
        |  floor(s_acctbal) AS f,
        |  round(sqrt(abs(s_acctbal)), 6) AS sq,
        |  round(pow(CAST(s_suppkey AS DOUBLE), 2.0), 2) AS p2,
        |  round(exp(s_suppkey % 5), 6) AS e,
        |  round(ln(abs(s_acctbal) + 1), 6) AS lnv,
        |  round(log10(abs(s_acctbal) + 1), 6) AS l10,
        |  round(log2(s_suppkey + 1), 6) AS l2,
        |  round(sin(s_suppkey), 6) AS sn,
        |  round(cos(s_suppkey), 6) AS cs,
        |  round(atan2(s_suppkey, 7), 6) AS at2,
        |  round(degrees(s_suppkey % 4), 6) AS deg,
        |  round(radians(s_suppkey % 360), 6) AS rad,
        |  CAST(sign(s_acctbal) AS DOUBLE) AS sgn,
        |  round(cbrt(abs(s_acctbal)), 6) AS cb,
        |  CAST(s_suppkey % 10 AS BIGINT) AS m10,
        |  CAST(((s_suppkey % 3) + 3) % 3 AS BIGINT) AS pm3,
        |  greatest(s_acctbal, 0.0) AS g0,
        |  least(s_acctbal, 0.0) AS l0
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_math_funcs2" ->
      """SELECT s_suppkey,
        |  CAST(factorial(CAST(s_suppkey % 10 AS INT)) AS BIGINT) AS fact,
        |  CAST(gcd(s_suppkey, 36) AS BIGINT) AS g,
        |  CAST(lcm(s_suppkey % 12, 8) AS BIGINT) AS l,
        |  round(pi(), 6) AS pi_v,
        |  isnan(CAST('nan' AS DOUBLE) * s_acctbal) AS nan_chk,
        |  s_acctbal AS nv,
        |  CAST(trunc(s_acctbal) AS BIGINT) AS tr
        |FROM supplier WHERE s_suppkey > 0 ORDER BY s_suppkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS as_date,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_end,
        |  CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_date_funcs2" ->
      """SELECT o_orderkey,
        |  strftime(make_date(2024, 3, 17), '%Y-%m-%d') AS md,
        |  strftime(CAST('2024-03-17' AS DATE), '%Y-%m-%d') AS td,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS woy
        |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin,

    "q_regex_funcs" ->
      """SELECT doc_id,
        |  regexp_matches(text, 'data') AS has_data,
        |  regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
        |  regexp_replace(text, '[aeiou]', '', 'g') AS novowel,
        |  CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_cond_null" ->
      """SELECT c_custkey,
        |  coalesce(CASE WHEN c_acctbal < 0 THEN c_acctbal END, 0.0) AS neg_or_zero,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_nb,
        |  CASE WHEN c_acctbal IS NULL THEN '?' ELSE 'ok' END AS nullcheck,
        |  greatest(c_acctbal, CAST(c_custkey AS DOUBLE)) AS g,
        |  least(c_acctbal, CAST(c_custkey AS DOUBLE)) AS l
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_array_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |  round(CAST(embedding[-1] AS DOUBLE), 6) AS last_elem,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS mx,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS mn,
        |  array_to_string(CAST(list_transform(CAST(embedding[1:3] AS DOUBLE[]),
        |    x -> CAST(round(x * 1e6) AS BIGINT)) AS VARCHAR[]), ',') AS head3,
        |  array_to_string(CAST(list_transform(CAST(list_sort(embedding[1:4]) AS DOUBLE[]),
        |    x -> CAST(round(x * 1e6) AS BIGINT)) AS VARCHAR[]), ',') AS sorted4,
        |  list_contains(embedding, 0.0) AS has_zero,
        |  round(list_sum(CAST(embedding AS DOUBLE[])), 5) AS vec_sum
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,

    "q_array_ops" ->
      """SELECT CAST(k AS BIGINT) AS k,
        |  array_to_string(CAST(list_sort(list_distinct(a)) AS VARCHAR[]), ',') AS dist,
        |  array_to_string(CAST(list_sort(list_distinct(list_concat(a, b))) AS VARCHAR[]), ',') AS un,
        |  coalesce(array_to_string(CAST(list_sort(list_intersect(a, b)) AS VARCHAR[]), ','), '') AS inter,
        |  coalesce(array_to_string(CAST(list_sort(list_filter(list_distinct(a), x -> NOT list_contains(b, x))) AS VARCHAR[]), ','), '') AS ex,
        |  array_to_string(CAST(flatten([a, b]) AS VARCHAR[]), ',') AS flat,
        |  array_to_string(CAST(generate_series(1, k) AS VARCHAR[]), ',') AS seq,
        |  CAST(list_position(a, 2) AS BIGINT) AS pos2,
        |  coalesce(array_to_string(CAST(list_sort(list_filter(a, x -> x != 1)) AS VARCHAR[]), ','), '') AS no1
        |FROM (VALUES
        |  (1, [1, 2, 2, 3], [2, 3, 4]),
        |  (2, [5, 5, 6], [6, 7]),
        |  (3, [1, 1, 1], [1])) AS t(k, a, b)
        |ORDER BY k""".stripMargin,

    "q_higher_order" ->
      """SELECT vec_id,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)), 5) AS sum2x,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  len(list_filter(embedding, x -> x > 0.3)) > 0 AS any_big,
        |  len(list_filter(embedding, x -> abs(x) >= 1)) = 0 AS all_small,
        |  round(list_sum(list_transform(generate_series(1, 8),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i + 8] AS DOUBLE))), 6) AS dot8
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin,

    "q_struct_funcs" ->
      """SELECT c_custkey, c_name AS name, c_acctbal AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_crypto_funcs" ->
      """SELECT doc_id,
        |  md5(text) AS h_md5,
        |  sha256(text) AS h_sha256,
        |  to_base64(CAST(text AS BLOB)) AS b64,
        |  CASE WHEN doc_id = 0 THEN '0' ELSE ltrim(hex(doc_id), '0') END AS hx
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    // independent pins: zlib.crc32 (same IEEE 802.3 polynomial family
    // as Spark's crc32); first row is the algorithm's check value
    "q_crc32" ->
      """SELECT * FROM (VALUES
        |  ('123456789', CAST(3421780262 AS BIGINT)),
        |  ('', CAST(0 AS BIGINT)),
        |  ('a', CAST(3904355907 AS BIGINT)),
        |  ('abc', CAST(891568578 AS BIGINT)),
        |  ('The quick brown fox jumps over the lazy dog',
        |   CAST(1095738169 AS BIGINT)),
        |  ('graft spark engine', CAST(821433044 AS BIGINT))) AS t(sv, crc)
        |ORDER BY sv""".stripMargin,

    "q_explode" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 50
        |) WHERE length(word) > 0
        |GROUP BY word HAVING count(*) >= 20 ORDER BY word""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_id,
        |  props->>'k' AS k_str,
        |  CAST(props->>'k' AS BIGINT) AS k_int,
        |  '{"id":' || event_id || '}' AS as_json
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,

    "q_posexplode" ->
      """SELECT vec_id, CAST(idx AS BIGINT) AS idx,
        |  round(CAST(embedding[idx] AS DOUBLE), 6) AS val
        |FROM embeddings, unnest(generate_series(1, 8)) AS t(idx)
        |WHERE vec_id < 5 ORDER BY vec_id, idx""".stripMargin,

    "q_array_ops2" ->
      """SELECT CAST(k AS BIGINT) AS k,
        |  array_to_string(list_transform(range(1, 4), i -> CAST(k AS VARCHAR)), ',') AS rep,
        |  array_to_string(list_reverse(a), ',') AS rev,
        |  array_to_string(list_prepend(0, a), ',') AS pre,
        |  array_to_string(list_append(a, 9), ',') AS app,
        |  array_to_string(list_filter([k, NULL, k + 1], x -> x IS NOT NULL), ',') AS cmp,
        |  CAST(len(a) AS BIGINT) AS card,
        |  list_contains(a, 2) AS has2
        |FROM (VALUES
        |  (1, [1, 2, 2, 3]),
        |  (2, [5, 5, 6]),
        |  (3, [1, 1, 1])) AS t(k, a)
        |ORDER BY k""".stripMargin,

    "q_fn_longtail" ->
      """SELECT s_suppkey,
        |  CAST(coalesce(list_position(string_split('0,5,10,15,20', ','),
        |                              CAST(s_nationkey AS VARCHAR)), 0) AS BIGINT) AS fis,
        |  chr(CAST(65 + s_suppkey % 26 AS INTEGER)) AS ch,
        |  upper(substr(lower(s_name), 1, 1)) || substr(lower(s_name), 2) AS ini,
        |  trim('xx' || s_name || 'xx', 'x') AS bt,
        |  printf('%08.2f', CAST(abs(s_acctbal) AS DOUBLE)) AS tc,
        |  strftime(make_timestamp(1700000000000000 + s_suppkey * 1234567),
        |           '%Y-%m-%d %H:%M:%S.%f') AS tmu,
        |  strftime(epoch_ms(1700000000000 + s_suppkey * 98765),
        |           '%Y-%m-%d %H:%M:%S.%f') AS tms,
        |  strftime(to_timestamp(1700000000 + s_suppkey * 3600)::TIMESTAMP,
        |           '%Y-%m-%d %H:%M:%S') AS tse,
        |  strftime(timezone('Asia/Kolkata',
        |           to_timestamp(1700000000 + s_suppkey * 3600)),
        |           '%Y-%m-%d %H:%M:%S') AS loc,
        |  (s_suppkey % 5 = 0) AS isz
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_fn_longtail2" ->
      """SELECT n_nationkey,
        |  CAST(bit_length(n_name) AS BIGINT) AS bl,
        |  CAST(length(n_name) AS BIGINT) AS cl,
        |  ltrim('xy' || n_name, 'xy') AS lt,
        |  rtrim(n_name || 'yx', 'xy') AS rt,
        |  lower(to_hex(n_nationkey + 255)) AS hx,
        |  CASE WHEN nullif(n_regionkey, 0) IS NOT NULL
        |       THEN 'has_region' ELSE 'region_zero' END AS nv2,
        |  CAST(ifnull(nullif(n_regionkey, 0), -1) AS BIGINT) AS ifn,
        |  CAST(len(regexp_extract_all(n_name, '[AEIOU]+')) AS BIGINT) AS rc,
        |  'bigint' AS ty,
        |  version() IS NOT NULL AS ver_ok
        |FROM nation ORDER BY n_nationkey""".stripMargin
  )
}
