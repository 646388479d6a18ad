package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{table => t}

/** SURVEY §2.1 sources & sinks beyond parquet scan: CSV and NDJSON
  * read/write roundtrips (header + schema inference, the reference's CSV
  * contract, src/lib.rs:57-58), a CTAS-style parquet sink, and EXPLAIN.
  *
  * Roundtrip queries write a deterministic extract of a testdata table to
  * a scratch dir, read it back through the other format's reader, and
  * reduce — so the oracle is simply the equivalent query over the
  * original table. Sinks use a single scratch location per format,
  * overwritten on each run (idempotent).
  */
object Sources {

  private def scratch(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_scratch", tag)
    Files.createDirectories(p.getParent)
    p.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CSV sink → CSV scan with header + inferSchema (reference contract)
    "q_csv_roundtrip" -> ((s, dir) => {
      val out = scratch("csv_nation")
      t(s, dir, "nation").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("inferSchema", "true").csv(out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
        .select(col("n_regionkey").cast("int").as("n_regionkey"), col("n"),
          col("key_sum").cast("long").as("key_sum"))
        .orderBy(col("n_regionkey"))
    }),

    // additive schema evolution across parquet shards — the 100 TB
    // reality that a corpus is written over months by evolving jobs:
    // old shards lack columns newer shards carry. Two shards with
    // DIFFERENT physical schemas (v1: 3 columns; v2: + source,
    // quality) are read as ONE relation via mergeSchema — Spark unions
    // the footers and nulls the missing columns per row group, pruning
    // still per-shard (a v1 scan never reads v2-only columns).
    // Additive-only by design: that is the supported parquet-evolution
    // contract (type WIDENING is a rewrite, not a merge — documented,
    // not emulated). The aggregate exercises both the null-fill path
    // (count(source) sees only v2 rows) and coalesce defaults.
    "q_schema_evolution" -> ((s, dir) => {
      val out = scratch("schema_evo_docs")
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/v1")
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"),
          expr("n_chars div 100").as("quality"))
        .write.mode("overwrite").parquet(s"$out/v2")
      s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          count(col("source")).as("n_with_source"),
          sum(coalesce(col("quality"), lit(0L))).as("quality_sum"))
        .orderBy(col("lang"))
    }),

    // CSV DIALECT surface (the reference's CsvReadOptions knobs:
    // delimiter/quote/escape/null markers): pipe-delimited, quoted,
    // custom NULL token, escaped quotes — exercised on free text (the
    // documents table carries commas, quotes and every dialect hazard),
    // written then read back with the SAME dialect declared, proving
    // the writer/parser pair loses nothing. multiLine handles embedded
    // newlines; the aggregate compares against the original table.
    "q_csv_dialect" -> ((s, dir) => {
      val out = scratch("csv_dialect_docs")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          // a genuinely-null column exercises the nullValue token
          when(col("doc_id") % 5 === 0, col("source")).as("src_opt"))
        .coalesce(1).write.mode("overwrite")
        .option("header", "true").option("sep", "|")
        .option("quote", "\"").option("escape", "\"")
        .option("nullValue", "\\N")
        .csv(out)
      s.read
        .option("header", "true").option("sep", "|")
        .option("quote", "\"").option("escape", "\"")
        .option("nullValue", "\\N").option("multiLine", "true")
        .option("inferSchema", "true")
        .csv(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("long").as("sum_chars"),
          count(col("src_opt")).as("n_src"))
        .orderBy(col("lang"))
    }),

    // NDJSON sink → NDJSON scan
    "q_json_roundtrip" -> ((s, dir) => {
      val out = scratch("json_customer")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .coalesce(1).write.mode("overwrite").json(out)
      s.read.json(out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // CTAS-shaped parquet sink → scan (predicate applied pre-sink). The
    // scan's schema is read from a footer without a job, and not through
    // Engine.table: `out` is rewritten every run, so its schema memo would
    // grow by one entry per run
    "q_parquet_ctas" -> ((s, dir) => {
      val out = scratch("pq_bigorders")
      t(s, dir, "orders").filter(col("o_totalprice") > 200000)
        .write.mode("overwrite").parquet(out)
      s.read.schema(Engine.parquetSchema(s, out)).parquet(out)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // ORC sink → ORC scan: completes Spark's native columnar format
    // family (parquet + ORC); the reference has neither ORC nor Avro,
    // but a Spark-native engine gets ORC for free and a real deployment
    // will meet it. Predicate pushdown works on ORC scans like parquet.
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = scratch("orc_supplier")
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("s_acctbal") > 0)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("bal"))
        .orderBy(col("s_nationkey"))
    }),

    // Arrow IPC sink → scan (graft.sources.ArrowIpc): the reference
    // stack's interchange format, written per-partition through the
    // Hadoop FS API and decoded back via binaryFile + mapPartitions.
    // Filter applies POST-scan (IPC has no pushdown — see ArrowIpc
    // scaladoc); the reduction mirrors the other roundtrips so the
    // oracle is the same query over the original parquet table.
    "q_arrow_roundtrip" -> ((s, dir) => {
      val out = scratch("arrow_part")
      graft.sources.ArrowIpc.write(
        t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_retailprice")),
        out)
      graft.sources.ArrowIpc.read(s, out)
        .filter(col("p_retailprice") > 905) // >1000 was above the testdata price cap (999.9): vacuous
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 2).as("price_sum"))
        .orderBy(col("p_brand"))
    }),

    // Arrow IPC through the SQL/DDL surface (DataSource V2
    // graft.sources.ArrowIpcDataSource, short name "arrowipc"): the
    // reference reaches arrow via table DDL (`STORED AS ARROW`), so the
    // source must be visible to a pure-SQL user by table NAME, not only
    // through the programmatic API q_arrow_roundtrip exercises. Sink via
    // df.write.format, then CREATE TABLE ... USING arrowipc and a
    // grouped reduction over the named table.
    "q_arrow_sql" -> ((s, dir) => {
      val out = scratch("arrow_sql_orders")
      val tbl = "arrow_orders_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.format("arrowipc").mode("overwrite").save(out)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING arrowipc OPTIONS (path '$out')")
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n,
           |       round(sum(o_totalprice), 2) AS price_sum,
           |       max(o_orderkey) AS max_key
           |FROM $tbl GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // DML: INSERT INTO an external table, then read the union back
    "q_insert_into" -> ((s, dir) => {
      val out = scratch("ins_region")
      val tbl = "ins_region_" + dir.replaceAll("[^0-9a-zA-Z]", "_")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      t(s, dir, "region").write.mode("overwrite")
        .option("path", out).saveAsTable(tbl)
      s.sql(s"INSERT INTO $tbl VALUES (100, 'NEWLAND'), (101, 'OLDLAND')")
      s.table(tbl)
        .groupBy(lit(1).as("g"))
        .agg(count(lit(1)).as("n"), max(col("r_regionkey")).as("max_key"))
        .select(col("n"), col("max_key"))
    }),

    // EXPLAIN surfaces the plan through SQL (rows-only: plan text is
    // engine-specific by nature)
    "q_explain" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql("EXPLAIN FORMATTED SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY l_returnflag")
    }),

    // EXPLAIN ANALYZE analogue: executed-plan SQLMetrics, one row per
    // (operator, metric) (rows-only: metric values are run-specific)
    "q_explain_analyze" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      graft.Explain.analyze(s.sql(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem GROUP BY l_returnflag"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // like the dialect oracle: computed from the ORIGINAL table — the
    // two-shard merge must reassemble every row with correct null-fill
    // for the hash to match
    "q_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(CASE WHEN doc_id % 2 = 1 THEN source END) AS n_with_source,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars // 100
        |    ELSE 0 END) AS BIGINT) AS quality_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the oracle reads the ORIGINAL table: the dialect roundtrip must
    // be lossless for the hash to match
    "q_csv_dialect" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  count(CASE WHEN doc_id % 5 = 0 THEN source END) AS n_src
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_parquet_ctas" ->
      """SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
        |FROM orders WHERE o_totalprice > 200000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal
        |FROM supplier WHERE s_acctbal > 0
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q_arrow_roundtrip" ->
      """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS price_sum
        |FROM part WHERE p_retailprice > 905
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_arrow_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS price_sum,
        |       max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_insert_into" ->
      """SELECT count(*) + 2 AS n, CAST(101 AS INT) AS max_key FROM region""".stripMargin
  )
}
