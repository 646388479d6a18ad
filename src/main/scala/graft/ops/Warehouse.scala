package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine.{table => t}

/** Warehouse-maintenance operators a lakehouse team runs daily, each
  * re-expressed as a declarative one-pass plan and oracle-checked:
  *
  *  - **SCD type-2 build** (`q_scd2`): compact an append-only change
  *    history into versioned dimension rows with validity intervals.
  *    Two windows, both partitioned by the dimension key — sort state
  *    is per-key, never corpus-wide, so the plan survives any scale-up
  *    where single keys stay bounded (they do: a customer's order
  *    count, not the order total).
  *  - **column profiler** (`q_data_profile`): per-column null count,
  *    exact distinct count, min/max. One aggregation pass PER COLUMN,
  *    unioned — deliberately not one pass with K `count(distinct)`s,
  *    which Catalyst plans via Expand (row multiplication ×K — the
  *    exact plan shape the r8 verdict flagged on `q_agg_distinct`).
  *    Parquet column pruning makes each pass read exactly one column,
  *    so the total I/O is one read of the profiled columns either way,
  *    and each union branch is an independent 2-exchange partial agg.
  */
object Warehouse {

  /** SCD2 compaction: rows where the tracked attribute actually changed
    * (vs the previous version in key order), each carrying
    * [valid_from, valid_to) and an is_current flag. `orderCols` must be
    * a deterministic total order within a key (include a unique
    * tiebreaker). */
  def scd2(history: DataFrame, key: Column, tracked: Column,
      orderCols: Seq[Column], validFrom: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    val changed = history
      .withColumn("__prev", lag(tracked, 1).over(w))
      .where(col("__prev").isNull || col("__prev") =!= tracked)
      .drop("__prev")
    // second window runs on the compacted frame: valid_to of version n
    // is valid_from of version n+1 (half-open intervals chain exactly)
    changed
      .withColumn("valid_from", validFrom)
      .withColumn("valid_to", lead(validFrom, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** One profile row for a column: (column, n_rows, n_null, n_distinct,
    * min_s, max_s). `asStr` renders min/max in a form both engines print
    * identically (dates via cast to date, numerics via cast to string). */
  private def profileCol(df: DataFrame, name: String,
      asStr: Column => Column): DataFrame = {
    val c = col(name)
    df.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(c)).as("n_null"),
        countDistinct(c).as("n_distinct"),
        asStr(min(c)).as("min_s"),
        asStr(max(c)).as("max_s"))
      .select(lit(name).as("column"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_s"), col("max_s"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SCD2 dimension build from the orders change history (custkey
    // sample bounds the output; semantics identical at any sample)
    "q_scd2" -> ((s, dir) => {
      val h = t(s, dir, "orders")
        .where(pmod(col("o_custkey"), lit(19)) === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"))
      scd2(h, col("o_custkey"), col("o_orderstatus"),
          Seq(col("o_orderdate"), col("o_orderkey")), col("o_orderdate"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderstatus").as("status"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    }),

    // point-in-time snapshot over the SCD2 dimension — the feature-store
    // read that makes type-2 history worth building: "the status each
    // tracked customer had ON 1995-06-15", one row per key by the
    // half-open-interval invariant (valid_from ≤ T < valid_to). The
    // training-data version of this query is leakage prevention:
    // features joined AS OF the label's event time, never today's row.
    // Same per-key window build as q_scd2, then a pure filter.
    "q_scd2_asof" -> ((s, dir) => {
      val asOf = lit("1995-06-15").cast("date")
      val h = t(s, dir, "orders")
        .where(pmod(col("o_custkey"), lit(19)) === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"))
      scd2(h, col("o_custkey"), col("o_orderstatus"),
          Seq(col("o_orderdate"), col("o_orderkey")), col("o_orderdate"))
        .where(col("valid_from") <= asOf &&
          (col("valid_to").isNull || col("valid_to") > asOf))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderstatus").as("status"), col("valid_from"),
          col("valid_to"))
        .orderBy(col("o_custkey"))
    }),

    // data-quality constraint validation — the dbt-test / expectations
    // battery a warehouse gates loads on: referential integrity (anti
    // probe via left join + null count, one pass per FK), primary-key
    // uniqueness (count − distinct, no Expand: single distinct each),
    // domain ranges, and NOT NULL — each check one independent
    // aggregation (pruned to its own columns at the parquet footer),
    // unioned into a 6-row report. The dimension side of each FK check
    // is its distinct key set (at 100 TB that side is the dimension
    // table — broadcast-sized by definition of a dimension).
    "q_constraint_check" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      def report(name: String, agged: DataFrame): DataFrame =
        agged.select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"), (col("n_violations") === 0L).as("ok"))
      val fkOrders = report("fk_orders_custkey",
        ord.select(col("o_custkey"))
          .join(cust.select(col("c_custkey").as("o_custkey")).distinct()
            .withColumn("ex", lit(1)), Seq("o_custkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            count(when(col("ex").isNull, lit(1))).as("n_violations")))
      val fkLine = report("fk_lineitem_orderkey",
        li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey").as("l_orderkey")).distinct()
            .withColumn("ex", lit(1)), Seq("l_orderkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            count(when(col("ex").isNull, lit(1))).as("n_violations")))
      val pkCust = report("pk_customer_unique",
        cust.agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col("c_custkey"))).as("n_violations")))
      val qtyRange = report("range_lineitem_quantity",
        li.agg(count(lit(1)).as("n_checked"),
          count(when(col("l_quantity") <= 0 || col("l_quantity") > 60, lit(1)))
            .as("n_violations")))
      val dateRange = report("range_orders_orderdate",
        ord.agg(count(lit(1)).as("n_checked"),
          count(when(!col("o_orderdate").cast("date")
            .between(lit("1995-01-01"), lit("2001-12-31")), lit(1)))
            .as("n_violations")))
      val nnBal = report("notnull_customer_acctbal",
        cust.agg(count(lit(1)).as("n_checked"),
          count(when(col("c_acctbal").isNull, lit(1))).as("n_violations")))
      fkOrders.unionAll(fkLine).unionAll(pkCust).unionAll(qtyRange)
        .unionAll(dateRange).unionAll(nnBal)
        .orderBy(col("check_name"))
    }),

    // CDC / MERGE INTO application — the lakehouse write path: apply a
    // change feed (inserts, updates, deletes, possibly several ops per
    // key) to a base snapshot with latest-op-wins semantics, then
    // summarize the resulting snapshot. Feed construction is synthetic
    // but the MERGE itself is the real shape: one per-key window over
    // the FEED (change-batch-sized, never snapshot-sized) picks each
    // key's final op, one full-outer join applies it — exactly what a
    // Delta/Iceberg MERGE compiles to. Base = orderkey % 3 ≠ 0;
    // updates flip status to 'U' for % 5 keys, deletes remove % 7 keys
    // (keys hit by both take the later delete), inserts add the % 3
    // keys. Output: per-status row count + exact cent-grid price mass
    // of the post-merge snapshot.
    "q_cdc_apply" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val base = ord.filter(col("o_orderkey") % 3 =!= 0)
      val k = col("o_orderkey")
      val feed = ord.filter(k % 3 =!= 0 && k % 5 === 0)
          .select(k, lit("U").as("status"), col("o_totalprice"),
            lit("U").as("op"), lit(1L).as("seq"))
        .unionAll(ord.filter(k % 3 =!= 0 && k % 7 === 0)
          .select(k, col("o_orderstatus"), col("o_totalprice"),
            lit("D").as("op"), lit(2L).as("seq")))
        .unionAll(ord.filter(k % 3 === 0)
          .select(k, col("o_orderstatus"), col("o_totalprice"),
            lit("I").as("op"), lit(3L).as("seq")))
      val wk = Window.partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
      val last = feed.withColumn("rn", row_number().over(wk))
        .filter(col("rn") === 1).drop("rn", "seq")
      base.select(col("o_orderkey"),
          col("o_orderstatus").as("b_status"), col("o_totalprice").as("b_price"))
        .join(last.select(col("o_orderkey"), col("status").as("f_status"),
          col("o_totalprice").as("f_price"), col("op")),
          Seq("o_orderkey"), "full_outer")
        .filter(coalesce(col("op"), lit("-")) =!= "D")
        .select(
          when(col("op") === "U", col("f_status"))
            .when(col("op") === "I", col("f_status"))
            .otherwise(col("b_status")).as("status"),
          when(col("op") === "I", col("f_price"))
            .otherwise(col("b_price")).as("price"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("price").cast("double") * 100).cast("long"))
            .as("price_cents"))
        .orderBy(col("status"))
    }),

    // per-column profile over lineitem: 4 pruned single-column passes
    "q_data_profile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val numeric: Column => Column = _.cast("string")
      val dateS: Column => Column = _.cast("date").cast("string")
      profileCol(li, "l_quantity", numeric)
        .unionAll(profileCol(li, "l_extendedprice", numeric))
        .unionAll(profileCol(li, "l_returnflag", _.cast("string")))
        .unionAll(profileCol(li, "l_shipdate", dateS))
        .orderBy(col("column"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_scd2" ->
      """WITH h AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders WHERE o_custkey % 19 = 0
        |), c AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate
        |  FROM h WHERE prev IS NULL OR prev <> o_orderstatus
        |)
        |SELECT o_custkey, o_orderkey, o_orderstatus AS status,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  (lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
        |FROM c ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,

    "q_scd2_asof" ->
      """WITH h AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders WHERE o_custkey % 19 = 0
        |), c AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate
        |  FROM h WHERE prev IS NULL OR prev <> o_orderstatus
        |), v AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus AS status,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM c
        |)
        |SELECT o_custkey, o_orderkey, status, valid_from, valid_to
        |FROM v
        |WHERE valid_from <= DATE '1995-06-15'
        |  AND (valid_to IS NULL OR valid_to > DATE '1995-06-15')
        |ORDER BY o_custkey""".stripMargin,

    "q_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 <> 0
        |), feed AS (
        |  SELECT o_orderkey, 'U' AS status, o_totalprice, 'U' AS op, 1 AS seq
        |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
        |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'I', 3
        |  FROM orders WHERE o_orderkey % 3 = 0
        |), last AS (
        |  SELECT o_orderkey, status AS f_status, o_totalprice AS f_price, op
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |          ORDER BY seq DESC) AS rn FROM feed)
        |  WHERE rn = 1
        |), merged AS (
        |  SELECT
        |    CASE WHEN l.op IN ('U', 'I') THEN l.f_status
        |         ELSE b.o_orderstatus END AS status,
        |    CASE WHEN l.op = 'I' THEN l.f_price
        |         ELSE b.o_totalprice END AS price
        |  FROM base b FULL OUTER JOIN last l USING (o_orderkey)
        |  WHERE coalesce(l.op, '-') <> 'D'
        |)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(CAST(price AS DOUBLE) * 100) AS BIGINT))
        |    AS BIGINT) AS price_cents
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,

    "q_constraint_check" ->
      """SELECT * FROM (
        |  SELECT 'fk_orders_custkey' AS check_name,
        |    CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
        |      AS n_violations,
        |    count(CASE WHEN c.c_custkey IS NULL THEN 1 END) = 0 AS ok
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'fk_lineitem_orderkey', CAST(count(*) AS BIGINT),
        |    CAST(count(CASE WHEN k.o_orderkey IS NULL THEN 1 END) AS BIGINT),
        |    count(CASE WHEN k.o_orderkey IS NULL THEN 1 END) = 0
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) k
        |    ON l.l_orderkey = k.o_orderkey
        |  UNION ALL
        |  SELECT 'pk_customer_unique', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
        |    count(*) - count(DISTINCT c_custkey) = 0
        |  FROM customer
        |  UNION ALL
        |  SELECT 'range_lineitem_quantity', CAST(count(*) AS BIGINT),
        |    CAST(count(CASE WHEN l_quantity <= 0 OR l_quantity > 60 THEN 1 END)
        |      AS BIGINT),
        |    count(CASE WHEN l_quantity <= 0 OR l_quantity > 60 THEN 1 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range_orders_orderdate', CAST(count(*) AS BIGINT),
        |    CAST(count(CASE WHEN CAST(o_orderdate AS DATE)
        |      NOT BETWEEN DATE '1995-01-01' AND DATE '2001-12-31' THEN 1 END)
        |      AS BIGINT),
        |    count(CASE WHEN CAST(o_orderdate AS DATE)
        |      NOT BETWEEN DATE '1995-01-01' AND DATE '2001-12-31' THEN 1 END) = 0
        |  FROM orders
        |  UNION ALL
        |  SELECT 'notnull_customer_acctbal', CAST(count(*) AS BIGINT),
        |    CAST(count(CASE WHEN c_acctbal IS NULL THEN 1 END) AS BIGINT),
        |    count(CASE WHEN c_acctbal IS NULL THEN 1 END) = 0
        |  FROM customer
        |) ORDER BY check_name""".stripMargin,

    "q_data_profile" ->
      """SELECT * FROM (
        |  SELECT 'l_quantity' AS "column", count(*) AS n_rows,
        |    count(*) - count(l_quantity) AS n_null,
        |    count(DISTINCT l_quantity) AS n_distinct,
        |    CAST(min(l_quantity) AS VARCHAR) AS min_s,
        |    CAST(max(l_quantity) AS VARCHAR) AS max_s FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
        |    count(DISTINCT l_extendedprice),
        |    CAST(min(l_extendedprice) AS VARCHAR),
        |    CAST(max(l_extendedprice) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |    count(DISTINCT l_returnflag),
        |    CAST(min(l_returnflag) AS VARCHAR),
        |    CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
        |    count(DISTINCT l_shipdate),
        |    CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR),
        |    CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) FROM lineitem
        |) ORDER BY "column"""".stripMargin
  )
}
