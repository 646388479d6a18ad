package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{table => t}

/** Full analytical pipelines in the TPC-H mold — multi-table joins +
  * aggregation + top-k, the shapes Catalyst's join planning exists for.
  * These exercise join reorder, broadcast selection, partial aggregation
  * and top-k pushdown together rather than operator-by-operator. */
object Analytical {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 IN FULL (q1_agg is the driver-contract shape; this is the
    // whole pricing summary): 8 aggregates per (returnflag, linestatus).
    // The disc-price and charge sums are large-group double reductions —
    // at 10k+ rows/group the cross-engine summation-order error reaches
    // the round(2) boundary — so all money math runs on the cent grid:
    // price/discount/tax are 2-decimal, the per-row products are exact
    // BIGINTs (≤1e11/row, ~6e16 summed at sf0.1 — far under 2^63; a true
    // TPC-H SF100 would move this to DecimalType), sums are associative,
    // and one double division per output follows. sum(l_quantity) is
    // integer-valued doubles — exact at any order.
    "q_tpch_q1" -> ((s, dir) => {
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val d = round(col("l_discount") * 100).cast("long")
      val tx = round(col("l_tax") * 100).cast("long")
      // All rounding happens in BIGINT (`(x*2*10^p + den) div (2*den)`
      // = HALF_UP at p decimals for positive x/den) BEFORE the one
      // double division that lands the value on its output grid. A
      // float round() of a grid sum is the half-way hazard: a 1e-4-grid
      // sum ≡ 50 mod 100 sits EXACTLY on the 2-decimal boundary, where
      // Spark HALF_UP and DuckDB's binary std::round diverge (~1%/row).
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("qty"),
          sum(pc).as("base_c"),
          sum(pc * (lit(100L) - d)).as("disc4"),
          sum(pc * (lit(100L) - d) * (lit(100L) + tx)).as("chg6"),
          sum(d).as("disc_c"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("qty").as("sum_qty"),
          (col("base_c").cast("double") / 100.0).as("sum_base_price"),
          (expr("(disc4 + 50) div 100").cast("double") / 100.0).as("sum_disc_price"),
          (expr("(chg6 + 5000) div 10000").cast("double") / 100.0).as("sum_charge"),
          // avgs use the HEADROOM-FREE half-up form: a*k div m rewritten
          // as (a div m)*k + ((a mod m)*k + addend) div m, so the
          // multiply never exceeds m*k (~4e6·rows_per_group) instead of
          // sum*2e4 — the naive form would wrap BIGINT near SF≈85.
          // The binding envelope is now the chg6 grid sum itself
          // (~4.4e11/row max → wraps around SF≈150, ≈9e8 rows/group);
          // past that the price grids move to DecimalType(38,0) as the
          // header note says.
          (expr("(qty div (2 * count_order)) * 20000 + " +
            "((qty % (2 * count_order)) * 20000 + count_order) div (2 * count_order)")
            .cast("double") / 10000.0).as("avg_qty"),
          (expr("(base_c div (200 * count_order)) * 20000 + " +
            "((base_c % (200 * count_order)) * 20000 + 100 * count_order) div (200 * count_order)")
            .cast("double") / 10000.0).as("avg_price"),
          (expr("(disc_c div (200 * count_order)) * 20000 + " +
            "((disc_c % (200 * count_order)) * 20000 + 100 * count_order) div (200 * count_order)")
            .cast("double") / 10000.0).as("avg_disc"),
          col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // TPC-H Q3 shape: shipping-priority — 3-way join, agg, top-10
    "q_tpch_q3" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      // revenue on the exact 1e-4 BIGINT grid (cents × (100−disc_cents)):
      // the sum is associative, the top-10 ORDER is deterministic (no
      // double-sum last-ulp ambiguity at the limit boundary), and the
      // output cent-rounds in BIGINT — no float round anywhere
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
        .orderBy(col("rev4").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("odate"),
          (expr("(rev4 + 50) div 100").cast("double") / 100.0).as("revenue"))
    }),

    // TPC-H Q5 shape: regional volume — 6-table join through dims
    "q_tpch_q5" -> ((s, dir) => {
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val n = broadcast(t(s, dir, "nation"))
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val sup = broadcast(t(s, dir, "supplier"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
        .select(col("n_name"),
          (expr("(rev4 + 50) div 100").cast("double") / 100.0).as("revenue"))
        .orderBy(col("n_name"))
    }),

    // TPC-H Q6 shape: the canonical predicate-pushdown benchmark — a
    // bare scan with 4 pushable predicates and one global sum; no join,
    // no group-by, so the ONLY thing that can be slow is reading too
    // much (plan-asserted: all filters reach the parquet scan).
    // The revenue sum is a single corpus-wide double reduction — the
    // exact cross-engine summation-order hazard — so it runs on the
    // cent grid: prices/discounts are 2-decimal, round(x*100) recovers
    // exact integers, the BIGINT product-sum is associative, and the
    // result cent-rounds in BIGINT before one exact-grid division.
    "q_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_discount") * 100).cast("long")).as("rev4"))
        // HALF_UP to cents in BIGINT, then one exact-grid division —
        // round(rev4/1e4, 2) in float sits exactly half-way whenever
        // rev4 ≡ 50 mod 100, where the engines' round() diverge
        .select((expr("(rev4 + 50) div 100").cast("double") / 100.0).as("revenue"))),

    // TPC-H Q10 shape: returned-item losses per customer, top-20
    "q_tpch_q10" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val n = broadcast(t(s, dir, "nation"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
        .orderBy(col("rev4").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          (expr("(rev4 + 50) div 100").cast("double") / 100.0).as("lost_revenue"))
    }),

    // TPC-H Q2 shape (min-cost supplier): the correlated scalar MIN
    // equality — for each qualifying part, the supplier(s) whose shipped
    // price equals that part's minimum. The test data has no partsupp
    // table, so lineitem is the part↔supplier link and l_extendedprice
    // (on the exact cent grid, so the MIN-equality is integer-exact)
    // stands in for ps_supplycost. Decorrelated as a per-part MIN
    // aggregate joined back on (partkey, price).
    "q_tpch_q2" -> ((s, dir) => {
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val l = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), pc.as("pc"))
      val lmin = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("mp"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("min_pc"))
      val p = broadcast(t(s, dir, "part").filter(col("p_size") < 5)
        .select(col("p_partkey"), col("p_brand")))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(lmin, col("l_partkey") === col("mp") && col("pc") === col("min_pc"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_suppkey"), col("s_name"),
          (col("min_pc").cast("double") / 100.0).as("min_price"))
        .distinct()
        .orderBy(col("p_partkey"), col("s_suppkey"))
    }),

    // TPC-H Q7 shape (volume shipping): the double nation join — the
    // SAME dimension joined twice under different roles (supplier's
    // nation vs customer's nation) with a cross-role inequality, grouped
    // by both role names and ship year. Revenue on the 1e-4 grid.
    "q_tpch_q7" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = broadcast(t(s, dir, "supplier"))
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(n2, col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
        .select(col("supp_nation"), col("cust_nation"), col("l_year"),
          (expr("(rev4 + 50) div 100").cast("double") / 100.0).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape (national market share): a ratio of two conditional
    // aggregates per year. Both operands are exact BIGINT grid sums
    // (< 2^53), so the double quotient is bit-identical in both engines
    // and needs NO rounding — emitting the raw quotient sidesteps the
    // round-half divergence class entirely.
    "q_tpch_q8" -> ((s, dir) => {
      val rev4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val p = broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey")))
      val sup = broadcast(t(s, dir, "supplier"))
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_regionkey").as("crk")))
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(n2, col("c_nationkey") === col("cnk"))
        .join(r, col("crk") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_19", rev4).otherwise(lit(0L)))
            .as("nat4"),
          sum(rev4).as("tot4"))
        .select(col("o_year"),
          (col("nat4").cast("double") / col("tot4").cast("double"))
            .as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9 shape (product-type profit): profit per supplier-nation
    // per year. No partsupp → cost adapts to retailprice·qty/2, kept on
    // the 1e-4 grid so the profit sum is an exact (possibly negative)
    // BIGINT; emitted as a raw exact-division double with NO rounding —
    // integer `div` truncates toward zero in Spark but floors in DuckDB,
    // so a negative grid sum must never be integer-divided.
    "q_tpch_q9" -> ((s, dir) => {
      val amount4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long")) -
        lit(50L) * round(col("p_retailprice") * 100).cast("long") *
        col("l_quantity").cast("long")
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val p = broadcast(t(s, dir, "part").filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice")))
      val sup = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(amount4).as("profit4"))
        .select(col("n_name"), col("o_year"),
          (col("profit4").cast("double") / 10000.0).as("profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),

    // TPC-H Q11 shape (important stock): group-by + HAVING against a
    // scalar subquery over the SAME aggregation — "parts whose shipped
    // value exceeds 1.2× the average part's share", all in integer
    // cross-multiplication (val·n·10 > 12·total) so the global-fraction
    // HAVING is engine-exact. No partsupp table → lineitem value per
    // part stands in for stock value, and the canonical fixed fraction
    // (0.0001/SF) becomes scale-free so the query yields rows at every
    // test scale.
    "q_tpch_q11" -> ((s, dir) => {
      val val4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      val per = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(sum(val4).as("val4"))
      // fresh scan for the scalar side (the q18 self-join lesson); one
      // aggregate row broadcasts
      val c = broadcast(t(s, dir, "lineitem")
        .agg(sum(val4).as("tot4"),
          countDistinct(col("l_partkey")).as("np")))
      per.crossJoin(c)
        .filter(col("val4") * col("np") * lit(10L) > lit(12L) * col("tot4"))
        .select(col("l_partkey"),
          (expr("(val4 + 50) div 100").cast("double") / 100.0).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // TPC-H Q12 shape (shipping-mode priority classes): join + paired
    // conditional counts. No l_shipmode in the test data → grouped by
    // l_returnflag instead; "late" derives from the 90-day rule.
    "q_tpch_q12" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // TPC-H Q14 shape (promo revenue share): CASE-conditional revenue
    // ratio in one aggregate pass. Both operands exact grid BIGINTs →
    // raw double quotient, no rounding (see Q8).
    "q_tpch_q14" -> ((s, dir) => {
      val rev4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      val p = broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type")))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "ECONOMY", rev4).otherwise(lit(0L)))
            .as("promo4"),
          sum(rev4).as("tot4"))
        .select((lit(100.0) * col("promo4").cast("double") /
          col("tot4").cast("double")).as("promo_revenue"))
    }),

    // TPC-H Q16 shape (supplier diversity per part attribute): NOT IN
    // exclusion subquery (→ LEFT ANTI on the no-null key) + DISTINCT
    // count per attribute triple. lineitem is the part↔supplier link
    // (no partsupp); negative account balance stands in for the
    // "complaints" exclusion.
    "q_tpch_q16" -> ((s, dir) => {
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#2" &&
          col("p_size").isin(1, 5, 11, 15, 23, 28)))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q20 shape (excess inventory): nested IN — suppliers whose
    // shipped volume of any 'red' part in 1997 exceeds a threshold;
    // the inner query is itself an aggregate over a part-filtered join.
    // Both INs run as LEFT SEMI.
    "q_tpch_q20" -> ((s, dir) => {
      val p = broadcast(t(s, dir, "part").filter(col("p_name").like("%red%"))
        .select(col("p_partkey")))
      val heavy = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("q"))
        .filter(col("q") > 50)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q4 shape (order-priority checking): correlated EXISTS with a
    // condition on BOTH sides — decorrelated as a LEFT SEMI whose
    // residual compares the lineitem shipdate against the outer row's
    // orderdate ("late" = shipped >60 days after ordering; the test
    // tables carry no commit/receipt dates)
    "q_tpch_q4" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): OUTER join
    // aggregation with the zero bucket intact — count(o_orderkey), not
    // count(*), so customers whose every order is filtered away count
    // as 0 rather than vanishing; then a second aggregation over the
    // counts. The classic COUNT(col)-vs-COUNT(*) distinction made
    // oracle-checkable.
    "q_tpch_q13" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 shape (top supplier): an aggregate "view" consumed twice
    // — once for the rows, once inside a scalar MAX subquery — joined on
    // exact equality. The revenue lives on the 1e-4 BIGINT grid, so the
    // max comparison is integer-exact (a double-sum max would make "ties
    // with the max" engine-dependent at the last ulp).
    "q_tpch_q15" -> ((s, dir) => {
      def revQ = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
      val mx = revQ.agg(max(col("rev4")).as("mx4"))
      revQ.join(broadcast(mx), col("rev4") === col("mx4"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (expr("(rev4 + 50) div 100").cast("double") / 100.0).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): correlated SCALAR
    // aggregate subquery (per-part average quantity) — decorrelated as a
    // group-by over the SAME brand-filtered join, joined back by part.
    // The average is exact-integer-sum / count (identical doubles in
    // both engines), and the output rounds in BIGINT: cents/7 HALF_UP
    // via (2·sum+7) div 14.
    "q_tpch_q17" -> ((s, dir) => {
      def lp = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#2").select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
      val avgQ = lp.groupBy(col("l_partkey").as("ap"))
        .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      lp.join(broadcast(avgQ), col("l_partkey") === col("ap"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_c"))
        .select((expr("(2 * sum_c + 7) div 14").cast("double") / 100.0)
          .as("avg_yearly"))
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates): the
    // OR-of-conjunctions join filter — the canonical test that the
    // planner keeps the part⋈lineitem join EQUI on partkey and applies
    // the disjunction as a residual, rather than falling back to a
    // cartesian; also exercises CNF extraction for scan pushdown.
    "q_tpch_q19" -> ((s, dir) => {
      val p = broadcast(t(s, dir, "part"))
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#17" && col("p_size").between(10, 30) &&
            col("l_quantity").between(5, 30))))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
        .select((expr("(rev4 + 50) div 100").cast("double") / 100.0).as("revenue"))
    }),

    // TPC-H Q22 shape (global-account stragglers): scalar AVG subquery
    // as a filter + NOT EXISTS anti join. The above-average test runs
    // as pure integer cross-multiplication (bal·n > Σbal) — comparing a
    // double average would hand boundary rows to summation-order luck.
    // Anti side restricted to recent orders so the result is non-vacuous
    // at every test scale (every customer has SOME order).
    "q_tpch_q22" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"))
      val stat = broadcast(c.filter(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n")))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.crossJoin(stat) // one aggregate row — broadcast, not a fan-out
        .filter(col("bal_c") * col("n") > col("s"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(pmod(col("c_nationkey"), lit(5)).as("code"))
        .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("tot_c"))
        .select(col("code").cast("long").as("code"), col("numcust"),
          (col("tot_c").cast("double") / 100.0).as("totacctbal"))
        .orderBy(col("code"))
    }),

    // TPC-H Q18 shape (large-volume customer): group-by + HAVING + IN
    // subquery over an aggregate — the canonical "IN (SELECT … GROUP BY
    // … HAVING …)" decorrelation, expressed Spark-first as a LEFT SEMI
    // join against the HAVING-filtered aggregate (exactly what
    // Catalyst's RewritePredicateSubquery produces from the SQL form).
    // The semi-join keys are the shuffle keys — no row of orders ever
    // duplicates, and the big-orders side is aggregate-sized, not
    // lineitem-sized. Threshold 200 yields rows at every test scale
    // (sf0.001: 99 qualifying orders; a >300 cut is vacuous below sf1).
    "q_tpch_q18" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      // fresh scan (not `l`): the same Dataset on both sides of the semi
      // join trips Spark's ambiguous-self-join check; the plans are
      // identical so the exchange is still reusable
      val big = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
        .filter(col("q") > 200)
        .select(col("l_orderkey").as("bk"))
      o.join(big, o("o_orderkey") === big("bk"), "left_semi")
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(c("c_name"), c("c_custkey"), o("o_orderkey"),
          date_format(o("o_orderdate"), "yyyy-MM-dd").as("odate"),
          o("o_totalprice"))
        .agg(sum(l("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the double
    // correlated EXISTS + NOT EXISTS — decorrelated Spark-first as a
    // LEFT SEMI ("some OTHER supplier shares the order") followed by a
    // LEFT ANTI ("no OTHER supplier was late on it"), both equi-keyed
    // on the order key with the supplier-inequality as a join residual —
    // the exact physical shape DecorrelatePredicateSubquery emits, with
    // no cartesian anywhere (plan-asserted). The test tables carry no
    // receipt/commit dates, so "late" derives from the order instead:
    // shipped more than 90 days after o_orderdate. The F-restricted
    // lateness frame feeds both l1 and the anti side from one identical
    // sub-plan (exchange-reusable); the semi side probes RAW lineitem —
    // the canonical unrestricted l2, and cheaper (no orders join).
    "q_tpch_q21" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val l = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(li("l_orderkey").as("lk"), li("l_suppkey").as("sk"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late"))
      val l1 = l.filter(col("late"))
      val l2 = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("lk2"), col("l_suppkey").as("sk2"))
      val l3 = l.filter(col("late"))
        .select(col("lk").as("lk3"), col("sk").as("sk3"))
      val sup = broadcast(t(s, dir, "supplier"))
      l1.join(l2, col("lk") === col("lk2") && col("sk") =!= col("sk2"), "left_semi")
        .join(l3, col("lk") === col("lk3") && col("sk") =!= col("sk3"), "left_anti")
        .join(sup, col("sk") === sup("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // batch sessionization (gaps-and-islands) — the oracle-checkable twin
    // of streaming/Sessionize (30-minute inactivity gap)
    "q_sessionize" -> ((s, dir) => {
      val gapUs = 30L * 60 * 1000 * 1000
      val ev = t(s, dir, "events")
        .select(col("user_id"), graft.engine.Engine.eventTsMicros(col("ts")).as("ts_us"))
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      val sessions = ev
        .withColumn("prev", lag(col("ts_us"), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1).otherwise(0))
        .withColumn("sess_no", sum(col("new_sess")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      sessions
        .select(col("user_id"), col("sess_no").cast("long").as("sess_no"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("sess_no"))
    }),

    // session DISTRIBUTION report — the one-row corpus summary product
    // analytics reads off sessionization (q_sessionize emits the raw
    // sessions; this is the dashboard number): sessions/user and
    // session-duration percentiles, all over integer session frames.
    // The session build is q_sessionize's per-key window chain; both
    // downstream aggregates are user- or session-sized. Percentile
    // interpolation on exact integers (q_events_time_to_convert rule).
    "q_events_session_stats" -> ((s, dir) => {
      val gapUs = 30L * 60 * 1000 * 1000
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          graft.engine.Engine.eventTsMicros(col("ts")).as("ts_us"))
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      val sessions = ev
        .withColumn("prev", lag(col("ts_us"), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1)
            .otherwise(0))
        .withColumn("sess_no", sum(col("new_sess")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_events"),
          expr("(max(ts_us) - min(ts_us)) div 1000000").as("dur_s"))
      val perUser = sessions.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sess"))
        .agg(count(lit(1)).as("n_users"),
          round(expr("percentile(n_sess, 0.5)"), 4).as("p50_sessions_per_user"),
          max(col("n_sess")).as("max_sessions_per_user"))
      sessions
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          round(expr("percentile(dur_s, 0.5)"), 4).as("p50_duration_s"),
          round(expr("percentile(dur_s, 0.9)"), 4).as("p90_duration_s"))
        .crossJoin(broadcast(perUser))
        .select(col("n_users"), col("n_sessions"),
          col("p50_sessions_per_user"), col("max_sessions_per_user"),
          graft.ext.TextAnalysis.ratioRound(col("n_events"),
            col("n_sessions"), 6).as("mean_events_per_session"),
          col("p50_duration_s"), col("p90_duration_s"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_tpch_q1" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS base_c,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT)
        |      AS disc4,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
        |      * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))) AS BIGINT)
        |      AS chg6,
        |    CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS disc_c,
        |    count(*) AS count_order
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |  GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus, qty AS sum_qty,
        |  CAST(base_c AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST((disc4 + 50) // 100 AS DOUBLE) / 100.0 AS sum_disc_price,
        |  CAST((chg6 + 5000) // 10000 AS DOUBLE) / 100.0 AS sum_charge,
        |  CAST((qty * 20000 + count_order) // (2 * count_order) AS DOUBLE)
        |    / 10000.0 AS avg_qty,
        |  CAST((base_c * 20000 + 100 * count_order) // (200 * count_order) AS DOUBLE)
        |    / 10000.0 AS avg_price,
        |  CAST((disc_c * 20000 + 100 * count_order) // (200 * count_order) AS DOUBLE)
        |    / 10000.0 AS avg_disc,
        |  count_order
        |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) + 50) // 100
        |    AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) + 50) // 100
        |    AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |              CAST(round(l_discount * 100, 0) AS BIGINT)) + 50) // 100
        |         AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) + 50) // 100
        |    AS DOUBLE) / 100.0 AS lost_revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q_tpch_q2" ->
      """WITH lmin AS (
        |  SELECT l_partkey AS mp,
        |    min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS min_pc
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name,
        |  CAST(min_pc AS DOUBLE) / 100.0 AS min_price
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN lmin ON l.l_partkey = lmin.mp
        |  AND CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) = lmin.min_pc
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE p.p_size < 5
        |ORDER BY p_partkey, s_suppkey""".stripMargin,

    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) + 50) // 100
        |    AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN n1.n_name = 'NATION_19'
        |    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
        |    ELSE 0 END) AS DOUBLE)
        |  / CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE)
        |  AS mkt_share
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |JOIN region r ON n2.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        |GROUP BY year(o_orderdate)
        |ORDER BY o_year""".stripMargin,

    "q_tpch_q9" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
        |    - 50 * CAST(round(p_retailprice * 100, 0) AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 10000.0 AS profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY n_name, o_year DESC""".stripMargin,

    "q_tpch_q11" ->
      """WITH per AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT)
        |      AS val4
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (SELECT CAST(sum(val4) AS BIGINT) AS tot4, count(*) AS np FROM per)
        |SELECT l_partkey,
        |  CAST((val4 + 50) // 100 AS DOUBLE) / 100.0 AS value
        |FROM per, c
        |WHERE val4 * np * 10 > 12 * tot4
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_tpch_q14" ->
      """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
        |    ELSE 0 END) AS DOUBLE)
        |  / CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#2'
        |  AND p_size IN (1, 5, 11, 15, 23, 28)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q20" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(l_quantity) > 50)
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) cc
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT)
        |      AS rev4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST((rev4 + 50) // 100 AS DOUBLE) / 100.0 AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE rev4 = (SELECT max(rev4) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q17" ->
      """WITH lp AS (
        |  SELECT l.* FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand = 'Brand#2'),
        |aq AS (
        |  SELECT l_partkey AS ap, sum(l_quantity) / count(*) AS avg_qty
        |  FROM lp GROUP BY l_partkey)
        |SELECT CAST((2 * CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |    AS BIGINT) + 7) // 14 AS DOUBLE) / 100.0 AS avg_yearly
        |FROM lp JOIN aq ON lp.l_partkey = aq.ap
        |WHERE lp.l_quantity < 0.2 * aq.avg_qty""".stripMargin,

    "q_tpch_q19" ->
      """SELECT CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) + 50) // 100
        |    AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 5 AND 30)""".stripMargin,

    "q_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
        |  FROM customer),
        |stat AS (
        |  SELECT CAST(sum(bal_c) AS BIGINT) AS s, count(*) AS n
        |  FROM c WHERE bal_c > 0)
        |SELECT CAST(c_nationkey % 5 AS BIGINT) AS code,
        |  count(*) AS numcust,
        |  CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
        |FROM c, stat
        |WHERE bal_c * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY c_nationkey % 5
        |ORDER BY code""".stripMargin,

    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  o_totalprice, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
        |GROUP BY c_name, c_custkey, o_orderkey, odate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q21" ->
      """WITH l AS (
        |  SELECT l_orderkey AS lk, l_suppkey AS sk,
        |    (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, count(*) AS numwait
        |FROM l l1 JOIN supplier ON l1.sk = s_suppkey
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.lk AND l2.l_suppkey <> l1.sk)
        |  AND NOT EXISTS (SELECT 1 FROM l l3
        |                  WHERE l3.lk = l1.lk AND l3.sk <> l1.sk AND l3.late)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
        |), marked AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        |), numbered AS (
        |  SELECT user_id, ts_us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM marked
        |)
        |SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
        |  count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM numbered GROUP BY user_id, sess_no
        |ORDER BY user_id, sess_no""".stripMargin,

    "q_events_session_stats" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
        |), marked AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        |), numbered AS (
        |  SELECT user_id, ts_us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM marked
        |), sess AS (
        |  SELECT user_id, sess_no, count(*) AS n_events,
        |    (max(ts_us) - min(ts_us)) // 1000000 AS dur_s
        |  FROM numbered GROUP BY user_id, sess_no
        |), pu AS (
        |  SELECT count(*) AS n_users,
        |    round(quantile_cont(n_sess, 0.5), 4) AS p50_sessions_per_user,
        |    CAST(max(n_sess) AS BIGINT) AS max_sessions_per_user
        |  FROM (SELECT user_id, count(*) AS n_sess FROM sess GROUP BY 1)
        |), g AS (
        |  SELECT count(*) AS n_sessions,
        |    CAST(sum(n_events) AS BIGINT) AS n_events,
        |    round(quantile_cont(dur_s, 0.5), 4) AS p50_duration_s,
        |    round(quantile_cont(dur_s, 0.9), 4) AS p90_duration_s
        |  FROM sess
        |)
        |SELECT pu.n_users, g.n_sessions, pu.p50_sessions_per_user,
        |  pu.max_sessions_per_user,
        |  CAST((2 * g.n_events * 1000000 + g.n_sessions)
        |    // (2 * g.n_sessions) AS DOUBLE) / 1000000.0
        |    AS mean_events_per_session,
        |  g.p50_duration_s, g.p90_duration_s
        |FROM g, pu""".stripMargin
  )
}
