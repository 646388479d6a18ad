package graft

import org.apache.spark.sql.DataFrame
import graft.engine.Engine

/** Physical-plan assertions for the headline queries — the "would this
  * survive a 100× scale-up" checks made executable: predicate pushdown
  * reaches the parquet scan, column pruning holds, dimension joins
  * broadcast, top-k never globally sorts, bucketed joins never shuffle
  * their inputs. */
class PlanHygieneSpec extends SparkSpecBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    // FormattedMode: toString truncates scan metadata (PushedFilters)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q1_agg: shipdate filter pushed to parquet, only needed columns read") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(!p.contains("l_orderkey"), s"column pruning failed (l_orderkey read):\n$p")
  }

  test("q_scan_filter: BETWEEN/IN/LIKE all reach the scan") {
    val p = plan("q_scan_filter")
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"))
    assert(p.contains("In(l_returnflag"))
    assert(p.contains("StringStartsWith(l_linestatus,F)"))
  }

  test("q_zorder_scan: both box predicates reach the z-ordered parquet scan") {
    val p = plan("q_zorder_scan")
    // pruning only works if BOTH dimensions' bounds are pushed — that is
    // the entire point of the multi-column layout
    assert(p.contains("GreaterThanOrEqual(o_custkey,100)") &&
      p.contains("LessThanOrEqual(o_custkey,400)"), s"custkey bounds not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_totalprice,50000") &&
      p.contains("LessThanOrEqual(o_totalprice,150000"), s"totalprice bounds not pushed:\n$p")
  }

  test("q_partition_prune: date bounds land in PartitionFilters — directory-level pruning") {
    val p = plan("q_partition_prune")
    // the filter must appear as a PARTITION filter (pruned at listing
    // time, before any file opens), not only as a data filter
    assert(p.contains("PartitionFilters"), s"no PartitionFilters section:\n$p")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("event_date"), s"event_date not in PartitionFilters:\n$pf")
    assert(pf.contains(">=") && pf.contains("<="),
      s"range bounds not in PartitionFilters:\n$pf")
  }

  test("text_rrf_fusion: fusion joins K-sized frames — no corpus-sized exchange past the rankers") {
    val p = plan("text_rrf_fusion")
    // the two ranker outputs are ≤ 5 queries × 20 rows; their full outer
    // join must not introduce a cartesian/BNLJ
    assert(!p.contains("CartesianProduct"), s"cartesian in fusion:\n$p")
    assert(p.contains("FullOuter"), s"full outer fusion join missing:\n$p")
  }

  test("emb_covariance: d-row sums broadcast; the pair aggregation is the only wide exchange") {
    val p = plan("emb_covariance")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"per-dimension sums should broadcast twice:\n$p")
    assert(!p.contains("SortMergeJoin"), s"SMJ against a d-row frame:\n$p")
    // shuffle exchanges in the tree (BroadcastExchange excluded): the
    // input-spreading repartition, the 2080-key pair aggregation, and
    // the 2080-row output sort — the d-row sums are driver-local
    // relations, so no second corpus chain may appear
    val tree = p.split("\n\n").head
    assert("(?<!Broadcast)Exchange".r.findAllIn(tree).length <= 3,
      s"unexpected extra shuffle exchange:\n$p")
    assert("Scan parquet".r.findAllIn(tree).length == 1,
      s"corpus scanned more than once:\n$p")
  }

  test("q_join_inner: dimension joins broadcast (no shuffle of the fact side for dims)") {
    val p = plan("q_join_inner")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q_topk: TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to global sort:\n$p")
  }

  test("q_limit_offset: stays a limit, no full materialization") {
    val p = plan("q_limit_offset")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_table_checksum: pure two-phase aggregate — no sort, no wide exchange") {
    // the operator's whole claim is "validate 100 TB without sorting it":
    // the plan must be scan → partial agg → single-row exchange → final
    val p = plan("q_table_checksum")
    assert(!p.contains("Sort "), s"checksum plan sorts:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate found:\n$p")
    // count in the TREE section only (formatted mode re-lists every
    // node in the details below it)
    val tree = p.split("\n\n").head
    assert("Exchange".r.findAllIn(tree).length <= 1,
      s"more than the single final-agg exchange:\n$p")
  }

  test("pipe_quality_cut: cutoffs broadcast back — the corpus gate is map-side") {
    val p = plan("pipe_quality_cut")
    assert(p.contains("BroadcastHashJoin"), s"gate join did not broadcast:\n$p")
  }

  test("pipe_span_scrub: removal marking broadcasts; no corpus text re-shuffle") {
    val p = plan("pipe_span_scrub")
    // three broadcast joins: dup winners → tiles, removed → docs, rebuilt
    // → docs; the only hash exchanges carry the 8B/tile count frame and
    // the small removed frame
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ appeared:\n$p")
  }

  test("text_bm25: query terms and sketch frames broadcast; no corpus SMJ on them") {
    val p = plan("text_bm25")
    // qterms (semi filter + fanout), df, stats are all broadcast — the
    // only corpus-sized shuffles are the hits aggregation and the
    // adaptive dl join; text never sort-merges against a tiny side
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"expected >=3 broadcast joins (qterms/df/fanout):\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row stats frame should broadcast-nested-loop:\n$p")
  }

  test("text_cms_topk: sketch cells broadcast — estimates never shuffle the vocab") {
    val p = plan("text_cms_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"cells join did not broadcast:\n$p")
  }

  test("q_join_cross is the only intentional cartesian") {
    val p = plan("q_join_cross")
    assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
    // and the big-table joins never are
    Seq("q_join_inner", "q_join_left", "q_join_semi", "q_join_anti").foreach { q =>
      val pp = plan(q)
      assert(!pp.contains("CartesianProduct"), s"$q went cartesian:\n$pp")
    }
  }

  /** Strip run-varying tokens (expression ids, temp paths) so the
    * checked-in plan dump is stable across sessions. */
  private def normalizePlan(p: String): String = p
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=") // session-global counters and
    // per-run identities: every refresh otherwise rewrites ~2k lines of
    // pure id noise and buries the real plan deltas (r12)
    // JVM object identity (UDAF refs, UnsafeArrayData literals): anchored
    // to a preceding identifier char (ADVICE r12) so a standalone hex
    // token can never be munged — every real identity in the dump is
    // `ClassName@hex`; a quoted literal like 'user@deadbeef' would still
    // normalize, the accepted residual
    .replaceAll("(?<=[\\w$])@[0-9a-f]{6,16}\\b", "@")
    .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_") // lambda-var counter
    .replaceAll("RDD\\[\\d+\\]", "RDD[]") // RDD id (localCheckpoint scans)
    .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda") // JIT class
    .replaceAll("uuid\\(Some\\(-?\\d+\\)\\)", "uuid(Some())") // per-run seed
    .replaceAll("Broadcast\\(\\d+\\)", "Broadcast()") // runtime-filter id
    // call-site LINE churn (localCheckpoint scans): the file name stays,
    // so a call-site moving to a different FILE still surfaces as a
    // delta — only same-file line drift (every unrelated edit above the
    // site) is deliberately invisible (ADVICE r12, adjudicated)
    .replaceAll("at (\\w+\\.scala):\\d+", "at $1")
    // bucketed-table generation fingerprints (q_bucketed_join): the name
    // embeds a content hash that changes when the warehouse regenerates
    .replaceAll("([a-z]+_b_[0-9a-f]{8}_)[0-9a-f]{32}", "$1<fp>")
    .replaceAll("\\S*/tmp\\S*", "<tmpPath>")
    .replaceAll("\\S*graft_warehouse\\S*", "<warehouse>")

  test("EVERY query plan is cartesian-free, UDF-free and global-window-free (sweep → PLANS.txt)") {
    // the three scale-killer node classes, swept over the whole
    // contract surface so a future query can't reintroduce one
    // silently, and every formatted plan dumped (normalized) to
    // target/PLANS.txt. The checked-in PLANS.txt — the audit artifact a
    // reviewer reads instead of re-deriving 200+ explains — is refreshed
    // on purpose with `cp target/PLANS.txt PLANS.txt`, never by a test run:
    //  - CartesianProduct (unbroadcast all-pairs: O(n*m) rows moved) —
    //    only q_join_cross builds one on purpose, at its tiny scale;
    //    BroadcastNestedLoopJoin is NOT flagged (its build side is
    //    small by construction — seeds, admission tables, non-equi dims)
    //  - ScalaUDF and ScalaAggregator (opaque to codegen and to every
    //    optimizer rule; the engine's position is native expressions
    //    only — the 32-bit sums are declarative aggregates)
    //  - Window with an EMPTY partition spec (the whole frame in one
    //    sort task — the r8 pipe_curriculum scale bug class); the one
    //    sanctioned instance is q_skew_report's rank over an
    //    already-top-K'd frame (bounded input by construction)
    // Side-effecting queries (roundtrips, DDL) plan against temp state
    // identically to their execution, so the sweep includes them.
    val intentionalCartesian = Set("q_join_cross")
    val allowedGlobalWindow = Set("q_skew_report")
    val dump = new StringBuilder
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val p = df.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          dump ++= s"===== $name =====\n${normalizePlan(p)}\n"
          val cart = !intentionalCartesian(name) && p.contains("CartesianProduct")
          // found by node class: a typed Aggregator prints under its
          // own class name, so a text search of the plan misses it
          val udf = df.queryExecution.optimizedPlan.collectWithSubqueries { case n => n }
            .flatMap(_.expressions.flatMap(_.collect {
              case _: org.apache.spark.sql.catalyst.expressions.ScalaUDF => "ScalaUDF"
              case _: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] =>
                "ScalaAggregator"
            })).distinct
          // empty partition spec OR an all-foldable one: partitionBy
          // (lit(1)) is the same single sort task wearing a disguise
          // (the r8 pipe_curriculum shape) and must not pass the sweep
          val gw = !allowedGlobalWindow(name) &&
            df.queryExecution.optimizedPlan.collect {
              case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.forall(_.foldable) => w
            }.nonEmpty
          val msgs = Seq(
            if (cart) Some("CartesianProduct") else None,
            if (udf.nonEmpty) Some(udf.mkString(", ")) else None,
            if (gw) Some("unpartitioned Window (whole frame in one sort task)")
            else None).flatten
          if (msgs.isEmpty) None else Some(s"$name: ${msgs.mkString(", ")}")
        } catch {
          case e: Exception =>
            dump ++= s"===== $name =====\nPLANNING FAILED: $e\n"
            Some(s"$name: PLANNING FAILED: $e")
        }
      }
    val out = java.nio.file.Paths.get("target", "PLANS.txt")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, dump.toString)
    assert(failures.isEmpty, s"plan hygiene violations:\n${failures.mkString("\n")}")
  }

  test("q_interval_join: bucketized range join plans as hash joins, never a nested loop") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
    // the equi keys must be the bucketized pair
    assert(p.contains("bucket"), s"no bucket key in join plan:\n$p")
  }

  test("aggregations are two-phase (partial then final)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("pipe_decontam broadcasts the benchmark gram set and partial-aggregates map-side") {
    val p = plan("pipe_decontam")
    assert(p.contains("BroadcastHashJoin") &&
      "Left keys \\[1\\]: \\[gram".r.findFirstIn(p).isDefined,
      s"gram join not broadcast:\n$p")
    // the shuffle after the gram join must be the doc-level aggregation
    // (partial HashAggregate below the Exchange), not raw gram rows
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("q_tpch_q4/q19: residual-condition joins stay equi-keyed — no cartesian") {
    // Q4's EXISTS carries a cross-side date comparison, Q19 an
    // OR-of-conjunctions, Q7/Q8 a double-role nation dimension with a
    // cross-role inequality, Q9 a 5-way star — all must ride their equi
    // keys with extra predicates as residuals, never a BNLJ
    for (q <- Seq("q_tpch_q4", "q_tpch_q19", "q_tpch_q7", "q_tpch_q8",
        "q_tpch_q9", "q_tpch_q20")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q fell back to a non-equi join strategy:\n$p")
    }
    assert(plan("q_tpch_q4").contains("LeftSemi"))
  }

  test("q_tpch_q18/q21: decorrelated subqueries stay equi-keyed — no cartesian") {
    // Q18's IN-over-aggregate runs as a LEFT SEMI on the order key;
    // Q21's EXISTS/NOT EXISTS run as LEFT SEMI + LEFT ANTI with the
    // supplier inequality as a join residual, never a join STRATEGY —
    // a BNLJ/cartesian here would be quadratic in lineitem at scale
    for (q <- Seq("q_tpch_q18", "q_tpch_q21")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q fell back to a non-equi join strategy:\n$p")
    }
    val p21 = plan("q_tpch_q21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"q21 not planned as semi+anti:\n$p21")
  }

  test("pipe_decontam_bloom: membership test is a native expression, not a Scala UDF") {
    // the prefilter runs once per corpus gram — the stage that exists
    // purely to be cheap must stay inside whole-stage codegen. A UDF
    // here shows up as a ScalaUDF/BatchEvalUDF node; the native
    // BloomMightContainLong renders as bloom_might_contain_long.
    val p = plan("pipe_decontam_bloom")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalUDF"),
      s"bloom prefilter fell back to a UDF:\n$p")
    assert(p.contains("bloom_might_contain_long"),
      s"native bloom membership expression missing from plan:\n$p")
  }

  test("curation_pipeline: document text never enters the dedup shuffle") {
    // the 100 TB scale guarantee made executable: the window's input —
    // everything that rides the hashpartitioning(h) exchange — must be
    // the narrow (doc_id, lang, n_chars, h, n_tok, stop_ratio) frame,
    // with the text column consumed in the scan-stage projection
    val df = SparkEntry.queries("curation_pipeline")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected a dedup window in curation_pipeline")
    windows.foreach { w =>
      val names = w.child.output.map(_.name)
      assert(!names.contains("text"),
        s"dedup window input carries full document text: $names")
      assert(names.length <= 8, s"window input wider than the narrow frame: $names")
    }
  }

  test("pipe_stratified_sample: document text never rides the stratum shuffle") {
    val df = SparkEntry.queries("pipe_stratified_sample")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the per-stratum rank window")
    windows.foreach { w =>
      val names = w.child.output.map(_.name)
      assert(!names.contains("text"), s"stratum window carries text: $names")
      assert(names.length <= 4, s"window input wider than (id, lang, source, hsh): $names")
    }
  }

  test("text_unigram_logprob: top-K vocab via TakeOrderedAndProject, one corpus scan") {
    val p = plan("text_unigram_logprob")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-K fell back to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    // counts is localCheckpointed: total + top-K read the materialized
    // RDD, so the terminal plan scans the parquet exactly once (scoring)
    val scans = SparkEntry.queries("text_unigram_logprob")(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
    assert(scans.size == 1,
      s"corpus scanned ${scans.size}x — checkpoint reuse broken:\n$p")
  }

  test("q_tpch_q6: all four predicates reach the parquet scan") {
    val p = plan("q_tpch_q6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_shipdate"), s"shipdate range not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThanOrEqual(l_discount,0.07)"), s"discount BETWEEN not pushed:\n$p")
    assert(p.contains("LessThan(l_quantity,24.0)"), s"quantity bound not pushed:\n$p")
    // scan-and-sum only: nothing should shuffle more than the 1-row partials
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("text_bigram_logprob: top-K model via TakeOrderedAndProject, broadcast scoring join") {
    val p = plan("text_bigram_logprob")
    assert(p.contains("TakeOrderedAndProject"),
      s"model top-K fell back to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"scoring join not broadcast:\n$p")
  }

  test("dedup_substring: gram strings never cross an aggregate or join boundary") {
    // the 16-bytes-on-the-wire claim made executable: every shuffle this
    // query performs is induced by an Aggregate or Join, and none of
    // their inputs may carry a string column — the gram must be
    // xxhash64'd in the scan stage, before anything wide moves
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.types.StringType
    val lp = SparkEntry.queries("dedup_substring")(spark, sfDir)
      .queryExecution.optimizedPlan
    val offenders = lp.collect {
      case a: Aggregate => "Aggregate" -> a.child.output
      case j: Join => "Join" -> j.children.flatMap(_.output)
    }.flatMap { case (node, out) =>
      out.filter(_.dataType == StringType).map(a => s"$node(${a.name})")
    }
    assert(offenders.isEmpty, s"strings on the wire: $offenders")
  }

  test("pipe_token_budget: bucket admission broadcasts, text stays out of both windows") {
    val df = SparkEntry.queries("pipe_token_budget")(spark, sfDir)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"admitted-bucket join not broadcast:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size >= 2, "expected the bucket window and the doc window")
    windows.foreach { w =>
      val names = w.child.output.map(_.name)
      assert(!names.contains("text"), s"window input carries text: $names")
    }
  }

  test("EXPLAIN ANALYZE analogue reports executed metrics per operator") {
    val df = Engine.table(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").count()
    val m = Explain.analyze(df).collect()
    assert(m.nonEmpty, "no metrics reported")
    val byOp = m.groupBy(_.getString(2))
    assert(byOp.keys.exists(_.contains("HashAggregate")), s"ops: ${byOp.keys}")
    // the scan must report a positive numOutputRows after execution
    val outRows = m.filter(r => r.getString(3) == "numOutputRows" && r.getLong(5) > 0)
    assert(outRows.nonEmpty, "no populated numOutputRows metric")
  }

  test("Engine.tune: subset co-partitioning elides the blocked-verify re-exchange") {
    // the relaxation moved from inside the incremental-minhash builder to
    // Engine.tune (r12) — if a session stops applying it, the block join
    // on (cpart, c_id) silently re-exchanges both multi-KB-row children
    // and only the 100x probe would notice. Pin it in the plan instead.
    assert(spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
      == "false", "Engine.tune not applied to the test session")
    // the shared session comes from Engine.session(cores = 8): one
    // shuffle partition per core and the UTC zone
    assert(spark.sparkContext.master == "local[8]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val p = plan("dedup_incremental_minhash")
    assert("hashpartitioning\\(cpart".r.findFirstIn(p).isDefined,
      s"expected the explicit block repartitions on cpart:\n$p")
    assert("hashpartitioning\\(cpart[^)]*c_id".r.findFirstIn(p).isEmpty,
      s"join re-exchanged on (cpart, c_id) — the Engine.tune subset " +
        s"co-partitioning relaxation was lost:\n$p")
  }
}
