package graft
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query's bench record: timing stats plus the task-metric columns
  * that make a slow run attributable (see Bench scaladoc). `raw` is
  * `warmup +: timed` — raw(0) is the untimed warmup (degraded rows have
  * none: their `raw` is the single timed run). `tSec` is the
  * suite-relative wall-clock second at which each `raw` run STARTED,
  * index-aligned with `raw` — it places any run against the
  * canary_series timeline. `schedMs` is the series reading that scaled
  * the row's cap. `last` is the last timed run's [[Profile]], the
  * source of the row's `stream_floor` record. */
private[graft] case class BenchRow(name: String, median: Double, min: Double,
    raw: Seq[Double], shufWriteB: Long, shufReadB: Long, gcMsRuns: Seq[Long],
    schedMs: Double = -1.0, tSec: Seq[Double] = Seq.empty,
    last: Option[Profile] = None)

/** Pure stat/guard policies for [[Bench]], extracted so they are
  * unit-testable without a SparkSession (BenchStatsSpec). Every flag
  * here is derived from the row's one measured window; nothing is
  * re-measured. */
private[graft] object BenchStats {

  /** Median with the standard even-count convention (mean of the two
    * middle elements) — stable rows have two timed runs. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Intra-window contamination heuristic: median/min > 2× means most
    * timed runs hit a contention window the warmup couldn't absorb.
    * Sub-50ms queries are exempt — at scheduling-floor timescales the
    * ratio is all jitter, no signal. */
  def isSuspect(median: Double, min: Double): Boolean =
    median >= 0 && min > 0.05 && median / min > 2.0

  /** Shuffle signature match: plan-determined bytes agree within ±20%
    * (AQE jitter) or 1 MB, whichever is wider. */
  def sameSignature(refSwMb: Double, swNowMb: Double): Boolean =
    (refSwMb - swNowMb).abs <= math.max(1.0, 0.2 * math.max(refSwMb, swNowMb))

  /** Uniform-contamination divergence: min > 3× the committed reference
    * min, both far enough from the scheduling floor to mean anything. */
  def divergent(refMin: Double, minNow: Double): Boolean =
    minNow > 0.3 && refMin > 0.02 && minNow > 3.0 * refMin

  /** The `env_suspect` list: rows (name, min, shuffle_write_mb) whose
    * min diverged from the committed reference min while the shuffle
    * signature stayed unchanged — same plan, slower window. The
    * median/min suspect heuristic is blind to UNIFORMLY slow windows
    * (every run equally slow, identical shuffle bytes, zero GC), which
    * is what this flag catches. Rows absent from the reference are never
    * flagged. Input order is kept. */
  def envSuspects(rows: Seq[(String, Double, Double)],
      refStats: Map[String, (Double, Double)]): Seq[String] =
    rows.collect { case (n, minNow, swNow) if refStats.get(n).exists {
      case (refMin, refSw) => sameSignature(refSw, swNow) && divergent(refMin, minNow) } => n }

  /** The reference rows a run's timings may be compared with — for
    * [[envSuspects]] and the [[timedRuns]] fast path: all of them when
    * the reference ran on the run's core count, none otherwise. A 4-core
    * min several times a 32-core min is the core count, not the
    * environment, and a row's stability at one core count says nothing
    * about another. */
  def comparableRef[V](refStats: Map[String, V], refCores: Int,
      cores: Int): Map[String, V] =
    if (refCores == cores) refStats else Map.empty

  /** Per-query wall cap: a query that stalls — environment collapse, a
    * pathological plan, a hung stream — must be recorded failed at the
    * cap instead of eating the whole suite. 10× the committed reference
    * median tolerates any plausible contention window while still
    * bounding a stall; the 60s floor keeps sub-second rows from being
    * cap-killed by one GC pause; a query with no committed reference (a
    * new row) gets a generous fixed 600s cap — the suite budget is the
    * backstop for those. */
  def capSeconds(refMedian: Option[Double]): Double =
    refMedian.filter(_ > 0).map(m => math.max(60.0, 10.0 * m)).getOrElse(600.0)

  /** Canary-scaled per-query wall cap (r13 verdict task 5). The plain
    * [[capSeconds]] 10×-median floor assumed the worst attributed
    * degradation on this machine is ~4×; the r13 driver window then
    * delivered a mid-suite burst that took emb_kmeans to 60× its
    * committed median and cap-killed 12 healthy rows. Scaling the cap
    * by the LIVE scheduling-canary ratio (sched_now / the committed
    * reference's clean-window sched) makes a uniformly-slow-but-alive
    * window degrade to slow measurements instead of failures, while a
    * genuine hang still dies at the scaled cap. The multiplier is
    * floored at 1 (a fast window never tightens below the base policy)
    * and ceilinged at 50 (a burst worse than 50× is indistinguishable
    * from a dead box — bounding the cap keeps the suite's hard stop
    * meaningful); non-positive canary readings (unmeasured, or a
    * reference that predates the canary field) fall back to ×1. */
  def scaledCap(refMedian: Option[Double], schedNowMs: Double,
      schedRefMs: Double): Double = {
    val scale =
      if (schedNowMs > 0 && schedRefMs > 0)
        math.min(50.0, math.max(1.0, schedNowMs / schedRefMs))
      else 1.0
    capSeconds(refMedian) * scale
  }

  /** Timed-run count per row (r13 verdict task 6): a clean full sweep
    * ran ~16 min inside a 25-min budget — <1.6× headroom, so any taxed
    * window immediately degraded 200+ rows. Rows whose committed
    * reference shows median/min within 5% are stable enough that a
    * third run adds no information (the median of 2 = their mean);
    * streaming rows and rows without a committed reference
    * keep 3 — streaming walls are the suite's most window-sensitive
    * and a new row has no stability history to lean on. */
  def timedRuns(refMedian: Option[Double], refMin: Option[Double],
      streaming: Boolean): Int = {
    val stable = !streaming && (for (md <- refMedian; mn <- refMin)
      yield md >= 0 && mn > 0 && md / mn <= 1.05).getOrElse(false)
    if (stable) 2 else 3
  }

  /** Reference-snapshot acceptability (r13 verdict task 4): a snapshot
    * that carries contamination flags must never become the
    * `BENCH_REF.json` baseline — the r13 round committed its
    * 621.4s / 261-degraded / 12-cap-killed run over the clean 208.6s
    * snapshot, and adopting it would loosen every per-query cap and
    * every env-guard ~3×. A snapshot is an acceptable reference only
    * if it is complete (`partial` false) and every guard list —
    * failed, degraded, capped, skipped, env_suspect, zombie_after —
    * is empty. zombie_after matters even with every other list clean:
    * a suite-warmup cap kill never reaches `capped` (only row kills
    * do), so an un-reaped warmup worker can taint every row of an
    * otherwise flag-free sweep. (`suspect` alone is tolerated: a
    * bimodal row is information, not contamination. Snapshots written
    * before the one-window bench also carry `capped_twice` ⊆ failed and
    * `recovered` ⊆ capped — both covered transitively.) */
  def refAcceptable(partial: Boolean, failed: Int, degraded: Int,
      capped: Int, skipped: Int, envSuspect: Int, zombies: Int = 0): Boolean =
    !partial && failed == 0 && degraded == 0 && capped == 0 &&
      skipped == 0 && envSuspect == 0 && zombies == 0

  /** Suite wall-budget mode (r12 verdict task 1c). `full` below the
    * budget: warmup + 2-3 timed runs. `degraded` between 1× and 2×:
    * one capped timed run, no warmup — completion beats precision once
    * the window has already
    * degraded past the budget, and degraded rows are flagged so a reader
    * never mistakes them for clean medians. `skip` past 2×: remaining
    * rows are recorded failed WITHOUT running — the hard stop that
    * guarantees the artifact and the stdout line exist before any
    * external timeout (the driver killed r12 at ~55 min; 2× the default
    * 25-min budget leaves margin even after a long in-flight query). */
  def budgetMode(elapsedSec: Double, budgetSec: Double): String =
    if (elapsedSec <= budgetSec) "full"
    else if (elapsedSec <= 2.0 * budgetSec) "degraded"
    else "skip"

  /** Flag membership string for the stdout one-liner's per-row
    * `queries_detail` (r15 verdict task 5): every adjudication list the
    * row appears in, '+'-joined in the caller's order, "" when clean. */
  def flagsOf(name: String, sets: Seq[(String, String => Boolean)]): String =
    sets.collect { case (tag, in) if in(name) => tag }.mkString("+")

  /** A streaming row's floor decomposition, from one timed run's
    * [[Profile]] (empty when the run drained no micro-batch):
    *
    *  - `n_queries` / `n_batches` — query starts and micro-batches (replay
    *    semantics fix both: the chunk count IS the watermark trajectory);
    *  - `trigger_ms` — Σ triggerExecution, the in-engine time, split into
    *    `add_batch_ms` (the jobs), `planning_ms` (per-batch incremental
    *    planning) and `offset_wal_ms` (offset/commit log writes, offset
    *    listing and batch resolution);
    *  - `state_commit_ms` — Σ state-store commit time over every state
    *    partition's task: TASK time, not wall, so it can exceed
    *    `trigger_ms` and is not a share of addBatch;
    *  - `outside_ms` — wall − trigger: what the micro-batch engine does not
    *    see (query analysis/start/stop, replay-dir checks, the row's batch
    *    jobs and its projection through the noop sink);
    *  - `input_rows`, and `n_sources` (the most sources any batch read). */
  def streamFloor(p: Profile): Seq[(String, Long)] = if (p.batches.isEmpty) Seq.empty else {
    val bs = p.batches
    def sum(key: String): Long = bs.map(_.durationMs.getOrElse(key, 0L)).sum
    val trigger = sum("triggerExecution")
    Seq("n_queries" -> p.queryStarts, "n_batches" -> bs.size.toLong,
      "trigger_ms" -> trigger, "add_batch_ms" -> sum("addBatch"),
      "planning_ms" -> sum("queryPlanning"),
      "offset_wal_ms" -> Seq("walCommit", "commitOffsets", "latestOffset",
        "getBatch", "commitBatch").map(sum).sum,
      "state_commit_ms" -> bs.map(_.stateCommitMs).sum,
      "outside_ms" -> math.round(p.wallS * 1000 - trigger),
      "input_rows" -> bs.map(_.inputRows).sum,
      "n_sources" -> bs.map(_.nSources).max.toLong)
  }
}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Each query gets ONE UNTIMED execution first, then 2-3 timed runs
  * ([[BenchStats.timedRuns]]: 2 when the committed reference shows the
  * row stable within 5% and it isn't streaming, else 3 — r13 task 6
  * bought ~1.5-2 min of clean-sweep headroom at zero information loss
  * on stable rows); the
  * reported stat is the MEDIAN of the timed runs (plus MIN, the
  * contention-free estimate on an otherwise-deterministic workload).
  * The round-4 raw-runs data showed why the warmup is per-query, not
  * just per-suite: first executions carried up to 9× inflation
  * (dedup_clusters 24.6→2.8s) from codegen/JIT/shuffle-file warmup and
  * co-tenant contention decay — a median over runs that INCLUDE the
  * first execution cannot absorb a contention window longer than the
  * run count. All raw times (warmup + timed) are emitted per query so
  * a contaminated window stays self-evident in the artifact.
  *
  * Each row is measured in ONE window and never re-measured. Its flags
  * are derived from that window: `suspect` (median/min > 2×),
  * `env_suspect` ([[BenchStats.envSuspects]]: unchanged shuffle
  * signature, min > 3× the committed reference min), `capped` (a run
  * blew the canary-scaled wall cap and was cancelled), `degraded` /
  * `skipped` (past the suite budget) and `zombie_after`. `env_suspect`
  * and the 2-run fast path read the reference only when it ran on the
  * run's core count (`cores`, [[BenchStats.comparableRef]]). Paired A/B
  * runs, not re-windows, decide whether a change is faster. The stdout
  * line keeps `recovered`, `capped_twice` and `rewindowed` because its
  * reader JSON-decodes a fixed key set; they counted the outcomes of
  * post-sweep re-measurement passes the bench no longer runs, so they
  * are always 0.
  *
  * Execution is forced with the `noop` sink, not `.count()`: under a
  * count, Catalyst prunes projections and eliminates sorts, so pure
  * per-row-expression queries would be timed as bare scans. The noop
  * sink materializes every output column through the full plan.
  *
  * The full JSON (median + min + raw runs + task metrics) goes to
  * BENCH_LOCAL.json; stdout gets a SHORT single line (total +
  * slowest-10 medians + file pointer) because the driver captures only
  * a ~2,000-char stdout tail. The line is printed AFTER spark.stop() so
  * no shutdown log can trail it — the driver JSON-decodes the last
  * stdout line (see build.sbt's outputStrategy note for the other half
  * of that contract).
  */
object Bench {
  private val Runs = 3

  /** Host-pressure counters (r14 verdict task 5). The r14 bursts were
    * invisible to every guest-side metric the artifact carried —
    * loadavg 1.0-1.5 and gc_ms 0 during a 186× wall — because a
    * Firecracker guest's loadavg cannot see host-level contention. Two
    * cumulative counters the guest CAN see distinguish "host steal"
    * from "JVM pause" in-artifact:
    *
    *  - /proc/stat aggregate-cpu field 8 (0-based; `steal`) —
    *    involuntary wait while the hypervisor ran someone else, in
    *    USER_HZ ticks summed across all vCPUs (nonzero on this box);
    *  - cgroup cpu throttled time — v2 `cpu.stat: throttled_usec`, v1
    *    `cpu/cpu.stat: throttled_time` (ns) — quota throttling, the
    *    other way a container loses CPU without guest-visible load.
    *
    * Both are read at suite start/end and at every spot canary (two
    * file reads, microseconds), emitted cumulatively; a reader takes
    * deltas across any window of interest. −1 = unreadable. */
  private def hostStealTicks(): Long =
    try {
      val cpu = Files.readString(Paths.get("/proc/stat")).linesIterator
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case NonFatal(_) => -1L }

  private def hostThrottledMs(): Long =
    try {
      val v2 = Paths.get("/sys/fs/cgroup/cpu.stat")
      val v1 = Paths.get("/sys/fs/cgroup/cpu/cpu.stat")
      if (Files.isReadable(v2) &&
          Files.readString(v2).contains("throttled_usec"))
        Files.readString(v2).linesIterator
          .find(_.startsWith("throttled_usec"))
          .map(_.split("\\s+")(1).toLong / 1000L).getOrElse(-1L)
      else if (Files.isReadable(v1))
        Files.readString(v1).linesIterator
          .find(_.startsWith("throttled_time"))
          .map(_.split("\\s+")(1).toLong / 1000000L).getOrElse(-1L)
      else -1L
    } catch { case NonFatal(_) => -1L }

  /** Window-speed canaries (r13): this box is a VM, and whole days run
    * uniformly ~1.3× slow (streaming rows 2-3×) while loadavg,
    * /proc/pressure and steal all read clean — guest metrics cannot see
    * host-level contention, so every such window has cost a manual
    * binary-bisection adjudication. Two fixed workloads, measured at
    * suite start AND end, make window speed readable from the artifact
    * alone: [[cpuCanaryMs]] pins single-core throughput (20k md5 of a
    * 1 KB buffer, ~21 MB hashed — the r13 slow day left this UNCHANGED,
    * which is itself diagnostic), and [[schedCanaryMs]] pins task-
    * scheduling round-trip latency (20 × 32-task no-op jobs — the cost
    * every micro-batch pays per stage, which is why streaming rows
    * amplify 2-3× in windows where batch rows only gain 1.3×). */
  private def cpuCanaryMs(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](1024)
    java.util.Arrays.fill(buf, 7.toByte)
    var i = 0
    while (i < 2000) { md.update(buf); md.digest(): Unit; i += 1 } // JIT warm
    val t0 = System.nanoTime()
    i = 0
    while (i < 20000) { md.update(buf); md.digest(): Unit; i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  private def schedCanaryMs(sc: org.apache.spark.SparkContext): Double = {
    sc.parallelize(1 to 64, 32).count(): Unit // scheduler/codepath warm
    val t0 = System.nanoTime()
    var i = 0
    while (i < 20) { sc.parallelize(1 to 64, 32).count(): Unit; i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  /** Spot sched canary (r13 verdict task 2): 5 no-op 32-task jobs,
    * scaled ×4 to [[schedCanaryMs]]'s 20-job unit so every reading in
    * the artifact's canary series is directly comparable. No warm-up
    * job — mid-suite the scheduler is warm. The r13 driver window's
    * burst (emb_kmeans at 60× committed) fell BETWEEN the suite-start
    * and suite-end canaries and was invisible in the artifact; a
    * ~0.1-0.5s spot reading every 25 full-mode rows and before every
    * degraded-mode row makes per-row window attribution possible from
    * the artifact alone, and is the live input of the cap scaling. */
  private def spotSchedMs(sc: org.apache.spark.SparkContext): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < 5) { sc.parallelize(1 to 64, 32).count(): Unit; i += 1 }
    (System.nanoTime() - t0) / 1e6 * 4.0
  }

  /** Forces full materialization of every column; -1.0 = query failed.
    * Catches NonFatal only: after an OOM or other fatal JVM error the
    * session is undefined and every later median would be silently
    * contaminated — a poisoned run must fail loudly instead.
    */
  private def timeOnce(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] query failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        -1.0
    }
  }

  /** Rows measured AFTER an un-reaped cap-kill worker (r13 ADVICE): a
    * worker stuck in driver-side (non-job) computation can survive
    * cancelJobGroup + the 30s grace + interrupt and keep burning CPU /
    * launching jobs as a daemon thread, contaminating every subsequent
    * row's timings and shuffle/GC profiles. Recording the row name here
    * (emitted as `zombie_after` in the artifact) makes later rows
    * readable as tainted instead of clean medians. */
  private[graft] val zombies =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** [[timeOnce]] under a wall cap, enforced by running the query on a
    * worker thread inside its own job group and cancelling the group
    * when the cap elapses (the only way to bound a single Spark action
    * from outside — there is no per-action timeout API). Returns
    * (seconds-or-−1, capped?). On a cap kill the group's running jobs are
    * cancelled with task interruption and its FUTURE jobs are refused —
    * the cap can fire while the worker is still planning, or between the
    * driver jobs a builder runs, and a plain group cancel would then miss
    * the job that stalls. The worker is given 30s to unwind, and any
    * streaming query the row left running is stopped so later rows
    * aren't contaminated by a zombie micro-batch thread (job-group
    * cancellation doesn't reach a stream's own execution thread). A
    * worker still alive 5s after the interrupt is recorded in
    * [[zombies]] under `tag`. */
  private[graft] def timeOnceCapped(spark: SparkSession, df: => DataFrame,
      capSec: Double, tag: String = ""): (Double, Boolean) = {
    val sc = spark.sparkContext
    val group = "bench-cap-" + java.util.UUID.randomUUID().toString.take(8)
    val out = new java.util.concurrent.atomic.AtomicReference[java.lang.Double](null)
    val worker = new Thread(() => {
      sc.setJobGroup(group, "bench per-query wall cap", interruptOnCancel = true)
      try out.set(timeOnce(df)) finally sc.clearJobGroup()
    }, group)
    worker.setDaemon(true)
    worker.start()
    // floor 50ms: join(0) would wait forever
    worker.join(math.max(50L, (capSec * 1000).toLong))
    if (worker.isAlive) {
      System.err.println(f"[bench] cap $capSec%.1fs blown — cancelling $group")
      try sc.cancelJobGroupAndFutureJobs(group) catch { case NonFatal(_) => () }
      worker.join(30000)
      if (worker.isAlive) {
        worker.interrupt()
        worker.join(5000)
        if (worker.isAlive) {
          zombies.add(if (tag.nonEmpty) tag else group): Unit
          System.err.println(s"[bench] worker for '$tag' survived interrupt — " +
            "later rows are tainted (zombie_after)")
        }
      }
      spark.streams.active.foreach(q =>
        try q.stop() catch { case NonFatal(_) => () })
      (-1.0, true)
    } else (Option(out.get()).map(_.doubleValue()).getOrElse(-1.0), false)
  }

  /** One timed window: `runs` measured executions, each with its own
    * [[Profile]] window. The per-run shuffle bytes and GC ms make a
    * driver-window-vs-quiet-window divergence attributable from the
    * artifact alone: identical shuffle bytes + inflated gc_ms = JVM/
    * co-tenant pressure; inflated shuffle bytes = a real plan change.
    * Each run also records its suite-relative start second via `tClock`,
    * which aligns it against the canary_series timeline. Returns the runs
    * ((sec, shufW, shufR, gc, tStart) each), whether any run was
    * cap-killed, and the last run's [[Profile]]. */
  private def timedWindow(profiler: Profiler,
      spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame, capSec: Double,
      tClock: () => Double, runs: Int, tag: String)
      : (Seq[(Double, Long, Long, Long, Double)], Boolean, Option[Profile]) = {
    var capped = false
    val measured = (1 to runs).map { _ =>
      val t = tClock()
      val ((sec, c), p) = profiler.measure(
        if (capped) (-1.0, false) // cap already blown — don't re-stall
        else timeOnceCapped(spark, fn(spark, sfDir), capSec, tag))
      capped ||= c
      ((sec, p.shuffleWriteBytes, p.shuffleReadBytes, p.gcMs, t), p)
    }
    (measured.map(_._1), capped, measured.lastOption.map(_._2))
  }

  /** One parsed reference snapshot: per-query (median, min,
    * shuffle_write_mb) — median feeds the per-query wall cap, (min, sw)
    * the uniform-contamination guard — plus whether the snapshot is
    * ACCEPTABLE as a reference (BenchStats.refAcceptable over its
    * contamination flags), its pinned clean-window sched canary
    * (min of sched_start/sched_end; None for pre-canary snapshots) and
    * the core count it ran on ([[RefCoresDefault]] for snapshots that
    * predate the field). */
  private[graft] def parseBenchSnapshot(json: String)
      : (Map[String, (Double, Double, Double)], Boolean, Option[Double], Int) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val meds = root.path("queries")
    val mins = root.path("min")
    val sw = root.path("shuffle_write_mb")
    import scala.jdk.CollectionConverters._
    val stats = mins.properties().asScala.collect {
      case e if e.getValue.isNumber && sw.path(e.getKey).isNumber =>
        e.getKey -> (meds.path(e.getKey).asDouble(-1.0),
          e.getValue.asDouble, sw.path(e.getKey).asDouble)
    }.toMap
    val acceptable = BenchStats.refAcceptable(
      root.path("partial").asBoolean(false),
      root.path("failed").size(), root.path("degraded").size(),
      root.path("capped").size(), root.path("skipped").size(),
      root.path("env_suspect").size(), root.path("zombie_after").size())
    val canary = root.path("canary_ms")
    val sched = Seq("sched_start", "sched_end")
      .map(canary.path(_)).filter(_.isNumber).map(_.asDouble())
    (stats, acceptable, sched.minOption,
      root.path("cores").asInt(RefCoresDefault))
  }

  /** Core count of a snapshot without a `cores` field: the default of
    * tools/adopt_bench.sh, the only writer of the reference. */
  private[graft] val RefCoresDefault = 32

  /** The checkout this build runs from (its classes sit in
    * `<root>/target/scala-2.13/classes`): the adopted reference lives at
    * its root, beside the default artifact, whatever
    * `SPARK_GRAFT_BENCH_OUT` says. */
  private[graft] val refFile: Path = Paths.get(classOf[BenchRow]
    .getProtectionDomain.getCodeSource.getLocation.toURI)
    .getParent.getParent.getParent.resolve("BENCH_REF.json")

  /** The adopted reference for the cap policy and the uniform-
    * contamination guard: the snapshot at `path`, written only by
    * tools/adopt_bench.sh once tools/adopt_bench.py passed it. Its
    * source is recorded as `<file name>:sha256:<12 hex>` of the content.
    * A missing, unreadable or flagged file ([[BenchStats.refAcceptable]]:
    * a flagged snapshot is evidence, never a baseline) leaves the run
    * unreferenced — 600 s base caps, no env guard — with a warning. */
  private[graft] def readRef(path: Path)
      : Option[(Map[String, (Double, Double, Double)], String, Option[Double], Int)] = {
    def none(why: String) = {
      System.err.println(s"[bench] WARNING: reference $path $why — the run is unreferenced")
      None
    }
    if (!Files.isRegularFile(path)) none("is missing")
    else try {
      val body = Files.readString(path)
      val (stats, ok, sched, cores) = parseBenchSnapshot(body)
      val sha12 = java.security.MessageDigest.getInstance("SHA-256")
        .digest(body.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      if (ok) Some((stats, s"${path.getFileName}:sha256:$sha12", sched, cores))
      else none("carries contamination flags")
    } catch { case NonFatal(e) => none(s"is unreadable: $e") }
  }

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000
  private def r2(v: Double): Double = math.rint(v * 100) / 100
  private def mb(v: Long): Double = math.rint(v / 1e4) / 100
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The full BENCH_LOCAL.json body. Written INCREMENTALLY — after
    * every completed row — with `"partial": true` until the suite
    * finishes (r12 verdict task 1a: the r12 driver run was killed by an
    * external timeout and, because the old code wrote the file once at
    * the very end, left NOTHING — an interrupted sweep must still leave
    * a parseable, mostly-complete artifact for its readers). */
  private[graft] def artifactJson(rows: Seq[BenchRow], envSuspects: Seq[String],
      partial: Boolean, degraded: Seq[String], capped: Seq[String],
      skipped: Seq[String], refSource: String, budgetSec: Double,
      sfDir: String, cores: Int, scratch: String, canaries: Seq[(String, Double)],
      canarySeries: Seq[(Int, String, Double, Long)],
      timedRunsPlan: Seq[(String, Int)], schedRefMs: Double,
      streamingNames: Set[String], host: Seq[(String, Long)]): String = {
    def q(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val medians = obj(rows.map(r => r.name -> r3(r.median).toString))
    val mins = obj(rows.map(r => r.name -> r3(r.min).toString))
    val runs = obj(rows.map(r =>
      r.name -> r.raw.map(r3).mkString("[", ",", "]")))
    val runT = obj(rows.filter(_.tSec.nonEmpty).map(r =>
      r.name -> r.tSec.map(r2).mkString("[", ",", "]")))
    val shufW = obj(rows.map(r => r.name -> mb(r.shufWriteB).toString))
    val shufR = obj(rows.map(r => r.name -> mb(r.shufReadB).toString))
    val gc = obj(rows.map(r =>
      r.name -> r.gcMsRuns.mkString("[", ",", "]")))
    val schedRows = obj(rows.filter(_.schedMs > 0).map(r =>
      r.name -> r2(r.schedMs).toString))
    val floors = obj(rows.flatMap(r =>
      r.last.map(BenchStats.streamFloor).filter(_.nonEmpty).map(f =>
        r.name -> obj(f.map { case (k, v) => k -> v.toString }))))
    val series = canarySeries.map { case (i, tag, ms, steal) =>
      s"""{"i":$i,"tag":"$tag","sched_ms":${r2(ms)},"steal":$steal}"""
    }.mkString("[", ",", "]")
    val ok = rows.filter(_.median >= 0)
    val failed = rows.collect { case r if r.median < 0 => r.name }
    val total = r3(ok.map(_.median).sum)
    val suspects = rows.collect {
      case r if BenchStats.isSuspect(r.median, r.min) => r.name
    }
    s"""{"metric":"total","value":$total,"unit":"sec","partial":$partial,"queries":$medians,"min":$mins,"runs":$runs,"run_t":$runT,"shuffle_write_mb":$shufW,"shuffle_read_mb":$shufR,"gc_ms":$gc,"bench_ref":"$refSource","sched_ref_ms":${r2(schedRefMs)},"budget_sec":${r2(budgetSec)},"scratch":"$scratch","canary_ms":${obj(canaries.map { case (k, v) => k -> r2(v).toString })},"canary_series":$series,"sched_ms":$schedRows,"stream_floor":$floors,"failed":${q(failed)},"suspect":${q(suspects)},"env_suspect":${q(envSuspects)},"degraded":${q(degraded)},"capped":${q(capped)},"host":${obj(host.map { case (k, v) => k -> v.toString })},"zombie_after":${q({ import scala.jdk.CollectionConverters._; zombies.iterator().asScala.toSeq })},"skipped":${q(skipped)},"streaming":${q(rows.map(_.name).filter(streamingNames.contains))},"sf":"$sfDir","cores":$cores,"timed_runs":${obj(timedRunsPlan.map { case (k, v) => k -> v.toString })},"runs_max":$Runs,"stat":"median","note":"every row is measured in ONE window and never re-measured; runs[0] is the untimed warmup, excluded from median/min (degraded rows have no warmup: their runs array holds the single timed run); run_t = suite-relative start second of each runs[] entry, index-aligned, for placing runs against canary_series; suspect = median/min > 2x (contaminated window); shuffle_* = median-run task totals (MB), gc_ms = per-timed-run JVM GC totals — same shuffle + high gc reads as environment pressure, higher shuffle as a plan change; env_suspect = min > 3x the committed reference min with an unchanged shuffle signature, read as uniform environment contamination, not code, and only when the reference ran on this run's cores (bench_ref = BENCH_REF.json at the repo root, the snapshot tools/adopt_bench.sh adopted, named by content hash; none when that file is missing or carries flags — a flagged snapshot is evidence, never a baseline); partial = the suite was still running when this file was last flushed (the file is rewritten after every completed row, so an externally killed sweep still leaves its finished rows here); capped = a run blew the per-query wall cap (max(60s, 10x committed reference median) x max(1, sched_now/sched_ref_ms), capped at 50x; 600s base when unreferenced), was cancelled and the row reports failed; canary_series = spot sched-canary readings (5 no-op 32-task jobs scaled x4 to the 20-job canary_ms unit) every 25 full-mode rows and before each degraded-mode row, with i = how many rows had completed and steal = cumulative /proc/stat steal ticks at the reading; sched_ms = the series reading that scaled the row's cap; stream_floor = per row whose last timed run drained micro-batches, that run's breakdown: n_queries/n_batches, trigger_ms = sum of triggerExecution split into add_batch_ms, planning_ms and offset_wal_ms (walCommit + commitOffsets + latestOffset + getBatch + commitBatch), state_commit_ms (state-store commit task time, can exceed trigger), outside_ms = wall - trigger, input_rows and n_sources; host = cumulative /proc/stat steal ticks (USER_HZ, all-vCPU) and cgroup throttled ms at suite start/end; zombie_after = cap-killed workers that survived interrupt — rows measured after these entries may be contaminated by the un-reaped thread; degraded = measured past the suite wall budget (budget_sec) with a single timed run, no warmup; skipped = not run at all past 2x the budget — the hard stop that guarantees this artifact exists before any external timeout; cores = local[N] of this run (a reference without the field ran on 32); timed_runs = planned timed runs per row (2 for rows whose committed reference, at this run's cores, has median/min within 5% and which are not streaming, else 3 = runs_max); streaming = the registry-derived micro-batch replay row set (StreamQueries.queries): always 3 timed runs, and the adoption gate's 1.3x-of-committed-min guard applies to exactly these rows; scratch = the medium (tmpfs|disk) of the per-run java.io.tmpdir root; canary_ms = fixed window-speed workloads at suite start/end (cpu = 20k md5 of 1KB single-core; sched = 20 no-op 32-task jobs) — compare against sched_ref_ms (the committed reference's clean-window sched canary; 500 when the reference predates the field) before adjudicating a wall delta"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      refFile.resolveSibling("BENCH_LOCAL.json").toString)
    // suite wall budget (r12 verdict task 1c): the r12 driver bench was
    // externally killed at ~55 min with nothing written. Default 25 min:
    // a clean full sweep runs ~16 min, so the budget only bites when the
    // window has degraded well past noise — and 2× (the skip hard-stop)
    // still finishes inside the observed driver timeout with margin.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(1500.0)
    // per-run scratch root, tmpfs-backed when available (r12 verdict
    // task 4): the only bench rows that ever inflate in contaminated
    // windows are the ~14 streaming replays — their checkpoint commits,
    // RocksDB state-store working dirs and memory-sink temp checkpoints
    // all hit java.io.tmpdir, so a co-tenant's disk churn (r12: the 10 GB
    // 1000×-probe shard build) taxes exactly those rows while loadavg
    // stays clean. Redirecting java.io.tmpdir BEFORE the session starts
    // moves every tmpdir consumer — temp checkpoints, state stores,
    // spark.local.dir shuffle files (~300 MB/sweep), the scratch
    // warehouse and replay layouts (rebuilt once per run, inside untimed
    // warmups) — onto RAM, decoupling the walls from disk state. The
    // shutdown hook reclaims it on exit, including the SIGTERM a driver
    // timeout delivers; only SIGKILL leaks, until reboot.
    val scratchMedium = Scratch.install("bench", preferTmpfs = true)
    val (refStats, refSource, refSched, refCores) = readRef(refFile)
      .getOrElse((Map.empty[String, (Double, Double, Double)], "none", None, RefCoresDefault))
    val cores = graft.engine.Engine.cores
    // caps take every reference row (a safety stop, generous either
    // way); timings are compared only at the reference's core count
    val refSameCores = BenchStats.comparableRef(refStats, refCores, cores)
    val refMinSw = refSameCores.map { case (n, (_, mn, sw)) => n -> (mn, sw) }
    // clean-window sched reference for cap scaling: the committed
    // snapshot's pinned canary when present, else 500ms — the r13
    // judge-measured clean-window full-canary range was 388-502ms, and
    // the scale is floored at 1 so an overestimate here can only make
    // caps slightly less loose, never tighter than the base policy
    val schedRefMs = refSched.getOrElse(500.0)
    // the authoritative streaming-row set: registry membership, NOT a
    // name substring — q_sessionize_tws is a Replay
    // micro-batch query whose name a "stream" grep misses, and the
    // 2-run fast path must never apply to a streaming wall. The set is
    // also emitted in the artifact so tools/adopt_bench.py gates the
    // same 17 rows the bench protects.
    val streamingNames: Set[String] = graft.streaming.StreamQueries.queries.keySet
    // spot sched-canary series (r13 task 2): (rows-completed, tag, ms,
    // cumulative host-steal ticks at the reading — r14 task 5)
    val series = scala.collection.mutable.ArrayBuffer[(Int, String, Double, Long)]()
    def mark(i: Int, tag: String, ms: Double): Unit =
      series += ((i, tag, ms, hostStealTicks()))
    def latestSched(): Double = series.lastOption.map(_._3).getOrElse(-1.0)
    def cap(name: String): Double = BenchStats.scaledCap(
      refStats.get(name).map(_._1), latestSched(), schedRefMs)
    val suiteT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - suiteT0) / 1e9
    def mode(): String = BenchStats.budgetMode(elapsed(), budgetSec)
    val spark = graft.engine.Engine.session()
    val profiler = new Profiler(spark)
    val degraded = scala.collection.mutable.LinkedHashSet[String]()
    val capped = scala.collection.mutable.LinkedHashSet[String]()
    val skipped = scala.collection.mutable.LinkedHashSet[String]()
    val canaries = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val timedRunsPlan = scala.collection.mutable.LinkedHashMap[String, Int]()
    // host-pressure counters at suite start/end (r14 task 5)
    val host = scala.collection.mutable.LinkedHashMap[String, Long](
      "steal_ticks_start" -> hostStealTicks(),
      "throttled_ms_start" -> hostThrottledMs())
    def envSuspectsOf(rows: Seq[BenchRow]): Seq[String] =
      BenchStats.envSuspects(rows.map(r => (r.name, r.min, mb(r.shufWriteB))), refMinSw)
    def flush(rows: Seq[BenchRow], partial: Boolean): Unit = {
      val json = artifactJson(rows, envSuspectsOf(rows), partial,
        degraded.toSeq, capped.toSeq, skipped.toSeq, refSource, budgetSec,
        sfDir, cores, scratchMedium, canaries.toSeq, series.toSeq,
        timedRunsPlan.toSeq, schedRefMs, streamingNames, host.toSeq)
      // temp + atomic rename: an external kill landing mid-write must
      // never truncate the artifact the flush exists to preserve
      try {
        val out = Paths.get(outFile)
        val tmp = Paths.get(outFile + ".tmp")
        Files.writeString(tmp, json + "\n")
        Files.move(tmp, out,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      catch { case NonFatal(e) => System.err.println(s"[bench] write failed: $e") }
    }
    // canaries FIRST (before the suite warmups) so the warmups' caps —
    // and every row after them — are already scaled by the live window
    val sc = spark.sparkContext
    canaries += ("cpu_start" -> cpuCanaryMs())
    val schedStart = schedCanaryMs(sc)
    canaries += ("sched_start" -> schedStart)
    mark(0, "start", schedStart)
    // suite-level warmup: absorb JVM/classloader/parquet-footer startup
    // and build the bucketed tables once — bucketing is a write-once
    // layout whose cost amortizes across every later co-located join
    // (its query then measures the join, not the one-time layout).
    // Capped like everything else: a stalled warmup must not eat the
    // whole budget before the sweep has written a single row.
    timeOnceCapped(spark, SparkEntry.queries("q1_agg")(spark, sfDir),
      cap("q1_agg"), "suite-warmup:q1_agg")
    timeOnceCapped(spark, SparkEntry.queries("q_bucketed_join")(spark, sfDir),
      cap("q_bucketed_join"), "suite-warmup:q_bucketed_join")
    // settled spot reading: the pre-warmup `start` canary reads a cold
    // JVM and runs 2-3x the steady state in EVERY window (850-1174 ms
    // observed against 187-385 ms steady on the same clean day), which
    // is exactly why it is taken first — the suite warmups' caps must
    // be scaled by the window the warmups actually run in. But leaving
    // it as the live reading would stamp the first 25 rows (and scale
    // their caps) with startup noise, so a warm spot replaces it
    // before the first row; tools/adopt_bench.py likewise gates on the
    // series median, never the cold start.
    mark(0, "warm", spotSchedMs(sc))
    // optional name filter for local iteration (driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val acc = scala.collection.mutable.ArrayBuffer[BenchRow]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val rowIdx = acc.size
        val m = mode()
        // periodic spot canary: every 25 full-mode rows; before EVERY
        // degraded-mode row (those have a single timed run each, so
        // per-row attribution is all the artifact will ever have)
        if (m == "degraded") mark(rowIdx, "degraded", spotSchedMs(sc))
        else if (m == "full" && rowIdx % 25 == 0 && rowIdx > 0)
          mark(rowIdx, "periodic", spotSchedMs(sc))
        val schedUsed = latestSched()
        val capNow = cap(name)
        val row = m match {
          case "skip" =>
            skipped += name
            timedRunsPlan(name) = 0
            BenchRow(name, -1.0, -1.0, Seq.empty, 0L, 0L, Seq.empty)
          case "degraded" =>
            degraded += name
            timedRunsPlan(name) = 1
            val (runsM, c, last) =
              timedWindow(profiler, spark, sfDir, fn, capNow, elapsed _, runs = 1, tag = name)
            if (c) capped += name
            val sec = runsM.head._1
            BenchRow(name, sec, sec, runsM.map(_._1), runsM.head._2,
              runsM.head._3, runsM.map(_._4), schedUsed, runsM.map(_._5), last)
          case _ =>
            val nRuns = BenchStats.timedRuns(refSameCores.get(name).map(_._1),
              refSameCores.get(name).map(_._2), streamingNames.contains(name))
            timedRunsPlan(name) = nRuns
            val warmT = elapsed()
            val (warm, wCapped) = timeOnceCapped(spark, fn(spark, sfDir), capNow, name)
            // a failed warmup means the query itself fails — don't run
            // it N more times just to fail N more times
            val (runsM, c, last) =
              if (warm < 0) (Seq.fill(nRuns)((-1.0, 0L, 0L, 0L, elapsed())), false, None)
              else timedWindow(profiler, spark, sfDir, fn, capNow, elapsed _, runs = nRuns, tag = name)
            if (wCapped || c) capped += name
            val timed = runsM.map(_._1)
            // any failed run poisons the stats: report -1, never a
            // healthy-looking near-zero exception time
            val bad = timed.contains(-1.0)
            val median = if (bad) -1.0 else BenchStats.median(timed)
            val min = if (bad) -1.0 else timed.min
            // shuffle bytes are plan-determined (median across runs
            // absorbs AQE jitter); gc is the per-run variance signal
            def med(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
            BenchRow(name, median, min, warm +: timed,
              med(runsM.map(_._2)), med(runsM.map(_._3)), runsM.map(_._4),
              schedUsed, warmT +: runsM.map(_._5), last)
        }
        acc += row
        flush(acc.toSeq, partial = true)
      }
    val results = acc.toSeq
    canaries += ("cpu_end" -> cpuCanaryMs())
    val schedEnd = schedCanaryMs(sc)
    canaries += ("sched_end" -> schedEnd)
    mark(results.size, "end", schedEnd)
    host("steal_ticks_end") = hostStealTicks()
    host("throttled_ms_end") = hostThrottledMs()
    flush(results, partial = false)
    val ok = results.filter(_.median >= 0)
    val failed = results.filter(_.median < 0)
    val suspects = ok.filter(r => BenchStats.isSuspect(r.median, r.min))
    val envSuspects = envSuspectsOf(results)
    val total = r3(ok.map(_.median).sum)
    // stdout: short + complete beats long + truncated
    val topRows = ok.sortBy(-_.median).take(10).sortBy(_.name)
    val top = obj(topRows.map(r => r.name -> r3(r.median).toString))
    // per-row flags for the top-10, so a reader of the stdout tail can
    // tell a contaminated window from a plan regression without opening
    // BENCH_LOCAL.json
    val flagSets: Seq[(String, String => Boolean)] = Seq(
      "suspect" -> suspects.map(_.name).toSet,
      "env_suspect" -> envSuspects.toSet,
      "degraded" -> degraded.toSet, "capped" -> capped.toSet)
    val detail = obj(topRows.map { r =>
      val fl = BenchStats.flagsOf(r.name, flagSets)
      r.name -> obj(Seq("median" -> r3(r.median).toString,
        "min" -> r3(r.min).toString, "flagged" -> ("\"" + fl + "\"")))
    })
    // recovered / capped_twice / rewindowed stay in the key set the
    // line's reader decodes; nothing sets them any more (Bench scaladoc)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top,"queries_detail":$detail,"failed":${failed.size},"suspect":${suspects.size},"env_suspect":${envSuspects.size},"degraded":${degraded.size},"capped":${capped.size},"recovered":0,"capped_twice":0,"rewindowed":0,"zombies":${zombies.size},"skipped":${skipped.size},"n":${results.size},"sf":"$sfDir","stat":"median_of_2_or_3","file":"$outFile"}"""
    // silence shutdown logs, stop, THEN print: the line must be last
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(line)
  }
}
