package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for [[BenchStats]] — the bench's one-window flag, cap,
  * budget and stream-floor policies, pure of any SparkSession — and for
  * the artifact's render/parse round-trip and the reference reader. */
class BenchStatsSpec extends AnyFunSuite {

  test("median: odd and even run counts") {
    assert(BenchStats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(BenchStats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("envSuspects: divergence needs an unchanged shuffle signature") {
    val ref = Map("a" -> (1.0, 100.0), "b" -> (1.0, 100.0))
    // a: 4x slower, same signature -> flagged; b: 4x slower but shuffle
    // signature moved 2x (a real plan change) -> not an env artifact
    assert(BenchStats.envSuspects(
      Seq(("a", 4.0, 101.0), ("b", 4.0, 200.0)), ref) == Seq("a"))
  }

  test("envSuspects: floors exempt scheduling-jitter rows") {
    val ref = Map("tiny" -> (0.01, 5.0), "small" -> (0.05, 5.0))
    // tiny: refMin 0.01 <= 0.02 floor; small: 0.31 > 3*0.05 and past both
    // floors -> flagged
    assert(BenchStats.envSuspects(
      Seq(("tiny", 0.2, 5.0), ("small", 0.31, 5.0)), ref) == Seq("small"))
  }

  test("envSuspects ignores rows absent from the reference") {
    assert(BenchStats.envSuspects(Seq(("new_query", 100.0, 50.0)), Map.empty).isEmpty)
  }

  test("comparableRef: a reference on other cores flags no env_suspect") {
    // a 4-core row 3.5x slower than the 32-core reference, same shuffle:
    // the core count, not the environment
    val ref = Map("q" -> (1.0, 10.0))
    val row = Seq(("q", 3.5, 10.0))
    assert(BenchStats.envSuspects(row, BenchStats.comparableRef(ref, 32, 4)).isEmpty)
    // the same row against a reference on its own core count is flagged
    assert(BenchStats.envSuspects(row, BenchStats.comparableRef(ref, 4, 4)) == Seq("q"))
  }

  test("capSeconds: 10x reference median with a 60s floor; 600s unreferenced") {
    // sub-second rows must not be cap-killed by one GC pause
    assert(BenchStats.capSeconds(Some(0.5)) == 60.0)
    assert(BenchStats.capSeconds(Some(5.9)) == 60.0)
    // past the floor the cap tracks the committed median
    assert(BenchStats.capSeconds(Some(8.0)) == 80.0)
    // a failed reference median (-1) is no reference at all
    assert(BenchStats.capSeconds(Some(-1.0)) == 600.0)
    assert(BenchStats.capSeconds(None) == 600.0)
  }

  test("budgetMode: full within budget, degraded to 2x, skip past 2x") {
    assert(BenchStats.budgetMode(0.0, 1500.0) == "full")
    assert(BenchStats.budgetMode(1500.0, 1500.0) == "full")
    assert(BenchStats.budgetMode(1500.1, 1500.0) == "degraded")
    assert(BenchStats.budgetMode(3000.0, 1500.0) == "degraded")
    assert(BenchStats.budgetMode(3000.1, 1500.0) == "skip")
  }

  test("scaledCap: live-canary multiplier, floored at 1x, ceilinged at 50x") {
    // clean window (now ≈ ref): the base policy, never tighter
    assert(BenchStats.scaledCap(Some(8.0), 500.0, 500.0) == 80.0)
    assert(BenchStats.scaledCap(Some(8.0), 250.0, 500.0) == 80.0)
    // the r13 driver burst: sched 60x the clean reference would have
    // kept emb_kmeans (49.7s warmup vs a 60s cap) alive as a slow
    // measurement instead of a failure — but the 50x ceiling keeps a
    // dead box from earning an unbounded cap
    assert(BenchStats.scaledCap(Some(0.82), 30000.0, 500.0) == 60.0 * 50.0)
    assert(BenchStats.scaledCap(Some(0.82), 1000.0, 500.0) == 120.0)
    // unmeasured canary or pre-canary reference: plain base policy
    assert(BenchStats.scaledCap(Some(8.0), -1.0, 500.0) == 80.0)
    assert(BenchStats.scaledCap(Some(8.0), 1000.0, -1.0) == 80.0)
    assert(BenchStats.scaledCap(None, 1000.0, 500.0) == 1200.0)
  }

  test("timedRuns: 2 for stable committed rows, 3 for streaming/volatile/new") {
    // committed median within 5% of committed min, batch row → 2 runs
    assert(BenchStats.timedRuns(Some(1.00), Some(0.97), streaming = false) == 2)
    assert(BenchStats.timedRuns(Some(1.05), Some(1.00), streaming = false) == 2)
    // volatile history keeps 3
    assert(BenchStats.timedRuns(Some(1.20), Some(1.00), streaming = false) == 3)
    // streaming rows keep 3 regardless of history — the suite's most
    // window-sensitive walls
    assert(BenchStats.timedRuns(Some(1.00), Some(1.00), streaming = true) == 3)
    // no committed reference / failed reference → 3
    assert(BenchStats.timedRuns(None, None, streaming = false) == 3)
    assert(BenchStats.timedRuns(Some(-1.0), Some(-1.0), streaming = false) == 3)
    assert(BenchStats.timedRuns(Some(1.0), Some(0.0), streaming = false) == 3)
  }

  test("refAcceptable: a flagged snapshot is never a reference baseline") {
    // the clean 208.6s snapshot shape (pre-cap fields read as size 0)
    assert(BenchStats.refAcceptable(partial = false, 0, 0, 0, 0, 0))
    // the r13 driver artifact: 12 failed/capped, 261 degraded — taking
    // it as baseline would loosen every cap and env-guard ~3x
    assert(!BenchStats.refAcceptable(partial = false, 12, 261, 12, 0, 8))
    // every flag vetoes independently
    assert(!BenchStats.refAcceptable(partial = true, 0, 0, 0, 0, 0))
    assert(!BenchStats.refAcceptable(partial = false, 1, 0, 0, 0, 0))
    assert(!BenchStats.refAcceptable(partial = false, 0, 1, 0, 0, 0))
    assert(!BenchStats.refAcceptable(partial = false, 0, 0, 1, 0, 0))
    assert(!BenchStats.refAcceptable(partial = false, 0, 0, 0, 1, 0))
    assert(!BenchStats.refAcceptable(partial = false, 0, 0, 0, 0, 1))
    // zombie_after vetoes too: a suite-warmup cap kill never reaches
    // `capped` (only row kills do), so an un-reaped warmup worker
    // can taint an otherwise flag-free sweep
    assert(!BenchStats.refAcceptable(partial = false, 0, 0, 0, 0, 0, zombies = 1))
  }

  /** A two-row artifact, flagged by whatever `degraded` names. */
  private def render(degraded: Seq[String]): String = Bench.artifactJson(
    rows = Seq(
      BenchRow("q_a", 2.0, 1.8, Seq(3.0, 2.0, 1.8), 1000000L, 500000L,
        Seq(10L, 20L), schedMs = 300.0, tSec = Seq(5.0, 8.0, 10.0)),
      BenchRow("q_b", 0.5, 0.4, Seq(0.9, 0.5, 0.4), 2000000L, 0L,
        Seq(0L, 0L), schedMs = 310.0, tSec = Seq(12.0, 13.0, 13.6))),
    envSuspects = Seq.empty, partial = false, degraded = degraded,
    capped = Seq.empty, skipped = Seq.empty, refSource = "test",
    budgetSec = 1500.0, sfDir = "/tmp/sf", cores = 4,
    scratch = "tmpfs", canaries = Seq("cpu_start" -> 40.0,
      "sched_start" -> 900.0, "cpu_end" -> 38.0, "sched_end" -> 350.0),
    canarySeries = Seq((0, "start", 900.0, 100L), (0, "warm", 400.0, 101L)),
    timedRunsPlan = Seq("q_a" -> 2, "q_b" -> 2), schedRefMs = 357.78,
    streamingNames = Set.empty, host = Seq("steal_ticks_start" -> 7L))

  test("artifact render → reference parse round-trip (format-drift guard)") {
    // the reference readers (Bench.readRef / tools/adopt_bench.py) parse
    // the same JSON artifactJson renders; a silent rename on either
    // side would detach every cap and env-guard from its baseline.
    // This is the only place the two private halves meet off-line.
    val (stats, acceptable, sched, cores) = Bench.parseBenchSnapshot(render(Seq.empty))
    assert(acceptable, "a flag-free artifact must parse as an acceptable reference")
    // (median, min, shuffle_write_mb) — mb() renders bytes/1e6 at 2dp
    assert(stats("q_a") == ((2.0, 1.8, 1.0)))
    assert(stats("q_b") == ((0.5, 0.4, 2.0)))
    // sched_ref pins min(sched_start, sched_end)
    assert(sched.contains(350.0))
    assert(cores == 4)
    // any non-empty guard list vetoes the snapshot as a baseline
    val (_, flagged, _, _) = Bench.parseBenchSnapshot(render(Seq("q_b")))
    assert(!flagged)
  }

  test("readRef: nothing for a missing file, refuses a flagged one, takes a clean one") {
    val dir = Scratch.tempDir("bench_ref")
    try {
      val ref = dir.resolve("BENCH_REF.json")
      assert(Bench.readRef(ref).isEmpty)
      java.nio.file.Files.writeString(ref, render(Seq("q_b")))
      assert(Bench.readRef(ref).isEmpty, "a flagged snapshot is never a baseline")
      java.nio.file.Files.writeString(ref, render(Seq.empty))
      val Some((stats, source, sched, _)) = Bench.readRef(ref)
      assert(stats.keySet == Set("q_a", "q_b") && sched.contains(350.0))
      // named by content: the file name plus 12 hex of its sha256
      assert(source.matches("BENCH_REF\\.json:sha256:[0-9a-f]{12}"), source)
    } finally graft.ops.Scale.deleteTree(dir)
  }

  test("the committed BENCH_REF.json is an acceptable reference with a pinned sched canary") {
    val Some((stats, source, sched, cores)) = Bench.readRef(Bench.refFile)
    assert(stats.size == 307, s"${stats.size} rows")
    // it predates the cores field: read as tools/adopt_bench.sh's 32
    assert(cores == 32)
    // the 181.023 s adoption: min(sched_start 939.86, sched_end 223.15)
    assert(sched.contains(223.15))
    assert(source.startsWith("BENCH_REF.json:sha256:"), source)
  }

  test("streamFloor folds a run's micro-batches; empty without any") {
    def batch(trigger: Long, rows: Long, sources: Int) = BatchProgress(
      Map("triggerExecution" -> trigger, "addBatch" -> 100L,
        "queryPlanning" -> 10L, "walCommit" -> 1L, "commitOffsets" -> 2L,
        "latestOffset" -> 4L, "getBatch" -> 8L, "commitBatch" -> 16L),
      rows, stateCommitMs = 50L, nSources = sources)
    val p = Profile(wallS = 1.5, 0L, 0L, 0L,
      queryStarts = 2L, batches = Seq(batch(400L, 7L, 1), batch(300L, 3L, 2)))
    assert(BenchStats.streamFloor(p) == Seq("n_queries" -> 2L,
      "n_batches" -> 2L, "trigger_ms" -> 700L, "add_batch_ms" -> 200L,
      "planning_ms" -> 20L,
      // walCommit + commitOffsets + latestOffset + getBatch + commitBatch
      "offset_wal_ms" -> 62L, "state_commit_ms" -> 100L,
      // wall − triggerExecution
      "outside_ms" -> 800L, "input_rows" -> 10L, "n_sources" -> 2L))
    assert(BenchStats.streamFloor(p.copy(batches = Seq.empty)).isEmpty)
  }

  test("flagsOf joins every matching adjudication list in caller order (r16 queries_detail)") {
    val sets: Seq[(String, String => Boolean)] = Seq(
      "suspect" -> Set("q_a", "q_b"),
      "env_suspect" -> Set("q_b"),
      "degraded" -> Set("q_c"),
      "capped" -> Set("q_b"))
    assert(BenchStats.flagsOf("q_a", sets) == "suspect")
    // multi-membership joins with '+' in the caller's (stable) order
    assert(BenchStats.flagsOf("q_b", sets) == "suspect+env_suspect+capped")
    assert(BenchStats.flagsOf("q_c", sets) == "degraded")
    // a clean row renders as the empty string, not a missing key
    assert(BenchStats.flagsOf("q_clean", sets) == "")
  }
}
