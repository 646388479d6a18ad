#!/usr/bin/env python3
"""Bench-snapshot adoption gate (r13 verdict task 3).

Checks a candidate BENCH_LOCAL.json against the adoption rule that has
been applied manually (and correctly rejected two taxed sweeps) in
rounds 12-13, so a clean-window reference can finally land without a
human in the loop:

  1. complete, and every guard list empty — partial/failed/degraded/
     capped/skipped/env_suspect/zombie_after, plus suspect (a bimodal
     row must not seed the reference mins). Bench measures each row in
     one window, so every list is a flag on that window;
  2. full sweep — at least as many rows as the current committed clean
     reference (a gated run must never become the baseline);
  3. every streaming row's min within 1.3x of the committed clean
     reference's min (streaming walls are the most window-sensitive
     rows; adopting a taxed baseline would loosen the 3x env-guard on
     every row to protect nothing — see COVERAGE.md r13 adjudications);
  4. window-speed canaries inside the calibrated clean band:
     sched_end <= 650 ms and the MEDIAN of the in-sweep canary_series
     readings <= 500 ms (clean steady-state measured 230-500; slow
     days 650-1890), and cpu_start/cpu_end <= 55 ms (normal 36-43).
     sched_start is reported but NOT gating: since r14 it is measured
     BEFORE the suite warmups (so the warmups' caps are already
     canary-scaled), which makes it a cold-JVM reading that runs
     2-3x the steady state in every window (953 ms start vs 230-315
     steady in the cleanest window measured) — the series median is
     the honest window-cleanliness estimator.

The reference is BENCH_REF.json at the repo root, the same file Bench
reads: the last snapshot this gate passed, copied there by
tools/adopt_bench.sh (HEAD's BENCH_LOCAL.json may hold a flagged
window artifact, which must never be a baseline).

Exit 0 = adoptable (tools/adopt_bench.sh then commits it, which pins
its canary values as the new sched_ref for cap scaling). Exit 1 = keep
the current reference; reasons on stdout.
"""
import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHED_MAX_MS = 650.0
SERIES_MEDIAN_MAX_MS = 500.0
CPU_MAX_MS = 55.0
STREAM_RATIO_MAX = 1.3
FLAG_LISTS = ["failed", "degraded", "capped", "skipped", "env_suspect",
              "zombie_after", "suspect"]
REF = f"{REPO}/BENCH_REF.json"


def committed_ref():
    try:
        body = open(REF, "rb").read()
    except OSError:
        return None, None
    return hashlib.sha256(body).hexdigest()[:12], json.loads(body)


def main():
    cand_path = sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/BENCH_LOCAL.json"
    cand = json.load(open(cand_path))
    ref_sha, ref = committed_ref()
    problems = []

    if cand.get("partial", False):
        problems.append("partial: the sweep did not finish")
    for k in FLAG_LISTS:
        v = cand.get(k, [])
        if v:
            problems.append(f"{k} non-empty ({len(v)}): {v[:6]}{'...' if len(v) > 6 else ''}")

    if ref is None:
        problems.append("no committed clean reference found to compare against")
    else:
        n_cand = len(cand.get("queries", {}))
        n_ref = len(ref.get("queries", {}))
        if n_cand < n_ref:
            problems.append(f"gated/partial sweep: {n_cand} rows < reference {n_ref}")
        refmin = ref.get("min", {})
        # the streaming set comes from the candidate's own registry-
        # derived `streaming` field when present (a name grep misses
        # q_sessionize_tws — a writeStream/Replay row); the substring
        # fallback plus that known extra covers pre-field artifacts
        streaming = set(cand.get("streaming") or
                        [n for n in cand.get("min", {}) if "stream" in n] +
                        ["q_sessionize_tws"])
        over = []
        for name, mn in cand.get("min", {}).items():
            if name in streaming and name in refmin and refmin[name] > 0 and mn > 0:
                ratio = mn / refmin[name]
                if ratio > STREAM_RATIO_MAX:
                    over.append(f"{name} {ratio:.2f}x ({mn:.2f}s vs {refmin[name]:.2f}s)")
        if over:
            problems.append(f"streaming rows above {STREAM_RATIO_MAX}x committed min: " + "; ".join(over))

    can = cand.get("canary_ms", {})
    v = can.get("sched_end")
    if v is None:
        problems.append("canary_ms.sched_end missing — pre-canary artifact cannot pin sched_ref")
    elif v > SCHED_MAX_MS:
        problems.append(f"canary_ms.sched_end = {v:.0f} ms > {SCHED_MAX_MS:.0f} (taxed window)")
    series = [e.get("sched_ms") for e in cand.get("canary_series", [])
              if e.get("tag") != "start" and isinstance(e.get("sched_ms"), (int, float))]
    if not series:
        problems.append("canary_series missing/empty — cannot estimate steady-state window speed")
    else:
        series.sort()
        med = series[len(series) // 2]
        if med > SERIES_MEDIAN_MAX_MS:
            problems.append(f"canary_series median = {med:.0f} ms > {SERIES_MEDIAN_MAX_MS:.0f} (taxed window)")
    # cpu-canary gate: against the PINNED reference canaries when the
    # committed clean reference carries them (1.4x the worse of its
    # start/end readings — the calibrated 36-43ms band with headroom);
    # the hard-coded CPU_MAX_MS band only covers a reference that
    # predates the cpu canary fields (c5df4cc and older)
    ref_cpu = [v for v in ((ref or {}).get("canary_ms", {}).get(k)
                           for k in ("cpu_start", "cpu_end")) if v is not None]
    cpu_bound = 1.4 * max(ref_cpu) if ref_cpu else CPU_MAX_MS
    cpu_src = "1.4x pinned ref" if ref_cpu else "calibrated fallback"
    for k in ["cpu_start", "cpu_end"]:
        v = can.get(k)
        if v is not None and v > cpu_bound:
            problems.append(f"canary_ms.{k} = {v:.1f} ms > {cpu_bound:.0f} ({cpu_src})")

    total = cand.get("value")
    ref_total = ref.get("value") if ref else None
    # host-steal delta across the sweep (USER_HZ ticks ≈ 10ms CPU
    # each): the first live taxed window measured 96,933 ticks (~969
    # CPU-seconds) against 176 in a clean replay — a reviewer should
    # see the host-pressure axis next to the canary numbers
    h = cand.get("host", {}) or {}
    steal_note = ""
    if h.get("steal_ticks_start", -1) >= 0 and h.get("steal_ticks_end", -1) >= 0:
        steal_note = f"  steal={h['steal_ticks_end'] - h['steal_ticks_start']}t"
    print(f"candidate: {cand_path}  total={total}s  rows={len(cand.get('queries', {}))}{steal_note}")
    print(f"reference: BENCH_REF.json:sha256:{ref_sha}  total={ref_total}s" if ref else "reference: NONE")
    if problems:
        print("NOT ADOPTABLE:")
        for p in problems:
            print(f"  - {p}")
        return 1
    print("ADOPTABLE: all guard lists empty, full sweep, streaming within "
          f"{STREAM_RATIO_MAX}x, canaries in the clean band "
          f"(sched start/end {can.get('sched_start') or -1:.0f}/{can.get('sched_end') or -1:.0f} ms, "
          f"series median {series[len(series) // 2]:.0f} ms)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
