#!/bin/bash
# Clean-reference adoption loop (r13 verdict task 3): run the full
# bench sweep up to K times; the FIRST window that passes every
# adoption guard (tools/adopt_bench.py) is copied to BENCH_REF.json and
# committed with BENCH_LOCAL.json — which also pins its canary_ms values
# as the sched_ref every later run's cap scaling and window adjudication
# compares against. This is the only writer of BENCH_REF.json, the one
# reference Bench and the gate read. A failing window is recorded to
# /tmp and retried; the reference is never touched by a failed attempt.
#
# Usage: tools/adopt_bench.sh [K]   (default 3 attempts)
set -u -o pipefail
cd "$(dirname "$0")/.." || exit 2
K="${1:-3}"

# 10s host-steal pre-probe (r15): a full sweep costs ~15-25 min; when
# the host is actively stealing CPU the gate will reject anyway (the
# three r15 taxed sweeps measured 65-70 steal-ticks/s suite-wide vs
# ~3 t/s clean), so skip the attempt for the price of 10 seconds.
# Steal only accrues when the guest WANTS cpu — an idle guest reads 0
# on a fully contended host — so the probe spins all vCPUs while it
# samples. Steal-clean does NOT imply adoptable (Firecracker
# scheduling tax can be steal-invisible — see COVERAGE.md r13) — this
# only short-circuits the obviously-stolen case. Threshold 150
# ticks/10s (~5x clean, ~1/4 taxed); disable with
# SPARK_GRAFT_ADOPT_NO_PROBE=1.
steal_now() { awk '/^cpu /{print $9}' /proc/stat; }
probe_steal() {
  local s0 s1 pids=() n
  n=$(nproc)
  for _ in $(seq 1 "$n"); do
    ( end=$((SECONDS + 11)); while [ $SECONDS -lt $end ]; do :; done ) &
    pids+=($!)
  done
  s0=$(steal_now); sleep 10; s1=$(steal_now)
  kill "${pids[@]}" 2>/dev/null
  wait "${pids[@]}" 2>/dev/null
  echo $((s1 - s0))
}

for i in $(seq 1 "$K"); do
  if [ -z "${SPARK_GRAFT_ADOPT_NO_PROBE:-}" ]; then
    # TWO clean probes 60s apart before spending a sweep: the host tax
    # here oscillates on minute scales, and a single clean 10s probe
    # twice granted a 15-min sweep that hit the tax minutes in (r15
    # attempts 10/11: probes 87/71 ticks, sweeps then accrued
    # 141k/121k ticks and were rejected on the series median)
    d=$(probe_steal)
    if [ "$d" -gt 150 ]; then
      echo "[adopt] attempt $i/$K: host steal ${d} ticks/10s (>150) — window is stolen, skipping the sweep"
      sleep 120
      continue
    fi
    sleep 60
    d2=$(probe_steal)
    if [ "$d2" -gt 150 ]; then
      echo "[adopt] attempt $i/$K: second steal probe ${d2} ticks/10s (first: $d) — oscillating window, skipping"
      sleep 120
      continue
    fi
    echo "[adopt] attempt $i/$K: steal probes ${d}/${d2} ticks/10s — proceeding"
  fi
  echo "[adopt] attempt $i/$K: full sweep..."
  # freshness guard: the gate must never run on a stale artifact — if
  # the bench fails to launch (e.g. no compiled classes), BENCH_LOCAL
  # .json still holds the committed snapshot, which would pass the
  # gate and "adopt" a file with zero new measurements behind it
  before=$(stat -c %Y BENCH_LOCAL.json 2>/dev/null || echo 0)
  if ! SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
       SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
       tools/run.sh graft.Bench 2>/dev/null | tail -1; then
    echo "[adopt] attempt $i: bench run FAILED (compile first? see tools/run.sh)"
    continue
  fi
  after=$(stat -c %Y BENCH_LOCAL.json 2>/dev/null || echo 0)
  if [ "$after" -le "$before" ]; then
    echo "[adopt] attempt $i: artifact not rewritten — refusing to gate a stale file"
    continue
  fi
  if python3 tools/adopt_bench.py BENCH_LOCAL.json; then
    cp -f BENCH_LOCAL.json BENCH_REF.json
    git add BENCH_LOCAL.json BENCH_REF.json
    total=$(python3 -c "import json;print(json.load(open('BENCH_LOCAL.json'))['value'])")
    sched=$(python3 -c "import json;c=json.load(open('BENCH_LOCAL.json'))['canary_ms'];print(f\"{c['sched_start']:.0f}/{c['sched_end']:.0f}\")")
    if git commit -m "Adopt clean-window bench snapshot: ${total}s, all guards empty, sched canary ${sched}ms pinned" \
      -m "Passed tools/adopt_bench.py: every flag list empty, full row count, streaming rows within 1.3x of the prior committed clean mins, canaries in the calibrated clean band. Copied to BENCH_REF.json, the reference Bench reads: its canary_ms becomes the sched_ref that scales the per-query caps." \
      -m "No-Verification-Needed: bench artifact adoption, no source change"; then
      echo "[adopt] adopted and committed."
      exit 0
    fi
    git checkout HEAD -- BENCH_REF.json 2>/dev/null || true
    echo "[adopt] attempt $i: git commit FAILED — nothing adopted"
    exit 2
  fi
  cp -f BENCH_LOCAL.json "/tmp/bench_rejected_$i.json" 2>/dev/null || true
  git checkout -- BENCH_LOCAL.json 2>/dev/null || true
  echo "[adopt] attempt $i rejected (saved to /tmp/bench_rejected_$i.json)"
done
echo "[adopt] no clean window in $K attempts; committed reference unchanged"
exit 1
