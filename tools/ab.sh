#!/bin/bash
# Paired A/B of the repo benchmark (perfbench/) between a parent ref and
# this checkout's working tree. Each pair runs the same workload and seed
# on both sides, one after the other, and alternates which side goes
# first, so slow host drift lands on both alike. Prints every run's last
# line, then per end-to-end metric (BENCHMARK.json) both medians, the
# parent's IQR and how many pairs the new side won.
#
# Usage: tools/ab.sh <parent-ref> <workload> <pairs> <first-seed>
#   Pair k (from 0) uses seed first-seed+k. The parent is checked out
#   detached under ${TMPDIR:-/tmp}/ab-<sha> (a local clone, reused by later
#   calls); each side's first run builds it. Never run two at once: they
#   share the cores and corrupt each other's timings.
set -uo pipefail
[ $# -eq 4 ] || { sed -n '2,13p' "$0"; exit 2; }
REF=$1 W=$2 PAIRS=$3 SEED0=$4
NEW=$(cd "$(dirname "$0")/.." && pwd)
SHA=$(git -C "$NEW" rev-parse --short=12 "$REF^{commit}") || exit 2
OLD="${TMPDIR:-/tmp}/ab-$SHA"
if [ ! -d "$OLD/.git" ]; then
  git clone -q --no-checkout "$NEW" "$OLD" && git -C "$OLD" checkout -q --detach "$SHA" || exit 2
fi
LOG=$(mktemp)
trap 'rm -f "$LOG"' EXIT
run() { # side dir seed pair
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$W" --seed "$3" --seconds 15 --trace 0 | tail -1)
  echo "$1 seed=$3 $line"
  echo "$4 $1 $line" >> "$LOG"
}
for k in $(seq 0 $((PAIRS - 1))); do
  s=$((SEED0 + k))
  if [ $((k % 2)) -eq 0 ]; then run parent "$OLD" $s $k; run new "$NEW" $s $k
  else run new "$NEW" $s $k; run parent "$OLD" $s $k; fi
done
python3 - "$LOG" "$NEW/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = {}  # (pair, side) -> metrics
for line in open(sys.argv[1]):
    pair, side, js = line.split(" ", 2)
    try:
        runs[(pair, side)] = json.loads(js)["metrics"]
    except (ValueError, KeyError):
        print(f"pair {pair} {side}: no result line")
def val(pair, side, name):
    return (runs.get((pair, side), {}).get(name) or {}).get("value")
pairs = sorted({p for p, _ in runs})
for m in json.load(open(sys.argv[2]))["end_to_end"]:
    n, lower = m["name"], m["better"] == "lower"
    old = [v for v in (val(p, "parent", n) for p in pairs) if v is not None]
    new = [v for v in (val(p, "new", n) for p in pairs) if v is not None]
    if not old or not new:
        print(f"{n:13s} missing values"); continue
    q = statistics.quantiles(old, n=4) if len(old) > 1 else [old[0]] * 3
    both = [(val(p, "parent", n), val(p, "new", n)) for p in pairs]
    won = sum(1 for o, w in both if None not in (o, w) and (w < o if lower else w > o))
    mo, mn = statistics.median(old), statistics.median(new)
    print(f"{n:13s} parent {mo:9.3f}  new {mn:9.3f}  ({(mn - mo) / mo:+6.1%}, {m['better']} is better)"
          f"  parent IQR {q[2] - q[0]:.3f}  new won {won}/{len(pairs)}")
EOF
