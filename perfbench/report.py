#!/usr/bin/env python3
"""Summary over the stored run artifacts.

    python3 perfbench/report.py [results dir, default .perfbench/results]

For each workload and mode: every metric's median, quartiles and spread
(interquartile distance as a share of the median) over the stored runs,
the tracing overhead (untraced `ops_per_s` against traced
`trace.ops_per_s`), and, per seed, whether the counts that should repeat
exactly did.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

# codegen.compiles is left out: executor threads race to compile into one
# shared cache, so it varies slightly between runs of one seed
REPEATING = ["builder.jobs", "action.jobs", "scheduler.jobs", "scheduler.stages",
             "scheduler.tasks", "engine.schema_jobs", "streaming.batches"]


def main():
    res = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".perfbench", "results")
    runs = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(res, "*.json"))):
        with open(path) as f:
            a = json.load(f)
        runs[(a["workload"], a["trace"])].append(a)
    for (workload, trace), arts in sorted(runs.items()):
        bad = sum(1 for a in arts if not a["correct"])
        print(f"== {workload} trace={trace}: {len(arts)} runs, {bad} not correct, "
              f"samples/run {statistics.median(a['samples'] for a in arts):g}")
        for name in arts[0]["metrics"]:
            # a run whose program died has no heap figure
            vals = [a["metrics"][name]["value"] for a in arts
                    if a["metrics"][name]["value"] is not None]
            if not vals:
                continue
            med = statistics.median(vals)
            line = f"  {name:32s} median {med:12.4f} {arts[0]['metrics'][name]['unit']}"
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med if med else 0.0
                line += f"  q1 {q1:.4f} q3 {q3:.4f} spread {spread:.4f}"
            print(line)
        if trace:
            by_seed = defaultdict(list)
            for a in arts:
                by_seed[a["seed"]].append(tuple(a["metrics"][k]["value"] for k in REPEATING))
            for seed, counts in sorted(by_seed.items()):
                if len(counts) > 1:
                    print(f"  seed {seed}: counts repeat exactly over {len(counts)} runs: "
                          f"{len(set(counts)) == 1}")
    for workload in sorted({w for w, _ in runs}):
        plain, traced = runs.get((workload, 0)), runs.get((workload, 1))
        if plain and traced:
            a = statistics.median(r["metrics"]["ops_per_s"]["value"] for r in plain)
            b = statistics.median(r["metrics"]["trace.ops_per_s"]["value"] for r in traced)
            print(f"== {workload}: tracing overhead {a / b - 1:+.2%} "
                  f"(untraced {a:.4f} vs traced {b:.4f} ops/s)")


if __name__ == "__main__":
    main()
