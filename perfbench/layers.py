"""Per-layer metrics of a traced run.

Inputs are the ops the benchmark timed and the records of the JVM trace:
the benchmark's own spans around each engine, builder and action call,
and the job, stage, task, query and micro-batch events that Spark's
public listeners deliver. Each event is placed under the op that caused
it: by the op id the harness puts in a local property when there is one,
otherwise by time (one client, so at most one op is in flight).

Times are means per timed op. Counts are means per op over the first
timed cycle, which every run has and which follows the same untimed
warm-up, so for a fixed seed they repeat exactly.
"""
import bisect
from collections import defaultdict
from dataclasses import dataclass, field

import stats

# A listener timestamp is a whole millisecond; allow for the truncation
# when placing it inside a span measured at finer resolution.
SLACK_MS = 2.0
UDAF_FUNCS = ["sum", "sum_cudarc", "sum_cubecl", "sum_custom", "sum_coercing"]
STREAM_PHASES = {
    "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
}


UNITS = {
    "engine.build_ms": "ms", "engine.configure_ms": "ms", "engine.register_testdata_ms": "ms",
    "engine.schema_jobs": "count", "engine.schema_jobs_per_file": "ratio",
    "builder.ms": "ms", "builder.self_ms": "ms", "builder.jobs": "count",
    "action.ms": "ms", "action.jobs": "count",
    **{f"udaf.{f}_p50_ms": "ms" for f in UDAF_FUNCS},
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.tasks_per_stage": "ratio", "scheduler.job_gap_ms": "ms",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.deserialize_ms": "ms", "task.gc_ms": "ms",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_ms": "ms",
    "shuffle.spill_mb": "MB",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms", "streaming.batch_p90_ms": "ms",
    **{f"streaming.{n}": "ms" for n in STREAM_PHASES},
    "host.steal_ticks": "count", "host.cpu_util": "ratio",
    "trace.ops_per_s": "1/s",
}


@dataclass
class Op:
    id: str
    row: str
    cycle: int
    start_ms: float
    mid_ms: float  # builder span is [start, mid), action span [mid, end)
    end_ms: float
    jobs: list = field(default_factory=list)
    queries: list = field(default_factory=list)
    batches: list = field(default_factory=list)
    compiles: float = 0.0
    compile_ms: float = 0.0


def retime(ops, records):
    """Replace the ops' times with the JVM's own op, builder and action
    spans where the trace has them. Returns the largest difference, in
    ms, between an op's span and its builder plus action spans."""
    spans = defaultdict(dict)
    for r in records:
        if r["t"] == "span" and r["op"] is not None:
            spans[r["op"]][r["name"]] = (r["start_ms"], r["end_ms"])
    worst = 0.0
    for o in ops:
        s = spans.get(o.id)
        if not s or "op" not in s:
            continue
        o.start_ms, o.end_ms = s["op"]
        b = s.get("builder", (o.start_ms, o.start_ms))
        a = s.get("action", (b[1], b[1]))
        o.mid_ms = b[1]
        worst = max(worst, abs((b[1] - b[0]) + (a[1] - a[0]) - (o.end_ms - o.start_ms)))
    return worst


def _place(ops, t):
    """The op whose span holds time t, or None."""
    starts = [o.start_ms for o in ops]
    i = bisect.bisect_right(starts, t + SLACK_MS) - 1
    if i >= 0 and t <= ops[i].end_ms + SLACK_MS:
        return ops[i]
    return None


def attach(ops, records):
    """Place every job, query, micro-batch and codegen delta under its op."""
    ops.sort(key=lambda o: o.start_ms)
    by_id = {o.id: o for o in ops}
    jobs, stages, tasks = {}, {}, defaultdict(list)
    for r in records:
        t = r["t"]
        if t == "job":
            jobs[r["id"]] = dict(r, end_ms=None)
        elif t == "job_end" and r["id"] in jobs:
            jobs[r["id"]]["end_ms"] = r["end_ms"]
        elif t == "stage":
            stages[r["id"]] = r
        elif t == "task":
            tasks[r["stage"]].append(r)
    for j in jobs.values():
        op = by_id.get(j["op"]) if j["op"] else _place(ops, j["start_ms"])
        if op is None:
            continue
        done = [stages[s] for s in j["stages"] if s in stages]
        j["done_stages"] = done
        j["tasks"] = [t for s in done for t in tasks[s["id"]]]
        if j["end_ms"] is None:
            j["end_ms"] = max([t["end_ms"] for t in j["tasks"]] or [j["start_ms"]])
        op.jobs.append(j)
    queries = sorted((r for r in records if r["t"] == "query"), key=lambda r: r["end_ms"])
    last = None
    for q in queries:
        op = _place(ops, q["start_ms"])
        if op is not None:
            op.queries.append(q)
            # query records carry JVM-wide codegen totals; the growth since
            # the previous query is what this one compiled
            if last is not None:
                op.compiles += q["codegen_compiles"] - last["codegen_compiles"]
                op.compile_ms += q["codegen_ms"] - last["codegen_ms"]
        last = q
    for r in records:
        if r["t"] == "batch":
            op = _place(ops, r["end_ms"])
            if op is not None:
                op.batches.append(r)


def _mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _span_ms(records, name):
    return sum(r["end_ms"] - r["start_ms"] for r in records
               if r["t"] == "span" and r["name"] == name)


def _builder_jobs(o):
    return [j for j in o.jobs if j["start_ms"] < o.mid_ms]


def _self_ms(o, start, end):
    return stats.self_time(start, end, [(j["start_ms"], j["end_ms"]) for j in o.jobs])


def row_summary(ops):
    """Per row: medians of the op span, its builder and action child
    spans, and their self times (the part no Spark job covers)."""
    out = {}
    for row in sorted({o.row for o in ops}):
        mine = [o for o in ops if o.row == row]

        def med(f):
            return round(stats.median([f(o) for o in mine]), 3)
        out[row] = {
            "ops": len(mine), "op_ms": med(lambda o: o.end_ms - o.start_ms),
            "builder_ms": med(lambda o: o.mid_ms - o.start_ms),
            "builder_self_ms": med(lambda o: _self_ms(o, o.start_ms, o.mid_ms)),
            "action_ms": med(lambda o: o.end_ms - o.mid_ms),
            "action_self_ms": med(lambda o: _self_ms(o, o.mid_ms, o.end_ms)),
            "jobs": med(lambda o: len(o.jobs)),
        }
    return out


def per_layer(ops, records, slots):
    """Every per-layer metric, as {name: value}. `ops` are the timed ops,
    already placed by `attach`."""
    first = [o for o in ops if o.cycle == min(o.cycle for o in ops)]

    def sum_tasks(o, key):
        return sum(t[key] for j in o.jobs for t in j["tasks"])

    def phase(o, name):
        return sum(q["phases"].get(name, 0.0) for q in o.queries)

    def job_gap(o):
        return sum((j["end_ms"] - j["start_ms"]) - stats.union_length(
            [(t["start_ms"], t["end_ms"]) for t in j["tasks"]], j["start_ms"], j["end_ms"])
            for j in o.jobs)

    def schema_jobs(o):
        return sum(1 for j in o.jobs if any(s["schema_read"] for s in j["done_stages"]))

    n_stages = sum(len(j["done_stages"]) for o in first for j in o.jobs)
    n_tasks = sum(len(j["tasks"]) for o in first for j in o.jobs)
    files_read = sum(len({f for q in o.queries for f in q["files"]}) for o in first)
    trigger = [b["durations"].get("triggerExecution", 0) for o in ops for b in o.batches]
    wall = sum(o.end_ms - o.start_ms for o in ops)
    mb = 1024.0 * 1024.0

    m = {
        "engine.build_ms": _span_ms(records, "engine.build"),
        "engine.configure_ms": _span_ms(records, "engine.configure"),
        "engine.register_testdata_ms": _span_ms(records, "engine.register_testdata"),
        "engine.schema_jobs": _mean(schema_jobs(o) for o in first),
        "engine.schema_jobs_per_file":
            sum(schema_jobs(o) for o in first) / files_read if files_read else 0.0,
        "builder.ms": _mean(o.mid_ms - o.start_ms for o in ops),
        "builder.self_ms": _mean(_self_ms(o, o.start_ms, o.mid_ms) for o in ops),
        "builder.jobs": _mean(len(_builder_jobs(o)) for o in first),
        "action.ms": _mean(o.end_ms - o.mid_ms for o in ops),
        "action.jobs": _mean(len(o.jobs) - len(_builder_jobs(o)) for o in first),
    }
    for f in UDAF_FUNCS:
        lat = [o.end_ms - o.start_ms for o in ops if o.row == f]
        m[f"udaf.{f}_p50_ms"] = stats.median(lat) if lat else 0.0
    m.update({
        "catalyst.analysis_ms": _mean(phase(o, "analysis") for o in ops),
        "catalyst.optimization_ms": _mean(phase(o, "optimization") for o in ops),
        "catalyst.planning_ms": _mean(phase(o, "planning") for o in ops),
        "codegen.compiles": _mean(o.compiles for o in first),
        "codegen.compile_ms": _mean(o.compile_ms for o in ops),
        "scheduler.jobs": _mean(len(o.jobs) for o in first),
        "scheduler.stages": n_stages / len(first),
        "scheduler.tasks": n_tasks / len(first),
        "scheduler.tasks_per_stage": n_tasks / n_stages if n_stages else 0.0,
        "scheduler.job_gap_ms": _mean(job_gap(o) for o in ops),
        "task.run_ms": _mean(sum_tasks(o, "run_ms") for o in ops),
        "task.cpu_ms": _mean(sum_tasks(o, "cpu_ms") for o in ops),
        "task.deserialize_ms": _mean(sum_tasks(o, "deser_ms") for o in ops),
        "task.gc_ms": _mean(sum_tasks(o, "gc_ms") for o in ops),
        "shuffle.write_mb": _mean(sum_tasks(o, "shuffle_write_b") / mb for o in ops),
        "shuffle.read_mb": _mean(sum_tasks(o, "shuffle_read_b") / mb for o in ops),
        "shuffle.fetch_wait_ms": _mean(sum_tasks(o, "fetch_wait_ms") for o in ops),
        "shuffle.spill_mb": _mean(sum_tasks(o, "spill_b") / mb for o in ops),
        "streaming.batches": _mean(len(o.batches) for o in first),
        "streaming.batch_p50_ms": stats.percentile(trigger, 50) if trigger else 0.0,
        "streaming.batch_p90_ms": stats.percentile(trigger, 90) if trigger else 0.0,
    })
    for name, key in STREAM_PHASES.items():
        m[f"streaming.{name}"] = _mean(
            sum(b["durations"].get(key, 0) for b in o.batches) for o in ops)
    m["host.cpu_util"] = (sum(sum_tasks(o, "cpu_ms") for o in ops) / (wall * slots)
                          if wall else 0.0)
    return m
