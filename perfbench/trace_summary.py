#!/usr/bin/env python3
"""Per-layer summary of a traced benchmark run.

    python3 perfbench/trace_summary.py TRACE.jsonl --workload W

TRACE.jsonl is the span file of a traced run (run.py --trace 1 --keep
prints where it is). It holds:

- spans (name, start, end, parent span, step id);
- Spark jobs, with their interval and the graft class that submitted
  them;
- one record per step, with the step's Spark counters;
- untraced steps, with their latency only.

Prints one table row per per-layer metric. Each row shows the value, the
base of any ratio, and the end-to-end metric and workload the layer
should move. Per-step metrics are medians over the run's traced update
steps. Registration metrics are medians over the registrations, and
set-up metrics are medians over the set-ups. A layer's self time is its
span time minus the part of it that its child spans cover.
"""

import argparse
import json
import statistics
from collections import defaultdict

# Job-origin classes reported by name. Every other class is counted
# under "other".
CLASSES = [
    "IncrementalQuery", "IncrementalQuery.RecursionNode",
    "IncrementalQuery.ClosureNode", "IncrementalClosure", "RddKernel",
    "StateCell", "Engine", "Compiler", "FileSources", "Ckpt.DatasetCkpt",
    "BiMaintained.Standing", "other",
]

# (metric, unit, ratio base, layer, should move, on, should not move on)
LAYERS = [
    ("server.self_ms", "ms", "", "graft.server", "update_p50_ms", "small-deltas", "absent elsewhere"),
    ("server.msgs_out", "count", "", "graft.server", "update_p50_ms", "small-deltas", "absent elsewhere"),
    ("server.bytes_out", "bytes", "", "graft.server", "update_p50_ms", "small-deltas", "absent elsewhere"),
    ("server.bytes_in", "bytes", "", "graft.server", "update_p50_ms", "small-deltas", "absent elsewhere"),
    ("engine.transact_ms", "ms", "", "graft.engine", "update_p50_ms", "small-deltas, recursion", "bulk-late-query"),
    ("engine.advance_ms", "ms", "", "graft.engine", "update_p50_ms", "small-deltas, recursion", "bulk-late-query"),
    ("engine.drain_ms", "ms", "", "graft.engine", "update_p50_ms", "small-deltas, recursion", "bulk-late-query"),
    ("engine.interest_ms", "ms", "", "graft.engine", "first_result_s", "small-deltas, recursion", "bulk-late-query"),
    ("engine.driver_ms", "ms", "engine.advance_ms", "graft.engine", "update_p50_ms", "small-deltas, recursion", "bulk-late-query"),
    ("sources.register_ms", "ms", "", "graft.sources", "setup_s", "bulk-late-query", "the other three"),
    ("catalyst.plan_ms", "ms", "", "Catalyst", "update_p50_ms", "small-deltas, bitemporal", "bulk-late-query"),
    ("catalyst.executions", "count", "", "Catalyst", "update_p50_ms", "small-deltas, bitemporal", "bulk-late-query"),
    ("spark.jobs", "count", "", "Spark scheduling", "update_p50_ms, update_tail_ms", "small-deltas, recursion, bitemporal", "first_result_s on bulk-late-query"),
    ("spark.stages", "count", "", "Spark scheduling", "update_p50_ms, update_tail_ms", "small-deltas, recursion, bitemporal", "first_result_s on bulk-late-query"),
    ("spark.tasks", "count", "", "Spark scheduling", "update_p50_ms, update_tail_ms", "small-deltas, recursion, bitemporal", "first_result_s on bulk-late-query"),
    ("spark.job_busy_ms", "ms", "", "Spark scheduling", "update_p50_ms, update_tail_ms", "small-deltas, recursion, bitemporal", "first_result_s on bulk-late-query"),
    ("spark.task_overhead_ms", "ms", "", "Spark scheduling", "update_p50_ms, update_tail_ms", "small-deltas, recursion, bitemporal", "first_result_s on bulk-late-query"),
    ("spark.empty_task_frac", "ratio", "spark.tasks", "Spark scheduling", "update_p50_ms, update_tail_ms", "small-deltas, recursion, bitemporal", "first_result_s on bulk-late-query"),
] + [
    (f"spark.{what}.by_class.{c}", unit, "", "job origin", "update_p50_ms", "recursion", "bulk-late-query")
    for c in CLASSES for what, unit in (("jobs", "count"), ("busy_ms", "ms"))
] + [
    ("exec.run_ms", "ms", "", "executors", "first_result_s, update_p50_ms", "bulk-late-query", "small-deltas"),
    ("exec.cpu_ms", "ms", "exec.run_ms", "executors", "first_result_s, update_p50_ms", "bulk-late-query", "small-deltas"),
    ("exec.gc_ms", "ms", "exec.run_ms", "executors", "first_result_s, update_p50_ms", "bulk-late-query", "small-deltas"),
    ("exec.run_ms.register", "ms", "", "executors", "first_result_s", "bulk-late-query", "small-deltas"),
    ("shuffle.read_bytes", "bytes", "", "executors", "first_result_s, update_p50_ms", "bulk-late-query", "small-deltas"),
    ("shuffle.write_bytes", "bytes", "", "executors", "first_result_s, update_p50_ms", "bulk-late-query", "small-deltas"),
    ("shuffle.records", "count", "", "executors", "first_result_s, update_p50_ms", "bulk-late-query", "small-deltas"),
    ("state.block_mb", "MB", "", "graft.streaming state", "driver_heap_mb, update_tail_ms", "all (plateau)", "-"),
    ("state.block_mb.growth", "MB", "", "graft.streaming state", "driver_heap_mb, update_tail_ms", "all (plateau)", "-"),
    ("state.rdds", "count", "", "graft.streaming state", "driver_heap_mb, update_tail_ms", "all (plateau)", "-"),
    ("state.rdds.growth", "count", "", "graft.streaming state", "driver_heap_mb, update_tail_ms", "all (plateau)", "-"),
    ("diff.rows", "count", "", "graft.streaming state", "driver_heap_mb, update_tail_ms", "all (plateau)", "-"),
    ("bi.transact_ms", "ms", "", "graft.streaming.BiMaintained", "update_p50_ms, driver_heap_mb", "bitemporal", "absent elsewhere"),
    ("bi.advance_ms", "ms", "", "graft.streaming.BiMaintained", "update_p50_ms, driver_heap_mb", "bitemporal", "absent elsewhere"),
    ("bi.ledger_entries", "count", "", "graft.streaming.BiMaintained", "update_p50_ms, driver_heap_mb", "bitemporal", "absent elsewhere"),
    ("bi.pending_times", "count", "", "graft.streaming.BiMaintained", "update_p50_ms, driver_heap_mb", "bitemporal", "absent elsewhere"),
    ("bi.result_rows", "count", "", "graft.streaming.BiMaintained", "update_p50_ms, driver_heap_mb", "bitemporal", "absent elsewhere"),
    ("host.calib_cpu_ms", "ms", "", "host", "none", "all", "-"),
    ("host.load", "load", "", "host", "none", "all", "-"),
    ("host.other_jvms", "count", "", "host", "none", "all", "-"),
    ("trace.overhead_frac", "ratio", "trace.untraced_p50_ms", "tracing", "none", "all", "-"),
    ("trace.untraced_p50_ms", "ms", "", "tracing", "none", "all", "-"),
    ("trace.traced_steps", "count", "", "tracing", "none", "all", "-"),
]
UNITS = {m: u for m, u, *_ in LAYERS}


def union_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def covered_ms(interval, intervals):
    """Part of `interval` that the union of `intervals` covers."""
    s0, e0 = interval
    return union_ms([(max(s, s0), min(e, e0)) for s, e in intervals if e > s0 and s < e0])


def load(path):
    spans, jobs, steps, untraced, notes = defaultdict(list), defaultdict(list), {}, [], {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            kind = r["kind"]
            if kind == "span":
                spans[r["step"]].append(r)
            elif kind == "job":
                jobs[r["step"]].append(r)
            elif kind == "step" and r["traced"]:
                steps[r["step"]] = r
            elif kind == "step":
                untraced.append(r)
            elif kind == "note":
                notes[r["key"]] = r["value"]
    return spans, jobs, steps, untraced, notes


def step_metrics(rec, spans, jobs):
    """Per-layer numbers of one traced step."""
    ms = lambda sp: (sp["end_us"] - sp["start_us"]) / 1e3
    by_id = {sp["id"]: sp for sp in spans}
    job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    span_iv = lambda sp: (sp["start_us"] / 1e3, sp["end_us"] / 1e3)
    named = lambda name: [sp for sp in spans if sp["name"] == name]
    root = next((sp for sp in spans if sp["parent"] == 0), None)
    m = {}
    if "server_msgs_out" in rec and root is not None:
        top = [span_iv(sp) for sp in spans if sp["parent"] == root["id"]
               and sp["name"].startswith("engine.")]
        m["server.self_ms"] = ms(root) - covered_ms(span_iv(root), top)
        m["server.msgs_out"] = rec["server_msgs_out"]
        m["server.bytes_out"] = rec["server_bytes_out"]
        m["server.bytes_in"] = rec["server_bytes_in"]
    for name in ("engine.transact", "engine.advance", "engine.drain",
                 "bi.transact", "bi.advance", "sources.register"):
        m[name + "_ms"] = sum(ms(sp) for sp in named(name))
    m["engine.interest_ms"] = sum(
        ms(sp) for sp in named("engine.interest")
        if by_id.get(sp["parent"], {}).get("name") != "engine.interest")
    m["engine.driver_ms"] = sum(ms(sp) - covered_ms(span_iv(sp), job_iv)
                                for sp in named("engine.advance"))
    m["catalyst.plan_ms"] = rec["plan_ms"]
    m["catalyst.executions"] = rec["executions"]
    m["spark.jobs"] = rec["jobs"]
    m["spark.stages"] = rec["stages"]
    m["spark.tasks"] = rec["tasks"]
    m["spark.job_busy_ms"] = union_ms(job_iv)
    m["spark.task_overhead_ms"] = rec["task_overhead_ms"]
    m["spark.empty_task_frac"] = rec["empty_tasks"] / rec["tasks"] if rec["tasks"] else 0.0
    for c in CLASSES:
        mine = [j for j in jobs if (j["class"] if j["class"] in CLASSES else "other") == c]
        m[f"spark.jobs.by_class.{c}"] = len(mine)
        m[f"spark.busy_ms.by_class.{c}"] = union_ms([(j["start_ms"], j["end_ms"]) for j in mine])
    m["exec.run_ms"] = rec["run_ms"]
    m["exec.cpu_ms"] = rec["cpu_ms"]
    m["exec.gc_ms"] = rec["gc_ms"]
    m["shuffle.read_bytes"] = rec["shuffle_read_bytes"]
    m["shuffle.write_bytes"] = rec["shuffle_write_bytes"]
    m["shuffle.records"] = rec["shuffle_records"]
    m["state.block_mb"] = rec["state_mb"]
    m["state.rdds"] = rec["state_rdds"]
    m["diff.rows"] = rec.get("diff_rows", 0)
    for k in ("ledger_entries", "pending_times", "result_rows"):
        if f"bi_{k}" in rec:
            m[f"bi.{k}"] = rec[f"bi_{k}"]
    return m


def median_of(rows, key):
    xs = [r[key] for r in rows if key in r]
    return statistics.median(xs) if xs else 0.0


def summarize(path, workload):
    spans, jobs, steps, untraced, notes = load(path)
    per = {sid: step_metrics(rec, spans[sid], jobs[sid]) for sid, rec in steps.items()}
    kind = lambda k: [sid for sid in sorted(per) if steps[sid]["type"] == k]
    updates, registers, setups = kind("update"), kind("register"), kind("setup")
    upd = [per[s] for s in updates]
    out = {m: median_of(upd, m) for m in UNITS}
    out["engine.interest_ms"] = median_of([per[s] for s in registers], "engine.interest_ms")
    out["exec.run_ms.register"] = median_of([per[s] for s in registers], "exec.run_ms")
    out["sources.register_ms"] = median_of([per[s] for s in setups], "sources.register_ms")
    if upd:
        out["state.block_mb.growth"] = upd[-1]["state.block_mb"] - upd[0]["state.block_mb"]
        out["state.rdds.growth"] = upd[-1]["state.rdds"] - upd[0]["state.rdds"]
    traced_ms = [steps[s]["ms"] for s in updates]
    plain_ms = [r["ms"] for r in untraced if r["type"] == "update"]
    if traced_ms and plain_ms:
        base = statistics.median(plain_ms)
        out["trace.untraced_p50_ms"] = base
        out["trace.overhead_frac"] = (statistics.median(traced_ms) - base) / base
    out["trace.traced_steps"] = len(updates)
    out["host.calib_cpu_ms"] = max(notes.get("calib_start_ms", 0.0), notes.get("calib_end_ms", 0.0))
    counts = {s: {k: steps[s][k] for k in ("jobs", "stages", "tasks")} for s in sorted(steps)}
    return {"workload": workload, "metrics": out, "per_step": per,
            "latency_ms": {s: steps[s]["ms"] for s in steps}, "types": {s: steps[s]["type"] for s in steps},
            "counts": counts}


def per_layer_metrics(summary, host):
    """The per-layer metrics of BENCHMARK.json, as name -> (value, unit)."""
    m = dict(summary["metrics"])
    m["host.load"] = max(host["load1_start"], host["load1_end"])
    m["host.other_jvms"] = host["other_jvms"]
    return {k: (m.get(k, 0.0), UNITS[k]) for k in UNITS}


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def render(summary, workload):
    m = summary["metrics"]
    lines = [f"per-layer summary of {workload} "
             f"({m.get('trace.traced_steps', 0)} traced update steps; medians per step)",
             f"{'metric':44} {'value':>11} {'base':>22} {'layer':28} should move / on / not on"]
    for name, unit, base, layer, moves, on, not_on in LAYERS:
        b = f"{base}={fmt(m.get(base, 0.0))}" if base else ""
        lines.append(f"{name:44} {fmt(m.get(name, 0.0)):>11} {b:>22} {layer:28} "
                     f"{moves} / {on} / {not_on}")
    lines.append("per step: id type latency_ms jobs stages tasks engine.advance_ms "
                 "engine.driver_ms spark.job_busy_ms server.self_ms")
    for s, p in summary["per_step"].items():
        lines.append(f"  {s} {summary['types'][s]} {fmt(summary['latency_ms'][s])} "
                     f"{p['spark.jobs']} {p['spark.stages']} {p['spark.tasks']} "
                     f"{fmt(p['engine.advance_ms'])} {fmt(p['engine.driver_ms'])} "
                     f"{fmt(p['spark.job_busy_ms'])} {fmt(p.get('server.self_ms', 0.0))}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("trace")
    ap.add_argument("--workload", default="?")
    a = ap.parse_args()
    print(render(summarize(a.trace, a.workload), a.workload))


if __name__ == "__main__":
    main()
