#!/usr/bin/env python3
"""Trace reducer: turns a traced run's span file into per-layer figures,
each normalised per operation of the timed loop.

Spans: one `op` line per benchmark operation (with its benchmark-side
child phases: resolve / construct / execute), Spark `job_start`/`job_end`
and `stage` lines from the SparkListener, and `qe` lines holding each
action's analysis / optimization / planning phases from the
QueryExecutionListener. A job belongs to an op when it carries the op's
job group and starts inside the op; other jobs during the run are
background work. Self times subtract the union of child intervals.

Usage: python3 perfbench/reduce.py <work dir>   (holding result.json and
spans.jsonl from a run with --keep)
"""
import json
import sys
from pathlib import Path

SLACK_MS = 1.0  # Spark's listener timestamps have millisecond resolution


def union_ms(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def per_layer(result, span_lines):
    ops, jobs, stages, qes = [], {}, {}, []
    for line in span_lines:
        ev = json.loads(line)
        t = ev["t"]
        if t == "op":
            ops.append(ev)
        elif t == "job_start":
            jobs[ev["job"]] = dict(ev, end=None)
        elif t == "job_end" and ev["job"] in jobs:
            jobs[ev["job"]]["end"] = ev["ms"]
        elif t == "stage":
            stages[ev["stage"]] = ev  # the last attempt wins
        elif t == "qe":
            qes.append(ev)
    n = max(1, len(ops))
    by_group = {f"perfbench-op-{o['id']}": o for o in ops}
    run_lo = min((o["start_ms"] for o in ops), default=0.0)
    run_hi = max((o["end_ms"] for o in ops), default=0.0) + result.get("drain_ms", 0.0)

    op_jobs = {o["id"]: [] for o in ops}
    background = []
    for j in jobs.values():
        end = j["end"] if j["end"] is not None else run_hi
        o = by_group.get(j["group"])
        if o and o["start_ms"] - SLACK_MS <= j["ms"] <= o["end_ms"] + SLACK_MS:
            op_jobs[o["id"]].append(dict(j, end=end))
        elif clip((j["ms"], end), run_lo, run_hi):
            background.append(clip((j["ms"], end), run_lo, run_hi))

    # planning phases land in the op whose interval holds their midpoint
    phase_names = ("analysis", "optimization", "planning")
    op_phases = {o["id"]: [] for o in ops}
    executions = 0
    for q in qes:
        ph = {k: v for k, v in q["phases"].items() if k in phase_names}
        if not ph:
            continue
        mid = (min(v[0] for v in ph.values()) + max(v[1] for v in ph.values())) / 2
        o = next((o for o in ops if o["start_ms"] - SLACK_MS <= mid <= o["end_ms"] + SLACK_MS), None)
        if o:
            executions += 1
            op_phases[o["id"]].append(ph)

    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "job_wall", "task_ms", "shuffle",
                            "scan_bytes", "scan_rows", "self", "resolve", "lookup_scan_rows")}
    cat = {k: 0.0 for k in phase_names}
    for o in ops:
        lo, hi = o["start_ms"], o["end_ms"]
        walls = [c for c in (clip((j["ms"], j["end"]), lo, hi) for j in op_jobs[o["id"]]) if c]
        plan = []
        for ph in op_phases[o["id"]]:
            for k, (s, e) in ph.items():
                cat[k] += e - s
                c = clip((s, e), lo, hi)
                if c:
                    plan.append(c)
        tot["job_wall"] += union_ms(walls)
        tot["self"] += (hi - lo) - union_ms(walls + plan)
        tot["resolve"] += sum(e - s for name, s, e in o["phases"] if name == "resolve")
        for j in op_jobs[o["id"]]:
            tot["jobs"] += 1
            for sid in j["stages"]:
                st = stages.get(sid)
                if not st:
                    continue
                tot["stages"] += 1
                tot["tasks"] += st["tasks"]
                tot["task_ms"] += st.get("task_ms", 0)
                tot["shuffle"] += st.get("shuffle_bytes", 0)
                tot["scan_bytes"] += st.get("scan_bytes", 0)
                tot["scan_rows"] += st.get("scan_rows", 0)
                if o["kind"] == "lookup":
                    tot["lookup_scan_rows"] += st.get("scan_rows", 0)

    def extra(key):
        return sum(o["extra"].get(key, 0.0) for o in ops)

    lookups = [o for o in ops if "files_total" in o["extra"]]
    nl = max(1, len(lookups))
    files_total = extra("files_total")
    live = result.get("live_files", 0)
    return {
        "catalyst.analysis_ms": (cat["analysis"] / n, "ms"),
        "catalyst.optimization_ms": (cat["optimization"] / n, "ms"),
        "catalyst.planning_ms": (cat["planning"] / n, "ms"),
        "catalyst.executions": (executions / n, "count"),
        "codegen.compiles": (extra("codegen_compiles") / n, "count"),
        "codegen.compile_ms": (extra("codegen_ns") / 1e6 / n, "ms"),
        "spark.jobs": (tot["jobs"] / n, "count"),
        "spark.stages": (tot["stages"] / n, "count"),
        "spark.tasks": (tot["tasks"] / n, "count"),
        "spark.job_wall_ms": (tot["job_wall"] / n, "ms"),
        "spark.task_ms": (tot["task_ms"] / n, "ms"),
        "spark.shuffle_bytes": (tot["shuffle"] / n, "bytes"),
        "spark.scan_bytes": (tot["scan_bytes"] / n, "bytes"),
        "spark.scan_rows": (tot["scan_rows"] / n, "count"),
        "driver.self_ms": (tot["self"] / n, "ms"),
        "log.resolve_ms": (tot["resolve"] / n, "ms"),
        "log.bytes": (result.get("log_bytes_added", 0) / n, "bytes"),
        "log.checkpoints": (result.get("checkpoints_added", 0) / n, "count"),
        "log.background_ms": (union_ms(background) / n, "ms"),
        "log.drain_ms": (result.get("drain_ms", 0.0) / n, "ms"),
        "write.files_added": (extra("files_added") / n, "count"),
        "write.files_removed": (extra("files_removed") / n, "count"),
        "write.bytes_rewritten": (extra("bytes_rewritten") / n, "bytes"),
        "write.dv_ratio": (result.get("dv_files", 0) / live if live else 0.0, "ratio"),
        "write.bloom_bytes": (extra("bloom_bytes") / n, "bytes"),
        "write.compact_ms": (sum(o["ms"] for o in ops if o["kind"] == "compact") / n, "ms"),
        "skip.files_total": (files_total / nl, "count"),
        "skip.files_scanned": (extra("files_scanned") / nl, "count"),
        "skip.scan_fraction": (extra("files_scanned") / files_total if files_total else 0.0, "ratio"),
        "skip.rows_scanned_per_row_returned": (
            tot["lookup_scan_rows"] / max(1.0, extra("rows_returned")), "ratio"),
        "jvm.gc_ms": (extra("gc_ms") / n, "ms"),
    }


if __name__ == "__main__":
    d = Path(sys.argv[1])
    res = json.loads((d / "result.json").read_text())
    out = per_layer(res, (d / "spans.jsonl").read_text().splitlines())
    for k, (v, unit) in out.items():
        print(f"{k} {v:.6g} {unit}")
