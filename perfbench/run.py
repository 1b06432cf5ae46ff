#!/usr/bin/env python3
"""Lakehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload <adhoc_read|dml_commits|keyed_lookups>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source when needed (perfbench/build.py), then runs the workload in a fresh
JVM launched with plain `java`. Prints one `metric <name> <value> <unit>`
line per figure of the workload's own report, and as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md).

Environment: PERFBENCH_DATA, the sf directory of input tables (default
~/testdata/sf0.1); SPARK_HOME (default: the install of `spark-submit` on
PATH). `--keep` keeps the run's work directory (result.json, spans.jsonl)
for perfbench/reduce.py.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import reduce  # noqa: E402

WORKLOADS = ("adhoc_read", "dml_commits", "keyed_lookups")
# the op kinds each workload's headline latency is taken over: a run
# holds few of them, in a fixed mix, so the headline is their mean
PRIMARY = {
    "adhoc_read": ("warm",),
    "dml_commits": ("append", "merge", "delete", "update"),
    "keyed_lookups": ("lookup",),
}
# the figures the final JSON line carries in an untraced run
END_TO_END = ("setup_s", "op_mean_ms", "ops_per_s", "heap_live_mb")
# a hung JVM is killed after this long
JVM_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def data_dir():
    return os.environ.get("PERFBENCH_DATA", str(Path.home() / "testdata" / "sf0.1"))


def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(values)
    if not s:
        return float("nan")
    x = (len(s) - 1) * q / 100.0
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def steal_s():
    """CPU time the hypervisor took from this VM so far (Linux), in s."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def launch(cp, workload, seed, seconds, trace, work):
    """Runs one workload JVM; returns its result.json as a dict, with
    the host's CPU steal during the run added as `steal_s`."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data_dir(),
            "--work", str(work), "--cpus", str(cpus())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    errlog = work.parent / f"{work.name}.log"
    steal0 = steal_s()
    with open(errlog, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"{workload} JVM exceeded {JVM_TIMEOUT_S}s")
    log(f"{workload} JVM exited {rc}")
    if rc != 0:
        tail = errlog.read_text()[-3000:]
        raise RuntimeError(f"{workload} JVM exited {rc}:\n{tail}")
    res = json.loads((work / "result.json").read_text())
    res["steal_s"] = steal_s() - steal0
    return res


def oracle_failures(check_dir):
    """Runs the DuckDB comparison of tools/selfcheck.py over the sampled
    entries' outputs; returns the names whose output disagrees."""
    sys.path.insert(0, str(ROOT / "tools"))
    import selfcheck
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = selfcheck.main(data_dir(), check_dir)
    lines = buf.getvalue().splitlines()
    for line in lines:
        log(f"oracle {line}")
    failed = {l.split()[1].rstrip(":") for l in lines if l.startswith("FAIL ")}
    if rc != 0 and not failed:
        failed.add("<selfcheck>")
    return failed


def summarize(res, oracle_bad):
    """End-to-end figures of one untraced run: (attempted, failed,
    problems, report) with report = {name: (value, unit)}."""
    w = res["workload"]
    ops = res["ops"]
    for o in ops:
        if o.get("entry") in oracle_bad:
            o["ok"] = False
            o["error"] = o.get("error") or "output disagrees with the oracle"
    good = [o for o in ops if o["ok"]]
    failed = len(ops) - len(good)

    def lat(*kinds):
        return [o["ms"] for o in good if o["kind"] in kinds]

    primary = lat(*PRIMARY[w])
    elapsed = res["window_s"]
    in_window = [o for o in good if o["kind"] != "cold"]
    r = {
        "setup_s": (res["setup_s"], "s"),
        "op_mean_ms": (sum(primary) / len(primary) if primary else float("nan"), "ms"),
        "ops_per_s": (len(in_window) / elapsed, "1/s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    if w == "adhoc_read":
        r["read_cold_p50_ms"] = (pct(lat("cold"), 50), "ms")
        r["read_warm_p50_ms"] = (pct(primary, 50), "ms")
        r["read_warm_p95_ms"] = (pct(primary, 95), "ms")
    else:
        kinds = ("append", "merge", "delete", "update") if w == "dml_commits" else ("upsert",)
        for k in kinds:
            r[f"{'merge' if k == 'upsert' else k}_p50_ms"] = (pct(lat(k), 50), "ms")
        if w == "dml_commits":
            r["commit_p95_ms"] = (pct(primary, 95), "ms")
            r["compact_p50_ms"] = (pct(lat("compact"), 50), "ms")
        else:
            r["lookup_p50_ms"] = (pct(primary, 50), "ms")
            r["lookup_p95_ms"] = (pct(primary, 95), "ms")
        r["write_amp"] = (res["bytes_added"] / max(1, res["user_bytes"]), "ratio")
        r["space_amp"] = (res["table_bytes"] / max(1, res["snapshot_bytes"]), "ratio")
    r["fail_ratio"] = (failed / max(1, len(ops)), "ratio")
    r["samples"] = (len(primary), "count")
    r["steal_s"] = (res.get("steal_s", 0.0), "s")
    problems = list(res["problems"]) + [
        f"{o['kind']} {o.get('entry') or ''}: {o['error']}" for o in ops if not o["ok"]][:20]
    return len(ops), failed, problems, r


def run_once(cp, a, trace):
    work = ROOT / ".bench_build" / "perfbench" / "runs" / f"{a.workload}-{a.seed}-{trace}-{os.getpid()}"
    try:
        res = launch(cp, a.workload, a.seed, a.seconds, trace, work)
        bad = oracle_failures(res["check_dir"]) if a.workload == "adhoc_read" else set()
        spans = (work / "spans.jsonl").read_text().splitlines() if trace else []
        return res, bad, spans
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
            (work.parent / f"{work.name}.log").unlink(missing_ok=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()
    try:
        cp = build.build(ROOT)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    if not Path(data_dir(), "orders.parquet").exists():
        log("input data not found (set PERFBENCH_DATA to an sf directory)")
        return 2

    res, bad, spans = run_once(cp, a, a.trace)
    attempted, failed, problems, report = summarize(res, bad)
    correct = failed == 0 and not res["problems"]
    for p in problems:
        log(f"problem: {p}")
    for k, (v, unit) in report.items():
        print(f"metric {res['workload']} {k} {v:.6g} {unit}")

    if a.trace:
        layers = reduce.per_layer(res, spans)
        traced = report["op_mean_ms"][0]
        base = [o["ms"] for o in res["baseline_ops"] if o["ok"] and o["kind"] in PRIMARY[a.workload]]
        untraced = sum(base) / len(base) if base else float("nan")
        layers["trace.overhead_pct"] = (100.0 * (traced / untraced - 1.0), "%")
        print(f"trace overhead: op_mean {traced:.1f} ms traced vs {untraced:.1f} ms "
              f"untraced in the same run ({layers['trace.overhead_pct'][0]:+.1f}%)")
        for k, (v, unit) in layers.items():
            print(f"layer {res['workload']} {k} {v:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": report[k][0], "unit": report[k][1]} for k in END_TO_END}
    for m in metrics.values():  # no samples (every op failed): null, not NaN
        if m["value"] != m["value"]:
            m["value"] = None
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a run that cannot finish prints no result line
        log(f"error: {e}")
        sys.exit(1)
