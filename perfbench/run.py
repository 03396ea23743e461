#!/usr/bin/env python3
"""Runs one benchmark workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: etl_pipelines, dedup_ann, table_lifecycle (see
workloads.py and NOTES.md). The program is built from source on first use
(build.py). Every step's output is checked: query results against pinned
digests (pins.json), table statements against a replay of the acknowledged
statements. A wrong or failed step makes the run exit non-zero.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The run's raw result,
its spans with self times and its stamp are kept under
<build dir>/runs/<workload>-s<seed>-t<trace>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

BENCH = Path(__file__).resolve().parent
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load1():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return None


def steal_s():
    """CPU time the host took from this machine's CPUs (/proc/stat)."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, run_dir, workload, trace, plan, extra=()):
    """Starts the harness JVM; returns (set-up seconds, result dict)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    plan_file = run_dir / "plan.tsv"
    plan_file.write_text("".join("\t".join(step) + "\n" for step in plan))
    out_file = run_dir / "result.json"
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
        "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
    ] + (["-Dspark.hadoop.fs.file.impl=perfbench.CountingFileSystem"] if trace else []) + [
        "-cp", classpath, "perfbench.Harness",
        "--workload", workload, "--plan", str(plan_file), "--data", str(BENCH / "data"),
        "--work", str(run_dir / "work"), "--out", str(out_file), "--cores", str(os.cpu_count()),
        "--trace", str(trace), "--rows", str(workloads.INITIAL_ROWS)] + list(extra)
    started = time.monotonic()
    ready = None
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH READY") and ready is None:
                    ready = time.monotonic()
            proc.wait(timeout=max(1.0, JVM_TIMEOUT_S - (time.monotonic() - started)))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or ready is None or not out_file.exists():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise SystemExit(f"harness JVM failed (exit {proc.returncode}); log tail:\n{tail}")
    return ready - started, json.loads(out_file.read_text())


def history_file(workload):
    """Untraced walls of this workload, kept per version of the program and
    the benchmark, for the tracing overhead of a later traced run.
    """
    h = hashlib.sha256((build.build_dir() / "classes" / "STAMP").read_bytes())
    h.update((BENCH / "workloads.py").read_bytes())
    return build.build_dir() / "history" / f"{workload}-{h.hexdigest()[:16]}.jsonl"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.workload_names())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=25,
                    help="nominal length of the timed window; the step list is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    plan = workloads.plan(a.workload, a.seed)
    run_dir = build.build_dir() / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    load_before, steal_before = load1(), steal_s()
    setup_s, result = run_jvm(classpath, run_dir, a.workload, a.trace, plan)
    steal_after = steal_s()
    shutil.rmtree(run_dir / "work", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "cores": result["cores"], "load1": [load_before, load1()],
        "steal_s": steal_after - steal_before if steal_before is not None else None,
        "java": result["java_version"], "spark": result["spark_version"], "commit": commit(),
        "source_sha256": (build.build_dir() / "classes" / "STAMP").read_text(),
    }

    steps = result["steps"]
    problems = []
    if a.workload in workloads.QUERY_WORKLOADS:
        pins = json.loads((BENCH / "pins.json").read_text())
        metrics.check_queries(steps, pins["digests"])
    else:
        err = metrics.check_table(steps, plan, result["table"])
        if err:
            problems.append(err)
    failed = [s for s in steps if not s["ok"]]
    problems += [f"step {s['name']}: {s.get('error')}" for s in failed]

    e2e = metrics.end_to_end(result, setup_s)
    report = dict(e2e)
    report["step_p50_ms"] = (metrics.median([s["end"] - s["start"] for s in steps]), "ms")
    report["failed_frac"] = (len(failed) / len(steps), "ratio")
    if a.workload == "table_lifecycle":
        report.update(metrics.table_metrics(result))
    if a.trace:
        hist = history_file(a.workload)
        walls = [json.loads(line)["wall_s"] for line in hist.read_text().splitlines()] \
            if hist.exists() else []
        spans = metrics.span_tree(result)
        layers = metrics.per_layer(result, e2e, spans, walls)
        (run_dir / "spans.json").write_text(json.dumps(spans, indent=0))
        report.update(layers)
        shown = layers
    else:
        hist = history_file(a.workload)
        hist.parent.mkdir(parents=True, exist_ok=True)
        with hist.open("a") as f:
            f.write(json.dumps({"seed": a.seed, "wall_s": e2e["wall_s"][0]}) + "\n")
        shown = e2e
    (run_dir / "stamp.json").write_text(json.dumps(stamp, indent=1))
    (run_dir / "result.json").write_text(json.dumps(result))

    print("stamp " + json.dumps(stamp))
    for name, (value, unit) in report.items():
        print(f"{name:44s} {value:14.4f} {unit}")
    for p in problems:
        print(f"WRONG: {p}")
    correct = not problems
    print(json.dumps({
        "correct": correct, "attempted": len(steps), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    sys.exit(0 if correct else 2)


if __name__ == "__main__":
    main()
