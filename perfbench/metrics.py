"""Metric arithmetic of the benchmark: percentiles, span self times, the
output checks and the metrics of one run. Pure functions of the harness's
result file, so they can be tested without a JVM (test_metrics.py).
"""
import re
import statistics

from workloads import DEDUP_ANN, ETL_PIPELINES, INITIAL_ROWS, INSERT_ROWS, WRITES

TABLE_VERBS = ["merge", "update", "delete", "insert", "compact",
               "point_read", "range_read", "scan", "asof_read"]
READ_VERBS = {"point_read", "range_read", "scan", "asof_read"}
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, sample count); the value is the sample
    with exactly TAIL_BEYOND samples above it. None with too few samples.
    """
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND
    return sorted(xs)[k - 1], 100.0 * k / n, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Each span's self time: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start and end.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: s["end"] - s["start"] - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def span_tree(result):
    """Harness spans plus the traced run's jobs and stages as spans.

    Job ids and stage ids are offset so every span id is unique.
    """
    spans = [dict(s) for s in result["spans"]]
    job_base = 1 + max([s["id"] for s in spans] or [0])
    jobs = {j["id"]: job_base + j["id"] for j in result["jobs"]}
    spans += [{"id": jobs[j["id"]], "parent": j["parent"], "kind": "job", "name": f"job {j['id']}",
               "start": j["start"], "end": j["end"]} for j in result["jobs"]]
    stage_base = 1 + max([s["id"] for s in spans] or [0])
    spans += [{"id": stage_base + i, "parent": jobs.get(st["job"], 0), "kind": "stage",
               "name": f"stage {st['id']}.{st['attempt']}", "start": st["start"],
               "end": st["end"]}
              for i, st in enumerate(result["stages"]) if st["end"] >= st["start"] > 0]
    selfs = self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    return spans


# ---------------------------------------------------------------- checks

def check_queries(steps, pins):
    """Marks each query step wrong when its digest differs from the pin."""
    for s in steps:
        if s["ok"] and s["kind"] == "query":
            want = pins.get(s["name"])
            if want != s.get("digest"):
                s["ok"] = False
                s["error"] = f"digest {s.get('digest')} != pinned {want}"


class TableModel:
    """Independent replay of the acknowledged lifecycle statements."""

    def __init__(self, rows=INITIAL_ROWS):
        self.rows = {i: (i * 3, f"s{i}") for i in range(rows)}
        self.versions = {}

    def snapshot(self, gen):
        self.versions[gen] = dict(self.rows)

    def apply(self, verb, sql):
        """Applies one statement; returns the result rows it must give."""
        if verb == "insert":
            lo, hi = map(int, re.search(r"range\((\d+), (\d+)\)", sql).groups())
            for i in range(lo, hi):
                self.rows[i] = (i * 3, f"s{i}")
            return []
        if verb == "merge":
            src = re.findall(r"\((\d+)L, (\d+)L, '([^']*)', \d+\)", sql)
            upd = ins = 0
            for k, v, s in src:
                k = int(k)
                if k in self.rows:
                    upd += 1
                else:
                    ins += 1
                self.rows[k] = (int(v), s)
            return [[upd, ins]]
        if verb == "scan":
            vals = [v for v, _ in self.rows.values()]
            return [[len(vals), sum(vals) if vals else None, max(self.rows) if vals else None]]
        keys = self.keys(sql)
        if verb == "update":
            d = int(re.search(r"SET v = v \+ (\d+)L", sql).group(1))
            for k in keys:
                v, s = self.rows[k]
                self.rows[k] = (v + d, s)
            return [[len(keys)]]
        if verb == "delete":
            for k in keys:
                del self.rows[k]
            return [[len(keys)]]
        if verb == "point_read":
            return [[k, self.rows[k][0], self.rows[k][1]] for k in keys]
        if verb == "range_read":
            return [[len(keys), sum(self.rows[k][0] for k in keys) if keys else None]]
        raise ValueError(f"unknown verb {verb}")

    def keys(self, sql):
        m = re.search(r"WHERE id = (\d+)", sql)
        if m:
            k = int(m.group(1))
            return [k] if k in self.rows else []
        lo, hi = map(int, re.search(r"WHERE id (?:>= |BETWEEN )(\d+)(?: AND id <= | AND )(\d+)",
                                    sql).groups())
        return sorted(k for k in self.rows if lo <= k <= hi)

    def at(self, gen):
        rows = self.versions[gen]
        vals = [v for v, _ in rows.values()]
        return [[len(vals), sum(vals) if vals else None]]


def check_table(steps, plan, table):
    """Replays the acknowledged statements and marks each step whose
    result differs from the replay wrong. Returns the final-table error,
    or None when the table matches.
    """
    model = TableModel()
    model.snapshot(table["initial_gen"])
    for s, (_, verb, arg) in zip(steps, plan):
        if not s["ok"]:
            continue
        if verb == "compact":
            model.snapshot(s["gen"])
            continue
        want = model.at(s["at"]) if verb == "asof_read" else model.apply(verb, arg)
        if verb in WRITES:
            model.snapshot(s["gen"])
        if verb != "insert" and s["result"] != want:
            s["ok"] = False
            s["error"] = f"result {s['result']} != replay {want}"
    final = [[k, v, t] for k, (v, t) in sorted(model.rows.items())]
    if table["final_rows"] != final:
        return (f"final table differs from the replay: {len(table['final_rows'])} rows "
                f"vs {len(final)}")
    return None


# --------------------------------------------------------------- metrics

def delta(result, key):
    return result["after"][key] - result["before"][key]


def end_to_end(result, setup_s):
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": ((result["window"]["end"] - result["window"]["start"]) / 1000.0, "s"),
        "cpu_s": (delta(result, "cpu_s"), "s"),
        "rss_peak_mb": (result["rss_peak_mb"], "MB"),
    }


def step_input_records(result, spans):
    """Records scanned by the jobs of each step, by step name."""
    by_id = {s["id"]: s for s in spans}

    def step_of(span_id):
        while span_id in by_id and by_id[span_id]["kind"] != "step":
            span_id = by_id[span_id]["parent"]
        return by_id[span_id]["name"] if span_id in by_id else None

    job_step = {j["id"]: step_of(j["parent"]) for j in result["jobs"]}
    out = {}
    for st in result["stages"]:
        name = job_step.get(st["job"])
        out[name] = out.get(name, 0) + st["input_records"]
    return out


def table_metrics(result, spans=()):
    """Latency and footprint of the lifecycle table (zeros elsewhere)."""
    steps = [s for s in result["steps"] if s["ok"]]
    out = {}
    for kind, verbs in (("commit", WRITES), ("read", READ_VERBS)):
        lat = [s["end"] - s["start"] for s in steps if s["verb"] in verbs]
        t = tail(lat)
        out[f"table.{kind}_p50_ms"] = (median(lat), "ms")
        out[f"table.{kind}_tail_ms"] = (t[0] if t else 0.0, "ms")
        out[f"table.{kind}_tail_pct"] = (t[1] if t else 0.0, "%")
        out[f"table.{kind}_samples"] = (len(lat), "count")
    for verb in TABLE_VERBS:
        lat = [s["end"] - s["start"] for s in steps if s["verb"] == verb]
        out[f"table.{verb}_ms"] = (median(lat), "ms")
    t = result.get("table")
    vals = table_layout(result, t, steps, spans) if t else {}
    for k, u in LAYOUT_UNITS.items():
        out[f"table.{k}"] = (vals.get(k, 0.0), u)
    return out


LAYOUT_UNITS = {
    "space_amp": "ratio", "write_amp": "ratio", "files_live": "count",
    "files_read_per_point_read": "count", "rows_examined_per_row_returned": "ratio",
    "manifest_kb": "KB", "fs_read_ops": "count", "fs_write_ops": "count", "fs_list_ops": "count",
    "fs_read_mb": "MB", "fs_write_mb": "MB", "d2_failed": "count",
}


def table_layout(result, t, steps, spans):
    """Footprint and file-system work of the lifecycle table."""
    mb = 1024.0 * 1024.0
    live = len(t["final_rows"])
    compact = t.get("compact_bytes", 0)
    written_rows = 0
    for s in steps:
        if s["verb"] in ("update", "delete"):
            written_rows += s["result"][0][0]
        elif s["verb"] == "merge":
            written_rows += sum(s["result"][0])
        elif s["verb"] == "insert":
            written_rows += INSERT_ROWS
    point = [s for s in steps if s["verb"] == "point_read"]
    reads = [s for s in steps if s["verb"] in READ_VERBS]
    returned = sum(returned_rows(s) for s in reads)
    examined = step_input_records(result, spans)
    return {
        "space_amp": t["table_bytes"] / compact if compact else 0.0,
        "write_amp": (delta(result, "fs_write_b") / (written_rows * compact / live)
                      if written_rows and live and compact else 0.0),
        "files_live": t["files_live"],
        "files_read_per_point_read": (sum(s["data_opens"] for s in point) / len(point)
                                      if point else 0.0),
        "rows_examined_per_row_returned": (sum(examined.get(s["name"], 0) for s in reads)
                                           / returned if returned else 0.0),
        "manifest_kb": t["manifest_bytes"] / 1024.0,
        "fs_read_ops": delta(result, "fs_read_ops"),
        "fs_write_ops": delta(result, "fs_write_ops"),
        "fs_list_ops": delta(result, "fs_list_ops"),
        "fs_read_mb": delta(result, "fs_read_b") / mb,
        "fs_write_mb": delta(result, "fs_write_b") / mb,
        "d2_failed": sum(1 for p in t.get("d2_probe", []) if p["failed"]),
    }


def returned_rows(step):
    """Rows a read returned; an aggregate read returns the rows it counted."""
    if step["verb"] == "point_read":
        return len(step["result"])
    return step["result"][0][0] if step["result"] else 0


def per_layer(result, e2e, spans, untraced_walls):
    """The traced run's per-layer metrics."""
    steps = result["steps"]
    setup = result["setup"]
    wall_ms = e2e["wall_s"][0] * 1000.0
    build_ids = {s["id"] for s in spans if s["kind"] == "build"}
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = result["stages"]
    mb = 1024.0 * 1024.0

    def phase_sum(name):
        return (sum(s.get("phases", {}).get(name, 0.0) for s in steps)
                + result.get("action_phases", {}).get(name, 0.0))

    def span_sum(kind):
        return sum(s["end"] - s["start"] for s in spans if s["kind"] == kind)

    def stage_sum(key):
        return sum(st[key] for st in stages)

    classes = delta(result, "codegen_classes")
    src_count = result["after"]["codegen_source_count"]
    src_kb = delta(result, "codegen_source_sum") / 1024.0
    if src_count > 1028:  # the metric's reservoir keeps 1028 samples; scale its mean
        src_kb = result["after"]["codegen_source_sum"] / 1028.0 * classes / 1024.0
    run_ms = stage_sum("run_ms")
    out = {
        "core.session_s": (setup["session_s"], "s"),
        "core.warmup_s": (setup["warmup_s"], "s"),
        "queries.build_s": (span_sum("build") / 1000.0, "s"),
        "queries.build_jobs": (sum(1 for j in jobs if j["parent"] in build_ids), "count"),
        "plans.analysis_ms": (phase_sum("analysis"), "ms"),
        "plans.optimization_ms": (phase_sum("optimization"), "ms"),
        "plans.planning_ms": (phase_sum("planning"), "ms"),
        "codegen.compile_ms": (delta(result, "codegen_compile_ms"), "ms"),
        "codegen.classes": (classes, "count"),
        "codegen.source_kb": (src_kb, "KB"),
        "jvm.jit_ms": (delta(result, "jit_ms"), "ms"),
        "jvm.gc_ms": (delta(result, "gc_ms"), "ms"),
        "sched.jobs": (len(jobs), "count"),
        "sched.stages": (len(stages), "count"),
        "sched.tasks": (stage_sum("tasks"), "count"),
        "sched.task_floor_ms": (stage_sum("duration_ms") - run_ms - stage_sum("deser_ms")
                                - stage_sum("result_ser_ms"), "ms"),
        "sched.delay_ms": (sum(max(0.0, st["first_launch"] - st["start"]) for st in stages), "ms"),
        "exec.run_ms": (run_ms, "ms"),
        "exec.cpu_ms": (stage_sum("cpu_ms"), "ms"),
        "exec.busy_frac": (run_ms / (wall_ms * result["cores"]) if wall_ms else 0.0, "ratio"),
        "exec.shuffle_write_mb": (stage_sum("shuffle_write_b") / mb, "MB"),
        "exec.shuffle_read_mb": (stage_sum("shuffle_read_b") / mb, "MB"),
        "exec.spill_mb": (stage_sum("spill_b") / mb, "MB"),
        "exec.input_mb": (stage_sum("input_b") / mb, "MB"),
    }
    walls = {s["name"]: (s["end"] - s["start"]) / 1000.0 for s in steps if s["kind"] == "query"}
    for q in ETL_PIPELINES + DEDUP_ANN:
        out[f"query.{q[2:]}.s"] = (walls.get(q, 0.0), "s")
    # A run has too few statements of each kind for a tail; run.py
    # prints the tails with their sample counts instead.
    out.update((k, v) for k, v in table_metrics(result, spans).items() if "_tail" not in k)
    step_ms = span_sum("step")
    phases_ms = span_sum("build") + span_sum("plan") + span_sum("execute")
    for kind in ("workload", "step", "build", "plan", "execute", "job", "stage"):
        out[f"self.{kind}_ms"] = (sum(s["self_ms"] for s in spans if s["kind"] == kind), "ms")
    out["trace.cover_frac"] = (phases_ms / step_ms if step_ms else 0.0, "ratio")
    base = median(untraced_walls)
    out["trace.overhead_s"] = (e2e["wall_s"][0] - base if untraced_walls else 0.0, "s")
    out["trace.untraced_runs"] = (len(untraced_walls), "count")
    out["run.failed_frac"] = (sum(1 for s in steps if not s["ok"]) / len(steps), "ratio")
    return out
