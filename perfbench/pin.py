#!/usr/bin/env python3
"""Pins the digests of the query workloads' results, cross-checked once
against DuckDB.

    python3 perfbench/pin.py

Runs every query of etl_pipelines and dedup_ann in one
harness JVM, which also writes each result as parquet with the query's
oracle SQL (graft.SparkEntry.oracleSql). Each result is compared with
DuckDB running that SQL on the same tables, as tools/check.py does: columns
by name, rows sorted, values compared exactly and type-strict. Writes
perfbench/pins.json with the digests and each query's cross-check verdict.
"""
import json
import math
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if type(a) is not type(b):
        return False
    if isinstance(a, float) and math.isnan(a):
        return math.isnan(b)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def crosscheck(con, dump, name):
    sql_file = dump / f"{name}.sql"
    if not sql_file.exists():
        return "no oracle"
    got = con.sql(f"SELECT * FROM '{dump / name}/*.parquet'")
    gc, gr = canon(got.fetchall(), list(got.columns))
    exp = con.sql(sql_file.read_text())
    ec, er = canon(exp.fetchall(), list(exp.columns))
    if gc != ec:
        return f"columns differ: {gc} vs {ec}"
    if len(gr) != len(er):
        return f"row count differs: {len(gr)} vs {len(er)}"
    bad = sum(1 for x, y in zip(gr, er) if not same(x, y))
    return "match" if bad == 0 else f"{bad} rows differ"


def main():
    import duckdb
    classpath = build.build()
    names = [n for w in workloads.QUERY_WORKLOADS.values() for n in w]
    run_dir = build.build_dir() / "runs" / "pin"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    dump = run_dir / "dump"
    _, result = run.run_jvm(classpath, run_dir, "pin", 0, [("query", n, "") for n in names],
                            ["--dump", str(dump)])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.BENCH / 'data' / t}.parquet'")
    digests, verdicts = {}, {}
    for s in result["steps"]:
        if not s["ok"]:
            raise SystemExit(f"{s['name']} failed: {s.get('error')}")
        digests[s["name"]] = s["digest"]
        verdicts[s["name"]] = crosscheck(con, dump, s["name"])
        print(f"{s['name']:40s} {s['digest']}  duckdb: {verdicts[s['name']]}")
    out = {"digests": dict(sorted(digests.items())), "duckdb": dict(sorted(verdicts.items()))}
    (run.BENCH / "pins.json").write_text(json.dumps(out, indent=1) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
