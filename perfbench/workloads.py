"""The benchmark's workloads: which steps a run issues, derived from its seed.

Each workload is a closed loop with one client: the harness issues a
step, waits for its complete result, then issues the next.

- etl_pipelines, dedup_ann: fixed query lists from the registry
  (graft.SparkEntry.queries); the seed sets their order.
- table_lifecycle: a mix of SQL statements on one 16-shard graft table;
  the seed draws the keys (skewed), the order of the mix and the range
  widths.
"""
import random

ETL_PIPELINES = [
    "q_graph_ancestry_dag", "q_graph_root_paths", "q_search_index_cascade",
    "q_expression_profile", "q_llr_significance", "q_montecarlo_significant",
    "q_text_grounding_stemmed", "q_flatfile_parse", "q_score_harmonic",
]

DEDUP_ANN = [
    "q_dedup_clusters", "q_dedup_clusters_incremental", "q_dedup_minhash_lsh",
    "q_dedup_jaccard_ppjoin", "q_dedup_semantic", "q_similarity_ivf_sq8", "q_similarity_hnsw",
    "q_text_bpe_train",
]

QUERY_WORKLOADS = {
    "etl_pipelines": ETL_PIPELINES,
    "dedup_ann": DEDUP_ANN,
}

TABLE = "graft.b.t"
SHARDS = 16
INITIAL_ROWS = 5000

# Statements per run of table_lifecycle, by verb (the seed sets their order).
TABLE_MIX = {
    "merge": 1, "update_point": 2, "update_range": 1, "delete_point": 2,
    "delete_range": 1, "insert": 2,
    "point_read": 4, "range_read": 3, "scan": 2, "asof_read": 2,
}
WRITES = {"merge", "update", "delete", "insert"}
COMPACT_EVERY = 4  # writes between two compactions
MERGE_ROWS = 20    # source rows of one MERGE, half of them new keys
INSERT_ROWS = 20


def workload_names():
    return list(QUERY_WORKLOADS) + ["table_lifecycle"]


def plan(workload, seed):
    """The run's steps as (kind, verb, argument) triples."""
    rng = random.Random(f"{workload}:{seed}")
    if workload in QUERY_WORKLOADS:
        names = list(QUERY_WORKLOADS[workload])
        rng.shuffle(names)
        return [("query", n, "") for n in names]
    if workload == "table_lifecycle":
        return table_plan(rng)
    raise SystemExit(f"unknown workload {workload!r}; choose one of {workload_names()}")


def table_plan(rng):
    kinds = [k for k, n in TABLE_MIX.items() for _ in range(n)]
    rng.shuffle(kinds)
    next_id = INITIAL_ROWS
    steps, writes = [], 0

    def key():
        # skewed: low ids are drawn far more often than high ones
        return int((next_id - 1) * rng.random() ** 3)

    def span():
        lo = key()
        return lo, lo + int(2 ** rng.uniform(3, 9))

    for i, kind in enumerate(kinds):
        if kind == "merge":
            old = sorted({key() for _ in range(MERGE_ROWS // 2)})
            new = list(range(next_id, next_id + MERGE_ROWS // 2))
            next_id += len(new)
            rows = ", ".join(f"({k}L, {rng.randrange(10**6)}L, 'm{i}_{k}', {k % SHARDS})"
                             for k in old + new)
            sql = (f"MERGE INTO {TABLE} AS t USING (SELECT * FROM VALUES {rows} "
                   f"AS s(id, v, s, shard)) AS s ON t.id = s.id "
                   f"WHEN MATCHED THEN UPDATE SET v = s.v, s = s.s "
                   f"WHEN NOT MATCHED THEN INSERT (id, v, s, shard) "
                   f"VALUES (s.id, s.v, s.s, s.shard)")
            steps.append(("sql", "merge", sql))
        elif kind == "update_point":
            d = rng.randrange(1, 100)
            steps.append(("sql", "update", f"UPDATE {TABLE} SET v = v + {d}L WHERE id = {key()}"))
        elif kind == "update_range":
            lo, hi = span()
            steps.append(("sql", "update",
                          f"UPDATE {TABLE} SET v = v + 1L WHERE id >= {lo} AND id <= {hi}"))
        elif kind == "delete_point":
            steps.append(("sql", "delete", f"DELETE FROM {TABLE} WHERE id = {key()}"))
        elif kind == "delete_range":
            lo, hi = span()
            steps.append(("sql", "delete",
                          f"DELETE FROM {TABLE} WHERE id >= {lo} AND id <= {hi}"))
        elif kind == "insert":
            lo, hi = next_id, next_id + INSERT_ROWS
            next_id = hi
            steps.append(("sql", "insert",
                          f"INSERT INTO {TABLE} SELECT id, id * 3, concat('s', id), "
                          f"CAST(id % {SHARDS} AS INT) FROM range({lo}, {hi})"))
        elif kind == "point_read":
            steps.append(("sql", "point_read", f"SELECT id, v, s FROM {TABLE} WHERE id = {key()}"))
        elif kind == "range_read":
            lo, hi = span()
            steps.append(("sql", "range_read",
                          f"SELECT count(*), sum(v) FROM {TABLE} WHERE id BETWEEN {lo} AND {hi}"))
        elif kind == "scan":
            steps.append(("sql", "scan", f"SELECT count(*), sum(v), max(id) FROM {TABLE}"))
        elif kind == "asof_read":
            steps.append(("asof", "asof_read", str(rng.choice([1, 2]))))
        if steps[-1][1] in WRITES:
            writes += 1
            if writes % COMPACT_EVERY == 0:
                steps.append(("compact", "compact", "-"))
    return steps
