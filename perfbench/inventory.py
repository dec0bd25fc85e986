"""The ``query_inventory`` workload: declared queries from
``registry.all_queries()`` into the noop sink.

Inputs: the sf0.01 testdata tables, rewritten with their rows in a
seeded random order into the run's private directory. Content, and so
every declared answer, is the same for every seed; the physical order
of the rows, which the engine must not depend on, changes.

A run builds three persisted artifacts once, cold (part of its
set-up), then runs every query once collected and checked, then one
untimed warm-up round, then a fixed number of timed rounds of the floor
query and every query of ``QUERIES``.
"""

from __future__ import annotations

import math
import os
import time
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow.parquet as pq

# the sf0.01 testdata tables (TESTDATA.md), where the repo's tests read them
SOURCE_DIR = "/root/testdata/sf0.01"

# A fixed subset of the 50 declared queries: one run cannot afford the
# whole inventory (its first pass alone takes about 70 s, see README).
# It spans the relational, similarity, CDC, metrics, temporal, search,
# dedup and pipeline families. The IVF-index readers (x2b, x2e) are out:
# the index's cold build alone costs about 20 s a run (README: Left out).
QUERIES = (
    "r2_projection_distinct",
    "r13_seed_join",
    "x2_cosine_topk",
    "c4_cdc_apply_latest",
    "c10_windows",
    "d16_rank_ops",
    "x9_bm25_search",
    "x6_asof_join",
    "x1f_dedup_apply",
    "x7d_budget_sample",
    "r14_replication_slots",
)


def prepare_corpus(dest: str, seed: int) -> None:
    """Copy every testdata table with its rows in seeded random order."""
    from peerdb_cdc_psql_clickhouse_spark.catalog import TESTDATA_TABLES

    rng = np.random.default_rng(seed)
    os.makedirs(dest)
    for t in TESTDATA_TABLES:
        table = pq.read_table(os.path.join(SOURCE_DIR, f"{t}.parquet"))
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(dest, f"{t}.parquet"))


def _builds():
    from peerdb_cdc_psql_clickhouse_spark.operators.dedup import dup_clusters_for
    from peerdb_cdc_psql_clickhouse_spark.operators.search import text_index_for
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ann_groundtruth_for,
    )

    return (
        ("build.text_index_s", text_index_for),
        ("build.dup_clusters_s", dup_clusters_for),
        ("build.ann_groundtruth_s", ann_groundtruth_for),
    )


def build_artifacts(spark, tracer, data: str) -> dict:
    """Cold builds of the persisted artifacts (the cache root is private
    to the run, so nothing is reused from an earlier one)."""
    out = {}
    for name, fn in _builds():
        t0 = time.perf_counter()
        with tracer.span(name):
            fn(spark, data)
        out[name] = time.perf_counter() - t0
    out["index_build_s"] = sum(out.values())
    return out


def floor_query(spark) -> None:
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()


def run_round(spark, tracer, data: str) -> dict:
    """One round; returns per-query seconds, their sum, and the round's
    layer split."""
    from peerdb_cdc_psql_clickhouse_spark.registry import all_queries

    declared = all_queries()
    t_round = time.perf_counter()
    layers: dict = {}
    t0 = time.perf_counter()
    with tracer.span("floor"):
        floor_query(spark)
    layers["floor_s"] = time.perf_counter() - t0
    per_query, build_s, exec_s = {}, 0.0, 0.0
    for name in QUERIES:
        t0 = time.perf_counter()
        with tracer.span(f"query.{name}"):
            with tracer.span("registry.build"):
                df = declared[name].build(spark, data)
            t1 = time.perf_counter()
            with tracer.span("query.execute"):
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        per_query[name] = t2 - t0
        build_s += t1 - t0
        exec_s += t2 - t1
    layers["plan_build_s"] = build_s
    layers["execute_s"] = exec_s
    for name, secs in per_query.items():
        layers[f"query.{name}_s"] = secs
    return {
        "per_query": per_query,
        "total_s": build_s + exec_s,
        "busy_s": time.perf_counter() - t_round,
        "layers": layers,
    }


# -- correctness -------------------------------------------------------------

def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _norm_frame(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    return sorted(rows), list(pdf.columns)


def _duckdb(sql: str, data: str):
    from peerdb_cdc_psql_clickhouse_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def check_groundtruth(gt, data: str) -> str | None:
    """The persisted ANN ground truth must hold, per query vector, the
    exact cosine top-k (self excluded) that numpy computes; compared by
    score, so ties between equal scores may order either way."""
    emb = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pydict()
    ids = np.asarray(emb["vec_id"])
    vecs = np.asarray(emb["embedding"], dtype=np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    row_of = {int(v): i for i, v in enumerate(ids)}
    if gt.empty:
        return "empty ground truth"
    for q, grp in gt.groupby("q_id"):
        sims = vecs @ vecs[row_of[int(q)]]
        sims[row_of[int(q)]] = -np.inf
        want = np.sort(sims)[::-1][: len(grp)]
        got = grp.sort_values("rank")["cosine_sim"].to_numpy(dtype=float)
        if not np.allclose(got, want, atol=1e-5):
            return f"q_id {q}: top-k scores {got[:3]} differ from numpy {want[:3]}"
    return None


def check_round(spark, data: str) -> dict:
    """Run every query once more, collect it, and check it: against its
    DuckDB oracle where it has one, r14 by its properties. The ANN
    ground-truth artifact is checked against numpy. Returns
    {name: problem}."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ann_groundtruth_for,
    )
    from peerdb_cdc_psql_clickhouse_spark.registry import all_queries

    declared = all_queries()
    problems: dict[str, str] = {}
    bad_gt = check_groundtruth(ann_groundtruth_for(spark, data).toPandas(), data)
    if bad_gt:
        problems["ann_groundtruth"] = bad_gt
    for name in QUERIES:
        got = declared[name].build(spark, data).toPandas()
        spark.catalog.clearCache()
        oracle = declared[name].oracle
        if name == "r14_replication_slots":
            expected = {"slot_name", "active", "last_batch_id", "input_rows"}
            if len(got) == 0 or not expected <= set(got.columns):
                problems[name] = f"rows={len(got)} columns={list(got.columns)}"
        elif oracle is None:
            problems[name] = "no oracle and no property check"
        else:
            g_rows, g_cols = _norm_frame(got)
            w_rows, w_cols = _norm_frame(_duckdb(oracle, data))
            if g_cols != w_cols or g_rows != w_rows:
                problems[name] = f"differs from oracle (rows {len(g_rows)} vs {len(w_rows)})"
    return problems
