"""The ``cdc_paced`` workload.

An ``orders`` table (catalog.ORDERS_SCHEMA, key ``id``) is mirrored
through ``streaming.mirror.Mirror`` from an outbox table in embedded
Derby, tailed by ``sources.jdbc_changes.JdbcChangePoller``. The
converged view is checked against DuckDB computing max-version-wins
over the same snapshot and changes. All inputs are drawn from the
run's seed with numpy and written with pyarrow or plain JDBC, so the
program under test only ever sees the generated rows.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import median

COLS = ["id", "order_date", "purchaser", "quantity", "product_id"]
EPOCH = dt.date(2026, 1, 1)
BASE_TS = dt.datetime(2026, 1, 1)

# cdc_paced: the reference's insert.ps1 rate (500 rows/s), committed in
# 50-row transactions every 0.1 s so that a short run samples arrivals at
# every phase of the poll and trigger cycle (README: generator notes)
PACED_SNAPSHOT_ROWS = 20_000
PACED_PER_TICK = 50
PACED_TICK_S = 0.1
PACED_MIX = (0.80, 0.15, 0.05)  # insert, update, delete

PROGRESS_PHASES = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


# -- input generation ------------------------------------------------------

def _row_values(rng, n):
    return (
        np.datetime64(EPOCH, "D") - rng.integers(0, 31, n).astype("timedelta64[D]"),
        rng.integers(1, 1001, n).astype(np.int32),
        rng.integers(1, 100, n).astype(np.int32),
        rng.integers(101, 110, n).astype(np.int32),
    )


def snapshot_table(rng, n: int) -> pa.Table:
    dates, purch, qty, prod = _row_values(rng, n)
    return pa.table(
        {
            "id": pa.array(np.arange(1, n + 1, dtype=np.int32)),
            "order_date": pa.array(dates, pa.date32()),
            "purchaser": purch,
            "quantity": qty,
            "product_id": prod,
        }
    )


def _changes_table(ops, ids, rng, ts) -> pa.Table:
    n = len(ops)
    dates, purch, qty, prod = _row_values(rng, n)
    dead = ops == "delete"

    def masked(vals, typ):
        return pa.array(vals, typ, mask=dead)

    return pa.table(
        {
            "_op": pa.array(ops, pa.string()),
            "_version": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "_ts": pa.array(ts, pa.timestamp("us")),
            "id": pa.array(ids.astype(np.int32)),
            "order_date": masked(dates, pa.date32()),
            "purchaser": masked(purch, pa.int32()),
            "quantity": masked(qty, pa.int32()),
            "product_id": masked(prod, pa.int32()),
        }
    )


def paced_changes(rng, n_snapshot: int, ticks: int) -> pa.Table:
    """ticks x PACED_PER_TICK changes: new keys are inserted, live keys
    are updated or deleted (uniformly among live keys)."""
    n = ticks * PACED_PER_TICK
    ops = rng.choice(["insert", "update", "delete"], size=n, p=PACED_MIX)
    live = list(range(1, n_snapshot + 1))
    next_id = n_snapshot + 1
    ids = np.empty(n, dtype=np.int64)
    picks = rng.random(n)
    for i, op in enumerate(ops):
        if op == "insert":
            ids[i] = next_id
            live.append(next_id)
            next_id += 1
            continue
        j = int(picks[i] * len(live))
        ids[i] = live[j]
        if op == "delete":
            live[j] = live[-1]
            live.pop()
    # _ts is rewritten with the real due time when a tick is inserted
    ts = np.full(n, np.datetime64(BASE_TS, "us"))
    return _changes_table(ops, ids, rng, ts)


# -- independent check -----------------------------------------------------

def check_against_duckdb(mirror, snapshot_path: str, changes: pa.Table) -> int:
    """Number of rows that differ between ``mirror.read_target()`` and
    DuckDB's max-version-wins over the snapshot parquet plus every
    generated change (0 = identical)."""
    from pyspark.sql import functions as F

    got = (
        mirror.read_target()
        .select(*[F.col(c).cast("string") if c == "order_date" else F.col(c) for c in COLS])
        .toPandas()
    )
    con = duckdb.connect()
    con.register("chg", changes)
    con.register("got", got)
    cols = ", ".join(COLS)
    con.execute(
        f"""
        CREATE TABLE want AS
        SELECT id, CAST(order_date AS VARCHAR) AS order_date, purchaser, quantity, product_id
        FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY _version DESC) AS rn
          FROM (
            SELECT 'insert' AS _op, -9223372036854775808 AS _version, {cols}
            FROM read_parquet('{snapshot_path}')
            UNION ALL
            SELECT _op, _version, {cols} FROM chg
          )
        )
        WHERE rn = 1 AND _op <> 'delete'
        """
    )
    diff = con.execute(
        f"""
        SELECT (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got))
             + (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want))
        """
    ).fetchone()[0]
    con.close()
    return int(diff)


# -- shared pieces ---------------------------------------------------------

def _mirror(spark, name: str, root: str):
    from peerdb_cdc_psql_clickhouse_spark.catalog import ORDERS_SCHEMA
    from peerdb_cdc_psql_clickhouse_spark.streaming.mirror import Mirror

    return Mirror(
        spark,
        name=name,
        schema="public",
        table="orders",
        key_cols=["id"],
        row_schema=ORDERS_SCHEMA,
        target_root=f"{root}/warehouse",
        checkpoint_root=f"{root}/checkpoints",
    )


def _read_snapshot(spark, path: str):
    from peerdb_cdc_psql_clickhouse_spark.catalog import ORDERS_SCHEMA

    return spark.read.schema(ORDERS_SCHEMA).parquet(path)


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _data_progress(query) -> list[dict]:
    seen, out = set(), []
    for p in query.recentProgress:
        if p["numInputRows"] > 0 and p["batchId"] not in seen:
            seen.add(p["batchId"])
            out.append(p)
    return out


def _progress_start(p) -> float:
    ts = p["timestamp"].replace("Z", "+00:00")
    return dt.datetime.fromisoformat(ts).timestamp()


def _phase_layers(progress: list[dict]) -> dict:
    out = {}
    for ph in PROGRESS_PHASES:
        out[f"batch.{ph}_s"] = median(
            [p["durationMs"].get(ph, 0) / 1000.0 for p in progress]
        ) if progress else 0.0
    out["batch.trigger_s"] = median(
        [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    ) if progress else 0.0
    out["batch_rows"] = median([p["numInputRows"] for p in progress]) if progress else 0
    out["batches"] = len(progress)
    return out


def _batch_max_versions(spark, mirror) -> list[tuple[int, int]]:
    """(batch id, highest _version it applied), from the delta parts
    the mirror wrote; read after the timed window."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(f"{mirror.target_dir}/delta")
        .groupBy("_batch")
        .agg(F.max("_version").alias("v"))
        .collect()
    )
    return sorted((int(r["_batch"]), int(r["v"])) for r in rows)


def _visible_latency(versions, due, batch_max, batch_end) -> np.ndarray:
    """Per change: end of the micro-batch that applied it minus its due
    time. Batches apply contiguous version ranges in order, so a
    version belongs to the first batch whose maximum reaches it."""
    ids = np.array([b for b, _ in batch_max])
    maxes = np.array([v for _, v in batch_max])
    which = np.searchsorted(maxes, versions, side="left")
    if (which >= len(maxes)).any():
        raise RuntimeError("a generated change was never applied")
    ends = np.array([batch_end[int(b)] for b in ids])
    return ends[which] - due


# -- cdc_paced ---------------------------------------------------------------

class _Outbox:
    """The source table in embedded Derby, written over a plain JDBC
    connection (no Spark job), one transaction per tick."""

    DDL = (
        'CREATE TABLE outbox ("_op" VARCHAR(8) NOT NULL, '
        '"_version" BIGINT NOT NULL PRIMARY KEY, "_ts" TIMESTAMP NOT NULL, '
        '"id" INT NOT NULL, "order_date" DATE, "purchaser" INT, '
        '"quantity" INT, "product_id" INT)'
    )

    def __init__(self, spark, path: str) -> None:
        jvm = spark._jvm
        jvm.java.lang.Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
        self.url = f"jdbc:derby:{path}"
        self.conn = jvm.java.sql.DriverManager.getConnection(f"{self.url};create=true")
        self.conn.setAutoCommit(False)
        self.stmt = self.conn.createStatement()
        self.stmt.executeUpdate(self.DDL)
        self.conn.commit()

    @staticmethod
    def _sql(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, dt.date):
            return f"DATE('{v.isoformat()}')"
        return str(v)

    def insert(self, rows: list[tuple], ts_literal: str) -> None:
        """One multi-row INSERT and one commit for a tick's rows."""
        values = ",".join(
            f"('{op}',{version},{ts_literal},{','.join(self._sql(v) for v in rest)})"
            for op, version, *rest in rows
        )
        self.stmt.executeUpdate(f"INSERT INTO outbox VALUES {values}")
        self.conn.commit()

    def close(self) -> None:
        self.stmt.close()
        self.conn.close()


def _tick_rows(changes: pa.Table, k: int) -> list[tuple]:
    part = changes.slice(k * PACED_PER_TICK, PACED_PER_TICK).to_pydict()
    return list(
        zip(
            part["_op"], part["_version"], part["id"], part["order_date"],
            part["purchaser"], part["quantity"], part["product_id"],
        )
    )


def paced_setup(spark, root: str, seed: int, ticks: int):
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    snap_path = f"{root}/orders_snapshot.parquet"
    pq.write_table(snapshot_table(rng, PACED_SNAPSHOT_ROWS), snap_path)
    changes = paced_changes(rng, PACED_SNAPSHOT_ROWS, ticks)
    outbox = _Outbox(spark, f"{root}/derby")
    mirror = _mirror(spark, "perfbench_paced", root)
    t0 = time.perf_counter()
    mirror.snapshot(_read_snapshot(spark, snap_path))
    snapshot_s = time.perf_counter() - t0
    return {
        "root": root,
        "snap_path": snap_path,
        "changes": changes,
        "outbox": outbox,
        "mirror": mirror,
        "snapshot_s": snapshot_s,
    }


def paced_run(spark, tracer, env: dict, ticks: int) -> dict:
    """Open loop: a generator thread commits PACED_PER_TICK changes to
    the outbox every PACED_TICK_S seconds, whatever the mirror does.
    The main thread tails the outbox into the spool with
    JdbcChangePoller.poll_once; a continuously triggered Mirror applies
    the spool. Spans are recorded if the tracer is enabled."""
    from peerdb_cdc_psql_clickhouse_spark.catalog import ORDERS_SCHEMA
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        JdbcChangePoller,
    )

    root, mirror, changes, outbox = env["root"], env["mirror"], env["changes"], env["outbox"]
    spool = f"{root}/spool"
    os.makedirs(spool)
    poller = JdbcChangePoller(
        url=outbox.url,
        table="outbox",
        row_schema=ORDERS_SCHEMA,
        spool_dir=spool,
        cursor_path=f"{root}/cursor.json",
    )
    batch_end: dict[int, float] = {}

    def on_batch(_df, batch_id):
        batch_end[int(batch_id)] = time.time()

    query = mirror.start(spool, available_now=False, max_files_per_trigger=None, on_batch=on_batch)
    tracer.add_stream(query)
    last_version = ticks * PACED_PER_TICK
    due = np.empty(last_version)
    late: list[float] = []
    gen_error: list[BaseException] = []
    t_start = time.time() + 1.0

    def generate():
        try:
            for k in range(ticks):
                t_due = t_start + k * PACED_TICK_S
                time.sleep(max(0.0, t_due - time.time()))
                late.append(time.time() - t_due)
                ts = dt.datetime.fromtimestamp(t_due, dt.timezone.utc).replace(tzinfo=None)
                outbox.insert(_tick_rows(changes, k), f"TIMESTAMP('{ts.isoformat(' ')}')")
                due[k * PACED_PER_TICK : (k + 1) * PACED_PER_TICK] = t_due
        except BaseException as e:  # noqa: BLE001 - surfaced by the main thread
            gen_error.append(e)

    gen = threading.Thread(target=generate, name="perfbench-generator")
    gen.start()
    polls: list[tuple[float, float, int, int]] = []  # start, seconds, rows, cursor
    try:
        cursor = 0
        while cursor < last_version:
            if gen_error:
                raise gen_error[0]
            if not gen.is_alive() and not gen_error and time.time() > t_start + ticks * PACED_TICK_S + 60:
                raise RuntimeError("poller did not reach the last change")
            t0 = time.time()
            with tracer.span("sources.jdbc_changes.poll_once"):
                n = poller.poll_once(spark)
            t1 = time.time()
            cursor = int(poller.state()["cursor"] or 0)
            polls.append((t0, t1 - t0, n, cursor))
            if n == 0:
                time.sleep(0.02)
        query.processAllAvailable()
    finally:
        gen.join(timeout=120)
        query.stop()
    if gen.is_alive():
        raise RuntimeError("generator thread did not finish")
    if gen_error:
        raise gen_error[0]

    env["inserted"] = changes.slice(0, last_version)
    progress = _data_progress(query)
    batch_max = _batch_max_versions(spark, mirror)
    versions = np.arange(1, last_version + 1)
    latency = _visible_latency(versions, due, batch_max, batch_end)
    span_s = max(batch_end.values()) - t_start

    # spool wait: a spool batch's commit (end of the poll that wrote it)
    # to the start of the trigger whose batch applied its last change
    starts = {int(p["batchId"]): _progress_start(p) for p in progress}
    maxes = np.array([v for _, v in batch_max])
    ids = [b for b, _ in batch_max]
    waits = []
    for t0, secs, n, cur in polls:
        if n:
            b = ids[int(np.searchsorted(maxes, cur, side="left"))]
            if b in starts:
                waits.append(starts[b] - (t0 + secs))
    return {
        "latency": latency,
        "ops": last_version,
        "busy_s": span_s,
        "layers": {
            "poll_s": median([p[1] for p in polls]),
            "poll_rows": median([p[2] for p in polls if p[2]]),
            "spool_wait_s": median(waits) if waits else 0.0,
            "generator_late_s": max(late),
            **_phase_layers(progress),
        },
    }


def read_and_compact(spark, tracer, env: dict) -> dict:
    """After the paced window: read the merged view over the base plus
    every small delta part the window left, compact, and read again.
    The view is checked against DuckDB before and after compaction."""
    mirror = env["mirror"]

    def read_all():
        mirror.read_target().write.format("noop").mode("overwrite").save()

    delta_files, delta_bytes = _tree_size(f"{mirror.target_dir}/delta")
    t0 = time.perf_counter()
    with tracer.span("streaming.mirror.read_target"):
        read_all()
    read_s = time.perf_counter() - t0
    failed = check_against_duckdb(mirror, env["snap_path"], env["inserted"])
    t0 = time.perf_counter()
    with tracer.span("streaming.mirror.compact"):
        mirror.compact()
    compact_s = time.perf_counter() - t0
    _, compact_bytes = _tree_size(f"{mirror.target_dir}/base")
    t0 = time.perf_counter()
    with tracer.span("streaming.mirror.read_target"):
        read_all()
    reread_s = time.perf_counter() - t0
    failed += check_against_duckdb(mirror, env["snap_path"], env["inserted"])
    return {
        "failed": failed,
        "layers": {
            "mirror.read_s": read_s,
            "mirror.compact_s": compact_s,
            "mirror.read_compacted_s": reread_s,
            "delta_files": delta_files,
            "delta_bytes": delta_bytes,
            "compact_bytes": compact_bytes,
        },
    }
