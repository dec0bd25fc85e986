"""Benchmark entry point for the CDC mirror and the declared queries.

    python3 perfbench/run.py --workload cdc_paced --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. The workloads and the metric
names and units are those declared in BENCHMARK.json there (see
README.md). The last line of standard output is one JSON object:
correct, attempted, failed, and the metrics (the end-to-end ones with
--trace 0, the per-layer ones with --trace 1). The exit code is 0 only
if every checked output was correct.

Each run works in a private directory under perfbench/_runs/, which it
removes at exit; the Spark session, its temp files, the artifact cache,
Derby, the spool and the checkpoints all live there.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPEATS = 3
PACED_WARMUP_S = 8
# query_inventory times whole rounds, as many as fit in --seconds at
# this nominal round length (at least two), so that every run of a given
# length times the same number of rounds however fast they go
INVENTORY_ROUND_S = 6.0


def declared() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def isolate(workload: str) -> str:
    """Private root for this run; every temp location points into it.
    Must run before pyspark starts the JVM."""
    root = os.path.join(HERE, "_runs", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = len(os.sched_getaffinity(0))
    if workload == "query_inventory":
        from inventory import SOURCE_DIR as sf_dir
    else:
        # no parquet inside: the session keeps one shuffle partition per core
        sf_dir = os.path.join(root, "no-declared-input")
        os.makedirs(sf_dir)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_DRIVER_MEMORY="2g",
        PYTHONPATH=os.pathsep.join([REPO, HERE, os.environ.get("PYTHONPATH", "")]),
    )
    tempfile.tempdir = tmp
    return root


def start_session():
    from peerdb_cdc_psql_clickhouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait(timeout=30)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def timed_setups(fn) -> tuple[list, list[float]]:
    envs, secs = [], []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        envs.append(fn(i))
        secs.append(time.perf_counter() - t0)
        log(f"set-up {i}: {secs[-1]:.2f}s")
    return envs, secs


def run_rounds(plan: list[bool], fn) -> list[dict]:
    """One round per entry of `plan`, traced where it is True."""
    out = []
    for traced in plan:
        out.append(fn(traced))
        out[-1]["traced"] = traced
        log(f"round {len(out) - 1}{' (traced)' if traced else ''}: {out[-1]['busy_s']:.2f}s busy")
    return out


# -- workloads -----------------------------------------------------------------

def cdc_paced(spark, tracer, root, seed, seconds, trace):
    """Warm-up on the first set-up's source and mirror, then the timed
    window on the last. A traced run times an untraced window on the
    second set-up and then the same window traced on the third, and
    reports the per-layer figures of the traced one."""
    import cdc
    from harness import median

    ticks = max(1, round(seconds / cdc.PACED_TICK_S))
    warm_ticks = round(PACED_WARMUP_S / cdc.PACED_TICK_S)
    envs, setup = timed_setups(
        lambda i: cdc.paced_setup(spark, f"{root}/paced{i}", seed, max(ticks, warm_ticks))
    )
    try:
        tracer.enabled = False
        cdc.paced_run(spark, tracer, envs[0], warm_ticks)
        log("warm-up done")
        untraced = cdc.paced_run(spark, tracer, envs[1], ticks) if trace else None
        tracer.enabled = trace
        env = envs[-1]
        rnd = cdc.paced_run(spark, tracer, env, ticks)
        half = len(rnd["latency"]) // 2
        log(
            f"paced window done: latency median {median(rnd['latency']):.3f}s"
            f" (first half {median(rnd['latency'][:half]):.3f}s,"
            f" second half {median(rnd['latency'][half:]):.3f}s)"
        )
        rnd["traced"] = trace
        rnd["layers"]["snapshot_s"] = env["snapshot_s"]
        tail = cdc.read_and_compact(spark, tracer, env)
        log("read, compact and checks done")
        rnd["layers"].update(tail["layers"])
        failed = tail["failed"]
    finally:
        for e in envs:
            e["outbox"].close()
    rounds = [rnd]
    if trace:
        untraced["traced"] = False
        rounds.append(untraced)
        tracer.resolve_counters()
        polls = tracer.select("sources.jdbc_changes.poll_once")
        stream = tracer.stream_counters()
        # per second of input: micro-batch jobs plus the polls' jobs
        secs = ticks * cdc.PACED_TICK_S
        rnd["counters"] = {
            k: (stream[k] + sum(p.attrs[k] for p in polls)) / secs for k in stream
        }
    return {
        "rounds": rounds,
        "setup": setup,
        # the changes of the checked window
        "attempted": rnd["ops"],
        "failed": failed,
        "extra": {},
    }


def query_inventory(spark, tracer, root, seed, seconds, trace):
    import inventory

    envs, setup = timed_setups(
        lambda i: inventory.prepare_corpus(f"{root}/corpus{i}", seed) or f"{root}/corpus{i}"
    )
    data = envs[-1]
    tracer.enabled = trace
    builds = inventory.build_artifacts(spark, tracer, data)
    log(f"artifact builds: {builds['index_build_s']:.2f}s")
    tracer.enabled = False
    # the checked pass runs every query cold; one untimed round then
    # warms the JVM before the timed ones
    problems = inventory.check_round(spark, data)
    log("check round done")
    for name, why in problems.items():
        print(f"MISMATCH {name}: {why}", file=sys.stderr)
    inventory.run_round(spark, tracer, data)
    log("warm-up round done")
    marks = []

    def one(traced):
        tracer.enabled = traced
        n0 = len(tracer.spans)
        rnd = inventory.run_round(spark, tracer, data)
        marks.append((n0, len(tracer.spans)))
        rnd["latency"] = [rnd["total_s"]]
        rnd["ops"] = len(rnd["per_query"])
        return rnd

    if trace:
        # untraced and traced rounds in an order that cancels any drift
        plan = [False, True, True, False]
    else:
        plan = [False] * max(2, math.floor(seconds / INVENTORY_ROUND_S))
    rounds = run_rounds(plan, one)
    tracer.enabled = trace
    if trace:
        from harness import group_counters

        tracer.resolve_counters()
        for rnd, (a, b) in zip(rounds, marks):
            if rnd["traced"]:
                groups = [
                    s.group
                    for s in tracer.spans[a:b]
                    if s.name in ("floor", "registry.build", "query.execute")
                ]
                rnd["counters"] = group_counters(spark, groups)
    return {
        "rounds": rounds,
        # the one cold build pass is set-up work for every query after it
        "setup": [s + builds["index_build_s"] for s in setup],
        "attempted": 2 * len(inventory.QUERIES) + sum(r["ops"] for r in rounds),
        "failed": len(problems),
        "extra": builds,
    }


# -- reporting -----------------------------------------------------------------

def latencies(rounds: list[dict]):
    import numpy as np

    return np.concatenate([np.asarray(r["latency"], dtype=float) for r in rounds])


def end_to_end(res: dict, session_s: float) -> dict:
    from harness import median

    return {
        "latency_p50_s": median(latencies(res["rounds"])),
        "setup_s": session_s + median(res["setup"]),
    }


def per_layer(res: dict, session_s: float, rss_mb: float, names) -> dict:
    """Every declared per-layer metric; one of a layer the workload does
    not use reads 0."""
    from harness import median, pct

    traced = [r for r in res["rounds"] if r["traced"]]
    untraced = [r for r in res["rounds"] if not r["traced"]]
    out = {k: 0.0 for k in names}
    out["session.get_spark_s"] = session_s
    out["peak_rss_mb"] = rss_mb
    out["latency_p90_s"] = pct(latencies(traced), 90)
    out["throughput_per_s"] = sum(r["ops"] for r in traced) / sum(r["busy_s"] for r in traced)
    for key in traced[0]["layers"]:
        out[key] = median([r["layers"][key] for r in traced])
    for key in traced[0].get("counters", {}):
        out[key] = median([r["counters"][key] for r in traced])
    out.update(res["extra"])
    out["trace_overhead_s"] = median(latencies(traced)) - median(latencies(untraced))
    unknown = set(out) - set(names)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return out


def main(argv=None) -> int:
    bench = declared()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, REPO]
    os.chdir(REPO)  # Python workers resolve the package from the cwd
    from harness import cpu_ticks

    ticks0 = cpu_ticks()
    root = isolate(args.workload)
    spark = None
    try:
        spark, session_s = start_session()
        log(f"session: {session_s:.2f}s")
        spark.sparkContext.setLogLevel("ERROR")
        from harness import Tracer, peak_rss_mb

        tracer = Tracer(spark, enabled=bool(args.trace))
        workload = globals()[args.workload]
        res = workload(spark, tracer, root, args.seed, args.seconds, bool(args.trace))
        if args.trace:
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            values = per_layer(res, session_s, peak_rss_mb(spark), units)
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            tracer.dump(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
            values = end_to_end(res, session_s)
    finally:
        if spark is not None:
            log("stopping")
            stop_session(spark)
        shutil.rmtree(root, ignore_errors=True)
        total, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
        log(f"done; CPU steal during the run: {100.0 * steal / max(1, total):.1f}%")

    correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {
                    k: {"value": float(values[k]), "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
