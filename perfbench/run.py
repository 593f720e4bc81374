"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the root of a checkout of this repository::

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
traced run that prints the per-layer metrics instead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

PKG = "use_clickhouse_2_analyze_mysql_binlog_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # session set-ups per run; setup_s is their median

END_TO_END = {  # name -> unit
    "setup_s": "s", "mem_mb": "MB", "p50_ms": "ms", "p90_ms": "ms",
    "sweep_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from tracing import SELF_LAYERS

    units = {
        "canal.decode_ms": "ms", "canal.packets": "count", "canal.entries": "count",
        "ingest.epochs": "count", "ingest.batch_ms": "ms",
        "ingest.trigger_ms": "ms", "ingest.rows": "count",
        "upsert.epochs": "count", "upsert.batch_ms": "ms",
        "upsert.trigger_ms": "ms", "upsert.state_rows": "count",
        "upsert.snapshot_bytes": "bytes",
        "rollup.batch_ms": "ms", "rollup.trigger_ms": "ms",
        "window.batch_ms": "ms", "window.trigger_ms": "ms",
        "window.state_rows": "count", "window.state_bytes": "bytes",
        "window.watermark_lag_s": "s",
        "epochs.commits": "count", "epochs.publish_ms": "ms",
        "analytics.build_ms": "ms", "analytics.exec_ms": "ms",
        "ch_compat.translate_ms": "ms", "ch_compat.calls": "count",
        "cachetrack.builds": "count", "cachetrack.build_ms": "ms",
        "cachetrack.released": "count",
        "dedup.exec_ms": "ms", "similarity.exec_ms": "ms",
        "curation.exec_ms": "ms", "dedup.rows_out": "count",
        "spark.jobs": "count", "spark.tasks": "count",
        "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
        "spark.gc_ms": "ms", "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
        "trace.wall_ms": "ms", "trace.other_ms": "ms", "trace.wrapper_ms": "ms",
        "mem.peak_mb": "MB",
    }
    units.update({f"self.{layer}_ms": "ms" for layer in SELF_LAYERS})
    return units


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def setup_times(env, prepare) -> list[float]:
    """Set the session up ``SETUPS`` times (the first launches the JVM).
    A set-up starts the session, forks the Python worker pool with a no-op
    Arrow job and runs ``prepare(spark)``, the workload's own step."""
    from sparkenv import CPUS

    out = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = env.start() if i == 0 else env.restart()
        spark.range(0, 64, 1, CPUS).mapInPandas(lambda it: it, "id long").count()
        prepare(spark)
        out.append(time.perf_counter() - t0)
    return out


# ---------------------------------------------------------------------------
# cdc_backfill
# ---------------------------------------------------------------------------

def run_cdc_backfill(env, work: str, seed: int, seconds: float, tracer) -> dict:
    import cdc
    from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal_wire

    t0 = time.perf_counter()
    src, tally = cdc.backfill_input(work, seed)
    log(f"generated {tally.entries} entries in {time.perf_counter() - t0:.2f} s")
    setups = setup_times(env, lambda spark: None)
    spark = env.spark
    before = env.status_totals()
    if tracer:
        tracer.install()
    rounds, errors, elapsed = [], [], 0.0
    t_start = time.time()
    while elapsed < seconds:
        n = len(rounds)
        chain = cdc.prepare_round(spark, work, src, n)
        r = cdc.drain(chain)
        rounds.append(r)
        elapsed += r["t1"] - r["t0"]
    t_end = time.time()
    if tracer:
        tracer.uninstall()
    after = env.status_totals()
    failed = 0
    for r in rounds:
        cdc.wait_progress(r["chain"])
        errs = r["errors"] + cdc.check_chain(spark, r["chain"], tally)
        failed += bool(errs)
        errors.extend(errs)
    walls = [r["t1"] - r["t0"] for r in rounds]
    # per query, the median micro-batch duration over every round's epochs
    epochs = [r["chain"].epochs() for r in rounds]
    per_query = [[e["trigger_ms"] for ep in epochs for e in ep[q]] for q in epochs[0]]
    epoch_ms = [statistics.median(v) for v in per_query if v]
    log(f"{len(rounds)} rounds of {tally.fact_rows} fact rows; "
        f"{tally.fact_rows * len(rounds) / sum(walls):.0f} rows/s")
    out = {
        "attempted": len(rounds), "failed": failed, "errors": errors,
        "setups": setups, "window": (t_start, t_end),
        "e2e": {
            "p50_ms": quantile(epoch_ms, 0.5), "p90_ms": quantile(epoch_ms, 0.9),
            "sweep_s": walls[0],
        },
    }
    if tracer:
        layer = cdc.layer_metrics(rounds, tally, tracer)
        packets = [b for f in sorted(os.listdir(src))
                   for b in cdc.read_packets(os.path.join(src, f))]
        t0 = time.perf_counter()
        entries = sum(len(canal_wire.parse_packet_wire(b)) for b in packets)
        layer.update({
            "canal.decode_ms": (time.perf_counter() - t0) * 1000,
            "canal.packets": len(packets), "canal.entries": entries,
        })
        layer.update(spark_delta(before, after))
        out["layer"] = layer
    return out


# ---------------------------------------------------------------------------
# query_sweep
# ---------------------------------------------------------------------------

def run_query_sweep(env, work: str, seed: int, seconds: float, tracer) -> dict:
    import gen
    import queries
    from use_clickhouse_2_analyze_mysql_binlog_spark import schemas

    sf = os.path.join(work, "sf")
    t0 = time.perf_counter()
    input_rows = gen.events_table(sf, seed, n_rows=100_000) + sum(
        gen.corpus_tables(sf, seed, n_docs=1000, n_vecs=400))
    tables, names = queries.TABLES, queries.QUERY_SWEEP
    log(f"generated {input_rows} rows in {time.perf_counter() - t0:.2f} s")

    def prepare(spark):
        for t in tables:
            schemas.load_table(spark, sf, t).count()

    setups = setup_times(env, prepare)
    spark = env.spark
    before = env.status_totals()
    if tracer:
        tracer.install()
    passes, elapsed = [], 0.0
    t_start = time.time()
    while elapsed < seconds:
        queries.cold_caches()
        p = queries.run_pass(spark, sf, names)
        passes.append(p)
        elapsed += sum(r["wall_s"] for r in p)
    t_end = time.time()
    queries.cold_caches()
    if tracer:
        tracer.uninstall()
    after = env.status_totals()
    ops = [r for p in passes for r in p]
    errors = [r["error"] for r in ops if "error" in r]
    errors += queries.check(passes, sf, tables)
    per_query = {n: statistics.median(r["wall_s"] for r in ops if r["name"] == n)
                 for n in names}
    lat_ms = [v * 1000 for v in per_query.values()]
    log(f"{len(passes)} passes; per-query median (ms): "
        + ", ".join(f"{n}={v * 1000:.0f}" for n, v in per_query.items()))
    out = {
        "attempted": len(ops), "failed": len(errors), "errors": errors,
        "setups": setups, "window": (t_start, t_end),
        "e2e": {
            "p50_ms": quantile(lat_ms, 0.5), "p90_ms": quantile(lat_ms, 0.9),
            "sweep_s": sum(r["wall_s"] for r in passes[0]),
        },
    }
    if tracer:
        out["layer"] = queries.layer_metrics(ops, tracer)
        out["layer"].update(spark_delta(before, after))
    return out


def spark_delta(before: dict, after: dict) -> dict:
    return {f"spark.{k}": after[k] - before[k] for k in after}


WORKLOADS = {"cdc_backfill": run_cdc_backfill, "query_sweep": run_query_sweep}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        log(f"no {PKG}/ package under {root}; run from a checkout's root")
        return 2
    sys.path[:0] = [HERE, root]
    from sparkenv import SparkEnv
    from tracing import Tracer

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = SparkEnv(work, root)
    try:
        res = WORKLOADS[args.workload](
            env, work, args.seed, args.seconds, Tracer() if args.trace else None)
    finally:
        env.close()
        shutil.rmtree(work, ignore_errors=True)
    for e in res["errors"]:
        log(f"FAILED: {e}")
    log(f"set-ups (s): {[round(s, 3) for s in res['setups']]}")
    if args.trace:
        units = per_layer_units()
        values = {k: float(res["layer"].get(k, 0.0)) for k in units}
        values["mem.peak_mb"] = env.mem.peak_mb()
    else:
        units = END_TO_END
        values = dict(res["e2e"], setup_s=statistics.median(res["setups"]),
                      mem_mb=env.mem.mean_mb(*res["window"]))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
