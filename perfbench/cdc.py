"""The streaming CDC chain workload, ``cdc_backfill``.

It drives the same composition as ``cli chain``, fed by canal wire packets
instead of pre-decoded entries: a ``value: binary`` file stream goes through
``canal.decode_packets`` into ``ingest_job.run_ingest_stream``; the fact
table it writes feeds ``upsert_job``, ``rollup_job`` and ``window_job``.
Per-epoch numbers come from the engine's own ``streaming.metrics`` JSONL.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql.types import DateType, StructField, StructType

from use_clickhouse_2_analyze_mysql_binlog_spark.schemas import BINLOG_EVENT_SCHEMA
from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import (
    epochs,
    ingest_job,
    metrics,
    rollup_job,
    upsert_job,
    window_job,
)

from gen import CdcGenerator, CdcTally

INTERVAL_S = 300  # the reference's 5-minute transaction windows
FACT_SCHEMA = StructType(
    BINLOG_EVENT_SCHEMA.fields + [StructField("day", DateType())]
)
#: streaming query name -> layer name used in the metrics
LAYER = {"ingest": "ingest", "cdc_upsert": "upsert", "rollup_mv": "rollup",
         "window_top1": "window"}


class Chain:
    """One ``cli chain --available-now`` instance: its sinks, checkpoints
    and queries."""

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root
        self.packets = f"{root}/packets"
        self.fact, self.state = f"{root}/fact", f"{root}/state"
        self.rollup, self.results = f"{root}/rollup", f"{root}/results"
        self.ckpt, self.metrics_dir = f"{root}/ckpt", f"{root}/metrics"
        os.makedirs(self.packets, exist_ok=True)
        os.makedirs(self.fact, exist_ok=True)
        self.queries = []

    # Two packet files per ingest trigger and one fact file per downstream
    # trigger give every query two epochs: per-epoch costs repeat, and the
    # watermark from the first window epoch closes windows in the second
    # (a single availableNow batch emits no window at all).
    def start_ingest(self):
        raw = (self.spark.readStream.schema("value binary")
               .option("maxFilesPerTrigger", 2).parquet(self.packets))
        q = ingest_job.run_ingest_stream(
            canal.decode_packets(raw), self.fact, f"{self.ckpt}/ingest",
            available_now=True)
        self.queries.append(q)
        return q

    def start_downstream(self):
        def fact():
            return (self.spark.readStream.schema(FACT_SCHEMA)
                    .option("maxFilesPerTrigger", 1).parquet(self.fact))

        qs = [
            upsert_job.run_upsert_stream(
                fact(), self.state, f"{self.ckpt}/upsert",
                available_now=True),
            rollup_job.run_daily_rollup_stream(
                fact(), self.rollup, f"{self.ckpt}/rollup",
                available_now=True),
            window_job.run_window_job(
                fact(), self.results, f"{self.ckpt}/window",
                window_duration=f"{INTERVAL_S} seconds",
                interval_seconds=INTERVAL_S,
                available_now=True),
        ]
        self.queries.extend(qs)
        return qs

    def epochs(self) -> dict[str, list[dict]]:
        """Per-query epoch records from the ``streaming.metrics`` JSONL."""
        out = {}
        for name in LAYER:
            path = os.path.join(self.metrics_dir, f"{name}.jsonl")
            try:
                with open(path, encoding="utf-8") as fh:
                    out[name] = [json.loads(line) for line in fh]
            except FileNotFoundError:
                out[name] = []
        return out


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def epoch_end(rec: dict) -> float:
    """Wall time a micro-batch finished (trigger start + its duration)."""
    return _ts(rec["ts"]) + (rec["trigger_ms"] or 0) / 1000.0


# ---------------------------------------------------------------------------
# correctness: compare the sinks with the generator's own tallies
# ---------------------------------------------------------------------------

def reference_top1(tally: CdcTally, watermark_s: float) -> pd.DataFrame:
    """Top-1 transaction per closed 5-minute window and metric, computed in
    pandas from the generator's records (independent of the engine)."""
    df = pd.DataFrame({
        "ms": tally.exec_ms, "gtid": tally.gtid, "pos": tally.pos,
        "size": tally.size, "rows": tally.affected})
    w_ms = INTERVAL_S * 1000
    df["win"] = df["ms"] // w_ms * w_ms
    df = df[df["win"] + w_ms <= watermark_s * 1000]
    df = df.sort_values("pos")
    g = df.groupby(["win", "gtid"], sort=False)
    st = pd.DataFrame({
        "transaction_spend_time": (g["ms"].max() - g["ms"].min()) // 1000,
        "transaction_size": g["pos"].max() - g["pos"].min() + g["size"].last(),
        "single_statement_affected_rows": g["rows"].sum(),
    }).reset_index()
    out = []
    for metric, stem in window_job.METRICS.items():
        col = ("single_statement_affected_rows"
               if metric == "transaction_affected_rows" else metric)
        top = (st.sort_values([col, "gtid"], ascending=[False, True])
               .drop_duplicates("win"))
        top = top.assign(stem=stem)
        out.append(top)
    ref = pd.concat(out)
    ref["end_time"] = pd.to_datetime(ref["win"] + w_ms, unit="ms").dt.strftime(
        "%Y-%m-%d %H:%M:%S")
    return ref[["stem", "end_time", "gtid", "transaction_spend_time",
                "transaction_size", "single_statement_affected_rows"]]


def check_chain(spark, chain: Chain, tally: CdcTally) -> list[str]:
    """Every mismatch between the chain's sinks and the tallies."""
    errs = []
    roll = rollup_job.read_rollup(spark, chain.rollup).toPandas()
    if int(roll["event_count"].sum()) != tally.fact_rows:
        errs.append(f"rollup event_count {int(roll['event_count'].sum())} "
                    f"!= {tally.fact_rows} ROWDATA entries")
    state = upsert_job.read_state(spark, chain.state).select(
        "schema", "table", "row_pk", "last_event_type", "last_pos",
        "n_versions").toPandas()
    got = {(f"{r.schema}.{r.table}", int(r.row_pk)):
           (r.last_event_type, int(r.last_pos), int(r.n_versions))
           for r in state.itertuples(index=False)}
    if got != tally.lww_state():
        errs.append(f"upsert state differs from last-write-wins tally "
                    f"({len(got)} vs {len(tally.lww_state())} keys)")
    marks = chain.epochs()["window_top1"]
    wms = [r["watermark"] for r in marks if r.get("watermark")]
    watermark = max((_ts(w) for w in wms), default=0.0)
    ref = reference_top1(tally, watermark)
    parts = []
    for stem in window_job.METRICS.values():
        try:
            df = window_job.read_results(spark, chain.results, stem).toPandas()
        except FileNotFoundError:
            continue
        parts.append(df.assign(stem=stem).drop(columns=["invertal"]))
    res = pd.concat(parts) if parts else ref.iloc[:0]
    key = list(ref.columns)
    a = sorted(map(tuple, res[key].astype(str).values.tolist()))
    b = sorted(map(tuple, ref[key].astype(str).values.tolist()))
    if not b:
        errs.append("no 5-minute window closed; the workload is too short")
    elif a != b:
        errs.append(f"window top-1 rows differ from the reference "
                    f"({len(a)} vs {len(b)} rows)")
    return errs


def stop_queries(queries, errors: list[str]) -> None:
    """Stop queries, recording (never swallowing) any failure."""
    for q in queries:
        try:
            q.stop()
        except Exception as exc:  # noqa: BLE001 - recorded as a failed op
            errors.append(f"{q.name}: stop raised {type(exc).__name__}: {exc}")
        exc = q.exception()
        if exc is not None:
            errors.append(f"{q.name}: {str(exc).splitlines()[0]}")


# ---------------------------------------------------------------------------
# cdc_backfill: closed loop of availableNow drains
# ---------------------------------------------------------------------------

BACKFILL_FILES, BACKFILL_PACKETS_PER_FILE, ENTRIES_PER_PACKET = 4, 60, 100


def backfill_input(work: str, seed: int) -> tuple[str, CdcTally]:
    """The packet files one backfill round drains (written once per run)."""
    src = os.path.join(work, "backfill_packets")
    os.makedirs(src, exist_ok=True)
    # 80 minutes of event time inside one day: one fact file per ingest
    # epoch, and the first epoch's windows close in the second
    g = CdcGenerator(seed, ms_per_entry=200.0, start_ms=1_700_035_200_000)
    for i in range(BACKFILL_FILES):
        g.write_file(os.path.join(src, f"part-{i:04d}.parquet"),
                     BACKFILL_PACKETS_PER_FILE, ENTRIES_PER_PACKET)
    return src, g.tally


def prepare_round(spark, work: str, src: str, n: int) -> Chain:
    """A fresh chain whose packet directory holds the backlog."""
    chain = Chain(spark, os.path.join(work, f"round{n}"))
    for f in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        shutil.copy(f, chain.packets)
    return chain


def drain(chain: Chain) -> dict:
    """Drain the backlog like ``cli chain --available-now``: ingest first,
    then the three downstream queries together."""
    spark, errs = chain.spark, []
    listener = metrics.attach_metrics(spark, chain.metrics_dir)
    t0 = t_mid = time.time()
    try:
        chain.start_ingest().awaitTermination()
        t_mid = time.time()
        for q in chain.start_downstream():
            q.awaitTermination()
    except Exception as exc:  # noqa: BLE001 - a failed drain is a failed op
        errs.append(f"{chain.root}: {type(exc).__name__}: {exc}")
        stop_queries(chain.queries, errs)
    t1 = time.time()
    metrics.detach_metrics(spark, listener)
    return {"chain": chain, "t0": t0, "t_mid": t_mid, "t1": t1, "errors": errs}


def wait_progress(chain: Chain, timeout: float = 10.0) -> None:
    """Listener events arrive asynchronously: wait until the JSONL holds a
    line for every progress update each query reported."""
    want = {q.name: len(q.recentProgress) for q in chain.queries}
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        ep = chain.epochs()
        if all(len(ep.get(n, ())) >= k for n, k in want.items()):
            return
        time.sleep(0.05)


def read_packets(path: str) -> list[bytes]:
    return pq.read_table(path)["value"].to_pylist()


def _sink_of(chain: Chain, arg) -> str | None:
    """Which query published through ``epochs``, from the sink path."""
    path = os.path.abspath(getattr(arg, "root", arg) or "")
    for q, sink in (("ingest", chain.fact), ("cdc_upsert", chain.state),
                    ("rollup_mv", chain.rollup), ("window_top1", chain.results)):
        if path == os.path.abspath(sink):
            return q
    return None


def layer_metrics(rounds: list[dict], tally: CdcTally, tracer) -> dict:
    """Per-layer numbers of a traced run: epoch totals from the metrics
    JSONL, sink sizes, and the self-time split of every round's wall."""
    out: dict[str, float] = {}
    publishes = [sp for sp in tracer.spans if sp["layer"] == "epochs.publish"]
    wall = 0.0
    for r in rounds:
        chain, ep = r["chain"], r["chain"].epochs()
        for q, recs in ep.items():
            name = LAYER[q]
            for key, field in (("batch_ms", "add_batch_ms"),
                               ("trigger_ms", "trigger_ms")):
                out[f"{name}.{key}"] = out.get(f"{name}.{key}", 0.0) + sum(
                    e[field] or 0 for e in recs)
            out[f"{name}.epochs"] = out.get(f"{name}.epochs", 0) + len(recs)
            out[f"{name}.rows"] = out.get(f"{name}.rows", 0) + sum(
                e["num_input_rows"] for e in recs)
        # spans: round > query > trigger > addBatch > epochs publish
        root = tracer.span("other", r["t0"], r["t1"])
        wall += r["t1"] - r["t0"]
        batches = {}
        for q, recs in ep.items():
            if not recs:
                continue
            q0 = r["t0"] if q == "ingest" else r["t_mid"]
            q1 = r["t_mid"] if q == "ingest" else max(epoch_end(e) for e in recs)
            qs = tracer.span(f"{LAYER[q]}.query", q0, q1, root)
            for e in recs:
                end = epoch_end(e)
                ts = tracer.span(f"{LAYER[q]}.trigger", _ts(e["ts"]), end, qs)
                b0 = end - (e["add_batch_ms"] or 0) / 1000.0
                batches.setdefault(q, []).append(
                    tracer.span(f"{LAYER[q]}.batch", b0, end, ts))
        for sp in publishes:
            q = _sink_of(chain, sp["arg"])
            for b in batches.get(q, ()):
                bs = tracer.spans[b]
                if bs["t0"] <= sp["t0"] and sp["t1"] <= bs["t1"] + 0.002:
                    sp["parent"] = b
                    break
        for layer, sec in tracer.self_times(root).items():
            key = "trace.other_ms" if layer == "other" else f"self.{layer}_ms"
            out[key] = out.get(key, 0.0) + sec * 1000
        latest = epochs.read_manifest(chain.state)
        if latest is not None:
            files = [os.path.join(d, f) for d, _, fs in os.walk(latest["dir"])
                     for f in fs if f.endswith(".parquet")]
            out["upsert.state_rows"] = sum(
                pq.ParquetFile(f).metadata.num_rows for f in files)
            out["upsert.snapshot_bytes"] = sum(os.path.getsize(f) for f in files)
        win = ep["window_top1"]
        if win:
            out["window.state_rows"] = win[-1]["state_rows"]
            out["window.state_bytes"] = win[-1]["state_bytes"]
            wm = max(_ts(e["watermark"]) for e in win if e.get("watermark"))
            out["window.watermark_lag_s"] = max(tally.exec_ms) / 1000.0 - wm
    out["trace.wall_ms"] = wall * 1000
    out["epochs.commits"] = tracer.counts["epochs.publish.calls"]
    out["epochs.publish_ms"] = tracer.counts["epochs.publish.s"] * 1000
    out["trace.wrapper_ms"] = tracer.wrapper_s * 1000
    return out
