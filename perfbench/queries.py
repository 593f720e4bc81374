"""The registry query workload, ``query_sweep``.

One client runs a fixed order of registry rows in a closed loop, whole
passes only. An operation is one registry call (driver-side translate and
analysis) plus collecting its result; outputs are checked afterwards
against the registry's DuckDB oracles.
"""

from __future__ import annotations

import time

import duckdb
import pandas as pd

from use_clickhouse_2_analyze_mysql_binlog_spark import queries_registry as R
from use_clickhouse_2_analyze_mysql_binlog_spark.operators import cachetrack

QUERY_SWEEP = (
    # the reference's core: per-window transaction stats and top-1 rows
    "transaction_stats", "top_transaction_by_size",
    "top_transaction_by_spend_time", "transaction_result_table",
    # MergeTree-family rollups
    "daily_event_counts_by_table", "summing_rollup_reaggregate",
    "replacing_merge_final",
    # ClickHouse-dialect rows through ch_compat.translate
    "ch_dashboard_rollup", "ch_prewhere_profile", "ch_top_event_limit_by",
    # corpus rows; the first three each build one family-shared cache
    # (shingle posting, IVF assignment, flagged corpus), so a pass charges
    # every build to its first consumer
    "dedup_minhash_lsh_staged", "similarity_ivf_topk_nprobe",
    "corpus_curate_materialize", "dedup_exact", "dedup_embedding_cosine",
    "corpus_top_bigrams",
)
TABLES = ("events", "documents", "embeddings")

FAMILY = {"dedup_": "dedup", "similarity_": "similarity", "corpus_": "curation"}


def family(name: str) -> str:
    return next((f for p, f in FAMILY.items() if name.startswith(p)), "analytics")


def run_pass(spark, sf_dir: str, names: list[str]) -> list[dict]:
    """One pass over ``names``; each record holds the op's start, its
    build (registry call) and collect times and the collected result."""
    out = []
    for name in names:
        t0 = t1 = time.time()
        rec = {"name": name, "t0": t0}
        try:
            df = R.QUERIES[name](spark, sf_dir)
            t1 = time.time()
            rec["result"] = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            rec["error"] = f"{name}: {type(exc).__name__}: {exc}"
        t2 = time.time()
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        out.append(rec)
    return out


def cold_caches() -> None:
    """Drop every family-shared cache so the next pass rebuilds them and
    charges each build to its first consumer."""
    cachetrack.release_all()


def _rows(df: pd.DataFrame) -> list[str]:
    """The verify recipe's compare: sorted columns, stringified rows."""
    return sorted(map(str, df[sorted(df.columns)].itertuples(index=False, name=None)))


def check(passes: list[list[dict]], sf_dir: str, tables: tuple[str, ...]) -> list[str]:
    """Compare the first pass with the DuckDB oracles (row count where a row
    has none) and every later pass with the first."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    errs, first = [], {}
    for rec in passes[0]:
        if "error" in rec:
            continue
        name, got = rec["name"], rec["result"]
        first[name] = _rows(got)
        sql = R.ORACLES.get(name)
        if sql is None:
            if len(got) == 0:
                errs.append(f"{name}: empty result")
            continue
        want = con.sql(sql).fetchdf()
        if sorted(got.columns) != sorted(want.columns) or first[name] != _rows(want):
            errs.append(f"{name}: differs from its oracle "
                        f"({len(got)} vs {len(want)} rows)")
    for p in passes[1:]:
        for rec in p:
            if "error" not in rec and rec["name"] in first \
                    and _rows(rec["result"]) != first[rec["name"]]:
                errs.append(f"{rec['name']}: result changed between passes")
    con.close()
    return errs


def layer_metrics(ops: list[dict], tracer) -> dict:
    """Per-layer numbers of a traced run. Each op is a span with a build
    and a collect child; ``ch_compat.translate`` calls nest in the build."""
    out: dict[str, float] = {}
    translates = [sp for sp in tracer.spans if sp["layer"] == "ch_compat.translate"]
    tracks = [sp["t0"] for sp in tracer.spans if sp["layer"] == "cachetrack.track"]
    for rec in ops:
        t0, t1 = rec["t0"], rec["t0"] + rec["build_s"]
        t2 = t1 + rec["exec_s"]
        fam = family(rec["name"])
        root = tracer.span("other", t0, t2)
        build = tracer.span("analytics.build", t0, t1, root)
        tracer.span(f"{fam}.exec", t1, t2, root)
        for sp in translates:
            if t0 <= sp["t0"] and sp["t1"] <= t1:
                sp["parent"] = build
        for layer, sec in tracer.self_times(root).items():
            key = "trace.other_ms" if layer == "other" else f"self.{layer}_ms"
            out[key] = out.get(key, 0.0) + sec * 1000
        out[f"{fam}.exec_ms"] = out.get(f"{fam}.exec_ms", 0.0) + rec["exec_s"] * 1000
        out["analytics.build_ms"] = out.get("analytics.build_ms", 0.0) + rec["build_s"] * 1000
        if any(t0 <= t <= t2 for t in tracks):  # this op built a shared cache
            out["cachetrack.build_ms"] = out.get("cachetrack.build_ms", 0.0) + rec["wall_s"] * 1000
        if fam == "dedup" and "result" in rec:
            out["dedup.rows_out"] = out.get("dedup.rows_out", 0) + len(rec["result"])
    out["trace.wall_ms"] = sum(r["wall_s"] for r in ops) * 1000
    out["ch_compat.calls"] = tracer.counts["ch_compat.translate.calls"]
    out["ch_compat.translate_ms"] = tracer.counts["ch_compat.translate.s"] * 1000
    out["cachetrack.builds"] = tracer.counts["cachetrack.builds"]
    out["cachetrack.released"] = tracer.counts["cachetrack.released"]
    out["trace.wrapper_ms"] = tracer.wrapper_s * 1000
    return out
