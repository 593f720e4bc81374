"""Windowed transaction analytics — the reference's core query layer.

Re-expresses ``compute_transaction_info.py:53-116`` (three per-5-minute-window
``GROUP BY gtid`` queries differing only in their ORDER BY metric) as one
Spark aggregation + rank-1 selection:

- A1 hash agg on gtid                (``compute_transaction_info.py:63``)
- A2 ``max(execute_time)-min(execute_time)`` spend time  (``:58``)
- A3 ``(max(pos)-min(pos)) + argMax(size, pos)`` transaction size (``:59``;
  rationale worked example ``mon_mysql_dml.py:264-310``)
- A4 ``sum(single_statement_affected_rows)``             (``:60``)
- T2 top-1 per window per metric     (``:64-65, 89-90, 114-115``)
- W1 5-minute tumbling windows       (``:154, 177-178``)
- P8 constant projections ``end_time`` / ``invertal`` [sic] result columns
  (``:55-56``; DDL ``README.md:268-281``)

Scale notes (100 TB): the groupBy shuffles on (window, gtid) — high
cardinality, well distributed (gtids are uuid:seq), so partial aggregation
does almost all the work map-side per day-partition. The top-1 selection uses
``row_number`` over a window partitioned by the *time window* — per-window
group counts are bounded by gtid cardinality per 5 minutes, and Catalyst
plans sort+limit variants as TakeOrderedAndProject. The time-range filter is
on the partition column's source (``execute_time``) so day-partition pruning
applies (SURVEY.md §1.4, §4).

The reference's three query shapes contain a call-site bug (results for
most-time-consuming / most-affected-rows swapped at
``compute_transaction_info.py:169-172``); per SURVEY.md §7 we implement the
*intended* routing.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"

#: result metric -> result-table name stem (README.md:268-345)
METRICS = {
    "transaction_size": "largest_transaction",
    "transaction_spend_time": "most_time_consuming_transaction",
    "transaction_affected_rows": "most_affected_rows_transaction",
}


def transaction_stats(
    binlog: DataFrame,
    window_duration: str = "5 minutes",
    time_col: str = "execute_time",
) -> DataFrame:
    """Per-(tumbling window, gtid) transaction statistics.

    One output row per MySQL transaction per window, carrying the three
    metrics the reference ranks by. Window bounds are emitted as formatted
    strings (stable across engines/timezones for the oracle compare).
    """
    win = F.window(F.col(time_col), window_duration)
    return (
        binlog.groupBy(win.alias("win"), F.col("gtid"))
        .agg(
            (
                F.unix_millis(F.max(time_col)) - F.unix_millis(F.min(time_col))
            ).alias("transaction_spend_ms"),
            (
                F.max("binlog_pos")
                - F.min("binlog_pos")
                + F.max_by("single_statement_size", "binlog_pos")
            ).alias("transaction_size"),
            F.sum("single_statement_affected_rows").alias(
                "transaction_affected_rows"
            ),
            F.count(F.lit(1)).alias("statement_count"),
        )
        .select(
            F.date_format("win.start", TS_FMT).alias("window_start"),
            F.date_format("win.end", TS_FMT).alias("end_time"),
            "gtid",
            F.floor(F.col("transaction_spend_ms") / 1000)
            .cast("long")
            .alias("transaction_spend_time"),
            "transaction_size",
            "transaction_affected_rows",
            "statement_count",
        )
    )


def _top1_window(metric: str) -> Window:
    """The one definition of T2's per-window order: ``metric`` descending
    (NULLs last), then gtid ascending as the deterministic tie-break."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}")
    return Window.partitionBy("window_start").orderBy(
        F.col(metric).desc(), F.col("gtid").asc()
    )


def top_transactions(stats: DataFrame, metric: str) -> DataFrame:
    """Top-1 transaction per window by ``metric`` (T2).

    ``row_number`` (not rank) with a gtid tie-break keeps the result
    deterministic — the reference's ``ORDER BY metric DESC LIMIT 1`` is
    nondeterministic under ties (SURVEY.md §5.4).
    """
    return (
        stats.withColumn("rn", F.row_number().over(_top1_window(metric)))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def top1_flag(metric: str) -> str:
    """Name of :func:`top_transactions_all`'s flag column for ``metric``."""
    return f"top1_{metric}"


def top_transactions_all(stats: DataFrame) -> DataFrame:
    """The rows of ``stats`` that are top-1 for ANY of the :data:`METRICS`,
    each with one boolean :func:`top1_flag` column per metric.

    ``top_transactions_all(stats).filter(top1_flag(m))`` holds the same
    rows as ``top_transactions(stats, m)``: the same window spec ranks
    both. All three ``row_number`` columns share the ``window_start``
    partitioning, so the plan has ONE exchange (three sorts over it)
    instead of one exchange per metric, and the result is at most three
    rows per window.
    """
    ranked = stats.withColumns(
        {
            top1_flag(m): F.row_number().over(_top1_window(m)) == 1
            for m in METRICS
        }
    )
    return ranked.filter(
        reduce(operator.or_, (F.col(top1_flag(m)) for m in METRICS))
    )


def result_columns(top: DataFrame, interval_seconds: int = 300) -> DataFrame:
    """Shape top-1 rows like the reference result tables.

    Columns per ``README.md:268-281``: ``end_time`` (window high watermark,
    P8 constant projection ``compute_transaction_info.py:55``), ``invertal``
    [sic — reference's column name, ``README.md:271``] = window length in
    seconds as a string, gtid + the three metrics.
    """
    return top.select(
        "end_time",
        F.lit(str(interval_seconds)).alias("invertal"),
        "gtid",
        "transaction_spend_time",
        "transaction_size",
        F.col("transaction_affected_rows").alias("single_statement_affected_rows"),
    )


def transaction_result_table(
    stats: DataFrame, metric: str, interval_seconds: int = 300
) -> DataFrame:
    """The reference result table for ``metric``: its top-1 rows shaped by
    :func:`result_columns`."""
    return result_columns(top_transactions(stats, metric), interval_seconds)
