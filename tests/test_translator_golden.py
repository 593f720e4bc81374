"""Golden corpus for the ClickHouse SQL and DDL translators.

``data/translator_golden.json`` holds recorded calls to ``ch_compat.translate``
and ``ddl_compat.split_statements`` / ``parse_statement`` / ``migrate_script``,
taken from the translator tests, the registry's ClickHouse SQL and the README
CLI examples. Each record has the call's arguments and either its output
(``repr`` for the DDL objects) or the type of the exception it raised. The
replay needs no Spark session: every output must stay byte-identical and
every failure must keep its exception type.
"""

import json
from pathlib import Path

from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
    ch_compat,
    ddl_compat,
)

CORPUS = json.loads(
    (Path(__file__).parent / "data" / "translator_golden.json").read_text()
)


def _replay(fn: str, args: dict):
    if fn == "translate":
        if "timestamp_columns" in args:
            args = {**args, "timestamp_columns": tuple(args["timestamp_columns"])}
        return ch_compat.translate(**args)
    if fn == "split_statements":
        return ddl_compat.split_statements(**args)
    return repr(getattr(ddl_compat, fn)(**args))


def test_translator_golden_corpus():
    diffs = []
    for rec in CORPUS:
        try:
            got = {"out": _replay(rec["fn"], rec["args"])}
        except Exception as e:  # noqa: BLE001 - the type is the record
            got = {"raises": type(e).__name__}
        want = {k: rec[k] for k in ("out", "raises") if k in rec}
        if got != want:
            diffs.append((rec["fn"], rec["args"], want, got))
    assert not diffs, f"{len(diffs)} of {len(CORPUS)} differ; first: {diffs[:3]}"
