"""DDL migration: the reference deployment's bootstrap DDL (README.md:
99-320 — ReplicatedMergeTree fact table + Distributed wrappers + Summing
rollup stores fed by MATERIALIZED VIEWs) parses into this engine's
storage/streaming plan, and the MV batch twins actually run and agree
with the native rollup operators."""

import os

import pytest

from use_clickhouse_2_analyze_mysql_binlog_spark import schemas
from use_clickhouse_2_analyze_mysql_binlog_spark.functions import (
    ch_compat,
    ddl_compat,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# Hand-written DDL following the reference shapes (README.md:99-199):
# fact table + Distributed wrapper + Summing rollup store + the MV
# feeding it. Unicode comments and {macro} args exercise the lexer.
FACT_DDL = """
CREATE TABLE mysql_monitor.broker_binlog_local
(
    `schema` String COMMENT '库名',
    `table` String COMMENT '表名',
    `event_type` String,
    `is_ddl` UInt8,
    `execute_time` DateTime COMMENT '执行时间',
    `gtid` String,
    `single_statement_affected_rows` UInt32,
    `single_statement_size` String DEFAULT '0',
    `ctime` DateTime DEFAULT now()
)
ENGINE = ReplicatedMergeTree('/clickhouse/t/{shard}/broker_binlog', '{replica}')
PARTITION BY toDate(execute_time)
ORDER BY (execute_time, gtid, table, schema)
TTL execute_time + toIntervalMonth(30)
SETTINGS index_granularity = 8192
"""

SCRIPT = (
    FACT_DDL
    + """;
CREATE TABLE mysql_monitor.broker_binlog
( `schema` String, `execute_time` DateTime )
ENGINE = Distributed('ch_cluster_all', 'mysql_monitor', 'broker_binlog_local', rand());

-- rollup store
CREATE TABLE mysql_monitor.broker_daily_binlog_event_count_local ON CLUSTER ch_cluster_all
(
    `day` Date,
    `event_type` String,
    `event_count` UInt64
)
ENGINE = ReplicatedSummingMergeTree('/clickhouse/t/{shard}/daily_count', '{replica}')
PARTITION BY day
ORDER BY (day, event_type)
TTL day + toIntervalMonth(30)
SETTINGS index_granularity = 8192;

CREATE MATERIALIZED VIEW mysql_monitor.daily_count_mv ON CLUSTER ch_cluster_all TO mysql_monitor.broker_daily_binlog_event_count_local
(
    `day` Date,
    `event_type` String,
    `event_count` UInt64
) AS
SELECT
    toDate(execute_time) AS day,
    event_type,
    count(*) AS event_count
FROM mysql_monitor.broker_binlog_local
GROUP BY day, event_type
ORDER BY day ASC, event_type ASC
"""
)


def test_parse_fact_table():
    t = ddl_compat.parse_statement(FACT_DDL)
    assert t.full_name == "mysql_monitor.broker_binlog_local"
    assert t.engine_family == "MergeTree" and t.replicated
    assert t.order_by == ("execute_time", "gtid", "table", "schema")
    assert t.partition_by == "toDate(execute_time)"
    assert t.ttl_months == 30
    by_name = {c.name: c for c in t.columns}
    assert by_name["is_ddl"].spark_type == "int"  # UInt8
    assert by_name["execute_time"].spark_type == "timestamp"
    assert by_name["single_statement_affected_rows"].spark_type == "bigint"
    assert by_name["schema"].comment == "库名"
    assert by_name["single_statement_size"].default == "'0'"
    assert by_name["ctime"].default == "now()"


def test_migrate_script_action_plan():
    objects, actions = ddl_compat.migrate_script(SCRIPT)
    assert [type(o).__name__ for o in objects] == [
        "TableDdl", "TableDdl", "TableDdl", "MatViewDdl",
    ]
    kinds = [(a.kind, a.target) for a in actions]
    assert kinds == [
        ("fact_table", "mysql_monitor.broker_binlog_local"),
        ("retention", "mysql_monitor.broker_binlog_local"),
        ("distributed_noop", "mysql_monitor.broker_binlog"),
        ("rollup_store",
         "mysql_monitor.broker_daily_binlog_event_count_local"),
        ("retention",
         "mysql_monitor.broker_daily_binlog_event_count_local"),
        ("materialized_view", "mysql_monitor.daily_count_mv"),
    ]
    by_kind = {a.kind: a for a in actions}
    assert "write_fact_table" in by_kind["fact_table"].api
    assert "sortWithinPartitions('execute_time', 'gtid', 'table', 'schema')" \
        in by_kind["fact_table"].detail
    assert "retention_sweep" in by_kind["retention"].api
    # the Summing store records its read-side re-aggregation contract
    rs = by_kind["rollup_store"]
    assert "summing_merge" in rs.api
    assert "keys=['day', 'event_type']" in rs.detail
    assert "metrics=['event_count']" in rs.detail
    # the MV resolves its TO target to the Summing store -> streaming
    # rollup recommendation with a runnable translated twin
    mv = by_kind["materialized_view"]
    assert "rollup_job" in mv.api
    assert "to_date(execute_time)" in mv.sql


def test_mv_batch_twin_matches_native_rollup(spark):
    """The translated MV SELECT, run over the binlog view, equals the
    native daily_event_counts operator — a migrating user's MV produces
    the same rollup rows this engine's streaming MV maintains."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    objects, actions = ddl_compat.migrate_script(SCRIPT)
    mv = next(a for a in actions if a.kind == "materialized_view")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    binlog.createOrReplaceTempView("binlog")
    twin = spark.sql(
        ch_compat.translate(
            next(
                o for o in objects if isinstance(o, ddl_compat.MatViewDdl)
            ).select_ch,
            table_map={"mysql_monitor.broker_binlog_local": "binlog"},
        )
    )
    native = rollups.daily_event_counts(binlog)
    # day types differ (date vs formatted string) by documented contract;
    # compare on stringified day
    t = {(str(r.day), r.event_type): r.event_count for r in twin.collect()}
    n = {
        (str(r.day), r.event_type): r.event_count for r in native.collect()
    }
    assert t == n and len(t) > 0
    del mv


def test_mv_populate_and_inner_engine():
    mv = ddl_compat.parse_statement(
        "CREATE MATERIALIZED VIEW mv ENGINE = SummingMergeTree() "
        "ORDER BY (day) POPULATE AS SELECT toDate(execute_time) AS day, "
        "count(*) AS n FROM src GROUP BY day"
    )
    assert mv.populate and mv.to_target is None
    assert "to_date" in mv.select_spark
    _, actions = ddl_compat.migrate_script(
        "CREATE MATERIALIZED VIEW mv TO tgt AS SELECT 1 AS x"
    )
    # unresolvable target -> plain batch-twin action, not a rollup rec
    assert actions[0].api == "spark.sql (batch twin)"


def test_ddl_loud_paths():
    for bad, msg in [
        ("DROP TABLE t", "only CREATE TABLE"),
        ("CREATE TABLE t (x String)", "ENGINE clause is required"),
        ("CREATE TABLE t (x String) ENGINE = Kafka()", "no translated"),
        ("CREATE TABLE t (x Point) ENGINE = MergeTree() ORDER BY (x)",
         None),  # unknown type -> flagged at plan time
        ("CREATE TABLE t (x String, PROJECTION p (x, sum(x))) "
         "ENGINE = MergeTree() ORDER BY (x)", "PROJECTION"),  # no SELECT
        ("CREATE TABLE t (x String, PROJECTION p (SELECT ORDER BY x)) "
         "ENGINE = MergeTree() ORDER BY (x)", "empty select list"),
        ("CREATE TABLE t (x String, ts DateTime) ENGINE = MergeTree() "
         "ORDER BY (cityHash64(x))", "expression"),
        ("CREATE TABLE t (ts DateTime) ENGINE = MergeTree() ORDER BY (ts) "
         "TTL ts + toIntervalMonth(1) RECOMPRESS CODEC(ZSTD)",
         "TTL action"),
        ("CREATE TABLE t (ts DateTime) ENGINE = MergeTree() ORDER BY (ts) "
         "TTL ts + toIntervalMonth(1), ts + toIntervalDay(7)", "TTL"),
        ("CREATE MATERIALIZED VIEW mv TO tgt (x String)", "AS SELECT"),
    ]:
        if msg is None:
            obj = ddl_compat.parse_statement(bad)
            with pytest.raises(ValueError, match="untranslated CH types"):
                ddl_compat.plan_actions([obj])
        else:
            with pytest.raises(ValueError, match=msg):
                ddl_compat.parse_statement(bad)


def test_skip_indexes_map_to_parquet_analogues():
    """Data-skipping INDEX defs are performance-only, so every type gets
    an honest parquet mapping instead of a refusal: bloom_filter -> the
    writer's real per-column bloom option, minmax/set -> documented
    subsumption by row-group stats, tokenbf -> documented loss."""
    tbl = ddl_compat.parse_statement(
        "CREATE TABLE db.binlog (gtid String, tbl String, msg String, "
        "ts DateTime, "
        "INDEX ix_gtid gtid TYPE bloom_filter(0.025) GRANULARITY 4, "
        "INDEX ix_ts ts TYPE minmax GRANULARITY 1, "
        "INDEX ix_tbl tbl TYPE set(100) GRANULARITY 4, "
        "INDEX ix_msg msg TYPE tokenbf_v1(256, 2, 0) GRANULARITY 4, "
        "INDEX ix_expr lower(gtid) TYPE bloom_filter GRANULARITY 4) "
        "ENGINE = MergeTree() PARTITION BY toDate(ts) ORDER BY (ts, gtid)"
    )
    assert [(i.name, i.itype, i.granularity) for i in tbl.indexes] == [
        ("ix_gtid", "bloom_filter", 4), ("ix_ts", "minmax", 1),
        ("ix_tbl", "set", 4), ("ix_msg", "tokenbf_v1", 4),
        ("ix_expr", "bloom_filter", 4),
    ]
    assert tbl.indexes[0].args == ("0.025",)
    assert tbl.indexes[0].plain_column == "gtid"
    assert tbl.indexes[4].plain_column is None  # expression

    acts = {a.detail.split(":")[0]: a
            for a in ddl_compat.plan_actions([tbl])
            if a.kind == "skip_index"}
    assert len(acts) == 5
    bloom = acts["INDEX ix_gtid"]
    assert bloom.api == "plans.storage.write_fact_table"
    assert "bloom_filters={'gtid': 0.025}" in bloom.detail
    assert "min/max" in acts["INDEX ix_ts (ts) TYPE minmax"].detail
    # ts leads the sort key -> the stronger sorted-stats statement
    assert "sort key" in acts["INDEX ix_ts (ts) TYPE minmax"].detail
    assert "dictionary" in acts["INDEX ix_tbl (tbl) TYPE set(100)"].detail
    tok = acts["INDEX ix_msg (msg) TYPE tokenbf_v1"]
    assert "no parquet" in tok.api and "scan" in tok.detail
    assert "materialize" in acts["INDEX ix_expr"].detail


def test_constraint_maps_to_violation_check(spark):
    """CONSTRAINT ... CHECK has no insert gate on append-only parquet;
    the plan surfaces a runnable translated violation count."""
    tbl = ddl_compat.parse_statement(
        "CREATE TABLE db.binlog (sz UInt64, ts DateTime, "
        "CONSTRAINT c_sz CHECK sz > 0, "
        "CONSTRAINT c_ts CHECK toDate(ts) >= toDate('2020-01-01')) "
        "ENGINE = MergeTree() ORDER BY (ts)"
    )
    assert [c[0] for c in tbl.constraints] == ["c_sz", "c_ts"]
    checks = [a for a in ddl_compat.plan_actions([tbl])
              if a.kind == "constraint_check"]
    assert len(checks) == 2 and all(a.sql for a in checks)
    assert "to_date" in checks[1].sql  # went through the translator
    spark.range(5).selectExpr(
        "id + 1 AS sz", "timestamp'2024-01-02 03:04:05' AS ts"
    ).createOrReplaceTempView("binlog")
    try:
        for a in checks:
            assert spark.sql(a.sql).collect()[0].violations == 0
    finally:
        spark.catalog.dropTempView("binlog")
    # unknown CHECK function passes through verbatim (translator
    # policy) and fails loudly at execution, never silently-wrong
    bad = ddl_compat.parse_statement(
        "CREATE TABLE t (x String, "
        "CONSTRAINT c CHECK ngramDistance(x, 'a') < 0.5) "
        "ENGINE = MergeTree() ORDER BY (x)"
    )
    (bad_check,) = [a for a in ddl_compat.plan_actions([bad])
                    if a.kind == "constraint_check"]
    assert "ngramDistance" in bad_check.sql
    spark.range(1).selectExpr("'a' AS x").createOrReplaceTempView("t")
    try:
        with pytest.raises(Exception, match="ngramDistance"):
            spark.sql(bad_check.sql).collect()
    finally:
        spark.catalog.dropTempView("t")


def test_ctas_parse_and_plan():
    """r07: CREATE TABLE ... AS SELECT parses (column list optional —
    CH infers the schema from the select); the plan carries the
    translated populate SELECT; the AS <table> schema-clone form and
    empty definitions stay loud."""
    t = ddl_compat.parse_statement(
        "CREATE TABLE db.top_events ENGINE = MergeTree() ORDER BY (n) "
        "AS SELECT event_type, count() AS n FROM db.binlog "
        "GROUP BY event_type"
    )
    assert t.columns == [] and t.engine_family == "MergeTree"
    assert "count(*)" in t.as_select_spark
    (fa,) = [a for a in ddl_compat.plan_actions([t])
             if a.kind == "fact_table"]
    assert fa.sql == t.as_select_spark
    assert "CTAS" in fa.detail and "inferred" in fa.detail

    t2 = ddl_compat.parse_statement(
        "CREATE TABLE t (n UInt64) ENGINE = MergeTree() ORDER BY (n) "
        "AS SELECT 1 AS n"
    )
    assert t2.columns[0].name == "n" and t2.as_select_ch == "SELECT 1 AS n"

    with pytest.raises(ValueError, match="schema clone"):
        ddl_compat.parse_statement(
            "CREATE TABLE a AS db.b ENGINE = "
            "Distributed('c', 'db', 'b', rand())"
        )
    with pytest.raises(ValueError, match="column list or AS SELECT"):
        ddl_compat.parse_statement(
            "CREATE TABLE t ENGINE = MergeTree() ORDER BY (x)"
        )
    # an AS deeper in the tail (CAST inside a TTL WHERE) is ordinary
    # expression syntax, never a clone
    t3 = ddl_compat.parse_statement(
        "CREATE TABLE db.t (d Date, flag String) ENGINE = MergeTree() "
        "ORDER BY (d) TTL d + INTERVAL 1 DAY "
        "DELETE WHERE CAST(flag AS UInt8) = 1"
    )
    assert t3.ttl_where == "CAST(flag AS UInt8) = 1"


def test_view_rename_dictionary_parse_and_plan():
    """r07: plain CREATE VIEW (translated, registered before MV twins),
    RENAME/EXCHANGE TABLES (filesystem moves), CREATE DICTIONARY (->
    broadcast-dim join plan, the P6 enum-decode path)."""
    v = ddl_compat.parse_statement(
        "CREATE OR REPLACE VIEW db.v ON CLUSTER main AS "
        "SELECT toDate(ts) AS day, count() AS n FROM db.binlog "
        "GROUP BY day"
    )
    assert v.kind == "view" and v.full_name == "db.v"
    assert "to_date" in v.select_spark and "count(*)" in v.select_spark

    r = ddl_compat.parse_statement("RENAME TABLE db.a TO db.b, c TO d")
    assert r.pairs == (("db.a", "db.b"), ("c", "d")) and not r.exchange
    e = ddl_compat.parse_statement("EXCHANGE TABLES db.a AND db.b")
    assert e.exchange and e.pairs == (("db.a", "db.b"),)

    d = ddl_compat.parse_statement(
        "CREATE DICTIONARY db.event_names ("
        "event_type_id UInt64, name String DEFAULT 'unknown') "
        "PRIMARY KEY event_type_id "
        "SOURCE(MYSQL(host 'h' table 'names')) "
        "LAYOUT(HASHED()) LIFETIME(MIN 300 MAX 600)"
    )
    assert d.kind == "dictionary"
    assert d.primary_key == ("event_type_id",)
    assert [c.name for c in d.columns] == ["event_type_id", "name"]
    assert d.source.startswith("MYSQL") and d.layout == "HASHED()"
    assert d.lifetime == "MIN 300 MAX 600"

    acts = ddl_compat.plan_actions([v, r, e, d])
    assert [a.kind for a in acts] == [
        "view", "rename", "rename", "rename", "dictionary",
    ]
    assert acts[0].sql == v.select_spark
    assert acts[1].target == "db.a -> db.b"
    assert "temporary name" in acts[3].detail  # the EXCHANGE note
    assert "broadcast" in acts[4].detail
    assert "['event_type_id']" in acts[4].detail
    assert "['name']" in acts[4].detail

    with pytest.raises(ValueError, match="PRIMARY KEY is required"):
        ddl_compat.parse_statement(
            "CREATE DICTIONARY d (k UInt64) SOURCE(FILE(path 'x')) "
            "LAYOUT(FLAT())"
        )
    with pytest.raises(ValueError, match="RENAME TABLE item"):
        ddl_compat.parse_statement("RENAME TABLE a b")


def test_optimize_truncate_parse_and_plan():
    """r07: OPTIMIZE TABLE -> compaction (FINAL = documented no-op:
    reads already apply merge semantics) / DEDUPLICATE -> per-partition
    dedup rewrite; TRUNCATE -> drop every partition."""
    o = ddl_compat.parse_statement(
        "OPTIMIZE TABLE db.binlog PARTITION '2024-01-03' FINAL "
        "DEDUPLICATE BY gtid, execute_time"
    )
    assert o.op == "optimize" and o.partition == "2024-01-03"
    assert o.final and o.deduplicate
    assert o.dedup_by == ("gtid", "execute_time")
    (act,) = ddl_compat.plan_actions([o])
    assert act.api == "plans.storage.optimize_deduplicate"
    assert "'2024-01-03'" in act.detail and "merge semantics" in act.detail

    p = ddl_compat.parse_statement("OPTIMIZE TABLE db.binlog FINAL")
    assert p.final and not p.deduplicate and p.partition is None
    (act,) = ddl_compat.plan_actions([p])
    assert act.api == "plans.storage.compact_day_partitions"

    t = ddl_compat.parse_statement(
        "TRUNCATE TABLE IF EXISTS db.binlog ON CLUSTER main"
    )
    assert t.op == "truncate" and t.full_name == "db.binlog"
    (act,) = ddl_compat.plan_actions([t])
    assert act.api == "plans.storage.truncate_table"

    with pytest.raises(ValueError, match="not translated"):
        ddl_compat.parse_statement(
            "OPTIMIZE TABLE t FINAL SETTINGS optimize_skip_merged=1"
        )
    with pytest.raises(ValueError, match="plain columns"):
        ddl_compat.parse_statement(
            "OPTIMIZE TABLE t DEDUPLICATE BY toDate(ts)"
        )


def test_alter_table_parse_and_plan():
    """r07: ALTER TABLE mutations and schema changes parse and map —
    DELETE/UPDATE -> bounded mutate_rows rewrites, DROP PARTITION ->
    metadata-only delete, ADD/DROP COLUMN -> parquet schema evolution;
    unknown commands and comma-chained lists stay loud."""
    d = ddl_compat.parse_statement(
        "ALTER TABLE db.binlog DELETE WHERE event_type = 'ERROR' "
        "AND toDate(ts) < toDate('2024-01-01')"
    )
    assert d.action == "delete" and "toDate(ts)" in d.where
    u = ddl_compat.parse_statement(
        "ALTER TABLE db.binlog ON CLUSTER main UPDATE "
        "sz = sz * 2, tbl = upper(tbl) WHERE gtid = 'g1'"
    )
    assert u.action == "update"
    assert u.set_exprs == (("sz", "sz * 2"), ("tbl", "upper(tbl)"))
    assert u.where == "gtid = 'g1'"
    p = ddl_compat.parse_statement(
        "ALTER TABLE db.binlog DROP PARTITION '2024-01-03'"
    )
    assert p.action == "drop_partition" and p.partition == "2024-01-03"
    # DETACH is NOT a delete (CH keeps detached parts for ATTACH)
    dt_ = ddl_compat.parse_statement(
        "ALTER TABLE db.binlog DETACH PARTITION '2024-01-03'"
    )
    assert dt_.action == "detach_partition"
    at = ddl_compat.parse_statement(
        "ALTER TABLE db.binlog ATTACH PARTITION '2024-01-03'"
    )
    assert at.action == "attach_partition"
    (da,) = ddl_compat.plan_actions([dt_])
    assert "detach_partition" in da.api and "NOT deleted" in da.detail
    a = ddl_compat.parse_statement(
        "ALTER TABLE db.binlog ADD COLUMN IF NOT EXISTS "
        "note String DEFAULT 'n/a'"
    )
    assert a.action == "add_column"
    assert a.column.name == "note" and a.column.spark_type == "string"
    assert a.column.default == "'n/a'"
    x = ddl_compat.parse_statement(
        "ALTER TABLE db.binlog DROP COLUMN IF EXISTS note"
    )
    assert x.action == "drop_column" and x.column.name == "note"

    acts = ddl_compat.plan_actions([d, u, p, a, x])
    assert [ac.kind for ac in acts] == ["mutation"] * 5
    assert acts[0].api == "plans.storage.mutate_rows"
    assert "to_date(ts)" in acts[0].detail  # translated predicate
    assert "upper(tbl)" in acts[1].detail
    assert acts[2].api == "plans.storage.drop_partition"
    assert "schema evolution" in acts[3].api
    assert "coalesce" in acts[3].detail  # the DEFAULT read-side form
    assert "column pruning" in acts[4].api

    for bad, msg in [
        ("ALTER TABLE t MODIFY TTL ts + toIntervalDay(1)", "MODIFY"),
        ("ALTER TABLE t FREEZE", "FREEZE"),
        ("ALTER TABLE t UPDATE x = 1", "UPDATE"),  # no WHERE
        ("ALTER TABLE t DELETE WHERE x = 1, DROP COLUMN y",
         "comma-chained"),
    ]:
        with pytest.raises(ValueError, match=msg):
            ddl_compat.parse_statement(bad)


def test_ttl_row_level_actions_parse_and_plan():
    """r07: row-level TTL actions map instead of refusing — DELETE WHERE
    -> bounded expired-partition rewrite, GROUP BY ... SET ->
    rollup-on-expiry, TO DISK/VOLUME -> documented tiering (a MOVE,
    never a delete); both interval spellings parse."""
    dw = ddl_compat.parse_statement(
        "CREATE TABLE t (ts DateTime, event_type String, sz UInt64) "
        "ENGINE = MergeTree() ORDER BY (ts) "
        "TTL ts + INTERVAL 90 DAY DELETE WHERE event_type = 'DELETE'"
    )
    assert dw.ttl_days == 90 and dw.ttl_where == "event_type = 'DELETE'"
    (ra,) = [a for a in ddl_compat.plan_actions([dw])
             if a.kind == "retention"]
    assert ra.api == "plans.storage.ttl_row_sweep"
    assert "where=" in ra.detail and "event_type = 'DELETE'" in ra.detail

    gb = ddl_compat.parse_statement(
        "CREATE TABLE t (day Date, event_type String, n UInt64, "
        "sz UInt64) ENGINE = MergeTree() ORDER BY (day, event_type) "
        "TTL day + toIntervalMonth(6) GROUP BY day, event_type "
        "SET n = sum(n), sz = max(sz)"
    )
    assert gb.ttl_months == 6
    assert gb.ttl_group_by == ("day", "event_type")
    assert gb.ttl_set == (("n", "sum(n)"), ("sz", "max(sz)"))
    (ra,) = [a for a in ddl_compat.plan_actions([gb])
             if a.kind == "retention"]
    assert "rollup-on-expiry" in ra.detail and "sum(n)" in ra.detail

    tv = ddl_compat.parse_statement(
        "CREATE TABLE t (ts DateTime) ENGINE = MergeTree() "
        "ORDER BY (ts) TTL ts + toIntervalMonth(1) TO VOLUME 'cold'"
    )
    assert tv.ttl_to == "VOLUME 'cold'"
    (ra,) = [a for a in ddl_compat.plan_actions([tv])
             if a.kind == "retention"]
    assert "tiering" in ra.detail and "retention_sweep" not in ra.api

    # bare DELETE is CH's explicit default — plain partition drops
    bd = ddl_compat.parse_statement(
        "CREATE TABLE t (ts DateTime) ENGINE = MergeTree() "
        "ORDER BY (ts) TTL ts + toIntervalDay(30) DELETE"
    )
    assert bd.ttl_where is None and bd.ttl_days == 30
    (ra,) = [a for a in ddl_compat.plan_actions([bd])
             if a.kind == "retention"]
    assert ra.api == "plans.storage.retention_sweep"


def test_ddl_constraints_helper(spark):
    """ddl_constraints() extracts translated Spark boolean expressions
    from the script's CONSTRAINT defs, ready for the ingest gate."""
    objects = [ddl_compat.parse_statement(
        "CREATE TABLE db.binlog (sz UInt64, ts DateTime, "
        "CONSTRAINT c_sz CHECK sz > 0, "
        "CONSTRAINT c_ts CHECK toDate(ts) >= toDate('2020-01-01')) "
        "ENGINE = MergeTree() ORDER BY (ts)"
    ), ddl_compat.parse_statement(
        "CREATE TABLE db.other (x String, CONSTRAINT c_x CHECK "
        "length(x) < 10) ENGINE = MergeTree() ORDER BY (x)"
    )]
    pairs = ddl_compat.ddl_constraints(objects)
    assert [p[0] for p in pairs] == ["c_sz", "c_ts", "c_x"]
    assert "to_date" in pairs[1][1]  # went through the translator
    assert ddl_compat.ddl_constraints(objects, table="db.other") == [
        ("c_x", "length(x) < 10")
    ]
    # a bare-name filter hitting same-named tables in two databases is
    # ambiguous — applying the wrong table's checks would crash the
    # stream the filter exists to protect
    objects2 = objects + [ddl_compat.parse_statement(
        "CREATE TABLE db2.binlog (sz UInt64, "
        "CONSTRAINT c2 CHECK sz < 100) "
        "ENGINE = MergeTree() ORDER BY (sz)"
    )]
    with pytest.raises(ValueError, match="matches several"):
        ddl_compat.ddl_constraints(objects2, table="binlog")
    assert [p[0] for p in ddl_compat.ddl_constraints(
        objects2, table="db2.binlog"
    )] == ["c2"]
    # the expressions evaluate as Spark boolean exprs
    from pyspark.sql import functions as F

    row = (
        spark.range(1)
        .selectExpr("5 AS sz", "timestamp'2024-01-02' AS ts")
        .select(*[F.expr(e).alias(n) for n, e in pairs[:2]])
        .collect()[0]
    )
    assert row.c_sz is True and row.c_ts is True


def test_projections_map_by_kind(spark):
    """PROJECTION defs are performance-only (CH picks them automatically;
    answers never change), so each shape maps honestly: aggregate ->
    runnable pre-aggregated batch twin (the in-table MV), sort -> an
    alternate-sort-key layout, column subset -> documented no-op."""
    tbl = ddl_compat.parse_statement(
        "CREATE TABLE db.binlog (gtid String, tbl String, sz UInt64, "
        "ts DateTime, "
        "PROJECTION p_by_table (SELECT tbl, count() AS n, "
        "sum(sz) AS bytes GROUP BY tbl), "
        "PROJECTION p_by_gtid (SELECT * ORDER BY gtid), "
        "PROJECTION p_expr_sort (SELECT gtid ORDER BY lower(gtid)), "
        "PROJECTION p_cols (SELECT gtid, ts)) "
        "ENGINE = MergeTree() ORDER BY (ts)"
    )
    assert [p.name for p in tbl.projections] == [
        "p_by_table", "p_by_gtid", "p_expr_sort", "p_cols",
    ]
    agg, srt, esort, cols = tbl.projections
    assert agg.group_by == "tbl" and agg.order_by is None
    assert srt.select_list == "*" and srt.order_key_columns == ("gtid",)
    assert esort.order_key_columns is None  # expression key
    assert cols.group_by is None and cols.order_by is None

    acts = [a for a in ddl_compat.plan_actions([tbl])
            if a.kind == "projection"]
    assert [a.target for a in acts] == [
        f"db.binlog.{p.name}" for p in tbl.projections
    ]
    agg_a, srt_a, esort_a, cols_a = acts
    assert "summing_merge" in agg_a.api and "GROUP BY" in agg_a.sql
    assert "write_fact_table" in srt_a.api and "['gtid']" in srt_a.detail
    assert "materialize" in esort_a.detail and esort_a.sql is None
    assert "column pruning" in cols_a.api

    # the aggregate twin went through the translator and is runnable:
    # it reproduces the projection's content exactly
    assert "count(*)" in agg_a.sql
    spark.range(12).selectExpr(
        "concat('g', id) AS gtid", "concat('t', id % 3) AS tbl",
        "id AS sz", "timestamp'2024-01-02 03:04:05' AS ts",
    ).createOrReplaceTempView("binlog")
    try:
        got = {
            (r.tbl, r.n, r.bytes) for r in spark.sql(agg_a.sql).collect()
        }
        want = {
            (r.tbl, r.n, r.bytes)
            for r in spark.sql(
                "SELECT tbl, count(*) AS n, sum(sz) AS bytes "
                "FROM binlog GROUP BY tbl"
            ).collect()
        }
        assert got == want and len(got) == 3
    finally:
        spark.catalog.dropTempView("binlog")


def test_projection_parse_depth_awareness():
    """GROUP BY / ORDER BY inside parenthesized calls in the select list
    must not be taken as the projection's own clauses."""
    tbl = ddl_compat.parse_statement(
        "CREATE TABLE t (x String, ts DateTime, "
        "PROJECTION p (SELECT x, arrayStringConcat(groupArray(x), "
        "' ORDER BY ') AS joined GROUP BY x ORDER BY x)) "
        "ENGINE = MergeTree() ORDER BY (ts)"
    )
    (pr,) = tbl.projections
    assert pr.group_by == "x" and pr.order_by == "x"
    assert "groupArray" in pr.select_list
    assert pr.batch_twin_ch("t").endswith("FROM t GROUP BY x")
    # a TOP-LEVEL string literal spelling a clause keyword must not
    # hijack the clause split either (clauses are found on masked text)
    tbl2 = ddl_compat.parse_statement(
        "CREATE TABLE t (x String, "
        "PROJECTION p (SELECT ' ORDER BY ' AS sep, x GROUP BY x)) "
        "ENGINE = MergeTree() ORDER BY (x)"
    )
    (pr2,) = tbl2.projections
    assert pr2.order_by is None and pr2.group_by == "x"
    assert pr2.select_list == "' ORDER BY ' AS sep, x"


def test_projection_stream_spec():
    """An aggregate projection streams through the same rollup machinery
    as a TO-Summing MV: keys = GROUP BY items (by expression or alias),
    metrics = count/sum aliases; anything non-sum-mergeable is loud."""
    objects = [ddl_compat.parse_statement(
        "CREATE TABLE db.binlog (tbl String, sz UInt64, ts DateTime, "
        "PROJECTION p_hourly (SELECT tbl, toHour(ts) AS hour, "
        "count() AS n, sum(sz) AS bytes GROUP BY tbl, toHour(ts)), "
        "PROJECTION p_sorted (SELECT * ORDER BY tbl), "
        "PROJECTION p_minmax (SELECT tbl, max(sz) AS mx GROUP BY tbl)) "
        "ENGINE = MergeTree() ORDER BY (ts)"
    )]
    spec = ddl_compat.projection_stream_spec(objects, "binlog.p_hourly")
    assert spec["keys"] == ("tbl", "hour")
    assert spec["metrics"] == ("n", "bytes")
    assert spec["store_name"] == "binlog__p_hourly"
    assert "hour(" in spec["select_sql"]
    assert "__mv_source__" in spec["select_sql"]
    assert "`sz` bigint" in spec["source_schema_ddl"]
    # the dispatcher finds it too (no MV by that name)
    assert ddl_compat.stream_spec(objects, "p_hourly")["keys"] == (
        "tbl", "hour",
    )
    with pytest.raises(ValueError, match="not an aggregate projection"):
        ddl_compat.projection_stream_spec(objects, "p_sorted")
    with pytest.raises(ValueError, match="neither a GROUP BY key nor"):
        ddl_compat.projection_stream_spec(objects, "p_minmax")
    with pytest.raises(ValueError, match="no PROJECTION named"):
        ddl_compat.projection_stream_spec(objects, "nope")


def test_fact_table_bloom_filter_write(spark, tmp_path):
    """write_fact_table(bloom_filters=) emits real parquet bloom bytes
    on a high-cardinality column (the CH point-lookup skip index); the
    data reads back identically with pushdown on."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.plans import storage

    opts = storage.bloom_filter_options(
        {"gtid": 0.025, "tbl": None}, ndv={"gtid": 1000}
    )
    assert opts == {
        "parquet.bloom.filter.enabled#gtid": "true",
        "parquet.bloom.filter.fpp#gtid": "0.025",
        "parquet.bloom.filter.expected.ndv#gtid": "1000",
        "parquet.bloom.filter.enabled#tbl": "true",
    }

    # high-cardinality strings so the chunk is NOT fully
    # dictionary-encoded (parquet-mr elides the bloom there)
    df = spark.range(40_000).selectExpr(
        "timestamp'2024-01-02 03:04:05' AS execute_time",
        "concat('g-', uuid()) AS gtid",
        "concat('t', id % 3) AS table",
        "'db' AS schema",
    )
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloom")
    storage.write_fact_table(df, plain, mode="overwrite")
    storage.write_fact_table(
        df, bloomed, mode="overwrite",
        bloom_filters={"gtid": 0.01}, bloom_ndv={"gtid": 40_000},
    )
    import pathlib

    size = lambda p: sum(  # noqa: E731
        f.stat().st_size for f in pathlib.Path(p).rglob("*.parquet")
    )
    assert size(bloomed) > size(plain) + 10_000  # bloom bytes present
    got = spark.read.parquet(bloomed)
    assert got.where("gtid LIKE 'g-%'").count() == 40_000


def test_distributed_wrapper_resolution():
    """An MV can target the Distributed wrapper; it resolves through to
    the local Summing store for the rollup recommendation."""
    script = """
CREATE TABLE db.store_local (day Date, n UInt64)
ENGINE = SummingMergeTree() ORDER BY (day);
CREATE TABLE db.store (day Date, n UInt64)
ENGINE = Distributed('c', 'db', 'store_local', rand());
CREATE MATERIALIZED VIEW db.mv TO db.store AS
SELECT toDate(ts) AS day, count(*) AS n FROM src GROUP BY day
"""
    _, actions = ddl_compat.migrate_script(script)
    mv = next(a for a in actions if a.kind == "materialized_view")
    assert "rollup_job" in mv.api and "db.store_local" in mv.detail


def test_full_migration_rehearsal_composes():
    """One realistic modern-CH bootstrap exercising EVERY migration
    surface in one script: fact table with INDEX + CONSTRAINT +
    PROJECTION + row-level TTL, Summing store + MV, plain view, CTAS,
    dictionary, ALTER mutation, OPTIMIZE, TRUNCATE — every statement
    parses and every expected action kind lands."""
    script = """
    CREATE TABLE db.binlog (
        gtid String,
        event_type String,
        execute_time DateTime,
        sz UInt64,
        INDEX ix_gtid gtid TYPE bloom_filter(0.01) GRANULARITY 4,
        CONSTRAINT c_sz CHECK sz >= 0,
        PROJECTION p_by_type (SELECT event_type, count() AS n
                              GROUP BY event_type)
    ) ENGINE = ReplicatedMergeTree('/zk/{shard}', '{replica}')
    PARTITION BY toDate(execute_time)
    ORDER BY (execute_time, gtid)
    TTL execute_time + toIntervalMonth(30)
        DELETE WHERE event_type = 'NOOP';

    CREATE TABLE db.daily (day Date, n UInt64)
    ENGINE = SummingMergeTree() ORDER BY (day);

    CREATE MATERIALIZED VIEW db.daily_mv TO db.daily AS
    SELECT toDate(execute_time) AS day, count(*) AS n
    FROM db.binlog GROUP BY day;

    CREATE VIEW db.recent AS SELECT * FROM db.binlog
    WHERE execute_time >= now() - toIntervalDay(7);

    CREATE TABLE db.type_counts ENGINE = MergeTree() ORDER BY (n)
    AS SELECT event_type, count() AS n FROM db.binlog
    GROUP BY event_type;

    CREATE DICTIONARY db.names (id UInt64, name String)
    PRIMARY KEY id SOURCE(MYSQL(host 'h' table 'names'))
    LAYOUT(HASHED()) LIFETIME(600);

    ALTER TABLE db.binlog DELETE WHERE event_type = 'PURGE';
    OPTIMIZE TABLE db.binlog FINAL DEDUPLICATE;
    TRUNCATE TABLE db.type_counts
    """
    objects, actions = ddl_compat.migrate_script(script)
    assert len(objects) == 9
    kinds = sorted(a.kind for a in actions)
    for k in ("fact_table", "skip_index", "constraint_check",
              "projection", "retention", "rollup_store",
              "materialized_view", "view", "dictionary", "mutation",
              "maintenance"):
        assert k in kinds, f"missing action kind {k}"
    # the MV resolved its Summing target -> streaming recommendation
    mv = next(a for a in actions if a.kind == "materialized_view")
    assert "rollup_job" in mv.api
    # the row-level TTL routed to ttl_row_sweep, not the plain sweep
    ret = next(a for a in actions if a.kind == "retention")
    assert "ttl_row_sweep" in ret.api
    # every runnable SQL actually translated (no CH-isms left)
    for a in actions:
        if a.sql:
            assert "toDate(" not in a.sql and "count()" not in a.sql


def test_alter_optimize_parse_properties():
    """Property: random identifiers/case/whitespace around ALTER and
    OPTIMIZE statements parse to exactly the generated structure."""
    from hypothesis import given, settings, strategies as st

    ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
    ws = st.sampled_from([" ", "  ", "\n", "\n  "])

    @settings(max_examples=60, deadline=None)
    @given(ident, ident, ident, st.booleans(), st.booleans(),
           st.booleans(), ws)
    def check(tbl, col, val, qualified, upper, exchange, sep):
        name = f"db.{tbl}" if qualified else tbl
        kw = (lambda s: s.upper()) if upper else (lambda s: s.lower())
        d = ddl_compat.parse_statement(
            f"{kw('alter table')}{sep}{name}{sep}{kw('delete where')}"
            f"{sep}{col} = '{val}'"
        )
        assert d.action == "delete" and d.name == tbl
        assert d.where == f"{col} = '{val}'"
        o = ddl_compat.parse_statement(
            f"{kw('optimize table')}{sep}{name}{sep}{kw('final')}"
            f"{sep}{kw('deduplicate by')}{sep}{col}"
        )
        assert o.final and o.deduplicate and o.dedup_by == (col,)
        r = ddl_compat.parse_statement(
            f"{kw('exchange tables')}{sep}{name}{sep}{kw('and')}"
            f"{sep}{tbl}2"
            if not exchange
            else f"{kw('rename table')}{sep}{name}{sep}{kw('to')}"
            f"{sep}{tbl}2"
        )
        assert r.kind == "rename" and r.pairs[0][1] == f"{tbl}2"

    check()


def test_ddl_parse_property_random_shapes():
    """Property: a generated CREATE TABLE with random identifiers, CH
    types, case/whitespace noise, comments, and clause subsets parses to
    exactly the generated structure (names, Spark types, order-by, TTL)."""
    from hypothesis import given, settings, strategies as st

    ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
    ch_types = st.sampled_from([
        ("String", "string"), ("UInt8", "int"), ("UInt32", "bigint"),
        ("UInt64", "bigint"), ("DateTime", "timestamp"), ("Date", "date"),
        ("Float64", "double"), ("Nullable(String)", "string"),
        ("LowCardinality(String)", "string"),
        ("Array(UInt32)", "array<bigint>"), ("Decimal(10, 2)", "decimal(10, 2)"),
    ])
    col = st.tuples(ident, ch_types, st.booleans(), st.booleans())
    ws = st.sampled_from([" ", "\n", "\n    "])

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(col, min_size=1, max_size=6,
                 unique_by=lambda c: c[0].lower()),
        st.booleans(),  # backtick names
        st.booleans(),  # replicated engine
        st.integers(min_value=0, max_value=3),  # how many order-by cols
        st.one_of(st.none(), st.integers(min_value=1, max_value=99)),  # ttl
        ws,
    )
    def check(cols, backtick, replicated, n_order, ttl_months, sep):
        names = [c[0] for c in cols]
        order = names[: min(n_order, len(names))]
        q = (lambda n: f"`{n}`") if backtick else (lambda n: n)
        defs = []
        for name, (cht, _), with_default, with_comment in cols:
            d = f"{q(name)} {cht}"
            if with_default and cht == "String":
                d += " DEFAULT 'x, y'"  # comma inside literal
            if with_comment:
                d += " COMMENT 'c (,) quote'''"
            defs.append(d)
        engine = ("ReplicatedMergeTree('/zk/{shard}', '{replica}')"
                  if replicated else "MergeTree()")
        sql = (
            f"CREATE TABLE db.t{sep}({sep}" + f",{sep}".join(defs)
            + f"{sep}){sep}ENGINE = {engine}"
        )
        if order:
            sql += f"{sep}ORDER BY ({', '.join(q(c) for c in order)})"
        if ttl_months is not None and cols[0][1][0] == "DateTime":
            sql += f"{sep}TTL {q(names[0])} + toIntervalMonth({ttl_months})"
        t = ddl_compat.parse_statement(sql)
        assert [c.name for c in t.columns] == names
        assert [c.spark_type for c in t.columns] == [c[1][1] for c in cols]
        assert t.order_by == tuple(order)
        assert t.replicated == replicated
        if ttl_months is not None and cols[0][1][0] == "DateTime":
            assert t.ttl_months == ttl_months

    check()


def test_ddl_everyday_idioms():
    """ORDER BY tuple() (keyless tables) and toYYYYMM/toYYYYMMDD
    partitioning (the most common CH partition grains) map cleanly."""
    t = ddl_compat.parse_statement(
        "CREATE TABLE t (x String) ENGINE = MergeTree() ORDER BY tuple()"
    )
    assert t.order_by == ()
    t = ddl_compat.parse_statement(
        "CREATE TABLE t (ts DateTime, x String) ENGINE = MergeTree() "
        "PARTITION BY toYYYYMM(ts) ORDER BY (ts)"
    )
    (a,) = [x for x in ddl_compat.plan_actions([t]) if x.kind == "fact_table"]
    assert "partitionBy month column from toYYYYMM(ts)" in a.detail
    t = ddl_compat.parse_statement(
        "CREATE TABLE t (ts DateTime) ENGINE = MergeTree() "
        "PARTITION BY toYYYYMMDD(ts) ORDER BY (ts)"
    )
    (a,) = ddl_compat.plan_actions([t])
    assert "partitionBy day column from toYYYYMMDD(ts)" in a.detail
    with pytest.raises(ValueError, match="PARTITION BY"):
        ddl_compat.plan_actions([ddl_compat.parse_statement(
            "CREATE TABLE t (ts DateTime) ENGINE = MergeTree() "
            "PARTITION BY intHash32(ts) ORDER BY (ts)"
        )])


def test_split_statements_comment_and_literal_hazards():
    """An apostrophe inside a '--' comment must not open a phantom
    literal (it used to swallow the next statement), and ';' / '--'
    inside real literals must not split/truncate."""
    script = (
        "-- don't partition this one\n"
        "CREATE TABLE a (x String COMMENT 'has -- dashes; and a ;') "
        "ENGINE = MergeTree() ORDER BY tuple();\n"
        "-- it's the user's note\n"
        "CREATE TABLE b (y String) ENGINE = MergeTree() ORDER BY tuple()\n"
    )
    stmts = ddl_compat.split_statements(script)
    assert len(stmts) == 2
    a = ddl_compat.parse_statement(stmts[0])
    assert a.columns[0].comment == "has -- dashes; and a ;"
    assert ddl_compat.parse_statement(stmts[1]).name == "b"


def test_mv_stream_spec_and_loud_paths():
    objects, _ = ddl_compat.migrate_script(SCRIPT)
    spec = ddl_compat.mv_stream_spec(objects, "daily_count_mv")
    assert spec["keys"] == ("day", "event_type")
    assert spec["metrics"] == ("event_count",)
    # the MV's source table now reads from the per-epoch batch view
    assert "__mv_source__" in spec["select_sql"]
    assert "broker_binlog_local" not in spec["select_sql"]
    with pytest.raises(ValueError, match="no MATERIALIZED VIEW"):
        ddl_compat.mv_stream_spec(objects, "nope")
    # an MV without a Summing/Aggregating target cannot stream
    objs2, _ = ddl_compat.migrate_script(
        "CREATE MATERIALIZED VIEW mv TO tgt AS SELECT 1 AS x"
    )
    with pytest.raises(ValueError, match="AggregatingMergeTree TO-target"):
        ddl_compat.mv_stream_spec(objs2, "mv")


def test_migrated_mv_streams_and_matches_batch(spark, tmp_path):
    """A migrated CH MATERIALIZED VIEW with count + sum metrics runs as a
    streaming job (per-micro-batch select + eager Summing merge) and its
    final published store equals the batch truth — including a
    checkpoint-replay restart that must not double-sum."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    script = """
CREATE TABLE db.store (day Date, event_type String, event_count UInt64, rows_sum UInt64)
ENGINE = SummingMergeTree() ORDER BY (day, event_type);
CREATE MATERIALIZED VIEW db.mv TO db.store AS
SELECT toDate(execute_time) AS day, event_type,
       count(*) AS event_count,
       sum(single_statement_affected_rows) AS rows_sum
FROM mysql_monitor.broker_binlog_local
GROUP BY day, event_type
"""
    objects, _ = ddl_compat.migrate_script(script)
    spec = ddl_compat.mv_stream_spec(objects, "db.mv")
    assert spec["metrics"] == ("event_count", "rows_sum")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    run()
    got = rollup_job.read_rollup(spark, store)
    binlog.createOrReplaceTempView("b")
    want = spark.sql(
        "SELECT to_date(execute_time) AS day, event_type, "
        "count(*) AS event_count, "
        "CAST(sum(single_statement_affected_rows) AS BIGINT) AS rows_sum "
        "FROM b GROUP BY day, event_type"
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    run()  # restart on the same checkpoint: no new input, no double-sum
    again = rollup_job.read_rollup(spark, store)
    assert again.exceptAll(want).count() == 0
    assert want.exceptAll(again).count() == 0


AGG_MV_SCRIPT = """
CREATE TABLE db.agg_store (
  day Date, event_type String,
  sum_size AggregateFunction(sum, UInt64),
  n_events AggregateFunction(count),
  max_size AggregateFunction(max, UInt64),
  avg_size AggregateFunction(avg, UInt64),
  uniq_gtids AggregateFunction(uniq, String)
) ENGINE = AggregatingMergeTree() ORDER BY (day, event_type);
CREATE MATERIALIZED VIEW db.agg_mv TO db.agg_store AS
SELECT toDate(execute_time) AS day, event_type,
       sumState(single_statement_size) AS sum_size,
       countState() AS n_events,
       maxState(single_statement_size) AS max_size,
       avgState(single_statement_size) AS avg_size,
       uniqState(gtid) AS uniq_gtids
FROM mysql_monitor.broker_binlog_local
GROUP BY day, event_type
"""


def test_aggregating_target_parse_and_spec():
    """AggregateFunction column types map to plain-column Spark states
    (round 8, VERDICT r07 #4); keys derive from ORDER BY and merge
    functions from the column types, mirroring the Summing derivation."""
    objects, actions = ddl_compat.migrate_script(AGG_MV_SCRIPT)
    store = objects[0]
    assert store.agg_state_columns() == {
        "sum_size": "sum",
        "n_events": "count",
        "max_size": "max",
        "avg_size": "avg",
        "uniq_gtids": "uniq",
    }
    assert {c.name: c.spark_type for c in store.columns} == {
        "day": "date",
        "event_type": "string",
        "sum_size": "bigint",
        "n_events": "bigint",
        "max_size": "bigint",
        "avg_size": "struct<sum:bigint,cnt:bigint>",
        "uniq_gtids": "binary",
    }
    act = next(a for a in actions if a.target == "db.agg_store")
    assert act.api == "operators.rollups.agg_state_merge"
    spec = ddl_compat.mv_stream_spec(objects, "db.agg_mv")
    assert spec["keys"] == ("day", "event_type")
    assert spec["state_fns"] == store.agg_state_columns()
    # -State combinators rewrote to the plain-column state producers
    for frag in (
        "sum(single_statement_size) AS sum_size",
        "count(*) AS n_events",
        "named_struct('sum', sum(single_statement_size), "
        "'cnt', count(single_statement_size)) AS avg_size",
        "hll_sketch_agg(gtid) AS uniq_gtids",
    ):
        assert frag in spec["select_sql"], spec["select_sql"]
    # a state type with no plain-column representation stays loud at
    # plan time (the untranslated-type path, same as any unknown CH type).
    # quantileTiming graduated to the histogram state in round 9, the
    # tdigest family to the log-quantized sketch in round 9, groupBitmap
    # to the deduped-set state in round 10, and the statistical-test
    # family to moment/histogram states later in round 10 — the loud
    # example is now CH's adaptive histogram sketch (bin boundaries are
    # merge-order-dependent internals with no plain-column shape)
    with pytest.raises(ValueError, match="untranslated CH types"):
        ddl_compat.migrate_script(
            "CREATE TABLE t (k UInt64, q AggregateFunction(histogram(5), "
            "Float64)) ENGINE = AggregatingMergeTree() ORDER BY (k)"
        )


AGG_MV_SCRIPT_R9 = """
CREATE TABLE db.agg9_store (
  day Date, event_type String,
  med_size AggregateFunction(quantile, UInt64),
  p90_size AggregateFunction(quantile(0.9), UInt64),
  sizes AggregateFunction(groupArray, UInt64),
  usizes AggregateFunction(groupUniqArray, UInt64)
) ENGINE = AggregatingMergeTree() ORDER BY (day, event_type);
CREATE MATERIALIZED VIEW db.agg9_mv TO db.agg9_store AS
SELECT toDate(execute_time) AS day, event_type,
       quantileState(single_statement_size) AS med_size,
       quantileState(0.9)(single_statement_size) AS p90_size,
       groupArrayState(single_statement_size) AS sizes,
       groupUniqArrayState(single_statement_size) AS usizes
FROM mysql_monitor.broker_binlog_local
GROUP BY day, event_type
"""


def test_aggregating_r9_state_family_parse_and_spec():
    """Round-9 state extension (VERDICT r08 next #6): quantile-family
    states map to value→count histogram maps (level riding the fn token),
    groupArray states to the array itself; the MV's -State combinators
    translate to the matching producers."""
    objects, _ = ddl_compat.migrate_script(AGG_MV_SCRIPT_R9)
    store = objects[0]
    assert store.agg_state_columns() == {
        "med_size": "quantile@0.5",
        "p90_size": "quantile@0.9",
        "sizes": "grouparray",
        "usizes": "groupuniqarray",
    }
    assert {c.name: c.spark_type for c in store.columns} == {
        "day": "date",
        "event_type": "string",
        "med_size": "map<bigint,bigint>",
        "p90_size": "map<bigint,bigint>",
        "sizes": "array<bigint>",
        "usizes": "array<bigint>",
    }
    spec = ddl_compat.mv_stream_spec(objects, "db.agg9_mv")
    assert spec["state_fns"] == store.agg_state_columns()
    sel = spec["select_sql"]
    assert "map_from_entries" in sel and "collect_list" in sel, sel


def test_migrated_aggregating_r9_states_stream_and_match_batch(
    spark, tmp_path
):
    """groupArray + quantile histogram states stream in multi-epoch
    chunks and equal the batch truth EXACTLY (the histogram is exact,
    unlike CH's reservoir quantile), and a checkpoint replay republishes
    the identical snapshot — the same proof shape as the r08 uniq/avg
    states."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    objects, _ = ddl_compat.migrate_script(AGG_MV_SCRIPT_R9)
    spec = ddl_compat.mv_stream_spec(objects, "db.agg9_mv")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            state_fns=spec["state_fns"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    run()
    got = {
        (str(r.day), r.event_type): (
            r.med_size, r.p90_size, sorted(r.sizes), sorted(r.usizes),
        )
        for r in rollup_job.read_agg_rollup(
            spark, store, spec["state_fns"]
        ).collect()
    }
    binlog.createOrReplaceTempView("b9")
    # batch truth: quantileExact's floor(level·n) 0-based indexing over
    # the sorted multiset; groupArray = the multiset itself
    want = {
        (str(r.day), r.event_type): (
            r.med, r.p90, sorted(r.sizes), sorted(r.usizes),
        )
        for r in spark.sql(
            "SELECT to_date(execute_time) AS day, event_type, "
            "element_at(sort_array(collect_list(single_statement_size)), "
            " CAST(least(floor(0.5 * count(*)) + 1, count(*)) AS INT)) "
            " AS med, "
            "element_at(sort_array(collect_list(single_statement_size)), "
            " CAST(least(floor(0.9 * count(*)) + 1, count(*)) AS INT)) "
            " AS p90, "
            "collect_list(single_statement_size) AS sizes, "
            "collect_set(single_statement_size) AS usizes "
            "FROM b9 GROUP BY day, event_type"
        ).collect()
    }
    assert got == want and len(got) > 0

    run()  # replay on the same checkpoint: no input -> identical snapshot
    again = {
        (str(r.day), r.event_type): (
            r.med_size, r.p90_size, sorted(r.sizes), sorted(r.usizes),
        )
        for r in rollup_job.read_agg_rollup(
            spark, store, spec["state_fns"]
        ).collect()
    }
    assert got == again

    # -Merge READ side: re-aggregate the stored states to the day grain
    # through the translator and compare to the direct day-grain batch
    rollup_job.read_rollup(spark, store).createOrReplaceTempView(
        "agg9_store"
    )
    merged = {
        str(r.day): (r.med, r.p90, sorted(r.arr), sorted(r.uarr))
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT day, quantileMerge(med_size) AS med, "
            "quantileMerge(0.9)(p90_size) AS p90, "
            "groupArrayMerge(sizes) AS arr, "
            "groupUniqArrayMerge(usizes) AS uarr "
            "FROM agg9_store GROUP BY day",
        ).collect()
    }
    daily = {
        str(r.day): (r.med, r.p90, sorted(r.sizes), sorted(r.usizes))
        for r in spark.sql(
            "SELECT to_date(execute_time) AS day, "
            "element_at(sort_array(collect_list(single_statement_size)), "
            " CAST(least(floor(0.5 * count(*)) + 1, count(*)) AS INT)) "
            " AS med, "
            "element_at(sort_array(collect_list(single_statement_size)), "
            " CAST(least(floor(0.9 * count(*)) + 1, count(*)) AS INT)) "
            " AS p90, "
            "collect_list(single_statement_size) AS sizes, "
            "collect_set(single_statement_size) AS usizes "
            "FROM b9 GROUP BY day"
        ).collect()
    }
    assert merged == daily


MAP_MV_SCRIPT_R9 = """
CREATE TABLE db.map9_store (
  day Date,
  type_sum AggregateFunction(sumMap, Array(UInt8), Array(UInt64)),
  type_min AggregateFunction(minMap, Array(UInt8), Array(UInt64)),
  type_max AggregateFunction(maxMap, Array(UInt8), Array(UInt64))
) ENGINE = AggregatingMergeTree() ORDER BY (day);
CREATE MATERIALIZED VIEW db.map9_mv TO db.map9_store AS
SELECT toDate(execute_time) AS day,
       sumMapState(array(binlog_pos % 3), array(single_statement_size))
         AS type_sum,
       minMapState(array(binlog_pos % 3), array(single_statement_size))
         AS type_min,
       maxMapState(array(binlog_pos % 3), array(single_statement_size))
         AS type_max
FROM mysql_monitor.broker_binlog_local
GROUP BY day
"""


def test_aggregating_map_state_family_parse_and_spec():
    """sumMap/minMap/maxMap states map to key→aggregated-value maps
    (sumMap values widen like the sum state; Array(K),Array(V) and
    Map(K,V) argument forms both parse) and the MV's -State combinators
    translate to map producers."""
    objects, _ = ddl_compat.migrate_script(MAP_MV_SCRIPT_R9)
    store = objects[0]
    assert store.agg_state_columns() == {
        "type_sum": "summap",
        "type_min": "minmap",
        "type_max": "maxmap",
    }
    assert {c.name: c.spark_type for c in store.columns} == {
        "day": "date",
        "type_sum": "map<int,bigint>",
        "type_min": "map<int,bigint>",
        "type_max": "map<int,bigint>",
    }
    spec = ddl_compat.mv_stream_spec(objects, "db.map9_mv")
    assert spec["state_fns"] == store.agg_state_columns()
    assert "map_from_entries" in spec["select_sql"], spec["select_sql"]
    # non-numeric sumMap values have no type-stable sum fold: loud
    with pytest.raises(ValueError, match="untranslated CH types"):
        ddl_compat.migrate_script(
            "CREATE TABLE t (k UInt64, m AggregateFunction(sumMap, "
            "Array(String), Array(String))) "
            "ENGINE = AggregatingMergeTree() ORDER BY (k)"
        )


def test_migrated_summap_states_stream_and_match_batch(spark, tmp_path):
    """sumMap/minMap/maxMap map states stream in multi-epoch chunks and
    equal the batch per-key truth EXACTLY; a checkpoint replay
    republishes the identical snapshot; the -Merge read re-aggregates
    the stored maps to a coarser grain — same proof shape as the other
    round-9 states."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    objects, _ = ddl_compat.migrate_script(MAP_MV_SCRIPT_R9)
    spec = ddl_compat.mv_stream_spec(objects, "db.map9_mv")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            state_fns=spec["state_fns"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    def snap():
        return {
            str(r.day): tuple(
                (list(r[c][0]), list(r[c][1]))
                for c in ("type_sum", "type_min", "type_max")
            )
            for r in rollup_job.read_agg_rollup(
                spark, store, spec["state_fns"]
            ).collect()
        }

    run()
    got = snap()
    binlog.createOrReplaceTempView("b9m")
    per_day: dict = {}
    for r in spark.sql(
        "SELECT to_date(execute_time) AS day, binlog_pos % 3 AS kk, "
        "CAST(sum(single_statement_size) AS BIGINT) AS s, "
        "min(single_statement_size) AS mn, "
        "max(single_statement_size) AS mx "
        "FROM b9m GROUP BY day, kk"
    ).collect():
        per_day.setdefault(str(r.day), {})[r.kk] = (r.s, r.mn, r.mx)
    want = {}
    for day, d in per_day.items():
        ks = sorted(d)
        want[day] = tuple(
            (ks, [d[k][i] for k in ks]) for i in range(3)
        )
    assert got == want and len(got) > 0

    run()  # replay on the same checkpoint: no input -> identical snapshot
    assert snap() == got

    # -Merge READ side: fold the stored maps to the all-days grain
    # through the translator and compare to the direct per-key batch
    rollup_job.read_rollup(spark, store).createOrReplaceTempView(
        "map9_store"
    )
    [m] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT sumMapMerge(type_sum) AS sm, minMapMerge(type_min) AS mn, "
        "maxMapMerge(type_max) AS mx FROM map9_store",
    ).collect()
    allg = {
        r.kk: (r.s, r.mn, r.mx)
        for r in spark.sql(
            "SELECT binlog_pos % 3 AS kk, "
            "CAST(sum(single_statement_size) AS BIGINT) AS s, "
            "min(single_statement_size) AS mn, "
            "max(single_statement_size) AS mx "
            "FROM b9m GROUP BY kk"
        ).collect()
    }
    ks = sorted(allg)
    for field, i in (("sm", 0), ("mn", 1), ("mx", 2)):
        pair = (list(m[field][0]), list(m[field][1]))
        assert pair == (ks, [allg[k][i] for k in ks]), field


TDIGEST_MV_SCRIPT = """
CREATE TABLE db.td_store (
  day Date,
  p90_size AggregateFunction(quantileTDigest(0.9), UInt64)
) ENGINE = AggregatingMergeTree() ORDER BY (day);
CREATE MATERIALIZED VIEW db.td_mv TO db.td_store AS
SELECT toDate(execute_time) AS day,
       quantileTDigestState(single_statement_size) AS p90_size
FROM mysql_monitor.broker_binlog_local
GROUP BY day
"""

#: the deterministic log quantizer the tdigest sketch state applies
#: (written out independently here so the test derives truth through a
#: different evaluation path than the translator's rewrite)
_QUANTIZE_SQL = (
    "CASE WHEN x = 0 THEN x "
    "ELSE sign(x) * exp(bround(ln(abs(x)) * 128) / 128) END"
)


def test_aggregating_tdigest_state_parse_and_spec():
    """quantileTDigest/quantileBFloat16 states are the quantile
    histogram over LOG-QUANTIZED values — bounded on continuous domains
    (the reason plain-histogram tdigest stayed loud through round 8);
    keys are always double."""
    objects, _ = ddl_compat.migrate_script(TDIGEST_MV_SCRIPT)
    store = objects[0]
    assert store.agg_state_columns() == {"p90_size": "quantiletdigest@0.9"}
    assert {c.name: c.spark_type for c in store.columns} == {
        "day": "date",
        "p90_size": "map<double,bigint>",
    }
    spec = ddl_compat.mv_stream_spec(objects, "db.td_mv")
    assert spec["state_fns"] == store.agg_state_columns()
    assert "exp(bround(ln" in spec["select_sql"], spec["select_sql"]
    # bfloat16 is the same sketch family
    assert ddl_compat._agg_state(
        "AggregateFunction(quantileBFloat16, Float32)"
    ) == ("quantiletdigest@0.5", "map<double,bigint>")
    # date/timestamp keys have no log quantization: loud
    assert ddl_compat._agg_state(
        "AggregateFunction(quantileTDigest, DateTime)"
    ) is None


def test_migrated_tdigest_state_streams_and_matches_batch(spark, tmp_path):
    """The tdigest sketch state streams in multi-epoch chunks and equals
    the batch truth over quantized values EXACTLY (quantization is
    deterministic, so the sketch path is replay- and partition-stable
    even though it approximates the true quantile); replay republishes
    the identical snapshot; the finalized read sits within the
    sketch's documented half-step bound (~0.4%) of the exact p90."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    objects, _ = ddl_compat.migrate_script(TDIGEST_MV_SCRIPT)
    spec = ddl_compat.mv_stream_spec(objects, "db.td_mv")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            state_fns=spec["state_fns"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    def snap():
        return {
            str(r.day): r.p90_size
            for r in rollup_job.read_agg_rollup(
                spark, store, spec["state_fns"]
            ).collect()
        }

    run()
    got = snap()
    binlog.createOrReplaceTempView("btd")
    # batch truth: quantileExact's floor(level·n)+1 ranking over the
    # sorted multiset of QUANTIZED values (the sketch's contract)
    want = {
        str(r.day): r.p90
        for r in spark.sql(
            "SELECT day, element_at(sort_array(collect_list(q)), "
            " CAST(least(floor(0.9 * count(*)) + 1, count(*)) AS INT)) "
            " AS p90 FROM ("
            f"  SELECT to_date(execute_time) AS day, {_QUANTIZE_SQL} AS q"
            "   FROM (SELECT execute_time, "
            "         CAST(single_statement_size AS DOUBLE) AS x FROM btd)"
            ") GROUP BY day"
        ).collect()
    }
    assert got == want and len(got) > 0

    run()  # replay on the same checkpoint: identical snapshot
    assert snap() == got

    # the sketch answer sits within the half-step bound of the exact p90
    exact = {
        str(r.day): r.p90
        for r in spark.sql(
            "SELECT to_date(execute_time) AS day, "
            "element_at(sort_array(collect_list(single_statement_size)), "
            " CAST(least(floor(0.9 * count(*)) + 1, count(*)) AS INT)) "
            " AS p90 FROM btd GROUP BY day"
        ).collect()
    }
    for day, e in exact.items():
        assert abs(got[day] - e) / e < 0.005, (day, got[day], e)

    # -Merge READ at the all-days grain through the translator equals
    # the same quantized-truth derivation at that grain
    rollup_job.read_rollup(spark, store).createOrReplaceTempView("td_store")
    [m] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantileTDigestMerge(0.9)(p90_size) AS p90 FROM td_store",
    ).collect()
    [w] = spark.sql(
        "SELECT element_at(sort_array(collect_list(q)), "
        " CAST(least(floor(0.9 * count(*)) + 1, count(*)) AS INT)) AS p90 "
        f"FROM (SELECT {_QUANTIZE_SQL} AS q FROM "
        "(SELECT CAST(single_statement_size AS DOUBLE) AS x FROM btd))"
    ).collect()
    assert m.p90 == w.p90


BITMAP_MV_SCRIPT = """
CREATE TABLE db.bm_store (
  day Date,
  users AggregateFunction(groupBitmap, UInt64)
) ENGINE = AggregatingMergeTree() ORDER BY (day);
CREATE MATERIALIZED VIEW db.bm_mv TO db.bm_store AS
SELECT toDate(execute_time) AS day,
       groupBitmapState(modulo(binlog_pos, 97)) AS users
FROM mysql_monitor.broker_binlog_local
GROUP BY day
"""


def test_aggregating_bitmap_state_parse_and_spec():
    """groupBitmap states (round 10, VERDICT r09 next #3) map to the
    exact deduped integer set — groupUniqArray's shape, information-
    identical to CH's roaring bitmap, so -State/-Merge stay EXACT and
    reads finalize to the cardinality. CH restricts groupBitmap to
    integer arguments; anything else stays loud."""
    objects, _ = ddl_compat.migrate_script(BITMAP_MV_SCRIPT)
    store = objects[0]
    assert store.agg_state_columns() == {"users": "groupbitmap"}
    assert {c.name: c.spark_type for c in store.columns} == {
        "day": "date",
        "users": "array<bigint>",
    }
    spec = ddl_compat.mv_stream_spec(objects, "db.bm_mv")
    assert spec["state_fns"] == {"users": "groupbitmap"}
    assert "collect_set" in spec["select_sql"], spec["select_sql"]
    # non-integer groupBitmap argument: loud, exactly like CH rejects it
    with pytest.raises(ValueError, match="untranslated CH types"):
        ddl_compat.migrate_script(
            "CREATE TABLE t (k UInt64, b AggregateFunction(groupBitmap, "
            "String)) ENGINE = AggregatingMergeTree() ORDER BY (k)"
        )


def test_migrated_bitmap_state_streams_and_matches_batch(spark, tmp_path):
    """The groupBitmap state streams in multi-epoch chunks and the
    finalized read (bitmap cardinality) equals the batch count-DISTINCT
    truth EXACTLY; a checkpoint replay republishes the identical
    snapshot; the -Merge read re-aggregates the stored sets to a coarser
    grain — the same multi-epoch==batch + replay + coarser-merge proof
    shape as the round-9 states."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    objects, _ = ddl_compat.migrate_script(BITMAP_MV_SCRIPT)
    spec = ddl_compat.mv_stream_spec(objects, "db.bm_mv")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            state_fns=spec["state_fns"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    def snap():
        # finalized read: cardinality per day (sets read back sorted so
        # the replay comparison is order-stable)
        return {
            str(r.day): int(r.users)
            for r in rollup_job.read_agg_rollup(
                spark, store, spec["state_fns"]
            ).collect()
        }

    run()
    got = snap()
    binlog.createOrReplaceTempView("bbm")
    want = {
        str(r.day): int(r.card)
        for r in spark.sql(
            "SELECT to_date(execute_time) AS day, "
            "count(DISTINCT binlog_pos % 97) AS card FROM bbm GROUP BY day"
        ).collect()
    }
    assert got == want and len(got) > 0

    run()  # replay on the same checkpoint: no input -> identical snapshot
    assert snap() == got

    # -Merge READ at the all-days grain through the translator equals
    # the direct count-DISTINCT at that grain (set union loses nothing)
    rollup_job.read_rollup(spark, store).createOrReplaceTempView("bm_store")
    [m] = ch_compat.run_clickhouse_sql(
        spark, "SELECT groupBitmapMerge(users) AS card FROM bm_store"
    ).collect()
    [w] = spark.sql(
        "SELECT count(DISTINCT binlog_pos % 97) AS card FROM bbm"
    ).collect()
    assert int(m.card) == int(w.card) > 0


def test_migrated_aggregating_mv_streams_and_matches_batch(spark, tmp_path):
    """An AggregatingMergeTree MV (uniqState/maxState/avgState...) runs as
    a streaming job in multi-epoch chunks and equals the batch truth —
    exactly for the value-typed states, within sketch tolerance for uniq
    (CH's own uniq is approximate too) — and a checkpoint-replay restart
    republishes the identical snapshot (VERDICT r07 next-round #4)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    objects, _ = ddl_compat.migrate_script(AGG_MV_SCRIPT)
    spec = ddl_compat.mv_stream_spec(objects, "db.agg_mv")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            state_fns=spec["state_fns"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    run()
    got = {
        (str(r.day), r.event_type): r
        for r in rollup_job.read_agg_rollup(
            spark, store, spec["state_fns"]
        ).collect()
    }
    binlog.createOrReplaceTempView("b")
    want = {
        (str(r.day), r.event_type): r
        for r in spark.sql(
            "SELECT to_date(execute_time) AS day, event_type, "
            "CAST(sum(single_statement_size) AS BIGINT) AS sum_size, "
            "count(*) AS n_events, "
            "max(single_statement_size) AS max_size, "
            "sum(single_statement_size) / count(*) AS avg_size, "
            "count(DISTINCT gtid) AS exact_gtids "
            "FROM b GROUP BY day, event_type"
        ).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k, g in got.items():
        w = want[k]
        assert (g.sum_size, g.n_events, g.max_size) == (
            w.sum_size, w.n_events, w.max_size,
        ), k
        assert g.avg_size == pytest.approx(w.avg_size, abs=0), k
        # HLL estimate: exact in sparse mode for small groups, bounded
        # sketch error otherwise (same contract as CH's uniq)
        assert abs(g.uniq_gtids - w.exact_gtids) <= max(
            2, 0.02 * w.exact_gtids
        ), (k, g.uniq_gtids, w.exact_gtids)

    run()  # restart on the same checkpoint: no input → identical snapshot
    again = {
        (str(r.day), r.event_type): r
        for r in rollup_job.read_agg_rollup(
            spark, store, spec["state_fns"]
        ).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in again.items()
    }

    # the -Merge combinator READ side: a migrated CH query over the state
    # store re-aggregates states to the coarser day grain
    rollup_job.read_rollup(spark, store).createOrReplaceTempView("agg_store")
    merged = {
        str(r.day): r
        for r in ch_compat.run_clickhouse_sql(
            spark,
            "SELECT day, sumMerge(sum_size) AS s, "
            "countMerge(n_events) AS n, maxMerge(max_size) AS mx, "
            "avgMerge(avg_size) AS av, uniqMerge(uniq_gtids) AS u "
            "FROM agg_store GROUP BY day",
        ).collect()
    }
    daily = {
        str(r.day): r
        for r in spark.sql(
            "SELECT to_date(execute_time) AS day, "
            "CAST(sum(single_statement_size) AS BIGINT) AS s, count(*) AS n, "
            "max(single_statement_size) AS mx, "
            "sum(single_statement_size) / count(*) AS av, "
            "count(DISTINCT gtid) AS exact "
            "FROM b GROUP BY day"
        ).collect()
    }
    assert set(merged) == set(daily)
    for d, m in merged.items():
        w = daily[d]
        assert (m.s, m.n, m.mx) == (w.s, w.n, w.mx), d
        assert m.av == pytest.approx(w.av, abs=0), d
        assert abs(m.u - w.exact) <= max(2, 0.02 * w.exact), d


def test_review_fixes_nested_types_joins_schema():
    """Post-review regressions: nested type parens parse; MV joins are
    loud (CH streams only the FROM side); the stream source schema comes
    from the script's own fact DDL."""
    t = ddl_compat.parse_statement(
        "CREATE TABLE t (a Array(Nullable(String)), "
        "b Nullable(Decimal(18, 4)), c Array(Nullable(Decimal(10, 2)))) "
        "ENGINE = MergeTree() ORDER BY tuple()"
    )
    assert [c.spark_type for c in t.columns] == [
        "array<string>", "decimal(18, 4)", "array<decimal(10, 2)>",
    ]
    # array-literal defaults: the comma inside [..] is not a column split
    t = ddl_compat.parse_statement(
        "CREATE TABLE t (a Array(UInt8) DEFAULT [1, 2], b UInt8, "
        "c Array(String) MATERIALIZED ['x', 'y']) "
        "ENGINE = MergeTree ORDER BY b"
    )
    assert [(c.name, c.spark_type, c.default) for c in t.columns] == [
        ("a", "array<int>", "[1, 2]"),
        ("b", "int", None),
        ("c", "array<string>", "['x', 'y']"),
    ]
    assert t.order_by == ("b",)

    script = """
CREATE TABLE db.src (ts DateTime, user_id UInt64, k String) ENGINE = MergeTree() ORDER BY (ts);
CREATE TABLE db.dims (k String, grp String) ENGINE = MergeTree() ORDER BY (k);
CREATE TABLE db.store (day Date, n UInt64) ENGINE = SummingMergeTree() ORDER BY (day);
CREATE MATERIALIZED VIEW db.mv TO db.store AS
SELECT toDate(ts) AS day, count(*) AS n FROM db.src s JOIN db.dims d ON s.k = d.k GROUP BY day;
CREATE MATERIALIZED VIEW db.mv2 TO db.store AS
SELECT toDate(ts) AS day, count(*) AS n FROM db.src GROUP BY day
"""
    objects, _ = ddl_compat.migrate_script(script)
    with pytest.raises(ValueError, match="joins table 'db.dims'"):
        ddl_compat.mv_stream_spec(objects, "db.mv")
    spec = ddl_compat.mv_stream_spec(objects, "db.mv2")
    # schema derived from db.src's DDL, not the engine's binlog default
    assert spec["source_schema_ddl"] == (
        "`ts` timestamp, `user_id` bigint, `k` string"
    )
    # EXTRACT-style FROM survives; anchor not defined in script -> no
    # schema, falls back to the binlog default at the CLI
    objs2, _ = ddl_compat.migrate_script(
        "CREATE TABLE db.store2 (y UInt16, n UInt64) "
        "ENGINE = SummingMergeTree() ORDER BY (y);\n"
        "CREATE MATERIALIZED VIEW db.mv3 TO db.store2 AS SELECT "
        "EXTRACT(YEAR FROM execute_time) AS y, count(*) AS n "
        "FROM other.binlog GROUP BY y"
    )
    spec3 = ddl_compat.mv_stream_spec(objs2, "db.mv3")
    assert spec3["source_schema_ddl"] is None
    assert "EXTRACT(YEAR FROM execute_time)" in spec3["select_sql"]
    assert "__mv_source__" in spec3["select_sql"]


def test_split_without_semicolons_and_todate_ttl():
    """Real bootstrap scripts (the reference README's own blocks)
    separate statements with blank lines and NO semicolons; two CREATEs
    used to merge with the LAST ENGINE clause winning — silently wrong.
    TTL may wrap its column in toDate()."""
    script = """
CREATE TABLE db.binlog_local
( `ts` DateTime, `gtid` String )
ENGINE = MergeTree()
PARTITION BY toDate(ts)
ORDER BY (ts, gtid)
TTL toDate(ts) + toIntervalMonth(30)

-- wrapper
CREATE TABLE db.binlog
( `ts` DateTime, `gtid` String )
ENGINE = Distributed('c', 'db', 'binlog_local', rand())
"""
    objs = [ddl_compat.parse_statement(s)
            for s in ddl_compat.split_statements(script)]
    assert [o.engine_family for o in objs] == ["MergeTree", "Distributed"]
    assert objs[0].ttl_months == 30
    # a ') CREATE' inside the column list must NOT split (depth guard)
    one = ddl_compat.split_statements(
        "CREATE TABLE t (x String DEFAULT 'a',\nCREATE_flag UInt8)\n"
        "ENGINE = MergeTree() ORDER BY tuple()"
    )
    assert len(one) == 1


def test_split_statements_semicolonless_maintenance_boundaries():
    """Blank-line-separated scripts: OPTIMIZE/TRUNCATE/RENAME/EXCHANGE at
    line start open a new statement like CREATE/ALTER always did
    (ADVICE r07 #2 — they previously merged into the preceding one)."""
    stmts = ddl_compat.split_statements(
        "CREATE TABLE a (x UInt8) ENGINE = MergeTree() ORDER BY (x)\n\n"
        "OPTIMIZE TABLE a FINAL\n\n"
        "TRUNCATE TABLE a\n\n"
        "RENAME TABLE a TO b\n\n"
        "EXCHANGE TABLES b AND c"
    )
    assert [s.split()[0] for s in stmts] == [
        "CREATE", "OPTIMIZE", "TRUNCATE", "RENAME", "EXCHANGE",
    ]
    # ...but the keywords do NOT split inside parens or mid-line
    assert len(ddl_compat.split_statements(
        "CREATE TABLE t (x UInt8,\nrename_hint UInt8) "
        "ENGINE = MergeTree() ORDER BY (x)"
    )) == 1
    # ...nor on a continuation line of a multi-line ALTER (review r08:
    # the maintenance keywords need their object noun to open a
    # statement — 'RENAME COLUMN' is clause text, 'RENAME TABLE' isn't)
    assert len(ddl_compat.split_statements(
        "ALTER TABLE t\n    RENAME COLUMN a TO b"
    )) == 1
    assert len(ddl_compat.split_statements(
        "ALTER TABLE t DROP COLUMN a\n\nRENAME TABLE t TO u"
    )) == 2


def test_stores_with_mixed_columns_keep_every_column():
    """Review r08: AggregateFunction columns on a SUMMING target and
    plain non-key columns on an AGGREGATING target must merge (hybrid
    state machinery / 'any' pick — CH's documented contracts), never
    silently drop after epoch 1 or bypass the loud guard."""
    objs, _ = ddl_compat.migrate_script(
        "CREATE TABLE s (day Date, k String, hits UInt64, "
        "mx AggregateFunction(max, UInt64), note String) "
        "ENGINE = SummingMergeTree() ORDER BY (day, k);\n"
        "CREATE MATERIALIZED VIEW m TO s AS SELECT toDate(ts) AS day, "
        "k, count(*) AS hits, maxState(v) AS mx, any(nt) AS note "
        "FROM src GROUP BY day, k"
    )
    spec = ddl_compat.mv_stream_spec(objs, "m")
    assert spec["state_fns"] == {
        "hits": "sum", "mx": "max", "note": "any",
    }
    objs2, _ = ddl_compat.migrate_script(
        "CREATE TABLE a (day Date, u AggregateFunction(uniq, String), "
        "note String) ENGINE = AggregatingMergeTree() ORDER BY (day);\n"
        "CREATE MATERIALIZED VIEW m2 TO a AS SELECT toDate(ts) AS day, "
        "uniqState(s) AS u, any(nt) AS note FROM src GROUP BY day"
    )
    spec2 = ddl_compat.mv_stream_spec(objs2, "m2")
    assert spec2["state_fns"] == {"u": "uniq", "note": "any"}
    # a reference-shaped Summing store (numeric metrics only) keeps the
    # proven legacy summing_merge path
    objs3, _ = ddl_compat.migrate_script(SCRIPT)
    assert ddl_compat.mv_stream_spec(objs3, "daily_count_mv")[
        "state_fns"
    ] is None


def test_hybrid_summing_store_streams_every_column(spark, tmp_path):
    """Review r08 end-to-end: a Summing TO-target carrying an
    AggregateFunction column AND a plain string column streams through
    the state machinery — the metric re-sums, the state column merges
    per its function, the plain column survives via the 'any' pick —
    across multiple epochs AND a checkpoint replay (the silent-drop bug
    surfaced only from epoch 2 on)."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    script = """
CREATE TABLE db.hybrid (day Date, event_type String, n UInt64,
  mx AggregateFunction(max, UInt64), tag String)
ENGINE = SummingMergeTree() ORDER BY (day, event_type);
CREATE MATERIALIZED VIEW db.hmv TO db.hybrid AS
SELECT toDate(execute_time) AS day, event_type, count(*) AS n,
       maxState(single_statement_size) AS mx, any('x') AS tag
FROM mysql_monitor.broker_binlog_local
GROUP BY day, event_type
"""
    objects, _ = ddl_compat.migrate_script(script)
    spec = ddl_compat.mv_stream_spec(objects, "db.hmv")
    assert spec["state_fns"] == {"n": "sum", "mx": "max", "tag": "any"}

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            state_fns=spec["state_fns"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    run()
    got = rollup_job.read_rollup(spark, store)
    # every target column survives the multi-epoch merge
    assert set(got.columns) == {"day", "event_type", "n", "mx", "tag"}
    g = {(str(r.day), r.event_type): r for r in got.collect()}
    binlog.createOrReplaceTempView("b")
    w = {
        (str(r.day), r.event_type): r
        for r in spark.sql(
            "SELECT to_date(execute_time) AS day, event_type, "
            "count(*) AS n, max(single_statement_size) AS mx "
            "FROM b GROUP BY 1, 2"
        ).collect()
    }
    assert set(g) == set(w) and len(g) > 0
    for k, row in g.items():
        assert (row.n, row.mx) == (w[k].n, w[k].mx), k
        assert row.tag == "x", k
    run()  # replay: unchanged
    again = rollup_job.read_rollup(spark, store)
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in got.collect()
    }


STAT_MV_SCRIPT = """
CREATE TABLE db.stat_store (
  day Date,
  st AggregateFunction(studentTTest, Float64, UInt8),
  wt AggregateFunction(welchTTest, Float64, UInt8),
  mw AggregateFunction(mannWhitneyUTest, Float64, UInt8)
) ENGINE = AggregatingMergeTree() ORDER BY (day);
CREATE MATERIALIZED VIEW db.stat_mv TO db.stat_store AS
SELECT toDate(execute_time) AS day,
       studentTTestState(single_statement_size, modulo(binlog_pos, 2)) AS st,
       welchTTestState(single_statement_size, modulo(binlog_pos, 2)) AS wt,
       mannWhitneyUTestState(single_statement_size, modulo(binlog_pos, 2)) AS mw
FROM mysql_monitor.broker_binlog_local
GROUP BY day
"""


def test_aggregating_stat_test_states_parse_and_spec():
    """Statistical-test states (round 10 — the LAST Aggregating-MV loud
    item): studentTTest/welchTTest map to the exact moment struct,
    mannWhitneyUTest to the histogram pair; the Mann-Whitney finalize
    parameters ride the fn token; non-numeric arguments and unknown
    alternatives stay loud."""
    objects, _ = ddl_compat.migrate_script(STAT_MV_SCRIPT)
    store = objects[0]
    assert store.agg_state_columns() == {
        "st": "studentttest",
        "wt": "welchttest",
        "mw": "mannwhitneyutest@two-sided@1",
    }
    assert {c.name: c.spark_type for c in store.columns} == {
        "day": "date",
        "st": (
            "struct<n0:bigint,s0:double,q0:double,"
            "n1:bigint,s1:double,q1:double>"
        ),
        "wt": (
            "struct<n0:bigint,s0:double,q0:double,"
            "n1:bigint,s1:double,q1:double>"
        ),
        "mw": "struct<h0:map<double,bigint>,h1:map<double,bigint>>",
    }
    spec = ddl_compat.mv_stream_spec(objects, "db.stat_mv")
    assert spec["state_fns"] == store.agg_state_columns()
    # parametric Mann-Whitney rides the token
    objects2, _ = ddl_compat.migrate_script(
        "CREATE TABLE t (k UInt64, m AggregateFunction("
        "mannWhitneyUTest('greater', 0), Float64, UInt8)) "
        "ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    assert objects2[0].agg_state_columns() == {
        "m": "mannwhitneyutest@greater@0"
    }
    # loud: string sample data / unknown alternative
    for bad in (
        "AggregateFunction(studentTTest, String, UInt8)",
        "AggregateFunction(mannWhitneyUTest('sideways'), Float64, UInt8)",
    ):
        with pytest.raises(ValueError, match="untranslated CH types"):
            ddl_compat.migrate_script(
                f"CREATE TABLE t (k UInt64, s {bad}) "
                "ENGINE = AggregatingMergeTree() ORDER BY (k)"
            )


def test_migrated_stat_test_states_stream_and_match_batch(spark, tmp_path):
    """The statistical-test states stream in multi-epoch chunks and the
    finalized reads equal the single-shot translated aggregates EXACTLY
    (moment/histogram states are lossless); a checkpoint replay
    republishes the identical snapshot; a coarser -Merge read through
    the translator equals the direct all-days aggregate — the
    established multi-epoch==batch + replay + coarser-merge template."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import rollup_job

    objects, _ = ddl_compat.migrate_script(STAT_MV_SCRIPT)
    spec = ddl_compat.mv_stream_spec(objects, "db.stat_mv")

    binlog = schemas.binlog_view(schemas.load_table(spark, SF_DIR, "events"))
    src = str(tmp_path / "src")
    binlog.write.parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(binlog.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = rollup_job.run_mv_rollup_stream(
            stream, spec["select_sql"], store, ckpt,
            keys=spec["keys"], metrics=spec["metrics"],
            state_fns=spec["state_fns"],
            source_view=spec["source_view"], available_now=True,
        )
        q.awaitTermination(180)

    def snap():
        out = {}
        for r in rollup_job.read_agg_rollup(
            spark, store, spec["state_fns"]
        ).collect():
            out[str(r.day)] = tuple(
                None
                if r[c] is None
                else (round(r[c].col1, 9), round(r[c].col2, 9))
                for c in ("st", "wt", "mw")
            )
        return out

    run()
    got = snap()
    binlog.createOrReplaceTempView("bstat")
    want = {}
    for r in ch_compat.run_clickhouse_sql(
        spark,
        "SELECT toDate(execute_time) AS day, "
        "studentTTest(single_statement_size, modulo(binlog_pos, 2)) AS st, "
        "welchTTest(single_statement_size, modulo(binlog_pos, 2)) AS wt, "
        "mannWhitneyUTest(single_statement_size, modulo(binlog_pos, 2)) "
        "AS mw FROM bstat GROUP BY day",
    ).collect():
        want[str(r.day)] = tuple(
            None
            if r[c] is None
            else (round(r[c].col1, 9), round(r[c].col2, 9))
            for c in ("st", "wt", "mw")
        )
    assert got == want and len(got) > 0

    run()  # replay on the same checkpoint: no input -> identical snapshot
    assert snap() == got

    # coarser -Merge read through the translator == direct all-days agg
    rollup_job.read_rollup(spark, store).createOrReplaceTempView(
        "stat_store"
    )
    [m] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT studentTTestMerge(st) AS s, welchTTestMerge(wt) AS w, "
        "mannWhitneyUTestMerge(mw) AS m FROM stat_store",
    ).collect()
    [w] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT studentTTest(single_statement_size, modulo(binlog_pos, 2))"
        " AS s, welchTTest(single_statement_size, modulo(binlog_pos, 2)) "
        "AS w, mannWhitneyUTest(single_statement_size, "
        "modulo(binlog_pos, 2)) AS m FROM bstat",
    ).collect()
    for c in ("s", "w", "m"):
        assert abs(m[c].col1 - w[c].col1) < 1e-9
        assert abs(m[c].col2 - w[c].col2) < 1e-9


def test_aggregating_plural_quantiles_state(spark, tmp_path):
    """AggregateFunction(quantiles(0.5, 0.9), UInt64) (round 10):
    same level-free histogram state; the literal level list rides the
    token and the merged read finalizes to an array that equals the
    direct exact percentiles."""
    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    objects, _ = ddl_compat.migrate_script(
        "CREATE TABLE db.qp_store (k UInt64, "
        "qs AggregateFunction(quantiles(0.5, 0.9), UInt64)) "
        "ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    store = objects[0]
    assert store.agg_state_columns() == {"qs": "quantiles@0.5,0.9"}
    assert store.columns[1].spark_type == "map<bigint,bigint>"
    # merge + finalize on per-block states == direct percentiles
    spark.createDataFrame(
        [(v, v % 4) for v in range(1, 101)], "v long, blk int"
    ).createOrReplaceTempView("qpd_src")
    from pyspark.sql import functions as F

    partials = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, quantilesState(v) AS qs FROM qpd_src GROUP BY blk",
    ).withColumn("k", F.lit(1))
    fns = {"qs": "quantiles@0.5,0.9"}
    merged = rollups.agg_state_merge(partials, ["k"], fns)
    [r] = rollups.finalize_agg_states(merged, fns).collect()
    # quantileExact indexing over 1..100: floor(p*100)+1
    assert r.qs == [51, 91]
    # a level outside [0, 1] stays loud
    with pytest.raises(ValueError, match="untranslated CH types"):
        ddl_compat.migrate_script(
            "CREATE TABLE t (k UInt64, q AggregateFunction("
            "quantiles(1.5), UInt64)) "
            "ENGINE = AggregatingMergeTree() ORDER BY (k)"
        )


def test_aggregating_plural_sketch_quantiles_state(spark):
    """AggregateFunction(quantilesTDigest(0.5, 0.9), Float64) (ADVICE
    r10 #4 — the SQL translator handled the plural sketch -State/-Merge
    forms but the DDL branch stayed loud): same log-quantized
    double-keyed histogram as the singular sketch, plural finalize;
    merged read equals the translator's direct plural sketch aggregate."""
    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    objects, _ = ddl_compat.migrate_script(
        "CREATE TABLE db.qtd_store (k UInt64, "
        "qs AggregateFunction(quantilesTDigest(0.5, 0.9), Float64)) "
        "ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    store = objects[0]
    assert store.agg_state_columns() == {"qs": "quantilestdigest@0.5,0.9"}
    assert store.columns[1].spark_type == "map<double,bigint>"
    # bfloat16 plural is the same sketch family
    assert ddl_compat._agg_state(
        "AggregateFunction(quantilesBFloat16(0.5), Float32)"
    ) == ("quantilestdigest@0.5", "map<double,bigint>")
    # non-numeric input: loud (log quantization needs plain numerics)
    assert ddl_compat._agg_state(
        "AggregateFunction(quantilesTDigest(0.5), DateTime)"
    ) is None

    spark.createDataFrame(
        [(float(v), v % 4) for v in range(1, 101)], "v double, blk int"
    ).createOrReplaceTempView("qtd_src")
    partials = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, quantilesTDigestState(v) AS qs FROM qtd_src "
        "GROUP BY blk",
    ).withColumn("k", F.lit(1))
    fns = {"qs": "quantilestdigest@0.5,0.9"}
    merged = rollups.agg_state_merge(partials, ["k"], fns)
    [r] = rollups.finalize_agg_states(merged, fns).collect()
    [w] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT quantilesTDigestMerge(0.5, 0.9)(qs) AS qs FROM ("
        "SELECT blk, quantilesTDigestState(v) AS qs FROM qtd_src "
        "GROUP BY blk)",
    ).collect()
    assert r.qs == w.qs and len(r.qs) == 2
    # within the sketch's half-step bound of the exact percentiles
    for got, exact in zip(r.qs, [51.0, 91.0]):
        assert abs(got - exact) / exact < 0.005


def test_meanztest_ddl_state(spark):
    """AggregateFunction(meanZTest(vx, vy, conf), Float64, UInt8):
    the t-test moment state with parameters riding the token; merged
    read equals the direct translated aggregate exactly."""
    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    objects, _ = ddl_compat.migrate_script(
        "CREATE TABLE db.mz_store (k UInt64, "
        "mz AggregateFunction(meanZTest(4.0, 9.0, 0.95), Float64, UInt8)) "
        "ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    store = objects[0]
    assert store.agg_state_columns() == {"mz": "meanztest@4.0@9.0@0.95"}
    spark.createDataFrame(
        [(10.0, 0, 0), (12.0, 0, 1), (9.0, 0, 0), (14.0, 1, 1),
         (15.0, 1, 0), (13.0, 1, 1)],
        "x double, idx int, blk int",
    ).createOrReplaceTempView("mzd_src")
    partials = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, studentTTestState(x, idx) AS mz "
        "FROM mzd_src GROUP BY blk",
    ).withColumn("k", F.lit(1))
    fns = {"mz": "meanztest@4.0@9.0@0.95"}
    merged = rollups.agg_state_merge(partials, ["k"], fns)
    [r] = rollups.finalize_agg_states(merged, fns).collect()
    [w] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT meanZTest(4.0, 9.0, 0.95)(x, idx) AS mz FROM mzd_src",
    ).collect()
    for c in ("col1", "col2", "col3", "col4"):
        assert abs(r.mz[c] - w.mz[c]) < 1e-12


def test_kstest_ddl_state(spark):
    """AggregateFunction(kolmogorovSmirnovTest, Float64, UInt8): the
    histogram-pair state with the two-sided asymptotic read; merge +
    finalize equal the direct translated aggregate; one-sided
    parametric DDL stays loud."""
    from pyspark.sql import functions as F

    from use_clickhouse_2_analyze_mysql_binlog_spark.operators import rollups

    objects, _ = ddl_compat.migrate_script(
        "CREATE TABLE db.ks_store (k UInt64, "
        "ks AggregateFunction(kolmogorovSmirnovTest, Float64, UInt8)) "
        "ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    assert objects[0].agg_state_columns() == {"ks": "kstest"}
    spark.createDataFrame(
        [(10.0, 0, 0), (12.0, 0, 1), (9.0, 0, 0), (14.0, 1, 1),
         (15.0, 1, 0), (13.0, 1, 1), (10.0, 1, 0)],
        "x double, idx int, blk int",
    ).createOrReplaceTempView("ksd_src")
    partials = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT blk, kolmogorovSmirnovTestState(x, idx) AS ks "
        "FROM ksd_src GROUP BY blk",
    ).withColumn("k", F.lit(1))
    fns = {"ks": "kstest"}
    merged = rollups.agg_state_merge(partials, ["k"], fns)
    [r] = rollups.finalize_agg_states(merged, fns).collect()
    [w] = ch_compat.run_clickhouse_sql(
        spark,
        "SELECT kolmogorovSmirnovTest(x, idx) AS ks FROM ksd_src",
    ).collect()
    assert abs(r.ks.col1 - w.ks.col1) < 1e-12
    assert abs(r.ks.col2 - w.ks.col2) < 1e-12
    with pytest.raises(ValueError, match="untranslated CH types"):
        ddl_compat.migrate_script(
            "CREATE TABLE t (k UInt64, q AggregateFunction("
            "kolmogorovSmirnovTest('greater'), Float64, UInt8)) "
            "ENGINE = AggregatingMergeTree() ORDER BY (k)"
        )
