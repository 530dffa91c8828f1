"""Fingerprint operators vs the DuckDB oracle, on the driver's testdata.

Mirrors the reference's test strategy (SURVEY.md §5): cross-engine
agreement replaces PG-vs-CRDB agreement; mutation tests replicate
``TestIntegrationVerifyDataFail`` (integration_test.go:294-398);
shuffled-input invariance replicates integration_test.go:260.
"""

import dataclasses
import os

import pytest

from pgverify_spark.config import VerifyConfig
from pgverify_spark.functions.timecol import US_PER_DAY, bucket_sql
from pgverify_spark.operators.fingerprint import (
    FINGERPRINT_OPS,
    bookend_fingerprint,
    bucketed_fingerprint,
    fingerprint_oracle_sql,
    full_fingerprint,
    partitioned_fingerprint,
    partitioned_fingerprint_oracle_sql,
    rowcount,
    sparse_fingerprint,
)
from pgverify_spark.sources.parquet import ParquetTarget
from pgverify_spark.sources.schemas import TESTDATA_TABLES

MODES = ["full", "bookend", "sparse", "rowcount", "bucketed", "additive", "cardinality"]
TABLES = ["lineitem", "orders", "customer", "events", "documents", "embeddings", "region"]

CFG = VerifyConfig(bookend_limit=100, sparse_mod=10, fingerprint_buckets=64)

#: sf0.01 testdata tables carried in the repository (orders: 15 000 rows)
SF001_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "testdata", "sf0.01",
)


def _spark_fp(spark, sf_dir, table, mode, cfg=CFG):
    target = ParquetTarget("t", sf_dir)
    df = target.read(spark, table)
    schema = target.table_schema(spark, table)
    return FINGERPRINT_OPS[mode](df, schema, cfg).collect()[0].fp


def _duck_fp(duck, table, mode, cfg=CFG):
    sql = fingerprint_oracle_sql(mode, table, TESTDATA_TABLES[table], cfg)
    return duck.execute(sql).fetchone()[0]


@pytest.mark.parametrize("table", TABLES)
@pytest.mark.parametrize("mode", MODES)
def test_fingerprint_matches_oracle(spark, duck, sf_dir, table, mode):
    assert _spark_fp(spark, sf_dir, table, mode) == _duck_fp(duck, table, mode)


def test_shuffled_input_invariance(spark, sf_dir):
    """Fingerprint must not depend on input row order (integration_test.go:260)."""
    target = ParquetTarget("t", sf_dir)
    df = target.read(spark, "orders")
    schema = target.table_schema(spark, "orders")
    base = full_fingerprint(df, schema, CFG).collect()[0].fp
    shuffled = df.orderBy("o_totalprice").repartition(13)
    assert full_fingerprint(shuffled, schema, CFG).collect()[0].fp == base


def test_mutation_detected_by_every_mode(spark, sf_dir):
    """A one-row change must flip full/sparse(mod1)/bookend(limit>=n)/rowcount
    (integration_test.go:294-398: sparse-mod 1 and bookend-limit >= n so the
    sample covers the mutation)."""
    target = ParquetTarget("t", sf_dir)
    df = target.read(spark, "region")  # 5 rows
    schema = target.table_schema(spark, "region")
    cfg = VerifyConfig(bookend_limit=10, sparse_mod=1, fingerprint_buckets=8)
    mutated = df.filter("r_regionkey <> 2")
    for mode in MODES:
        op = FINGERPRINT_OPS[mode]
        a = op(df, schema, cfg).collect()[0].fp
        b = op(mutated, schema, cfg).collect()[0].fp
        assert a != b, f"mode {mode} missed the mutation"


def test_empty_table_sentinel(spark, duck, sf_dir):
    """Empty input -> 'no rows' (verify.go:247-248).  Bookend has no
    sentinel: its two empty subsets are NULL, as the oracle's
    ``string_agg`` over no rows, so it reads md5('') on both plan paths."""
    target = ParquetTarget("t", sf_dir)
    df = target.read(spark, "region").filter("r_regionkey < 0")
    schema = target.table_schema(spark, "region")
    assert full_fingerprint(df, schema, CFG).collect()[0].fp == "no rows"
    from pgverify_spark.operators.fingerprint import additive_fingerprint
    assert additive_fingerprint(df, schema, CFG).collect()[0].fp == "0"
    assert sparse_fingerprint(df, schema, CFG).collect()[0].fp == "no rows"
    assert rowcount(df).collect()[0].fp == "0"
    empty = "(SELECT * FROM region WHERE r_regionkey < 0) t"
    want = duck.execute(
        fingerprint_oracle_sql("bookend", empty, TESTDATA_TABLES["region"], CFG)
    ).fetchone()[0]
    assert want == "d41d8cd98f00b204e9800998ecf8427e"
    for cfg in (CFG, dataclasses.replace(CFG, small_input_bytes=0)):
        assert bookend_fingerprint(df, schema, cfg).collect()[0].fp == want


def test_bucketed_default_buckets_match_oracle(spark):
    """At the default 1024 buckets one task aggregates more than 128
    buckets, and the sort-based aggregate fallback drops any upstream
    sortWithinPartitions order: each group's digest must order its own
    (k, h) pairs.  Checked on sf0.01 orders for bucketed and for the
    aggregate path of partitioned_fingerprint."""
    import duckdb

    cfg = VerifyConfig()
    assert cfg.fingerprint_buckets == 1024
    path = os.path.join(SF001_DIR, "orders.parquet")
    df = ParquetTarget("t", SF001_DIR).read(spark, "orders")
    schema = TESTDATA_TABLES["orders"]
    duck = duckdb.connect()
    table = f"read_parquet('{path}')"
    want = duck.execute(fingerprint_oracle_sql("bucketed", table, schema, cfg)).fetchone()[0]
    assert bucketed_fingerprint(df, schema, cfg).collect()[0].fp == want
    part = "o_orderkey % 1024"
    want_parts = duck.execute(
        partitioned_fingerprint_oracle_sql(table, schema, cfg, part)
    ).fetchall()
    got_parts = partitioned_fingerprint(df, schema, cfg, part).collect()
    assert sorted(map(tuple, got_parts)) == sorted(want_parts)
    duck.close()


def test_hash_primary_keys_variant(spark, duck, sf_dir):
    """--hash-primary-keys ordering variant (config.go:53-57)."""
    cfg = VerifyConfig(hash_primary_keys=True)
    assert _spark_fp(spark, sf_dir, "orders", "full", cfg) == _duck_fp(
        duck, "orders", "full", cfg
    )


@pytest.mark.parametrize("mode", ["full", "sparse", "bucketed"])
def test_plan_paths_agree(spark, sf_dir, mode):
    """The size-chosen physical plans (single-reduce vs distributed sort/
    repartition) must produce byte-identical fingerprints."""
    target = ParquetTarget("t", sf_dir)
    df = target.read(spark, "orders")
    schema = target.table_schema(spark, "orders")
    small = FINGERPRINT_OPS[mode](df, schema, CFG).collect()[0].fp
    force_large = VerifyConfig(
        bookend_limit=100, sparse_mod=10, fingerprint_buckets=64, small_input_bytes=1
    )
    large = FINGERPRINT_OPS[mode](df, schema, force_large).collect()[0].fp
    assert small == large


def test_timestamp_precision_variants(spark, duck, sf_dir):
    """--timestamp-precision truncation (config.go:32,90) on both the real
    timestamp path (orders) and the bigint-nanos path (events)."""
    for table, precision in (("orders", "seconds"), ("events", "hours")):
        cfg = VerifyConfig(timestamp_precision=precision)
        a = _spark_fp(spark, sf_dir, table, "full", cfg)
        assert a == _duck_fp(duck, table, "full", cfg)
    # coarser truncation must actually change the events fingerprint
    # (sub-hour timestamp spread exists in the testdata)
    assert _spark_fp(
        spark, sf_dir, "events", "full", VerifyConfig(timestamp_precision="hours")
    ) != _spark_fp(spark, sf_dir, "events", "full", CFG)


def test_exclude_columns(spark, duck, sf_dir):
    """Column exclusion changes the fingerprint and stays oracle-consistent
    (verify.go:138-144, integration_test.go:283)."""
    cfg = VerifyConfig(exclude_columns=("o_orderpriority",))
    a = _spark_fp(spark, sf_dir, "orders", "full", cfg)
    assert a == _duck_fp(duck, "orders", "full", cfg)
    assert a != _spark_fp(spark, sf_dir, "orders", "full", CFG)


def test_fused_fingerprints_match_standalone_ops(spark, duck, sf_dir):
    """Fused one-scan (full, rowcount, additive) must be byte-identical
    to the standalone operators on both plan paths (small single-reduce
    and distributed sort), on duplicate-key data, and on empty input —
    a fused target must stay comparable with an unfused/pushdown one.
    The small-input set (adding sparse and bookend) must equal the
    oracle on nation, on duplicate-key orders and on empty input, and
    its sparse and bookend must equal their large-input plans."""
    from pyspark.sql import functions as F

    from pgverify_spark.operators.fingerprint import (
        FUSABLE_MODES,
        SMALL_FUSABLE_MODES,
        fused_fingerprints,
    )

    src = ParquetTarget("t", sf_dir)
    for table in ("lineitem", "nation"):  # dup-key fact + tiny dim
        schema = TESTDATA_TABLES[table]
        df = src.read(spark, table)
        for cfg in (
            VerifyConfig(),
            VerifyConfig(small_input_bytes=0),  # force distributed path
        ):
            fused = fused_fingerprints(df, schema, cfg, FUSABLE_MODES).collect()[0]
            for mode in FUSABLE_MODES:
                standalone = FINGERPRINT_OPS[mode](df, schema, cfg).collect()[0].fp
                assert fused[f"fp_{mode}"] == standalone, (table, mode, cfg.small_input_bytes)
    # empty input
    schema = TESTDATA_TABLES["nation"]
    empty = src.read(spark, "nation").filter("n_nationkey < 0")
    fused = fused_fingerprints(empty, schema, VerifyConfig(), FUSABLE_MODES).collect()[0]
    for mode in FUSABLE_MODES:
        assert fused[f"fp_{mode}"] == FINGERPRINT_OPS[mode](empty, schema, VerifyConfig()).collect()[0].fp

    # small-input fused set: every orders key twice, with differing rows
    orders = src.read(spark, "orders")
    dup_orders = orders.unionByName(
        orders.withColumn("o_orderpriority", F.concat("o_orderpriority", F.lit("x")))
    )
    cases = (
        ("nation", src.read(spark, "nation"), "nation"),
        (
            "orders",
            dup_orders,
            "(SELECT * FROM orders UNION ALL "
            "SELECT * REPLACE (o_orderpriority || 'x' AS o_orderpriority) FROM orders) t",
        ),
        ("nation", empty, "(SELECT * FROM nation WHERE n_nationkey < 0) t"),
    )
    cfg, large = VerifyConfig(), VerifyConfig(small_input_bytes=0)
    for table, df, oracle_from in cases:
        schema = TESTDATA_TABLES[table]
        fused = fused_fingerprints(df, schema, cfg, SMALL_FUSABLE_MODES).collect()[0]
        for mode in SMALL_FUSABLE_MODES:
            want = duck.execute(
                fingerprint_oracle_sql(mode, oracle_from, schema, cfg)
            ).fetchone()[0]
            assert fused[f"fp_{mode}"] == want, (oracle_from, mode)
        for mode in ("bookend", "sparse"):
            got = FINGERPRINT_OPS[mode](df, schema, large).collect()[0].fp
            assert got == fused[f"fp_{mode}"], (oracle_from, mode)
    with pytest.raises(ValueError, match="not fusable"):
        fused_fingerprints(orders, TESTDATA_TABLES["orders"], large, ("bookend",))


def _expression_names(df) -> set[str]:
    """Class names of every expression node in ``df``'s optimized
    logical plan, walked through py4j (every plan node's expressions and
    their children, every plan child)."""
    names, nodes = set(), [df._jdf.queryExecution().optimizedPlan()]
    while nodes:
        node = nodes.pop()
        exprs = node.expressions()
        stack = [exprs.apply(i) for i in range(exprs.size())]
        while stack:
            e = stack.pop()
            names.add(e.getClass().getSimpleName())
            kids = e.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_small_fused_digests_are_lambda_free(spark, sf_dir):
    """The small-input ordered digests sort with ``sort_array`` and
    project the struct field directly: no ``array_sort`` comparator or
    ``transform`` lambda, which Spark evaluates interpreted per
    comparison and per element, is left in the plan."""
    from pgverify_spark.operators.fingerprint import _small_fused

    df = ParquetTarget("t", sf_dir).read(spark, "nation")
    fused = _small_fused(
        df, TESTDATA_TABLES["nation"], VerifyConfig(), ("full", "sparse", "rowcount")
    )
    names = _expression_names(fused)
    assert not names & {"ArraySort", "ArrayTransform", "LambdaFunction"}, sorted(names)
    assert {"SortArray", "GetArrayStructFields", "Md5"} <= names, sorted(names)


def test_verify_fuses_modes_into_one_scan(spark, sf_dir):
    """A (full, rowcount, additive) verify run must not scan the table
    once per mode: the union plan's scan count stays at one per
    (target, table) thanks to fusion + exchange reuse."""
    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.plans.verify import verify
    from pgverify_spark.sources.parquet import ParquetTarget

    cfg = VerifyConfig(
        test_modes=("full", "rowcount", "additive"), include_tables=("region",)
    )
    res = verify(spark, [ParquetTarget("a", sf_dir)], cfg)
    assert res.ok, res.errors
    rows = {r["mode"]: r["output"] for r in res.results.collect()}
    assert set(rows) == {"full", "rowcount", "additive"}
    assert rows["rowcount"].isdigit() and rows["additive"].count(":") == 1


def test_partitioned_fingerprint(spark, duck, sf_dir):
    """Per-day fingerprints match the oracle; concatenating them in day
    order reconstructs a whole-table check (incremental-verify pattern);
    a single-row mutation flips exactly its own day's fingerprint."""
    from pgverify_spark.operators.fingerprint import (
        partitioned_fingerprint,
        partitioned_fingerprint_oracle_sql,
    )

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    cfg = VerifyConfig()
    rows = sorted(map(tuple, partitioned_fingerprint(events, schema, cfg).collect()))
    oracle = sorted(
        duck.execute(
            partitioned_fingerprint_oracle_sql("events", schema, cfg)
        ).fetchall()
    )
    assert rows == [tuple(r) for r in oracle] and len(rows) > 1
    # mutate one row -> only that day's fingerprint changes
    first_day = rows[0][0]
    day = bucket_sql(events, US_PER_DAY)
    mutated = events.selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = {first_day} AND event_id % 7 = 0 "
        "THEN value + 1 ELSE value END AS value",
        "props",
    )
    mrows = dict(map(tuple, partitioned_fingerprint(mutated, schema, cfg).collect()))
    base = dict(rows)
    changed = {d for d in base if base[d] != mrows[d]}
    assert changed == {first_day}


def test_partition_diff(spark, duck, sf_dir):
    """partition_diff localizes a mutation to its day and reports a
    dropped day as only_left; identical sides produce zero rows."""
    from pgverify_spark.operators.fingerprint import (
        partition_diff,
        partition_diff_oracle_sql,
    )

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    day = bucket_sql(events, US_PER_DAY)
    assert partition_diff(events, events, schema).count() == 0
    right = events.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
        "THEN value + 1 ELSE value END AS value",
        "props",
    )
    rows = sorted(map(tuple, partition_diff(events, right, schema).collect()))
    day_duck = "CAST(epoch_us(ts) // 86400000000 AS BIGINT)"
    right_sql = (
        "(SELECT event_id, ts, user_id, event_type, "
        f"CASE WHEN {day_duck} = 19723 AND event_id % 11 = 0 THEN value + 1 ELSE value END AS value, "
        f"props FROM events WHERE {day_duck} <> 19724)"
    )
    oracle = sorted(
        map(tuple, duck.execute(
            partition_diff_oracle_sql("events", right_sql, schema)
        ).fetchall())
    )
    assert rows == oracle
    assert [(r[0], r[3]) for r in rows] == [(19723, "fp_mismatch"), (19724, "only_left")]


def test_drilldown_row_diff(spark, duck, sf_dir):
    """Composed drill-down: row detail restricted to mismatched
    partitions, matching the oracle exactly; identical sides produce
    zero rows; the row-level pass is gated by a broadcast semi-join."""
    from pgverify_spark.operators.diff import (
        drilldown_row_diff,
        drilldown_row_diff_oracle_sql,
    )

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    day = bucket_sql(events, US_PER_DAY)
    assert drilldown_row_diff(events, events, schema).count() == 0
    right = events.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
        "THEN value + 1 ELSE value END AS value",
        "props",
    )
    out = drilldown_row_diff(events, right, schema)
    rows = sorted(map(tuple, out.collect()))
    day_duck = "CAST(epoch_us(ts) // 86400000000 AS BIGINT)"
    right_sql = (
        "(SELECT event_id, ts, user_id, event_type, "
        f"CASE WHEN {day_duck} = 19723 AND event_id % 11 = 0 THEN value + 1 ELSE value END AS value, "
        f"props FROM events WHERE {day_duck} <> 19724)"
    )
    oracle = sorted(
        map(tuple, duck.execute(
            drilldown_row_diff_oracle_sql("events", right_sql, schema)
        ).fetchall())
    )
    assert rows == oracle
    # every reported row belongs to one of the two known-bad days, and
    # both mutation kinds surface
    assert {r[0] for r in rows} == {19723, 19724}
    statuses = {r[5] for r in rows}
    assert "only_left" in statuses and "only_right" in statuses
    # scale guard: the row pass is restricted by a broadcast semi-join
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p and "Broadcast" in p


def test_snapshot_verify(spark, sf_dir, tmp_path):
    """Cross-run incremental verification: snapshot once, verify later
    runs against it without rescanning the snapshot side."""
    from pgverify_spark.operators.fingerprint import (
        verify_against_snapshot,
        write_fingerprint_snapshot,
    )

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    path = str(tmp_path / "snap")
    write_fingerprint_snapshot(events, schema, path)

    # unchanged data -> zero drift
    assert verify_against_snapshot(spark, events, schema, path).count() == 0

    # mutate one day, drop another -> exactly those partitions named
    day = bucket_sql(events, US_PER_DAY)
    changed = events.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
        "THEN value + 1 ELSE value END AS value",
        "props",
    )
    rows = sorted(
        map(tuple, verify_against_snapshot(spark, changed, schema, path).collect())
    )
    assert [(r[0], r[3]) for r in rows] == [
        (19723, "fp_mismatch"),
        (19724, "only_left"),
    ]
    # the snapshot side reads O(partitions) state, never the old data
    from pgverify_spark.sources import manifest

    snap_rows = manifest.read_state(spark, path).count()
    assert snap_rows == events.selectExpr(day).distinct().count()


def test_schema_diff():
    """Structural drift surfaces before any data compare."""
    from pgverify_spark.sources.schemas import TableSchema, schema_diff

    a = TableSchema("t", (("id", "bigint"), ("v", "double"), ("x", "string")), ("id",))
    b = TableSchema("t", (("id", "bigint"), ("v", "decimal"), ("y", "string")), ("id",))
    assert schema_diff(a, b) == [
        ("v", "double", "decimal", "type_mismatch"),
        ("x", "string", None, "only_left"),
        ("y", None, "string", "only_right"),
    ]
    assert schema_diff(a, a) == []


def test_snapshot_update(spark, sf_dir, tmp_path):
    """Splice-update of only the touched partitions == from-scratch
    recompute of the whole mutated table; untouched partitions keep
    their stored fingerprints without being rescanned."""
    from pgverify_spark.operators.fingerprint import (
        partitioned_fingerprint,
        update_fingerprint_snapshot,
        verify_against_snapshot,
        write_fingerprint_snapshot,
    )

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    path = str(tmp_path / "snap")
    write_fingerprint_snapshot(events, schema, path)

    day = bucket_sql(events, US_PER_DAY)
    changed = events.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
        "THEN value + 1 ELSE value END AS value",
        "props",
    )
    # the splice is a distributed stage-and-swap — nothing may cross
    # the driver while it runs, at ANY state size (r9 VERDICT item 1)
    from unittest import mock

    from pyspark.sql import DataFrame as _DF

    def _no_driver(*a, **k):
        raise AssertionError("splice path must not collect to the driver")

    with mock.patch.object(_DF, "collect", _no_driver), \
            mock.patch.object(_DF, "toPandas", _no_driver), \
            mock.patch.object(_DF, "toLocalIterator", _no_driver):
        updated = update_fingerprint_snapshot(
            spark, changed, schema, path, (19723, 19724)
        )
    # the generation was published through a manifest commit; GC keeps
    # at most two manifests (the grace window for in-flight readers)
    from pgverify_spark.sources import manifest

    assert 1 <= len(manifest.manifest_numbers(spark, path)) <= 2
    want = sorted(
        map(tuple, partitioned_fingerprint(changed, schema).collect())
    )
    assert sorted(map(tuple, updated.collect())) == want
    # and the refreshed state verifies clean against the current data
    assert verify_against_snapshot(spark, changed, schema, path).count() == 0

    # empty parts = 'refresh nothing': a no-op returning the state
    # unchanged, NOT an 'IN ()' parse error
    same = update_fingerprint_snapshot(spark, changed, schema, path, ())
    assert sorted(map(tuple, same.collect())) == want


def test_snapshot_affected_day_bounds(spark, sf_dir, tmp_path):
    """Metadata-bounded incremental verify: replacing ONE file of a
    ts-clustered table bounds the affected day range to that file's
    stored catalog range; verify_against_snapshot(part_between=...)
    names exactly the mutated day while scanning only the bound."""
    import glob
    import os
    import shutil

    from pgverify_spark.operators.fingerprint import (
        snapshot_affected_day_bounds,
        snapshot_catalog_unchanged,
        verify_against_snapshot,
        write_fingerprint_snapshot,
    )

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    table = str(tmp_path / "events.parquet")
    # ts-clustered layout: 8 range files, narrow per-file day ranges
    events.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(table)
    state = str(tmp_path / "snap")
    cur = spark.read.parquet(table)
    write_fingerprint_snapshot(cur, schema, state)
    assert snapshot_catalog_unchanged(spark, table, state) is True
    # an unchanged table has no delta to bound
    assert snapshot_affected_day_bounds(spark, table, state) is None

    # replace one middle file with a value-mutated rewrite of its rows
    files = sorted(
        f for f in glob.glob(f"{table}/part-*") if not f.endswith(".crc")
    )
    victim = files[3]
    vic_rows = spark.read.parquet(victim)
    day = bucket_sql(vic_rows, US_PER_DAY)
    lo_hi = vic_rows.selectExpr(f"min({day})", f"max({day})").first()
    staging = str(tmp_path / "stg")
    vic_rows.selectExpr(
        "event_id", "ts", "user_id", "event_type", "value + 1 AS value", "props"
    ).coalesce(1).write.parquet(staging)
    (newfile,) = [
        f for f in glob.glob(f"{staging}/part-*") if not f.endswith(".crc")
    ]
    os.remove(victim)
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):  # stale Hadoop checksum sidecar
        os.remove(crc)
    shutil.copy(newfile, victim)

    assert snapshot_catalog_unchanged(spark, table, state) is False
    bounds = snapshot_affected_day_bounds(spark, table, state)
    assert bounds is not None
    lo, hi = bounds
    assert (lo, hi) == (int(lo_hi[0]), int(lo_hi[1]))
    # the bound is a real restriction, not the whole table
    full = events.selectExpr(f"min({day})", f"max({day})").first()
    assert (lo, hi) != (int(full[0]), int(full[1]))
    diff = verify_against_snapshot(
        spark, spark.read.parquet(table), schema, state, part_between=bounds
    )
    rows = sorted(map(tuple, diff.collect()))
    assert rows, "the mutation must surface"
    assert all(lo <= r[0] <= hi for r in rows)
    assert all(r[3] == "fp_mismatch" for r in rows)


def test_snapshot_update_string_partitions(spark, sf_dir, tmp_path):
    """String-valued partition_sql: partition values must be rendered
    as quoted SQL literals (bare str() would be an invalid identifier),
    including values containing a quote."""
    from pgverify_spark.operators.fingerprint import (
        partitioned_fingerprint,
        update_fingerprint_snapshot,
        write_fingerprint_snapshot,
    )

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    path = str(tmp_path / "snap_str")
    psql = "event_type"  # string partition key
    write_fingerprint_snapshot(events, schema, path, partition_sql=psql)

    changed = events.selectExpr(
        "event_id", "ts", "user_id", "event_type",
        "CASE WHEN event_type = 'click' AND event_id % 7 = 0 "
        "THEN value + 1 ELSE value END AS value",
        "props",
    )
    updated = update_fingerprint_snapshot(
        spark, changed, schema, path, ("click", "it'sfine"),
        partition_sql=psql,
    )
    want = sorted(
        map(tuple, partitioned_fingerprint(changed, schema, None, psql).collect())
    )
    assert sorted(map(tuple, updated.collect())) == want


def test_stream_hash_switch_selects_reducer(spark, sf_dir):
    """One switch picks the exact ordered reducer's final reduce: a
    non-small input streams (``MapInPandas``) by default and not with
    ``full_stream_hash=False``, byte-identically.  The 100x CLI probe
    overran an 8 GiB heap with the JVM aggregate at 15M rows, so the
    memory-bounded reduce is the default."""
    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.operators.fingerprint import full_fingerprint
    from pgverify_spark.sources.parquet import ParquetTarget

    tgt = ParquetTarget("t", sf_dir)
    df = tgt.read(spark, "orders")
    schema = tgt.table_schema(spark, "orders")

    def plan(cfg):
        fp = full_fingerprint(df, schema, cfg)
        return fp._jdf.queryExecution().executedPlan().toString()

    default = VerifyConfig(small_input_bytes=0)
    jvm = VerifyConfig(small_input_bytes=0, full_stream_hash=False)
    assert default.full_stream_hash is True
    assert "MapInPandas" in plan(default)
    assert "MapInPandas" not in plan(jvm)
    digests = {
        full_fingerprint(df, schema, cfg).collect()[0]["fp"] for cfg in (default, jvm)
    }
    assert len(digests) == 1


def test_full_stream_hash_matches_aggregate(spark, sf_dir):
    """full_stream_hash streams the final md5 incrementally (O(largest
    partition) memory in the last task vs the O(table) concat that
    overruns a heap near 10^8 rows x targets) — the digest must be
    byte-identical to the JVM aggregate path, including 'no rows'."""
    import dataclasses

    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.operators.fingerprint import full_fingerprint
    from pgverify_spark.sources.parquet import ParquetTarget

    # small_input_bytes=0 forces the distributed plan even at test SF,
    # so both final-reduce variants actually execute
    base = VerifyConfig(small_input_bytes=0, full_stream_hash=False)
    streamed = dataclasses.replace(base, full_stream_hash=True)
    tgt = ParquetTarget("t", sf_dir)
    for table in ("orders", "events", "nation"):
        df = tgt.read(spark, table)
        schema = tgt.table_schema(spark, table)
        agg = full_fingerprint(df, schema, base).collect()[0]["fp"]
        stream = full_fingerprint(df, schema, streamed).collect()[0]["fp"]
        assert agg == stream, table
    # fused reduce: all three fusable modes must match the aggregate
    # path byte-for-byte through the streaming variant too
    from pgverify_spark.operators.fingerprint import fused_fingerprints

    schema = tgt.table_schema(spark, "orders")
    df = tgt.read(spark, "orders")
    modes = ("full", "rowcount", "additive")
    agg_row = fused_fingerprints(df, schema, base, modes).collect()[0]
    stream_row = fused_fingerprints(df, schema, streamed, modes).collect()[0]
    for m in modes:
        assert agg_row[f"fp_{m}"] == stream_row[f"fp_{m}"], m
    # empty input: identical sentinel spellings on every path
    empty = tgt.read(spark, "orders").filter("o_orderkey < 0")
    assert full_fingerprint(empty, schema, streamed).collect()[0]["fp"] == "no rows"
    assert full_fingerprint(empty, schema, base).collect()[0]["fp"] == "no rows"
    e_agg = fused_fingerprints(empty, schema, base, modes).collect()[0]
    e_stream = fused_fingerprints(empty, schema, streamed, modes).collect()[0]
    for m in modes:
        assert e_agg[f"fp_{m}"] == e_stream[f"fp_{m}"], (m, dict(e_agg.asDict()), dict(e_stream.asDict()))


@pytest.mark.parametrize("stream", [True, False])
def test_sparse_sampled_large_matches_oracle(spark, duck, sf_dir, stream):
    """Sparse's sampled-large path (``small_input_bytes=0``: the sample
    itself exceeds the small-input bound) takes the exact ordered
    reducer and follows its switch: the streamed reduce by default, the
    JVM partials with ``False``; both equal the oracle, including the
    empty-input sentinel."""
    cfg = dataclasses.replace(CFG, small_input_bytes=0, full_stream_hash=stream)
    target = ParquetTarget("t", sf_dir)
    df = target.read(spark, "lineitem")
    schema = target.table_schema(spark, "lineitem")
    fp = sparse_fingerprint(df, schema, cfg)
    plan = fp._jdf.queryExecution().executedPlan().toString()
    assert ("MapInPandas" in plan) is stream
    assert fp.collect()[0].fp == _duck_fp(duck, "lineitem", "sparse", cfg)
    empty = df.filter("l_orderkey < 0")
    assert sparse_fingerprint(empty, schema, cfg).collect()[0].fp == "no rows"


def test_partitioned_stream_hash_matches_aggregate(spark, sf_dir):
    """Per-partition streaming digests must equal the collect_list
    aggregate's, row for row (the 100x scale check OOM'd the aggregate
    at 10^6-row calendar partitions)."""
    import dataclasses

    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.operators.fingerprint import partitioned_fingerprint
    from pgverify_spark.sources.parquet import ParquetTarget

    base = VerifyConfig(small_input_bytes=0, full_stream_hash=False)
    streamed = dataclasses.replace(base, full_stream_hash=True)
    tgt = ParquetTarget("t", sf_dir)
    df = tgt.read(spark, "events")
    schema = tgt.table_schema(spark, "events")
    agg = sorted(map(tuple, partitioned_fingerprint(df, schema, base).collect()))
    stream = sorted(map(tuple, partitioned_fingerprint(df, schema, streamed).collect()))
    assert agg == stream and len(agg) > 1
    # empty input: both produce zero partition rows
    empty = df.filter("event_id < 0")
    assert partitioned_fingerprint(empty, schema, streamed).collect() == []
    # null partition keys: all null-key rows must fold into ONE group on
    # the streamed path exactly like the group-by aggregate (nullable
    # bigint parts arrive in pandas as NaN and NaN != NaN; a None init
    # sentinel collides with null string parts).  Both a numeric and a
    # string part type, with nulls interleaved across the key space.
    for part_sql in (
        "CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_id % 5 END",
        "CASE WHEN event_id % 3 = 0 THEN NULL"
        " ELSE CAST(event_id % 5 AS STRING) END",
    ):
        nullsafe = lambda r: (r[0] is None, str(r[0]), r[1])  # noqa: E731
        agg_n = sorted(
            map(tuple, partitioned_fingerprint(df, schema, base, part_sql).collect()),
            key=nullsafe,
        )
        stream_n = sorted(
            map(tuple, partitioned_fingerprint(df, schema, streamed, part_sql).collect()),
            key=nullsafe,
        )
        assert agg_n == stream_n, part_sql
        nulls = [r for r in stream_n if r[0] is None]
        assert len(nulls) == 1, part_sql


def test_cardinality_mode_semantics(spark, sf_dir):
    """The distinct-shape mode: invariant to row DUPLICATION (the
    documented trade vs additive), attributes a drift to the column
    that moved (readable fp segments), and excludes NULLs."""
    from pgverify_spark.operators.fingerprint import cardinality_fingerprint

    target = ParquetTarget("t", sf_dir)
    df = target.read(spark, "region")
    schema = target.table_schema(spark, "region")
    base = cardinality_fingerprint(df, schema, CFG).collect()[0].fp
    # duplication invariance: additive flips, cardinality must not
    doubled = df.unionByName(df)
    assert cardinality_fingerprint(doubled, schema, CFG).collect()[0].fp == base
    # column attribution: re-code one column -> ONLY its segment moves
    recoded = df.selectExpr("r_regionkey", "concat(r_name, '!') AS r_name")
    drifted = cardinality_fingerprint(recoded, schema, CFG).collect()[0].fp
    segs_a = dict(s.split(":", 1) for s in base.split(","))
    segs_b = dict(s.split(":", 1) for s in drifted.split(","))
    assert segs_a["r_regionkey"] == segs_b["r_regionkey"]
    assert segs_a["r_name"] != segs_b["r_name"]
    # NULL exclusion: nulling a value = removing it from the domain
    nulled = df.selectExpr(
        "r_regionkey",
        "CASE WHEN r_regionkey = 2 THEN NULL ELSE r_name END AS r_name",
    )
    fp_nulled = cardinality_fingerprint(nulled, schema, CFG).collect()[0].fp
    segs_n = dict(s.split(":", 1) for s in fp_nulled.split(","))
    assert segs_n["r_name"] != segs_a["r_name"]
    assert segs_n["r_regionkey"] == segs_a["r_regionkey"]


def test_cardinality_mode_in_verify_report(spark, sf_dir):
    """The new mode flows through the verify orchestrator: matching
    targets agree; a value-domain drift in one target is flagged."""
    from pgverify_spark.config import VerifyConfig as VC
    from pgverify_spark.plans.verify import verify

    cfg = VC(test_modes=("cardinality",), include_tables=("region",))
    targets = [ParquetTarget("a", sf_dir), ParquetTarget("b", sf_dir)]
    res = verify(spark, targets, cfg)
    assert res.ok
    rows = res.report().collect()
    fps = {r["target"]: r["cardinality"] for r in rows}
    assert set(fps) == {"a", "b"} and fps["a"] == fps["b"]
    assert ":" in fps["a"] and "," in fps["a"]  # readable per-column segments


def _ts_clustered_table(spark, sf_dir, tmp_path):
    """events copied into a ts-clustered 8-file layout + its snapshot."""
    from pgverify_spark.operators.fingerprint import write_fingerprint_snapshot

    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    schema = src.table_schema(spark, "events")
    table = str(tmp_path / "events.parquet")
    events.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(table)
    state = str(tmp_path / "snap")
    write_fingerprint_snapshot(spark.read.parquet(table), schema, state)
    return table, state, schema


def _replace_victim_file(spark, table, tmp_path, idx=3):
    """Mutate one file in place (value+1 rewrite); returns its stored
    day range."""
    import glob
    import os
    import shutil

    files = sorted(
        f for f in glob.glob(f"{table}/part-*") if not f.endswith(".crc")
    )
    victim = files[idx]
    vic_rows = spark.read.parquet(victim)
    day = bucket_sql(vic_rows, US_PER_DAY)
    lo, hi = vic_rows.selectExpr(f"min({day})", f"max({day})").first()
    staging = str(tmp_path / f"stg{idx}")
    vic_rows.selectExpr(
        "event_id", "ts", "user_id", "event_type", "value + 1 AS value", "props"
    ).coalesce(1).write.parquet(staging)
    (newfile,) = [
        f for f in glob.glob(f"{staging}/part-*") if not f.endswith(".crc")
    ]
    os.remove(victim)
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    shutil.copy(newfile, victim)
    return int(lo), int(hi)


def test_under_named_refresh_drops_catalog(spark, sf_dir, tmp_path):
    """--snapshot-refresh naming FEWER partitions than actually changed
    must NOT re-baseline the file catalog (r11 ADVICE, medium): the
    next verify must fall back to the real scan and surface the
    un-named partitions' drift instead of certifying zero drift from
    metadata."""
    from pgverify_spark.operators.fingerprint import (
        snapshot_catalog_unchanged,
        update_fingerprint_snapshot,
        verify_against_snapshot,
    )

    table, state, schema = _ts_clustered_table(spark, sf_dir, tmp_path)
    lo, hi = _replace_victim_file(spark, table, tmp_path)
    assert hi > lo, "victim file must span >=2 days for an under-named refresh"
    cur = spark.read.parquet(table)
    # refresh names ONLY the first changed day — days lo+1..hi stay stale
    update_fingerprint_snapshot(spark, cur, schema, state, (lo,))
    # the catalog was dropped, so the metadata fast path DISARMS ...
    assert snapshot_catalog_unchanged(spark, table, state) is None
    # ... and the real scan names the un-refreshed days' drift
    stale = verify_against_snapshot(spark, cur, schema, state).collect()
    assert stale, "under-named refresh must leave visible drift"
    assert all(lo < r["part"] <= hi for r in stale)


def test_well_named_refresh_keeps_catalog(spark, sf_dir, tmp_path):
    """A refresh naming EVERY changed day keeps the fast path armed:
    the delta is provably confined to ``parts``, the catalog re-baselines,
    and the next verify is metadata-only again."""
    from pgverify_spark.operators.fingerprint import (
        snapshot_catalog_unchanged,
        update_fingerprint_snapshot,
        verify_against_snapshot,
    )

    table, state, schema = _ts_clustered_table(spark, sf_dir, tmp_path)
    lo, hi = _replace_victim_file(spark, table, tmp_path)
    cur = spark.read.parquet(table)
    update_fingerprint_snapshot(
        spark, cur, schema, state, tuple(range(lo, hi + 1))
    )
    assert snapshot_catalog_unchanged(spark, table, state) is True
    assert verify_against_snapshot(spark, cur, schema, state).count() == 0


def test_null_ts_file_bounds_fall_back_to_full_scan(spark, sf_dir, tmp_path):
    """An added file whose rows all have NULL ts has no derivable day
    bound: snapshot_affected_day_bounds returns None (full-scan
    fallback) instead of crashing on int(None) (r11 ADVICE)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from pgverify_spark.operators.fingerprint import (
        snapshot_affected_day_bounds,
        snapshot_catalog_unchanged,
    )

    table, state, _schema = _ts_clustered_table(spark, sf_dir, tmp_path)
    base = spark.read.parquet(table)
    null_ts = F.lit(None).cast(base.schema["ts"].dataType)
    staging = str(tmp_path / "nullstg")
    (
        base.limit(3)
        .withColumn("event_id", F.col("event_id") + 1_000_000_000)
        .withColumn("ts", null_ts)
        .coalesce(1)
        .write.parquet(staging)
    )
    (newfile,) = [
        f for f in glob.glob(f"{staging}/part-*") if not f.endswith(".crc")
    ]
    shutil.copy(newfile, f"{table}/part-nullts.parquet")
    assert snapshot_catalog_unchanged(spark, table, state) is False
    assert snapshot_affected_day_bounds(spark, table, state) is None
