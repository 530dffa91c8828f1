"""Orchestrator + row-diff tests (reference semantics: results.go:46-166,
verify.go:23-136; mutation scenario: integration_test.go:294-398)."""

import pytest

from pgverify_spark.config import VerifyConfig
from pgverify_spark.operators.diff import row_diff, row_diff_oracle_sql
from pgverify_spark.plans.verify import check_for_errors, report_table, verify
from pgverify_spark.sources.parquet import ParquetTarget
from pgverify_spark.sources.schemas import TESTDATA_TABLES

CFG = VerifyConfig(
    test_modes=("full", "rowcount"),
    include_tables=("region", "nation", "supplier"),
    bookend_limit=10,
    sparse_mod=2,
)


def test_verify_agreeing_targets(spark, sf_dir):
    targets = [ParquetTarget("a", sf_dir), ParquetTarget("b", sf_dir)]
    res = verify(spark, targets, CFG)
    assert res.ok, res.errors
    rows = res.results.collect()
    # 2 targets x 3 tables x 2 modes
    assert len(rows) == 12
    rep = report_table(res.results).collect()
    assert len(rep) == 6  # (schema, tbl, target) rows
    assert {"full", "rowcount"} <= set(report_table(res.results).columns)


def test_verify_aliases_applied_when_count_matches(spark, sf_dir):
    """Aliases rename targets in reporting output when the count equals
    the target count, and are ignored otherwise (config.go:59-62,
    verify.go:46-48)."""
    import dataclasses

    targets = [ParquetTarget("a", sf_dir), ParquetTarget("b", sf_dir)]
    cfg = dataclasses.replace(CFG, include_tables=("region",), aliases=("prod", "replica"))
    res = verify(spark, targets, cfg)
    assert res.ok, res.errors
    assert {r["target"] for r in res.results.collect()} == {"prod", "replica"}

    # mismatched alias count: silently ignored, reference behavior
    cfg_bad = dataclasses.replace(cfg, aliases=("only-one",))
    res = verify(spark, targets, cfg_bad)
    assert res.ok, res.errors
    assert {r["target"] for r in res.results.collect()} == {"a", "b"}


def test_verify_detects_mismatch(spark, sf_dir, tmp_path):
    # copy of region with one row mutated away = the reference's failtest
    src = ParquetTarget("a", sf_dir)
    df = src.read(spark, "region").filter("r_regionkey <> 2")
    mutated_dir = str(tmp_path / "mutated")
    df.coalesce(1).write.parquet(f"{mutated_dir}/region.parquet")
    cfg = VerifyConfig(test_modes=("full", "rowcount"), include_tables=("region",))
    res = verify(spark, [src, ParquetTarget("b", mutated_dir)], cfg)
    assert not res.ok
    assert any("outputs differ" in e for e in res.errors)


def test_verify_missing_target_table(spark, sf_dir, tmp_path):
    src = ParquetTarget("a", sf_dir)
    only_dir = str(tmp_path / "only_region")
    src.read(spark, "region").write.parquet(f"{only_dir}/region.parquet")
    cfg = VerifyConfig(test_modes=("rowcount",), include_tables=("region", "nation"))
    res = verify(spark, [src, ParquetTarget("b", only_dir)], cfg)
    assert any("missing targets" in e and "nation" in e for e in res.errors)


def test_verify_no_pk_errors(spark, sf_dir, tmp_path):
    src = ParquetTarget("a", sf_dir)
    nopk_dir = str(tmp_path / "nopk")
    src.read(spark, "region").write.parquet(f"{nopk_dir}/mystery.parquet")
    cfg = VerifyConfig(test_modes=("full",), include_tables=("mystery",))
    res = verify(spark, [ParquetTarget("a", nopk_dir)], cfg)
    assert any("test failed" in e for e in res.errors)


def test_verify_corrupt_table_errs_without_aborting(spark, sf_dir, tmp_path):
    """A runtime read failure on one table pins '(err)' to that table's
    cells while healthy tables still report (the reference's seeded-error
    semantics, results.go:12, verify.go:131)."""
    src = ParquetTarget("a", sf_dir)
    broken_dir = tmp_path / "broken"
    src.read(spark, "region").coalesce(1).write.parquet(str(broken_dir / "region.parquet"))
    # nation exists but its parquet footer is garbage -> fails at execution
    (broken_dir / "nation.parquet").mkdir()
    (broken_dir / "nation.parquet" / "part-0.parquet").write_bytes(b"not parquet at all")
    cfg = VerifyConfig(test_modes=("rowcount",), include_tables=("region", "nation"))
    res = verify(spark, [ParquetTarget("a", str(broken_dir))], cfg)
    by_tbl = {r.tbl: r.output for r in res.results.collect()}
    assert by_tbl["nation"] == "(err)"
    assert by_tbl["region"].isdigit()
    assert any("test failed" in e and "nation" in e for e in res.errors)

    # A fused branch that fails at execution: nation's first part file
    # is valid (schema inference reads it), its second is garbage.  All
    # four default-mode cells of the branch read "(err)"; region's cells
    # equal a healthy run's.
    faulty_dir = tmp_path / "faulty"
    src.read(spark, "region").coalesce(1).write.parquet(str(faulty_dir / "region.parquet"))
    src.read(spark, "nation").coalesce(1).write.parquet(str(faulty_dir / "nation.parquet"))
    (faulty_dir / "nation.parquet" / "part-99999.parquet").write_bytes(b"PAR1 garbage")
    cfg = VerifyConfig(include_tables=("region", "nation"))
    res = verify(spark, [ParquetTarget("a", str(faulty_dir))], cfg)
    cells = {(r.tbl, r.mode): r.output for r in res.results.collect()}
    healthy = verify(spark, [src], VerifyConfig(include_tables=("region",)))
    assert healthy.ok, healthy.errors
    want = {(r.tbl, r.mode): r.output for r in healthy.results.collect()}
    assert {m for t, m in want} == set(cfg.test_modes)
    assert cells == {**want, **{("nation", m): "(err)" for m in cfg.test_modes}}


def test_verify_small_tables_schedule_one_job_per_branch(spark, sf_dir, grouped_jobs):
    """Two small tables on two agreeing targets with the four default
    modes: each (target, table) is one fused branch (one two-stage
    aggregate), so the union's execution, run under the caller's job
    group, schedules at most targets x tables + 1 jobs.  The plan build
    runs on verify's per-target threads, outside the group, and
    schedules no job: each table's schema is read from its parquet
    footer on the driver, not by Spark's one-task inference job."""
    tracker = spark.sparkContext.statusTracker()
    targets = [ParquetTarget("a", sf_dir), ParquetTarget("b", sf_dir)]
    cfg = VerifyConfig(include_tables=("nation", "orders"))
    cells = len(targets) * 2
    verify(spark, targets, cfg)  # warm-up: nothing below depends on a cold JVM
    ungrouped = set(tracker.getJobIdsForGroup(None))
    res, executed = grouped_jobs(lambda: verify(spark, targets, cfg))
    assert res.ok, res.errors
    assert len(res.rows) == cells * 4
    assert 0 < len(executed) <= cells + 1, executed
    built = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert not built, sorted(built)


class _StubPushdownTarget:
    """Duck-typed pushdown target: returns canned scalars, raising for
    unsupported modes — exercises the orchestrator's pushdown branch
    without a live database."""

    schema = "public"
    use_pushdown = True

    def __init__(self, name, fps):
        self.name = name
        self._fps = fps  # (table, mode) -> fp

    def list_tables(self, spark, config=None):
        return sorted({t for t, _ in self._fps})

    def pushdown_fingerprint(self, spark, table, mode, config=None):
        return self._fps[(table, mode)]


def test_verify_pushdown_targets(spark):
    """Pushdown targets flow through verify(): agreement passes, a
    mismatched scalar and an unsupported mode surface as errors."""
    cfg = VerifyConfig(test_modes=("full", "rowcount"))
    fps = {("t1", "full"): "abc", ("t1", "rowcount"): "5"}
    res = verify(
        spark,
        [_StubPushdownTarget("a", fps), _StubPushdownTarget("b", dict(fps))],
        cfg,
    )
    assert res.ok, res.errors

    bad = dict(fps)
    bad[("t1", "full")] = "zzz"
    res2 = verify(spark, [_StubPushdownTarget("a", fps), _StubPushdownTarget("b", bad)], cfg)
    assert any("outputs differ" in e and "full" in e for e in res2.errors)

    res3 = verify(
        spark,
        [_StubPushdownTarget("a", fps)],
        VerifyConfig(test_modes=("full", "bucketed")),  # bucketed: no pushdown builder
    )
    assert any("test failed" in e for e in res3.errors)
    assert {r.mode: r.output for r in res3.results.collect()}["bucketed"] == "(err)"


class _StubJDBCStyleTarget:
    """Duck-typed non-pushdown target with the JDBC method surface:
    ``primary_key(spark, table)`` takes the session, and there is no
    ``path``.  verify must call only the target protocol (``list_tables``,
    ``read``, ``table_schema``); a call to the parquet-style
    ``primary_key(table)`` would raise inside the per-table error
    handling and turn every cell into '(err)'."""

    schema = "public"

    def __init__(self, name, sf_dir):
        self.name = name
        self._inner = ParquetTarget(name, sf_dir)

    def list_tables(self, spark, config=None):
        return self._inner.list_tables(spark, config)

    def primary_key(self, spark, table):  # JDBC signature: (spark, table)
        return self._inner.primary_key(table)

    def read(self, spark, table):
        return self._inner.read(spark, table)

    def table_schema(self, spark, table, df=None):
        return self._inner.table_schema(spark, table, df=df)


def test_verify_jdbc_style_target(spark, sf_dir):
    cfg = VerifyConfig(test_modes=("full", "rowcount"), include_tables=("region",))
    res = verify(
        spark, [_StubJDBCStyleTarget("db", sf_dir), ParquetTarget("pq", sf_dir)], cfg
    )
    assert res.ok, res.errors
    outputs = {(r.target, r.mode): r.output for r in res.results.collect()}
    assert outputs[("db", "rowcount")].isdigit()
    assert outputs[("db", "full")] == outputs[("pq", "full")] != "(err)"


class _StubTwoArgSchemaTarget(_StubJDBCStyleTarget):
    """A target whose ``table_schema`` predates the ``df`` argument."""

    def table_schema(self, spark, table):
        return self._inner.table_schema(spark, table)


def test_verify_rejects_table_schema_without_df(spark, sf_dir):
    """verify passes ``df=`` to ``table_schema``; a target that cannot
    take it is a protocol error raised to the caller, not an "(err)" in
    every cell with no cause."""
    cfg = VerifyConfig(test_modes=("full", "rowcount"), include_tables=("region",))
    with pytest.raises(TypeError, match="table_schema must accept a df"):
        verify(spark, [_StubTwoArgSchemaTarget("db", sf_dir)], cfg)


def test_verify_parquet_and_csv_in_one_dir_differ(spark, sf_dir, tmp_path):
    """A parquet target and a csv target sharing ONE directory each read
    their own files: when the csv copy lacks a row, verify reports the
    difference instead of a false 'consistent'."""
    from pgverify_spark.sources.files import FileTarget

    shared = tmp_path / "shared"
    src = ParquetTarget("a", sf_dir)
    region = src.read(spark, "region")
    region.coalesce(1).write.parquet(str(shared / "region.parquet"))
    # The csv copy drops a row -> the two formats genuinely disagree.
    region.filter("r_regionkey <> 2").coalesce(1).write.option("header", "true").csv(
        str(shared / "region.csv")
    )
    ddl = "r_regionkey INT, r_name STRING, r_comment STRING"
    cfg = VerifyConfig(test_modes=("full", "rowcount"), include_tables=("region",))
    res = verify(
        spark,
        [
            ParquetTarget("pq", str(shared)),
            FileTarget("csv", str(shared), format="csv", schemas={"region": ddl}),
        ],
        cfg,
    )
    assert not res.ok
    assert any("outputs differ" in e for e in res.errors)


def test_verify_report_reads_files_added_between_calls(spark, sf_dir, tmp_path):
    """A part file appended to a table between two calls of the same
    report entry shows in the second call's additive count.  The
    registry reads through a write-once memo, so the test drops it
    with ``ParquetTarget.invalidate(path)``, the refresh that code which
    rewrites registry data must call; nothing else may keep the first
    call's file listing."""
    import shutil

    from pgverify_spark import registry

    orders = tmp_path / "orders.parquet"
    orders.mkdir()
    shutil.copyfile(f"{sf_dir}/orders.parquet", orders / "part-00000.parquet")
    run = registry.spark_queries()["verify_report_cardinality"]

    def count():
        rows = run(spark, str(tmp_path)).collect()
        assert {r.target for r in rows} == {"a", "b"}
        (n,) = {r.additive.split(":")[0] for r in rows}
        return int(n)

    before = count()
    shutil.copyfile(f"{sf_dir}/orders.parquet", orders / "part-00001.parquet")
    registry.ParquetTarget.invalidate(str(tmp_path))
    assert count() == 2 * before


def test_row_diff_matches_oracle(spark, duck, sf_dir):
    target = ParquetTarget("t", sf_dir)
    schema = TESTDATA_TABLES["orders"]
    left = target.read(spark, "orders")
    right = left.filter("o_orderkey % 97 <> 0")
    got = sorted(map(tuple, row_diff(left, right, schema).collect()))
    sql = row_diff_oracle_sql(
        "orders", "(SELECT * FROM orders WHERE o_orderkey % 97 <> 0)", schema
    )
    want = sorted(map(tuple, duck.execute(sql).fetchall()))
    assert got == want
    assert got, "diff should be non-empty"
    assert all(t[4] == "only_left" for t in got)


def test_row_diff_identical_is_empty(spark, sf_dir):
    target = ParquetTarget("t", sf_dir)
    schema = TESTDATA_TABLES["nation"]
    df = target.read(spark, "nation")
    assert row_diff(df, df, schema).count() == 0


def test_repair_plan(spark, duck, sf_dir):
    """Anti-entropy plan classifies every mutated key correctly: a
    right side with deletions, mutations, and insertions yields
    'insert'/'update'/'delete' actions, oracle-exact; applying the
    plan's arithmetic reconciles the row counts."""
    from pgverify_spark.operators.diff import repair_plan, repair_plan_oracle_sql

    target = ParquetTarget("t", sf_dir)
    schema = TESTDATA_TABLES["orders"]
    left = target.read(spark, "orders")
    left.createOrReplaceTempView("orders_rp")
    right_sql = (
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders_rp WHERE o_orderkey % 97 <> 0 "
        "UNION ALL SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority FROM orders_rp WHERE o_orderkey % 101 = 0"
    )
    right = spark.sql(right_sql)
    got = sorted(map(tuple, repair_plan(left, right, schema).collect()))
    want = sorted(
        map(
            tuple,
            duck.execute(
                repair_plan_oracle_sql(
                    "orders", f"({right_sql.replace('orders_rp', 'orders')})", schema
                )
            ).fetchall(),
        )
    )
    assert got == want and got
    actions = {a for _, a, _, _ in got}
    assert actions == {"insert", "update", "delete"}
    # the plan's arithmetic reconciles the two sides exactly
    net = sum(ni - nd for _, _, ni, nd in got)
    assert left.count() - right.count() == net
    # updates always move one row out and one in (content swap per key)
    assert all(ni >= 1 and nd >= 1 for _, a, ni, nd in got if a == "update")
    assert all(nd == 0 for _, a, _, nd in got if a == "insert")
    assert all(ni == 0 for _, a, ni, _ in got if a == "delete")


def test_apply_repair_restores_left_exactly(spark, sf_dir):
    """Executing the repair plan turns the corrupted right into a
    multiset equal to the left — all three action classes at once, plus
    a duplicated-row count mismatch (the multiset case)."""
    from pgverify_spark.operators.diff import apply_repair, row_diff

    target = ParquetTarget("t", sf_dir)
    schema = TESTDATA_TABLES["orders"]
    left = target.read(spark, "orders")
    left.createOrReplaceTempView("orders_ar")
    right = spark.sql(
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders_ar WHERE o_orderkey % 97 <> 0 "
        "UNION ALL SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority FROM orders_ar WHERE o_orderkey % 101 = 0 "
        # same-content duplicate rows: count mismatch, repaired by copies
        "UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders_ar WHERE o_orderkey % 113 = 0"
    )
    repaired = apply_repair(left, right, schema)
    assert repaired.columns == left.columns
    assert repaired.count() == left.count()
    assert repaired.exceptAll(left).count() == 0
    assert left.exceptAll(repaired).count() == 0
    # and the verify layer agrees: no residual diff
    assert row_diff(left, repaired, schema).count() == 0
    # repairing an already-equal right is the identity
    assert apply_repair(left, left, schema).exceptAll(left).count() == 0


def test_incident_report_short_circuits_when_clean(spark, sf_dir):
    """Identical sides: ONE clean rowcount row and no partition/row/
    repair stage in the output (the cheap-first escalation encoded);
    a faulted side fires all four stages."""
    from pgverify_spark.operators.diff import incident_report

    target = ParquetTarget("t", sf_dir)
    schema = TESTDATA_TABLES["events"]
    left = target.read(spark, "events")
    clean = incident_report(left, left, schema).collect()
    assert [(r["stage"], r["item"]) for r in clean] == [("rowcount", "total")]
    n = left.count()
    assert clean[0]["detail"] == f"{n}:{n}"
    right = left.filter("event_id % 101 <> 0")
    rows = incident_report(left, right, schema).collect()
    stages = {r["stage"] for r in rows}
    assert stages == {"rowcount", "partition", "row", "repair"}
    assert all(r["detail"] == "only_left" for r in rows if r["stage"] == "row")
    assert all(r["detail"] == "insert" for r in rows if r["stage"] == "repair")


def test_view_target_verifies_derived_relations(spark, sf_dir, tmp_path):
    """ViewTarget makes a derived relation a first-class verify subject:
    a base mutation that changes the view flags, one the view doesn't
    read does not — and column pruning reaches through the view."""
    from pyspark.sql import functions as F

    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.plans.verify import verify
    from pgverify_spark.sources.parquet import ParquetTarget
    from pgverify_spark.sources.views import ViewTarget

    def build_view(spark, base):
        o = base.read(spark, "orders").select("o_custkey", "o_orderkey")
        c = base.read(spark, "customer").select("c_custkey", "c_nationkey")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.min("o_orderkey").alias("min_order"),
                F.max("o_orderkey").alias("max_order"),
            )
        )

    views = {"nation_order_stats": (build_view, ("c_nationkey",))}
    cfg = VerifyConfig(test_modes=("full", "rowcount"))
    src = ParquetTarget("src", sf_dir)

    def mutated_base(name, mutate):
        d = tmp_path / name
        mutate(src.read(spark, "orders")).write.parquet(f"{d}/orders.parquet")
        src.read(spark, "customer").write.parquet(f"{d}/customer.parquet")
        return ParquetTarget(name, str(d))

    def fps(base_b):
        res = verify(
            spark,
            [ViewTarget("a", src, dict(views)), ViewTarget("b", base_b, dict(views))],
            cfg,
        )
        out = {}
        for r in res.rows:
            out.setdefault(r["target"], {})[r["mode"]] = r["output"]
        return out["a"], out["b"]

    # view-visible mutation: drop one order -> full fp differs (and the
    # view ROWCOUNT may not — per-nation groups survive the deletion)
    a, b = fps(mutated_base("dropped", lambda o: o.filter("o_orderkey <> 1")))
    assert a["full"] != b["full"]
    # view-invisible mutation: a column the view never reads
    a, b = fps(
        mutated_base(
            "retagged",
            lambda o: o.withColumn("o_orderstatus", F.lit("Z")),
        )
    )
    assert a == b
    # pruning reaches through the view into the base scan
    vt = ViewTarget("a", src, dict(views))
    plan = vt.read(spark, "nation_order_stats")._jdf.queryExecution().executedPlan().toString()
    import re

    orders_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(
        set(s.replace(" ", "").split(",")) == {"o_custkey:bigint", "o_orderkey:bigint"}
        for s in orders_schemas
    ), plan
