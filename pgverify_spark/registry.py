"""Central query registry: every public operator as a (Spark, oracle) pair.

Each entry produces a Spark DataFrame query and a DuckDB-dialect SQL twin
generated from the same canonicalization/expression code, which is what
the driver's correctness gate compares at sf0.01 (see __spark_entry__.py).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Iterable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from pgverify_spark.config import VerifyConfig
from pgverify_spark.functions import timecol
from pgverify_spark.functions.canonical import DIALECT_DUCKDB, DIALECT_SPARK
from pgverify_spark.operators import (
    contamination,
    dedup,
    graph,
    multimodal,
    rollup,
    sample,
    similarity,
    text,
)
from pgverify_spark.operators import analytics, bpe, constraints
from pgverify_spark.operators import funnel as funnel_mod
from pgverify_spark.operators import decompose, linkage, lm, quantize, sketch, skew, trend
from pgverify_spark.operators import profile as profile_mod
from pgverify_spark.operators import prep
from pgverify_spark.operators import topk as topk_mod
from pgverify_spark.operators.diff import row_diff, row_diff_oracle_sql
from pgverify_spark.operators.fingerprint import (
    FINGERPRINT_OPS,
    fingerprint_oracle_sql,
    partitioned_fingerprint_oracle_sql,
)
from pgverify_spark.plans.verify import verify
from pgverify_spark.session import ensure_required_confs
from pgverify_spark.sources import zorder
from pgverify_spark.sources.jdbc import JDBCTarget
from pgverify_spark.sources.parquet import ParquetTarget as _ParquetTarget
from pgverify_spark.sources.schemas import TESTDATA_TABLES, TableSchema


class ParquetTarget(_ParquetTarget):
    """Registry-scoped ParquetTarget over the driver's WRITE-ONCE
    testdata, with a session-scoped read/schema memo.

    ``sources.parquet.ParquetTarget.read`` lists files and reads a footer
    on every call (~0.02 s warm on a 4-core host), and a bench or
    correctness pass issues hundreds of reads of the same immutable
    tables.  A cached DataFrame bakes its file listing at creation,
    so this memo is ONLY safe for write-once data; the library
    ``sources.parquet.ParquetTarget`` keeps fresh listings for mutable
    targets, and every registry target points at the driver's testdata
    (or a replication of it), which is regenerated only between rounds.
    Keyed by applicationId so a stopped session's handles are never
    resurrected; cleared lazily when the session changes."""

    _frames: dict = {}
    _schemas: dict = {}

    def read(self, spark, table):
        key = (spark.sparkContext.applicationId, self.path, table)
        got = self._frames.get(key)
        if got is None:
            if any(k[0] != key[0] for k in self._frames):
                self._frames.clear()
                self._schemas.clear()
            got = super().read(spark, table)
            self._frames[key] = got
        return got

    def table_schema(self, spark, table, df=None):
        key = (spark.sparkContext.applicationId, self.path, table)
        got = self._schemas.get(key)
        if got is None:
            got = super().table_schema(spark, table, df=df)
            self._schemas[key] = got
        return got

    @classmethod
    def invalidate(cls, path: str | None = None) -> None:
        """Drop memoized frames/schemas for ``path`` (all paths when
        None).  Any code that REWRITES data a registry ParquetTarget
        has read through this memo must call this (ADVICE r8) — the
        write-once assumption is enforced at the write site, not
        merely documented.  The driver's between-round testdata regen
        runs in a fresh process, so it needs no call."""
        for memo in (cls._frames, cls._schemas):
            for key in [k for k in memo if path is None or k[1] == path]:
                del memo[key]


#: Config used by the registry's fingerprint queries (bookend limit and
#: bucket count sized for the sf0.01 correctness gate; defaults elsewhere).
_CFG = VerifyConfig(bookend_limit=100, sparse_mod=10, fingerprint_buckets=64)


def _fp_spark(table: str, mode: str, cfg: VerifyConfig) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the driver's correctness harness supplies its own session
        ensure_required_confs(spark)
        target = ParquetTarget("t", sf_dir)
        return FINGERPRINT_OPS[mode](
            target.read(spark, table), target.table_schema(spark, table), cfg
        )

    return run


def _fingerprint_entries() -> dict[str, tuple[Callable, str]]:
    """name -> (spark callable, oracle sql)."""
    cases = [
        # every mode on lineitem (multi-column PK with duplicate keys)
        *[(f"{m}_fingerprint_lineitem", "lineitem", m, _CFG) for m in FINGERPRINT_OPS],
        # full fingerprints across the type surface
        ("full_fingerprint_orders", "orders", "full", _CFG),
        ("full_fingerprint_customer", "customer", "full", _CFG),
        ("full_fingerprint_events", "events", "full", _CFG),  # timestamp_ntz
        ("full_fingerprint_documents", "documents", "full", _CFG),
        ("full_fingerprint_embeddings", "embeddings", "full", _CFG),  # array<float>
        ("full_fingerprint_part", "part", "full", _CFG),
        ("bookend_fingerprint_orders", "orders", "bookend", _CFG),
        ("sparse_fingerprint_orders", "orders", "sparse", _CFG),
        ("bucketed_fingerprint_events", "events", "bucketed", _CFG),
        ("rowcount_orders", "orders", "rowcount", _CFG),
        ("additive_fingerprint_orders", "orders", "additive", _CFG),
        # option variants (config.go:53-57, verify.go:138-144)
        (
            "full_fingerprint_orders_hashed_pk",
            "orders",
            "full",
            VerifyConfig(hash_primary_keys=True),
        ),
        (
            "full_fingerprint_orders_excl_cols",
            "orders",
            "full",
            VerifyConfig(exclude_columns=("o_orderpriority", "o_totalprice")),
        ),
        # --timestamp-precision variants (config.go:32,90): date_trunc on a
        # real timestamp (orders) and on the bigint-nanos path (events)
        (
            "full_fingerprint_orders_secs_precision",
            "orders",
            "full",
            VerifyConfig(timestamp_precision="seconds"),
        ),
        (
            "full_fingerprint_events_hours_precision",
            "events",
            "full",
            VerifyConfig(timestamp_precision="hours"),
        ),
        # declared-json column: props canonicalizes via the reference's
        # length proxy (column.go:29-32, integration_test.go:150-151)
        (
            "full_fingerprint_events_json_props",
            "events",
            "full",
            VerifyConfig(column_types={"props": "json"}),
        ),
    ]
    out = {}
    for name, table, mode, cfg in cases:
        out[name] = (
            _fp_spark(table, mode, cfg),
            fingerprint_oracle_sql(mode, table, TESTDATA_TABLES[table], cfg),
        )

    # per-day incremental fingerprints over events (event-time path)
    def run_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.operators.fingerprint import partitioned_fingerprint

        ensure_required_confs(spark)
        target = ParquetTarget("t", sf_dir)
        return partitioned_fingerprint(
            target.read(spark, "events"), target.table_schema(spark, "events"), _CFG
        )

    from pgverify_spark.operators.fingerprint import partitioned_fingerprint_oracle_sql

    out["partitioned_fingerprint_events"] = (
        run_partitioned,
        partitioned_fingerprint_oracle_sql("events", TESTDATA_TABLES["events"], _CFG),
    )
    return out


def _file_roundtrip_entries() -> dict[str, tuple[Callable, str]]:
    """Multi-format source coverage: export a parquet table to
    csv/json/orc, read it back through ``FileTarget``, and fingerprint —
    green iff the full read path AND the format round-trip are lossless
    (the oracle fingerprints the parquet original).  csv/json use
    explicit schemas (the verification contract; inference can
    type-drift); orc is self-describing."""
    from pgverify_spark.operators.fingerprint import FINGERPRINT_OPS, fingerprint_oracle_sql
    from pgverify_spark.sources.files import FileTarget

    def roundtrip(table: str, fmt: str) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            import tempfile

            ensure_required_confs(spark)
            df = ParquetTarget("src", sf_dir).read(spark, table)
            tmp = tempfile.mkdtemp(prefix=f"pgvs_{fmt}_")
            writer = df.write.format(fmt).mode("overwrite")
            if fmt == "csv":
                writer = writer.option("header", "true")
            writer.save(f"{tmp}/{table}.{fmt}")
            # explicit schemas only for text formats; orc/parquet are
            # self-describing (an LTZ/NTZ override would conflict)
            schemas = {table: _csv_ddl(table)} if fmt in ("csv", "json") else {}
            tgt = FileTarget("rt", tmp, format=fmt, schemas=schemas)
            return FINGERPRINT_OPS["full"](
                tgt.read(spark, table), tgt.table_schema(spark, table), _CFG
            )

        return run

    cases = [("nation", "csv"), ("nation", "json"), ("orders", "orc")]
    return {
        f"full_fingerprint_{table}_{fmt}_roundtrip": (
            roundtrip(table, fmt),
            fingerprint_oracle_sql("full", table, TESTDATA_TABLES[table], _CFG),
        )
        for table, fmt in cases
    }


def _type_matrix_entry() -> dict[str, tuple[Callable, str]]:
    """Driver-visible coverage of the reference's type matrix
    (integration_test.go:135-158): uuid, bit(1), varbit(3), bigint[] with
    empty/NULL variants, text[] — derived deterministically from orders
    so both engines build identical values, then full-fingerprinted
    through the same canonicalization paths a real table of those types
    would use (string canon for uuid/bit/varbit — PG renders them as
    text — and element-recursive array canon for the arrays).

    ``ts_ns`` drives the bigint-nanos timestamp canon through its
    pre-1970 floor edge as a driver-visible row: o_orderkey%5 selects
    epoch-microsecond offsets including -500 us (1969-12-31
    23:59:59.9995 — floor-vs-truncate diverge: ms-floor is -1000, a
    plain DIV would give 0; canonical.py:102-122).  DuckDB 1.0 cannot
    *construct* sub-microsecond TIMESTAMP_NS values in SQL (both the
    literal parser and make_timestamp are us-resolution), so the
    driver-visible values are exact-us nanos; the sub-us step of the
    two-step floor is proven by tests/test_canonical_edge.py against a
    real TIMESTAMP(NANOS) parquet file both engines read."""
    from pgverify_spark.operators.fingerprint import FINGERPRINT_OPS, fingerprint_oracle_sql
    from pgverify_spark.sources.schemas import TableSchema

    schema = TableSchema(
        "type_matrix",
        (
            ("id", "bigint"),
            ("u", "string"),          # uuid text form
            ("bit1", "string"),       # bit(1) text form: '0'/'1'
            ("vb", "string"),         # varbit(3) text form: '000'..'111'
            ("arr_big", "array<bigint>"),
            ("arr_text", "array<string>"),
            ("ts_ns", "timestamp_ns"),  # bigint nanos (Spark) / TIMESTAMP_NS (DuckDB)
        ),
        ("id",),
    )

    #: epoch-us offsets for ts_ns: pre-1970 sub-ms floor edges + varied
    #: sub-ms non-multiples (k = o_orderkey)
    _TS_US = (
        "CASE CAST({k} % 5 AS INT) "
        "WHEN 0 THEN CAST(-500 AS BIGINT) "          # 1969-12-31 23:59:59.9995
        "WHEN 1 THEN CAST(-1 AS BIGINT) "            # 23:59:59.999999
        "WHEN 2 THEN CAST(500 AS BIGINT) "           # post-1970 sub-ms
        "WHEN 3 THEN CAST(-86400000500 AS BIGINT) "  # 1969-12-30 23:59:59.9995
        "ELSE {k} * 1000 + ({k} % 997) END"
    )

    def derive_sql(dialect: str) -> str:
        k = "o_orderkey"
        ts_us = _TS_US.format(k=k)
        if dialect == "spark":
            scast, m = "STRING", f"md5(CAST({k} AS STRING))"
            bit = lambda n: f"(shiftright({k}, {n}) & 1)"
            empty_big, null_big = "CAST(array() AS ARRAY<BIGINT>)", "CAST(NULL AS ARRAY<BIGINT>)"
            arr2 = f"array({k}, CAST(-1 AS BIGINT))"
            split_ = "split(o_orderpriority, '-')"
            empty_text = "CAST(array() AS ARRAY<STRING>)"
            ts_ns = f"CAST(({ts_us}) * 1000 AS BIGINT)"
        else:
            scast, m = "VARCHAR", f"md5(CAST({k} AS VARCHAR))"
            bit = lambda n: f"(({k} >> {n}) & 1)"
            empty_big, null_big = "CAST([] AS BIGINT[])", "CAST(NULL AS BIGINT[])"
            arr2 = f"[{k}, CAST(-1 AS BIGINT)]"
            split_ = "string_split(o_orderpriority, '-')"
            empty_text = "CAST([] AS VARCHAR[])"
            ts_ns = f"CAST(make_timestamp(CAST(({ts_us}) AS BIGINT)) AS TIMESTAMP_NS)"
        return (
            f"SELECT {k} AS id, "
            f"concat_ws('-', substr({m}, 1, 8), substr({m}, 9, 4), substr({m}, 13, 4), "
            f"substr({m}, 17, 4), substr({m}, 21, 12)) AS u, "
            f"CAST({k} % 2 AS {scast}) AS bit1, "
            f"concat(CAST({bit(2)} AS {scast}), CAST({bit(1)} AS {scast}), CAST({bit(0)} AS {scast})) AS vb, "
            f"CASE WHEN {k} % 5 = 0 THEN {empty_big} WHEN {k} % 7 = 0 THEN {null_big} "
            f"ELSE {arr2} END AS arr_big, "
            f"CASE WHEN {k} % 11 = 0 THEN {empty_text} ELSE {split_} END AS arr_text, "
            f"{ts_ns} AS ts_ns "
            "FROM orders"
        )

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        ParquetTarget("t", sf_dir).read(spark, "orders").createOrReplaceTempView("orders")
        derived = spark.sql(derive_sql("spark"))
        return FINGERPRINT_OPS["full"](derived, schema, _CFG)

    sql = fingerprint_oracle_sql(
        "full", f"({derive_sql('duckdb')}) tm", schema, _CFG
    )
    return {"full_fingerprint_type_matrix": (run, sql)}


def _diff_entries() -> dict[str, tuple[Callable, str]]:
    """Row-level diff (extension: which rows differ, not just which tables)."""
    schema = TESTDATA_TABLES["orders"]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        left = ParquetTarget("t", sf_dir).read(spark, "orders")
        right = left.filter("o_orderkey % 97 <> 0")
        return row_diff(left, right, schema)

    sql = row_diff_oracle_sql(
        "orders", "(SELECT * FROM orders WHERE o_orderkey % 97 <> 0)", schema
    )
    out = {"row_diff_orders": (run, sql)}

    # anti-entropy repair plan: the right side exhibits all three
    # repair classes — deleted keys (% 97: 'insert'), mutated rows
    # (% 31: 'update'), and extra keys (offset copies, % 101: 'delete')
    from pgverify_spark.operators.diff import repair_plan, repair_plan_oracle_sql

    _RP_RIGHT_SPARK = (
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 97 <> 0 "
        "UNION ALL SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 101 = 0"
    )

    def run_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
        left = ParquetTarget("t", sf_dir).read(spark, "orders")
        left.createOrReplaceTempView("orders")
        return repair_plan(left, spark.sql(_RP_RIGHT_SPARK), schema)

    out["repair_plan_orders"] = (
        run_repair,
        repair_plan_oracle_sql("orders", f"({_RP_RIGHT_SPARK})", schema),
    )

    # ...and the plan EXECUTED: the corrupted right (all three repair
    # classes) repaired back to bit-equality with the left — the
    # certified relation is the repaired content itself
    from pgverify_spark.operators.diff import apply_repair

    def run_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.operators.util import carry_cached_deps

        left = ParquetTarget("t", sf_dir).read(spark, "orders")
        left.createOrReplaceTempView("orders")
        repaired = apply_repair(left, spark.sql(_RP_RIGHT_SPARK), schema)
        # carry the persisted diff-key tag through the projection so the
        # registry wrapper releases it on the next invocation
        return carry_cached_deps(
            repaired,
            repaired.select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
            ),
        )

    out["repair_apply_orders"] = (
        run_apply,
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders",
    )

    # per-column attribution: two drifted columns with known key sets
    from pgverify_spark.operators.diff import (
        column_diff_report,
        column_diff_report_oracle_sql,
    )

    _MUT_SPARK = (
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 "
        "ELSE o_totalprice END AS o_totalprice",
        "o_orderdate",
        "CASE WHEN o_orderkey % 37 = 0 THEN NULL "
        "ELSE o_orderpriority END AS o_orderpriority",
    )

    def run_coldiff(spark: SparkSession, sf_dir: str) -> DataFrame:
        left = ParquetTarget("t", sf_dir).read(spark, "orders")
        return column_diff_report(left, left.selectExpr(*_MUT_SPARK), schema)

    out["column_diff_orders"] = (
        run_coldiff,
        column_diff_report_oracle_sql(
            "orders",
            "(SELECT o_orderkey, o_custkey, o_orderstatus, "
            "CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 "
            "ELSE o_totalprice END AS o_totalprice, o_orderdate, "
            "CASE WHEN o_orderkey % 37 = 0 THEN NULL "
            "ELSE o_orderpriority END AS o_orderpriority FROM orders) rmut",
            schema,
        ),
    )

    # value-distribution drift: 10 % of prices scaled 1.5x moves mass
    # into higher buckets even though row counts agree
    from pgverify_spark.operators.diff import (
        distribution_drift,
        distribution_drift_oracle_sql,
    )

    _DRIFT_MUT = (
        "CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.5 "
        "ELSE o_totalprice END AS o_totalprice"
    )

    def run_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        left = ParquetTarget("t", sf_dir).read(spark, "orders")
        return distribution_drift(
            left, left.selectExpr(_DRIFT_MUT), "o_totalprice", 20
        )

    out["distribution_drift_orders"] = (
        run_drift,
        distribution_drift_oracle_sql(
            "orders",
            f"(SELECT {_DRIFT_MUT} FROM orders) rmut",
            "o_totalprice",
            20,
        ),
    )

    # partition-level drill-down: one mutated day + one dropped day
    from pgverify_spark.operators.fingerprint import (
        partition_diff,
        partition_diff_oracle_sql,
    )

    ev_schema = TESTDATA_TABLES["events"]

    def run_pdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        right = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
            "THEN value + 1 ELSE value END AS value",
            "props",
        )
        return partition_diff(left, right, ev_schema)

    day_duck = "CAST(epoch_us(ts) // 86400000000 AS BIGINT)"
    right_sql = (
        "(SELECT event_id, ts, user_id, event_type, "
        f"CASE WHEN {day_duck} = 19723 AND event_id % 11 = 0 THEN value + 1 ELSE value END AS value, "
        f"props FROM events WHERE {day_duck} <> 19724)"
    )
    out["partition_diff_events"] = (
        run_pdiff,
        partition_diff_oracle_sql("events", right_sql, ev_schema),
    )

    # the whole runbook in one call: rowcount -> mismatched partitions
    # -> differing rows -> repair actions over the same two-day fault
    # (the additive pre-check short-circuit is pinned in unit tests;
    # here the fault fires every stage, which is what the oracle states)
    from pgverify_spark.operators.diff import (
        incident_report,
        incident_report_oracle_sql,
    )

    def run_incident(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        right = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
            "THEN value + 1 ELSE value END AS value",
            "props",
        )
        return incident_report(left, right, ev_schema)

    out["incident_report_events"] = (
        run_incident,
        incident_report_oracle_sql("events", right_sql, ev_schema),
    )

    # cross-run incremental verify: snapshot the original to parquet
    # state, verify the mutated current data against it — same expected
    # diff as partition_diff_events, but the left side round-trips
    # through the persisted O(partitions) fingerprint snapshot.  The
    # snapshot write is memoized per sf_dir (the deploy shape: state is
    # written once, then every verify run reads it — r5 VERDICT item
    # 3), so repeated calls (incl. bench min-of-two) time the VERIFY
    # half only; bench.py's probe twin materializes the DuckDB left
    # side the same way.
    def run_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from pgverify_spark.operators.fingerprint import (
            verify_against_snapshot,
            write_fingerprint_snapshot,
        )

        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        changed = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
            "THEN value + 1 ELSE value END AS value",
            "props",
        )
        state = _SNAPSHOT_STORE.get(sf_dir)
        if state is None:
            state = tempfile.mkdtemp(prefix="pgvs_snap_") + "/state"
            write_fingerprint_snapshot(left, ev_schema, state)
            _SNAPSHOT_STORE[sf_dir] = state
        return verify_against_snapshot(spark, changed, ev_schema, state)

    out["snapshot_verify_events"] = (
        run_snapshot,
        partition_diff_oracle_sql("events", right_sql, ev_schema),
    )

    # the write half of the loop: snapshot the original, mutate two days,
    # refresh state for ONLY those two partitions — the updated state
    # must equal a from-scratch partitioned fingerprint of the mutated
    # table (one partition's fp changes, one drops out entirely)
    def run_snap_update(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from pgverify_spark.operators.fingerprint import (
            update_fingerprint_snapshot,
            write_fingerprint_snapshot,
        )

        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        changed = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
            "THEN value + 1 ELSE value END AS value",
            "props",
        )
        tmp = tempfile.mkdtemp(prefix="pgvs_snapup_")
        write_fingerprint_snapshot(left, ev_schema, f"{tmp}/state")
        return update_fingerprint_snapshot(
            spark, changed, ev_schema, f"{tmp}/state", (19723, 19724)
        )

    from pgverify_spark.operators.fingerprint import (
        partitioned_fingerprint_oracle_sql,
    )

    out["snapshot_update_events"] = (
        run_snap_update,
        partitioned_fingerprint_oracle_sql(f"{right_sql} r", ev_schema),
    )

    # composed drill-down: row detail for ONLY the mismatched partitions
    from pgverify_spark.operators.diff import (
        drilldown_row_diff,
        drilldown_row_diff_oracle_sql,
    )

    def run_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        right = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
            "THEN value + 1 ELSE value END AS value",
            "props",
        )
        return drilldown_row_diff(left, right, ev_schema)

    out["drilldown_row_diff_events"] = (
        run_drill,
        drilldown_row_diff_oracle_sql("events", right_sql, ev_schema),
    )

    # incremental AGGREGATE maintenance — the continuous-aggregate twin
    # of snapshot_update_events: roll up the original once, mutate two
    # days, splice-update ONLY those days' rollup rows from a pruned
    # delta scan; the updated state must equal a from-scratch hourly
    # rollup of the mutated table (day 19724's hours drop out entirely,
    # day 19723's sums shift)
    def run_rollup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        changed = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
            "THEN value + 1 ELSE value END AS value",
            "props",
        )
        # initial rollup state memoized per sf_dir (the deploy shape:
        # state written once, every later run splices — exactly the
        # _SNAPSHOT_STORE treatment snapshot_verify got); the splice is
        # idempotent on re-runs (re-aggregating the same touched days
        # from the same mutated table rewrites identical rows), so
        # repeated calls time the UPDATE half only
        state = _ROLLUP_IVM_STORE.get(sf_dir)
        if state is None:
            state = tempfile.mkdtemp(prefix="pgvs_ivm_") + "/state"
            rollup.write_rollup_snapshot(left, state)
            _ROLLUP_IVM_STORE[sf_dir] = state
        return rollup.update_rollup_snapshot(
            spark, changed, state, (19723, 19724)
        )

    out["rollup_ivm_events"] = (
        run_rollup_ivm,
        rollup.rollup_ivm_oracle_sql(f"{right_sql} r"),
    )

    # incremental DISTINCT-count maintenance — the stat rollup_ivm
    # cannot carry (daily_rollup's documented exclusion: per-day exact
    # distincts don't merge).  Per-day HLL REGISTER state closes it:
    # same write-once-then-splice deploy shape, and the fault here
    # changes the distinct sets themselves (day 19724 drops out; a
    # seventh of day 19723's events get NEW user ids, so that day's
    # registers must actually move through the splice)
    def run_hll_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        changed = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts",
            f"CASE WHEN {day} = 19723 AND event_id % 7 = 0 "
            "THEN user_id + 100000 ELSE user_id END AS user_id",
            "event_type", "value", "props",
        )
        state = _HLL_IVM_STORE.get(sf_dir)
        if state is None:
            state = tempfile.mkdtemp(prefix="pgvs_hllivm_") + "/state"
            rollup.write_hll_snapshot(left, state)
            _HLL_IVM_STORE[sf_dir] = state
        return rollup.update_hll_snapshot(
            spark, changed, state, (19723, 19724)
        )

    hll_right_sql = (
        "(SELECT event_id, ts, "
        f"CASE WHEN {day_duck} = 19723 AND event_id % 7 = 0 "
        "THEN user_id + 100000 ELSE user_id END AS user_id, "
        f"event_type, value, props FROM events WHERE {day_duck} <> 19724)"
    )
    out["hll_ivm_events"] = (
        run_hll_ivm,
        sketch.hll_distinct_oracle_sql(
            f"{hll_right_sql} r", "user_id", timecol.duck_bucket_sql(timecol.US_PER_DAY)
        ),
    )

    # the payoff query of mergeable state: distinct users over an
    # arbitrary day RANGE answered by max-merging stored registers —
    # partition-pruned state read, events never re-read; the oracle
    # recomputes the range from the raw table, proving merge == whole
    # cross-engine (days 19730-19760: outside run_hll_ivm's fault, so
    # the shared snapshot serves both entries in either order)
    def run_hll_range(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        ensure_required_confs(spark)
        state = _HLL_IVM_STORE.get(sf_dir)
        if state is None:
            left = ParquetTarget("t", sf_dir).read(spark, "events")
            state = tempfile.mkdtemp(prefix="pgvs_hllivm_") + "/state"
            rollup.write_hll_snapshot(left, state)
            _HLL_IVM_STORE[sf_dir] = state
        return rollup.hll_range_distinct(spark, state, 19730, 19760)

    out["hll_range_rollup_events"] = (
        run_hll_range,
        sketch.hll_distinct_oracle_sql(
            "(SELECT * FROM events WHERE "
            f"{day_duck} BETWEEN 19730 AND 19760) r",
            "user_id",
            "'range'",
        ),
    )

    # mergeable-QUANTILE IVM — the stat neither rollup_ivm (no
    # percentiles) nor hll_ivm (distincts only) can carry: per-day
    # hash-threshold sample state supports both the day-splice update
    # and arbitrary-range quantiles because membership is a pure row
    # predicate (union of day samples == sample of the union).  Fault:
    # day 19724 drops out and a seventh of day 19723's values shift, so
    # that day's sampled VALUES must actually move through the splice.
    def run_qsample_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        changed = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 7 = 0 "
            "THEN value + 50 ELSE value END AS value",
            "props",
        )
        state = _QSAMPLE_IVM_STORE.get(sf_dir)
        if state is None:
            state = tempfile.mkdtemp(prefix="pgvs_qsivm_") + "/state"
            rollup.write_sample_snapshot(left, state)
            _QSAMPLE_IVM_STORE[sf_dir] = state
        return rollup.update_sample_snapshot(
            spark, changed, state, (19723, 19724)
        )

    qs_right_sql = (
        "(SELECT event_id, ts, user_id, event_type, "
        f"CASE WHEN {day_duck} = 19723 AND event_id % 7 = 0 "
        "THEN value + 50 ELSE value END AS value, props "
        f"FROM events WHERE {day_duck} <> 19724)"
    )
    out["quantile_ivm_events"] = (
        run_qsample_ivm,
        sketch.sampled_quantiles_oracle_sql(f"{qs_right_sql} r", "value", "event_id"),
    )

    # the payoff query of mergeable sample state: p50..p99 over an
    # arbitrary day RANGE from pruned state directories, events never
    # re-read; the oracle recomputes the range's sample from the raw
    # table, proving union-of-samples == sample-of-union cross-engine
    # (range outside run_qsample_ivm's fault, so the shared snapshot
    # serves both entries in either order)
    def run_qsample_range(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        ensure_required_confs(spark)
        state = _QSAMPLE_IVM_STORE.get(sf_dir)
        if state is None:
            left = ParquetTarget("t", sf_dir).read(spark, "events")
            state = tempfile.mkdtemp(prefix="pgvs_qsivm_") + "/state"
            rollup.write_sample_snapshot(left, state)
            _QSAMPLE_IVM_STORE[sf_dir] = state
        return rollup.sample_range_quantiles(spark, state, 19730, 19760)

    out["quantile_range_rollup_events"] = (
        run_qsample_range,
        sketch.sampled_quantiles_oracle_sql(
            "(SELECT * FROM events WHERE "
            f"{day_duck} BETWEEN 19730 AND 19760) r",
            "value",
            "event_id",
        ),
    )

    # CAPPED quantile IVM (r11 VERDICT item 2): per-day state bounded at
    # cap rows forever — days×cap at 100 TB, vs 5% of the table uncapped.
    # Same splice fault as quantile_ivm_events; rate is raised so the cap
    # BINDS at every test SF (sf0.01: ~100 sampled rows/day, trimmed to
    # 50).  The oracle computes the straight bottom-cap of the mutated
    # table's sample — matching it proves the KMV trim identity
    # (trim-of-union == trim-of-union-of-per-day-trims) cross-engine.
    _QCAP_RATE, _QCAP = 300_000, 50

    def run_qsample_ivm_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        ensure_required_confs(spark)
        left = ParquetTarget("t", sf_dir).read(spark, "events")
        day = timecol.bucket_sql(left, timecol.US_PER_DAY)
        changed = left.filter(f"{day} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {day} = 19723 AND event_id % 7 = 0 "
            "THEN value + 50 ELSE value END AS value",
            "props",
        )
        state = _QSAMPLE_CAP_STORE.get(sf_dir)
        if state is None:
            state = tempfile.mkdtemp(prefix="pgvs_qscap_") + "/state"
            rollup.write_sample_snapshot(
                left, state, rate_ppm=_QCAP_RATE, cap_per_day=_QCAP
            )
            _QSAMPLE_CAP_STORE[sf_dir] = state
        return rollup.update_sample_snapshot(
            spark, changed, state, (19723, 19724),
            rate_ppm=_QCAP_RATE, cap_per_day=_QCAP,
        )

    out["quantile_ivm_capped_events"] = (
        run_qsample_ivm_capped,
        sketch.capped_sampled_quantiles_oracle_sql(
            f"{qs_right_sql} r", "value", "event_id",
            cap=_QCAP, rate_ppm=_QCAP_RATE,
        ),
    )

    # the IVM maintenance family is SOURCE-AGNOSTIC (r11 VERDICT item
    # 8): the DELTA for this splice arrives over LIVE JDBC — an embedded
    # Derby copy of events read through the partitioned JDBC path — then
    # day-splices into the parquet-resident sample state via the same
    # manifest commit.  The oracle is the same from-scratch quantile SQL
    # as quantile_ivm_events, so a green row proves the JDBC round trip
    # (BIGINT keys, DOUBLE values, TIMESTAMP day bucketing) feeds the
    # sample hash bit-identically to the parquet scan.
    def run_qsample_ivm_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        ensure_required_confs(spark)
        state = _QSAMPLE_JDBC_STORE.get(sf_dir)
        if state is None:
            left = ParquetTarget("t", sf_dir).read(spark, "events")
            state = tempfile.mkdtemp(prefix="pgvs_qsjdbc_") + "/state"
            rollup.write_sample_snapshot(left, state)
            _QSAMPLE_JDBC_STORE[sf_dir] = state
        remote = derby_target(spark, sf_dir, "events").read(spark, "events")
        rday = timecol.bucket_sql(remote, timecol.US_PER_DAY)
        changed = remote.filter(f"{rday} <> 19724").selectExpr(
            "event_id", "ts", "user_id", "event_type",
            f"CASE WHEN {rday} = 19723 AND event_id % 7 = 0 "
            "THEN value + 50 ELSE value END AS value",
            "props",
        )
        return rollup.update_sample_snapshot(
            spark, changed, state, (19723, 19724)
        )

    out["quantile_ivm_jdbc_events"] = (
        run_qsample_ivm_jdbc,
        sketch.sampled_quantiles_oracle_sql(f"{qs_right_sql} r", "value", "event_id"),
    )
    return out


#: Tables/modes for the multi-target report query (small dims keep the
#: oracle scalar subqueries cheap).
_REPORT_TABLES = ("nation", "region", "supplier")
_REPORT_MODES = ("full", "rowcount")


def _verify_report_entry_factory(
    name: str, tables: tuple[str, ...], modes: tuple[str, ...] = _REPORT_MODES
) -> dict[str, tuple[Callable, str]]:
    """A two-target verify report over ``tables`` (results.go:101-166).
    The collected rows pivot without a re-collect job
    (VerifyResult.report)."""
    cfg = VerifyConfig(test_modes=modes, include_tables=tables)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        targets = [ParquetTarget("a", sf_dir), ParquetTarget("b", sf_dir)]
        return verify(spark, targets, cfg).report()

    selects = []
    for tname in ("a", "b"):
        for table in tables:
            mode_cols = ", ".join(
                f"(SELECT fp FROM ({fingerprint_oracle_sql(m, table, TESTDATA_TABLES[table], cfg)}) s) AS {m}"
                for m in modes
            )
            selects.append(
                f"SELECT 'public' AS schema, '{table}' AS tbl, '{tname}' AS target, {mode_cols}"
            )
    return {name: (run, " UNION ALL ".join(selects))}


#: Memoized embedded-Derby database per sf_dir (same pattern as the
#: IVF-PQ stored index): orders loaded ONCE through Spark's JDBC write
#: path into a quoted-lowercase table; every later call pays probe cost
#: only.  Derby ships inside Spark's own jars, so this runs everywhere
#: Spark does — a LIVE database end for the JDBC verify path, not a
#: golden-SQL stand-in.
_DERBY_REG_DB: dict[str, str] = {}
#: Tables actually loaded into each memoized database (ADVICE r8): the
#: DB is shared per sf_dir, but a later call naming a table the first
#: call never loaded must load it on demand rather than hand back a
#: target declaring a table Derby doesn't have.
_DERBY_REG_TABLES: dict[str, set] = {}


def derby_target(spark: SparkSession, sf_dir: str, table: str = "orders") -> JDBCTarget:
    """A live JDBCTarget over an embedded Derby copy of ``table``.

    Build: one Spark JDBC write (mode overwrite, quoted-lowercase
    ``dbtable`` so the physical name matches the logical one — unquoted
    Derby folds to upper case).  The target declares its catalog
    (``tables``/``primary_keys``) because Derby has no
    PostgreSQL-style information_schema, and reads in parallel via
    ``partition_columns`` — exercising the bounds-pushdown path against
    a real database."""
    import tempfile

    spark._jvm.System.setProperty("derby.system.home", tempfile.gettempdir())
    db = _DERBY_REG_DB.get(sf_dir)
    if db is None:
        tmp = tempfile.mkdtemp(prefix="pgvs_derby_")
        db = f"{tmp}/db"
        _DERBY_REG_DB[sf_dir] = db
        _DERBY_REG_TABLES[db] = set()
    if table not in _DERBY_REG_TABLES[db]:
        df = ParquetTarget("t", sf_dir).read(spark, table)
        (
            df.write.format("jdbc")
            .option("url", f"jdbc:derby:{db};create=true")
            .option("dbtable", f'"{table}"')
            .mode("overwrite")
            .save()
        )
        _DERBY_REG_TABLES[db].add(table)
    return JDBCTarget(
        "derby",
        f"jdbc:derby:{db}",
        schema="public",
        db_schema="APP",
        tables=(table,),
        primary_keys={table: TESTDATA_TABLES[table].pk},
        partition_columns={table: TESTDATA_TABLES[table].pk[0]},
    )


def _jdbc_live_report_entry() -> dict[str, tuple[Callable, str]]:
    """Two-target verify where one side is a LIVE JDBC database
    (embedded Derby) — closes the reference's integration surface
    (integration_test.go:87-292) inside this sandbox: real rows over
    JDBC, real type mapping (BIGINT/DOUBLE/VARCHAR/TIMESTAMP), the
    parallel partitionColumn read, and the same canonical fingerprints
    byte-identical to the parquet side."""
    cfg = VerifyConfig(test_modes=_REPORT_MODES, include_tables=("orders",))

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        targets = [ParquetTarget("parquet", sf_dir), derby_target(spark, sf_dir)]
        return verify(spark, targets, cfg).report()

    selects = []
    for tname in ("parquet", "derby"):
        mode_cols = ", ".join(
            f"(SELECT fp FROM ({fingerprint_oracle_sql(m, 'orders', TESTDATA_TABLES['orders'], cfg)}) s) AS {m}"
            for m in _REPORT_MODES
        )
        selects.append(
            f"SELECT 'public' AS schema, 'orders' AS tbl, '{tname}' AS target, {mode_cols}"
        )
    return {"verify_report_parquet_vs_jdbc": (run, " UNION ALL ".join(selects))}


def _report_entry() -> dict[str, tuple[Callable, str]]:
    """End-to-end verify twice over: the original 3-small-table report
    (dominated by fixed costs at any SF — the honest small-verify
    number) and a lineitem pair whose wall time is the SCAN, the regime
    a real 100 TB verify lives in."""
    return {
        **_verify_report_entry_factory(
            "verify_report_two_targets", _REPORT_TABLES
        ),
        **_verify_report_entry_factory(
            "verify_report_lineitem_pair", ("lineitem",)
        ),
        # the composed drift diagnosis through the REAL orchestrator:
        # additive answers "same rows?", cardinality names the drifted
        # column — the two-mode report a value-domain incident starts
        # from (both modes PK-free, both single-scan-able)
        **_verify_report_entry_factory(
            "verify_report_cardinality", ("orders",), ("additive", "cardinality")
        ),
        **_jdbc_live_report_entry(),
    }


def _table_query(table: str, op: Callable[[DataFrame], DataFrame]) -> Callable:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        return op(ParquetTarget("t", sf_dir).read(spark, table))

    return run


def _two_table_query(
    t1: str, t2: str, op: Callable[[DataFrame, DataFrame], DataFrame]
) -> Callable:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        tgt = ParquetTarget("t", sf_dir)
        return op(tgt.read(spark, t1), tgt.read(spark, t2))

    return run


def _tables_query(op: Callable[..., DataFrame], *tables: str) -> Callable:
    """N-table generalization of :func:`_two_table_query` (the wider
    TPC-H anchors take 4-7 relations in spec order)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_required_confs(spark)
        tgt = ParquetTarget("t", sf_dir)
        return op(*[tgt.read(spark, t) for t in tables])

    return run


def _q3_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgverify_spark.operators import analytics

    ensure_required_confs(spark)
    t = ParquetTarget("t", sf_dir)
    return analytics.shipping_priority(
        t.read(spark, "lineitem"), t.read(spark, "orders"), t.read(spark, "customer"), 10
    )


def _q5_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_required_confs(spark)
    t = ParquetTarget("t", sf_dir)
    return analytics.local_supplier_volume(
        t.read(spark, "customer"),
        t.read(spark, "orders"),
        t.read(spark, "lineitem"),
        t.read(spark, "supplier"),
        t.read(spark, "nation"),
        t.read(spark, "region"),
    )


def _q18_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_required_confs(spark)
    t = ParquetTarget("t", sf_dir)
    return analytics.large_volume_customer(
        t.read(spark, "customer"), t.read(spark, "orders"), t.read(spark, "lineitem")
    )


def _q10_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_required_confs(spark)
    t = ParquetTarget("t", sf_dir)
    return analytics.returned_item_revenue(
        t.read(spark, "customer"),
        t.read(spark, "orders"),
        t.read(spark, "lineitem"),
        t.read(spark, "nation"),
    )


def _asof_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgverify_spark.operators.asof import asof_join

    ensure_required_confs(spark)
    ev = ParquetTarget("t", sf_dir).read(spark, "events")
    probes = ev.filter("event_id % 7 = 0").selectExpr(
        "event_id AS probe_id", "user_id", "ts AS t"
    )
    joined = asof_join(ev, probes)
    return joined.selectExpr(
        "probe_id",
        "user_id",
        f"{timecol.epoch_us_sql(joined, 't')} AS t_us",
        f"{timecol.epoch_us_sql(joined, 'event_ts')} AS event_ts_us",
        "event_type",
        "value",
    )


def _asof_oracle_sql() -> str:
    from pgverify_spark.operators.asof import asof_join_oracle_sql

    probes = (
        "SELECT event_id AS probe_id, user_id, ts AS t FROM events WHERE event_id % 7 = 0"
    )
    inner = asof_join_oracle_sql("events", probes, carry=("probe_id",))
    return (
        "SELECT probe_id, user_id, "
        "CAST(epoch_us(CAST(t AS TIMESTAMP)) AS BIGINT) AS t_us, "
        "CAST(epoch_us(CAST(event_ts AS TIMESTAMP)) AS BIGINT) AS event_ts_us, "
        f"event_type, value FROM ({inner}) q"
    )


#: FK edges checked by the integrity report: (child, parent, child_key,
#: parent_key, edge name).  The "orders_dirty" edge unions in orphan keys
#: (every 97th order shifted by 1e9) so the report is non-trivially
#: exercised on clean TPC-H data.
_FK_EDGES = (
    ("orders", "customer", "o_custkey", "c_custkey", "orders->customer"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey", "lineitem->orders"),
    ("customer", "nation", "c_nationkey", "n_nationkey", "customer->nation"),
)


def _fk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgverify_spark.operators.integrity import fk_report

    ensure_required_confs(spark)
    t = ParquetTarget("t", sf_dir)
    frames = {n: t.read(spark, n) for n in ("orders", "customer", "lineitem", "nation")}
    edges = [
        (frames[c], frames[p], ck, pk, name) for c, p, ck, pk, name in _FK_EDGES
    ]
    orders = frames["orders"]
    dirty = orders.select("o_custkey").unionByName(
        orders.filter("o_orderkey % 97 = 0").selectExpr(
            "o_custkey + 1000000000 AS o_custkey"
        )
    )
    edges.append((dirty, frames["customer"], "o_custkey", "c_custkey", "orders_dirty->customer"))
    return fk_report(edges)


def _fk_oracle_sql() -> str:
    from pgverify_spark.operators.integrity import fk_report_oracle_sql

    edges = [(c, p, ck, pk, name) for c, p, ck, pk, name in _FK_EDGES]
    dirty = (
        "(SELECT o_custkey FROM orders UNION ALL "
        "SELECT o_custkey + 1000000000 AS o_custkey FROM orders WHERE o_orderkey % 97 = 0)"
    )
    edges.append((dirty, "customer", "o_custkey", "c_custkey", "orders_dirty->customer"))
    return fk_report_oracle_sql(edges)


_DAY_WINDOW = "(day * 24 + 6) * 3600000000"  # 06:00, in epoch micros


def _interval_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgverify_spark.operators.interval import interval_join_rollup

    ensure_required_confs(spark)
    ev = ParquetTarget("t", sf_dir).read(spark, "events")
    windows = (
        ev.selectExpr(f"{timecol.bucket_sql(ev, timecol.US_PER_DAY)} AS day")
        .distinct()
        .selectExpr(
            "day AS win_id",
            f"{_DAY_WINDOW} AS lo_us",
            f"{_DAY_WINDOW} + 5400000000 AS hi_us",
        )
    )
    return interval_join_rollup(ev, windows)


def _interval_oracle_sql() -> str:
    from pgverify_spark.operators.interval import interval_join_rollup_oracle_sql

    windows_sql = (
        f"SELECT day AS win_id, {_DAY_WINDOW} AS lo_us, "
        f"{_DAY_WINDOW} + 5400000000 AS hi_us FROM "
        "(SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events) d"
    )
    return interval_join_rollup_oracle_sql("events", windows_sql)


#: Exact-decimal revenue expression shared by the salted-join pair.
_REV_SPARK = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


def _salted_revenue_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgverify_spark.operators.joins import salted_join

    ensure_required_confs(spark)
    t = ParquetTarget("t", sf_dir)
    li = t.read(spark, "lineitem").selectExpr("l_orderkey", f"{_REV_SPARK} AS rev")
    od = t.read(spark, "orders").selectExpr("o_orderkey AS l_orderkey", "o_orderpriority")
    return (
        salted_join(li, od, "l_orderkey", salt=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev").cast("decimal(38,4)").alias("revenue"),
        )
    )


_SALTED_REVENUE_ORACLE = (
    "SELECT o_orderpriority, count(*) AS n_items, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) "
    "AS DECIMAL(38,4)) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority"
)


#: Target corpus mixture for the mixture-sample entry: 50/30/20 over
#: three sources at 5 % of total volume — thresholds land strictly
#: inside (0, 2^20) at every test SF, so the derivation is exercised
#: (nothing capped, nothing zero).
_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


#: Constraint suite for the orders table: a deliberate pass/fail mix so
#: the report is non-trivial at every SF (o_custkey repeats, 'P' status
#: rows exist, totalprice exceeds 200k, priorities 4/5 break the regex).
_ORDERS_SUITE = [
    constraints.not_null("o_custkey"),
    constraints.unique("o_orderkey"),
    constraints.unique("o_custkey"),
    constraints.accepted_values("o_orderstatus", ("O", "F")),
    constraints.accepted_values("o_orderstatus", ("O", "F", "P"), "status_full_domain"),
    constraints.in_range("o_totalprice", 0, 200000),
    constraints.matches("o_orderpriority", "^[1-3]-"),
    constraints.satisfies(
        "orderdate_in_epoch",
        "o_orderdate",
        "o_orderdate BETWEEN TIMESTAMP '1990-01-01 00:00:00' "
        "AND TIMESTAMP '2005-01-01 00:00:00'",
    ),
]


#: Shipped BPE merge table for bpe_apply_documents: the top-8 merges
#: learned offline (pure-Python reference BPE over the sf0.001 corpus),
#: frozen as literals because oracle_sql() must be data-independent —
#: exactly how production tokenizers work: the merge table is a fixed
#: artifact, application is the corpus-sized job.
_BPE_SHIPPED_MERGES = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("s", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
]


def _bpe_merges_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_required_confs(spark)
    docs = ParquetTarget("t", sf_dir).read(spark, "documents")
    return bpe.bpe_merges_df(spark, docs, 10)


#: sf_dir -> persisted IVF-PQ index table name.  The build (encode +
#: one bucket shuffle) is memoized so every call after the first —
#: including bench run 2, whose min-of-two the protocol keeps — times
#: the PURE PROBE against stored codes: the production deploy shape
#: (r4 VERDICT item 5).  Keyed by sf_dir so tests at sf0.001 and the
#: driver at sf0.01 never share an index.
_IVFPQ_REG_INDEX: dict[str, str] = {}

#: (sf_dir, kind) -> parquet path of the stored PQ artifact ("codes" =
#: pq_encode output, "cells" = ivfpq_cells output).  Built once per
#: sf_dir and read back per call, so pq_topk/ivfpq_topk registrations
#: time the PROBE against a stored index (r5 VERDICT item 2) — like
#: the persisted _IVFPQ_REG_INDEX, but as plain parquet because these
#: probes scan all cells (no bucket pruning to preserve).  bench.py
#: materializes the matching DuckDB relations once (BENCH_ORACLE_SETUP)
#: so the ratio compares probe to probe, build to nothing on neither
#: side (r5 ADVICE item 1).
_PQ_STORE: dict[tuple[str, str], str] = {}

#: sf_dir -> parquet path of the persisted events fingerprint snapshot
#: (snapshot_verify_events state half, written once per sf_dir).
_SNAPSHOT_STORE: dict[str, str] = {}

#: Initial hourly-rollup state per sf_dir for rollup_ivm_events (same
#: write-once-then-splice deploy shape as _SNAPSHOT_STORE).
_ROLLUP_IVM_STORE: dict[str, str] = {}

#: Initial per-day HLL register state per sf_dir, shared by
#: hll_ivm_events (splices the fault days) and hll_range_rollup_events
#: (merges days outside the fault) — write-once-then-splice shape.
_HLL_IVM_STORE: dict[str, str] = {}

#: sf_dir -> persisted per-day quantile-sample state (quantile_ivm /
#: quantile_range_rollup share it, either order).
_QSAMPLE_IVM_STORE: dict[str, str] = {}

#: sf_dir -> CAPPED per-day quantile-sample state (KMV bottom-k per
#: day; its own store because rate/cap differ from the uncapped twin).
_QSAMPLE_CAP_STORE: dict[str, str] = {}

#: sf_dir -> sample state whose splice delta arrives over live JDBC.
_QSAMPLE_JDBC_STORE: dict[str, str] = {}

#: sf_dir -> parquet path of the stored bigram LM model (trained once
#: per sf_dir; scoring joins against it — the "built offline once"
#: deploy shape lm.py documents).
_LM_MODEL_STORE: dict[str, str] = {}

#: sf_dir -> mutable table copies for the storage-maintenance entries
#: (the ops rewrite files in place, so they get their own copy — the
#: read-only testdata is never touched).
_MAINTAIN_STORE: dict[tuple[str, str], str] = {}


def _targeted_delete_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over a key-clustered orders copy: delete
    every key ≡ 7 (mod 1000), rewriting only footer-pruned files; the
    surviving table must equal the oracle's NOT-IN relation."""
    import tempfile

    from pgverify_spark.sources.maintain import targeted_delete
    from pgverify_spark.sources.manifest import read_state

    ensure_required_confs(spark)
    path = _MAINTAIN_STORE.get((sf_dir, "del"))
    if path is None:
        path = tempfile.mkdtemp(prefix="pgvs_tdel_") + "/orders"
        src = ParquetTarget("t", sf_dir).read(spark, "orders")
        # key-clustered layout (8 range files): the layout that makes
        # footer pruning effective — the deploy norm for an id column
        (
            src.repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .write.parquet(path)
        )
        _MAINTAIN_STORE[(sf_dir, "del")] = path
    ids = [
        r[0]
        for r in read_state(spark, path)
        .filter("o_orderkey % 1000 = 7")
        .select("o_orderkey")
        .collect()
    ]
    if ids:  # second run onward: the ids are already gone (idempotent)
        targeted_delete(spark, path, ids, "o_orderkey")
    return read_state(spark, path).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _generation_diff_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the last maintenance commit with NO pre-write snapshot:
    run the same key-block takedown as targeted_delete_orders on its
    own copy, then diff the previous committed generation against the
    current one through the manifest's grace window — the result must
    be exactly the deleted rows, status only_left."""
    from pgverify_spark.sources.maintain import generation_diff, targeted_delete
    from pgverify_spark.sources.manifest import read_state

    ensure_required_confs(spark)
    schema = TESTDATA_TABLES["orders"]
    path = _MAINTAIN_STORE.get((sf_dir, "gdiff"))
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="pgvs_gdiff_") + "/orders"
        src = ParquetTarget("t", sf_dir).read(spark, "orders")
        (
            src.repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .write.parquet(path)
        )
        _MAINTAIN_STORE[(sf_dir, "gdiff")] = path
    ids = [
        r[0]
        for r in read_state(spark, path)
        .filter("o_orderkey % 1000 = 7")
        .select("o_orderkey")
        .collect()
    ]
    if ids:  # first call commits bootstrap + delete; later calls no-op
        targeted_delete(spark, path, ids, "o_orderkey")
    return generation_diff(spark, path, schema)


def _timetravel_read_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read through the manifest grace window: run the same
    key-block takedown as targeted_delete_orders on its own copy, then
    read the table AS OF the previous committed manifest — the result
    must be the PRISTINE table, byte-for-byte, even though the current
    committed state no longer contains the deleted rows.  This is the
    snapshot-isolation contract a lakehouse reader relies on (query a
    pinned snapshot while maintenance rewrites underneath): the grace
    window keeps every file of manifest N readable until commit N+2, so
    ``read_state(manifest_no=N)`` is exact, not best-effort."""
    from pgverify_spark.sources.maintain import targeted_delete
    from pgverify_spark.sources.manifest import manifest_numbers, read_state

    ensure_required_confs(spark)
    path = _MAINTAIN_STORE.get((sf_dir, "asof"))
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="pgvs_asof_") + "/orders"
        src = ParquetTarget("t", sf_dir).read(spark, "orders")
        (
            src.repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .write.parquet(path)
        )
        _MAINTAIN_STORE[(sf_dir, "asof")] = path
    nums = manifest_numbers(spark, path)
    if len(nums) < 2:  # first call: bootstrap + delete commits; the
        # manifest count answers idempotency, so warm calls skip the
        # surviving-ids scan entirely
        ids = [
            r[0]
            for r in read_state(spark, path)
            .filter("o_orderkey % 1000 = 7")
            .select("o_orderkey")
            .collect()
        ]
        if ids:
            targeted_delete(spark, path, ids, "o_orderkey")
        nums = manifest_numbers(spark, path)
    # the delete's commit is nums[-1]; its predecessor is the pre-delete
    # state (the bootstrap commit of the pristine table)
    return read_state(spark, path, manifest_no=nums[-2]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _schema_drift_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-only schema audit over a table two pipeline versions
    wrote: generation A carries the original 5-column orders schema,
    generation B drops ``o_orderpriority``, adds ``ingest_src`` and
    narrows ``o_custkey`` to INT32 — the three drift classes (dropped,
    added, type-conflict) a mergeSchema read silently papers over.
    The report derives entirely from file footers (the unit test
    splices garbage into data pages and the report is unchanged);
    the oracle is the injected drift stated as a constant relation —
    deterministic because the store is written by this entry itself."""
    from pgverify_spark.sources.schema_audit import schema_drift_report

    ensure_required_confs(spark)
    path = _MAINTAIN_STORE.get((sf_dir, "sdrift"))
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="pgvs_sdrift_") + "/orders"
        src = ParquetTarget("t", sf_dir).read(spark, "orders")
        a = src.selectExpr(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority",
        )
        a.repartition(4).write.parquet(path)
        b = src.selectExpr(
            "o_orderkey",
            "CAST(o_custkey AS INT) AS o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "'crawl-2' AS ingest_src",
        )
        b.repartition(4).write.mode("append").parquet(path)
        _MAINTAIN_STORE[(sf_dir, "sdrift")] = path
    return schema_drift_report(spark, path)


_SCHEMA_DRIFT_ORACLE = (
    'SELECT * FROM (VALUES '
    "('o_orderkey', 'int64', CAST(8 AS BIGINT), CAST(8 AS BIGINT), 'ok'), "
    "('o_custkey', 'int64', CAST(4 AS BIGINT), CAST(8 AS BIGINT), 'conflicting'), "
    "('o_custkey', 'int32', CAST(4 AS BIGINT), CAST(8 AS BIGINT), 'conflicting'), "
    "('o_orderstatus', 'string', CAST(8 AS BIGINT), CAST(8 AS BIGINT), 'ok'), "
    "('o_totalprice', 'double', CAST(8 AS BIGINT), CAST(8 AS BIGINT), 'ok'), "
    "('o_orderpriority', 'string', CAST(4 AS BIGINT), CAST(8 AS BIGINT), 'partial'), "
    "('ingest_src', 'string', CAST(4 AS BIGINT), CAST(8 AS BIGINT), 'partial')"
    ') AS t("column", dtype, n_files, n_files_total, status)'
)


def _chunks_by(
    df: DataFrame, key_sql: str, values: Iterable[int] | None = None
) -> list[DataFrame]:
    """``df`` split into one filter per value of the integer SQL expression
    ``key_sql``, in ascending numeric order: ``values`` when given, else the
    distinct values present (one collect)."""
    if values is None:
        values = sorted(r[0] for r in df.select(F.expr(key_sql)).distinct().collect())
    return [df.filter(f"({key_sql}) = {v}") for v in values]


def _replay(
    spark: SparkSession,
    chunks: list[DataFrame],
    start: Callable[[DataFrame, str], DataStreamWriter],
    tmp: str,
) -> None:
    """Replay ``chunks`` through a streaming query: one file and one
    non-empty micro-batch per chunk, in list order.

    The query ``start(sdf, tmp)`` reads a ``maxFilesPerTrigger=1`` parquet
    file stream over the empty directory ``{tmp}/in`` and checkpoints to
    ``{tmp}/ck``.  Each chunk is then appended as one single-partition
    write, and the query processes it before the next is written.  Spark's
    file commit renames the file out of the ignored ``_temporary``
    directory, so the polling query never lists a partial file.

    Chunk ``i`` is thus the ``i``-th non-empty micro-batch.  The stateful
    fingerprint's per-bucket ``updates`` counter therefore equals the
    number of chunks holding the bucket, ``count(DISTINCT chunk)`` in its
    SQL twin; a hashed layout (``repartition(n, chunk)``) can fold two
    chunks into one file and leave another empty, and breaks that.  An
    operator whose state is exact only when micro-batches respect event
    time is exact when the chunks are passed in time order, e.g. by week
    (``_chunks_by(df, timecol.bucket_sql(df, timecol.US_PER_WEEK))``).
    """
    ensure_required_confs(spark)
    src = f"{tmp}/in"
    os.makedirs(src, exist_ok=True)
    sdf = (
        spark.readStream.schema(chunks[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start(sdf, tmp).option("checkpointLocation", f"{tmp}/ck").start()
    try:
        for chunk in chunks:
            chunk.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()


_INGEST_COMPACT_ORACLE = (
    "SELECT event_id, user_id, event_type, value FROM events"
)


def _run_streaming_ingest_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming sink-hygiene loop end-to-end: 4 micro-batches land
    in replay-idempotent ``batch_id=N`` partitions, then every sealed
    batch (all of them — the stopped stream committed everything) is
    compacted into one generation directory; the logical table must
    equal the source through the whole dance."""
    from pgverify_spark.streaming.ingest import (
        _batch_dirs,
        read_ingested,
        seal_and_compact,
        streaming_ingest,
    )

    ev = ParquetTarget("t", sf_dir).read(spark, "events")
    tmp = tempfile.mkdtemp(prefix="pgvs_singest_")
    store = f"{tmp}/store"
    _replay(
        spark,
        _chunks_by(ev, "event_id % 4", range(4)),
        lambda sdf, _: streaming_ingest(sdf, store),
        tmp,
    )
    seal_and_compact(spark, store, max(_batch_dirs(store)) + 1)
    return read_ingested(spark, store).select(
        "event_id", "user_id", "event_type", "value"
    )


#: verified_delete_orders parameters: delete the key block [1, 400]
#: from a copy clustered in 2000-key partitions — the takedown shape
#: (one tenant/source block), so exactly ONE file and ONE fingerprint
#: partition are touched.
_VDEL_LO, _VDEL_HI, _VDEL_PART_W = 1, 400, 2000


def _verified_delete_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten WITH an audit trail — the composition the
    maintenance + incremental-verify layers exist for:

    1. fingerprint-snapshot the table per 2000-key partition (once);
    2. ``targeted_delete`` the key block (footer stats -> 1 file
       rewritten);
    3. ``update_fingerprint_snapshot`` for ONLY the touched partition
       (pruned rescan);
    4. ``verify_against_snapshot`` proves every OTHER partition is
       bit-unchanged — the delete demonstrably removed the block and
       nothing else.

    Returned relation = the updated (part, fp) state; the oracle
    recomputes it from scratch over orders-minus-block, so the hash
    certifies the whole protocol end-to-end.  A non-empty verify diff
    raises (recorded as ``err`` by the driver — the audit failing IS
    the signal)."""
    import tempfile

    from pgverify_spark.operators.fingerprint import (
        update_fingerprint_snapshot,
        verify_against_snapshot,
        write_fingerprint_snapshot,
    )
    from pgverify_spark.sources.maintain import targeted_delete
    from pgverify_spark.sources.manifest import read_state

    ensure_required_confs(spark)
    schema = TESTDATA_TABLES["orders"]
    psql = f"o_orderkey div {_VDEL_PART_W}"
    store = _MAINTAIN_STORE.get((sf_dir, "vdel"))
    if store is None:
        tmp = tempfile.mkdtemp(prefix="pgvs_vdel_")
        path, state = f"{tmp}/orders", f"{tmp}/state"
        src = ParquetTarget("t", sf_dir).read(spark, "orders")
        (
            src.repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .write.parquet(path)
        )
        write_fingerprint_snapshot(
            spark.read.parquet(path), schema, state, partition_sql=psql
        )
        _MAINTAIN_STORE[(sf_dir, "vdel")] = (path, state)
    else:
        path, state = store
    cur = read_state(spark, path)
    ids = [
        r[0]
        for r in cur.filter(
            f"o_orderkey BETWEEN {_VDEL_LO} AND {_VDEL_HI}"
        ).select("o_orderkey").collect()
    ]
    if ids:  # second run onward the block is already gone (idempotent)
        targeted_delete(spark, path, ids, "o_orderkey")
    parts = sorted({k // _VDEL_PART_W for k in range(_VDEL_LO, _VDEL_HI + 1)})
    cur = read_state(spark, path)
    new_state = update_fingerprint_snapshot(
        spark, cur, schema, state, tuple(parts), partition_sql=psql
    )
    bad = verify_against_snapshot(spark, cur, schema, state, None, psql).collect()
    if bad:
        raise AssertionError(f"verified delete audit failed: {bad[:5]}")
    return new_state


def _compact_files_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction over an ingest-fragmented events copy:
    32 shard files -> right-sized ones, content-identical."""
    import tempfile

    from pgverify_spark.sources.maintain import compact_small_files
    from pgverify_spark.sources.manifest import read_state

    ensure_required_confs(spark)
    path = _MAINTAIN_STORE.get((sf_dir, "cmp"))
    if path is None:
        path = tempfile.mkdtemp(prefix="pgvs_cmp_") + "/events"
        src = ParquetTarget("t", sf_dir).read(spark, "events")
        src.repartition(32).write.parquet(path)
        _MAINTAIN_STORE[(sf_dir, "cmp")] = path
    compact_small_files(spark, path, small_bytes=64 * 1024 * 1024)
    return read_state(spark, path).select(
        "event_id", "user_id", "event_type", "value"
    )


def _pq_stored(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    import tempfile

    path = _PQ_STORE.get((sf_dir, kind))
    if path is None:
        embs = ParquetTarget("t", sf_dir).read(spark, "embeddings")
        build = similarity.pq_encode if kind == "codes" else similarity.ivfpq_cells
        path = tempfile.mkdtemp(prefix=f"pgvs_pq_{kind}_") + "/data"
        build(embs).write.parquet(path)
        _PQ_STORE[(sf_dir, kind)] = path
    return spark.read.parquet(path)


def _lm_scores_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ensure_required_confs(spark)
    docs = ParquetTarget("t", sf_dir).read(spark, "documents")
    path = _LM_MODEL_STORE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="pgvs_lm_model_") + "/data"
        lm.bigram_model(docs).write.parquet(path)
        _LM_MODEL_STORE[sf_dir] = path
    return lm.bigram_lm_scores(docs, model=spark.read.parquet(path))


def _pq_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_required_confs(spark)
    embs = ParquetTarget("t", sf_dir).read(spark, "embeddings")
    return similarity.pq_topk(
        embs, (0, 1, 2, 3, 4), 10, codes=_pq_stored(spark, sf_dir, "codes")
    )


def _ivfpq_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_required_confs(spark)
    embs = ParquetTarget("t", sf_dir).read(spark, "embeddings")
    return similarity.ivfpq_topk(
        embs, (0, 1, 2, 3, 4), 10, 2, cells=_pq_stored(spark, sf_dir, "cells")
    )


#: Memoized probe PLAN (a DataFrame handle) for the fixed 5-query
#: batch per (applicationId, sf_dir) — write-once testdata, so the
#: collected query rows (and hence the whole literal-parameterized
#: plan) are immutable for the session.  Passing pre-collected rows to
#: probe_ivfpq_index makes the probe a SINGLE Spark action (r8 VERDICT
#: item 5: the per-probe query-side collect was the remaining fixed
#: cost); memoizing the handle additionally skips the driver math +
#: analysis on repeats.
_IVFPQ_QUERY_ROWS: dict[tuple[str, str], DataFrame] = {}


def _ivfpq_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile

    ensure_required_confs(spark)
    embs = ParquetTarget("t", sf_dir).read(spark, "embeddings")
    name = _IVFPQ_REG_INDEX.get(sf_dir)
    if name is None or not spark.catalog.tableExists(f"{name}_cells"):
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        name = f"reg_ivfpq_{tag}"
        tmp = tempfile.mkdtemp(prefix="pgvs_ivfpqidx_")
        similarity.write_ivfpq_index(embs, name, f"{tmp}/idx")
        _IVFPQ_REG_INDEX[sf_dir] = name
    qkey = (spark.sparkContext.applicationId, sf_dir)
    plan = _IVFPQ_QUERY_ROWS.get(qkey)
    if plan is None:
        if any(k[0] != qkey[0] for k in _IVFPQ_QUERY_ROWS):
            _IVFPQ_QUERY_ROWS.clear()
        rows = (
            embs.filter(F.col("vec_id").isin(0, 1, 2, 3, 4))
            .select("vec_id", "embedding")
            .collect()
        )
        # the whole PLAN is deterministic per (session, sf_dir): query
        # rows are literals, cells/cb are stored-index reads — memoize
        # the DataFrame handle too, so a repeat probe skips the ~0.4 s
        # of driver math + local-relation construction + analysis and
        # is purely its one job (clearCache-safe: nothing here relies
        # on a persist registration)
        plan = similarity.probe_ivfpq_index(spark, rows, name, 10, 2)
        _IVFPQ_QUERY_ROWS[qkey] = plan
    return plan


#: Raw-web-page twin of documents for the HTML/curation entries: every
#: 7th doc wrapped in a page skeleton, every 9th given an accented tail.
_WEB_WRAP_SPARK = (
    "CASE WHEN doc_id % 7 = 0 THEN concat("
    "'<html><head><style>p{color:red}</style><script>var x=1;</script>"
    "</head><body><p>', replace(text, '. ', '.</p> <p>'), "
    "'</p><!-- c --></body></html>') "
    "WHEN doc_id % 9 = 0 THEN concat(text, ' Café – “naïve” straße…') "
    "ELSE text END AS text"
)
_WEB_WRAP_DUCK = (
    "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN "
    "'<html><head><style>p{color:red}</style><script>var x=1;</script>"
    "</head><body><p>' || replace(text, '. ', '.</p> <p>') || "
    "'</p><!-- c --></body></html>' "
    "WHEN doc_id % 9 = 0 THEN text || ' Café – “naïve” straße…' "
    "ELSE text END AS text FROM documents"
)


#: Session-memoized curation pipeline per (applicationId, sf_dir) —
#: r8 VERDICT item 4: ``curate_corpus_documents`` and
#: ``curate_corpus_report_documents`` invoked in ONE session share one
#: pipeline run (one tokenize scan, one LSH pass) instead of each
#: re-deriving and re-persisting the whole stage graph.  The memo OWNS
#: the pipeline's persisted frames (consumers no longer tag them for
#: per-query release, which would yank shared blocks from under the
#: other consumer); at most one (session, sf_dir) generation is live —
#: building for a new key releases every other entry, and
#: :func:`release_curate_pipeline` is the explicit operational hook
#: (SCALE_CHECK's back-to-back GC-thrash note).  A memo whose persisted
#: stages have been unregistered (bench's clearCache protocol, an
#: explicit release) is detected via ``storageLevel`` and rebuilt —
#: serving it stale would re-derive the upstream chain once per
#: consumer reference, the 40x CollapseProject-shaped hazard the
#: persists exist to prevent.
_CURATE_PIPE_CACHE: dict[tuple[str, str], dict] = {}


def _pipe_live(st: dict) -> bool:
    """Every pipeline stage still registered with the cache manager
    (blocks may be LRU-evicted and refill — that is fine; an
    UNREGISTERED plan never re-caches and must be rebuilt)."""
    return all(
        d.storageLevel.useMemory or d.storageLevel.useDisk for d in st["deps"]
    )


def release_curate_pipeline() -> None:
    """Unpersist and drop every memoized curation pipeline (all
    sessions).  Safe to call at any time; the next
    ``curate_corpus[_report]_documents`` invocation rebuilds."""
    for key in list(_CURATE_PIPE_CACHE):
        st = _CURATE_PIPE_CACHE.pop(key)
        for d in st["deps"]:
            try:
                d.unpersist(blocking=False)
            except Exception:
                pass  # stopped session: blocks are already gone


def _curate_pipeline(spark: SparkSession, sf_dir: str) -> dict:
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _CURATE_PIPE_CACHE.get(key)
    if got is not None and _pipe_live(got):
        return got
    # build (or rebuild) — releasing every other generation first keeps
    # executor storage at one live pipeline per process
    release_curate_pipeline()
    st = _build_curate_pipeline(spark, sf_dir)
    _CURATE_PIPE_CACHE[key] = st
    return st


def _build_curate_pipeline(spark: SparkSession, sf_dir: str) -> dict:
    """Shared stage relations of the one-call corpus curation pipeline:

        raw pages -> strip_html -> normalize_unicode -> Gopher gate
        -> exact dedup -> MinHash-LSH near dedup -> Bloom
        decontaminate -> leakage-safe split

    Consumed by BOTH registered twins — ``curate_corpus_documents``
    (per-split packing over ``splitdoc``) and
    ``curate_corpus_report_documents`` (the stage funnel + per-split
    accounting over the same persisted relations) — so the pipeline
    exists in exactly one place.  Returns the named stage DataFrames
    plus the persisted intermediates to release (``deps``).

    Scale shape: one composition, one plan.  The corpus tokenizes ONCE
    (text.tokenize_prep, persisted) and the tokens column rides through
    the filters to the gate / LSH / Bloom stages; every decision
    relation (gate keeps, dedup winners/losers, contamination flags) is
    ids-only and joins back semi/anti — the only full-row exchange
    after the tokenize barrier is the per-split packing window.  The
    leakage-split cluster pass is elided by proof (see inline note);
    the LSH pair stream feeds only near_dedup_filter, whose dup_clusters
    materializes it once via its eager localCheckpoint.  Persisted
    stages (toked, gates, exactd, neard + the shingle/signature caches)
    are owned by the session memo and released via
    :func:`release_curate_pipeline` (``deps``).
    """
    from pgverify_spark.operators import contamination, dedup, prep, text

    ensure_required_confs(spark)
    raw = ParquetTarget("t", sf_dir).read(spark, "documents")
    pages = raw.selectExpr("doc_id", _WEB_WRAP_SPARK)
    # Every multi-consumer stage is persisted — the Spark twin of the
    # oracle's AS MATERIALIZED hints: without it each downstream
    # consumer re-derives the whole upstream pipeline (clean + gate +
    # shingle), which measured ~40x the runtime at sf0.1 (121 s vs 3 s)
    # — lazy-DAG inlining compounds exactly like DuckDB's CTE inlining.
    cleaned = text.normalize_unicode_light(
        text.strip_html(pages).selectExpr("doc_id", "clean_text AS text")
    ).selectExpr("doc_id", "norm_text AS text")
    # Tokenize ONCE: the persisted (doc_id, text, norm, tokens) relation
    # feeds the Gopher gate AND rides through the dedup filters so the
    # LSH and Bloom shingle layers skip their own tokenize pass + barrier
    # exchange (text.tokenize_prep contract).  The downstream caches
    # carry text + tokens (~2x bytes) — the trade for 3 regexp passes
    # and 2 corpus exchanges removed.
    toked = text.tokenize_prep(cleaned).persist()
    # gates must be persisted BEFORE the keep-filter: Catalyst pushes
    # the filter predicate below gopher_gate's barrier repartitions,
    # re-inlining the token/bigram pipeline once per reference inside
    # the keep expression (measured 15 s vs 0.7 s at sf0.1 — the
    # CollapseProject hazard util.barrier guards against, resurrected
    # through filter pushdown, which passes through repartitions).
    gates = text.gopher_gate(
        toked, min_tokens=20, max_tokens=10_000, min_stopword_ratio=0.01
    ).persist()
    gated = toked.select("doc_id", "text", "pgvs_tokens").join(
        gates.filter("keep").select("doc_id"), "doc_id", "left_semi"
    )
    exactd = dedup.exact_dedup_filter(gated).persist()
    pairs_raw = dedup.minhash_lsh_pairs(exactd, 0.3)
    # No pairs.persist(): near_dedup_filter's dup_clusters eagerly
    # localCheckpoints the pair stream as its first step, which IS the
    # materialize-once — a persist on top would only add a cache pass.
    pairs = pairs_raw.select("doc_a", "doc_b")
    neard = dedup.near_dedup_filter(exactd, pairs).persist()
    flags = contamination.bloom_decontaminate(neard)
    decon = neard.filter("doc_id % 10 <> 0").join(
        flags.filter("contaminated = 1").select("doc_id"), "doc_id", "left_anti"
    )
    # Leakage-safe split with the cluster pass elided by PROOF instead
    # of computed: near_dedup_filter keeps only cluster representatives
    # (doc_id == cluster_id == component min), so for any near-dup pair
    # the larger endpoint is gone — the pair stream restricted to decon
    # is EMPTY by construction, every split_key coalesces to the doc's
    # own id, and leakage_safe_split(decon, restricted_pairs) is exactly
    # the own-id hash split.  Eliding it removes two semi-joins, the
    # iterative cluster jobs (the dominant fixed cost of this flagship:
    # driver-scheduled rounds over an empty graph), and the split
    # join's full-row exchange; the same split_assign_exprs source
    # feeds both twins, and tests/test_pipeline_ops.py asserts this
    # plan equals the un-elided composition.  splitdoc is persisted
    # since the session memo gave it TWO consumers (the flagship's
    # packing window and the report's per-split aggregate): without
    # it each re-derives the Bloom decontamination pass — measured
    # ~1.0 s of the report's 2.5 s incremental wall at sf0.1.
    bucket, case = prep.split_assign_exprs(DIALECT_SPARK)
    packed_in = (
        decon.selectExpr("doc_id", "text", f"{bucket} AS b")
        .selectExpr(f"{case} AS source", "doc_id", "text")
        .persist()
    )
    return {
        "toked": toked,
        "gated": gated,
        "exactd": exactd,
        "neard": neard,
        "splitdoc": packed_in,
        "deps": (
            toked, gates, exactd, neard, packed_in,
            *getattr(pairs_raw, "_pgvs_cached_deps", ()),
        ),
    }


def _curation_audit_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dropped_by) for every document the curation pipeline
    removed — first-dropping-stage attribution over the memoized stage
    relations (see the registry entry comment)."""
    st = _curate_pipeline(spark, sf_dir)

    def ids(name: str) -> DataFrame:
        return st[name].select("doc_id")

    drops = [
        ids("toked").join(ids("gated"), "doc_id", "left_anti")
        .selectExpr("doc_id", "'gate' AS dropped_by"),
        ids("gated").join(ids("exactd"), "doc_id", "left_anti")
        .selectExpr("doc_id", "'exact_dedup' AS dropped_by"),
        ids("exactd").join(ids("neard"), "doc_id", "left_anti")
        .selectExpr("doc_id", "'near_dedup' AS dropped_by"),
        ids("neard").filter("doc_id % 10 = 0")
        .selectExpr("doc_id", "'eval_split' AS dropped_by"),
        ids("neard").filter("doc_id % 10 <> 0")
        .join(ids("splitdoc"), "doc_id", "left_anti")
        .selectExpr("doc_id", "'decontaminated' AS dropped_by"),
    ]
    return reduce(DataFrame.unionByName, drops)


def _curation_audit_body_sql() -> str:
    """The attribution SELECT, referencing pipeline stages BY NAME —
    assembled under the certified CTE chain by the registered oracle
    and over the bench's memoized temp tables by its probe twin."""
    return (
        "SELECT doc_id, 'gate' AS dropped_by FROM cleaned "
        "WHERE doc_id NOT IN (SELECT doc_id FROM gated) "
        "UNION ALL SELECT doc_id, 'exact_dedup' FROM gated "
        "WHERE doc_id NOT IN (SELECT doc_id FROM exactd) "
        "UNION ALL SELECT doc_id, 'near_dedup' FROM exactd "
        "WHERE doc_id NOT IN (SELECT doc_id FROM neard) "
        "UNION ALL SELECT doc_id, 'eval_split' FROM neard "
        "WHERE doc_id % 10 = 0 "
        "UNION ALL SELECT doc_id, 'decontaminated' FROM neard "
        "WHERE doc_id % 10 <> 0 "
        "AND doc_id NOT IN (SELECT doc_id FROM decon)"
    )


def _curation_audit_oracle_sql() -> str:
    """The identical attribution over the shared pipeline CTE chain —
    each membership test is against exactly the stage its standalone
    entry certifies."""
    return f"{_curate_corpus_ctes()} {_curation_audit_body_sql()}"


def _curate_corpus_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus curation — the END-TO-END pipeline this engine
    exists for (see :func:`_curate_pipeline` for the stage graph).

    Output: (split, bin, n_docs, bin_tokens) — the packed-bin report of
    the training-ready corpus, per split.
    """
    from pgverify_spark.operators import prep

    st = _curate_pipeline(spark, sf_dir)
    # The memoized pipeline owns its persisted stages (see
    # _CURATE_PIPE_CACHE) — no per-query dep tagging, or re-invoking
    # this entry would unpersist blocks the report twin shares.
    return prep.pack_sequences(st["splitdoc"], 512).selectExpr(
        "source AS split", "bin", "n_docs", "bin_tokens"
    )


def _curate_corpus_report_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation accounting twin of :func:`_curate_corpus_run`: the
    stage-by-stage funnel (docs and whitespace tokens surviving each
    pipeline stage) plus per-split totals — the report a curation team
    reads alongside the packed bins to see what each gate/dedup/decon
    pass actually removed.

    Output: (stage, stage_idx, n_docs, n_tokens); stages ``cleaned``
    (1) -> ``gated`` (2) -> ``exact_dedup`` (3) -> ``near_dedup`` (4)
    -> ``decontaminated`` (5), then one ``split_<name>`` row (6) per
    split.  Token counts use the same whitespace measure as the
    packing operators (prep._TOKENS, shared source both dialects).

    Scale shape: every row is ONE ids-free aggregate over a relation
    the flagship already persists — the report adds zero corpus-sized
    exchanges; decontaminated totals derive from the persisted 3-row
    per-split aggregate instead of re-deriving the decon relation.
    The two aggregate relations (the 4-row stage funnel and the
    per-split totals) are memoized INTO the pipeline entry: they are
    pure functions of the write-once stage graph, so a session's
    second report invocation collects two tiny cached relations
    instead of re-running ~6 aggregate jobs (measured 1.7 s -> ~0.4 s
    incremental at sf0.1).
    """
    from pgverify_spark.operators.prep import _TOKENS

    st = _curate_pipeline(spark, sf_dir)
    funnel, splitagg = st.get("funnel"), st.get("splitagg")
    if funnel is None:

        def stage_row(df: DataFrame, stage: str, idx: int) -> DataFrame:
            return (
                df.selectExpr(f"{_TOKENS} AS t")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("t").cast("long").alias("n_tokens"),
                )
                .selectExpr(
                    f"'{stage}' AS stage",
                    f"CAST({idx} AS INT) AS stage_idx",
                    "n_docs",
                    "n_tokens",
                )
            )

        funnel = (
            stage_row(st["toked"], "cleaned", 1)
            .unionByName(stage_row(st["gated"], "gated", 2))
            .unionByName(stage_row(st["exactd"], "exact_dedup", 3))
            .unionByName(stage_row(st["neard"], "near_dedup", 4))
            .persist()
        )
        splitagg = (
            st["splitdoc"]
            .selectExpr("source", f"{_TOKENS} AS t")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("t").cast("long").alias("n_tokens"),
            )
            .persist()
        )
        st["funnel"], st["splitagg"] = funnel, splitagg
        # owned by the memo like every other stage: released together,
        # and a clearCache that unregisters them triggers the rebuild
        st["deps"] = (*st["deps"], funnel, splitagg)
    decon_row = splitagg.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    ).selectExpr(
        "'decontaminated' AS stage", "CAST(5 AS INT) AS stage_idx",
        "n_docs", "n_tokens",
    )
    split_rows = splitagg.selectExpr(
        "concat('split_', source) AS stage", "CAST(6 AS INT) AS stage_idx",
        "n_docs", "n_tokens",
    )
    return funnel.unionByName(decon_row).unionByName(split_rows)


def _curate_stage_sqls() -> tuple[tuple[str, str, bool], ...]:
    """(name, sql, materialized) for each pipeline stage, in dependency
    order; every stage references earlier stages BY NAME only, so the
    one list assembles both as the certified WITH chain
    (:func:`_curate_corpus_ctes`) and as the bench's memoized-build
    temp tables (:func:`bench_oracle_setup`, r9 protocol amendment).

    ``materialized`` marks multi-referenced stages: DuckDB inlines
    single-use CTEs, and inlining a CTE referenced n times re-runs its
    whole upstream chain n times — the nested stages compound that into
    exponential re-evaluation (measured: the un-hinted statement did
    not finish sf0.001 in minutes; hinted it runs in seconds).
    Spark-side twin: the persisted pair stream.  The cluster pass is
    elided from ``splitdoc`` by the same proof as the Spark twin: after
    near-dedup no pair survives into decon, so the leakage-safe split
    key is the doc's own id (split_assign_exprs, shared source)."""
    from pgverify_spark.operators import contamination, dedup, prep, text

    cleaned_inner = text.normalize_unicode_light_oracle_sql(
        "(SELECT doc_id, clean_text AS text FROM stripped) s"
    )
    dbucket, dcase = prep.split_assign_exprs(DIALECT_DUCKDB)
    return (
        ("pages", _WEB_WRAP_DUCK, False),
        ("stripped", text.strip_html_oracle_sql("pages"), False),
        (
            "cleaned",
            f"SELECT doc_id, norm_text AS text FROM ({cleaned_inner}) n",
            True,
        ),
        (
            "gates",
            text.gopher_gate_oracle_sql(
                "cleaned", min_tokens=20, max_tokens=10_000,
                min_stopword_ratio=0.01,
            ),
            False,
        ),
        (
            "gated",
            "SELECT c.doc_id, c.text FROM cleaned c "
            "JOIN gates g ON c.doc_id = g.doc_id WHERE g.keep",
            True,
        ),
        ("exactd", dedup.exact_dedup_filter_oracle_sql("gated"), True),
        ("pairs", dedup.minhash_lsh_pairs_oracle_sql("exactd", 0.3), True),
        (
            "clusters",
            dedup.dup_clusters_oracle_sql("SELECT doc_a, doc_b FROM pairs"),
            False,
        ),
        (
            "neard",
            "SELECT t.* FROM exactd t WHERE doc_id NOT IN "
            "(SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)",
            True,
        ),
        ("bloom", contamination.bloom_decontaminate_oracle_sql("neard"), False),
        (
            "decon",
            "SELECT * FROM neard WHERE doc_id % 10 <> 0 AND doc_id NOT IN "
            "(SELECT doc_id FROM bloom WHERE contaminated = 1)",
            True,
        ),
        (
            "splitdoc",
            f"SELECT {dcase} AS source, doc_id, text FROM "
            f"(SELECT doc_id, text, {dbucket} AS b FROM decon) k",
            False,
        ),
    )


def _curate_corpus_ctes() -> str:
    """The pipeline's WITH-clause body (through ``splitdoc``) as ONE
    DuckDB chain: each stage's oracle builder is given the previous
    stage's CTE NAME as its table, so the statement chains by reference
    (no textual blow-up) and every stage twin is exactly the one its
    standalone entry certifies.  Shared by the packed-bin oracle and
    the funnel-report oracle."""
    return "WITH " + ", ".join(
        f"{name} AS {'MATERIALIZED ' if mat else ''}({sql})"
        for name, sql, mat in _curate_stage_sqls()
    )


def _curate_corpus_oracle_sql() -> str:
    """Packed-bin final over the shared pipeline CTEs."""
    from pgverify_spark.operators import prep

    return (
        f"{_curate_corpus_ctes()}, "
        f"packed AS ({prep.pack_sequences_oracle_sql('splitdoc', 512)}) "
        "SELECT source AS split, bin, n_docs, bin_tokens FROM packed"
    )


def _curate_report_body_sql() -> str:
    """The report's final CTE + SELECT over stage relations BY NAME
    (``splitagg AS ... SELECT ...``): appended after the pipeline CTEs
    for the certified oracle, or used as ``WITH <body>`` over the
    bench's pre-materialized stage temp tables (probe twin).
    ``splitagg`` is MATERIALIZED because it is referenced twice (decon
    rollup + split rows) and DuckDB would otherwise re-run the whole
    upstream chain per reference."""
    from pgverify_spark.operators.prep import _TOKENS_DUCK as T

    def stage(name: str, idx: int, cte: str) -> str:
        return (
            f"SELECT '{name}' AS stage, CAST({idx} AS INTEGER) AS stage_idx, "
            f"CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(sum({T}) AS BIGINT) AS n_tokens FROM {cte}"
        )

    return (
        "splitagg AS MATERIALIZED (SELECT source, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(sum({T}) AS BIGINT) AS n_tokens FROM splitdoc GROUP BY source) "
        + stage("cleaned", 1, "cleaned")
        + " UNION ALL " + stage("gated", 2, "gated")
        + " UNION ALL " + stage("exact_dedup", 3, "exactd")
        + " UNION ALL " + stage("near_dedup", 4, "neard")
        + " UNION ALL SELECT 'decontaminated' AS stage, "
        "CAST(5 AS INTEGER) AS stage_idx, "
        "CAST(sum(n_docs) AS BIGINT) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM splitagg"
        " UNION ALL SELECT 'split_' || source AS stage, "
        "CAST(6 AS INTEGER) AS stage_idx, n_docs, n_tokens FROM splitagg"
    )


def _curate_corpus_report_oracle_sql() -> str:
    """Funnel-report final over the shared pipeline CTEs: one aggregate
    per stage (same whitespace token measure as the packing twins,
    prep._TOKENS_DUCK) plus the per-split rows."""
    return f"{_curate_corpus_ctes()}, {_curate_report_body_sql()}"


def _shingle_overlap_sides(df: DataFrame) -> DataFrame:
    """(side_a, v) relation for the KMV shingle-overlap entries — the
    doc-term edges projected to (corpus half, shingle id), with the
    cached-deps tag CARRIED through the projection (a bare selectExpr
    drops the Python attribute and the per-call shingle persist would
    leak — r9 self-review finding)."""
    from pgverify_spark.operators.util import carry_cached_deps

    edges = graph.doc_term_edges(df)
    return carry_cached_deps(
        edges, edges.selectExpr("doc_a % 2 = 0 AS side_a", "doc_b AS v")
    )


def _pipeline_entries() -> dict[str, tuple[Callable, str]]:
    """LLM-data-pipeline operators: dedup, similarity, text analysis,
    multimodal plumbing (thresholds chosen to be non-trivial at sf0.01)."""
    qids = (0, 1, 2, 3, 4)
    return {
        # text analysis
        "text_stats_documents": (
            _table_query("documents", text.text_stats),
            text.text_stats_oracle_sql("documents"),
        ),
        "language_id_documents": (
            _table_query("documents", text.language_id),
            text.language_id_oracle_sql("documents"),
        ),
        "token_counts_documents": (
            _table_query("documents", text.token_counts),
            text.token_counts_oracle_sql("documents"),
        ),
        "rolling_fingerprint_documents": (
            _table_query("documents", text.rolling_fingerprint),
            text.rolling_fingerprint_oracle_sql("documents"),
        ),
        "doc_fingerprints_documents": (
            _table_query("documents", text.doc_fingerprints),
            text.doc_fingerprints_oracle_sql("documents"),
        ),
        # dedup
        # testdata documents are unique, so inject deterministic duplicate
        # copies (doc_id + 1000000) on both sides for a non-trivial check
        "exact_dup_groups_documents": (
            _table_query(
                "documents",
                lambda df: dedup.exact_dup_groups(
                    df.unionByName(
                        df.filter("doc_id % 10 = 0").selectExpr(
                            "doc_id + 1000000 AS doc_id", "text", "lang", "source", "n_chars"
                        )
                    )
                ),
            ),
            dedup.exact_dup_groups_oracle_sql(
                "(SELECT * FROM documents UNION ALL "
                "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
                "FROM documents WHERE doc_id % 10 = 0) u"
            ),
        ),
        "minhash_lsh_pairs_documents": (
            _table_query("documents", lambda df: dedup.minhash_lsh_pairs(df, 0.3)),
            dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3),
        ),
        "ngram_jaccard_pairs_documents": (
            _table_query("documents", lambda df: dedup.ngram_jaccard_pairs(df, 0.5)),
            dedup.ngram_jaccard_pairs_oracle_sql("documents", 0.5),
        ),
        # intra-document repetition (Gopher-style boilerplate signals)
        "repetition_stats_documents": (
            _table_query("documents", text.repetition_stats),
            text.repetition_stats_oracle_sql("documents"),
        ),
        # train/eval decontamination: cross-split 5-gram overlap
        "contamination_pairs_documents": (
            _table_query("documents", contamination.contamination_pairs),
            contamination.contamination_pairs_oracle_sql("documents"),
        ),
        # constant-memory decontamination: Bloom bitmap of eval shingles,
        # corpus probed with zero join fan-out (integer ops -> the oracle
        # computes the identical bitmap, false positives included)
        "bloom_decontaminate_documents": (
            _table_query("documents", contamination.bloom_decontaminate),
            contamination.bloom_decontaminate_oracle_sql("documents"),
        ),
        # contiguous-overlap decontamination: longest VERBATIM run of
        # shared n-grams per cross-split pair (diagonal gaps-and-islands
        # — the distributed reformulation of suffix-array span finding)
        "contamination_spans_documents": (
            _table_query("documents", contamination.contamination_spans),
            contamination.contamination_spans_oracle_sql("documents"),
        ),
        # corpus-INTERNAL exact-substring mining (Lee et al. 2022): per
        # document, the maximal runs of consecutive 5-grams shared with
        # another document — no broadcast-able small side, positions
        # marked by a gram-keyed ids join (never doc pairs), spans via
        # per-doc gaps-and-islands
        "repeated_spans_documents": (
            _table_query("documents", dedup.repeated_spans),
            dedup.repeated_spans_oracle_sql("documents"),
        ),
        # the transform half of exact-substring dedup: rewrite each doc
        # with duplicated passages removed, keeping the globally-first
        # occurrence of every repeated gram (tokens under a unique or
        # owned gram are protected)
        "cut_repeated_spans_documents": (
            _table_query("documents", dedup.cut_repeated_spans),
            dedup.cut_repeated_spans_oracle_sql("documents"),
        ),
        # integer-exact PageRank over the document-term bipartite graph
        # (TextRank-family salience).  The dup-PAIR graph was measured
        # and rejected as the input: near-dup components in any corpus
        # with injected exact copies are near-regular cliques, where
        # PageRank is provably uniform — the term graph is
        # degree-irregular by nature (7k distinct ranks at sf0.01).
        # The same operator runs over any (doc_a, doc_b) edge relation
        # (web links, citations) at 100 TB.
        "pagerank_term_graph_documents": (
            _table_query(
                "documents",
                lambda df: graph.pagerank(graph.doc_term_edges(df), 4),
            ),
            graph.pagerank_oracle_sql(
                graph.doc_term_edges_oracle_sql("documents"), 4
            ),
        ),
        # weighted twin: edge weight = shingle occurrence count in the
        # doc (TextRank's salience weighting — a repeated phrase pulls
        # proportionally more rank mass); same BIGINT-ppm discipline,
        # same one-exchange-per-round physical shape
        "pagerank_weighted_term_graph_documents": (
            _table_query(
                "documents",
                lambda df: graph.pagerank_weighted(
                    graph.doc_term_edges_weighted(df), 4
                ),
            ),
            graph.pagerank_weighted_oracle_sql(
                graph.doc_term_edges_weighted_oracle_sql("documents"), 4
            ),
        ),
        # personalized twin: teleport mass lands only on DOCUMENT nodes
        # (node < 10^15), so term ranks measure salience as seen from
        # the documents rather than global graph centrality —
        # topic-sensitive PageRank (Haveliwala 2002) with the doc set
        # as the topic
        "pagerank_personalized_term_graph_documents": (
            _table_query(
                "documents",
                lambda df: graph.pagerank_personalized(
                    graph.doc_term_edges(df),
                    f"node < {graph.TERM_NODE_OFFSET}",
                    3,
                ),
            ),
            graph.pagerank_personalized_oracle_sql(
                graph.doc_term_edges_oracle_sql("documents"),
                f"node < {graph.TERM_NODE_OFFSET}",
                3,
            ),
        ),
        # near-dup pairs -> connected components (cluster id = min doc_id)
        "dup_clusters_documents": (
            _table_query(
                "documents",
                lambda df: dedup.dup_clusters(
                    dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b")
                ),
            ),
            dedup.dup_clusters_oracle_sql(
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp"
            ),
        ),
        # per-node triangle counts over the same near-dup pair graph:
        # the local clustering signal that separates real dup cliques
        # (triangle-dense) from LSH-banding chain accidents (none) —
        # the pre-dedup QA reading beside the component ids above
        "triangle_counts_documents": (
            _table_query(
                "documents",
                lambda df: graph.triangle_counts(
                    dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b")
                ),
            ),
            graph.triangle_counts_oracle_sql(
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp"
            ),
        ),
        # the GLOBAL density fixed point beside those local signals:
        # k-core peel — a node survives only if k neighbours survive,
        # recursively, so chains/stars the banding strings together
        # cascade away and dup communities (cliques > k) remain.
        # k=2 here (cycles survive, trees peel away entirely): the
        # sf0.01 LSH pair graph has NO 3-core, which certified the
        # k=3 form vacuously (0 rows on both engines, r10 advice) —
        # k=2 keeps 3 survivors at test scale so the cross-engine
        # comparison exercises non-empty peel rounds
        "k_core_documents": (
            _table_query(
                "documents",
                lambda df: graph.k_core(
                    dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b"),
                    k=2,
                    rounds=6,
                ),
            ),
            graph.k_core_oracle_sql(
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp",
                k=2,
                rounds=6,
            ),
        ),
        # normalized form: the local clustering coefficient in ppm —
        # 1e6 ≈ clique member at ANY clique size, 0 ≈ bridge/accident
        "clustering_coefficient_documents": (
            _table_query(
                "documents",
                lambda df: graph.clustering_coefficient(
                    dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b")
                ),
            ),
            graph.clustering_coefficient_oracle_sql(
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp"
            ),
        ),
        # O(log n)-round star-contraction twin: identical output and
        # oracle, shape-robust (a 10^6-link chain converges in ~20
        # rounds where propagation needs 10^6)
        "dup_clusters_star_documents": (
            _table_query(
                "documents",
                lambda df: dedup.dup_clusters_star(
                    dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b")
                ),
            ),
            dedup.dup_clusters_oracle_sql(
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp"
            ),
        ),
        # exact per-column profile: nulls / distincts / canonical extremes
        # the profile for the SCHEMALESS part of the table: per-JSON-key
        # drift stats over events.props (new/nulled/re-typed keys)
        "json_profile_events": (
            _table_query("events", lambda df: profile_mod.json_profile(df)),
            profile_mod.json_profile_oracle_sql("events"),
        ),
        "profile_orders": (
            _table_query(
                "orders",
                lambda df: profile_mod.profile_table(df, TESTDATA_TABLES["orders"]),
            ),
            profile_mod.profile_table_oracle_sql("orders", TESTDATA_TABLES["orders"]),
        ),
        # Benford first-digit forensic screen (TPC-H prices are
        # range-uniform, so the deviation is large and non-trivial)
        "benford_audit_orders": (
            _table_query(
                "orders", lambda df: profile_mod.benford_audit(df, "o_totalprice")
            ),
            profile_mod.benford_audit_oracle_sql("orders", "o_totalprice"),
        ),
        # functional-dependency drift: o_custkey ->? o_orderstatus is
        # deliberately violated (customers hold orders in many states)
        "fd_check_orders": (
            _table_query(
                "orders",
                lambda df: profile_mod.fd_violations(df, "o_custkey", "o_orderstatus"),
            ),
            profile_mod.fd_violations_oracle_sql("orders", "o_custkey", "o_orderstatus"),
        ),
        # declarative data-quality constraint suite: all checks fused
        # into one aggregation pass (see operators/constraints.py)
        "constraint_report_orders": (
            _table_query(
                "orders",
                lambda df: constraints.constraint_report(df, _ORDERS_SUITE),
            ),
            constraints.constraint_report_oracle_sql("orders", _ORDERS_SUITE),
        ),
        # the report's row-level companion: the dead-letter split —
        # (pk, comma-joined failed checks) per violating row, for
        # routing bad records to a quarantine sink instead of failing
        # the batch; row checks fuse into one projection, unique checks
        # attribute duplicates via value-partitioned count windows
        "quarantine_rows_orders": (
            _table_query(
                "orders",
                lambda df: constraints.quarantine_rows(
                    df, _ORDERS_SUITE, ["o_orderkey"]
                ),
            ),
            constraints.quarantine_rows_oracle_sql(
                "orders", _ORDERS_SUITE, ["o_orderkey"]
            ),
        ),
        # character-level partial-overlap pairs (winnowing/MOSS shape:
        # catches a copied paragraph inside otherwise-different docs)
        "winnowing_pairs_documents": (
            _table_query("documents", lambda df: dedup.winnowing_pairs(df, 5)),
            dedup.winnowing_pairs_oracle_sql("documents", 5),
        ),
        # multi-signal near-dup: lexical LSH ∪ embedding LSH candidates,
        # each verified by its exact measure (paraphrases evade n-grams;
        # cross-language boilerplate evades embeddings)
        "semantic_dup_pairs_documents": (
            _two_table_query(
                "documents",
                "embeddings",
                lambda docs, embs: dedup.semantic_dup_pairs(docs, embs, 0.3, 0.4),
            ),
            dedup.semantic_dup_pairs_oracle_sql("documents", "embeddings", 0.3, 0.4),
        ),
        # per-document repeated-line removal (Gopher/C4 cleaning rule);
        # the corpus has no newlines, so build a liney twin on both
        # sides: first-40-chars line repeated front and back + sentence
        # breaks turned into lines
        "dedup_lines_documents": (
            _table_query(
                "documents",
                lambda df: text.dedup_lines(
                    df.selectExpr(
                        "doc_id",
                        "concat(substr(text, 1, 40), chr(10), "
                        "replace(text, '. ', concat('.', chr(10))), chr(10), "
                        "substr(text, 1, 40)) AS text",
                    )
                ),
            ),
            text.dedup_lines_oracle_sql(
                "(SELECT doc_id, substr(text, 1, 40) || chr(10) || "
                "replace(text, '. ', '.' || chr(10)) || chr(10) || "
                "substr(text, 1, 40) AS text FROM documents) liney"
            ),
        ),
        # CROSS-corpus line dedup (CCNet shape): testdata docs share no
        # literal lines, so the twin corpus injects what real web data
        # has — shared nav/footer boilerplate on a doc subset — plus
        # sentence lines; only each boilerplate line's globally-first
        # occurrence survives
        "corpus_dedup_lines_documents": (
            _table_query(
                "documents",
                lambda df: text.corpus_dedup_lines(
                    df.selectExpr(
                        "doc_id",
                        "concat("
                        "CASE WHEN doc_id % 11 = 0 THEN "
                        "concat('NAV | Home | About | Contact', chr(10)) ELSE '' END, "
                        "replace(text, '. ', concat('.', chr(10))), "
                        "CASE WHEN doc_id % 7 = 0 THEN "
                        "concat(chr(10), 'FOOTER: unsubscribe at example.invalid') "
                        "ELSE '' END) AS text",
                    )
                ),
            ),
            text.corpus_dedup_lines_oracle_sql(
                "(SELECT doc_id, "
                "CASE WHEN doc_id % 11 = 0 THEN "
                "'NAV | Home | About | Contact' || chr(10) ELSE '' END || "
                "replace(text, '. ', '.' || chr(10)) || "
                "CASE WHEN doc_id % 7 = 0 THEN "
                "chr(10) || 'FOOTER: unsubscribe at example.invalid' ELSE '' END "
                "AS text FROM documents) liney"
            ),
        ),
        # lexical-LSH quality gate: banded-candidate recall vs the
        # exhaustive Jaccard truth at the same threshold
        "lsh_recall_eval_documents": (
            _table_query("documents", lambda df: dedup.lsh_recall_eval(df, 0.5)),
            dedup.lsh_recall_eval_oracle_sql("documents", 0.5),
        ),
        # ANN quality gate: recall@k of the LSH index vs exact cosine
        "ann_recall_embeddings": (
            _table_query("embeddings", lambda df: similarity.ann_recall(df, qids, 10)),
            similarity.ann_recall_oracle_sql("embeddings", qids, 10),
        ),
        # the composed end product: multi-signal pairs -> clusters ->
        # surviving corpus, one call (what a pipeline user actually runs)
        "semantic_dedup_filter_documents": (
            _two_table_query(
                "documents",
                "embeddings",
                lambda docs, embs: dedup.semantic_dedup_filter(docs, embs, 0.3, 0.4),
            ),
            dedup.semantic_dedup_filter_oracle_sql("documents", "embeddings", 0.3, 0.4),
        ),
        # ingest-gate exact-substring probe: spans of the NEW batch
        # (doc_id%10=7) already present anywhere in the standing corpus
        # — the admission decision at ingest, corpus text never shuffled
        "incremental_repeated_spans_documents": (
            _table_query(
                "documents",
                lambda df: dedup.repeated_spans_vs_corpus(
                    df.filter("doc_id % 10 = 7"), df.filter("doc_id % 10 <> 7")
                ),
            ),
            dedup.repeated_spans_vs_corpus_oracle_sql(
                "SELECT * FROM documents WHERE doc_id % 10 = 7",
                "SELECT * FROM documents WHERE doc_id % 10 <> 7",
            ),
        ),
        # ingestion-time dedup: new batch (doc_id%10=7) vs standing corpus
        "incremental_dedup_documents": (
            _table_query(
                "documents",
                lambda df: dedup.cross_corpus_lsh_pairs(
                    df.filter("doc_id % 10 = 7"), df.filter("doc_id % 10 <> 7"), 0.3
                ),
            ),
            dedup.cross_corpus_lsh_pairs_oracle_sql(
                "SELECT * FROM documents WHERE doc_id % 10 = 7",
                "SELECT * FROM documents WHERE doc_id % 10 <> 7",
                0.3,
            ),
        ),
        # pairs -> clusters -> surviving corpus (the dedup END product)
        "near_dedup_filter_documents": (
            _table_query(
                "documents",
                lambda df: dedup.near_dedup_filter(
                    df, dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b")
                ),
            ),
            dedup.near_dedup_filter_oracle_sql(
                "documents",
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp",
            ),
        ),
        # quality-aware variant: the representative is the LONGEST
        # member of each duplicate cluster, not the smallest id
        "near_dedup_filter_best_documents": (
            _table_query(
                "documents",
                lambda df: dedup.near_dedup_filter_best(
                    df,
                    dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b"),
                    df.selectExpr("doc_id", "CAST(n_chars AS DOUBLE) AS score"),
                ),
            ),
            dedup.near_dedup_filter_best_oracle_sql(
                "documents",
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp",
                "SELECT doc_id, CAST(n_chars AS DOUBLE) AS score FROM documents",
            ),
        ),
        # exact-content dedup filter (keep min doc_id per distinct text)
        "exact_dedup_filter_documents": (
            _table_query(
                "documents",
                lambda df: dedup.exact_dedup_filter(
                    df.unionByName(
                        df.filter("doc_id % 10 = 0").selectExpr(
                            "doc_id + 1000000 AS doc_id", "text", "lang", "source", "n_chars"
                        )
                    )
                ),
            ),
            dedup.exact_dedup_filter_oracle_sql(
                "(SELECT * FROM documents UNION ALL "
                "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
                "FROM documents WHERE doc_id % 10 = 0)"
            ),
        ),
        "simhash_near_pairs_documents": (
            _table_query("documents", dedup.simhash_near_pairs),
            dedup.simhash_near_pairs_oracle_sql("documents"),
        ),
        "embedding_near_dups": (
            _table_query("embeddings", lambda df: dedup.embedding_near_dups(df, 0.4)),
            dedup.embedding_near_dups_oracle_sql("embeddings", 0.4),
        ),
        "embedding_near_dups_lsh": (
            _table_query("embeddings", lambda df: dedup.embedding_near_dups_lsh(df, 0.4)),
            dedup.embedding_near_dups_lsh_oracle_sql("embeddings", 0.4),
        ),
        # ingestion-time embedding dedup: new batch vs standing corpus
        # via nprobe nearest IVF cells (semantic twin of incremental_dedup)
        "embedding_ingest_dedup_embeddings": (
            _table_query(
                "embeddings",
                lambda df: similarity.cross_corpus_ivf_pairs(
                    df.filter("vec_id % 10 = 7"),
                    df.filter("vec_id % 10 <> 7"),
                    0.4,
                    2,
                ),
            ),
            similarity.cross_corpus_ivf_pairs_oracle_sql(
                "(SELECT * FROM embeddings WHERE vec_id % 10 = 7)",
                "(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)",
                0.4,
                2,
            ),
        ),
        # similarity search
        "cosine_topk_embeddings": (
            _table_query("embeddings", lambda df: similarity.cosine_topk(df, qids, 10)),
            similarity.cosine_topk_oracle_sql("embeddings", qids, 10),
        ),
        "hyperplane_buckets_embeddings": (
            _table_query("embeddings", similarity.hyperplane_buckets),
            similarity.hyperplane_buckets_oracle_sql("embeddings"),
        ),
        "ann_lsh_topk_embeddings": (
            _table_query("embeddings", lambda df: similarity.ann_lsh_topk(df, qids, 10)),
            similarity.ann_lsh_topk_oracle_sql("embeddings", qids, 10),
        ),
        "ivf_assign_embeddings": (
            _table_query("embeddings", similarity.ivf_assign),
            similarity.ivf_assign_oracle_sql("embeddings"),
        ),
        "ivf_topk_embeddings": (
            _table_query("embeddings", lambda df: similarity.ivf_topk(df, qids, 10, 2)),
            similarity.ivf_topk_oracle_sql("embeddings", qids, 10, 2),
        ),
        # learned-centroid companion to the fixed IVF quantizer
        "kmeans_assign_embeddings": (
            _table_query("embeddings", lambda df: similarity.kmeans_assign(df, 8, 2)),
            similarity.kmeans_assign_oracle_sql("embeddings", 8, 2),
        ),
        # curation gate: quality + length + digit-spam + language filter
        "quality_filter_documents": (
            _table_query(
                "documents",
                lambda df: text.quality_filter(df, 0.5, 10, 0.3, ("en", "de")),
            ),
            text.quality_filter_oracle_sql("documents", 0.5, 10, 0.3, ("en", "de")),
        ),
        # model-free text -> vector path (signed hashing trick)...
        # (array flattened to a joined string at the registry boundary:
        # the driver's pandas canon crashes on list cells — r04 `err`;
        # the array-valued hashed_vectors stays the library API)
        "hashed_vectors_documents": (
            _table_query(
                "documents",
                lambda df: text.hashed_vectors(df, 64).selectExpr(
                    "doc_id",
                    "array_join(CAST(vec AS ARRAY<STRING>), ',') AS vec",
                ),
            ),
            "SELECT doc_id, array_to_string(vec, ',') AS vec FROM ("
            + text.hashed_vectors_oracle_sql("documents", 64)
            + ") hv",
        ),
        # ...composed straight into the embedding ANN family: exact
        # cosine top-k over vectors derived from raw text, no model.
        # Perf floor note (r9, VERDICT item 7): the plan was read and
        # is already the right shape — the query-side IN filter reaches
        # the parquet scan, the 64-dim fold is computed once per side
        # (the join boundary stops CollapseProject re-inlining), and
        # InferWindowGroupLimit caps the shuffle at k rows/partition.
        # The remaining ~2x vs DuckDB at sf0.1 (0.9 s vs 0.42 s steady)
        # is lambda-expression evaluation constants (zip_with/aggregate
        # per element) against DuckDB's vectorized list kernels; a
        # driver-literal query side was measured SLOWER (1.05 s).
        # Scales scan-bound like every single-pass text op.
        "hashed_text_topk_documents": (
            _table_query(
                "documents",
                lambda df: similarity.cosine_topk(
                    text.hashed_vectors(df, 64).selectExpr(
                        "doc_id AS vec_id",
                        "transform(vec, v -> CAST(v AS DOUBLE)) AS embedding",
                    ),
                    qids,
                    5,
                ),
            ),
            similarity.cosine_topk_oracle_sql(
                "(SELECT doc_id AS vec_id, "
                "list_transform(vec, v -> CAST(v AS DOUBLE)) AS embedding FROM ("
                + text.hashed_vectors_oracle_sql("documents", 64)
                + ") hv)",
                qids,
                5,
            ),
        ),
        # Gopher composite gate with per-rule attribution (thresholds
        # tuned so several rules fire on the synthetic corpus: token
        # floor, stopword floor, diversity floor, repetition caps)
        "gopher_gate_documents": (
            _table_query(
                "documents",
                lambda df: text.gopher_gate(
                    df, min_tokens=20, max_tokens=10_000,
                    min_stopword_ratio=0.01,
                ),
            ),
            text.gopher_gate_oracle_sql(
                "documents", min_tokens=20, max_tokens=10_000,
                min_stopword_ratio=0.01,
            ),
        ),
        # deterministic curation sampling + corpus stats
        "stratified_sample_documents": (
            _table_query(
                "documents",
                lambda df: sample.stratified_sample(
                    df, "doc_id", "lang", {"en": 0.5, "de": 1.0, "fr": 0.25}, 0.1
                ),
            ),
            sample.stratified_sample_oracle_sql(
                "documents", "doc_id", "lang", {"en": 0.5, "de": 1.0, "fr": 0.25}, 0.1
            ),
        ),
        # importance-weighted Bernoulli sample (length-proportional
        # inclusion, integer-exact thresholds, Horvitz-Thompson
        # incl_ppm emitted per kept row for unbiased reweighting)
        "weighted_sample_documents": (
            _table_query(
                "documents",
                lambda df: sample.weighted_sample(df, "doc_id", "n_chars", 150),
            ),
            sample.weighted_sample_oracle_sql(
                "documents", "doc_id", "n_chars", 150,
                ("doc_id", "text", "lang", "source", "n_chars"),
            ),
        ),
        # fixed-size per-group panel (k per event_type, content-hash rank)
        "reservoir_sample_events": (
            _table_query(
                "events",
                lambda df: sample.reservoir_sample(df, "event_id", "event_type", 20)
                .select("event_id", "user_id", "event_type", "value"),
            ),
            sample.reservoir_sample_oracle_sql(
                "events", "event_id", "event_type", 20,
                ("event_id", "user_id", "event_type", "value"),
            ),
        ),
        "topk_ngrams_documents": (
            _table_query("documents", lambda df: text.topk_ngrams(df, 3, 50)),
            text.topk_ngrams_oracle_sql("documents", 3, 50),
        ),
        # time-series rollup (batch twin of streaming/incremental.py)
        "hourly_rollup_events": (
            _table_query("events", rollup.hourly_rollup),
            rollup.hourly_rollup_oracle_sql("events"),
        ),
        # dense resample: every hour in range exists, zero-filled
        "fill_gaps_hourly_events": (
            _table_query("events", rollup.fill_gaps_hourly),
            rollup.fill_gaps_hourly_oracle_sql("events"),
        ),
        # Morton / Z-order clustering key over (user_id, value) — the
        # layout primitive behind write_zordered (sources/zorder.py):
        # sorting on this key gives parquet footer min/max pruning on
        # BOTH columns at once (Delta OPTIMIZE ZORDER semantics).  The
        # key itself is the certified part: quantize (IEEE double +
        # floor) then a 24-term BIGINT shift/mask interleave, identical
        # in both engines; pruning effectiveness is measured from real
        # row-group stats in tests/test_zorder.py.
        "zorder_key_events": (
            _table_query(
                "events",
                lambda df: zorder.with_zorder_key(df, ["user_id", "value"], 12)
                .select("event_id", "zkey"),
            ),
            "SELECT event_id, "
            + zorder.zorder_key_sql(
                ["user_id", "value"],
                {"user_id": ("zmin_user_id", "zmax_user_id"),
                 "value": ("zmin_value", "zmax_value")},
                12,
                DIALECT_DUCKDB,
            )
            + " AS zkey FROM events CROSS JOIN "
            "(SELECT CAST(min(user_id) AS DOUBLE) AS zmin_user_id, "
            "CAST(max(user_id) AS DOUBLE) AS zmax_user_id, "
            "CAST(min(value) AS DOUBLE) AS zmin_value, "
            "CAST(max(value) AS DOUBLE) AS zmax_value FROM events) b",
        ),
        # storage maintenance (sources/maintain.py): targeted delete —
        # right-to-be-forgotten against a key-clustered copy of orders;
        # footer-stats pruning rewrites only the files whose id range
        # admits a match, everything else stays physically untouched
        # (tests/test_maintain.py asserts by mtime).  Memoized copy per
        # sf_dir; the delete is idempotent so min-of-two bench re-runs
        # time a steady-state maintenance pass.
        "targeted_delete_orders": (
            _targeted_delete_run,
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
            "FROM orders WHERE o_orderkey % 1000 <> 7",
        ),
        # the manifest-native audit of that takedown: diff the previous
        # committed generation against the current one (grace-window
        # time travel — no pre-write snapshot anywhere) and get exactly
        # the removed rows; a content-preserving commit (compaction)
        # audits to zero rows, pinned in tests/test_maintain.py
        "generation_diff_orders": (
            _generation_diff_run,
            row_diff_oracle_sql(
                "orders",
                "(SELECT * FROM orders WHERE o_orderkey % 1000 <> 7) gd",
                TESTDATA_TABLES["orders"],
            ),
        ),
        # time-travel read AS OF the pre-delete manifest: after the
        # takedown commits, the previous generation must still read
        # back as the PRISTINE table (grace-window snapshot isolation —
        # the reader-vs-vacuum contract of snapshot-isolated formats)
        "timetravel_read_orders": (
            _timetravel_read_run,
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
            "FROM orders",
        ),
        # footer-only schema-drift audit: per column x type, how many
        # files carry it (dropped/added/type-conflict classes) — zero
        # data pages read, distributed over the file list
        "schema_drift_orders": (
            _schema_drift_run,
            _SCHEMA_DRIFT_ORACLE,
        ),
        # small-file compaction: 32 ingest-sized files -> right-sized
        # ones, content-identical; files already big are never read
        "compact_files_events": (
            _compact_files_run,
            "SELECT event_id, user_id, event_type, value FROM events",
        ),
        # the full deletion protocol with audit: footer-pruned delete of
        # a key block + snapshot splice of only the touched partition +
        # verify-against-snapshot proving everything else bit-unchanged;
        # the certified relation is the updated (part, fp) state itself
        "verified_delete_orders": (
            _verified_delete_run,
            partitioned_fingerprint_oracle_sql(
                "(SELECT * FROM orders WHERE o_orderkey NOT BETWEEN "
                f"{_VDEL_LO} AND {_VDEL_HI}) t",
                TESTDATA_TABLES["orders"],
                partition_sql=f"o_orderkey // {_VDEL_PART_W}",
            ),
        ),
        # retry-burst collapse (4 h window: ~2 % of testdata gaps)
        "debounce_events": (
            _table_query(
                "events", lambda df: rollup.debounce(df, 4 * 3600 * 1_000_000)
            ),
            rollup.debounce_oracle_sql("events", 4 * 3600 * 1_000_000),
        ),
        "daily_rollup_events": (
            _table_query("events", rollup.daily_rollup),
            rollup.daily_rollup_oracle_sql("events"),
        ),
        "sessionize_events": (
            _table_query("events", rollup.sessionize),
            rollup.sessionize_oracle_sql("events"),
        ),
        # SCD2 build from the change log: per-user consecutive-type runs
        # as validity intervals (valid_to = next run's start, NULL open)
        # — "what was true when", as-of-joinable; one user_id exchange
        "scd2_intervals_events": (
            _table_query("events", rollup.scd2_intervals),
            rollup.scd2_intervals_oracle_sql("events"),
        ),
        # point-in-time enrichment against that Type-2 dimension: what
        # account state (signup/error run) was each purchasing user in
        # at purchase time — the leakage-free feature-backfill join;
        # probes before any state keep NULL columns
        "scd2_point_in_time_events": (
            _table_query("events", rollup.scd2_point_in_time),
            rollup.scd2_point_in_time_oracle_sql("events"),
        ),
        # the 100 TB skew variants: per-(user, week-block) pre-split +
        # boundary merge — output proven IDENTICAL by sharing the
        # single-pass operator's oracle (3-day blocks so boundary merges
        # actually fire at sf0.01's ~5-month span)
        "sessionize_scalable_events": (
            _table_query(
                "events",
                lambda df: rollup.sessionize_scalable(
                    df, block_us=3 * 86_400_000_000
                ),
            ),
            rollup.sessionize_oracle_sql("events"),
        ),
        "debounce_scalable_events": (
            _table_query(
                "events",
                lambda df: rollup.debounce_scalable(
                    df, 4 * 3600 * 1_000_000, block_us=3 * 86_400_000_000
                ),
            ),
            rollup.debounce_oracle_sql("events", 4 * 3600 * 1_000_000),
        ),
        # session path analysis: event-type transition matrix
        "event_transitions_events": (
            _table_query("events", rollup.event_transitions),
            rollup.event_transitions_oracle_sql("events"),
        ),
        # training-data prep: chunking, concat-and-cut packing, splits
        "chunk_documents": (
            _table_query("documents", lambda df: prep.chunk_documents(df, 200, 20)),
            prep.chunk_documents_oracle_sql("documents", 200, 20),
        ),
        "pack_sequences_documents": (
            _table_query("documents", lambda df: prep.pack_sequences(df, 512)),
            prep.pack_sequences_oracle_sql("documents", 512),
        ),
        # curriculum scheduling: pack within Gopher-fail-count buckets
        "curriculum_pack_documents": (
            _table_query("documents", lambda df: prep.curriculum_pack(df, 512)),
            prep.curriculum_pack_oracle_sql("documents", 512),
        ),
        # method-agreement matrix across the lexical near-dup family
        "dedup_agreement_report_documents": (
            _table_query("documents", dedup.dedup_agreement_report),
            dedup.dedup_agreement_report_oracle_sql("documents"),
        ),
        # eval-integrity split: near-dup clusters never straddle splits
        "leakage_safe_split_documents": (
            _table_query(
                "documents",
                lambda df: prep.leakage_safe_split(
                    df, dedup.minhash_lsh_pairs(df, 0.3).select("doc_a", "doc_b")
                ),
            ),
            prep.leakage_safe_split_oracle_sql(
                "documents",
                "SELECT doc_a, doc_b FROM ("
                + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
                + ") mp",
            ),
        ),
        # token-budget mixture (mixes are specified in tokens, not docs)
        "token_mixture_sample_documents": (
            _table_query(
                "documents",
                lambda df: sample.token_mixture_sample(
                    df, "doc_id", "source", "text", _MIX_WEIGHTS, 0.5
                ),
            ),
            sample.token_mixture_sample_oracle_sql(
                "documents", "doc_id", "source", "text", _MIX_WEIGHTS, 0.5
            ),
        ),
        "hash_split_documents": (
            _table_query("documents", prep.hash_split),
            prep.hash_split_oracle_sql("documents"),
        ),
        # token-balanced sharding via two-pass distributed global rank
        "assign_shards_documents": (
            _table_query("documents", lambda df: prep.assign_shards(df, 8)),
            prep.assign_shards_oracle_sql("documents", 8),
        ),
        # per-shard delivery manifest: (shard, n_docs, n_tokens,
        # additive fp) — the contract a training-data consumer verifies
        # before trusting a shard set (verify_shard_manifest is the
        # consumer side; tests corrupt a shard and watch it flag)
        "shard_manifest_documents": (
            _table_query("documents", lambda df: prep.shard_manifest(df, 8)),
            prep.shard_manifest_oracle_sql("documents", 8),
        ),
        # target-mixture corpus sampling (rates derived from counts)
        "mixture_sample_documents": (
            _table_query(
                "documents",
                lambda df: sample.mixture_sample(
                    df, "doc_id", "source", _MIX_WEIGHTS, 0.05
                ),
            ),
            sample.mixture_sample_oracle_sql(
                "documents", "doc_id", "source", _MIX_WEIGHTS, 0.05
            ),
        ),
        # per-supplier revenue leaderboard (aggregate-then-rank)
        "grouped_topk_revenue_lineitem": (
            _table_query("lineitem", lambda df: topk_mod.grouped_topk_revenue(df, 3)),
            topk_mod.grouped_topk_revenue_oracle_sql("lineitem", 3),
        ),
        # equi-depth histogram of order totals (exact ntile baseline)
        # equi-WIDTH companion: equal value-range bins (shape view —
        # a heavy tail is one overfull first bin) beside equi-depth's
        # quantile view; min/max broadcast, one bucket-keyed aggregate
        "equiwidth_histogram_orders": (
            _table_query(
                "orders",
                lambda df: topk_mod.equiwidth_histogram(df, "o_totalprice", 16),
            ),
            topk_mod.equiwidth_histogram_oracle_sql("orders", "o_totalprice", 16),
        ),
        "equidepth_histogram_orders": (
            _table_query("orders", lambda df: topk_mod.equidepth_histogram(df, "o_totalprice", 10)),
            topk_mod.equidepth_histogram_oracle_sql("orders", "o_totalprice", 10),
        ),
        # skew-spread big-big join: revenue per priority via salted_join
        # (row-equal to the plain join; oracle runs the unsalted SQL)
        "salted_join_revenue": (
            _salted_revenue_spark,
            _SALTED_REVENUE_ORACLE,
        ),
        # weekly cohort retention matrix
        "cohort_retention_events": (
            _table_query("events", trend.cohort_retention),
            trend.cohort_retention_oracle_sql("events"),
        ),
        # trailing 3h moving average over the hourly series
        "moving_average_events": (
            _table_query("events", lambda df: trend.moving_average(df, 3)),
            trend.moving_average_oracle_sql("events", 3),
        ),
        # z-score outlier days from DECIMAL-exact moments
        "daily_anomalies_events": (
            _table_query("events", lambda df: trend.daily_anomalies(df, 1.5)),
            trend.daily_anomalies_oracle_sql("events", 1.5),
        ),
        # least-squares slope of each type's daily series (exact moments)
        "daily_trend_slope_events": (
            _table_query("events", trend.daily_trend_slope),
            trend.daily_trend_slope_oracle_sql("events"),
        ),
        # two-sided CUSUM drift monitor (Page 1954): the clamped
        # recursion expressed as prefix-sum minus running-min, all
        # BIGINT; full trajectory certified, not just alarms
        "cusum_changepoints_events": (
            _table_query("events", trend.cusum_changepoints),
            trend.cusum_changepoints_oracle_sql("events"),
        ),
        # ordered-step funnel, 24h max gap between steps (discriminating
        # at sf0.01: 150 -> 60 -> 25 users)
        "funnel_events": (
            _table_query(
                "events", lambda df: funnel_mod.funnel(df, max_gap_us=86_400_000_000)
            ),
            funnel_mod.funnel_oracle_sql("events", max_gap_us=86_400_000_000),
        ),
        # the funnel's timing companion: per-transition conversion
        # latency (n, min/mean/max us, mean = BIGINT floor) for users
        # who reached the next step — same anchored fold, now carrying
        # each reached step's timestamp
        "funnel_latency_events": (
            _table_query(
                "events",
                lambda df: funnel_mod.funnel_latency(df, max_gap_us=86_400_000_000),
            ),
            funnel_mod.funnel_latency_oracle_sql("events", max_gap_us=86_400_000_000),
        ),
        # last-touch attribution: every purchase credited to the most
        # recent preceding view/click by the same user within 7 days
        # (NULL touch columns = the "direct" bucket) — one user_id
        # exchange, running ignore-nulls last over (us, event_id)
        "attribution_events": (
            _table_query("events", funnel_mod.attribute_conversions),
            funnel_mod.attribute_conversions_oracle_sql("events"),
        ),
        # linear multi-touch companion: every in-window touch shares
        # the conversion's credit (weight_ppm = 1e6 div n_touches,
        # integer floor) — user_id equi-join with the time window as a
        # co-partitioned residual, touch count riding a same-partition
        # window over the pair relation
        "attribution_multi_touch_events": (
            _table_query("events", funnel_mod.attribute_multi_touch),
            funnel_mod.attribute_multi_touch_oracle_sql("events"),
        ),
        # position-based (U-shaped) third model: first/last 40% each,
        # middles share 20% (floor ppm); ranks ride two windows over
        # the SAME conv-partitioned pair relation — no extra exchange
        "attribution_position_events": (
            _table_query("events", funnel_mod.attribute_position),
            funnel_mod.attribute_position_oracle_sql("events"),
        ),
        # the channel dashboard composing all three models: last-touch
        # wins + linear/U credit sums + latency profile per touch type
        "attribution_report_events": (
            _table_query("events", funnel_mod.attribution_report),
            funnel_mod.attribution_report_oracle_sql("events"),
        ),
        # as-of join: probe = every 7th event's own timestamp; output in
        # epoch-us (ts is bigint nanos in Spark, TIMESTAMP_NS in DuckDB)
        "asof_join_events": (
            _asof_spark,
            _asof_oracle_sql(),
        ),
        # per-language exact length percentiles
        "length_percentiles_documents": (
            _table_query("documents", text.length_percentiles),
            text.length_percentiles_oracle_sql("documents"),
        ),
        # domain-mix subtotals in one CUBE aggregation
        "corpus_mix_report_documents": (
            _table_query("documents", text.corpus_mix_report),
            text.corpus_mix_report_oracle_sql("documents"),
        ),
        # per-document characteristic terms (rational TF-IDF, window top-k)
        "tfidf_top_terms_documents": (
            _table_query("documents", text.tfidf_top_terms),
            text.tfidf_top_terms_oracle_sql("documents"),
        ),
        # tokenizer vocab sizing: top-V words + cumulative coverage
        "vocab_coverage_documents": (
            _table_query("documents", text.vocab_coverage),
            text.vocab_coverage_oracle_sql("documents"),
        ),
        # tokenizer training: first BPE iteration (adjacent char-pair
        # counts weighted by word frequency; vocab-sized shuffles only)
        "bpe_pair_counts_documents": (
            _table_query("documents", lambda df: bpe.bpe_pair_counts(df, 50)),
            bpe.bpe_pair_counts_oracle_sql("documents", 50),
        ),
        # tokenizer APPLY: tokenize the corpus with a shipped merge
        # table (the third BPE stage: counts -> learn -> apply).  The
        # merge table is a static artifact frozen from an offline
        # sf0.001 bpe_learn run — deliberately including the
        # second-level merge ('p','ar') so multi-char symbol
        # application is exercised on both twins.
        "bpe_apply_documents": (
            _table_query(
                "documents",
                lambda df: bpe.bpe_apply_tokens(df, _BPE_SHIPPED_MERGES),
            ),
            bpe.bpe_apply_tokens_oracle_sql("documents", _BPE_SHIPPED_MERGES),
        ),
        # learn->apply->DETOKENIZE identity over the same shipped merge
        # table, certified end-to-end (r10 VERDICT item 4): one audit
        # row whose n_roundtrip_fail must be 0 on BOTH engines — a
        # silent tokenizer bug corrupts every downstream token count,
        # and the family's pieces were certified separately but never
        # composed
        "bpe_roundtrip_documents": (
            _table_query(
                "documents",
                lambda df: bpe.bpe_roundtrip(df, _BPE_SHIPPED_MERGES),
            ),
            bpe.bpe_roundtrip_oracle_sql("documents", _BPE_SHIPPED_MERGES),
        ),
        # per-document token budget under the same shipped merge table
        # (vocabulary-sized merge work, broadcast join back to the
        # corpus word stream)
        "bpe_token_counts_documents": (
            _table_query(
                "documents",
                lambda df: bpe.bpe_token_counts(df, _BPE_SHIPPED_MERGES),
            ),
            bpe.bpe_token_counts_oracle_sql("documents", _BPE_SHIPPED_MERGES),
        ),
        # concat-and-cut packing measured in BPE tokens, the unit real
        # pipelines pack by (pack_sequences' whitespace twin misfills
        # bins whenever tokenizer fertility differs from 1 token/word)
        "bpe_pack_sequences_documents": (
            _table_query(
                "documents",
                lambda df: bpe.bpe_pack_sequences(df, _BPE_SHIPPED_MERGES, 512),
            ),
            bpe.bpe_pack_sequences_oracle_sql(
                "documents", _BPE_SHIPPED_MERGES, 512
            ),
        ),
        # corpus-trained bigram-LM fluency scores (integer-quantized
        # conditional probabilities — no transcendentals cross-engine).
        # The model is trained once per sf_dir and stored
        # (_lm_scores_stored), so repeated calls time tokenize + score
        # against the stored model — the "built offline once" deploy
        # shape; bench.py's probe twin materializes the DuckDB model
        # the same way (r5 VERDICT item 3).
        "bigram_lm_scores_documents": (
            _lm_scores_stored,
            lm.bigram_lm_scores_oracle_sql("documents"),
        ),
        # PII scrub over documents + injected contact strings (the raw
        # corpus is PII-free, so every 50th doc gets a synthetic email/
        # url/ip/phone appended on both sides)
        "scrub_pii_documents": (
            _table_query(
                "documents",
                lambda df: text.scrub_pii(
                    df.unionByName(
                        df.filter("doc_id % 50 = 0").selectExpr(
                            "doc_id + 3000000 AS doc_id",
                            "concat(text, ' mail bob', CAST(doc_id AS STRING), "
                            "'@example.com via https://ex.com/', CAST(doc_id AS STRING), "
                            "' ip 10.0.0.', CAST(doc_id % 256 AS STRING), "
                            "' tel +1415555', CAST(1000 + doc_id % 9000 AS STRING)) AS text",
                            "lang", "source", "n_chars",
                        )
                    )
                ),
            ),
            text.scrub_pii_oracle_sql(
                "(SELECT * FROM documents UNION ALL "
                "SELECT doc_id + 3000000 AS doc_id, "
                "text || ' mail bob' || CAST(doc_id AS VARCHAR) || "
                "'@example.com via https://ex.com/' || CAST(doc_id AS VARCHAR) || "
                "' ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
                "' tel +1415555' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text, "
                "lang, source, n_chars FROM documents WHERE doc_id % 50 = 0) u"
            ),
        ),
        # web-corpus HTML stripping (raw docs are markup-free, so every
        # 7th doc gets wrapped in a real page skeleton on both sides)
        "strip_html_documents": (
            _table_query(
                "documents",
                lambda df: text.strip_html(
                    df.selectExpr(
                        "doc_id",
                        "CASE WHEN doc_id % 7 = 0 THEN concat("
                        "'<html><head><title>T</title><style>p{color:red}</style>"
                        "<script>var x=1;</script></head><body><p>', "
                        "replace(text, '. ', '.</p> <p>'), "
                        "'</p> &amp; &lt;EOF&gt;<!-- c --></body></html>') "
                        "ELSE text END AS text",
                    )
                ),
            ),
            text.strip_html_oracle_sql(
                "(SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN "
                "'<html><head><title>T</title><style>p{color:red}</style>"
                "<script>var x=1;</script></head><body><p>' || "
                "replace(text, '. ', '.</p> <p>') || "
                "'</p> &amp; &lt;EOF&gt;<!-- c --></body></html>' "
                "ELSE text END AS text FROM documents) pages"
            ),
        ),
        # light unicode normalization (ASCII corpus, so every 9th doc
        # gets an accented/smart-punctuation tail on both sides)
        "normalize_unicode_documents": (
            _table_query(
                "documents",
                lambda df: text.normalize_unicode_light(
                    df.selectExpr(
                        "doc_id",
                        "CASE WHEN doc_id % 9 = 0 THEN concat(text, "
                        "' Café – “naïve” Œuvre straße…') ELSE text END AS text",
                    )
                ),
            ),
            text.normalize_unicode_light_oracle_sql(
                "(SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN "
                "text || ' Café – “naïve” Œuvre straße…' "
                "ELSE text END AS text FROM documents) accented"
            ),
        ),
        # the composed curation FLAGSHIP: the full raw-pages -> training
        # -ready pipeline in one call/plan (see _curate_corpus_run).
        # Bench note: ~8 persisted stages in sequence mean the sf0.1
        # wall time is ~8 stage constants + real work (~8 s vs the
        # oracle's ~2.7 s); the dominant stages (LSH dedup, gate,
        # fingerprint-class scans) are the family SCALE_CHECK.md shows
        # widening Spark's lead as data grows.
        "curate_corpus_documents": (
            _curate_corpus_run,
            _curate_corpus_oracle_sql(),
        ),
        # the flagship's accounting twin: stage funnel (docs/tokens
        # surviving gate -> exact dedup -> near dedup -> decon) +
        # per-split totals, every row one aggregate over a relation the
        # pipeline already persists (zero extra corpus exchanges)
        "curate_corpus_report_documents": (
            _curate_corpus_report_run,
            _curate_corpus_report_oracle_sql(),
        ),
        # per-DOCUMENT drop attribution — the row-level companion of
        # the funnel report: every document the pipeline removed, with
        # the FIRST stage that dropped it (gate / exact_dedup /
        # near_dedup / eval_split / decontaminated) — the audit trail a
        # pipeline debugger asks for ("why is doc X missing?").  Pure
        # ids-only anti-joins between stages the session-memoized
        # pipeline already persists — zero extra corpus exchanges.
        "curation_audit_documents": (
            _curation_audit_run,
            _curation_audit_oracle_sql(),
        ),
        # the composed curation FRONT-END a web pipeline actually runs:
        # page -> strip_html -> normalize_unicode -> Gopher gate, one
        # call end-to-end (oracle = the same three stages nested in SQL)
        "clean_web_corpus_documents": (
            _table_query(
                "documents",
                lambda df: text.gopher_gate(
                    text.normalize_unicode_light(
                        text.strip_html(
                            df.selectExpr("doc_id", _WEB_WRAP_SPARK)
                        ).selectExpr("doc_id", "clean_text AS text")
                    ).selectExpr("doc_id", "norm_text AS text"),
                    min_tokens=20, max_tokens=10_000, min_stopword_ratio=0.01,
                ),
            ),
            text.gopher_gate_oracle_sql(
                "(SELECT doc_id, norm_text AS text FROM ("
                + text.normalize_unicode_light_oracle_sql(
                    "(SELECT doc_id, clean_text AS text FROM ("
                    + text.strip_html_oracle_sql(f"({_WEB_WRAP_DUCK}) pages")
                    + ") stripped)"
                )
                + ") normed) cleaned",
                min_tokens=20, max_tokens=10_000, min_stopword_ratio=0.01,
            ),
        ),
        # corpus length distribution (exact fixed-width buckets)
        "length_histogram_documents": (
            _table_query("documents", text.length_histogram),
            text.length_histogram_oracle_sql("documents"),
        ),
        # interval join: per-day 06:00-07:30 windows (span two hour
        # buckets, so the interval index genuinely multi-buckets)
        "interval_join_rollup_events": (
            _interval_spark,
            _interval_oracle_sql(),
        ),
        # Johnson-Lindenstrauss Rademacher projection (4x dim reduction,
        # zero exchanges; bit-identical explicit sums cross-engine)
        # (array flattened to scalar columns: the driver's value-hash
        # compares scalars robustly; array rendering differs per engine)
        "random_project_embeddings": (
            _table_query(
                "embeddings",
                lambda df: similarity.random_project(df).selectExpr(
                    "vec_id",
                    *[
                        f"element_at(rp, {j + 1}) AS rp_{j}"
                        for j in range(similarity.RP_DIM)
                    ],
                ),
            ),
            "SELECT vec_id, "
            + ", ".join(
                f"rp[{j + 1}] AS rp_{j}" for j in range(similarity.RP_DIM)
            )
            + f" FROM ({similarity.random_project_oracle_sql('embeddings')}) t",
        ),
        # mislabeled-embedding QA: per-label prototype + farthest members
        "label_outliers_embeddings": (
            _table_query("embeddings", similarity.label_prototype_outliers),
            similarity.label_prototype_outliers_oracle_sql("embeddings"),
        ),
        # distributed-PCA phase 1: constant-output gramian aggregation
        # over integer-quantized embeddings (exact int64 sums)
        "gramian_embeddings": (
            _table_query("embeddings", decompose.gramian),
            decompose.gramian_oracle_sql("embeddings"),
        ),
        # int8 scalar quantization (4x memory) + quantized cosine top-k
        "quantize_int8_embeddings": (
            _table_query(
                "embeddings",
                lambda df: quantize.quantize_int8(df).selectExpr(
                    "vec_id", "scale", "CAST(qvec AS STRING) AS qvec", "qnorm2"
                ),
            ),
            "SELECT vec_id, scale, CAST(qvec AS VARCHAR) AS qvec, qnorm2 FROM ("
            + quantize.quantize_int8_oracle_sql("embeddings")
            + ") q",
        ),
        "quantized_topk_embeddings": (
            _table_query("embeddings", lambda df: quantize.quantized_topk(df, qids, 10)),
            quantize.quantized_topk_oracle_sql("embeddings", qids, 10),
        ),
        # blocked fuzzy join (record linkage) on a 1/10 deterministic
        # sample of part names; hot-block cap drops stopword-like tokens
        "fuzzy_join_pairs_part": (
            _table_query(
                "part",
                lambda df: linkage.fuzzy_join_pairs(
                    df.filter("p_partkey % 10 = 0"), "p_partkey", "p_name", 2,
                    max_block_freq=25,
                ),
            ),
            linkage.fuzzy_join_pairs_oracle_sql(
                "part", "p_partkey", "p_name", 2, max_block_freq=25,
                where="p_partkey % 10 = 0",
            ),
        ),
        # mergeable KMV distinct sketches (cross-engine exact, unlike the
        # engines' BUILT-IN HLLs — see hll_distinct below, which pins the
        # hash/register map to get the same property out of HyperLogLog)
        "kmv_distinct_documents": (
            _table_query("documents", lambda df: sketch.kmv_sketch(df, "text", "lang", 64)),
            sketch.kmv_sketch_oracle_sql("documents", "text", "lang", 64),
        ),
        "kmv_distinct_events": (
            _table_query(
                "events", lambda df: sketch.kmv_sketch(df, "user_id", "event_type", 32)
            ),
            sketch.kmv_sketch_oracle_sql("events", "user_id", "event_type", 32),
        ),
        # HyperLogLog with a pinned hash + register map: fixed m-register
        # state per group (vs KMV's k hashes), element-wise-max merge,
        # and an exact BIGINT register_sum identity both engines agree
        # on bit-for-bit (operators/sketch.py docstring).  Two entries
        # exercise BOTH estimator branches at sf0.01: orders' ~1k
        # distinct custkeys per priority take the raw-HLL arm; the
        # by-day user counts (~tens per day, most registers empty) take
        # the linear-counting arm.
        "hll_distinct_orders": (
            _table_query(
                "orders",
                lambda df: sketch.hll_distinct(df, "o_custkey", "o_orderpriority"),
            ),
            sketch.hll_distinct_oracle_sql("orders", "o_custkey", "o_orderpriority"),
        ),
        # register-only audience overlap: clicking vs purchasing users
        # intersected by inclusion-exclusion over max-merged registers
        # — any two STORED segments intersect after the fact (no
        # re-scan), the trade vs kmv_overlap's tighter direct estimate
        "hll_overlap_events": (
            _table_query(
                "events",
                lambda df: sketch.hll_overlap(
                    df.filter("event_type IN ('click', 'purchase')"),
                    "user_id",
                    "CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END",
                ),
            ),
            sketch.hll_overlap_oracle_sql(
                "(SELECT * FROM events WHERE event_type IN ('click', 'purchase')) e",
                "user_id",
                "CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END",
            ),
        ),
        "hll_distinct_daily_events": (
            _table_query(
                "events",
                lambda df: sketch.hll_distinct(
                    df, "user_id", timecol.bucket_sql(df, timecol.US_PER_DAY)
                ),
            ),
            sketch.hll_distinct_oracle_sql(
                "events", "user_id", timecol.duck_bucket_sql(timecol.US_PER_DAY)
            ),
        ),
        # the metric exact daily rollups CANNOT produce: trailing 7-day
        # distinct users per day (WAU) — per-day registers fan out via
        # explode (LINEAR in registers, not a quadratic day x register
        # range join) and max-merge per window day
        "hll_trailing_wau_events": (
            _table_query("events", rollup.hll_trailing_distinct),
            rollup.hll_trailing_distinct_oracle_sql("events"),
        ),
        # the p50/p99 sibling of that WAU: trailing 7-day quantiles of
        # value per day from the same pure-predicate day samples —
        # union of day samples IS the window's sample, so the rolling
        # SLO reading exact per-day percentiles cannot re-aggregate
        # comes from sample-sized state, events never re-scanned per
        # window
        "quantile_trailing_events": (
            _table_query("events", rollup.sample_trailing_quantiles),
            rollup.sample_trailing_quantiles_oracle_sql("events"),
        ),
        # the capped form: day samples KMV-trim to 50 rows before the
        # window fan-out and each window re-trims to the same 50 — the
        # explode touches at most days x cap rows however large a day
        # is.  The oracle trims each window's RAW sample directly, so
        # a green row proves the per-group trim composition
        # (day-trim then window-trim == window-trim) cross-engine.
        "quantile_trailing_capped_events": (
            _table_query(
                "events",
                lambda df: rollup.sample_trailing_quantiles(
                    df, rate_ppm=300_000, cap_per_day=50
                ),
            ),
            rollup.sample_trailing_quantiles_oracle_sql(
                "events", rate_ppm=300_000, cap_per_day=50
            ),
        ),
        # KMV set operations: 3-gram shingle overlap between the two
        # corpus halves (union/intersection/Jaccard estimated from
        # three k-minimum-value sketches, never a join of the corpora).
        # Shingles, not tokens: the synthetic generator's token
        # VOCABULARY is a few dozen words (k would exceed it and every
        # estimate would be trivially exact); the ~16k distinct 3-gram
        # shingles at sf0.01 exercise the actual estimator.  The value
        # fed to the sketch is the dedup family's 48-bit shingle INT —
        # per-doc-distinct in-row before the explode, so the md5 count
        # is cut by the in-document repetition factor (measured 10.9s
        # -> ~1.5s at sf0.1 vs hashing every gram occurrence).
        # the same sketch machinery as a JOIN-PLANNING statistic:
        # estimate two tables' key overlap (FK hit rate, join output
        # cardinality bounds) WITHOUT joining them — at 100 TB the
        # sketches are two independent scans reduced to 3k hashes,
        # where an exact distinct-join costs a full shuffle of both key
        # sets.  est_intersection / est_a ~ the fraction of orders
        # customers that exist in customer.
        "kmv_join_overlap_orders_customer": (
            _two_table_query(
                "orders",
                "customer",
                lambda o, c: sketch.kmv_overlap(
                    o.selectExpr("TRUE AS side_a", "o_custkey AS v").unionByName(
                        c.selectExpr("FALSE AS side_a", "c_custkey AS v")
                    ),
                    "v",
                    "side_a",
                    256,
                ),
            ),
            sketch.kmv_overlap_oracle_sql(
                "SELECT TRUE AS side_a, o_custkey AS v FROM orders "
                "UNION ALL SELECT FALSE AS side_a, c_custkey AS v FROM customer",
                "v",
                "side_a",
                256,
            ),
        ),
        "kmv_shingle_overlap_documents": (
            _table_query("documents", lambda df: sketch.kmv_overlap(
                _shingle_overlap_sides(df), "v", "side_a", 256
            )),
            sketch.kmv_overlap_oracle_sql(
                "SELECT doc_a % 2 = 0 AS side_a, doc_b AS v FROM "
                f"({graph.doc_term_edges_oracle_sql('documents')}) dte",
                "v",
                "side_a",
                256,
            ),
        ),
        # deterministic hash-threshold sample quantiles (the scale path
        # beside the exact equidepth baseline; mergeable by construction)
        "sampled_quantiles_orders": (
            _table_query(
                "orders",
                lambda df: sketch.sampled_quantiles(df, "o_totalprice", "o_orderkey"),
            ),
            sketch.sampled_quantiles_oracle_sql("orders", "o_totalprice", "o_orderkey"),
        ),
        # per-group variant: the scale twin of exact length_percentiles
        # (rank window partitioned by group, never single-reducer)
        "sampled_quantiles_by_lang_documents": (
            _table_query(
                "documents",
                lambda df: sketch.grouped_sampled_quantiles(
                    df, "n_chars", "doc_id", "lang"
                ),
            ),
            sketch.grouped_sampled_quantiles_oracle_sql(
                "documents", "n_chars", "doc_id", "lang"
            ),
        ),
        # Count-Min frequency estimates beside the truth (overcount > 0
        # at sf0.01: 150 users into 64 buckets guarantees collisions)
        "countmin_freq_events": (
            _table_query(
                "events", lambda df: sketch.countmin_estimate(df, "user_id", 4, 64)
            ),
            sketch.countmin_estimate_oracle_sql("events", "user_id", 4, 64),
        ),
        # pre-join key-distribution audit + heavy hitters
        "key_distribution_lineitem": (
            _table_query("lineitem", lambda df: skew.key_distribution(df, "l_suppkey")),
            skew.key_distribution_oracle_sql("lineitem", "l_suppkey"),
        ),
        "heavy_hitters_lineitem": (
            _table_query("lineitem", lambda df: skew.heavy_hitters(df, "l_partkey", 20)),
            skew.heavy_hitters_oracle_sql("lineitem", "l_partkey", 20),
        ),
        # cross-table referential-integrity report (one row per FK edge)
        "fk_integrity_report": (
            _fk_spark,
            _fk_oracle_sql(),
        ),
        # classic analytical anchors: TPC-H Q1/Q3 shapes
        "tpch_q1_pricing_summary": (
            _table_query("lineitem", analytics.pricing_summary),
            analytics.pricing_summary_oracle_sql("lineitem"),
        ),
        "tpch_q3_shipping_priority": (
            _q3_spark,
            analytics.shipping_priority_oracle_sql("lineitem", "orders", "customer", 10),
        ),
        "tpch_q5_local_supplier_volume": (
            _q5_spark,
            analytics.local_supplier_volume_oracle_sql(
                "customer", "orders", "lineitem", "supplier", "nation", "region"
            ),
        ),
        "tpch_q18_large_volume_customer": (
            _q18_spark,
            analytics.large_volume_customer_oracle_sql(
                "customer", "orders", "lineitem"
            ),
        ),
        # TPC-H anchors covering plan shapes no other query exercises:
        # full-pushdown scan-agg (Q6), EXISTS semi join (Q4 shape),
        # NOT-EXISTS anti join (Q16 shape), conditional agg (Q14),
        # OR-of-ANDs disjunction (Q19), wide join + top-k (Q10)
        "tpch_q6_forecast_revenue": (
            _table_query("lineitem", analytics.forecast_revenue),
            analytics.forecast_revenue_oracle_sql("lineitem"),
        ),
        "tpch_q4_order_priority": (
            _two_table_query("orders", "lineitem", analytics.order_priority_check),
            analytics.order_priority_check_oracle_sql("orders", "lineitem"),
        ),
        "tpch_q10_returned_items": (
            _q10_spark,
            analytics.returned_item_revenue_oracle_sql(
                "customer", "orders", "lineitem", "nation"
            ),
        ),
        "tpch_q14_promo_revenue": (
            _two_table_query("lineitem", "part", analytics.promo_revenue),
            analytics.promo_revenue_oracle_sql("lineitem", "part"),
        ),
        "tpch_q16_unsold_parts": (
            _two_table_query("part", "lineitem", analytics.unsold_parts),
            analytics.unsold_parts_oracle_sql("part", "lineitem"),
        ),
        "tpch_q19_special_revenue": (
            _two_table_query("lineitem", "part", analytics.special_revenue),
            analytics.special_revenue_oracle_sql("lineitem", "part"),
        ),
        "tpch_q13_customer_distribution": (
            _two_table_query("customer", "orders", analytics.customer_distribution),
            analytics.customer_distribution_oracle_sql("customer", "orders"),
        ),
        # round-5 anchors: the remaining 11 queries, completing all 22.
        # Shapes each adds: correlated-MIN join-back (Q2), dim on both
        # fact sides (Q7), conditional-sum ratio (Q8), LIKE-filtered
        # multi-join (Q9), agg-vs-global-scalar HAVING (Q11), dual CASE
        # counts (Q12), agg-joined-to-own-MAX (Q15), fact vs its own
        # group average (Q17), nested-IN semi chain (Q20), EXISTS +
        # NOT-EXISTS on one fact (Q21), scalar-avg + anti join (Q22).
        "tpch_q2_min_cost_supplier": (
            _tables_query(
                analytics.min_cost_supplier,
                "part", "supplier", "lineitem", "nation", "region",
            ),
            analytics.min_cost_supplier_oracle_sql(
                "part", "supplier", "lineitem", "nation", "region"
            ),
        ),
        "tpch_q7_volume_shipping": (
            _tables_query(
                analytics.volume_shipping,
                "supplier", "lineitem", "orders", "customer", "nation",
            ),
            analytics.volume_shipping_oracle_sql(
                "supplier", "lineitem", "orders", "customer", "nation"
            ),
        ),
        "tpch_q8_market_share": (
            _tables_query(
                analytics.national_market_share,
                "part", "supplier", "lineitem", "orders", "customer",
                "nation", "region",
            ),
            analytics.national_market_share_oracle_sql(
                "part", "supplier", "lineitem", "orders", "customer",
                "nation", "region",
            ),
        ),
        "tpch_q9_product_profit": (
            _tables_query(
                analytics.product_type_profit,
                "part", "supplier", "lineitem", "orders", "nation",
            ),
            analytics.product_type_profit_oracle_sql(
                "part", "supplier", "lineitem", "orders", "nation"
            ),
        ),
        "tpch_q11_important_parts": (
            _table_query("lineitem", analytics.important_parts),
            analytics.important_parts_oracle_sql("lineitem"),
        ),
        "tpch_q12_shipping_delay": (
            _two_table_query("orders", "lineitem", analytics.shipping_delay_check),
            analytics.shipping_delay_check_oracle_sql("orders", "lineitem"),
        ),
        "tpch_q15_top_supplier": (
            _two_table_query("supplier", "lineitem", analytics.top_supplier),
            analytics.top_supplier_oracle_sql("supplier", "lineitem"),
        ),
        "tpch_q17_small_qty_revenue": (
            _two_table_query("part", "lineitem", analytics.small_quantity_revenue),
            analytics.small_quantity_revenue_oracle_sql("part", "lineitem"),
        ),
        "tpch_q20_excess_suppliers": (
            _tables_query(
                analytics.excess_suppliers,
                "supplier", "lineitem", "part", "nation",
            ),
            analytics.excess_suppliers_oracle_sql(
                "supplier", "lineitem", "part", "nation"
            ),
        ),
        "tpch_q21_waiting_suppliers": (
            _tables_query(
                analytics.waiting_suppliers, "supplier", "lineitem", "orders"
            ),
            analytics.waiting_suppliers_oracle_sql(
                "supplier", "lineitem", "orders"
            ),
        ),
        "tpch_q22_sales_opportunity": (
            _two_table_query("customer", "orders", analytics.sales_opportunity),
            analytics.sales_opportunity_oracle_sql("customer", "orders"),
        ),
        # grouping-sets anchor: ROLLUP subtotals in one Expand+agg pass
        "corpus_mix_rollup_documents": (
            _table_query("documents", analytics.corpus_mix_rollup),
            analytics.corpus_mix_rollup_oracle_sql("documents"),
        ),
        # one-call pre-training corpus summary (all-BIGINT metrics)
        "dataset_card_documents": (
            _table_query("documents", text.dataset_card),
            text.dataset_card_oracle_sql("documents"),
        ),
        # full BPE merge-table learning (iterative argmax).  The Spark
        # side stays the per-round collect loop; the twin expresses the
        # WHOLE iteration as one DuckDB recursive CTE over a single
        # list-typed vocabulary state row — so the formerly rows-only
        # entry hash-certifies.  Merge sequence additionally proven vs
        # a pure-Python reference BPE in tests/test_properties.py.
        "bpe_merges_documents": (
            _bpe_merges_spark,
            bpe.bpe_merges_oracle_sql("documents"),
        ),
        # multimodal plumbing (Arrow mapInPandas vs blob-SQL oracle)
        "multimodal_features_documents": (
            _table_query("documents", multimodal.extract_features),
            multimodal.extract_features_oracle_sql("documents"),
        ),
        "multimodal_resize_documents": (
            _table_query("documents", lambda df: multimodal.resize_images(df, 64, 48)),
            multimodal.resize_images_oracle_sql("documents", 64, 48),
        ),
        "multimodal_frame_sample_documents": (
            _table_query("documents", lambda df: multimodal.frame_sample(df, 2)),
            multimodal.frame_sample_oracle_sql("documents", 2),
        ),
        # perceptual image hash + image-level dedup over the real decoder
        "multimodal_image_ahash_documents": (
            _table_query("documents", multimodal.image_ahash),
            multimodal.image_ahash_oracle_sql("documents"),
        ),
        "multimodal_image_dup_groups_documents": (
            _table_query("documents", multimodal.image_dup_groups),
            multimodal.image_dup_groups_oracle_sql("documents"),
        ),
        "multimodal_audio_fingerprint_documents": (
            _table_query("documents", multimodal.audio_fingerprint),
            multimodal.audio_fingerprint_oracle_sql("documents"),
        ),
        # product quantization: 8-byte codes (32x compression) + ADC
        # top-k that scans codes, never embeddings
        # (codes array flattened to code_0..code_7 scalar columns at the
        # registry boundary — same driver list-cell hazard as
        # hashed_vectors/random_project; pq_encode itself stays array-
        # valued because pq_topk/ivfpq compose on it)
        "pq_encode_embeddings": (
            _table_query(
                "embeddings",
                lambda df: similarity.pq_encode(df).selectExpr(
                    "vec_id",
                    *[
                        f"CAST(element_at(codes, {m + 1}) AS BIGINT) AS code_{m}"
                        for m in range(similarity.PQ_M)
                    ],
                ),
            ),
            "SELECT vec_id, "
            + ", ".join(
                f"CAST(codes[{m + 1}] AS BIGINT) AS code_{m}"
                for m in range(similarity.PQ_M)
            )
            + f" FROM ({similarity.pq_encode_oracle_sql('embeddings')}) t",
        ),
        # ADC probe against a stored codes parquet (built once per
        # sf_dir via _pq_stored) — repeated calls, incl. bench's
        # min-of-two, time the probe, matching the probe-only DuckDB
        # twin bench.py materializes (BENCH_ORACLE_SETUP).  The cold
        # build stays covered: pq_encode_embeddings times the encode,
        # and pq_topk(codes=None) is the tested one-shot path.
        "pq_topk_embeddings": (
            _pq_topk_stored,
            similarity.pq_topk_oracle_sql("embeddings", (0, 1, 2, 3, 4), 10),
        ),
        # PQ quality gate: ADC recall vs the exact-L2 truth at small SF
        "pq_recall_eval_embeddings": (
            _table_query(
                "embeddings",
                lambda df: similarity.pq_recall_eval(df, (0, 1, 2, 3, 4), 10),
            ),
            similarity.pq_recall_eval_oracle_sql("embeddings", (0, 1, 2, 3, 4), 10),
        ),
        # the composed two-stage ANN: IVF cell pruning + PQ ADC ranking,
        # probing a stored (vec_id, cluster, codes) parquet (see
        # pq_topk_embeddings note; the bucket-pruned variant is
        # ivfpq_probe_index below)
        "ivfpq_topk_embeddings": (
            _ivfpq_topk_stored,
            similarity.ivfpq_topk_oracle_sql("embeddings", (0, 1, 2, 3, 4), 10, 2),
        ),
        # the DEPLOY shape of the same ANN: probe a PERSISTED IVF-PQ
        # index (codes + codebook stored bucketed; build memoized per
        # sf_dir so repeated calls — and bench run 2 — time the pure
        # probe, exactly what production pays per query batch).  Same
        # output and oracle as the one-shot ivfpq_topk, which stays
        # registered as the index-BUILD benchmark.
        "ivfpq_probe_index_embeddings": (
            _ivfpq_probe_index,
            similarity.ivfpq_topk_oracle_sql("embeddings", (0, 1, 2, 3, 4), 10, 2),
        ),
        # metadata-constrained vector search: label predicate pre-filters
        # the corpus scan (pushed filter), then exact cosine top-k
        "filtered_cosine_topk_embeddings": (
            _table_query(
                "embeddings",
                lambda df: similarity.filtered_cosine_topk(
                    df, (0, 1, 2, 3, 4), (0, 1, 2, 3), 5
                ),
            ),
            similarity.filtered_cosine_topk_oracle_sql(
                "embeddings", (0, 1, 2, 3, 4), (0, 1, 2, 3), 5
            ),
        ),
        # embedding-space QA: per-label centroid drift between two
        # corpus snapshots (integer-millionth-exact per-dim sums)
        "label_centroid_drift_embeddings": (
            _table_query("embeddings", similarity.label_centroid_drift),
            similarity.label_centroid_drift_oracle_sql("embeddings"),
        ),
        # what exact dedup saves, per (source, lang) slice
        "dedup_savings_report_documents": (
            _table_query("documents", dedup.dedup_savings_report),
            dedup.dedup_savings_report_oracle_sql("documents"),
        ),
    }


def _streaming_entry() -> dict[str, tuple[Callable, str | None]]:
    """Streaming operators, each driven to completion by :func:`_replay`
    over a deterministic chunking of a testdata table.  The custom
    stateful operator (applyInPandasWithState) is not SQL-expressible,
    but the registered drive's final latest-state-per-bucket output is
    (see stateful_bucket_fingerprint_oracle_sql) — so it carries a full
    hash oracle; equality with the batch ``additive`` fingerprint is also
    asserted in tests/test_streaming.py.
    """

    def week_chunks(df: DataFrame) -> list[DataFrame]:
        return _chunks_by(df, timecol.bucket_sql(df, timecol.US_PER_WEEK))

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import (
            streaming_stateful_bucket_fingerprint,
        )

        src = ParquetTarget("t", sf_dir)
        df = src.read(spark, "events")
        tschema = src.table_schema(spark, "events")
        _replay(
            spark,
            _chunks_by(df, "event_id % 4", range(4)),
            lambda sdf, _: (
                streaming_stateful_bucket_fingerprint(sdf, tschema, _CFG, buckets=16)
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_bucket_state")
            ),
            tempfile.mkdtemp(prefix="pgvs_stream_"),
        )
        # latest state per bucket (deterministic given the chunking)
        latest: dict[int, tuple] = {}
        for r in spark.table("registry_bucket_state").collect():
            if r["bucket"] not in latest or r["updates"] > latest[r["bucket"]][3]:
                latest[r["bucket"]] = (r["bucket"], r["cnt"], r["hsum"], r["updates"])
        return spark.createDataFrame(
            sorted(latest.values()), "bucket int, cnt bigint, hsum bigint, updates int"
        )

    def run_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import streaming_dedup

        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        # doc_id + 1000001: under the doc_id % 4 chunks each duplicate
        # lands one chunk after its original (chunk 3's in chunk 0), so
        # the dedup state must carry it across micro-batches
        dup = docs.filter("doc_id % 3 = 0").selectExpr(
            "doc_id + 1000001 AS doc_id", "text", "lang", "source", "n_chars"
        )
        both = docs.unionByName(dup)
        _replay(
            spark,
            _chunks_by(both, "doc_id % 4", range(4)),
            lambda sdf, _: (
                streaming_dedup(sdf).writeStream.outputMode("append")
                .format("memory").queryName("registry_sdedup")
            ),
            tempfile.mkdtemp(prefix="pgvs_sdedup_"),
        )
        # which duplicate survived is arrival-order-dependent; the kept
        # hash set is deterministic — report that
        return spark.table("registry_sdedup").select("content_md5").distinct()

    # the surviving-hash SET is deterministic and SQL-expressible, so the
    # streaming operator gets a full oracle pair (the streaming-ness is
    # what the Spark side exercises; the oracle checks the final state)
    from pgverify_spark.functions.text_exprs import norm_sql

    dedup_oracle = (
        "SELECT DISTINCT md5("
        + norm_sql("text", "duckdb")
        + ") AS content_md5 FROM (SELECT text FROM documents UNION ALL "
        "SELECT text FROM documents WHERE doc_id % 3 = 0) u"
    )
    def run_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import streaming_session_rollup

        df = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            week_chunks(df),
            lambda sdf, _: (
                streaming_session_rollup(sdf).writeStream.outputMode("complete")
                .format("memory").queryName("registry_sessions")
            ),
            tempfile.mkdtemp(prefix="pgvs_sess_"),
        )
        return spark.table("registry_sessions")

    sessions_oracle = (
        "SELECT user_id, start_us, end_us, n_events, sum_value FROM ("
        + rollup.sessionize_oracle_sql("events")
        + ") s"
    )
    def run_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.funnel import (
            finalize_streaming_funnel,
            streaming_funnel_state,
        )

        df = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            week_chunks(df),
            lambda sdf, _: (
                streaming_funnel_state(sdf, max_gap_us=86_400_000_000)
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_sfunnel")
            ),
            tempfile.mkdtemp(prefix="pgvs_sfunnel_"),
        )
        rows = finalize_streaming_funnel(spark.table("registry_sfunnel"))
        return spark.createDataFrame(
            rows, "step int, step_name string, n_users bigint, conversion double"
        )

    funnel_oracle = funnel_mod.funnel_oracle_sql("events", max_gap_us=86_400_000_000)

    def run_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.sketch import (
            finalize_streaming_kmv,
            streaming_kmv_state,
        )

        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        _replay(
            spark,
            _chunks_by(docs, "doc_id % 4", range(4)),
            lambda sdf, _: (
                streaming_kmv_state(sdf, "text", "lang", 64)
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_skmv")
            ),
            tempfile.mkdtemp(prefix="pgvs_skmv_"),
        )
        rows = finalize_streaming_kmv(spark.table("registry_skmv"))
        return spark.createDataFrame(
            rows, "grp string, n_sketch bigint, kth_min bigint, est_distinct double"
        )

    # order-insensitive state => the streaming result equals the batch
    # sketch exactly, so it shares the batch operator's oracle SQL
    kmv_oracle = sketch.kmv_sketch_oracle_sql("documents", "text", "lang", 64)

    def run_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.sketch import (
            finalize_streaming_hll,
            streaming_hll_state,
        )

        events = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            _chunks_by(events, "event_id % 4", range(4)),
            lambda sdf, _: (
                streaming_hll_state(sdf, "user_id", "event_type")
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_shll")
            ),
            tempfile.mkdtemp(prefix="pgvs_shll_"),
        )
        return finalize_streaming_hll(spark.table("registry_shll"))

    # element-wise-max registers are order-insensitive too, and the
    # finalize feeds them through the BATCH hll_summary — one estimator
    # code path — so this also shares the batch oracle verbatim
    hll_oracle = sketch.hll_distinct_oracle_sql("events", "user_id", "event_type")

    def run_swau(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.operators.sketch import hll_summary
        from pgverify_spark.streaming.sketch import (
            finalize_streaming_hll_registers,
            streaming_hll_state,
        )

        events = ParquetTarget("t", sf_dir).read(spark, "events")
        # group key = the DAY bucket: streamed per-day registers; the
        # trailing-WAU merge then runs UNCHANGED on the streamed state
        day = timecol.bucket_sql(events, timecol.US_PER_DAY)
        _replay(
            spark,
            _chunks_by(events, "event_id % 4", range(4)),
            lambda sdf, _: (
                streaming_hll_state(sdf, "user_id", day)
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_swau")
            ),
            tempfile.mkdtemp(prefix="pgvs_swau_"),
        )
        regs = finalize_streaming_hll_registers(
            spark.table("registry_swau")
        ).selectExpr("CAST(grp AS BIGINT) AS grp", "bucket", "r")
        return hll_summary(rollup.trailing_merge_registers(regs, 7))

    # streamed per-day registers + the batch window merge = the batch
    # trailing-WAU operator exactly, so it shares that oracle verbatim
    swau_oracle = rollup.hll_trailing_distinct_oracle_sql("events")

    def run_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.sketch import (
            finalize_streaming_countmin,
            streaming_countmin,
        )

        events = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            _chunks_by(events, "event_id % 4", range(4)),
            lambda sdf, _: (
                streaming_countmin(sdf, "user_id", 4, 64)
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_scm")
            ),
            tempfile.mkdtemp(prefix="pgvs_scm_"),
        )
        return finalize_streaming_countmin(spark.table("registry_scm"))

    # purely-additive cells => final streaming state equals the batch
    # cell table, bit-for-bit, under any chunking of the input
    countmin_oracle = sketch.countmin_sketch_oracle_sql("events", "user_id", 4, 64)

    # streaming constraint monitor: the row-predicate subset of the
    # orders suite (uniqueness needs per-key state — batch-only)
    row_suite = [c for c in _ORDERS_SUITE if c.distinct_col is None]

    def run_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.constraints import (
            finalize_streaming_constraints,
            streaming_constraint_counts,
        )

        orders = ParquetTarget("t", sf_dir).read(spark, "orders")
        _replay(
            spark,
            _chunks_by(orders, "o_orderkey % 4", range(4)),
            lambda sdf, _: (
                streaming_constraint_counts(sdf, row_suite)
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_scon")
            ),
            tempfile.mkdtemp(prefix="pgvs_scon_"),
        )
        return finalize_streaming_constraints(spark.table("registry_scon"), row_suite)

    constraints_stream_oracle = constraints.constraint_report_oracle_sql(
        "orders", row_suite
    )

    def run_squarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Score-at-ingest dead-letter split: quarantine_rows over a
        row-predicate-only suite is a pure projection+filter — stateless,
        so it streams in append mode with NO state at any volume (unique
        checks need per-value state and are excluded exactly as the
        streaming constraint monitor excludes them)."""
        orders = ParquetTarget("t", sf_dir).read(spark, "orders")
        _replay(
            spark,
            _chunks_by(orders, "o_orderkey % 4", range(4)),
            lambda sdf, _: (
                constraints.quarantine_rows(sdf, row_suite, ["o_orderkey"])
                .writeStream.outputMode("append")
                .format("memory").queryName("registry_squar")
            ),
            tempfile.mkdtemp(prefix="pgvs_squar_"),
        )
        return spark.table("registry_squar")

    squarantine_oracle = constraints.quarantine_rows_oracle_sql(
        "orders", row_suite, ["o_orderkey"]
    )

    def run_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import (
            bloom_words,
            streaming_bloom_decontaminate,
        )

        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        words = bloom_words(docs)  # static side: built once from eval split
        train = docs.filter("doc_id % 10 <> 0")
        _replay(
            spark,
            _chunks_by(train, "doc_id % 4", range(4)),
            lambda sdf, _: (
                streaming_bloom_decontaminate(sdf, words)
                .writeStream.outputMode("update")
                .format("memory").queryName("registry_sbloom")
            ),
            tempfile.mkdtemp(prefix="pgvs_sbloom_"),
        )
        # each doc arrives whole in one micro-batch => exactly one update
        # row per doc; the memory table IS the final per-doc report
        return spark.table("registry_sbloom")

    # per-doc probe is deterministic and stateless across batches =>
    # shares the batch bloom_decontaminate oracle
    bloom_oracle = contamination.bloom_decontaminate_oracle_sql("documents")

    def run_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import streaming_windowed_counts

        ev = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            _chunks_by(ev, "event_id % 4", range(4)),
            lambda sdf, _: (
                streaming_windowed_counts(sdf, window="6 hours", watermark="1 hour")
                .writeStream.outputMode("complete")
                .format("memory").queryName("registry_swin")
            ),
            tempfile.mkdtemp(prefix="pgvs_swin_"),
        )
        # epoch-micros window bounds: engine-neutral for the value hash
        return spark.table("registry_swin").selectExpr(
            "unix_micros(win_start) AS win_start_us",
            "unix_micros(win_end) AS win_end_us",
            "event_type",
            "n_events",
            "value_sum",
        )

    def run_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.operators.lm import bigram_model
        from pgverify_spark.streaming.incremental import streaming_lm_scores

        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        model = bigram_model(docs)  # static side: trained offline once
        _replay(
            spark,
            _chunks_by(docs, "doc_id % 4", range(4)),
            lambda sdf, _: (
                streaming_lm_scores(sdf, model).writeStream.outputMode("update")
                .format("memory").queryName("registry_slm")
            ),
            tempfile.mkdtemp(prefix="pgvs_slm_"),
        )
        # docs arrive whole => one update row per doc = the final report
        return spark.table("registry_slm")

    # scoring is stateless per doc against a fixed model => replaying
    # the training corpus reproduces the batch scores (shared oracle)
    lm_stream_oracle = lm.bigram_lm_scores_oracle_sql("documents")

    def run_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import streaming_lsh_ingest_probe

        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        corpus = docs.filter("doc_id % 10 <> 7")
        new = docs.filter("doc_id % 10 = 7")
        tmp = tempfile.mkdtemp(prefix="pgvs_singest_")
        # standing-corpus artifact: written once, probed per batch
        dedup.write_lsh_index(corpus, "reg_stream_lsh", f"{tmp}/idx", n_buckets=16)
        _replay(
            spark,
            _chunks_by(new, "doc_id % 4", range(4)),
            lambda sdf, tmp: streaming_lsh_ingest_probe(
                sdf, "reg_stream_lsh", f"{tmp}/out", 0.3
            ),
            tmp,
        )
        return spark.read.parquet(f"{tmp}/out")

    # per-doc probes are independent, so the per-batch union equals the
    # one-shot cross-corpus run — same oracle as incremental_dedup
    lsh_ingest_oracle = dedup.cross_corpus_lsh_pairs_oracle_sql(
        "SELECT * FROM documents WHERE doc_id % 10 = 7",
        "SELECT * FROM documents WHERE doc_id % 10 <> 7",
        0.3,
    )

    def run_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import streaming_ivf_ingest_probe

        embs = ParquetTarget("t", sf_dir).read(spark, "embeddings")
        corpus = embs.filter("vec_id % 10 <> 7")
        new = embs.filter("vec_id % 10 = 7")
        tmp = tempfile.mkdtemp(prefix="pgvs_sivf_")
        similarity.write_ivf_index(corpus, "reg_stream_ivf", f"{tmp}/idx")
        try:
            _replay(
                spark,
                _chunks_by(new, "vec_id % 4", range(4)),
                lambda sdf, tmp: streaming_ivf_ingest_probe(
                    sdf, "reg_stream_ivf", f"{tmp}/out", 0.4, 2
                ),
                tmp,
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS reg_stream_ivf_cells")
        return spark.read.parquet(f"{tmp}/out")

    ivf_ingest_oracle = similarity.cross_corpus_ivf_pairs_oracle_sql(
        "(SELECT * FROM embeddings WHERE vec_id % 10 = 7)",
        "(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)",
        0.4,
        2,
    )

    def run_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.incremental import streaming_debounce

        df = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            week_chunks(df),
            lambda sdf, _: (
                streaming_debounce(sdf, 4 * 3600 * 1_000_000)
                .writeStream.outputMode("append")
                .format("memory").queryName("registry_sdebounce")
            ),
            tempfile.mkdtemp(prefix="pgvs_sdeb_"),
        )
        return spark.table("registry_sdebounce")

    # append-mode kept events == the batch debounce over the same data
    debounce_stream_oracle = rollup.debounce_oracle_sql("events", 4 * 3600 * 1_000_000)

    def run_sattrib(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.funnel import streaming_attribution

        df = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            week_chunks(df),
            lambda sdf, _: (
                streaming_attribution(sdf).writeStream.outputMode("append")
                .format("memory").queryName("registry_sattrib")
            ),
            tempfile.mkdtemp(prefix="pgvs_sattr_"),
        )
        return spark.table("registry_sattrib")

    # append-mode credit rows == the batch last-touch attribution (the
    # direct NULL bucket included), so it shares the batch oracle
    sattrib_oracle = funnel_mod.attribute_conversions_oracle_sql("events")

    def run_sscd2(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.scd2 import (
            finalize_streaming_scd2,
            streaming_scd2,
        )

        df = ParquetTarget("t", sf_dir).read(spark, "events")
        _replay(
            spark,
            week_chunks(df),
            lambda sdf, _: (
                streaming_scd2(sdf).writeStream.outputMode("update")
                .format("memory").queryName("registry_sscd2")
            ),
            tempfile.mkdtemp(prefix="pgvs_sscd2_"),
        )
        return finalize_streaming_scd2(spark.table("registry_sscd2"))

    # closed intervals + latest open snapshot == the batch SCD2 build,
    # so the streaming twin shares the batch oracle verbatim
    sscd2_oracle = rollup.scd2_intervals_oracle_sql("events")

    def run_squant(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.sketch import (
            finalize_streaming_quantiles,
            streaming_sample_quantiles,
        )

        orders = ParquetTarget("t", sf_dir).read(spark, "orders")
        tmp = tempfile.mkdtemp(prefix="pgvs_squant_")
        _replay(
            spark,
            _chunks_by(orders, "o_orderkey % 4", range(4)),
            lambda sdf, tmp: streaming_sample_quantiles(
                sdf, "o_totalprice", "o_orderkey", f"{tmp}/sample"
            ),
            tmp,
        )
        return finalize_streaming_quantiles(spark, f"{tmp}/sample")

    # sample membership is a pure row predicate => union of per-batch
    # samples IS the whole-table sample => shares the batch oracle
    squant_oracle = sketch.sampled_quantiles_oracle_sql(
        "orders", "o_totalprice", "o_orderkey"
    )

    def run_strailq(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.sketch import (
            finalize_streaming_trailing_quantiles,
            streaming_day_sample,
        )

        events = ParquetTarget("t", sf_dir).read(spark, "events")
        tmp = tempfile.mkdtemp(prefix="pgvs_strailq_")
        _replay(
            spark,
            _chunks_by(events, "event_id % 4", range(4)),
            lambda sdf, tmp: streaming_day_sample(sdf, f"{tmp}/sample"),
            tmp,
        )
        return finalize_streaming_trailing_quantiles(spark, f"{tmp}/sample")

    def run_strailq_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.sketch import (
            compact_sample_store,
            finalize_streaming_trailing_quantiles,
            streaming_day_sample,
        )

        events = ParquetTarget("t", sf_dir).read(spark, "events")
        tmp = tempfile.mkdtemp(prefix="pgvs_strailqc_")
        _replay(
            spark,
            _chunks_by(events, "event_id % 4", range(4)),
            lambda sdf, tmp: streaming_day_sample(
                sdf, f"{tmp}/sample", rate_ppm=300_000, cap_per_day=50
            ),
            tmp,
        )
        # capped compaction of the sealed batches runs IN the certified
        # path: it may only drop rows provably outside every future
        # bottom-k, so the finalize after it must still hash-match the
        # batch oracle
        compact_sample_store(
            spark, f"{tmp}/sample", upto_exclusive=3, cap_per_day=50
        )
        return finalize_streaming_trailing_quantiles(
            spark, f"{tmp}/sample", cap_per_day=50
        )

    strailq_capped_oracle = rollup.sample_trailing_quantiles_oracle_sql(
        "events", rate_ppm=300_000, cap_per_day=50
    )

    # day-respecting for free: membership never looks at the day, so
    # the stored per-batch day samples union into the table's per-day
    # samples => shares the batch trailing-quantiles oracle
    strailq_oracle = rollup.sample_trailing_quantiles_oracle_sql("events")

    win_us = 6 * 3_600_000_000
    windowed_oracle = (
        f"SELECT (CAST(epoch_us(ts) AS BIGINT) // {win_us}) * {win_us} AS win_start_us, "
        f"(CAST(epoch_us(ts) AS BIGINT) // {win_us}) * {win_us} + {win_us} AS win_end_us, "
        "event_type, count(*) AS n_events, "
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS value_sum "
        "FROM events GROUP BY 1, 2, 3"
    )

    # The OPERATOR is not SQL-expressible (per-micro-batch state), but
    # the registered query's FINAL latest-state-per-bucket output is:
    # modular hsum folding is associative and `updates` equals
    # count(DISTINCT chunk) under _replay's one-file-per-chunk feed — so
    # the last rows-only streaming entry now hash-certifies.
    from pgverify_spark.streaming.incremental import (
        stateful_bucket_fingerprint_oracle_sql,
    )

    stateful_oracle = stateful_bucket_fingerprint_oracle_sql(
        "events", TESTDATA_TABLES["events"], _CFG, buckets=16,
        chunk_sql="event_id % 4",
    )

    def run_skmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pgverify_spark.streaming.sketch import (
            finalize_streaming_kmv_overlap,
            streaming_kmv_overlap,
        )

        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        tmp = tempfile.mkdtemp(prefix="pgvs_skmvov_")
        # _shingle_overlap_sides carries the shingle persist's deps tag so
        # the foreachBatch writer's release_cached_deps actually releases
        # it per batch
        _replay(
            spark,
            _chunks_by(docs, "doc_id % 4", range(4)),
            lambda sdf, tmp: streaming_kmv_overlap(
                sdf, f"{tmp}/store", 256, _shingle_overlap_sides
            ),
            tmp,
        )
        return finalize_streaming_kmv_overlap(spark, f"{tmp}/store", 256)

    # union-of-survivors re-aggregated == the batch operator over the
    # whole corpus (subset argument in kmv_overlap_survivors) => the
    # streaming twin shares the batch entry's oracle verbatim
    skmv_overlap_oracle = sketch.kmv_overlap_oracle_sql(
        "SELECT doc_a % 2 = 0 AS side_a, doc_b AS v FROM "
        f"({graph.doc_term_edges_oracle_sql('documents')}) dte",
        "v",
        "side_a",
        256,
    )

    return {
        "streaming_stateful_bucket_fingerprint_events": (run, stateful_oracle),
        "streaming_ingest_compact_events": (_run_streaming_ingest_compact, _INGEST_COMPACT_ORACLE),
        "streaming_kmv_overlap_documents": (run_skmv_overlap, skmv_overlap_oracle),
        "streaming_dedup_documents": (run_dedup, dedup_oracle),
        "streaming_session_rollup_events": (run_sessions, sessions_oracle),
        "streaming_funnel_events": (run_funnel, funnel_oracle),
        "streaming_kmv_distinct_documents": (run_kmv, kmv_oracle),
        "streaming_hll_distinct_events": (run_hll, hll_oracle),
        "streaming_hll_wau_events": (run_swau, swau_oracle),
        "streaming_countmin_events": (run_countmin, countmin_oracle),
        "streaming_constraint_report_orders": (run_constraints, constraints_stream_oracle),
        "streaming_quarantine_rows_orders": (run_squarantine, squarantine_oracle),
        "streaming_ivf_ingest_dedup_embeddings": (run_ivf_ingest, ivf_ingest_oracle),
        "streaming_debounce_events": (run_debounce, debounce_stream_oracle),
        "streaming_attribution_events": (run_sattrib, sattrib_oracle),
        "streaming_scd2_intervals_events": (run_sscd2, sscd2_oracle),
        "streaming_bloom_decontaminate_documents": (run_bloom, bloom_oracle),
        "streaming_windowed_counts_events": (run_windowed, windowed_oracle),
        "streaming_lm_scores_documents": (run_lm, lm_stream_oracle),
        "streaming_lsh_ingest_dedup_documents": (run_lsh_ingest, lsh_ingest_oracle),
        "streaming_sampled_quantiles_orders": (run_squant, squant_oracle),
        "streaming_quantile_trailing_events": (run_strailq, strailq_oracle),
        # capped twin: per-(batch, day) trims at ingest, capped sealed-
        # batch compaction mid-path, day re-trim + window re-trim at
        # finalize — every stage rides the same KMV identity, certified
        # against the batch capped oracle
        "streaming_quantile_trailing_capped_events": (
            run_strailq_capped, strailq_capped_oracle
        ),
    }


#: Explicit Spark DDL map for CSV exports of testdata tables — one
#: copy (three entries previously each carried a near-duplicate; the
#: map exists so a logical type whose NAME is not valid Spark DDL can
#: never silently reach a text-format schema string).
_CSV_SPARK_TYPES = {"int": "int", "bigint": "bigint", "string": "string",
                    "double": "double", "timestamp": "timestamp"}


def _csv_ddl(table: str) -> str:
    return ", ".join(
        f"{c} {_CSV_SPARK_TYPES[t]}" for c, t in TESTDATA_TABLES[table].cols
    )


def _multiformat_report_entry() -> dict[str, tuple[Callable, str]]:
    """Cross-format verify: a parquet target against a live CSV export of
    the same tables, through the real ``verify()`` orchestrator — the
    heterogeneous-source comparison the tool exists for (every cell must
    agree iff the CSV round-trip is lossless)."""
    cfg = VerifyConfig(test_modes=_REPORT_MODES, include_tables=_REPORT_TABLES)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from pgverify_spark.sources.files import FileTarget

        ensure_required_confs(spark)
        tmp = tempfile.mkdtemp(prefix="pgvs_mfmt_")
        schemas = {}
        for t in _REPORT_TABLES:
            df = ParquetTarget("src", sf_dir).read(spark, t)
            df.write.format("csv").option("header", "true").mode("overwrite").save(
                f"{tmp}/{t}.csv"
            )
            schemas[t] = _csv_ddl(t)
        targets = [
            ParquetTarget("parquet", sf_dir),
            FileTarget("csv", tmp, format="csv", schemas=schemas),
        ]
        return verify(spark, targets, cfg).report()

    selects = []
    for tname in ("parquet", "csv"):
        for table in _REPORT_TABLES:
            mode_cols = ", ".join(
                f"(SELECT fp FROM ({fingerprint_oracle_sql(m, table, TESTDATA_TABLES[table], cfg)}) s) AS {m}"
                for m in _REPORT_MODES
            )
            selects.append(
                f"SELECT 'public' AS schema, '{table}' AS tbl, '{tname}' AS target, {mode_cols}"
            )
    out = {"verify_report_parquet_vs_csv": (run, " UNION ALL ".join(selects))}
    out.update(_derived_view_report_entry())
    return out


#: The derived relation verified across heterogeneous stores by
#: verify_report_derived_view: per-nation order stats over the
#: orders ⋈ customer join.  Deterministic by construction (counts and
#: integer min/max only — no float sums), so equal base data must yield
#: byte-identical view fingerprints on every engine.
_DERIVED_VIEW_SQL = (
    "SELECT c_nationkey, count(*) AS n_orders, min(o_orderkey) AS min_order, "
    "max(o_orderkey) AS max_order FROM orders JOIN customer "
    "ON o_custkey = c_custkey GROUP BY c_nationkey"
)


def _derived_view_report_entry() -> dict[str, tuple[Callable, str]]:
    """Verify a DERIVED relation — not a base table — across two stores
    (parquet vs a live CSV export), through the real orchestrator: the
    reference stops at base tables (views excluded, query.go:21-100);
    ETL outputs and materialized views need the same consistency check.
    The view joins orders to customer and aggregates per nation, so the
    fingerprint covers a join + groupBy pipeline, and column pruning
    reaches through the view into both base scans (the CSV side only
    parses the two key columns it needs)."""
    view_name = "nation_order_stats"
    cfg = VerifyConfig(test_modes=_REPORT_MODES, include_tables=(view_name,))

    def build_view(spark: SparkSession, base) -> DataFrame:
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

    views = {view_name: (build_view, ("c_nationkey",))}

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from pgverify_spark.sources.files import FileTarget
        from pgverify_spark.sources.views import ViewTarget

        ensure_required_confs(spark)
        tmp = tempfile.mkdtemp(prefix="pgvs_dview_")
        schemas = {}
        for t in ("orders", "customer"):
            ParquetTarget("src", sf_dir).read(spark, t).write.format("csv").option(
                "header", "true"
            ).mode("overwrite").save(f"{tmp}/{t}.csv")
            schemas[t] = _csv_ddl(t)
        targets = [
            ViewTarget("parquet", ParquetTarget("pq", sf_dir), views),
            ViewTarget("csv", FileTarget("c", tmp, format="csv", schemas=schemas), views),
        ]
        return verify(spark, targets, cfg).report()

    vschema = TableSchema(
        view_name,
        (
            ("c_nationkey", "int"),
            ("n_orders", "bigint"),
            ("min_order", "bigint"),
            ("max_order", "bigint"),
        ),
        ("c_nationkey",),
    )
    view_sql = f"({_DERIVED_VIEW_SQL}) v"
    selects = []
    for tname in ("csv", "parquet"):  # report sorts targets alphabetically
        mode_cols = ", ".join(
            f"(SELECT fp FROM ({fingerprint_oracle_sql(m, view_sql, vschema, cfg)}) s) AS {m}"
            for m in _REPORT_MODES
        )
        selects.append(
            f"SELECT 'public' AS schema, '{view_name}' AS tbl, '{tname}' AS target, {mode_cols}"
        )
    out = {"verify_report_derived_view": (run, " UNION ALL ".join(selects))}
    out.update(_derived_view_orc_entry())
    return out


def _derived_view_orc_entry() -> dict[str, tuple[Callable, str]]:
    """The ETL-consistency story end-to-end (r9 VERDICT item 8): BOTH
    verify sides are ViewTargets over *different physical formats* —
    the same derived relation computed from a parquet store and from a
    live ORC export of it.  verify_report_derived_view proves a view
    verifies across parquet/csv; this proves the view definition is
    truly storage-agnostic on a second columnar format whose reader
    (vectorized ORC) shares nothing with the CSV text parser — the
    "two warehouses, one transformation" deployment.  Column pruning
    reaches through the view into BOTH columnar scans (each side reads
    2 of orders' 9 columns)."""
    view_name = "nation_order_stats"
    cfg = VerifyConfig(test_modes=_REPORT_MODES, include_tables=(view_name,))

    def build_view(spark: SparkSession, base) -> DataFrame:
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

    views = {view_name: (build_view, ("c_nationkey",))}

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from pgverify_spark.sources.files import FileTarget
        from pgverify_spark.sources.views import ViewTarget

        ensure_required_confs(spark)
        tmp = tempfile.mkdtemp(prefix="pgvs_dvorc_")
        for t in ("orders", "customer"):
            ParquetTarget("src", sf_dir).read(spark, t).write.format("orc").mode(
                "overwrite"
            ).save(f"{tmp}/{t}.orc")
        targets = [
            ViewTarget("parquet", ParquetTarget("pq", sf_dir), views),
            ViewTarget("orc", FileTarget("o", tmp, format="orc"), views),
        ]
        return verify(spark, targets, cfg).report()

    vschema = TableSchema(
        view_name,
        (
            ("c_nationkey", "int"),
            ("n_orders", "bigint"),
            ("min_order", "bigint"),
            ("max_order", "bigint"),
        ),
        ("c_nationkey",),
    )
    view_sql = f"({_DERIVED_VIEW_SQL}) v"
    selects = []
    for tname in ("orc", "parquet"):  # report sorts targets alphabetically
        mode_cols = ", ".join(
            f"(SELECT fp FROM ({fingerprint_oracle_sql(m, view_sql, vschema, cfg)}) s) AS {m}"
            for m in _REPORT_MODES
        )
        selects.append(
            f"SELECT 'public' AS schema, '{view_name}' AS tbl, '{tname}' AS target, {mode_cols}"
        )
    return {"verify_report_view_parquet_vs_orc": (run, " UNION ALL ".join(selects))}


#: Names the driver's bounded CORRECTNESS window should certify FIRST.
#: The driver compares roughly the first 50 ``queries()`` entries in
#: insertion order per round, so this list rotates each round onto the
#: queries whose certification evidence is weakest.  Everything not
#: listed keeps registration order after the priority block — nothing
#: is ever dropped, only reordered.
#:
#: The order is no longer hand-reasoned prose: it is DERIVED from the
#: recorded evidence by ``pgverify_spark.rotation.derived_priority``
#: (never-driver-checked certifiable entries first in registration
#: order, then last-green-round ascending, rows-only excluded, the
#: 3-row parity smoke core staleness-sorted WITH the pool but always
#: granted a slot — pinning it last let it fall off the driver's
#: actual ~50-row window and go stale, the r10 verdict's two r5 rows)
#: and ``tests/test_plan_audit.py``
#: asserts this static tuple equals the derivation, so the rotation
#: cannot silently drift from staleness reality.  To rotate for round
#: N+1: rerun the derivation after the round-N CORRECTNESS file lands
#: and paste (the test prints the expected tuple on mismatch).
#:
#: ROUND-8 WINDOW (derived from CORRECTNESS_r1..r7): positions 1-4 the
#: never-hash-certified entries (this round's curate_corpus_report and
#: live-Derby verify_report_parquet_vs_jdbc,
#: then the two formerly rows-only entries: bpe_merges via the
#: recursive-CTE twin, the stateful streaming fingerprint via its
#: deterministic final-state twin); 4-44 the 41 rows whose newest
#: green is r4; the
#: remainder the oldest r5 rows; the smoke core pinned last.  The
#: r5-green tail leads the r9 backlog.
#:
#: INVARIANT (lint-enforced): every registered query now carries an
#: oracle twin, so the whole registry is rotation-eligible; if a future
#: entry is registered without a twin it must stay out of this window
#: (a row spent on it is a row taken from a certifiable query).
#: The round this rotation was built FOR: it orders the window from the
#: evidence available at that round's start (CORRECTNESS_r1..r{N-1}).
#: The drift test derives with exactly that evidence window, so the
#: driver landing CORRECTNESS_r{N} mid-round cannot fail the suite
#: retroactively — but a rotation left one full round stale (files
#: newer than N present) does fail.  Bump when rotating.
_DRIVER_PRIORITY_ROUND = 14

_DRIVER_PRIORITY = (
    # Derived rotation (see module docstring): regenerate with
    # `python -m pgverify_spark.rotation --write` after a new
    # CORRECTNESS file lands or a new entry is registered.
    "key_distribution_lineitem",  # last green r7
    "heavy_hitters_lineitem",  # last green r7
    "fk_integrity_report",  # last green r7
    "streaming_dedup_documents",  # last green r7
    "streaming_funnel_events",  # last green r7
    "streaming_kmv_distinct_documents",  # last green r7
    "streaming_bloom_decontaminate_documents",  # last green r7
    "streaming_lm_scores_documents",  # last green r7
    "streaming_lsh_ingest_dedup_documents",  # last green r7
    "bookend_fingerprint_lineitem",  # last green r8
    "sparse_fingerprint_lineitem",  # last green r8
    "bucketed_fingerprint_lineitem",  # last green r8
    "additive_fingerprint_lineitem",  # last green r8
    "column_diff_orders",  # last green r8
    "distribution_drift_orders",  # last green r8
    "snapshot_verify_events",  # last green r8
    "snapshot_update_events",  # last green r8
    "verify_report_parquet_vs_jdbc",  # last green r8
    "dup_clusters_star_documents",  # last green r8
    "benford_audit_orders",  # last green r8
    "fd_check_orders",  # last green r8
    "constraint_report_orders",  # last green r8
    "dedup_lines_documents",  # last green r8
    "corpus_dedup_lines_documents",  # last green r8
    "lsh_recall_eval_documents",  # last green r8
    "ann_recall_embeddings",  # last green r8
    "semantic_dedup_filter_documents",  # last green r8
    "near_dedup_filter_best_documents",  # last green r8
    "embedding_ingest_dedup_embeddings",  # last green r8
    "hashed_text_topk_documents",  # last green r8
    "gopher_gate_documents",  # last green r8
    "reservoir_sample_events",  # last green r8
    "hourly_rollup_events",  # last green r8
    "fill_gaps_hourly_events",  # last green r8
    "debounce_events",  # last green r8
    "daily_rollup_events",  # last green r8
    "grouped_topk_revenue_lineitem",  # last green r8
    "bpe_pair_counts_documents",  # last green r8
    "strip_html_documents",  # last green r8
    "normalize_unicode_documents",  # last green r8
    "curate_corpus_report_documents",  # last green r8
    "clean_web_corpus_documents",  # last green r8
    "interval_join_rollup_events",  # last green r8
    "sampled_quantiles_orders",  # last green r8
    "sampled_quantiles_by_lang_documents",  # last green r8
    "countmin_freq_events",  # last green r8
    "tpch_q3_shipping_priority",  # last green r8
    "tpch_q5_local_supplier_volume",  # last green r8
    "bpe_merges_documents",  # last green r8
    "rowcount_fingerprint_lineitem",  # last green r11
    "tpch_q1_pricing_summary",  # last green r11
    "full_fingerprint_lineitem",  # last green r13
)


#: Terminal DECIMAL output columns cast to DOUBLE in BOTH twins at the
#: registry boundary.  The driver's order-insensitive value hash renders
#: a DECIMAL cell through float on one side only, so any cell whose
#: decimal string carries trailing zeros (`Decimal('239577.7750')` vs
#: `239577.775`) hash-mismatches even when the values are exactly equal
#: — the CORRECTNESS_r03 failure mode (7/7 failers had such a cell,
#: 43/43 passers had none).  Internal arithmetic stays DECIMAL-exact
#: (aggregation-order independence); only the *reported* column is cast,
#: and both engines convert the same exact decimal to the same nearest
#: double, so correctness is unaffected.  Enforced registry-wide by
#: tests/test_plan_audit.py (no oracle may emit a DECIMAL column).
_DOUBLE_OUTPUT_COLS: dict[str, tuple[str, ...]] = {
    "hourly_rollup_events": ("sum_value",),
    "rollup_ivm_events": ("sum_value",),
    "daily_rollup_events": ("sum_value",),
    "sessionize_events": ("sum_value",),
    "sessionize_scalable_events": ("sum_value",),
    "interval_join_rollup_events": ("sum_value",),
    "fill_gaps_hourly_events": ("sum_value",),
    "daily_anomalies_events": ("day_sum",),
    "grouped_topk_revenue_lineitem": ("revenue",),
    "salted_join_revenue": ("revenue",),
    "streaming_session_rollup_events": ("sum_value",),
    "streaming_windowed_counts_events": ("value_sum",),
    "tpch_q1_pricing_summary": (
        "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
    ),
    "tpch_q3_shipping_priority": ("revenue",),
    "tpch_q6_forecast_revenue": ("revenue",),
    "tpch_q10_returned_items": ("revenue",),
    "tpch_q14_promo_revenue": ("promo_rev", "total_rev"),
    "tpch_q19_special_revenue": ("revenue",),
    "tpch_q5_local_supplier_volume": ("revenue",),
    "tpch_q18_large_volume_customer": ("sum_qty",),
    "tpch_q2_min_cost_supplier": ("min_cost",),
    "tpch_q7_volume_shipping": ("revenue",),
    "tpch_q8_market_share": ("nation_rev", "total_rev"),
    "tpch_q9_product_profit": ("sum_profit",),
    "tpch_q11_important_parts": ("value",),
    "tpch_q15_top_supplier": ("total_revenue",),
    "tpch_q17_small_qty_revenue": ("total_rev",),
    "tpch_q22_sales_opportunity": ("totacctbal",),
}


def _cast_output_double(
    entry: tuple[Callable, str | None], cols: tuple[str, ...]
) -> tuple[Callable, str | None]:
    """Final-projection DOUBLE cast applied identically to both twins."""
    fn, sql = entry

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        out = df.select(
            *[
                F.col(c).cast("double").alias(c) if c in cols else F.col(c)
                for c in df.columns
            ]
        )
        deps = getattr(df, "_pgvs_cached_deps", ())
        if deps:  # keep tagged intermediates visible through the cast
            out._pgvs_cached_deps = deps
        return out

    if sql is not None:
        repl = ", ".join(f"CAST({c} AS DOUBLE) AS {c}" for c in cols)
        sql = f"SELECT * REPLACE ({repl}) FROM ({sql}) _dbl"
    return run, sql


#: name -> the last returned DataFrame that tagged persisted deps.
#: Bounds cached-intermediate growth in ANY long-lived caller (driver,
#: bench, sweep, user session): re-invoking a registered query first
#: unpersists the previous invocation's tagged intermediates (LSH pair
#: streams, signatures), so storage holds at most one live generation
#: per query instead of one per call.
_LIVE_TAGGED: dict[str, DataFrame] = {}


def _release_prev_generation(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    from pgverify_spark.operators.util import release_cached_deps

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        prev = _LIVE_TAGGED.pop(name, None)
        if prev is not None:
            release_cached_deps(prev)
        df = fn(spark, sf_dir)
        if getattr(df, "_pgvs_cached_deps", ()):
            _LIVE_TAGGED[name] = df
        return df

    return run


def _merged_entries() -> dict[str, tuple[Callable, str | None]]:
    """All registered entries in BASE registration order — the stable
    order the staleness rotation ties break on (rotation.py reads this;
    ``_entries`` applies ``_DRIVER_PRIORITY`` on top)."""
    merged = {
        **_fingerprint_entries(),
        **_file_roundtrip_entries(),
        **_type_matrix_entry(),
        **_diff_entries(),
        **_report_entry(),
        **_multiformat_report_entry(),
        **_pipeline_entries(),
        **_streaming_entry(),
    }
    for name, cols in _DOUBLE_OUTPUT_COLS.items():
        if name in merged:
            merged[name] = _cast_output_double(merged[name], cols)
    return {
        name: (_release_prev_generation(name, fn), sql)
        for name, (fn, sql) in merged.items()
    }


def _entries() -> dict[str, tuple[Callable, str | None]]:
    merged = _merged_entries()
    out = {name: merged[name] for name in _DRIVER_PRIORITY if name in merged}
    out.update((name, v) for name, v in merged.items() if name not in out)
    return out


#: Queries timed by bench.py (the perf-representative subset).
HEADLINE_QUERIES = (
    "full_fingerprint_lineitem",
    "bucketed_fingerprint_lineitem",
    "bookend_fingerprint_lineitem",
    "sparse_fingerprint_lineitem",
    "rowcount_fingerprint_lineitem",
    "full_fingerprint_orders",
    "row_diff_orders",
    "verify_report_two_targets",
    "verify_report_lineitem_pair",
    "minhash_lsh_pairs_documents",
    "ngram_jaccard_pairs_documents",
    "simhash_near_pairs_documents",
    "cosine_topk_embeddings",
    "text_stats_documents",
    "multimodal_features_documents",
    "hourly_rollup_events",
    "asof_join_events",
    "contamination_pairs_documents",
    "partitioned_fingerprint_events",
    "tfidf_top_terms_documents",
    "bigram_lm_scores_documents",
    "bloom_decontaminate_documents",
    "incremental_dedup_documents",
    "semantic_dup_pairs_documents",
    "funnel_events",
    "kmv_distinct_documents",
    "hll_distinct_orders",
    "hll_distinct_daily_events",
    "heavy_hitters_lineitem",
    "fuzzy_join_pairs_part",
    "quantized_topk_embeddings",
    "interval_join_rollup_events",
    "pack_sequences_documents",
    "grouped_topk_revenue_lineitem",
    "cohort_retention_events",
    "drilldown_row_diff_events",
    "assign_shards_documents",
    "near_dedup_filter_documents",
    "semantic_dedup_filter_documents",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    # round-3 additions
    "corpus_dedup_lines_documents",
    "gopher_gate_documents",
    "constraint_report_orders",
    "countmin_freq_events",
    "column_diff_orders",
    "distribution_drift_orders",
    "hashed_text_topk_documents",
    "fill_gaps_hourly_events",
    "debounce_events",
    "reservoir_sample_events",
    "near_dedup_filter_best_documents",
    "bpe_pair_counts_documents",
    "sampled_quantiles_by_lang_documents",
    "snapshot_verify_events",
    "strip_html_documents",
    "clean_web_corpus_documents",
    # round-4 additions (lineitem-scanning anchors + the skew variant)
    "tpch_q4_order_priority",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q13_customer_distribution",
    "sessionize_scalable_events",
    "pq_topk_embeddings",
    "ivfpq_topk_embeddings",
    "dataset_card_documents",
    "multimodal_image_ahash_documents",
    # round-5 additions: the ANN deploy shape (probe vs persisted index)
    # plus the heaviest of the completing TPC-H anchors (fact-scale
    # multi-join, dual-fact semi/anti, correlated-MIN join-back)
    "ivfpq_probe_index_embeddings",
    "tpch_q2_min_cost_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    # round-6 additions: the composed curation flagship + BPE apply
    "curate_corpus_documents",
    "bpe_apply_documents",
    # round-8 additions: the live-Derby verify (memoized DB load, so
    # min-of-two times the probe), the curation funnel report, and the
    # iterative BPE learner now that it has a recursive-CTE twin
    "verify_report_parquet_vs_jdbc",
    "curate_corpus_report_documents",
    "bpe_merges_documents",
    # round-9 additions (verify_report_derived_view stays out like its
    # sibling verify_report_parquet_vs_csv: per-call CSV export vs a
    # scalar-only twin is not a comparable timing)
    "rollup_ivm_events",
    "contamination_spans_documents",
    "pagerank_term_graph_documents",
    "kmv_shingle_overlap_documents",
    "kmv_join_overlap_orders_customer",
    "zorder_key_events",
    "curation_audit_documents",
    # round-10 additions: the weighted/personalized walks, the
    # rewritten distributed-exact equidepth, the repair execution, the
    # CUSUM monitor, and the verified-delete protocol (asymmetric twin
    # like rollup_ivm: the oracle states the correct end state, Spark
    # runs the real delete+splice+verify; verify_report_view_
    # parquet_vs_orc and streaming_ingest_compact stay out like their
    # per-call-export / streaming-machinery siblings)
    "pagerank_weighted_term_graph_documents",
    "pagerank_personalized_term_graph_documents",
    "equidepth_histogram_orders",
    "repair_apply_orders",
    "cusum_changepoints_events",
    "verified_delete_orders",
    "triangle_counts_documents",
    "quarantine_rows_orders",
    "shard_manifest_documents",
    "incident_report_events",
    # late-round-10 additions (the HLL twins are earlier, beside KMV)
    "attribution_events",
    "scd2_point_in_time_events",
    "k_core_documents",
    "hll_ivm_events",
    "hll_range_rollup_events",
    "attribution_multi_touch_events",
    "hll_overlap_events",
    "attribution_position_events",
    "hll_trailing_wau_events",
    "json_profile_events",
    "attribution_report_events",
    "equiwidth_histogram_orders",
    # round-11 additions: the tokenizer round-trip audit, the
    # mergeable-quantile IVM pair (asymmetric twins like rollup_ivm:
    # Spark times the memoized-state UPDATE/merge, the oracle a
    # from-scratch sample), and the streaming SCD2 twin stays out like
    # the other streaming-machinery entries (micro-batch replay is not
    # a comparable timing)
    "bpe_roundtrip_documents",
    "quantile_ivm_events",
    "quantile_range_rollup_events",
    "generation_diff_orders",
    "quantile_trailing_events",
    # round-12 additions: the KMV-capped IVM (flat per-day state), the
    # live-JDBC-delta splice (memoized Derby load, so min-of-N times
    # the JDBC read + splice, not the one-time DB build), and the
    # capped trailing window (streaming capped twin stays out like its
    # streaming-machinery siblings)
    "quantile_ivm_capped_events",
    "quantile_ivm_jdbc_events",
    "quantile_trailing_capped_events",
    # round-12b additions: corpus-internal exact-substring mining (the
    # whole-corpus self-comparison — no broadcast-able side, the
    # heaviest dedup shape) and the grace-window time-travel read
    # (memoized store after the first call, like generation_diff)
    "repeated_spans_documents",
    "cut_repeated_spans_documents",
    "timetravel_read_orders",
)


def bench_oracle_setup() -> dict[str, tuple[tuple[str, ...], str]]:
    """Probe-only DuckDB twins for the stored-index ANN headline rows:
    name -> (setup statements run ONCE untimed, the timed probe SQL).

    The Spark side of these entries probes a memoized stored index
    (_pq_stored / _IVFPQ_REG_INDEX), so timing the full self-contained
    oracle_sql() — which re-encodes the corpus per run — would compare
    Spark's probe against DuckDB's build+probe and flatter the ratio
    (r5 ADVICE item 1).  bench.py runs the setup once per session and
    times the probe twin; the registry's oracle_sql() stays the full
    self-contained build (what the correctness driver hash-compares).
    """
    from pgverify_spark.operators.fingerprint import (
        partition_diff_oracle_sql,
        partitioned_fingerprint_oracle_sql,
    )

    qids = (0, 1, 2, 3, 4)
    setup = (
        "CREATE TEMP TABLE IF NOT EXISTS bench_pq_cb AS "
        + similarity.pq_codebook_oracle_sql("embeddings"),
        "CREATE TEMP TABLE IF NOT EXISTS bench_pq_enc AS "
        + similarity.pq_encode_oracle_sql("embeddings"),
        "CREATE TEMP TABLE IF NOT EXISTS bench_ivfpq_cells AS "
        + similarity.ivfpq_cells_oracle_sql("embeddings"),
        "CREATE TEMP TABLE IF NOT EXISTS bench_lm_model AS "
        + lm.bigram_model_oracle_sql("documents"),
        "CREATE TEMP TABLE IF NOT EXISTS bench_snap_state AS "
        + partitioned_fingerprint_oracle_sql(
            "events", TESTDATA_TABLES["events"]
        ),
    )
    pq_probe = similarity.pq_topk_oracle_sql(
        "embeddings", qids, 10,
        enc_sql="SELECT * FROM bench_pq_enc",
        cb_sql="SELECT * FROM bench_pq_cb",
    )
    ivfpq_probe = similarity.ivfpq_topk_oracle_sql(
        "embeddings", qids, 10, 2,
        cells_sql="SELECT * FROM bench_ivfpq_cells",
        cb_sql="SELECT * FROM bench_pq_cb",
    )
    lm_probe = lm.bigram_lm_scores_oracle_sql(
        "documents", model_sql="SELECT * FROM bench_lm_model"
    )
    day_duck = "CAST(epoch_us(ts) // 86400000000 AS BIGINT)"
    right_sql = (
        "(SELECT event_id, ts, user_id, event_type, "
        f"CASE WHEN {day_duck} = 19723 AND event_id % 11 = 0 "
        "THEN value + 1 ELSE value END AS value, "
        f"props FROM events WHERE {day_duck} <> 19724)"
    )
    snap_probe = partition_diff_oracle_sql(
        "events", right_sql, TESTDATA_TABLES["events"],
        left_sql="SELECT * FROM bench_snap_state",
    )
    # r9 amendment (mirrors the r6 stored-index one): the Spark curate
    # entries now session-memoize their pipeline (_CURATE_PIPE_CACHE),
    # so their min-of-two times the memoized path; the DuckDB twins get
    # the same treatment — every pipeline stage is materialized ONCE
    # untimed as a temp table (stage SQL references previous stages by
    # name, so the certified CTE chain and this setup share one source,
    # _curate_stage_sqls) and the timed SQL is the final pack / report
    # aggregate only.  Ratios for these two rows are incremental-vs-
    # incremental from r9 on.
    from pgverify_spark.operators import prep as _prep

    curate_setup = tuple(
        f"CREATE TEMP TABLE IF NOT EXISTS {name} AS {sql}"
        for name, sql, _mat in _curate_stage_sqls()
    )
    setup = setup + curate_setup
    curate_probe = (
        "SELECT source AS split, bin, n_docs, bin_tokens FROM "
        f"({_prep.pack_sequences_oracle_sql('splitdoc', 512)}) packed"
    )
    curate_report_probe = f"WITH {_curate_report_body_sql()}"
    # r9: the Spark rollup_ivm entry memoizes the initial rollup state
    # per sf_dir (_ROLLUP_IVM_STORE) and its min-of-two times the SPLICE
    # only; the fair twin therefore materializes the base state once
    # untimed and times the same incremental work — keep the untouched
    # days + re-aggregate the touched days from the delta (the full
    # self-contained oracle_sql() stays the from-scratch recompute the
    # correctness driver hash-compares).
    setup = setup + (
        "CREATE TEMP TABLE IF NOT EXISTS bench_rollup_ivm_state AS "
        + rollup.rollup_ivm_oracle_sql("events"),
    )
    ivm_delta = (
        f"SELECT * FROM {right_sql} r2 "
        f"WHERE {day_duck} IN (19723, 19724)"
    )
    ivm_probe = (
        # same terminal DOUBLE cast _cast_output_double applies to the
        # registered twin (sum_value is DECIMAL internally)
        "SELECT * REPLACE (CAST(sum_value AS DOUBLE) AS sum_value) FROM ("
        "SELECT * FROM bench_rollup_ivm_state "
        "WHERE CAST(hour_bucket // 24 AS BIGINT) NOT IN (19723, 19724) "
        "UNION ALL " + rollup.rollup_ivm_oracle_sql(f"({ivm_delta}) d") + ") u"
    )
    return {
        "rollup_ivm_events": (setup, ivm_probe),
        "curation_audit_documents": (setup, _curation_audit_body_sql()),
        "pq_topk_embeddings": (setup, pq_probe),
        "ivfpq_topk_embeddings": (setup, ivfpq_probe),
        "ivfpq_probe_index_embeddings": (setup, ivfpq_probe),
        "bigram_lm_scores_documents": (setup, lm_probe),
        "snapshot_verify_events": (setup, snap_probe),
        "curate_corpus_documents": (setup, curate_probe),
        "curate_corpus_report_documents": (setup, curate_report_probe),
    }


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _entries().items()}


def oracle_queries() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _entries().items() if sql is not None}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verification report over every testdata table: (tbl, mode, fp)."""
    target = ParquetTarget("testdata", sf_dir)
    parts = []
    for table in target.list_tables():
        df = target.read(spark, table)
        schema = target.table_schema(spark, table)
        for mode in ("full", "rowcount"):
            parts.append(
                FINGERPRINT_OPS[mode](df, schema, _CFG).select(
                    F.lit(table).alias("tbl"), F.lit(mode).alias("mode"), "fp"
                )
            )
    return reduce(DataFrame.unionByName, parts)
