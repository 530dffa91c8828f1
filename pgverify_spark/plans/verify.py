"""Verification orchestrator — the reference's top-level workflow in Spark.

Reference flow (``verify.go:23-88``): connect to every target, fan out one
goroutine per target, per table introspect columns + run each test mode,
merge scalar outputs into a mutex-guarded ``Results`` map, then check
consistency and render a pivoted report.

Spark inversion: each (target, table) computes its fingerprints as one
1-row DataFrame, one ``fp_<mode>`` column per mode, turned into one row
per cell by ``stack``; all of them are combined with ``unionByName`` into
ONE logical plan, so a single action executes every fingerprint and
Spark's scheduler provides the cross-target/cross-table parallelism the
reference got from goroutines (``verify.go:66-77``).  The merge step
(``results.go:46-69``) disappears into the union; the consistency check
(``results.go:72-98``) becomes a grouped distinct-count; the ASCII report
(``results.go:101-166``) becomes a pivot.

Scale: the reference runs one in-database scan per (table, mode).  Here
each table is read once per target, and its fusable modes share one scan
and one aggregate (``fingerprint.fused_fingerprints``): on a small table
all four default modes, on a large one full, rowcount and additive, while
bookend keeps its top-K plan and sparse its filter-first plan.  Each
fused group is one union branch, so its final reduce runs once for all
of its cells.  Like the reference, which builds its fingerprint SQL on
every run, each ``verify()`` call builds its plans afresh and keeps
nothing between calls.
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgverify_spark.config import ERROR_OUTPUT, VerifyConfig
from pgverify_spark.operators.fingerprint import (
    FINGERPRINT_OPS,
    fusable_modes,
    fused_fingerprints,
)
from pgverify_spark.session import ensure_required_confs
from pgverify_spark.sources.parquet import ParquetTarget
from pgverify_spark.sources.schemas import TableSchema

RESULT_COLUMNS = ("target", "schema", "tbl", "mode", "output")


@dataclass
class VerifyResult:
    """Collected verification outcome (the reference's Results + errors)."""

    results: DataFrame  # (target, schema, tbl, mode, output)
    errors: list[str]
    #: the already-collected result rows — report() pivots these
    #: directly instead of re-collecting ``results`` (one scalar per
    #: cell by construction; re-collecting a local relation schedules a
    #: real job for nothing)
    rows: list

    @property
    def ok(self) -> bool:
        return not self.errors

    def report(self) -> DataFrame:
        """Pivoted report without re-collecting the local results
        relation (``WriteAsTable``, results.go:101-166)."""
        return _report_from_rows(self.results.sparkSession, self.rows)


#: (target, schema, table, mode) identity of one result cell.
Cell = tuple[str, str, str, str]
#: One union branch: the cells it computes and its
#: (target, schema, tbl, mode, output) relation, one row per cell.
Branch = tuple[tuple[Cell, ...], DataFrame]

_RESULT_DDL = "target string, schema string, tbl string, mode string, output string"


def _fingerprint_groups(
    df: DataFrame, schema: TableSchema, config: VerifyConfig
) -> list[tuple[tuple[str, ...], DataFrame]]:
    """One table's fingerprints as (modes, 1-row ``fp_<mode>`` relation)
    groups.  When more than one requested mode is fusable on this input
    (``fingerprint.fusable_modes``) they form one group (one scan, one
    aggregate); every other mode is a group of its own."""
    fusable = fusable_modes(df, config)
    fused = tuple(m for m in config.test_modes if m in fusable)
    groups = []
    if len(fused) > 1:
        groups.append((fused, fused_fingerprints(df, schema, config, fused)))
    else:
        fused = ()
    for mode in config.test_modes:
        if mode not in fused:
            fp = FINGERPRINT_OPS[mode](df, schema, config)
            groups.append(((mode,), fp.selectExpr(f"fp AS fp_{mode}")))
    return groups


def _check_schema_protocol(target) -> None:
    """Raise when ``target.table_schema`` cannot take the ``df`` that
    verify passes it.  A target written against the older
    ``table_schema(spark, table)`` signature would otherwise fail inside
    the per-table error handling and read "(err)" in every cell with no
    cause recorded."""
    params = inspect.signature(target.table_schema).parameters.values()
    if not any(p.name == "df" or p.kind is p.VAR_KEYWORD for p in params):
        raise TypeError(
            f"{type(target).__name__}.table_schema must accept a df keyword "
            "argument: verify calls table_schema(spark, table, df=df) with "
            "the DataFrame it read the table into"
        )


def _target_results(
    spark: SparkSession,
    target: ParquetTarget,
    config: VerifyConfig,
    name: str | None = None,
) -> list[Branch]:
    """Per-target union branches (runTestsOnTarget, verify.go:90-106),
    each carrying its cells' identities so a runtime failure can be
    pinned to them (the reference seeds every cell with "(err)" up front
    for the same reason, verify.go:108-136).  ``name`` is the reporting
    name (the configured alias when present, verify.go:46-48)."""
    name = target.name if name is None else name
    if not getattr(target, "use_pushdown", False):
        _check_schema_protocol(target)
    branches: list[Branch] = []

    def local(table, outputs):
        # a branch whose outputs are already known: pushdown scalars or
        # the seeded "(err)" of a table that failed before execution
        cells = tuple((name, target.schema, table, m) for m in outputs)
        rows = [(*cell, outputs[cell[3]]) for cell in cells]
        return cells, spark.createDataFrame(rows, _RESULT_DDL)

    for table in target.list_tables(spark, config):
        if getattr(target, "use_pushdown", False):
            # Reference-style execution: the fingerprint SQL runs inside
            # the target database and one scalar comes back per cell
            # (sources/pushdown.py); Spark never reads the table.  Modes
            # the PG builders don't cover fall through to "(err)".
            outputs = {}
            for mode in config.test_modes:
                try:
                    outputs[mode] = target.pushdown_fingerprint(
                        spark, table, mode, config
                    )
                except Exception:
                    outputs[mode] = ERROR_OUTPUT
            branches.append(local(table, outputs))
            continue

        try:
            # one read per (target, table): the schema is introspected
            # from the same DataFrame the fingerprints scan
            df = target.read(spark, table)
            schema = target.table_schema(spark, table, df=df)
            groups = _fingerprint_groups(df, schema, config)
        except Exception:
            # read / schema inference / plan build already failed (missing
            # PK, corrupt footer, unsupported type): the reference skips
            # the table with an error, leaving the seeded "(err)" output
            # in place (verify.go:108-136, 194-198)
            branches.append(
                local(table, dict.fromkeys(config.test_modes, ERROR_OUTPUT))
            )
            continue
        for modes, fp_df in groups:
            pairs = ", ".join(f"'{m}', fp_{m}" for m in modes)
            branches.append((
                tuple((name, target.schema, table, m) for m in modes),
                fp_df.select(
                    F.lit(name).alias("target"),
                    F.lit(target.schema).alias("schema"),
                    F.lit(table).alias("tbl"),
                    F.expr(f"stack({len(modes)}, {pairs}) AS (mode, output)"),
                ),
            ))
    return branches


def verify(
    spark: SparkSession,
    targets: list[ParquetTarget],
    config: VerifyConfig | None = None,
) -> VerifyResult:
    """Run every (target, table, mode) fingerprint and check consistency.

    A target reads each table once: ``read(spark, table)``, then
    ``table_schema(spark, table, df=...)`` over that DataFrame (every
    in-package target accepts ``df``; a duck-typed target must too, and
    verify raises ``TypeError`` up front when it does not).
    Pushdown targets (``use_pushdown``) answer
    ``pushdown_fingerprint(spark, table, mode, config)`` instead.
    Each call lists and reads the files as they are when it runs."""
    ensure_required_confs(spark)
    config = config or VerifyConfig()
    config.validate()
    # Per-target plan build fans out on driver threads — the reference's
    # goroutine-per-target (verify.go:66-77).  Execution parallelism comes
    # from Spark regardless; this overlaps the *metadata* work (JDBC
    # catalog/PK introspection round-trips, parquet footer reads), which
    # is serial, driver-side latency otherwise.
    from concurrent.futures import ThreadPoolExecutor

    # Reporting names: the configured aliases when the count matches the
    # target count, else the targets' own names (config.go:59-62,
    # verify.go:46-48 — a mismatched alias list is ignored).
    if config.aliases and len(config.aliases) == len(targets):
        names = list(config.aliases)
    else:
        names = [t.name for t in targets]
    branches: list[Branch] = []
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(targets)))) as pool:
        for sub in pool.map(
            lambda tn: _target_results(spark, tn[0], config, tn[1]),
            zip(targets, names),
        ):
            branches.extend(sub)
    if not branches:
        raise ValueError("no tables to verify")
    plan = reduce(DataFrame.unionByName, [df for _, df in branches])
    # One action executes every fingerprint (the union's independent
    # branches run as concurrent stages).  The outcome is tiny by
    # construction — one scalar per (target, table, mode) — so collect it
    # and hand downstream consumers (error check, report pivot) a local
    # DataFrame; otherwise each consumer's action would re-execute every
    # fingerprint scan.
    try:
        rows = plan.collect()
    except Exception:
        # A runtime failure (corrupt file, unreadable column) aborts the
        # whole union action; re-run branches individually so the failure
        # is pinned to its branch's cells as the "(err)" sentinel while
        # every healthy cell still reports — the reference's seeded-error
        # semantics (results.go:12, verify.go:131).
        rows = []
        for cells, df in branches:
            try:
                rows.extend(df.collect())
            except Exception:
                rows.extend((*cell, ERROR_OUTPUT) for cell in cells)
    results = spark.createDataFrame([tuple(r) for r in rows], _RESULT_DDL)
    # Error-check the rows already in hand — re-collecting the local
    # relation would launch a (tiny but real) extra Spark job.
    errors = _errors_from_rows(rows, expected_targets=names)
    return VerifyResult(results=results, errors=errors, rows=rows)


def check_for_errors(results: DataFrame, expected_targets: list[str]) -> list[str]:
    """Consistency check (``(*Results).CheckForErrors``, results.go:72-98).

    Errors when a (schema, tbl, mode) cell has >1 distinct output, a
    target is missing, or any output is the ``(err)`` sentinel.  The
    result set is one scalar per (target, table, mode) by construction,
    so the check is plain driver-side Python — launching Spark jobs over
    a dozen rows would cost more in scheduling than the work itself.
    """
    return _errors_from_rows(results.collect(), expected_targets)


def _errors_from_rows(rows, expected_targets: list[str]) -> list[str]:
    """check_for_errors over already-collected (target, schema, tbl,
    mode, output) rows — Row objects or plain tuples (the cell-pinned
    error fallback emits tuples), hence positional access."""
    cells: dict[tuple[str, str, str], tuple[set, set]] = {}
    for r in rows:
        target, schema, tbl, mode, output = r[0], r[1], r[2], r[3], r[4]
        targets, outputs = cells.setdefault((schema, tbl, mode), (set(), set()))
        targets.add(target)
        outputs.add(output)
    errors: list[str] = []
    for (schema, tbl, mode), (targets, outputs) in sorted(cells.items()):
        cell = f"{schema}.{tbl} mode={mode}"
        if ERROR_OUTPUT in outputs:
            errors.append(
                f"{cell}: test failed on at least one target ({sorted(targets)})"
            )
        if len(outputs) > 1:
            errors.append(f"{cell}: outputs differ across targets: {sorted(outputs)}")
        if len(targets) < len(expected_targets):
            missing = sorted(set(expected_targets) - targets)
            errors.append(f"{cell}: missing targets {missing}")
    return errors


def report_table(results: DataFrame) -> DataFrame:
    """Pivoted report: one row per (schema, tbl, target), one column per
    mode, sorted on all columns (``WriteAsTable``, results.go:101-166).

    Pivoted driver-side: ``groupBy().pivot()`` without explicit values
    runs an extra distinct job just to discover the mode columns, and the
    input is a tiny scalar-per-cell set by construction.
    """
    return _report_from_rows(results.sparkSession, results.collect())


def _report_from_rows(spark: SparkSession, rows) -> DataFrame:
    """Pivot already-collected (target, schema, tbl, mode, output) rows
    (Row objects or plain tuples, hence positional access)."""
    modes = sorted({r[3] for r in rows})
    cells: dict[tuple[str, str, str], dict[str, str]] = {}
    for r in rows:
        cells.setdefault((r[1], r[2], r[0]), {})[r[3]] = r[4]
    out = sorted(
        ((*key, *[cell.get(m) for m in modes]) for key, cell in cells.items()),
        key=lambda t: tuple((v is None, v) for v in t),
    )
    fields = ", ".join(
        f"{name} string" for name in ("schema", "tbl", "target", *modes)
    )
    return spark.createDataFrame(out, fields)
