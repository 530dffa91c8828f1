"""Command-line interface — mirrors the reference's flag surface.

Reference: ``cmd/pgverify/cmd.go:22-44`` (targets as positional URIs,
include/exclude schema/table/column, tests, bookend-limit, sparse-mod,
aliases, timestamp-precision, hash-primary-keys).  Targets here are
directories of parquet files, ``<format>:<dir>`` URIs over Spark's
other file sources (``csv:/data/export``, ``json:...``, ``orc:...``,
with ``--schemas`` supplying explicit DDL for the text formats), or
``jdbc:`` URLs; the report table always prints, pass or fail
(``cmd.go:102-105``).

Usage::

    python -m pgverify_spark.cli /data/copyA /data/copyB \
        --tests full,rowcount --bookend-limit 500 --aliases a,b
    python -m pgverify_spark.cli /data/parquet csv:/data/export \
        --schemas schemas.json --tests full,rowcount
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from pgverify_spark.config import VerifyConfig
from pgverify_spark.plans.verify import verify
from pgverify_spark.session import get_spark
from pgverify_spark.sources.jdbc import JDBCTarget
from pgverify_spark.sources.parquet import ParquetTarget


def _csv(s: str) -> tuple[str, ...]:
    return tuple(x for x in s.split(",") if x)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pgverify-spark",
        description="Verify table consistency across data targets (Spark-native).",
    )
    p.add_argument("targets", nargs="+", help="parquet directories or jdbc: URLs")
    p.add_argument("--aliases", type=_csv, default=(), help="display names, comma-separated")
    p.add_argument("--tests", type=_csv, default=(), help="full,bookend,sparse,rowcount,bucketed,additive,cardinality")
    p.add_argument("--include-tables", type=_csv, default=())
    p.add_argument("--exclude-tables", type=_csv, default=())
    p.add_argument("--include-schemas", type=_csv, default=())
    p.add_argument("--exclude-schemas", type=_csv, default=())
    p.add_argument("--include-columns", type=_csv, default=())
    p.add_argument("--exclude-columns", type=_csv, default=())
    p.add_argument(
        "--bookend-limit", type=int, default=1000,
        help="only check the first and last N rows (with --tests=bookend)",
    )
    p.add_argument(
        "--sparse-mod", type=int, default=10,
        help="only check every Nth row (with --tests=sparse)",
    )
    # reference spelling is --tz-precision (cmd.go:31); keep the longer
    # alias this CLI shipped with
    p.add_argument(
        "--tz-precision", "--timestamp-precision",
        dest="timestamp_precision", default="milliseconds",
        help="precision level to use when comparing timestamps",
    )
    p.add_argument(
        "--hash-primary-keys", action="store_true",
        help="hash primary key values before comparing them (useful for TEXT primary keys)",
    )
    p.add_argument(
        "--no-full-stream-hash", action="store_false",
        dest="full_stream_hash",
        help="take the final md5 of exact 'full' (and large 'sparse' and "
        "per-partition) fingerprints in a JVM aggregate instead of the "
        "default streamed Python (mapInPandas) stage. The default needs "
        "a pyspark-capable Python on every EXECUTOR; pass this on "
        "JVM-only executor deployments (byte-identical digests; the "
        "aggregate holds the whole ~32 B/row concat in one task, so "
        "prefer --tests bucketed beyond ~10^8 rows)",
    )
    p.add_argument(
        "--level", default="info",
        help="logging level (spark log level: debug,info,warn,error)",
    )
    p.add_argument(
        "--pushdown",
        action="store_true",
        help="run fingerprint SQL inside jdbc: targets (reference-style; "
        "one scalar over the wire) instead of reading rows into Spark",
    )
    p.add_argument(
        "--snapshot-dir",
        metavar="DIR",
        help="incremental verification state: first run writes per-table "
        "partition-fingerprint snapshots under DIR; later runs compare "
        "the (first) target against the stored state and report only "
        "changed partitions — no second target needed (see "
        "operators/fingerprint.py:write_fingerprint_snapshot)",
    )
    p.add_argument(
        "--snapshot-refresh",
        type=_csv,
        metavar="PART1,PART2[,...]",
        help="with --snapshot-dir: instead of verifying, splice-refresh "
        "the stored state for ONLY these partition values (yesterday's "
        "ingest touched days D — refresh D, rescan nothing else; "
        "numeric-looking values compare as numbers)",
    )
    p.add_argument(
        "--repair-out",
        metavar="DIR",
        help="with exactly two targets: after the verify report, write "
        "a REPAIRED copy of each mismatching table under DIR — the "
        "second target's rows with every differing primary key replaced "
        "by the first target's rows (operators/diff.py:apply_repair); "
        "the anti-entropy follow-through the reference's report stops "
        "short of",
    )
    p.add_argument(
        "--constraints",
        metavar="FILE",
        help="JSON file {table: [constraint specs]} — additionally run "
        "the declarative data-quality suite on every target and fail "
        "the run on any failing check (see operators/constraints.py)",
    )
    p.add_argument(
        "--jdbc-catalog",
        metavar="FILE",
        help="JSON catalog for jdbc: targets whose database lacks "
        "PostgreSQL-style information_schema (embedded Derby/H2): "
        '{"tables": {"orders": ["o_orderkey"], ...}, "db_schema": "APP", '
        '"partition_columns": {"orders": "o_orderkey"}} '
        "— declares the table list and per-table primary keys "
        "(short-circuits introspection), the physical schema to "
        "qualify SQL with while the report stays labeled 'public', and "
        "optionally a numeric column per table for the parallel "
        "bounds-pushdown read (N concurrent JDBC connections)",
    )
    p.add_argument(
        "--zorder",
        type=_csv,
        metavar="COL1,COL2[,...]",
        help="LAYOUT MODE: instead of verifying, rewrite each table of "
        "the (first) target clustered on the Morton curve of these "
        "columns and exit — multi-dimensional row-group skipping for "
        "conjunctive box predicates (sources/zorder.py). Requires "
        "--zorder-out; honors --include-tables/--exclude-tables",
    )
    p.add_argument(
        "--zorder-out",
        metavar="DIR",
        help="output directory for --zorder (one parquet dir per table)",
    )
    p.add_argument(
        "--zorder-bits", type=int, default=8,
        help="quantization bits per z-ordered column (default 8: 256 "
        "levels per dimension)",
    )
    p.add_argument(
        "--zorder-quantize", choices=("equidepth", "linear"), default="equidepth",
        help="quantization: equidepth (percentile boundaries — robust "
        "to heavy-tailed columns, the default) or linear (min/max)",
    )
    p.add_argument(
        "--zorder-files", type=int, default=None,
        help="output file count for --zorder (default: cluster "
        "parallelism)",
    )
    p.add_argument(
        "--schemas",
        metavar="FILE",
        help="JSON file {table: spark DDL} applied to csv:/json: file "
        "targets (text formats have no authoritative schema; explicit "
        "types are the verification contract — inference can type-drift "
        "between exporters)",
    )
    return p


#: Failure signatures of a cluster whose EXECUTORS lack a
#: pyspark-capable Python.  By default every non-small
#: full/fused/sparse/partitioned fingerprint routes through an
#: Arrow-batched Python (mapInPandas) stage, so such deployments need
#: Python on every executor or the ``--no-full-stream-hash`` switch
#: (digests are byte-identical either way).
_PY_WORKER_MARKERS = (
    "Cannot run program",          # executor exec of python3 failed
    "Python worker",               # worker crashed / failed to connect
    "PythonArrowOutput",           # the mapInPandas stage's writer
    "PYSPARK_PYTHON",
)


def _rethrow_with_stream_hash_hint(exc: BaseException, config) -> None:
    """Re-raise ``exc``; when it looks like a missing-executor-Python
    failure AND the streamed reduce was selected, wrap it in a
    SystemExit explaining the fix (ADVICE r8) instead of leaving the
    user a bare JVM stack trace."""
    msg = f"{type(exc).__name__}: {exc}"
    if config.full_stream_hash and any(
        m in msg for m in _PY_WORKER_MARKERS
    ):
        raise SystemExit(
            "verify failed inside a Python (mapInPandas) stage — the "
            "default streamed 'full' fingerprint reduce requires a "
            "pyspark-capable Python on every EXECUTOR. Fix: install "
            "Python on the executors / set spark.pyspark.python (or "
            "PYSPARK_PYTHON), or pass --no-full-stream-hash to force "
            "the JVM-only aggregate (byte-identical digests; "
            "heap-bounded beyond ~10^8 rows). Underlying error: "
            f"{msg}"
        ) from exc
    raise exc


_JDBC_CATALOG_SHAPE = (
    'expected {"tables": {"<table>": ["<pk_col>", ...], ...}, '
    '"db_schema": "<physical schema>"} (db_schema optional; a table\'s '
    "pk list may be [] or null to fall back to introspection)"
)


def _validate_jdbc_catalog(cat, path: str):
    """Shape-check a --jdbc-catalog document after json.load (ADVICE
    r8): a string PK value would otherwise silently splat into
    per-character column names via ``tuple(pk)``, and a list-shaped
    ``tables`` would crash later on ``.items()`` with an unhelpful
    AttributeError.  Errors here match the scheme-error UX of
    ``build_targets``."""

    def bad(detail: str):
        raise SystemExit(f"invalid --jdbc-catalog {path!r}: {detail}; {_JDBC_CATALOG_SHAPE}")

    if not isinstance(cat, dict):
        bad(f"top level must be a JSON object, got {type(cat).__name__}")
    tables = cat.get("tables", {})
    if not isinstance(tables, dict):
        bad(f'"tables" must be an object of table -> list of PK columns, got {type(tables).__name__}')
    for t, pk in tables.items():
        if pk is None:
            continue
        if not isinstance(pk, list) or not all(isinstance(c, str) for c in pk):
            bad(f'primary key for table {t!r} must be a list of column-name strings, got {pk!r}')
    db_schema = cat.get("db_schema")
    if db_schema is not None and not isinstance(db_schema, str):
        bad(f'"db_schema" must be a string, got {type(db_schema).__name__}')
    pcols = cat.get("partition_columns", {})
    if not isinstance(pcols, dict) or not all(
        isinstance(t, str) and isinstance(c, str) for t, c in pcols.items()
    ):
        bad(
            '"partition_columns" must be an object of table -> column-name '
            f"string, got {pcols!r}"
        )
    return cat


def build_targets(
    aliases: list[str],
    uris: list[str],
    schemas: dict | None = None,
    pushdown: bool = False,
    jdbc_catalog: dict | None = None,
) -> list:
    """Map target URIs to source objects.

    ``jdbc:<url>`` -> JDBCTarget; ``csv:/json:/orc:<dir>`` -> FileTarget;
    ``parquet:<dir>`` or a bare directory path -> ParquetTarget.  Any
    OTHER scheme-looking prefix (a typo like ``cvs:/dir``, an unsupported
    format) that is not an existing local path errors here with the valid
    scheme list instead of falling through to ParquetTarget with the
    literal string as a path and failing later with a confusing
    directory-listing error (ADVICE r7).
    """
    schemas = schemas or {}
    targets = []
    for alias, uri in zip(aliases, uris):
        head, _, rest = uri.partition(":")
        if head == "jdbc" and rest:
            cat = jdbc_catalog or {}
            targets.append(
                JDBCTarget(
                    alias,
                    uri,
                    use_pushdown=pushdown,
                    tables=tuple(cat.get("tables", ())),
                    primary_keys={
                        t: tuple(pk) for t, pk in cat.get("tables", {}).items() if pk
                    },
                    partition_columns=dict(cat.get("partition_columns", {})),
                    db_schema=cat.get("db_schema"),
                )
            )
        elif head in ("csv", "json", "orc") and rest:
            # <format>:<dir> — a directory of <table>.<format> files
            # (the reference's heterogeneous-target comparison, mapped
            # to Spark's file sources; sources/files.py)
            from pgverify_spark.sources.files import FileTarget

            targets.append(FileTarget(alias, rest, format=head, schemas=schemas))
        elif head == "parquet" and rest:
            # accepted explicitly for symmetry with csv:/json:/orc:
            targets.append(ParquetTarget(alias, rest))
        else:
            # A scheme-less local path (which may legitimately contain
            # ':' on some filesystems) is only treated as parquet if it
            # exists or has no scheme shape.
            if (
                rest
                and re.fullmatch(r"[A-Za-z][A-Za-z0-9+.-]*", head)
                and not os.path.exists(uri)
            ):
                raise SystemExit(
                    f"unrecognized target scheme {head!r} in {uri!r}; "
                    "valid: jdbc:, parquet:, csv:, json:, orc:, or an "
                    "existing parquet directory path"
                )
            targets.append(ParquetTarget(alias, uri))
    return targets


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    kwargs = dict(
        include_tables=args.include_tables,
        exclude_tables=args.exclude_tables,
        include_schemas=args.include_schemas,
        exclude_schemas=args.exclude_schemas,
        include_columns=args.include_columns,
        exclude_columns=args.exclude_columns,
        bookend_limit=args.bookend_limit,
        sparse_mod=args.sparse_mod,
        timestamp_precision=args.timestamp_precision,
        hash_primary_keys=args.hash_primary_keys,
        full_stream_hash=args.full_stream_hash,
    )
    if args.tests:
        kwargs["test_modes"] = args.tests
    config = VerifyConfig(**kwargs)
    config.validate()

    aliases = list(args.aliases) + [
        f"target{i}" for i in range(len(args.aliases), len(args.targets))
    ]
    spark = get_spark("pgverify-spark-cli")
    spark.sparkContext.setLogLevel(args.level.upper())
    schemas = {}
    if args.schemas:
        import json

        with open(args.schemas) as fh:
            schemas = json.load(fh)
    jdbc_catalog = None
    if args.jdbc_catalog:
        import json

        with open(args.jdbc_catalog) as fh:
            jdbc_catalog = _validate_jdbc_catalog(json.load(fh), args.jdbc_catalog)
    targets = build_targets(
        aliases, args.targets, schemas, args.pushdown, jdbc_catalog
    )

    if args.zorder:
        # layout mode: rewrite, report, exit — no verify pass
        if not args.zorder_out:
            raise SystemExit("--zorder requires --zorder-out DIR")
        from pgverify_spark.sources.zorder import write_zordered

        target = targets[0]
        n_written = 0
        for table in target.list_tables(spark, config):
            df = target.read(spark, table)
            missing = [c for c in args.zorder if c not in df.columns]
            if missing:
                print(
                    f"-- zorder: skip table={table} "
                    f"(missing columns: {', '.join(missing)})"
                )
                continue
            out = os.path.join(args.zorder_out, table)
            write_zordered(
                df,
                list(args.zorder),
                out,
                bits=args.zorder_bits,
                files=args.zorder_files,
                quantize=args.zorder_quantize,
            )
            print(
                f"-- zorder: wrote table={table} cols={','.join(args.zorder)} "
                f"bits={args.zorder_bits} quantize={args.zorder_quantize} dir={out}"
            )
            n_written += 1
        if not n_written:
            print(
                "ERROR: --zorder wrote no tables (no table has all the "
                "named columns)",
                file=sys.stderr,
            )
        return 0 if n_written else 1

    if args.snapshot_refresh and not args.snapshot_dir:
        raise SystemExit("--snapshot-refresh requires --snapshot-dir DIR")

    snapshot_failures = 0
    if args.snapshot_dir:
        from pgverify_spark.operators.fingerprint import (
            content_bucket_sql,
            snapshot_affected_day_bounds,
            snapshot_catalog_unchanged,
            update_fingerprint_snapshot,
            verify_against_snapshot,
            write_fingerprint_snapshot,
        )

        target = targets[0]
        if args.snapshot_refresh:
            # maintenance mode: splice-refresh ONLY the named partitions
            # (the post-ingest step: yesterday touched days D, rescan D)
            parts = tuple(
                int(x) if re.fullmatch(r"-?\d+", x) else x
                for x in args.snapshot_refresh
            )
            for table in target.list_tables(spark, config):
                df = target.read(spark, table)
                tschema = target.table_schema(spark, table, df=df)
                psql = None if "ts" in df.columns else content_bucket_sql(tschema, config)
                state = os.path.join(args.snapshot_dir, table)
                if not os.path.isdir(state):
                    raise SystemExit(
                        f"--snapshot-refresh: no stored snapshot for table "
                        f"{table!r} under {args.snapshot_dir!r} (run once "
                        "without --snapshot-refresh to write it)"
                    )
                update_fingerprint_snapshot(
                    spark, df, tschema, state, parts, config, psql
                )
                print(
                    f"-- snapshot refreshed: table={table} "
                    f"partitions={','.join(map(str, parts))} dir={state}"
                )
            return 0
        for table in target.list_tables(spark, config):
            state = os.path.join(args.snapshot_dir, table)
            # DEFAULT fast path (before the DataFrame is even built):
            # when the stored file catalog (path+size+mtime) matches
            # the target's current files, the table is byte-unchanged
            # and the verify reports zero drift from METADATA ALONE —
            # no data file is opened, not even a schema footer (the
            # 100 TB no-op verify costs one directory listing).  Any
            # difference falls through to the real scan.
            from pgverify_spark.sources.parquet import ParquetTarget as _PT

            bounds = None
            if isinstance(target, _PT) and os.path.isdir(state):
                tdir = os.path.join(target.path, f"{table}.parquet")
                if snapshot_catalog_unchanged(spark, tdir, state):
                    print(
                        f"-- snapshot diff: table={table} "
                        "changed_partitions=0 (file catalog unchanged; "
                        "0 data files read)"
                    )
                    continue
                # SECOND fast path: changed files bound the affected
                # day range (stored per-file ranges for changed/removed
                # files, a delta-only scan for added ones) — the verify
                # rescans ONLY those partitions; the rest are
                # metadata-proven unchanged.
                bounds = snapshot_affected_day_bounds(spark, tdir, state)
            df = target.read(spark, table)
            tschema = target.table_schema(spark, table, df=df)
            # time tables partition by day; dimension tables by a
            # content-derived md5 bucket of the PK (stable across runs)
            psql = None if "ts" in df.columns else content_bucket_sql(tschema, config)
            if os.path.isdir(state):
                use_bounds = bounds if psql is None else None
                diff = verify_against_snapshot(
                    spark, df, tschema, state, config, psql,
                    part_between=use_bounds,
                )
                rows = diff.collect()
                scope = (
                    f" (scan bounded to days {use_bounds[0]}..{use_bounds[1]})"
                    if use_bounds is not None
                    else ""
                )
                print(
                    f"-- snapshot diff: table={table} "
                    f"changed_partitions={len(rows)}{scope}"
                )
                if rows:
                    diff.show(1000, truncate=False)
                snapshot_failures += len(rows)
            else:
                write_fingerprint_snapshot(df, tschema, state, config, psql)
                print(f"-- snapshot written: table={table} dir={state}")
        if snapshot_failures:
            # emitted whatever the target count: the snapshot component
            # contributes to the exit code below either way, and an
            # exit-1 with no stderr line would be unexplainable
            print(
                f"ERROR: {snapshot_failures} changed partition(s) since snapshot",
                file=sys.stderr,
            )
        if len(targets) == 1:
            return 1 if snapshot_failures else 0

    try:
        result = verify(spark, targets, config)
    except Exception as exc:  # noqa: BLE001 — rethrown unless hinted
        _rethrow_with_stream_hash_hint(exc, config)
    # report always prints, pass or fail (cmd.go:102-105); report()
    # pivots the already-collected rows without a re-collect job
    result.report().show(1000, truncate=False)
    for err in result.errors:
        print(f"ERROR: {err}", file=sys.stderr)

    if args.repair_out:
        if len(targets) != 2:
            raise SystemExit("--repair-out requires exactly two targets")
        from pgverify_spark.operators.diff import apply_repair

        # tables whose FINGERPRINTS disagree across the two targets —
        # keyed by (schema, tbl, mode) so same-named tables in different
        # schemas never merge, and error-sentinel cells are excluded: a
        # table that failed to READ on one side is a reported error
        # (printed above, nonzero exit), not a repairable fp mismatch —
        # re-reading it in apply_repair would just re-raise mid-run
        from pgverify_spark.config import ERROR_OUTPUT

        cells: dict[tuple, set] = {}
        errored: set = set()
        for r in result.rows:
            if r[4] == ERROR_OUTPUT:
                errored.add((r[1], r[2]))
            else:
                cells.setdefault((r[1], r[2], r[3]), set()).add(r[4])
        bad_tables = sorted({
            tbl for (s, tbl, _m), outs in cells.items()
            if len(outs) > 1 and (s, tbl) not in errored
        })
        for s_, table in sorted(errored):
            print(
                f"-- repair: table={s_}.{table} skipped (a target "
                "errored; fix the read error first)", file=sys.stderr
            )
        for table in bad_tables:
            left = targets[0].read(spark, table)
            right = targets[1].read(spark, table)
            tschema = targets[0].table_schema(spark, table, df=left)
            out = os.path.join(args.repair_out, table)
            apply_repair(left, right, tschema, config).write.mode(
                "overwrite"
            ).parquet(out)
            print(
                f"-- repair: table={table} repaired copy of "
                f"{targets[1].name} written to {out} (source of truth: "
                f"{targets[0].name})"
            )
        if not bad_tables:
            print("-- repair: no mismatching tables, nothing written")

    constraint_failures = 0
    if args.constraints:
        import json

        from pgverify_spark.operators.constraints import (
            constraint_report,
            suite_from_spec,
        )

        with open(args.constraints) as fh:
            spec = json.load(fh)
        for target in targets:
            for table, entries in spec.items():
                suite = suite_from_spec(entries)
                rows = constraint_report(target.read(spark, table), suite)
                print(f"-- constraints: target={target.name} table={table}")
                rows.show(1000, truncate=False)
                constraint_failures += sum(
                    1 for r in rows.collect() if r["status"] == "fail"
                )
        if constraint_failures:
            print(
                f"ERROR: {constraint_failures} constraint check(s) failed",
                file=sys.stderr,
            )
    return 1 if (result.errors or constraint_failures or snapshot_failures) else 0


if __name__ == "__main__":
    sys.exit(main())
