"""Parquet source: the file-based equivalent of a reference "target".

A reference target is a database endpoint (``verify.go:34-61``); here a
target is any directory of ``<table>.parquet`` files.  Catalog listing
(the reference's ``information_schema.tables`` scan, ``query.go:21-100``)
becomes a directory listing; schema introspection becomes parquet's
self-describing schema.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pgverify_spark.config import VerifyConfig
from pgverify_spark.session import ensure_required_confs
from pgverify_spark.sources.schemas import TESTDATA_TABLES, TableSchema, logical_types


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one testdata table by name."""
    ensure_required_confs(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


@dataclass
class ParquetTarget:
    """A directory of ``<table>.parquet`` files with per-table PK config.

    ``pks`` maps table → primary key columns; tables absent from the map
    fall back to ``TESTDATA_TABLES`` and otherwise are skipped with an
    error, mirroring the reference's no-PK skip (``verify.go:194-198``).
    """

    name: str
    path: str
    schema: str = "public"
    pks: dict[str, tuple[str, ...]] = field(default_factory=dict)

    def list_tables(
        self,
        spark: SparkSession | None = None,
        config: VerifyConfig | None = None,
    ) -> list[str]:
        """Catalog scan with include/exclude filters (query.go:21-100).
        ``spark`` is unused for files; the parameter exists so every
        target exposes the same ``list_tables(spark, config)`` surface
        (JDBC needs the session to push the catalog query down)."""
        tables = sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )
        if config is not None:
            tables = [t for t in tables if config.valid_table(self.schema, t)]
        return tables

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        # The caller may supply its own session (the module contract); the
        # engine's semantic confs (UTC tz, nanosAsLong) must hold for any
        # read, so enforce them at this boundary rather than trusting the
        # session factory was ours.
        ensure_required_confs(spark)
        return spark.read.parquet(os.path.join(self.path, f"{table}.parquet"))

    def primary_key(self, table: str) -> tuple[str, ...] | None:
        if table in self.pks:
            return tuple(self.pks[table])
        if table in TESTDATA_TABLES:
            return TESTDATA_TABLES[table].pk
        return None

    def table_schema(
        self, spark: SparkSession, table: str, df: DataFrame | None = None
    ) -> TableSchema:
        """Introspect logical schema (the reference's column introspection,
        ``verify.go:152-198``, with parquet's self-describing schema).
        ``df``: this table's DataFrame when the caller already read it, so
        the files are listed and their footers read once."""
        pk = self.primary_key(table)
        if pk is None:
            raise ValueError(f"no primary key configured for table {table!r}")
        ns_hint = ("ts",) if table == "events" else ()
        if df is None:
            df = self.read(spark, table)
        cols = logical_types(df, ns_hint_cols=ns_hint)
        return TableSchema(table, tuple(cols), tuple(pk))
