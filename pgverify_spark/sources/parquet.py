"""Parquet source: the file-based equivalent of a reference "target".

A reference target is a database endpoint (``verify.go:34-61``); here a
target is any directory of ``<table>.parquet`` files.  Catalog listing
(the reference's ``information_schema.tables`` scan, ``query.go:21-100``)
becomes a directory listing; schema introspection becomes parquet's
self-describing schema, read from the footers on the driver
(:func:`_footer_schema`) so that planning a read schedules no Spark job.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pgverify_spark.config import VerifyConfig
from pgverify_spark.session import ensure_required_confs
from pgverify_spark.sources.schemas import TESTDATA_TABLES, TableSchema, logical_types


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver.

    Spark's inference (``ParquetUtils.inferSchema``) runs a one-task job
    to read one footer.  This picks the same files and converts them
    with the same Spark code, in the calling thread: the leaf files of a
    Hadoop listing of ``path`` that skips the names Spark's file index
    skips (``_``/``.`` prefixes other than the summary files) in every
    directory it descends into, ``key=value`` partitions included,
    sorted by path; then
    ``_common_metadata``, else ``_metadata``, else the first data file
    (every data file and summary file under
    ``spark.sql.parquet.mergeSchema``).  The footers are read with
    ``readParquetFootersInParallel`` (honouring
    ``spark.sql.files.ignoreCorruptFiles``), each is converted by
    ``readSchema`` under the session's parquet confs (``nanosAsLong``,
    int96, binary-as-string, NTZ inference), and the schemas are merged
    in file order as the inference job merges them.  Nothing is cached:
    every call lists and reads the files as they are.  A missing path,
    a corrupt footer or a path with no data files raises.
    """
    jvm = spark._jvm
    jsession = spark._jsparkSession
    conf = jsession.sessionState().conf()
    hconf = jsession.sessionState().newHadoopConf()
    skip = jvm.org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)

    leaves = []  # (path, name, status) of every file Spark's index lists

    def walk(p) -> None:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if skip(name):
                continue
            if st.isDirectory():
                walk(st.getPath())
            else:
                leaves.append((st.getPath().toString(), name, st))

    walk(root)
    leaves.sort(key=lambda leaf: leaf[0])
    common = [st for _, name, st in leaves if name == "_common_metadata"]
    meta = [st for _, name, st in leaves if name == "_metadata"]
    data = [st for _, name, st in leaves if name not in ("_common_metadata", "_metadata")]
    if conf.isParquetSchemaMergingEnabled():
        touch = ([] if conf.isParquetSchemaRespectSummaries() else data) + meta + common
    else:
        touch = (common or meta or data)[:1]
    pkg = jvm.org.apache.spark.sql.execution.datasources.parquet
    pff = getattr(getattr(pkg, "ParquetFileFormat$"), "MODULE$")
    seq = jvm.org.apache.spark.api.python.PythonUtils.toSeq
    footers = pff.readParquetFootersInParallel(hconf, seq(touch), conf.ignoreCorruptFiles())
    # one footer per readSchema call: it converts exactly as the
    # inference job does, but merges case-sensitively, and the job
    # merges under spark.sql.caseSensitive
    merged = None
    for i in range(footers.size()):
        one = pff.readSchema(seq([footers.apply(i)]), jsession).get()
        merged = one if merged is None else merged.merge(one, conf.caseSensitiveAnalysis())
    if merged is None:
        raise AnalysisException(
            f"Unable to infer schema for Parquet at {path}: no readable data files."
        )
    return StructType.fromJson(json.loads(merged.json()))


def _read(spark: SparkSession, path: str) -> DataFrame:
    # The caller may supply its own session (the module contract); the
    # engine's semantic confs (UTC tz, nanosAsLong) must hold for any
    # read, so enforce them at this boundary rather than trusting the
    # session factory was ours.  They must hold before the footer schema
    # is converted: nanosAsLong decides TIMESTAMP(NANOS)'s type.
    ensure_required_confs(spark)
    return spark.read.schema(_footer_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one testdata table by name."""
    return _read(spark, os.path.join(sf_dir, f"{table}.parquet"))


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
        return _read(spark, os.path.join(self.path, f"{table}.parquet"))

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
