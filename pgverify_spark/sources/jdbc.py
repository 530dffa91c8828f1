"""JDBC source: verify live PostgreSQL-compatible databases.

The reference's targets are PostgreSQL/CockroachDB endpoints
(``verify.go:34-61``); this source reproduces its catalog scan and
schema/PK introspection (``query.go:21-118``) as JDBC *pushdown queries*
— the table list and column metadata are computed inside the database,
and only table data rows flow into Spark for fingerprinting.

No PostgreSQL/CockroachDB is available in this environment, so the
PG-specific surfaces (information_schema introspection, pushdown
fingerprint SQL) are exercised by golden-SQL unit tests — but the JDBC
READ/VERIFY path runs LIVE against embedded Apache Derby (shipped in
Spark's own jars): tests/test_jdbc_live.py and the registered
``verify_report_parquet_vs_jdbc`` query load real tables through
Spark's JDBC writer and verify them byte-identical to parquet,
including the parallel ``partitionColumn`` read.  Databases without a
PG-style information_schema declare their catalog via
``tables``/``primary_keys`` (the ParquetTarget explicit-PK contract).

Scale: per-table reads accept ``partition_column/num_partitions`` so a
large table arrives through N parallel JDBC connections
(``partitionColumn`` + computed lower/upper bounds); fingerprinting then
proceeds exactly as for files.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pgverify_spark.config import VerifyConfig
from pgverify_spark.sources.quoting import quote_ident, quote_literal, quote_qualified
from pgverify_spark.sources.schemas import TableSchema, logical_types


def build_tables_query(config: VerifyConfig) -> str:
    """Catalog scan with include/exclude filters compiled to IN/NOT IN
    (mirrors ``buildGetTablesQuery``, query.go:21-100: inclusions win
    over exclusions; views excluded)."""

    def quoted(vals: tuple[str, ...]) -> str:
        return ", ".join(quote_literal(v) for v in vals)

    preds = ["table_type != 'VIEW'"]
    if config.include_schemas:
        preds.append(f"table_schema IN ({quoted(config.include_schemas)})")
    elif config.exclude_schemas:
        preds.append(f"table_schema NOT IN ({quoted(config.exclude_schemas)})")
    if config.include_tables:
        preds.append(f"table_name IN ({quoted(config.include_tables)})")
    elif config.exclude_tables:
        preds.append(f"table_name NOT IN ({quoted(config.exclude_tables)})")
    return (
        "SELECT table_schema, table_name FROM information_schema.tables "
        f"WHERE {' AND '.join(preds)}"
    )


def build_columns_query(schema_name: str, table_name: str) -> str:
    """Column + PK introspection via two LEFT OUTER JOINs (mirrors
    ``buildGetColumsQuery``, query.go:104-118; generated columns are
    excluded as the reference does via ``is_generated``)."""
    return (
        "SELECT c.column_name, c.data_type, tc.constraint_type "
        "FROM information_schema.columns c "
        "LEFT OUTER JOIN information_schema.key_column_usage kcu "
        "ON c.table_schema = kcu.table_schema AND c.table_name = kcu.table_name "
        "AND c.column_name = kcu.column_name "
        "LEFT OUTER JOIN information_schema.table_constraints tc "
        "ON kcu.constraint_name = tc.constraint_name "
        "AND kcu.table_schema = tc.table_schema AND kcu.table_name = tc.table_name "
        f"WHERE c.table_schema = {quote_literal(schema_name)} "
        f"AND c.table_name = {quote_literal(table_name)} "
        "AND c.is_generated != 'ALWAYS'"
    )


@dataclass
class JDBCTarget:
    """A database endpoint (the reference's ``*pgx.ConnConfig`` + alias).

    ``url`` is a Spark JDBC url (``jdbc:postgresql://host/db``);
    ``properties`` carries user/password/driver.
    """

    name: str
    url: str
    properties: dict[str, str] = field(default_factory=dict)
    schema: str = "public"
    #: per-table parallel-read column (numeric/PK) and partition count
    partition_columns: dict[str, str] = field(default_factory=dict)
    num_partitions: int = 8
    #: run fingerprints inside the database (reference-style; see
    #: ``pushdown_fingerprint``) instead of reading rows into Spark
    use_pushdown: bool = False
    #: DECLARED catalog for databases without PostgreSQL-style
    #: ``information_schema`` (embedded Derby/H2, warehouse appliances):
    #: when ``tables`` is set, ``list_tables`` filters it client-side
    #: with the same include/exclude semantics as the introspection SQL,
    #: and ``primary_keys[table]`` short-circuits the PK pushdown —
    #: exactly ParquetTarget's explicit-PK contract.  Pushdown
    #: fingerprints still require a PG-syntax database either way.
    tables: tuple[str, ...] = ()
    primary_keys: dict[str, tuple[str, ...]] = field(default_factory=dict)
    #: PHYSICAL schema for SQL qualification when it differs from the
    #: logical/report label ``schema`` (e.g. embedded Derby stores under
    #: APP while the verify report compares cells labeled 'public'
    #: across heterogeneous targets).  None = same as ``schema``.
    db_schema: str | None = None

    def _db(self) -> str:
        return self.db_schema or self.schema

    def _pushdown(self, spark: SparkSession, query: str) -> DataFrame:
        return (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", query)
            .options(**self.properties)
            .load()
        )

    def list_tables(self, spark: SparkSession, config: VerifyConfig | None = None) -> list[str]:
        config = config or VerifyConfig()
        if self.tables:
            # declared catalog: the introspection SQL's filter semantics
            # (inclusions win over exclusions), applied client-side —
            # including the SCHEMA filters (ADVICE r8): all declared
            # tables live in this target's physical schema, so a config
            # whose include/exclude_schemas rejects it lists nothing,
            # exactly as build_tables_query's table_schema predicate
            # would.
            if config.include_schemas:
                if self._db() not in config.include_schemas:
                    return []
            elif config.exclude_schemas and self._db() in config.exclude_schemas:
                return []
            names = self.tables
            if config.include_tables:
                names = tuple(t for t in names if t in config.include_tables)
            elif config.exclude_tables:
                names = tuple(t for t in names if t not in config.exclude_tables)
            return sorted(names)
        rows = self._pushdown(spark, build_tables_query(config)).collect()
        return sorted(r.table_name for r in rows if r.table_schema == self._db())

    def primary_key(self, spark: SparkSession, table: str) -> tuple[str, ...]:
        if table in self.primary_keys:
            return tuple(self.primary_keys[table])
        rows = self._pushdown(spark, build_columns_query(self._db(), table)).collect()
        pk = tuple(
            sorted(r.column_name for r in rows if r.constraint_type == "PRIMARY KEY")
        )
        if not pk:
            # reference: table skipped with an error when no PK (verify.go:194-198)
            raise ValueError(f"no primary key found for {self.schema}.{table}")
        return pk

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        reader = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", quote_qualified(self._db(), table))
            .options(**self.properties)
        )
        if table in self.partition_columns:
            col = self.partition_columns[table]
            # Spark requires explicit bounds with partitionColumn; compute
            # them in the database (one tiny pushdown aggregate).
            lo, hi = self._pushdown(
                spark,
                f"SELECT min({quote_ident(col)}) AS lo, max({quote_ident(col)}) AS hi "
                f"FROM {quote_qualified(self._db(), table)}",
            ).collect()[0]
            if lo is not None and hi is not None and lo != hi:
                reader = (
                    reader.option("partitionColumn", col)
                    .option("lowerBound", str(lo))
                    .option("upperBound", str(hi))
                    .option("numPartitions", str(self.num_partitions))
                )
        return reader.load()

    def table_schema(
        self, spark: SparkSession, table: str, df: DataFrame | None = None
    ) -> TableSchema:
        """Column types from the read's JDBC schema, PK from the catalog.
        ``df``: this table's DataFrame when the caller already read it,
        which saves the schema round trip (and the bounds query of a
        partitioned read)."""
        pk = self.primary_key(spark, table)
        if df is None:
            df = self.read(spark, table)
        cols = logical_types(df, ns_hint_cols=())
        return TableSchema(table, tuple(cols), pk)

    def pushdown_fingerprint(
        self, spark: SparkSession, table: str, mode: str, config: VerifyConfig | None = None
    ) -> str:
        """Run the fingerprint INSIDE the database (the reference's own
        architecture, query.go:122-283): generate the PG-dialect hash
        statement and fetch its single scalar via JDBC query pushdown —
        no table data crosses the wire.  Column name/type pairs come from
        the same introspection query the reference uses.
        """
        from pgverify_spark.sources.pushdown import (
            PUSHDOWN_BUILDERS,
            build_rowcount_query,
        )

        config = config or VerifyConfig()
        if mode == "rowcount":
            sql = build_rowcount_query(self._db(), table)
        else:
            rows = self._pushdown(
                spark, build_columns_query(self._db(), table)
            ).collect()
            columns = sorted({(r.column_name, r.data_type.lower()) for r in rows})
            pk_cols = [
                (c, t)
                for c, t in columns
                if any(
                    r.column_name == c and r.constraint_type == "PRIMARY KEY"
                    for r in rows
                )
            ]
            if not pk_cols:
                raise ValueError(f"no primary key found for {self.schema}.{table}")
            hashed = [(c, t) for c, t in columns if config.valid_column(c)]
            sql = PUSHDOWN_BUILDERS[mode](self._db(), table, hashed, pk_cols, config)
        out = self._pushdown(spark, sql).collect()
        return out[0][0] if out and out[0][0] is not None else "no rows"
