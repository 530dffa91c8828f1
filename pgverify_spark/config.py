"""Verification config — mirrors the reference option surface.

Reference: ``config.go:36-68`` (include/exclude schema/table/column, test
modes, bookend limit, sparse mod, aliases, timestamp precision,
hash-primary-keys) and validation ``config.go:101-114``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

TEST_MODE_FULL = "full"
TEST_MODE_BOOKEND = "bookend"
TEST_MODE_SPARSE = "sparse"
TEST_MODE_ROWCOUNT = "rowcount"
#: Spark-rebuild extensions: deterministic scale path (hash-of-bucket-hashes)
#: and the order-insensitive additive fingerprint (no sort, streamable);
#: not in the reference's closed mode enum (config.go:9-33).
TEST_MODE_BUCKETED = "bucketed"
TEST_MODE_ADDITIVE = "additive"
TEST_MODE_CARDINALITY = "cardinality"

ALL_TEST_MODES = (
    TEST_MODE_FULL,
    TEST_MODE_BOOKEND,
    TEST_MODE_SPARSE,
    TEST_MODE_ROWCOUNT,
    TEST_MODE_BUCKETED,
    TEST_MODE_ADDITIVE,
    TEST_MODE_CARDINALITY,
)

#: Reference default modes: all four (config.go:88).
DEFAULT_TEST_MODES = (
    TEST_MODE_FULL,
    TEST_MODE_BOOKEND,
    TEST_MODE_SPARSE,
    TEST_MODE_ROWCOUNT,
)

#: PG precision word → Spark/DuckDB date_trunc unit (column.go:26-28,
#: config.go:32: default "milliseconds").
TIMESTAMP_PRECISIONS = {
    "microseconds": "microsecond",
    "milliseconds": "millisecond",
    "seconds": "second",
    "minutes": "minute",
    "hours": "hour",
    "days": "day",
}

#: Error sentinel written into a result cell when a test fails
#: (results.go:12).
ERROR_OUTPUT = "(err)"
#: Output for an empty table (verify.go:247-248).
NO_ROWS_OUTPUT = "no rows"


@dataclass
class VerifyConfig:
    """Engine configuration; defaults match the reference's defaults."""

    test_modes: tuple[str, ...] = DEFAULT_TEST_MODES
    include_tables: tuple[str, ...] = ()
    exclude_tables: tuple[str, ...] = ()
    include_schemas: tuple[str, ...] = ()
    exclude_schemas: tuple[str, ...] = ()
    include_columns: tuple[str, ...] = ()
    exclude_columns: tuple[str, ...] = ()
    bookend_limit: int = 1000  # config.go:21
    sparse_mod: int = 10  # config.go:27
    timestamp_precision: str = "milliseconds"  # config.go:32,90
    hash_primary_keys: bool = False  # config.go:53-57
    #: Display names for the targets in reporting output; applied when
    #: the count equals the number of targets, ignored otherwise
    #: (config.go:59-62, verify.go:46-48).
    aliases: tuple[str, ...] = ()
    #: Extension: bucket count for the scale-path bucketed fingerprint.
    fingerprint_buckets: int = 1024
    #: Declared logical-type overrides, column name -> ltype.  The
    #: file-source equivalent of information_schema type introspection:
    #: parquet/JDBC erase distinctions like json-in-a-string, so a user
    #: declares them here (e.g. ``{"props": "json"}`` canonicalizes the
    #: column with the reference's length proxy, column.go:29-32, keeping
    #: it comparable with a pushdown fingerprint).
    column_types: dict[str, str] = field(default_factory=dict)
    #: Inputs whose optimizer-estimated scan size is at or below this use
    #: single-reduce fingerprint plans (2 stages) instead of the
    #: distributed-sort plan (repartition + range-sort sampling + 2-phase
    #: reduce) — the distributed machinery costs more than it buys on
    #: small tables (a multi-target verify run is dominated by dimension
    #: tables' fixed per-stage overhead otherwise).
    small_input_bytes: int = 4 << 20
    #: Extension: how the exact ordered digest takes its final md5 on a
    #: large input (``full``, a sparse sample above ``small_input_bytes``
    #: and the per-partition fingerprints).  ``True`` streams it through
    #: an Arrow-batched incremental hash in a Python (``mapInPandas``)
    #: stage: O(batch) memory in every task.  ``False`` keeps it in the
    #: JVM, whose single final aggregate materializes the whole
    #: 32 B x rows concat: O(table) in one task (the 100x CLI probe
    #: overran an 8 GiB heap at 15M rows).  Same digest byte-for-byte.
    #: The streamed reduce is the default: measured at sf0.1 it is also
    #: faster on ``full`` (2.10 s vs 2.37 s on lineitem; 0.51 vs 0.65 on
    #: orders), though slower on the 10x lineitem's ~600k-row sparse
    #: sample (SCALE_CHECK.md).  ``False`` is for executors without a
    #: pyspark-capable Python.  (The ``bucketed`` mode remains the real
    #: 100 TB path — no sequential reduce at all.)
    full_stream_hash: bool = True

    def validate(self) -> None:
        """Mode-name and precision validation (config.go:101-114)."""
        for mode in self.test_modes:
            if mode not in ALL_TEST_MODES:
                raise ValueError(f"invalid test mode: {mode!r}; valid: {ALL_TEST_MODES}")
        if self.timestamp_precision not in TIMESTAMP_PRECISIONS:
            raise ValueError(
                f"invalid timestamp precision: {self.timestamp_precision!r}; "
                f"valid: {tuple(TIMESTAMP_PRECISIONS)}"
            )
        if self.bookend_limit <= 0:
            raise ValueError("bookend_limit must be positive")
        if self.sparse_mod <= 0:
            raise ValueError("sparse_mod must be positive")

    def typed_cols(self, cols: list[tuple[str, str]]) -> list[tuple[str, str]]:
        """Apply declared ``column_types`` overrides to (name, ltype) pairs."""
        if not self.column_types:
            return cols
        return [(c, self.column_types.get(c, t)) for c, t in cols]

    def valid_column(self, name: str) -> bool:
        """Include-list wins, else exclude-list (verify.go:138-144)."""
        if self.include_columns:
            return name in self.include_columns
        return name not in self.exclude_columns

    def valid_table(self, schema: str, table: str) -> bool:
        """Table/schema filters (query.go:21-100 semantics: inclusions
        override exclusions when present)."""
        if self.include_schemas:
            if schema not in self.include_schemas:
                return False
        elif schema in self.exclude_schemas:
            return False
        if self.include_tables:
            return table in self.include_tables
        return table not in self.exclude_tables

    @property
    def trunc_unit(self) -> str:
        return TIMESTAMP_PRECISIONS[self.timestamp_precision]
