"""Derived-relation ("view") verification target.

Beyond-reference extension of the verify engine itself: the reference
fingerprints BASE tables only (``verify.go:108-136`` lists
``information_schema.tables``; views are explicitly excluded,
``query.go:21-100``).  But the consistency question applies equally to
DERIVED relations — an ETL output, a materialized view, an aggregate
kept in two stores — where row-identical base tables are necessary but
not sufficient (a divergent transformation reproduces the drift on
every refresh).  ``ViewTarget`` makes a declared derived relation a
first-class verify subject: it wraps any base target (parquet, files,
JDBC) and exposes named view builders as "tables", so the existing
orchestrator — mode fusion, error cells, consistency check, report
pivot — applies unchanged.

Scale shape: the fingerprint operators compose ON TOP of the view's
logical plan, so Catalyst optimizes the whole chain as one query —
column pruning reaches through the view into the base scan (a view
projecting 3 columns of a 100-column table reads 3 columns), and the
view's own joins/aggregates plan exactly as they would stand-alone.
Determinism contract: a verifiable view must be a pure function of the
base data — no floating-point SUM/AVG (addition-order-dependent across
partitionings and engines), no LIMIT without total order, no
``rand()``/``now()``.  count/min/max and integer or decimal sums are
safe; the canonical-hash layer then guarantees byte-identical
fingerprints for equal view contents.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pgverify_spark.config import VerifyConfig
from pgverify_spark.session import ensure_required_confs
from pgverify_spark.sources.schemas import TableSchema, logical_types


@dataclass
class ViewTarget:
    """A set of named derived relations over a base target.

    ``views`` maps view name → (builder, pk): the builder receives
    ``(spark, base_target)`` and returns the view DataFrame — reading
    base tables through ``base.read`` so the same view definition runs
    against ANY base (two ViewTargets over different bases verify that
    both stores derive the same result).  Logical column types are
    inferred from the built plan (parquet-style self-description);
    ``pk`` must be a unique key of the VIEW (grouping keys of its
    outermost aggregate, typically) — it drives fingerprint ordering
    exactly as a base-table PK does.
    """

    name: str
    base: object
    views: dict[str, tuple[Callable[[SparkSession, object], DataFrame], tuple[str, ...]]]
    schema: str = "public"
    _plans: dict[str, DataFrame] = field(default_factory=dict, repr=False)

    def list_tables(
        self,
        spark: SparkSession | None = None,
        config: VerifyConfig | None = None,
    ) -> list[str]:
        names = sorted(self.views)
        if config is not None:
            names = [v for v in names if config.valid_table(self.schema, v)]
        return names

    def read(self, spark: SparkSession, view: str) -> DataFrame:
        ensure_required_confs(spark)
        plan = self._plans.get(view)
        if plan is None:
            builder, _ = self.views[view]
            plan = builder(spark, self.base)
            self._plans[view] = plan
        return plan

    def primary_key(self, view: str) -> tuple[str, ...]:
        return tuple(self.views[view][1])

    def table_schema(
        self, spark: SparkSession, view: str, df: DataFrame | None = None
    ) -> TableSchema:
        # no nanos hint: a view's bigint column named "ts" is a derived
        # value, not a nanosAsLong-read TIMESTAMP(NANOS) parquet column
        # (micros timestamps surface as timestamp_ntz on their own)
        if df is None:
            df = self.read(spark, view)
        cols = logical_types(df, ns_hint_cols=())
        return TableSchema(view, tuple(cols), self.primary_key(view))
