"""Fingerprint operators — the engine's core verification primitives.

Each reference test mode (``config.go:9-33``) becomes one operator
``DataFrame -> 1-row DataFrame [fp: string]``:

- ``full``      — md5 of per-row md5s concatenated in PK order
                  (``buildFullHashQuery``, ``query.go:122-158``)
- ``bookend``   — fingerprint of first-N + last-N rows by PK
                  (``buildBookendHashQuery``, ``query.go:232-278``)
- ``sparse``    — deterministic md5-mod ≈1/mod sample, then full
                  (``buildSparseHashQuery``, ``query.go:163-229``)
- ``rowcount``  — ``count(*)`` (``buildRowCountQuery``, ``query.go:281-283``)
- ``bucketed``  — extension: hash-of-ordered-bucket-hashes, the 100 TB
                  scale path (see *Scale* below)

Ordering ties: the driver's testdata has duplicate PKs, so every ordered
aggregation orders by ``(key, row_hash)`` — deterministic even for
non-unique keys (plain ``ORDER BY key`` would make the fingerprint
nondeterministic under ties).

Scale
-----
``full`` reproduces the reference's semantics exactly and shares its cost
profile: one total order over the table.  The physical plan is chosen
from Catalyst's size estimate: small inputs use a two-stage single-reduce
ordered aggregate; large inputs a distributed, spill-able range sort
whose sorted partitions one final reduce digests in order
(``_ordered_reduce``: streamed through Python, or JVM partials with
``full_stream_hash=False``).  Either way one task hashes the 32 B x rows
concatenation — the inherent cost of an exact sequential digest,
isomorphic to the server-side ``ORDER BY + string_agg`` the reference
pushes into PG (README.md:69 calls full mode "memory intensive").  **At 100 TB use
``bucketed``**: rows hash-partition into B fixed buckets on the PK key,
each bucket computes an ordered partial fingerprint (one shuffle, ~n/B
rows per reduce), and the final fingerprint is the md5 over bucket
fingerprints in bucket order (B tiny scalars).  Bucket assignment depends
only on row content — never on partitioning/cluster layout — so the
result is deterministic and comparable across targets; it is *not*
byte-equal to ``full`` (documented deviation, SURVEY.md §7.3).

Every operator has a DuckDB-dialect oracle twin generated from the same
canonicalization code path (``fingerprint_oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgverify_spark.config import VerifyConfig
from pgverify_spark.functions.canonical import (
    DIALECT_DUCKDB,
    DIALECT_SPARK,
    canon_sql,
    hex_prefix_int_sql,
    pk_key_sql,
    row_concat_sql,
    row_hash_sql,
)
from pgverify_spark.functions.timecol import US_PER_DAY, bucket_sql
from pgverify_spark.operators.util import parallelize as _parallelize
from pgverify_spark.operators.util import plan_size_bytes, scaled_partitions
from pgverify_spark.sources.schemas import TableSchema

def _ordered_digest(arr: str, field: str = "h") -> str:
    """md5 over the ``field`` values of a struct array sorted by all of
    its fields in order.  The sort makes the digest independent of the
    order ``collect_list`` saw the rows in (a sort-based aggregate
    fallback does not keep an upstream sort).

    ``sort_array`` and the field projection ``arr.field`` are generated
    code; ``array_sort``'s default comparator and ``transform`` are
    lambdas evaluated interpreted on every comparison and element.  The
    order is the same: both sorts compare structs field by field,
    ascending, and a ``collect_list(struct(...))`` holds no null element
    for their null placements to disagree on."""
    return f"md5(array_join(sort_array({arr}).{field}, ''))"


#: Ordered fingerprint over (k, h) pairs as a single aggregate expression:
#: ordered by k then h (tie-break on row hash).
_ORDERED_AGG = _ordered_digest("collect_list(struct(k, h))")
_NO_ROWS_AGG = f"CASE WHEN count(1) = 0 THEN 'no rows' ELSE {_ORDERED_AGG} END"
#: The same digest over (p, s) partials: each partition's ordered concat
#: ``s`` of a range-sorted (k, h) relation, keyed by partition id ``p``.
_PARTIALS_AGG = (
    "CASE WHEN count(1) = 0 THEN 'no rows' ELSE "
    f"{_ordered_digest('collect_list(struct(p, s))', 's')} END"
)


def _bookend_half(arr: str) -> str:
    """md5 over the per-row md5s of a (k, r)-sorted struct array; NULL
    for an empty array, as the oracle's ``string_agg`` over no rows."""
    return (
        f"CASE WHEN size({arr}) = 0 THEN NULL "
        f"ELSE md5(array_join(transform({arr}, x -> md5(x.r)), '')) END"
    )


def _bookend_combine(start: str, end: str) -> str:
    return f"md5(concat(coalesce({start}, ''), coalesce({end}, '')))"


def _exprs(schema: TableSchema, config: VerifyConfig) -> tuple[str, str, str]:
    """(key, row-hash, plain-sample-key) Spark SQL expressions."""
    cols = config.typed_cols(schema.hashed_cols(config.valid_column))
    pk = config.typed_cols(schema.pk_cols())
    h = row_hash_sql(cols, DIALECT_SPARK, config.trunc_unit)
    k = pk_key_sql(pk, DIALECT_SPARK, config.trunc_unit, config.hash_primary_keys)
    k_plain = pk_key_sql(pk, DIALECT_SPARK, config.trunc_unit, False)
    return k, h, k_plain


def _small(df: DataFrame, config: VerifyConfig) -> bool:
    """Small inputs skip the distributed-plan machinery (see
    ``VerifyConfig.small_input_bytes``)."""
    return plan_size_bytes(df) <= config.small_input_bytes


def _kh(df: DataFrame, schema: TableSchema, config: VerifyConfig) -> DataFrame:
    k, h, _ = _exprs(schema, config)
    base = df if _small(df, config) else _parallelize(df)
    return base.selectExpr(f"{k} AS k", f"{h} AS h")


def rowcount(df: DataFrame, schema: TableSchema | None = None, config: VerifyConfig | None = None) -> DataFrame:
    """``SELECT count(*)::TEXT`` (query.go:281-283)."""
    return df.select(F.count(F.lit(1)).cast("string").alias("fp"))


def _ordered_reduce(
    kh: DataFrame, config: VerifyConfig, modes: tuple[str, ...]
) -> DataFrame:
    """The exact ordered-digest reducer over a large (k, h) relation:
    ``fp_<mode>`` for ``modes`` (any of ``FUSABLE_MODES``) in one row.

    One parallel, spill-able range sort on (k, h).  The partitions of the
    sorted relation are range-disjoint and internally ordered, so their
    row hashes concatenated in partition-id order are the whole ordered
    stream: the digest is byte-identical to
    ``md5(string_agg(h, '' ORDER BY k, h))`` (``query.go:122-158``).
    ``config.full_stream_hash`` picks the final reduce:

    - True: :func:`_streamed_fused`, memory-bounded in every task;
    - False: per-partition (concat, count, hv-sum) partials in the JVM,
      then one aggregate that materializes the whole 32 B x rows concat
      in one task — the path for executors without Python.

    Either way one task sees every byte (~32 B/row), as the reference's
    server-side ``ORDER BY + string_agg`` does (README.md:69); beyond
    ~10^8 rows use ``bucketed``.
    """
    ranged = kh.sort("k", "h")
    if config.full_stream_hash:
        return _streamed_fused(ranged, modes)
    partials = (
        ranged.selectExpr("spark_partition_id() AS p", "h", f"{_hv_sql('h')} AS hv")
        .groupBy("p")
        .agg(
            F.concat_ws("", F.collect_list("h")).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("hv").alias("hsum"),
        )
    )
    aggs = {
        "full": _PARTIALS_AGG,
        "rowcount": "CAST(coalesce(sum(cnt), 0) AS STRING)",
        "additive": _additive_sql("coalesce(sum(cnt), 0)", "sum(hsum)"),
    }
    return partials.selectExpr(*[f"{aggs[m]} AS fp_{m}" for m in modes])


def _streamed_fused(ranged: DataFrame, modes: tuple[str, ...]) -> DataFrame:
    """Memory-bounded fused reduce of a (k, h)-sorted relation:
    (fp_<mode>, ...) in one row.

    The map-side ``collect_list`` of the JVM partials buffers one whole
    sorted partition per task, and their final concat the whole table
    in one task.  Here each sorted partition is chunk-concatenated in
    an Arrow-batched Python stage — (p, i, chunk, chunk-count,
    chunk-hash-sum) every Arrow batch, O(batch) memory — and ONE final
    task streams the chunks in (p, i) order through an incremental
    hashlib md5 while folding the count/sum terms (Python integers:
    exact at any magnitude, the JVM path needs DECIMAL(38) for the same
    sum).  Byte-identical outputs to the aggregate paths, including the
    empty-input spellings ('no rows' / '0' / '0').  The Python stages
    need a pyspark-capable Python on every executor.
    """

    def concat_chunks(batches):
        import pandas as pd

        # one mapInPandas call = one sorted partition; batches arrive
        # in row order, so (p, chunk_idx) reconstructs the stream
        i = 0
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {
                        "p": [int(pdf["p"].iloc[0])],
                        "i": [i],
                        "s": ["".join(pdf["h"])],
                        "cnt": [len(pdf)],
                        # object-sum: python ints, no int64 overflow at
                        # large Arrow batch sizes (2^48 x rows/batch)
                        "hsum": [str(int(pdf["hv"].astype(object).sum()))],
                    }
                )
                i += 1

    def stream_reduce(batches):
        import hashlib

        import pandas as pd

        digest = hashlib.md5()
        n = 0
        hsum = 0
        for pdf in batches:
            for p, s, c, hv in zip(pdf["p"], pdf["s"], pdf["cnt"], pdf["hsum"]):
                if p < 0:  # the empty-input seed row, not data
                    continue
                digest.update(s.encode("ascii"))
                n += int(c)
                hsum += int(hv)
        out = {
            "fp_full": [digest.hexdigest() if n else "no rows"],
            "fp_rowcount": [str(n)],
            # empty input: the JVM concat_ws skips the NULL sum -> '0'
            "fp_additive": [f"{n}:{hsum % ADDITIVE_MOD}" if n else "0"],
        }
        yield pd.DataFrame(out)

    h48 = hex_prefix_int_sql("h", DIALECT_SPARK)
    chunks = (
        ranged.selectExpr("spark_partition_id() AS p", "h", f"{h48} AS hv")
        .mapInPandas(concat_chunks, "p int, i long, s string, cnt long, hsum string")
    )
    # Seed row (p=-1): Spark elides the Python worker entirely on an
    # empty partition, which would otherwise swallow the empty-input
    # sentinels; the seed sorts first and contributes zero bytes.  It is
    # a one-row range, not a createDataFrame of local rows: those become
    # a fresh RDD on every call, so two equal digests (a table verified
    # against itself) could never share this exchange through Spark's
    # exchange reuse.
    seed = ranged.sparkSession.range(0, 1, 1, 1).selectExpr(
        "-1 AS p", "0L AS i", "'' AS s", "0L AS cnt", "'0' AS hsum"
    )
    fused = (
        chunks.unionByName(seed)
        .repartition(1)
        .sortWithinPartitions("p", "i")
        .mapInPandas(
            stream_reduce,
            "fp_full string, fp_rowcount string, fp_additive string",
        )
    )
    return fused.selectExpr(*[f"fp_{m}" for m in modes])


def full_fingerprint(df: DataFrame, schema: TableSchema, config: VerifyConfig | None = None) -> DataFrame:
    """Exact ordered fingerprint (parity mode): the ``full`` column of
    :func:`fused_fingerprints` — the single-reduce ordered aggregate on a
    small input, :func:`_ordered_reduce` on a large one."""
    config = config or VerifyConfig()
    return fused_fingerprints(df, schema, config, ("full",)).selectExpr("fp_full AS fp")


def bookend_fingerprint(
    df: DataFrame, schema: TableSchema, config: VerifyConfig | None = None
) -> DataFrame:
    """Fingerprint of the first-N and last-N rows in key order.

    Both subsets are fingerprinted in ascending order, then combined as
    ``md5(concat(start, end))`` (query.go:259-276; the reference
    aggregates the tail subset in descending scan order — ascending here,
    a deterministic-either-way choice applied on both compare sides).  An
    empty subset contributes NULL, i.e. nothing, exactly as the oracle's
    ``string_agg`` over no rows.

    Single-hash-scan design: rows are ordered by ``(k, r)`` where ``r``
    is the canonical row *string* — binary-UTF8 comparison orders it
    identically in Spark and DuckDB, so it is a deterministic
    duplicate-key tiebreak that costs no md5 — and the per-row md5 is
    computed only for the <= 2N surviving rows.  The reference pays a
    double scan with per-row hashing (query.go:232-278), so this is an
    improvement, not a parity deviation (the fingerprint differs from the
    reference's by tiebreak choice either way, which only matters under
    duplicate keys the reference handles nondeterministically).

    Small inputs take the bookend column of :func:`_small_fused` (the
    first and last N of one sorted collect).  Large inputs use
    ``orderBy().limit()``, which compiles to TakeOrderedAndProject
    (distributed top-K: each task keeps N rows, driver merges) — no
    global sort, no full shuffle.
    """
    config = config or VerifyConfig()
    if _small(df, config):
        return _small_fused(df, schema, config, ("bookend",)).selectExpr(
            "fp_bookend AS fp"
        )
    n = config.bookend_limit
    k, _, _ = _exprs(schema, config)
    cols = config.typed_cols(schema.hashed_cols(config.valid_column))
    r = row_concat_sql(cols, DIALECT_SPARK, config.trunc_unit)
    kr = _parallelize(df).selectExpr(f"{k} AS k", f"{r} AS r")
    half = _bookend_half("sort_array(collect_list(struct(k, r)))")
    start = (
        kr.orderBy(F.col("k").asc(), F.col("r").asc())
        .limit(n)
        .selectExpr(f"{half} AS fp_start")
    )
    end = (
        kr.orderBy(F.col("k").desc(), F.col("r").desc())
        .limit(n)
        .selectExpr(f"{half} AS fp_end")
    )
    return start.crossJoin(end).selectExpr(
        f"{_bookend_combine('fp_start', 'fp_end')} AS fp"
    )


def sparse_fingerprint(
    df: DataFrame, schema: TableSchema, config: VerifyConfig | None = None
) -> DataFrame:
    """Deterministic ≈1/mod sample fingerprint.

    Selection: first 48 bits of ``md5(plain_key)`` modulo ``sparse_mod``
    == 0 (the reference's signed-64-bit variant has no portable spelling;
    see ``hex_prefix_int_sql``).  The reference filters per-PK-column
    with IN-subqueries (query.go:190-203) — semantically a semi-join on
    the same sampled key set; a direct filter avoids the self-join
    entirely.

    Small inputs take the sparse column of :func:`_small_fused` (the
    ordered collect restricted to the sampled rows).  Large inputs
    filter before any shuffle, so only ~n/mod rows reach the ordered
    aggregate.
    """
    config = config or VerifyConfig()
    size = plan_size_bytes(df)
    if size <= config.small_input_bytes:
        return _small_fused(df, schema, config, ("sparse",)).selectExpr(
            "fp_sparse AS fp"
        )
    k, h, k_plain = _exprs(schema, config)
    sampled = (
        _parallelize(df)
        .selectExpr(f"{k} AS k", f"{h} AS h", f"{_sampled_sql(k_plain, config)} AS s")
        .filter("s")
    )
    # Plan choice on the SAMPLED size (~input/mod): below the threshold
    # the single-reduce ordered agg wins — the sort-based plan's range
    # sampling would run the filter+hash scan twice for nothing.  Above
    # it (sampled rows no longer fit one reducer) switch to the exact
    # ordered reducer, which computes the byte-identical fingerprint.
    if size // max(1, config.sparse_mod) <= config.small_input_bytes:
        return sampled.selectExpr(f"{_NO_ROWS_AGG} AS fp")
    return _ordered_reduce(sampled.select("k", "h"), config, ("full",)).selectExpr(
        "fp_full AS fp"
    )


def _sampled_sql(k_plain: str, config: VerifyConfig) -> str:
    """Sparse mode's row selection: md5-of-plain-key prefix mod
    ``sparse_mod`` == 0."""
    sel = hex_prefix_int_sql(f"md5({k_plain})", DIALECT_SPARK)
    return f"(({sel} % {config.sparse_mod}) = 0)"


def bucketed_fingerprint(
    df: DataFrame, schema: TableSchema, config: VerifyConfig | None = None
) -> DataFrame:
    """Scale-path fingerprint: md5 over B ordered bucket fingerprints.

    Two shuffles: hash-partition by bucket (map-side nothing to combine,
    but each reduce holds only ~n/B rows), then a B-row final reduce.
    Choose ``fingerprint_buckets`` so a bucket's (k, h) pairs fit a
    reducer (~48 B/row: B=65536 handles ~10^11 rows at 3 GB/bucket).
    """
    config = config or VerifyConfig()
    k, h, k_plain = _exprs(schema, config)
    b = config.fingerprint_buckets
    base = df if _small(df, config) else _parallelize(df)
    kh = base.selectExpr(
        f"{k} AS k",
        f"{h} AS h",
        f"({hex_prefix_int_sql(f'md5({k_plain})', DIALECT_SPARK)} % {b}) AS bucket",
    )
    # One shuffle on bucket; each bucket's digest sorts its own (k, h)
    # pairs, so it does not depend on the order the aggregate collects
    # them in (a sort-based aggregate fallback — more than 128 buckets
    # in one task — does not keep an upstream sortWithinPartitions).
    # Explicit size-derived width (util.scaled_partitions): the ordered-
    # concat aggregate is CPU-heavy per row and AQE byte-coalescing would
    # serialize it onto one task at small scale (measured 2.1 s ->
    # 3.2 s under parallelismFirst=false before the pin).
    per_bucket = (
        kh.repartition(scaled_partitions(df), "bucket")
        .groupBy("bucket")
        .agg(F.expr(_ORDERED_AGG).alias("bh"))
    )
    return per_bucket.selectExpr(
        "CASE WHEN count(1) = 0 THEN 'no rows' ELSE "
        f"{_ordered_digest('collect_list(struct(bucket, bh))', 'bh')} END AS fp"
    )


#: Modulus for the additive fingerprint: Mersenne prime 2^61 - 1.
ADDITIVE_MOD = 2_305_843_009_213_693_951


def _hv_sql(h: str) -> str:
    """Additive term of row hash ``h``: its 48-bit integer prefix as an
    exact decimal (sums of it cannot overflow)."""
    return f"CAST({hex_prefix_int_sql(h, DIALECT_SPARK)} AS DECIMAL(38,0))"


def _additive_sql(count: str, hsum: str) -> str:
    """``count:sum`` output of the additive fingerprint."""
    return (
        f"concat_ws(':', CAST({count} AS STRING), "
        f"CAST(CAST({hsum} % {ADDITIVE_MOD} AS DECIMAL(38,0)) AS STRING))"
    )


def additive_fingerprint(
    df: DataFrame, schema: TableSchema, config: VerifyConfig | None = None
) -> DataFrame:
    """Order-insensitive commutative fingerprint: ``count:sum`` where sum
    is the 48-bit row-hash integers summed exactly (decimal accumulator)
    mod 2^61 - 1.

    Extension beyond the reference (SURVEY.md §7.3 "no-PK tables"): needs
    no primary key and **no sort/shuffle at all** — a pure two-phase
    aggregate with map-side partials, the cheapest possible whole-table
    fingerprint at 100 TB, and the only one a streaming pipeline can
    maintain incrementally (addition commutes with out-of-order arrival).
    Collision bound ~2^-48 per colliding row multiset via md5 prefixes.
    """
    config = config or VerifyConfig()
    cols = config.typed_cols(schema.hashed_cols(config.valid_column))
    h = row_hash_sql(cols, DIALECT_SPARK, config.trunc_unit)
    return (
        df.selectExpr(f"{h} AS hm")
        .selectExpr(f"{_hv_sql('hm')} AS hv")
        .selectExpr(f"{_additive_sql('count(1)', 'sum(hv)')} AS fp")
    )


def partitioned_fingerprint(
    df: DataFrame,
    schema: TableSchema,
    config: VerifyConfig | None = None,
    partition_sql: str | None = None,
) -> DataFrame:
    """Per-partition exact fingerprints: one (part, fp) row per value of
    ``partition_sql`` (default ``None`` = day bucket of ``ts``, computed
    type-adaptively via ``functions.timecol`` so micros-timestamp and
    nanos-bigint reads partition identically).

    The incremental-verification pattern for 100 TB tables: materialize
    this once, then on re-verify recompute only the partitions whose
    source files changed (storage partition pruning makes that a
    fraction-of-table scan) and compare per-partition fingerprints across
    targets — a mismatch names the day it happened, and unchanged
    history is never rescanned.  The reference must re-run its full
    in-database hash per verify (``query.go:122-158`` has no partition
    dimension).

    Plan shape: same as :func:`bucketed_fingerprint` with a *semantic*
    partition key — one hash shuffle on part, then a per-group sorted
    digest (the streamed reduce sorts within partitions instead).  A
    calendar partition can be arbitrarily large (unlike the uniform md5
    buckets), so for skewed timelines compose both: partition by day,
    bucket within day.
    """
    config = config or VerifyConfig()
    if partition_sql is None:
        partition_sql = bucket_sql(df, US_PER_DAY)
    k, h, _ = _exprs(schema, config)
    small = _small(df, config)
    base = df if small else _parallelize(df)
    kh = base.selectExpr(f"{partition_sql} AS part", f"{k} AS k", f"{h} AS h")
    # explicit size-derived width, same rationale as bucketed_fingerprint
    clustered = kh.repartition(scaled_partitions(df), "part")
    if not small and config.full_stream_hash:
        # Same heap wall as the exact full fingerprint, per PARTITION:
        # collect_list buffers one whole calendar partition per group
        # (measured OOM at 10^6 rows/day x 2 sides on an 8g JVM, 100x
        # scale check).  Stream each partition's ordered h values
        # through an incremental md5 instead — partitions are complete
        # within one task after the repartition, so one Arrow pass
        # emits (part, fp) rows at O(batch) memory.  Identical digests
        # (property-tested).
        return _partitioned_fp_streaming(
            clustered.sortWithinPartitions("part", "k", "h")
        )
    # order-explicit per-group digest, as in bucketed_fingerprint
    return clustered.groupBy("part").agg(F.expr(_ORDERED_AGG).alias("fp"))


def _partitioned_fp_streaming(sorted_kh: DataFrame) -> DataFrame:
    """(part, fp) via per-partition incremental md5 over the already
    part-clustered, (part, k, h)-sorted stream."""
    part_dt = sorted_kh.schema["part"].dataType.simpleString()

    def per_part_md5(batches):
        import hashlib

        import pandas as pd

        # Null partition keys arrive from Arrow as None/NaN/NaT depending
        # on the part dtype, and NaN != NaN — naive `part != cur` would
        # start a fresh group on EVERY null-key row (and a None init
        # sentinel collides with a genuine null string part).  Normalize
        # every null flavor to None and track "no group yet" with a
        # unique object so all null-part rows fold into one group, same
        # as the collect_list aggregate.
        unset = object()
        cur = unset
        digest = None

        def norm(part):
            return None if pd.isna(part) else part

        for pdf in batches:
            out_p, out_fp = [], []
            for part, h in zip(pdf["part"], pdf["h"]):
                part = norm(part)
                if cur is unset or part != cur:
                    if cur is not unset:
                        out_p.append(cur)
                        out_fp.append(digest.hexdigest())
                    cur = part
                    digest = hashlib.md5()
                digest.update(h.encode("ascii"))
            if out_p:
                yield pd.DataFrame({"part": out_p, "fp": out_fp}, dtype=object)
        if cur is not unset:
            yield pd.DataFrame({"part": [cur], "fp": [digest.hexdigest()]}, dtype=object)

    return sorted_kh.select("part", "h").mapInPandas(
        per_part_md5, f"part {part_dt}, fp string"
    )


def partitioned_fingerprint_oracle_sql(
    table: str,
    schema: TableSchema,
    config: VerifyConfig | None = None,
    partition_sql: str = "CAST(epoch_us(ts) // 86400000000 AS BIGINT)",
) -> str:
    config = config or VerifyConfig()
    cols = config.typed_cols(schema.hashed_cols(config.valid_column))
    pk = config.typed_cols(schema.pk_cols())
    h = row_hash_sql(cols, DIALECT_DUCKDB, config.trunc_unit)
    k = pk_key_sql(pk, DIALECT_DUCKDB, config.trunc_unit, config.hash_primary_keys)
    return (
        "SELECT part, md5(string_agg(h, '' ORDER BY k, h)) AS fp FROM "
        f"(SELECT {partition_sql} AS part, {k} AS k, {h} AS h FROM {table}) t "
        "GROUP BY part"
    )


def partition_diff(
    left: DataFrame,
    right: DataFrame,
    schema: TableSchema,
    config: VerifyConfig | None = None,
    partition_sql: str | None = None,
) -> DataFrame:
    """Which partitions disagree: full-outer join of the two sides'
    :func:`partitioned_fingerprint` outputs, keeping only mismatches.

    Output: (part, left_fp, right_fp, status) with status in
    ``only_left`` / ``only_right`` / ``fp_mismatch``.

    This is the drill-down chain for 100 TB verification: whole-table
    fingerprints disagree -> ``partition_diff`` names the days (both
    sides reduce to one row per partition BEFORE the join, so the join
    input is O(partitions), KBs) -> ``row_diff`` filtered to those days
    names the rows, scanning only the disagreeing partitions (the
    partition predicate pushes down to the scan).
    """
    config = config or VerifyConfig()
    l = partitioned_fingerprint(left, schema, config, partition_sql).withColumnRenamed("fp", "left_fp")
    r = partitioned_fingerprint(right, schema, config, partition_sql).withColumnRenamed("fp", "right_fp")
    return compare_partition_fingerprints(l, r)


def compare_partition_fingerprints(l: DataFrame, r: DataFrame) -> DataFrame:
    """Full-outer mismatch filter over two (part, *_fp) relations — the
    shared compare of :func:`partition_diff` (both sides computed live)
    and :func:`verify_against_snapshot` (left side read from storage)."""
    joined = l.join(r, on=["part"], how="full_outer")
    return joined.filter(
        F.col("left_fp").isNull()
        | F.col("right_fp").isNull()
        | (F.col("left_fp") != F.col("right_fp"))
    ).select(
        "part",
        "left_fp",
        "right_fp",
        F.when(F.col("right_fp").isNull(), F.lit("only_left"))
        .when(F.col("left_fp").isNull(), F.lit("only_right"))
        .otherwise(F.lit("fp_mismatch"))
        .alias("status"),
    )


def content_bucket_sql(schema: TableSchema, config: VerifyConfig | None = None) -> str:
    """Deterministic content-derived partition expression for tables
    WITHOUT an event-time column: md5-of-PK mod ``fingerprint_buckets``
    (the same bucketing rule as :func:`bucketed_fingerprint`).  Stable
    across runs and engines, so it is a valid ``partition_sql`` for
    :func:`partitioned_fingerprint` snapshots of dimension tables."""
    config = config or VerifyConfig()
    _, _, k_plain = _exprs(schema, config)
    return (
        f"({hex_prefix_int_sql(f'md5({k_plain})', DIALECT_SPARK)}"
        f" % {config.fingerprint_buckets})"
    )


def write_fingerprint_snapshot(
    df: DataFrame,
    schema: TableSchema,
    path: str,
    config: VerifyConfig | None = None,
    partition_sql: str | None = None,
) -> None:
    """Materialize :func:`partitioned_fingerprint` to parquet — the state
    half of cross-run incremental verification.

    A 100 TB table is verified ONCE in full; every later run calls
    :func:`verify_against_snapshot`, which compares freshly computed
    per-partition fingerprints against this snapshot and names exactly
    the partitions that changed since — no second target scan, no
    transfer of the previous run's data, O(partitions) storage.  The
    reference re-runs its full in-database hash on every verify
    (``query.go:122-158`` keeps no state between runs).

    Generation-dir write + manifest commit
    (:mod:`pgverify_spark.sources.manifest`): readers resolving through
    the manifest never race a later :func:`update_fingerprint_snapshot`.
    The generation also carries a FILE CATALOG of the verified target
    (``_filecat.json``: path/size/mtime per data file) so later verify
    runs can prove the table byte-unchanged from metadata alone — see
    :func:`snapshot_catalog_unchanged`.
    """
    from pgverify_spark.sources import manifest

    out = partitioned_fingerprint(df, schema, config, partition_sql)
    gen = manifest.new_generation()
    out.write.parquet(f"{path}/{gen}")
    _write_file_catalog(df, f"{path}/{gen}")
    manifest.commit(
        df.sparkSession, path, [gen],
        schema_json=manifest.read_back_schema(out),
    )


#: Catalog sidecar name — underscore prefix keeps it invisible to
#: parquet readers and the manifest's data-file expansion alike.
_FILECAT = "_filecat.json"


def _target_file_catalog(spark, files) -> list[list]:
    """(path, size, mtime_ms) for the given data files — O(files)
    namenode metadata, zero data bytes.  Paths are normalized through
    ``Path.toUri().getPath()`` so ``file:/x`` and ``/x`` spellings
    (df.inputFiles vs a directory listing) compare equal."""
    from pgverify_spark.sources.maintain import _hadoop

    out = []
    for f in files:
        jvm, fs = _hadoop(spark, f)
        p = jvm.org.apache.hadoop.fs.Path(f)
        st = fs.getFileStatus(p)
        out.append(
            [p.toUri().getPath(), int(st.getLen()), int(st.getModificationTime())]
        )
    return sorted(out)


def _list_table_files(spark, table_path: str) -> list[str]:
    """Recursive data-file listing of a table path — a directory of
    part files OR a single parquet file (the testdata layout); skips
    ``_``/``.``-prefixed bookkeeping files.  Pure namenode metadata,
    no file is opened."""
    from pgverify_spark.sources.maintain import _hadoop

    jvm, fs = _hadoop(spark, table_path)
    P = jvm.org.apache.hadoop.fs.Path
    root = table_path.rstrip("/")
    if not fs.getFileStatus(P(root)).isDirectory():
        return [root]
    out: list[str] = []

    def walk(d: str) -> None:
        for st in fs.listStatus(P(d)):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                walk(f"{d}/{name}")
            else:
                out.append(f"{d}/{name}")

    walk(root)
    return out


def _file_day_bounds(df) -> dict[str, tuple[int, int]]:
    """Per-input-file (day_min, day_max) of the event-time column — one
    aggregate over the files' own bytes, keyed by ``input_file_name``
    (normalized to the catalog's path spelling).  Empty when the table
    has no ``ts`` column.  A file with any NULL-``ts`` row has no
    derivable bound (those rows' day is unknowable from metadata) and
    is OMITTED from the result rather than crashing on ``int(None)``
    (r11 ADVICE) — callers treat a missing file as "no bound" and fall
    back to the full scan."""
    from pgverify_spark.functions import timecol
    from pgverify_spark.sources.maintain import _hadoop

    if "ts" not in df.columns:
        return {}
    files = df.inputFiles()
    jvm, _ = _hadoop(df.sparkSession, files[0]) if files else (None, None)
    day = timecol.bucket_sql(df, timecol.US_PER_DAY)
    rows = (
        df.selectExpr("input_file_name() AS f", f"{day} AS d")
        .groupBy("f")
        .agg(
            F.min("d").alias("lo"),
            F.max("d").alias("hi"),
            F.sum(F.col("d").isNull().cast("bigint")).alias("n_null"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        if r["lo"] is None or r["hi"] is None or (r["n_null"] or 0) > 0:
            continue
        p = jvm.org.apache.hadoop.fs.Path(r["f"]).toUri().getPath()
        out[p] = (int(r["lo"]), int(r["hi"]))
    return out


def _write_file_catalog(df, gen_dir: str, prev_catalog: list[list] | None = None) -> None:
    """Write the (path, size, mtime, day_min, day_max) catalog for
    ``df``'s input files.  Day bounds come from the PREVIOUS catalog
    for files whose (size, mtime) are unchanged — only new/changed
    files are scanned, keeping the splice's catalog refresh O(delta)
    like the splice itself."""
    import json as _json

    from pgverify_spark.sources.maintain import _hadoop

    spark = df.sparkSession
    cat = _target_file_catalog(spark, sorted(df.inputFiles()))
    reuse = {
        tuple(row[:3]): (row[3], row[4])
        for row in (prev_catalog or [])
        if len(row) >= 5 and row[3] is not None
    }
    need_scan = [row[0] for row in cat if tuple(row) not in reuse]
    bounds: dict[str, tuple] = {}
    if need_scan and "ts" in df.columns:
        bounds = _file_day_bounds(spark.read.parquet(*need_scan))
    cat = [
        row + list(reuse.get(tuple(row), bounds.get(row[0], (None, None))))
        for row in cat
    ]
    jvm, fs = _hadoop(spark, gen_dir)
    stream = fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{gen_dir}/{_FILECAT}"), True
    )
    try:
        stream.write(_json.dumps({"files": cat}).encode())
    finally:
        stream.close()


def snapshot_catalog_unchanged(spark, table_dir: str, path: str) -> bool | None:
    """Metadata-only incremental-verify fast path: True when the
    target table directory's CURRENT data files (path + size + mtime)
    are identical to the catalog stored with the snapshot — the table
    is byte-unchanged, so re-fingerprinting would reproduce the stored
    state and the verify can report zero drift WITHOUT opening a
    single data file, not even a schema footer (the check runs before
    the DataFrame is constructed; cost = one directory listing).
    False = something moved, run the real scan; None = no catalog
    stored (legacy snapshot).

    An mtime-preserving in-place byte flip defeats any metadata check —
    that adversarial case is what the full fingerprint scan (and the
    scheduled full re-verify every deployment keeps) exists for; the
    fast path targets the overwhelmingly common no-op verify.
    """
    stored = _read_file_catalog(spark, path)
    if stored is None:
        return None
    current = _target_file_catalog(spark, _list_table_files(spark, table_dir))
    return [tuple(x[:3]) for x in stored] == [tuple(x) for x in current]


def _read_file_catalog(spark, path: str) -> list[list] | None:
    """The file catalog stored with the snapshot's current generation;
    None when the snapshot has no manifest or no catalog."""
    import json as _json

    from pgverify_spark.sources import manifest
    from pgverify_spark.sources.maintain import _hadoop

    entries = manifest.current_entries(spark, path)
    if not entries:
        return None
    jvm, fs = _hadoop(spark, path)
    cat_path = jvm.org.apache.hadoop.fs.Path(f"{path}/{entries[0]}/{_FILECAT}")
    if not fs.exists(cat_path):
        return None
    stream = fs.open(cat_path)
    try:
        raw = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode("utf-8")
    finally:
        stream.close()
    return _json.loads(raw)["files"]


def _catalog_delta(
    stored: list[list], current: list[list]
) -> tuple[list[list], list[str]]:
    """The file-catalog delta since a snapshot: the ``stored`` rows whose
    file changed (path, size or mtime) or vanished, and the ``current``
    paths that were added or changed."""
    by_path = {row[0]: row for row in stored}
    now = {row[0]: row for row in current}
    changed_stored = [
        row for p, row in by_path.items()
        if p not in now or tuple(now[p][:3]) != tuple(row[:3])
    ]
    added = [
        p for p, row in now.items()
        if p not in by_path or tuple(by_path[p][:3]) != tuple(row)
    ]
    return changed_stored, added


def snapshot_affected_day_bounds(
    spark, table_dir: str, path: str
) -> tuple[int, int] | None:
    """The day range a metadata drift can possibly have touched — the
    partition-pruning half of the incremental verify: files whose
    (size, mtime) moved, vanished, or appeared since the snapshot bound
    the affected days; every other day's rows live only in byte-
    unchanged files, so its stored fingerprint is metadata-proven
    current and need not be recomputed.

    Sources of the bound: CHANGED/REMOVED files use the day ranges the
    catalog stored at snapshot time; ADDED/CHANGED files' current
    content is scanned — but ONLY those files (the delta bytes, not
    the table).  Returns None when no bound is derivable (no catalog,
    a file without a stored range, or a no-``ts`` table) — callers
    fall back to the full scan.  Returns ``(day_lo, day_hi)`` as one
    covering range (conservative for disjoint edits; correctness never
    depends on tightness).
    """
    stored = _read_file_catalog(spark, path)
    if stored is None or any(len(row) < 5 for row in stored):
        return None
    changed_stored, new_files = _catalog_delta(
        stored, _target_file_catalog(spark, _list_table_files(spark, table_dir))
    )
    lo = hi = None

    def widen(a, b):
        nonlocal lo, hi
        lo = a if lo is None else min(lo, a)
        hi = b if hi is None else max(hi, b)

    for row in changed_stored:
        if row[3] is None or row[4] is None:
            return None  # a changed file with no stored bound
        widen(int(row[3]), int(row[4]))
    if new_files:
        sub = spark.read.parquet(*new_files)
        if "ts" not in sub.columns:
            return None
        bounds = _file_day_bounds(sub)
        # every scanned file must yield a bound — a file omitted from
        # the result (all-NULL or mixed-NULL ts: its rows' days are not
        # derivable) makes the whole range unbounded (r11 ADVICE; was a
        # TypeError crash on int(None)).  Non-empty files with no bound
        # and genuinely empty files both land here; empty-file fallback
        # is conservative but costs only the scan we already avoided.
        if len(bounds) < len(new_files) and sub.count() > 0:
            return None
        for a, b in bounds.values():
            widen(a, b)
    if lo is None:  # metadata moved but no rows anywhere? treat as full
        return None
    return lo, hi


def _catalog_delta_within_parts(
    spark, df: DataFrame, prev_catalog: list[list] | None, parts: tuple,
    partition_sql: str | None,
) -> bool:
    """Is every file that changed/appeared/vanished since the stored
    catalog provably confined to the day partitions named in ``parts``?

    The guard for the splice's catalog re-baseline (r11 ADVICE,
    medium): ``update_fingerprint_snapshot`` re-fingerprints only the
    named partitions but used to re-baseline the catalog to ALL current
    files unconditionally — a ``--snapshot-refresh`` naming fewer
    partitions than actually changed would then arm the
    ``snapshot_catalog_unchanged`` fast path and permanently certify
    zero drift for the un-named stale partitions, where a plain verify
    would have full-scanned and caught the caller's mistake.  Returns
    False (caller skips the catalog write; later verifies fall back to
    the real scan) whenever containment cannot be PROVEN: custom
    ``partition_sql`` (parts are not day numbers), no stored catalog or
    bounds, a changed file without a stored bound, an added file
    without a derivable bound, or any delta day outside ``parts``.
    """
    if partition_sql is not None:
        return False  # parts are caller-typed, not day numbers
    if prev_catalog is None or any(len(row) < 5 for row in prev_catalog):
        return False
    try:
        part_days = {int(p) for p in parts}
    except (TypeError, ValueError):
        return False

    def covered(lo: int, hi: int) -> bool:
        return hi - lo < len(part_days) + 1 and all(
            d in part_days for d in range(lo, hi + 1)
        )

    changed_stored, added = _catalog_delta(
        prev_catalog, _target_file_catalog(spark, sorted(df.inputFiles()))
    )
    for row in changed_stored:
        if row[3] is None or row[4] is None:
            return False
        if not covered(int(row[3]), int(row[4])):
            return False
    if added:
        if "ts" not in df.columns:
            return False
        bounds = _file_day_bounds(spark.read.parquet(*added))
        if len(bounds) < len(added):
            return False  # some added file has no derivable day bound
        for lo, hi in bounds.values():
            if not covered(lo, hi):
                return False
    return True


def verify_against_snapshot(
    spark,
    df: DataFrame,
    schema: TableSchema,
    path: str,
    config: VerifyConfig | None = None,
    partition_sql: str | None = None,
    part_between: tuple[int, int] | None = None,
) -> DataFrame:
    """Partitions that changed since :func:`write_fingerprint_snapshot`.

    Output matches :func:`partition_diff`: (part, left_fp, right_fp,
    status) where left is the SNAPSHOT side (``only_left`` = partition
    existed at snapshot time and is gone now) and right is the current
    data.  Compose with the drill-down chain: feed the mismatched parts
    to a partition-filtered scan + :func:`~pgverify_spark.operators.diff.row_diff`
    for row detail, touching only changed partitions.

    ``part_between=(lo, hi)``: verify ONLY that partition range — the
    incremental path for callers who have metadata-bounded the drift
    (:func:`snapshot_affected_day_bounds`): the recompute scan carries
    the bound as a pushed-down predicate and the snapshot side filters
    to the same range, so partitions outside it are neither read nor
    reported (they are metadata-proven unchanged).
    """
    from pgverify_spark.functions import timecol
    from pgverify_spark.sources import manifest

    prev = manifest.read_state(spark, path).withColumnRenamed("fp", "left_fp")
    if part_between is not None:
        lo, hi = part_between
        psql = partition_sql or timecol.bucket_sql(df, timecol.US_PER_DAY)
        df = df.filter(f"({psql}) BETWEEN {lo} AND {hi}")
        prev = prev.filter(f"part BETWEEN {lo} AND {hi}")
    cur = partitioned_fingerprint(df, schema, config, partition_sql).withColumnRenamed(
        "fp", "right_fp"
    )
    return compare_partition_fingerprints(prev, cur)


def _sql_literal(v) -> str:
    """Render a partition value as a Spark SQL literal: numbers bare,
    everything else single-quoted with quotes doubled — a string-valued
    ``partition_sql`` (e.g. a region or source column) must not be
    interpolated as a bare identifier."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def update_fingerprint_snapshot(
    spark,
    df: DataFrame,
    schema: TableSchema,
    path: str,
    parts: tuple,
    config: VerifyConfig | None = None,
    partition_sql: str | None = None,
) -> DataFrame:
    """Refresh the stored snapshot for ONLY the named partitions — the
    write half of the incremental loop: yesterday's ingest touched
    partitions P, so recompute P's fingerprints and splice them into the
    state; a partition in ``parts`` with no surviving rows drops out of
    the state.  Returns the new state (part, fp), which must equal a
    from-scratch :func:`partitioned_fingerprint` of the current table —
    the oracle pairing in the registry proves exactly that.

    I/O note: the filter is on the *derived* partition expression, so it
    prunes storage only when the table layout is partitioned/bucketed on
    the same key (``partitionBy(date)`` at 100 TB — then this is
    partition pruning and the read is a fraction of the table).  On a
    flat layout the predicate evaluates after the scan; the compute
    (sort + hash) is still restricted to the touched partitions.

    The splice is distributed (r9 VERDICT item 1 — nothing crosses the
    driver at any state size): the kept ∪ fresh union is written to a
    fresh generation directory as a cluster job.  Unlike the
    day-partitioned splice in ``rollup.update_rollup_snapshot`` this
    rewrites the whole state — the right trade here because ``part``
    values are caller-typed (strings, md5 buckets, day numbers...) and
    a partition-directory round-trip would re-infer their type, while
    the state is O(partitions) (a 10-year daily table is ~3.7k rows —
    the rewrite is noise next to the pruned fingerprint scan).  The
    publish is a manifest commit (r10 VERDICT item 3 — atomic to
    readers, superseded generations survive one further commit before
    GC), replacing the old rename-aside/rename-in swap whose window a
    racing reader could hit.
    """
    from pgverify_spark.functions import timecol
    from pgverify_spark.sources import manifest

    if not parts:  # 'refresh nothing' is a no-op, not 'IN ()' (a parse error)
        return manifest.read_state(spark, path)
    psql = partition_sql
    if psql is None:
        psql = timecol.bucket_sql(df, timecol.US_PER_DAY)
    in_list = ", ".join(_sql_literal(p) for p in parts)
    fresh = partitioned_fingerprint(
        df.filter(f"({psql}) IN ({in_list})"), schema, config, psql
    )
    if manifest.current_entries(spark, path) is None:
        # legacy flat snapshot: absorb it into the grace-window
        # lifecycle so its files are GC'd two commits from now
        manifest.commit(spark, path, manifest.bootstrap_entries(spark, path))
    kept = manifest.read_state(spark, path).filter(
        ~F.col("part").isin(list(parts))
    )
    gen = manifest.new_generation()
    staged = kept.unionByName(fresh)
    staged.write.parquet(f"{path}/{gen}")
    # refresh the target file catalog: the splice re-baselines the
    # incremental-verify fast path to the table's current files;
    # unchanged files keep their stored day bounds (O(delta) refresh).
    # ONLY when the file delta is provably confined to ``parts`` (r11
    # ADVICE, medium): re-baselining past an under-named refresh would
    # arm the metadata fast path to certify zero drift for partitions
    # this splice never recomputed.  When containment can't be proven
    # the catalog is simply dropped — later verifies full-scan, which
    # is the behavior a mistaken caller needs to see their drift.
    prev_cat = _read_file_catalog(spark, path)
    if _catalog_delta_within_parts(spark, df, prev_cat, parts, partition_sql):
        _write_file_catalog(df, f"{path}/{gen}", prev_cat)
    manifest.commit(
        spark, path, [gen], schema_json=manifest.read_back_schema(staged)
    )
    return manifest.read_state(spark, path)


def partition_diff_oracle_sql(
    left_table: str,
    right_table: str,
    schema: TableSchema,
    config: VerifyConfig | None = None,
    partition_sql: str = "CAST(epoch_us(ts) // 86400000000 AS BIGINT)",
    left_sql: str | None = None,
) -> str:
    """``left_sql`` overrides the left-side CTE body with a
    pre-materialized (part, fp) relation — the verify-only twin
    bench.py times against :func:`verify_against_snapshot`'s stored
    state, so both engines fingerprint the left side once, untimed."""
    def side(table: str) -> str:
        return partitioned_fingerprint_oracle_sql(table, schema, config, partition_sql)

    return (
        f"WITH l AS ({left_sql or side(left_table)}), r AS ({side(right_table)}) "
        "SELECT COALESCE(l.part, r.part) AS part, l.fp AS left_fp, r.fp AS right_fp, "
        "CASE WHEN r.fp IS NULL THEN 'only_left' "
        "WHEN l.fp IS NULL THEN 'only_right' "
        "ELSE 'fp_mismatch' END AS status "
        "FROM l FULL OUTER JOIN r ON l.part = r.part "
        "WHERE l.fp IS NULL OR r.fp IS NULL OR l.fp <> r.fp"
    )


#: HLL precision of the cardinality mode: m = 2^12 registers per column
#: (~1.6% relative error); state is |columns| x 4096 single-byte maxima.
CARDINALITY_P = 12


def cardinality_fingerprint(
    df: DataFrame, schema: TableSchema, config: VerifyConfig | None = None
) -> DataFrame:
    """Distinct-shape fingerprint: per-column HLL register identity.

    Extension beyond the reference (SURVEY.md §7.3): a verify MODE that
    compares each column's **distinct value set** instead of the row
    multiset.  Needs no primary key and no sort; one scan feeds a
    (column, bucket) register aggregate (map-side pre-max, shuffle =
    |columns| x 4096 rows per executor regardless of input), and the
    fingerprint is the readable per-column string
    ``col:n_filled:register_sum,...`` — so a MISMATCH NAMES THE COLUMN
    whose value set drifted, where full/additive say only "something
    differs".  Deliberately weaker than additive (multiplicities are
    invisible: duplicated rows compare equal) — the two modes compose:
    additive answers "same rows?", cardinality answers "which column's
    value DOMAIN moved?" (rescaled ids, re-coded enums, truncated text).

    Registers hash each column's CANONICAL text form (the §1.3 type
    table), so the same value set fingerprints identically across
    engines and physical types; NULLs are excluded per COUNT DISTINCT
    semantics.  Each segment digests the FULL ordered (bucket, rho)
    register list — not a bucket-blind scalar like the estimate's
    register sum, whose rho histogram two different small domains
    collide on routinely (most rhos are 1-2; measured: region's five
    names re-coded with a suffix kept the identical rho multiset) —
    so drift detection degrades with the sketch's 2^-128 digest, not
    with the estimator.  Integer/string-only math end-to-end:
    cross-engine equality is bit-for-bit (operators/sketch.py's
    pinned-hash HLL discipline).
    """
    from pgverify_spark.operators.sketch import _hll_register_sql, hll_summary

    config = config or VerifyConfig()
    cols = sorted(config.typed_cols(schema.hashed_cols(config.valid_column)))
    args = ", ".join(
        f"'{c}', {canon_sql(c, t, DIALECT_SPARK, config.trunc_unit)}"
        for c, t in cols
    )
    # _parallelize: the stack+md5 projection is CPU-bound; a few-file
    # input would otherwise pin to a handful of cores (measured: the
    # sf0.1 lineitem probe ran SLOWER than its rep10 10x twin purely on
    # split count).  No-op at scale, same gate as _kh.
    base = df if _small(df, config) else _parallelize(df)
    pairs = base.selectExpr(f"stack({len(cols)}, {args}) AS (col, v)").filter(
        "v IS NOT NULL"
    )
    grp, bucket, rho = _hll_register_sql("v", "col", CARDINALITY_P, DIALECT_SPARK)
    regs = (
        pairs.selectExpr(grp, bucket, rho)
        .groupBy("grp", "bucket")
        .agg(F.max("r").alias("r"))
    )
    percol = regs.groupBy("grp").agg(
        F.expr(
            "concat(grp, ':', count(1), ':', md5(array_join(transform("
            "sort_array(collect_list(struct(bucket, r))), "
            "x -> concat(x.bucket, ':', x.r)), ','))) "
        ).alias("s")
    )
    return percol.agg(
        F.expr("concat_ws(',', sort_array(collect_list(s)))").alias("fp")
    ).selectExpr("COALESCE(NULLIF(fp, ''), 'no rows') AS fp")


FINGERPRINT_OPS = {
    "full": full_fingerprint,
    "bookend": bookend_fingerprint,
    "sparse": sparse_fingerprint,
    "rowcount": rowcount,
    "bucketed": bucketed_fingerprint,
    "additive": additive_fingerprint,
    "cardinality": cardinality_fingerprint,
}

#: Modes computable from ONE (k, h) scan in a single aggregate pass, at
#: any input size.
FUSABLE_MODES = ("full", "rowcount", "additive")
#: Modes computable from one scan and one aggregate on a small input
#: (``_small``), whose whole projection fits one reducer: bookend's first
#: and last N and sparse's sample come from the same aggregate.
SMALL_FUSABLE_MODES = FUSABLE_MODES + ("sparse", "bookend")


def fusable_modes(df: DataFrame, config: VerifyConfig) -> tuple[str, ...]:
    """The modes :func:`fused_fingerprints` can compute together on
    ``df``: ``SMALL_FUSABLE_MODES`` on a small input (``_small``),
    ``FUSABLE_MODES`` otherwise."""
    return SMALL_FUSABLE_MODES if _small(df, config) else FUSABLE_MODES


def fused_fingerprints(
    df: DataFrame,
    schema: TableSchema,
    config: VerifyConfig,
    modes: tuple[str, ...],
) -> DataFrame:
    """One-scan computation of several fingerprint modes at once.

    Run as separate operators, each mode scans the table once — the
    reference's default mode set pays one in-database scan per mode the
    same way (query.go:122-283).  This fuses them into one projection +
    one aggregate producing one column per mode (``fp_<mode>``);
    ``plans/verify.py`` turns the single row into one cell per mode.
    Each column is byte-identical to the standalone operator's output
    (asserted in tests against the oracle and the large-input plans), so
    fused and unfused targets stay comparable.

    The input size picks the plan and the fusable set
    (:func:`fusable_modes`):

    - small input: every mode in ``SMALL_FUSABLE_MODES`` from one
      projection and one two-stage aggregate (:func:`_small_fused`) —
      the only small-input implementation of full, sparse and bookend;
    - large input: ``FUSABLE_MODES`` only, from the exact ordered
      reducer (:func:`_ordered_reduce`: one range sort, then the
      streamed or the JVM final reduce) with the count/sum terms riding
      along.  Bookend keeps its top-K plan and sparse its filter-first
      plan.

    The additive term needs no second scan: its 48-bit integer derives
    from the same row hash ``h`` the ordered concat consumes.
    """
    fusable = fusable_modes(df, config)
    for m in modes:
        if m not in fusable:
            raise ValueError(f"mode {m!r} is not fusable; fusable: {fusable}")
    if fusable == SMALL_FUSABLE_MODES:
        return _small_fused(df, schema, config, modes)
    return _ordered_reduce(_kh(df, schema, config), config, modes)


def _small_fused(
    df: DataFrame, schema: TableSchema, config: VerifyConfig, modes: tuple[str, ...]
) -> DataFrame:
    """``fp_<mode>`` for ``modes`` (any of ``SMALL_FUSABLE_MODES``) from
    one projection and one two-stage aggregate over a small input.

    The projection carries only what the modes read: the key ``k``, the
    canonical row string ``r`` (bookend), the row hash ``h`` (``md5(r)``
    when ``r`` is projected) and sparse's ``sampled`` flag.  The
    aggregate keeps one row count and up to three lists: the (k, h)
    pairs (full), the sampled (k, h) pairs (sparse,
    ``FILTER (WHERE sampled)``) and the sorted (k, r) pairs (bookend,
    which md5s only the first and last N of them).  Every mode but
    bookend is final in the aggregate's output; bookend's sorted list is
    sliced in one projection after it, so it is sorted once.
    """
    k, h, k_plain = _exprs(schema, config)
    want = set(modes)
    hashed = want & {"full", "sparse", "additive"}
    proj = []
    if want & {"full", "sparse", "bookend"}:
        proj.append(f"{k} AS k")
    if "bookend" in want:
        cols = config.typed_cols(schema.hashed_cols(config.valid_column))
        proj.append(f"{row_concat_sql(cols, DIALECT_SPARK, config.trunc_unit)} AS r")
    elif hashed:
        proj.append(f"{h} AS h")
    if "sparse" in want:
        proj.append(f"{_sampled_sql(k_plain, config)} AS sampled")
    rows = df.selectExpr(*proj)
    if want == {"sparse"}:
        # alone, sparse filters first (the optimizer pushes the filter
        # below the projection, so only the sampled rows are hashed)
        rows = rows.filter("sampled")
    if "bookend" in want and hashed:
        rows = rows.selectExpr("*", "md5(r) AS h")
    sampled_kh = "collect_list(struct(k, h)) FILTER (WHERE sampled)"
    outs = {
        "full": _NO_ROWS_AGG,
        "rowcount": "CAST(count(1) AS STRING)",
        "additive": _additive_sql("count(1)", f"sum({_hv_sql('h')})"),
        "sparse": (
            f"CASE WHEN count(1) FILTER (WHERE sampled) = 0 THEN 'no rows' "
            f"ELSE {_ordered_digest(sampled_kh)} END"
        ),
        "bookend": "sort_array(collect_list(struct(k, r)))",
    }
    fps = rows.selectExpr(*[f"{outs[m]} AS fp_{m}" for m in modes])
    if "bookend" not in want:
        return fps
    n = config.bookend_limit
    start = f"slice(fp_bookend, 1, {n})"
    end = f"slice(fp_bookend, greatest(size(fp_bookend) - {n} + 1, 1), {n})"
    return fps.withColumn(
        "fp_bookend", F.expr(_bookend_combine(_bookend_half(start), _bookend_half(end)))
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins — same canonicalization code path, DuckDB dialect.
# ---------------------------------------------------------------------------

def fingerprint_oracle_sql(
    mode: str, table: str, schema: TableSchema, config: VerifyConfig | None = None
) -> str:
    """DuckDB SQL computing the identical fingerprint for ``mode``."""
    config = config or VerifyConfig()
    cols = config.typed_cols(schema.hashed_cols(config.valid_column))
    pk = config.typed_cols(schema.pk_cols())
    h = row_hash_sql(cols, DIALECT_DUCKDB, config.trunc_unit)
    k = pk_key_sql(pk, DIALECT_DUCKDB, config.trunc_unit, config.hash_primary_keys)
    k_plain = pk_key_sql(pk, DIALECT_DUCKDB, config.trunc_unit, False)
    base = f"SELECT {k} AS k, {h} AS h FROM {table}"
    agg = "md5(string_agg(h, '' ORDER BY k, h))"

    if mode == "rowcount":
        return f"SELECT CAST(count(*) AS VARCHAR) AS fp FROM {table}"
    if mode == "additive":
        h48 = hex_prefix_int_sql("hm", DIALECT_DUCKDB)
        return (
            "SELECT concat_ws(':', CAST(count(*) AS VARCHAR), "
            f"CAST(CAST(sum(hv) % {ADDITIVE_MOD} AS DECIMAL(38,0)) AS VARCHAR)) AS fp FROM "
            f"(SELECT CAST({h48} AS DECIMAL(38,0)) AS hv FROM "
            f"(SELECT {h} AS hm FROM {table}) t1) t2"
        )
    if mode == "full":
        return f"SELECT COALESCE({agg}, 'no rows') AS fp FROM ({base}) t"
    if mode == "bookend":
        n = config.bookend_limit
        r = row_concat_sql(cols, DIALECT_DUCKDB, config.trunc_unit)
        ragg = "md5(string_agg(md5(r), '' ORDER BY k, r))"
        return (
            f"WITH base AS (SELECT {k} AS k, {r} AS r FROM {table}), "
            f"s AS (SELECT {ragg} AS fp FROM (SELECT * FROM base ORDER BY k ASC, r ASC LIMIT {n}) t), "
            f"e AS (SELECT {ragg} AS fp FROM (SELECT * FROM base ORDER BY k DESC, r DESC LIMIT {n}) t) "
            "SELECT md5(concat(COALESCE(s.fp, ''), COALESCE(e.fp, ''))) AS fp FROM s, e"
        )
    if mode == "sparse":
        sel = hex_prefix_int_sql("hk", DIALECT_DUCKDB)
        return (
            f"SELECT COALESCE({agg}, 'no rows') AS fp FROM "
            f"(SELECT k, h FROM (SELECT {k} AS k, {h} AS h, md5({k_plain}) AS hk FROM {table}) t "
            f"WHERE ({sel} % {config.sparse_mod}) = 0) t2"
        )
    if mode == "cardinality":
        from pgverify_spark.operators.sketch import _hll_register_sql

        union = " UNION ALL ".join(
            f"SELECT '{c}' AS grp, "
            f"{canon_sql(c, t, DIALECT_DUCKDB, config.trunc_unit)} AS v FROM {table}"
            for c, t in sorted(cols)
        )
        grp, bucket, rho = _hll_register_sql("v", "grp", CARDINALITY_P, DIALECT_DUCKDB)
        return (
            f"WITH u AS ({union}), "
            f"vals AS (SELECT grp, {bucket}, {rho} FROM u WHERE v IS NOT NULL), "
            "regs AS (SELECT grp, bucket, max(r) AS r FROM vals GROUP BY grp, bucket), "
            "s AS (SELECT grp || ':' || CAST(count(*) AS VARCHAR) || ':' || "
            "md5(string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(r AS VARCHAR), "
            "',' ORDER BY bucket)) AS s FROM regs GROUP BY grp) "
            "SELECT COALESCE(NULLIF(string_agg(s, ',' ORDER BY s), ''), 'no rows') AS fp FROM s"
        )
    if mode == "bucketed":
        b = config.fingerprint_buckets
        bucket = f"({hex_prefix_int_sql(f'md5({k_plain})', DIALECT_DUCKDB)} % {b})"
        return (
            "SELECT COALESCE(md5(string_agg(bh, '' ORDER BY bucket)), 'no rows') AS fp FROM "
            f"(SELECT bucket, {agg} AS bh FROM "
            f"(SELECT {k} AS k, {h} AS h, {bucket} AS bucket FROM {table}) t "
            "GROUP BY bucket) t2"
        )
    raise ValueError(f"unknown mode {mode!r}")
