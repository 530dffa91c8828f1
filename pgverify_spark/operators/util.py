"""Shared physical-plan helpers for operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def parallelize(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan has fewer splits than the
    cluster has cores.  CPU-bound projections (md5 + canonical casts) over
    a small input (few files / few row groups) would otherwise pin to a
    handful of cores.  At 100 TB the scan has orders of magnitude more
    splits than cores and this is a no-op — no shuffle is ever added to a
    large input.

    The split-count probe (``df.rdd.getNumPartitions``) builds the
    physical RDD DAG, which is wasteful at plan-build frequency, so it is
    gated behind Catalyst's size estimate: a plan whose input is at least
    cores × maxPartitionBytes necessarily scans with ≥cores splits, so
    large inputs skip the probe (and the repartition) without ever
    materializing an RDD — only driver-cheap small plans pay the probe."""
    spark = df.sparkSession
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    max_split = int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    if plan_size_bytes(df) >= cores * max_split:
        return df
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def scaled_partitions(
    df: DataFrame, target_bytes: int = 64 << 20, floor: int | None = None
) -> int:
    """Width for an EXPLICIT exchange, derived from input size — never a
    constant (guide §2.2: size partitions by bytes, 100 MB-1 GB each).

    Explicit because the caller's next stage is CPU-heavy per row
    (ordered md5 concat, window rank over a table-sized relation): AQE's
    byte-based coalescing (``parallelismFirst=false``, session.py) would
    merge a small input to ONE task and serialize that stage — measured
    +1.2 s (bucketed_fingerprint) / +2.2 s (grouped_topk) at sf0.1.  So:

    - small inputs take the session's core count (CPU-bound work wants
      cores; pre-r12 behavior, bench-comparable at any local core count);
    - large inputs take ``est_bytes / target_bytes`` partitions, so a
      100 TB relation gets ~1.6 M well-sized partitions, not #cores;
    - statless sources (JDBC: estimate is effectively infinite) fall
      back to the admin-tuned ``spark.sql.shuffle.partitions``.

    ``floor`` overrides the core-count minimum: pass ``floor=1`` for
    exchanges whose downstream work is shuffle-light (hash joins /
    aggregates over id-sized rows) where idle-core cost is zero and
    per-task scheduling is the dominant constant.
    """
    spark = df.sparkSession
    est = plan_size_bytes(df)
    lo = spark.sparkContext.defaultParallelism if floor is None else floor
    if est >= (1 << 50):  # defaultSizeInBytes sentinel: size unknown
        return max(lo, int(spark.conf.get("spark.sql.shuffle.partitions")))
    return max(lo, min(est // target_bytes, 1 << 20))


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan's output (file bytes for
    parquet scans; ``spark.sql.defaultSizeInBytes`` — effectively infinite
    — for sources without statistics, so unknown sizes take large-input
    paths)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def checkpoint_observed(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` plus the named aggregates
    ``aggs`` over its rows (a name -> value dict), with no job of their
    own: they are ``DataFrame.observe`` metrics computed by the
    checkpoint's jobs.  A separate action on the checkpoint would
    schedule more jobs (two for a ``count()`` under AQE).

    The observed node sits directly under the checkpoint, in the
    checkpoint job's result stage.  Accumulator updates of a result
    stage merge exactly once per partition, so a retried task cannot
    count its rows twice."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *(c.alias(name) for name, c in aggs.items()))
    cp = observed.localCheckpoint(eager=True)
    return cp, obs.get


def checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Eager ``localCheckpoint`` of ``df`` plus its observed row count."""
    from pyspark.sql import functions as F

    cp, metrics = checkpoint_observed(df, n=F.count(F.lit(1)))
    return cp, int(metrics["n"])


def tag_cached_deps(result: DataFrame, *deps: DataFrame) -> DataFrame:
    """Record persisted intermediates on a returned DataFrame so callers
    can release them once the result is materialized."""
    result._pgvs_cached_deps = deps  # type: ignore[attr-defined]
    return result


def release_cached_deps(result: DataFrame) -> None:
    """Unpersist the cached intermediates backing ``result``.

    Operators meant to run repeatedly in a long-lived session (the
    per-ingest probes: ``dedup.probe_lsh_index``,
    ``dedup.cross_corpus_lsh_pairs``, ``dedup.semantic_dup_pairs``)
    persist load-bearing intermediates per invocation.  Spark evicts
    cached blocks LRU under memory pressure, so leaking them is not a
    correctness bug — but a long ingest loop should call this after
    materializing each batch's result to keep executor storage flat.
    No-op for results with no tagged deps.

    The unpersist is BLOCKING: an ingest loop calling this per batch
    gets deterministic storage accounting (the next batch starts with
    the blocks actually gone), at the cost of waiting for block removal
    — microseconds against a batch's job time."""
    for dep in getattr(result, "_pgvs_cached_deps", ()):
        dep.unpersist(blocking=True)


def barrier(df: DataFrame) -> DataFrame:
    """Optimization barrier between expression layers.

    Catalyst's CollapseProject merges adjacent projections by *inlining*
    the lower expression into every reference above — for a tokens array
    referenced by 3n lambda element_at's (or a shingle array referenced
    by 32 MinHash mins) that re-evaluates the full regexp/md5 pipeline
    per reference and turns a linear scan quadratic (measured 30s+ at
    sf0.1).  A round-robin repartition puts an exchange between the
    projects so each layer is computed once per row; it also spreads the
    CPU-heavy hashing across all cores.  Cost: one shuffle of (id, array)
    rows — linear in data size, the right trade at any scale."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def carry_cached_deps(src: DataFrame, out: DataFrame) -> DataFrame:
    """Re-tag ``out`` with ``src``'s cached deps.  The deps tag is a
    plain Python attribute, so ANY DataFrame transformation drops it —
    a projection between an operator that tags (``graph.doc_term_edges``)
    and a consumer that forwards (``sketch.kmv_overlap``) silently
    orphans the persisted intermediates unless re-tagged."""
    return tag_cached_deps(out, *getattr(src, "_pgvs_cached_deps", ()))
