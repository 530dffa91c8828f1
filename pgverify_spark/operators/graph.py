"""Iterative graph analytics over document-pair graphs.

Beyond-reference extension (the reference has no graph notion anywhere
in its ~1,100 LoC — SURVEY.md §1.4): once a dedup pipeline has produced
near-duplicate *pairs*, the pair graph carries more signal than
connected components alone.  PageRank over it scores how "central" a
document is inside its duplication neighbourhood — a standard
quality/canonicality weight in web-corpus curation (highly-duplicated
boilerplate scores high and can be down-weighted; a document only
loosely attached to a dup cluster scores near the teleport floor).
The same operator runs over any (doc_a, doc_b) edge relation — citation
links, hyperlinks — which is where the 100 TB case lives.

PageRank — global (:func:`pagerank`), weighted
(:func:`pagerank_weighted`) and personalized
(:func:`pagerank_personalized`) — is ONE kernel, :func:`_rank_walk`;
the three walks differ only in the contribution expression (the
weight column) and the init/teleport terms (a literal, or a CASE over
the seed predicate).  Scale shape — the classic iterative join-agg,
same discipline as :func:`pgverify_spark.operators.dedup.dup_clusters`:

- one edge build (:func:`_edge_cache`): the pairs are checkpointed
  (their count observed by the checkpoint job), symmetrized,
  hash-exchanged ONCE on the source id, then parallel edges merge and
  the out-degree window runs in-partition — 1 Exchange, no Join,
  persisted as hash(s, nparts); every round re-reads its in-memory
  id-only blocks in place, with the out-degree riding ON each edge row;
- one round = one exchange: the contributions are repartitioned by
  destination at the cache's own width and summed per destination, so
  the next round's shuffle-hash join onto the cache is co-partitioned
  and the cache is never exchanged again; round 1 joins nothing (the
  initial rank rides on the edge rows); rows ∝ |E|;
- the rank chain stays lazy and is truncated by an eager
  ``localCheckpoint`` only every ``_CHECKPOINT_EVERY`` rounds.

The triangle statistics and the k-core peel share one oriented
(low, high) edge relation instead; the peel checkpoints every round.

Cross-engine exactness: ranks are integer PARTS-PER-MILLION and each
contribution is ``(rank_ppm * damping_pm) DIV (1000 * degree)`` —
pure BIGINT floor division, identical in Spark (``div``) and DuckDB
(``//``) for the non-negative operands used here.  Sums of BIGINTs are
order-independent, so the result is bit-identical across engines,
partitionings, and runs — float PageRank would drift in the last ulps.
The oracle unrolls the fixed iteration count into chained CTEs (no
recursion needed; multi-referenced CTEs are MATERIALIZED).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Damping factor in parts-per-thousand (0.85 — Page et al. 1999).
DAMPING_PM = 850

#: Teleport floor in ppm: (1 - damping) * 1e6.
_TELEPORT_PPM = (1000 - DAMPING_PM) * 1000

#: Initial rank: 1.0 in ppm.
_INIT_PPM = 1_000_000

#: Ids-only edge rows per partition at scale (~24 B/row -> ~48 MB
#: partitions, guide §2.2's sizing).
_EDGE_ROWS_PER_PART = 2_000_000

#: Pairs per task below the core count: a small graph wants few
#: well-fed tasks (sf0.01's 26 903 pairs stay at width 2), a mid-size
#: one all cores (10x: 2.6 M pairs -> width 4 on 4 cores).
_PAIRS_PER_TASK = 100_000

#: The rank chain stays lazy (one action evaluates the whole unrolled
#: tree); every this many rounds it is truncated with an eager
#: localCheckpoint so Catalyst analysis cost stays bounded on deep runs
#: (dup_clusters' measured per-round plan growth started past ~10
#: rounds).  Never engages at the registry's 3-4 rounds.
_CHECKPOINT_EVERY = 8


def _edge_partitions(n_pairs: int, cores: int) -> int:
    """Width of the edge cache AND of every rank round, derived from the
    pair count and the session's core count — never a knob.

    - ``n_pairs // 2M + 1`` sizes partitions by rows at scale;
    - ``min(cores, n_pairs // 100k + 1)`` lets a mid-size graph use every
      core (10x, 2.6 M pairs: rows/2M alone gives 2 tasks per round and
      measured slower than the AQE-coalesced rounds it replaced) while a
      small one keeps few well-fed tasks (r13 interleaved A/B at sf0.1
      against a core-count floor: plain 3.75→2.93 s, weighted
      5.13→3.07, personalized 3.82→2.58);
    - floor 2, not 1: ``repartition(1, key)`` normalizes to
      SinglePartition, which DROPS the hash partitioning the in-partition
      merge, the degree window and the per-round join consume (see
      dedup.dup_clusters)."""
    by_cores = min(cores, n_pairs // _PAIRS_PER_TASK + 1)
    return max(2, by_cores, min(n_pairs // _EDGE_ROWS_PER_PART + 1, 1 << 20))


def _edge_cache(sym: DataFrame, nparts: int, weighted: bool) -> DataFrame:
    """The (edges ⋈ degrees) relation every rank round reads, built with
    ONE hash exchange on ``s`` at ``nparts``; everything after it runs
    in-partition (guide §2.4):

    - parallel edges merge through ``groupBy(s, t)`` — ``distinct``
      unweighted, ``sum(w)`` weighted (repeated or reversed input pairs,
      48-bit term-hash collisions).  HashPartitioning(s) satisfies
      ClusteredDistribution(s, t), so the merge plans no exchange;
    - the out-degree (``count``) or out-strength (``sum(w)``) is a
      window over ``partition by s`` — the partitioning just
      established, so no degree exchange and no join.

    1 Exchange, no Join (plan-asserted in tests/test_pipeline_ops.py::
    test_pagerank_edge_cache_plan), correct for any input multiset.
    The persisted relation reports hash(s, nparts), which is what lets
    every round's join read it in place (:func:`_rank_walk`).
    Output columns: s, t, d (+ w when weighted), persisted."""
    from pyspark.sql import Window

    part = sym.repartition(nparts, "s")
    if weighted:
        merged, d = part.groupBy("s", "t").agg(F.expr("sum(w)").alias("w")), F.sum("w")
    else:
        merged, d = part.distinct(), F.count(F.lit(1))
    return merged.withColumn("d", d.over(Window.partitionBy("s"))).persist()


def _rank_walk(
    pairs: DataFrame,
    iterations: int,
    weighted: bool = False,
    seed_sql: str | None = None,
) -> DataFrame:
    """The one rank kernel behind :func:`pagerank`,
    :func:`pagerank_weighted` and :func:`pagerank_personalized`:
    checkpoint the pairs, symmetrize, build :func:`_edge_cache`, then
    ``iterations`` synchronous rounds of

        rank'(v) = tele(v) + sum over edges u->v of contrib(u, v)

    where ``contrib`` is ``(rank(u) * 850) DIV (1000 * deg(u))``, with a
    ``* w(u,v)`` factor and the out-strength as ``deg`` when
    ``weighted``; ``tele`` and the initial rank are the literals
    150000 / 1e6 ppm, or — with ``seed_sql`` — a CASE over the seed
    predicate scaled to full mass (see :func:`pagerank_personalized`).

    Physical shape: the edge cache is persisted once as hash(s, nparts)
    and is never exchanged again.  Each round shuffles its contributions
    ONCE, ``repartition(nparts, "t")`` below the per-destination
    aggregate, so the next round's join sees both sides as
    hash(·, nparts) and reads the cache in place — one exchange per
    round, rows ∝ |E|, id-only.  Round 1 needs no join: the cache is
    symmetrized, so every node is the source of some edge row and the
    initial rank (a literal, or the seed CASE over ``s AS node``) rides
    on the edge rows.  Shuffle-hash, not broadcast, for the later
    rounds: the planner's per-round broadcast re-collects and re-ships a
    nodes-sized table every round, and past broadcast size it is the
    only viable strategy anyway.  The pair count (exchange width,
    empty-graph check) is observed by the pairs' checkpoint job, no
    count job of its own.  Empty input returns zero rows without running
    the loop (and before any seed check)."""
    from pgverify_spark.operators.util import (
        checkpoint_counted,
        release_cached_deps,
        tag_cached_deps,
    )

    w = ("w",) if weighted else ()
    src, n_pairs = checkpoint_counted(pairs.selectExpr("doc_a", "doc_b", *w))
    # the eager checkpoint just materialized the caller's pair pipeline —
    # any persisted intermediates tagged on it (doc_term_edges' shingle
    # table) are no longer needed by anything downstream
    release_cached_deps(pairs)
    sym = src.selectExpr("doc_a AS s", "doc_b AS t", *w).unionByName(
        src.selectExpr("doc_b AS s", "doc_a AS t", *w)
    )
    nparts = _edge_partitions(n_pairs, src.sparkSession.sparkContext.defaultParallelism)
    ed = _edge_cache(sym, nparts, weighted)
    if n_pairs == 0:
        ed.unpersist()
        return ed.selectExpr("s AS node_id", "CAST(s AS BIGINT) AS rank_ppm")
    if seed_sql is None:
        init, tele = f"CAST({_INIT_PPM} AS BIGINT)", f"CAST({_TELEPORT_PPM} AS BIGINT)"
    else:
        counts = (
            ed.selectExpr("s AS node")
            .distinct()
            .selectExpr(
                "CAST(count(1) AS BIGINT) AS nv",
                f"CAST(sum(CASE WHEN {seed_sql} THEN 1 ELSE 0 END) AS BIGINT) AS ns",
            )
            .first()
        )
        nv, ns = int(counts["nv"]), int(counts["ns"] or 0)
        if ns == 0:
            ed.unpersist()
            raise ValueError(
                f"personalized PageRank needs a non-empty seed set: "
                f"{seed_sql!r} matched no node"
            )

        def on_seeds(lit: int) -> str:
            # plain concatenation, never str.format on a template holding
            # user SQL: a brace character inside seed_sql (a string
            # literal like '{"k":1}') would raise at plan-build time
            return (
                f"CASE WHEN {seed_sql} THEN CAST({lit} AS BIGINT) "
                "ELSE CAST(0 AS BIGINT) END"
            )

        init, tele = on_seeds((_INIT_PPM * nv) // ns), on_seeds((_TELEPORT_PPM * nv) // ns)
    if iterations == 0:
        ranks = ed.selectExpr("s AS node").distinct()
        return tag_cached_deps(ranks.selectExpr("node AS node_id", f"{init} AS rank_ppm"), ed)
    contrib = f"(rank_ppm * {DAMPING_PM}{' * w' if weighted else ''}) div (1000 * d)"
    # round 1's ranks ride on the edge rows; the seed CASE reads `node`
    edge_ranks = ed.selectExpr("s AS node", "t", "d", *w).selectExpr(
        "t", "d", *w, f"{init} AS rank_ppm"
    )
    for rnd in range(1, iterations + 1):
        if rnd > 1:
            r = ranks.hint("shuffle_hash")
            edge_ranks = ed.join(r, ed["s"] == r["node"])
        ranks = (
            edge_ranks.repartition(nparts, "t")
            .groupBy("t")
            .agg(F.expr(f"sum({contrib})").alias("c"))
            # two projections: the seed CASE reads the column `node`
            .selectExpr("t AS node", "c")
            .selectExpr("node", f"CAST({tele} + c AS BIGINT) AS rank_ppm")
        )
        if rnd % _CHECKPOINT_EVERY == 0 and rnd < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return tag_cached_deps(ranks.selectExpr("node AS node_id", "rank_ppm"), ed)


def pagerank(pairs: DataFrame, iterations: int = 4) -> DataFrame:
    """Integer-exact PageRank over an undirected pair graph.

    Input: (doc_a, doc_b) pairs — any BIGINT node ids (documents,
    shingle-term nodes, URLs...); extra columns are ignored; edges are
    symmetrized and deduplicated, so every endpoint has degree >= 1 and
    there are no dangling nodes by construction.

    Output: (node_id, rank_ppm BIGINT) for every node in a pair, after
    exactly ``iterations`` synchronous update rounds of

        rank'(v) = 150000 + sum over edges u->v of
                   (rank(u) * 850) DIV (1000 * deg(u))

    i.e. the standard damped update with all arithmetic in BIGINT ppm.
    A fixed iteration count (not a convergence check) keeps the output
    a pure function of the input — the oracle unrolls the same count.

    Arithmetic bound: total rank mass is conserved at ~|V| x 1e6 ppm,
    so a single node's incoming sum stays under 2^63 for any graph
    with fewer than ~9e12 nodes; only a hub receiving edges from more
    than ~1.1e10 DISTINCT neighbors could overflow the per-node
    contribution sum — past web-graph scale.  (Spark's non-ANSI BIGINT
    sum would wrap silently there while the DuckDB twin's
    HUGEINT->BIGINT cast errors; inside the bound both are exact.)

    Physical shape: :func:`_rank_walk`."""
    return _rank_walk(pairs, iterations)


def pagerank_weighted(pairs: DataFrame, iterations: int = 4) -> DataFrame:
    """Integer-exact PageRank over a WEIGHTED undirected pair graph —
    the salience-weighted twin of :func:`pagerank` (r9 VERDICT item 5):
    a term that occurs 40 times in a document should pull 40× the rank
    mass of a hapax, which the unweighted walk cannot express.

    Input: (doc_a, doc_b, w) with BIGINT weight ``w > 0``; edges are
    symmetrized carrying their weight both ways and parallel edges
    merge by weight-sum, so each endpoint's out-strength
    ``W(u) = sum of w over u's edges`` is >= 1.  Update rule per round:

        rank'(v) = 150000 + sum over edges u->v of
                   (rank(u) * 850 * w(u,v)) DIV (1000 * W(u))

    — the standard weighted damped walk, all in BIGINT floor division
    (identical in Spark ``div`` and DuckDB ``//`` for the non-negative
    operands here), so results are bit-identical across engines and
    partitionings.  Arithmetic bound: the numerator is
    ``rank * 850 * w``; total mass is conserved at ~|V| x 1e6 ppm, so
    with per-edge weights up to ~10^4 the product stays under 2^63 for
    graphs up to ~10^9 nodes — document-corpus scale.  (Outside the
    bound Spark's non-ANSI BIGINT wraps while DuckDB's HUGEINT->BIGINT
    cast errors; inside it both are exact.)"""
    return _rank_walk(pairs, iterations, weighted=True)


def pagerank_personalized(
    pairs: DataFrame, seed_sql: str, iterations: int = 4
) -> DataFrame:
    """Personalized PageRank: teleport mass lands ONLY on the seed set
    — rank becomes "importance *as seen from* the seeds" instead of
    global centrality (Haveliwala 2002, topic-sensitive PageRank; the
    curation use: salience of terms relative to a trusted document
    subset rather than the whole corpus).

    ``seed_sql`` is a Spark/DuckDB-portable boolean expression over the
    column literally named ``node`` (e.g. ``node < 10**15`` = document
    nodes of the doc-term graph).  With ``nv`` nodes and ``ns`` seeds,
    each round is

        rank'(v) = tele(v) + sum over u->v of (rank(u)*850) DIV (1000*deg(u))
        tele(v)  = (150000 * nv) DIV ns   if v is a seed, else 0

    and ranks start at the teleport distribution scaled to full mass
    (``(1e6 * nv) DIV ns`` on seeds, 0 elsewhere) — total mass stays
    ~nv×1e6 ppm like the global walk, so ranks are comparable across
    the two operators.  The integer floor division sheds < ns ppm of
    mass per round — deterministic, identical in both engines.

    The teleport is not a relation: ``nv`` and ``ns`` are two scalars
    collected once (an O(1) driver transfer), so ``tele(v)`` is a
    literal CASE over the seed predicate inlined into each round's
    projection and into the rank init (Python's ``//`` equals SQL
    ``div`` for the non-negative operands here).  Raises on an empty
    seed set — a personalized walk with no seeds has no definition."""
    return _rank_walk(pairs, iterations, seed_sql=seed_sql)


def _oriented_edges(pairs: DataFrame) -> DataFrame:
    """Deduped low->high oriented edge relation from a (doc_a, doc_b)
    pair stream, checkpointed + persisted — the shared base both
    triangle statistics (and the peel) read.  Releases the caller's
    cached deps once materialized."""
    from pgverify_spark.operators.util import release_cached_deps

    src = pairs.selectExpr("doc_a", "doc_b").localCheckpoint(eager=True)
    release_cached_deps(pairs)
    return (
        src.selectExpr(
            "least(doc_a, doc_b) AS lo", "greatest(doc_a, doc_b) AS hi"
        )
        .filter("lo <> hi")
        .distinct()
        .persist()
    )


def _per_node_triangles(e: DataFrame) -> DataFrame:
    """(node_id, triangles) for nodes in >=1 triangle, by the standard
    oriented enumeration: every triangle a<b<c is found exactly once as
    e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two equi-joins, never the naive 3-way
    self-join with its 6x duplication.  Fan-out is bounded by the
    classic sum-of-deg² and, on near-dup graphs, by clique sizes the
    LSH band cap upstream already bounds.

    The enumerated (a, b, c) triple list is PERSISTED (r12 batch 7):
    the per-role union references it three times, and unpersisted the
    whole two-join enumeration re-executes per branch — 3x the join
    work at any scale (static plan: 14 SortMergeJoins / 40 Exchanges →
    7 / 24 for triangle_counts).  The cache is id-triples only, bounded
    by the same sum-of-deg² as the enumeration itself, and is tagged on
    the result for the caller's release chain."""
    ab = e.selectExpr("lo AS a", "hi AS b")
    bc = e.selectExpr("lo AS b", "hi AS c")
    ac = e.selectExpr("lo AS a", "hi AS c")
    tri = ab.join(bc, "b").join(ac, ["a", "c"]).persist()
    out = (
        tri.selectExpr("a AS node_id")
        .unionAll(tri.selectExpr("b AS node_id"))
        .unionAll(tri.selectExpr("c AS node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    from pgverify_spark.operators.util import tag_cached_deps

    return tag_cached_deps(out, tri)


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation count over an undirected pair
    graph — the local clustering signal: near-dup CLUSTERS are triangle
    -dense (mutual near-dups), while chain-shaped false-positive paths
    (A~B~C without A~C) have none, so the count separates "real dup
    community" from "LSH banding accident" before a destructive dedup
    keeps one winner per component.

    Output: (node_id, triangles BIGINT), nodes with zero triangles
    included.  Scale shape: one shared oriented edge relation
    (:func:`_oriented_edges`), joins shuffle on bare node ids.  All
    counts are exact BIGINTs; the oracle is the same oriented
    enumeration in SQL.
    """
    from pgverify_spark.operators.util import tag_cached_deps

    e = _oriented_edges(pairs)
    per_node = _per_node_triangles(e)
    nodes = (
        e.selectExpr("lo AS node_id")
        .unionAll(e.selectExpr("hi AS node_id"))
        .distinct()
    )
    out = nodes.join(per_node, "node_id", "left").selectExpr(
        "node_id", "CAST(coalesce(triangles, 0) AS BIGINT) AS triangles"
    )
    return tag_cached_deps(
        out, e, *getattr(per_node, "_pgvs_cached_deps", ())
    )


def clustering_coefficient(pairs: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient in integer ppm:
    (node_id, degree, triangles, coeff_ppm) with
    ``coeff_ppm = (2·10⁶·triangles) div (degree·(degree−1))`` — the
    normalized form of :func:`triangle_counts` (a 50-replica clique
    node and a 3-copy clique node both read ~10⁶; raw triangle counts
    scale with clique size).  1e6 ≈ clique member, 0 ≈ bridge/accident;
    degree-1 nodes emit 0 by convention.

    The SAME :func:`_oriented_edges` relation feeds degrees (a groupBy
    over both endpoints) and :func:`_per_node_triangles` — one
    enumeration code path for both statistics, so they cannot diverge.
    The division is BIGINT floor — bit-identical cross-engine; overflow
    needs triangles > ~4.6e12, i.e. a clique of ~2 million mutual
    near-dups, far past any band cap.
    """
    from pgverify_spark.operators.util import tag_cached_deps

    e = _oriented_edges(pairs)
    deg = (
        e.selectExpr("lo AS node_id")
        .unionAll(e.selectExpr("hi AS node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    per_node = _per_node_triangles(e)
    out = deg.join(per_node, "node_id", "left").selectExpr(
        "node_id",
        "degree",
        "CAST(coalesce(triangles, 0) AS BIGINT) AS triangles",
        "CASE WHEN degree >= 2 THEN "
        "(2000000 * CAST(coalesce(triangles, 0) AS BIGINT)) "
        "div (degree * (degree - 1)) "
        "ELSE CAST(0 AS BIGINT) END AS coeff_ppm",
    )
    return tag_cached_deps(
        out, e, *getattr(per_node, "_pgvs_cached_deps", ())
    )


def _tri_ctes_sql(pairs_sql: str) -> str:
    """Shared oracle CTE chain (pr -> e -> tri -> pn) both triangle
    statistics build on — one SQL code path, mirroring the shared
    Spark helpers."""
    return (
        f"WITH pr AS MATERIALIZED ({pairs_sql}), "
        "e AS MATERIALIZED (SELECT DISTINCT least(doc_a, doc_b) AS lo, "
        "greatest(doc_a, doc_b) AS hi FROM pr WHERE doc_a <> doc_b), "
        "tri AS MATERIALIZED (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c "
        "FROM e ab JOIN e bc ON ab.hi = bc.lo "
        "JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi), "
        "pn AS (SELECT node_id, CAST(count(*) AS BIGINT) AS triangles FROM ("
        "SELECT a AS node_id FROM tri UNION ALL SELECT b FROM tri "
        "UNION ALL SELECT c FROM tri) u GROUP BY node_id)"
    )


def clustering_coefficient_oracle_sql(pairs_sql: str) -> str:
    return (
        _tri_ctes_sql(pairs_sql) + ", "
        "deg AS (SELECT node_id, CAST(count(*) AS BIGINT) AS degree FROM ("
        "SELECT lo AS node_id FROM e UNION ALL SELECT hi FROM e) u "
        "GROUP BY node_id) "
        "SELECT deg.node_id, deg.degree, "
        "CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles, "
        "CASE WHEN deg.degree >= 2 THEN "
        "(2000000 * CAST(coalesce(pn.triangles, 0) AS BIGINT)) "
        "// (deg.degree * (deg.degree - 1)) "
        "ELSE CAST(0 AS BIGINT) END AS coeff_ppm "
        "FROM deg LEFT JOIN pn ON deg.node_id = pn.node_id"
    )


def triangle_counts_oracle_sql(pairs_sql: str) -> str:
    return (
        _tri_ctes_sql(pairs_sql) + ", "
        "nodes AS (SELECT DISTINCT lo AS node_id FROM e "
        "UNION SELECT hi FROM e) "
        "SELECT nodes.node_id, CAST(coalesce(pn.triangles, 0) AS BIGINT) "
        "AS triangles FROM nodes LEFT JOIN pn ON nodes.node_id = pn.node_id"
    )


def pagerank_personalized_oracle_sql(
    pairs_sql: str, seed_sql: str, iterations: int = 4
) -> str:
    """Unrolled-CTE twin of :func:`pagerank_personalized` (same CTE
    chain as the global walk plus the materialized teleport vector)."""
    contrib = "(r.rank_ppm * 850) // (1000 * ed.d)"
    parts = [
        f"WITH pr AS MATERIALIZED ({pairs_sql})",
        "edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM pr "
        "UNION SELECT doc_b, doc_a FROM pr)",
        "deg AS (SELECT s, count(*) AS d FROM edges GROUP BY s)",
        "ed AS MATERIALIZED (SELECT edges.s, edges.t, deg.d FROM edges "
        "JOIN deg USING (s))",
        "nodes AS (SELECT DISTINCT s AS node FROM ed)",
        "cnt AS (SELECT CAST(count(*) AS BIGINT) AS nv, "
        f"CAST(sum(CASE WHEN {seed_sql} THEN 1 ELSE 0 END) AS BIGINT) AS ns "
        "FROM nodes)",
        "tele AS MATERIALIZED (SELECT node, "
        f"CASE WHEN {seed_sql} THEN CAST(({_TELEPORT_PPM} * nv) // ns AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS tele_ppm FROM nodes, cnt)",
        f"r0 AS (SELECT node, CASE WHEN {seed_sql} "
        f"THEN CAST(({_INIT_PPM} * nv) // ns AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS rank_ppm FROM nodes, cnt)",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS (SELECT ed.t AS node, "
            f"CAST(any_value(tele.tele_ppm) + CAST(sum({contrib}) AS BIGINT) AS BIGINT) "
            f"AS rank_ppm FROM ed JOIN r{i} r ON r.node = ed.s "
            "JOIN tele ON tele.node = ed.t GROUP BY ed.t)"
        )
    return ", ".join(parts) + f" SELECT node AS node_id, rank_ppm FROM r{iterations}"


def pagerank_weighted_oracle_sql(pairs_sql: str, iterations: int = 4) -> str:
    """:func:`pagerank_oracle_sql`'s unrolled-CTE form with the weight
    carried through symmetrize → merge → strength → contribution."""
    contrib = "(r.rank_ppm * 850 * ed.w) // (1000 * ed.d)"
    parts = [
        f"WITH pr AS MATERIALIZED ({pairs_sql})",
        "edges AS MATERIALIZED (SELECT s, t, CAST(sum(w) AS BIGINT) AS w FROM ("
        "SELECT doc_a AS s, doc_b AS t, w FROM pr "
        "UNION ALL SELECT doc_b, doc_a, w FROM pr) u GROUP BY s, t)",
        "str AS (SELECT s, CAST(sum(w) AS BIGINT) AS d FROM edges GROUP BY s)",
        "ed AS MATERIALIZED (SELECT edges.s, edges.t, edges.w, str.d FROM edges "
        "JOIN str USING (s))",
        f"r0 AS (SELECT DISTINCT s AS node, CAST({_INIT_PPM} AS BIGINT) "
        "AS rank_ppm FROM ed)",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS (SELECT ed.t AS node, "
            f"CAST({_TELEPORT_PPM} + CAST(sum({contrib}) AS BIGINT) AS BIGINT) "
            f"AS rank_ppm FROM ed JOIN r{i} r ON r.node = ed.s GROUP BY ed.t)"
        )
    return ", ".join(parts) + f" SELECT node AS node_id, rank_ppm FROM r{iterations}"


def pagerank_oracle_sql(pairs_sql: str, iterations: int = 4) -> str:
    """The identical computation with the iteration loop unrolled into
    chained CTEs.  ``//`` is DuckDB's BIGINT floor division — equal to
    Spark's ``div`` for the non-negative operands here; the per-round
    HUGEINT sum is cast back to BIGINT before the teleport add."""
    contrib = "(r.rank_ppm * 850) // (1000 * ed.d)"
    parts = [
        f"WITH pr AS MATERIALIZED ({pairs_sql})",
        "edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM pr "
        "UNION SELECT doc_b, doc_a FROM pr)",
        "deg AS (SELECT s, count(*) AS d FROM edges GROUP BY s)",
        "ed AS MATERIALIZED (SELECT edges.s, edges.t, deg.d FROM edges "
        "JOIN deg USING (s))",
        f"r0 AS (SELECT DISTINCT s AS node, CAST({_INIT_PPM} AS BIGINT) "
        "AS rank_ppm FROM ed)",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS (SELECT ed.t AS node, "
            f"CAST({_TELEPORT_PPM} + CAST(sum({contrib}) AS BIGINT) AS BIGINT) "
            f"AS rank_ppm FROM ed JOIN r{i} r ON r.node = ed.s GROUP BY ed.t)"
        )
    return ", ".join(parts) + f" SELECT node AS node_id, rank_ppm FROM r{iterations}"


# ---------------------------------------------------------------------------
# Document-term bipartite graph (the registry's PageRank input)
# ---------------------------------------------------------------------------

#: Term nodes live at shingle_hash + this offset so they can never
#: collide with document ids (48-bit shingle hashes < 2^48 ≈ 2.8e14;
#: doc ids are corpus-sized) — one BIGINT node-id space for both.
TERM_NODE_OFFSET = 10**15


def doc_term_edges(df: DataFrame) -> DataFrame:
    """(doc_a = doc_id, doc_b = term node) edges of the document-term
    bipartite graph: one edge per distinct 3-token shingle per document
    (``dedup._shingled`` — the dedup family's tokenize → n-gram →
    48-bit-hash chain, persisted there because ``explode`` re-evaluates
    its input chain per OUTPUT element: reusing it measured 13s → 1.5s
    at sf0.1, the same pathology _shingled's own docstring records).
    The persisted table is tagged on the result so registry callers
    release it after materializing (``util.release_cached_deps``).

    PageRank over this graph is the TextRank-family salience measure:
    a term's rank grows with its document frequency, a document's rank
    with how many high-traffic terms it touches — degree-irregular by
    nature (unlike near-dup pair graphs, which are unions of
    near-regular cliques where PageRank is provably uniform).
    """
    from pgverify_spark.operators.dedup import _shingled
    from pgverify_spark.operators.util import tag_cached_deps

    sh = _shingled(df)  # persisted (see _shingled)
    out = (
        sh.selectExpr("doc_id AS doc_a", "explode(shingles) AS s")
        .selectExpr("doc_a", f"{TERM_NODE_OFFSET} + s AS doc_b")
    )
    return tag_cached_deps(out, sh)


def _gram_counts_sql(grams: str) -> str:
    """Spark SQL for the ``array<struct<g, w BIGINT>>`` of per-distinct-
    gram occurrence counts of the string array ``grams``: sort it, then
    emit the run lengths.  ``sg`` (sorted grams) and ``b`` (run starts
    plus the end sentinel ``size(sg) + 1``) are bound once per row via
    single-element transform shells.  Every index read is in range for
    any array size, including 0 and 1, independent of evaluation order:
    the candidate starts are ``1..size(sg)`` (a slice of
    ``sequence(0, n)``, never the descending ``sequence(1, 0)``) and
    the predecessor index is clamped to 1."""
    starts = (
        "filter(slice(sequence(0, size(sg)), 2, size(sg)), "
        "i -> i = 1 OR element_at(sg, i) <> element_at(sg, greatest(i - 1, 1)))"
    )
    run = (
        "named_struct('g', element_at(sg, s), "
        "'w', CAST(element_at(b, j + 2) - s AS BIGINT))"
    )
    return (
        f"flatten(transform(array(array_sort({grams})), sg -> "
        f"flatten(transform(array(concat({starts}, array(size(sg) + 1))), b -> "
        f"transform(slice(b, 1, size(b) - 1), (s, j) -> {run})))))"
    )


def doc_term_edges_weighted(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, w) weighted doc-term edges: ``w`` is the shingle's
    OCCURRENCE count in the document — the TextRank weighting, where a
    repeated phrase pulls proportionally more rank mass.

    ``dedup._shingled`` dedupes shingles per doc (correct for set
    semantics, lossy here), so this builds from the gram level: count
    occurrences per (doc, gram string) FIRST, hash each distinct gram
    ONCE after — multiplicity survives while the md5 count stays at
    |distinct grams|, the same economy ``shingle_ints_sql`` documents.
    Two grams md5-colliding into one 48-bit term yield parallel edges;
    :func:`pagerank_weighted` merges them by weight-sum (and the oracle
    twin counts per gram before hashing identically, so both engines
    see the same multiset).  The (doc, grams) relation is persisted —
    ``explode`` re-evaluates its input chain per OUTPUT element (the
    measured 13s-vs-0.3s pathology ``_shingled`` records) — and tagged
    for ``util.release_cached_deps``.

    A document's grams all live in ONE array cell, so the per-(doc,
    gram) occurrence count is row-local: sort the array and emit
    run-lengths with higher-order functions instead of
    ``explode → groupBy(doc_id, g)`` — the string grams never shuffle
    at any scale (one Exchange removed from the plan; lambda bindings
    double as let-bindings, so CollapseProject cannot re-evaluate the
    sorted array per output element).
    """
    from pgverify_spark.functions.canonical import DIALECT_SPARK
    from pgverify_spark.functions.text_exprs import (
        hex_prefix_int_sql,
        ngrams_sql,
        tokens_sql,
    )
    from pgverify_spark.operators.dedup import NGRAM_N
    from pgverify_spark.operators.util import barrier, tag_cached_deps

    d = DIALECT_SPARK
    grams = (
        barrier(df.selectExpr("doc_id", f"{tokens_sql('text', d)} AS tokens"))
        .filter(f"size(tokens) >= {NGRAM_N}")
        .selectExpr("doc_id", f"{ngrams_sql('tokens', NGRAM_N, d)} AS grams")
        .persist()
    )
    out = (
        grams.selectExpr("doc_id", f"inline({_gram_counts_sql('grams')})")
        .selectExpr(
            "doc_id AS doc_a",
            f"{TERM_NODE_OFFSET} + {hex_prefix_int_sql('md5(g)', d)} AS doc_b",
            "w",
        )
    )
    return tag_cached_deps(out, grams)


def doc_term_edges_weighted_oracle_sql(table: str) -> str:
    from pgverify_spark.functions.canonical import DIALECT_DUCKDB
    from pgverify_spark.functions.text_exprs import (
        hex_prefix_int_sql,
        ngrams_sql,
        tokens_sql,
    )
    from pgverify_spark.operators.dedup import NGRAM_N

    d = DIALECT_DUCKDB
    return (
        f"SELECT doc_id AS doc_a, "
        f"{TERM_NODE_OFFSET} + {hex_prefix_int_sql('md5(g)', d)} AS doc_b, w FROM "
        "(SELECT doc_id, g, CAST(count(*) AS BIGINT) AS w FROM "
        f"(SELECT doc_id, unnest(grams) AS g FROM "
        f"(SELECT doc_id, {ngrams_sql('tokens', NGRAM_N, d)} AS grams FROM "
        f"(SELECT doc_id, {tokens_sql('text', d)} AS tokens FROM {table}) tk "
        f"WHERE len(tokens) >= {NGRAM_N}) gr) oc GROUP BY doc_id, g) cw"
    )


def doc_term_edges_oracle_sql(table: str) -> str:
    from pgverify_spark.functions.canonical import DIALECT_DUCKDB
    from pgverify_spark.functions.text_exprs import (
        ngrams_sql,
        shingle_ints_sql,
        tokens_sql,
    )
    from pgverify_spark.operators.dedup import NGRAM_N

    d = DIALECT_DUCKDB
    return (
        f"SELECT doc_id AS doc_a, {TERM_NODE_OFFSET} + unnest(shingles) AS doc_b FROM "
        f"(SELECT doc_id, {shingle_ints_sql('grams', d)} AS shingles FROM "
        f"(SELECT doc_id, {ngrams_sql('tokens', NGRAM_N, d)} AS grams FROM "
        f"(SELECT doc_id, {tokens_sql('text', d)} AS tokens FROM {table}) tk "
        f"WHERE len(tokens) >= {NGRAM_N}) gr) shn"
    )


def k_core(pairs: DataFrame, k: int = 3, rounds: int = 6) -> DataFrame:
    """k-core peel over an undirected pair graph: ``rounds``
    applications of "drop every node with degree < k (and its edges),
    recompute degrees" — the standard density filter that separates
    genuinely dense duplication communities (spam farms, template
    mills: every member stays) from stars and chains the LSH banding
    strings together (peeled away, because removing the low-degree rim
    cascades).  Triangle counts score LOCAL density;
    the k-core is the GLOBAL fixed point — a node survives only if k
    neighbours survive, recursively.

    Output: (node_id, degree) of the subgraph after ``rounds`` peels —
    degree is within the surviving subgraph.  The peel reaches its
    fixed point when no round removes a node; ``rounds`` bounds work
    (each round strictly shrinks or the loop exits early), and the
    oracle unrolls the SAME count so both engines state identical
    semantics even on inputs where ``rounds`` hasn't converged.

    Scale shape: everything after the one-time edge dedup is id-only —
    per round one degree aggregation (hash shuffle with map-side
    combine, rows ∝ surviving |E|) and two semi-joins back onto the
    edges; per-round ``localCheckpoint(eager=True)`` keeps the plan
    flat (module docstring).  A converged-early graph short-circuits:
    the driver sees the survivor count per round (an O(1) scalar, not
    a collect of rows) and stops peeling when it stops changing.
    """
    from pgverify_spark.operators.util import checkpoint_counted, release_cached_deps

    src = pairs.selectExpr("doc_a", "doc_b").localCheckpoint(eager=True)
    release_cached_deps(pairs)
    e, n_edges = checkpoint_counted(
        src.selectExpr("least(doc_a, doc_b) AS lo", "greatest(doc_a, doc_b) AS hi")
        .filter("lo <> hi")
        .distinct()
    )
    for _ in range(rounds):
        deg = (
            e.selectExpr("lo AS node_id")
            .unionAll(e.selectExpr("hi AS node_id"))
            .groupBy("node_id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(f"degree >= {k}").select("node_id")
        e, n_now = checkpoint_counted(
            e.join(keep, e.lo == keep.node_id, "left_semi")
            .join(keep, e.hi == keep.node_id, "left_semi")
        )
        if n_now == n_edges:  # fixed point: a further peel is identity
            break
        n_edges = n_now
    return (
        e.selectExpr("lo AS node_id")
        .unionAll(e.selectExpr("hi AS node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def k_core_oracle_sql(pairs_sql: str, k: int = 3, rounds: int = 6) -> str:
    """Unrolled peel: e0 = deduped oriented edges, then ``rounds``
    (keep_i = degree>=k nodes of e_{i-1}; e_i = e_{i-1} restricted)
    levels.  The early-exit in :func:`k_core` only skips identity
    rounds, so the unrolled form is equivalent."""
    parts = [
        f"WITH pr AS MATERIALIZED ({pairs_sql}), "
        "e0 AS MATERIALIZED (SELECT DISTINCT least(doc_a, doc_b) AS lo, "
        "greatest(doc_a, doc_b) AS hi FROM pr WHERE doc_a <> doc_b)"
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f", n{i} AS (SELECT node_id FROM (SELECT lo AS node_id FROM e{p} "
            f"UNION ALL SELECT hi FROM e{p}) u GROUP BY node_id "
            f"HAVING count(*) >= {k})"
            f", e{i} AS MATERIALIZED (SELECT e.lo, e.hi FROM e{p} e "
            f"JOIN n{i} a ON e.lo = a.node_id JOIN n{i} b ON e.hi = b.node_id)"
        )
    parts.append(
        f" SELECT node_id, CAST(count(*) AS BIGINT) AS degree FROM "
        f"(SELECT lo AS node_id FROM e{rounds} UNION ALL SELECT hi FROM e{rounds}) u "
        "GROUP BY node_id"
    )
    return "".join(parts)
