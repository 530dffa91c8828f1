"""Property-based tests (hypothesis): randomized inputs vs pure-Python
reference implementations — a third, independent check beside the
example-based tests and the DuckDB oracles.  Each property runs a small
Spark job per example, so example counts are modest and deterministic
(derandomize=True keeps CI stable)."""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

SETTINGS = settings(max_examples=12, deadline=None, derandomize=True)


def _h15(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# --- corpus line dedup ------------------------------------------------------

_lines = st.lists(
    st.sampled_from(["a", "bb", "ccc", "", " ", "dd dd", "e"]), min_size=0, max_size=6
)
_corpus = st.lists(_lines, min_size=1, max_size=5)


def _ref_corpus_dedup(texts):
    seen = set()
    out = []
    for doc_id, lines in enumerate(texts):
        kept = []
        for line in lines:
            if line.strip() == "":
                kept.append(line)
            elif line not in seen:
                seen.add(line)
                kept.append(line)
        out.append((doc_id, len(lines), len(lines) - len(kept), "\n".join(kept)))
    return sorted(out)


@SETTINGS
@given(_corpus)
def test_corpus_dedup_lines_matches_reference(spark, texts):
    from pgverify_spark.operators.text import corpus_dedup_lines

    df = spark.createDataFrame(
        [(i, "\n".join(lines)) for i, lines in enumerate(texts)],
        "doc_id bigint, text string",
    )
    got = sorted(map(tuple, corpus_dedup_lines(df).collect()))
    # splitting "" yields one empty line, mirroring split() semantics
    expect = _ref_corpus_dedup([l if l else [""] for l in texts])
    assert got == expect


# --- debounce ---------------------------------------------------------------

_events = st.lists(
    st.tuples(
        st.integers(0, 2),              # user_id
        st.sampled_from(["a", "b"]),   # event_type
        st.integers(0, 50),             # seconds offset
    ),
    min_size=0,
    max_size=12,
)


def _ref_debounce(rows, window_us):
    kept = []
    by_key = {}
    for eid, (u, t, sec) in enumerate(rows):
        by_key.setdefault((u, t), []).append((sec * 1_000_000, eid))
    for (u, t), evs in by_key.items():
        prev = None
        for us, eid in sorted(evs):
            if prev is None or us - prev > window_us:
                kept.append(eid)
            prev = us
    return sorted(kept)


@SETTINGS
@given(_events, st.sampled_from([0, 1_000_000, 5_000_000, 60_000_000]))
def test_debounce_matches_reference(spark, rows, window_us):
    from pgverify_spark.operators.rollup import debounce

    df = spark.createDataFrame(
        [
            (eid, u, t, f"2020-01-01 00:00:{sec:02d}" if sec < 60
             else f"2020-01-01 00:{sec // 60:02d}:{sec % 60:02d}", 1.0)
            for eid, (u, t, sec) in enumerate(rows)
        ],
        "event_id bigint, user_id bigint, event_type string, ts string, value double",
    ).selectExpr(
        "event_id", "user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts", "value"
    )
    got = sorted(r["event_id"] for r in debounce(df, window_us).collect())
    assert got == _ref_debounce(rows, window_us)


# --- Count-Min --------------------------------------------------------------

_keys = st.lists(st.integers(0, 9), min_size=1, max_size=30)


@SETTINGS
@given(_keys)
def test_countmin_cells_match_reference(spark, keys):
    from pgverify_spark.operators.sketch import countmin_sketch

    depth, width = 3, 8
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = sorted(map(tuple, countmin_sketch(df, "k", depth, width).collect()))
    ref = {}
    for k in keys:
        for j in range(depth):
            cell = (j, _h15(f"{j}:{k}") % width)
            ref[cell] = ref.get(cell, 0) + 1
    assert got == sorted((j, c, n) for (j, c), n in ref.items())


# --- reservoir sample -------------------------------------------------------

@SETTINGS
@given(st.lists(st.tuples(st.integers(0, 99), st.sampled_from(["x", "y"])),
                min_size=0, max_size=20, unique_by=lambda t: t[0]),
       st.integers(1, 5))
def test_reservoir_sample_matches_reference(spark, rows, k):
    from pgverify_spark.operators.sample import reservoir_sample

    if not rows:
        return
    df = spark.createDataFrame(rows, "id bigint, grp string")
    got = sorted((r["grp"], r["id"]) for r in reservoir_sample(df, "id", "grp", k).collect())
    ref = []
    for g in {g for _, g in rows}:
        members = sorted((i for i, gg in rows if gg == g),
                         key=lambda i: (_h15(str(i)), i))
        ref += [(g, i) for i in members[:k]]
    assert got == sorted(ref)


# --- hashed vectors ---------------------------------------------------------

@SETTINGS
@given(st.lists(st.sampled_from(["apple", "bee", "cat", "dog", "e"]),
                min_size=1, max_size=12))
def test_hashed_vectors_match_reference(spark, tokens):
    from pgverify_spark.operators.text import hashed_vectors

    dim = 16
    df = spark.createDataFrame([(0, " ".join(tokens))], "doc_id bigint, text string")
    [(_, vec)] = hashed_vectors(df, dim).collect()
    ref = [0] * dim
    for t in tokens:
        h = _h15(t)
        ref[h % dim] += 1 if (h // dim) % 2 == 0 else -1
    assert list(vec) == ref


# --- BPE merge learning -----------------------------------------------------

_bpe_words = st.lists(
    st.sampled_from(["aaa", "aa", "abab", "ab", "ba", "banana", "bb b", "cc"]),
    min_size=1,
    max_size=8,
)


def _ref_bpe(word_counts, n_merges, min_count=1):
    from collections import Counter

    vv = [(list(w), c) for w, c in word_counts.items()]
    out = []
    for _ in range(n_merges):
        pc = Counter()
        for syms, c in vv:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        top = max(pc.values())
        if top < min_count:
            break
        a, b = min(p for p, n in pc.items() if n == top)
        out.append((a, b, top))
        for syms, _c in vv:
            i, merged = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms[:] = merged
    return out


@SETTINGS
@given(_bpe_words)
def test_bpe_learn_matches_reference_on_random_corpora(spark, words):
    """Distributed BPE == pure-Python BPE on adversarial repeated-symbol
    corpora ('aaa', 'banana': overlapping-pair and re-merge edges)."""
    from collections import Counter

    from pgverify_spark.operators.bpe import bpe_learn

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id int, text string"
    )
    wc = Counter()
    for w in words:
        for tok in w.split():
            wc[tok] += 1
    assert bpe_learn(docs, 4, min_count=1) == _ref_bpe(dict(wc), 4)


def _ref_bpe_apply(word, merges):
    """Pure-Python BPE apply: one greedy leftmost-merge pass per merge,
    in merge-table order — the reference for the replace-chain SQL."""
    syms = list(word)
    for a, b in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@SETTINGS
@given(_bpe_words)
def test_bpe_apply_matches_reference(spark, words):
    """The replace-chain apply == pure-Python BPE apply under merges
    learned from the same corpus (so multi-char symbols and
    overlapping-pair words like 'aaa'/'banana' are exercised), token
    frequencies compared exactly."""
    from collections import Counter

    from pgverify_spark.operators.bpe import bpe_apply_tokens

    wc = Counter()
    for w in words:
        for tok in w.split():
            wc[tok] += 1
    merges = [(a, b) for a, b, _n in _ref_bpe(dict(wc), 4)]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id int, text string"
    )
    got = {
        (r["token"], r["n_occurrences"])
        for r in bpe_apply_tokens(docs, merges).collect()
    }
    want = Counter()
    for w, c in wc.items():
        for t in _ref_bpe_apply(w, merges):
            want[t] += c
    assert got == set(want.items())


@SETTINGS
@given(_bpe_words)
def test_bpe_roundtrip_identity(spark, words):
    """decode(encode(w)) == w for every distinct corpus word under
    merges learned from that corpus, and the audit row's totals match
    the pure-Python reference — the composition bpe_roundtrip_documents
    certifies against DuckDB, pinned here against a third
    implementation."""
    from collections import Counter

    from pgverify_spark.operators.bpe import bpe_roundtrip

    wc = Counter()
    for w in words:
        for tok in w.split():
            wc[tok] += 1
    merges = [(a, b) for a, b, _n in _ref_bpe(dict(wc), 4)]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id int, text string"
    )
    (row,) = bpe_roundtrip(docs, merges).collect()
    assert row["n_roundtrip_fail"] == 0
    # pure-Python reference: concat of applied tokens is the word
    n_toks = n_chars = 0
    for w in wc:
        toks = _ref_bpe_apply(w, merges)
        assert "".join(toks) == w
        n_toks += len(toks)
        n_chars += len(w)
    assert (row["n_words"], row["n_occurrences"]) == (len(wc), sum(wc.values()))
    assert (row["n_tokens"], row["n_chars"]) == (n_toks, n_chars)


# --- sampled quantiles ------------------------------------------------------

_qvalues = st.lists(st.integers(-1000, 1000), min_size=1, max_size=40)


@SETTINGS
@given(_qvalues)
def test_sampled_quantiles_match_reference(spark, values):
    """Rank selection == ceil(p*n) over the hash-selected sample, ties on
    key hash — checked against an independent pure-Python evaluation."""
    from pgverify_spark.operators.sketch import sampled_quantiles

    rate_ppm = 800_000  # high rate so small random inputs keep a sample
    thresh = rate_ppm * (1 << 60) // 1_000_000
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "k int, v int"
    )
    got = sorted(
        map(tuple, sampled_quantiles(df, "v", "k", rate_ppm=rate_ppm).collect())
    )
    sample = sorted(
        (v, _h15(str(i))) for i, v in enumerate(values) if _h15(str(i)) < thresh
    )
    n = len(sample)
    want = sorted(
        (p, n, sample[(p * n + 999_999) // 1_000_000 - 1][0])
        for p in (250_000, 500_000, 750_000, 900_000, 990_000)
        if n
    )
    assert got == want


# --- product quantization ---------------------------------------------------

def _synth_vectors(seed: int, n: int) -> list:
    """n deterministic 64-dim vectors from one drawn seed (drawing
    16+ x 64 floats directly exceeds hypothesis's entropy budget)."""
    return [
        [((_h15(f"{seed}-{i}-{j}") % 1700) - 850) / 1000.0 for j in range(64)]
        for i in range(n)
    ]


def _ref_pq_codes(vectors):
    """Pure-Python PQ encode: per 8-dim subspace, argmin squared L2 in
    integer millionths against the first-16-vectors codebook, ties to
    the smaller code."""
    cb = vectors[:16]
    out = []
    for vid, v in enumerate(vectors):
        codes = []
        for m in range(8):
            best = None
            for code, c in enumerate(cb):
                d2 = 0.0
                for i in range(m * 8, (m + 1) * 8):
                    d = float(v[i]) - float(c[i])
                    d2 += d * d
                q = int(_py_round_half_up(d2 * 1_000_000))
                if best is None or q < best[0]:
                    best = (q, code)
            codes.append(best[1])
        out.append((vid, codes))
    return sorted(out)


def _py_round_half_up(x: float) -> float:
    import math

    f = math.floor(x)
    return f + 1 if x - f >= 0.5 else f


@settings(max_examples=6, deadline=None, derandomize=True)
@given(st.integers(0, 2**32 - 1), st.integers(16, 24))
def test_pq_encode_matches_reference(spark, seed, n):
    vectors = _synth_vectors(seed, n)
    """Spark's in-row fold encode == a pure-Python reference on random
    float32 vectors, and a vector's codes depend ONLY on (vector,
    codebook): re-encoding a corpus extended with extra rows leaves the
    original vectors' codes unchanged."""
    from pgverify_spark.operators.similarity import pq_encode

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id bigint, embedding array<float>",
    )
    got = sorted((r["vec_id"], list(r["codes"])) for r in pq_encode(df).collect())
    # Spark reads the column as float32 then widens; mirror that
    import struct as _struct

    def f32(x):
        return _struct.unpack("f", _struct.pack("f", x))[0]

    want = _ref_pq_codes([[f32(x) for x in v] for v in vectors])
    assert got == want
    # stability under corpus growth (codebook rows unchanged)
    extended = df.unionByName(
        spark.createDataFrame(
            [(1000, [0.5] * 64)], "vec_id bigint, embedding array<float>"
        )
    )
    again = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(extended).collect()
        if r["vec_id"] < 1000
    }
    assert again == dict(got)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.integers(0, 2**32 - 1), st.integers(4, 20))
def test_ivfpq_driver_twins_match_sql_expressions(spark, seed, n):
    """The driver-side query-math twins the IVF-PQ probe runs per batch
    (_centroid_rank_py / _pq_sub_d2_py) must be BIT-EXACT with the SQL
    expressions they replaced (_centroid_rank_sql / _pq_sub_d2_sql) on
    random float32 vectors — the probe's correctness now rests on this
    equivalence (same left-to-right IEEE-754 fold, same -0.0-equal tie
    order, same BigDecimal-HALF_UP rounding)."""
    from pgverify_spark.functions.canonical import DIALECT_SPARK
    from pgverify_spark.operators.similarity import (
        PQ_M,
        _centroid_rank_py,
        _centroid_rank_sql,
        _pq_sub_d2_py,
        _pq_sub_d2_sql,
    )

    vectors = _synth_vectors(seed, n)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id bigint, embedding array<float>",
    )
    ranked = _centroid_rank_sql("embedding", DIALECT_SPARK)
    d2s = [
        f"{_pq_sub_d2_sql('embedding', 'cvec', m, DIALECT_SPARK)} AS d{m}"
        for m in range(PQ_M)
    ]
    # pair every vector with every other as a pseudo-codebook row so the
    # d2 comparison covers arbitrary (a, b) pairs, not only vec-vs-cb
    cb = df.selectExpr("vec_id AS code", "embedding AS cvec").limit(4)
    got = (
        df.selectExpr("vec_id", "embedding", f"{ranked} AS rank_sql")
        .crossJoin(cb)
        .selectExpr("vec_id", "embedding", "rank_sql", "code", "cvec", *d2s)
        .collect()
    )
    for r in got:
        assert list(r["rank_sql"]) == _centroid_rank_py(r["embedding"]), (
            seed, r["vec_id"],
        )
        for m in range(PQ_M):
            assert r[f"d{m}"] == _pq_sub_d2_py(r["embedding"], r["cvec"], m), (
                seed, r["vec_id"], r["code"], m,
            )


# ---------------------------------------------------------------------------
# round 9: PageRank + KMV set operations vs pure-Python references
# ---------------------------------------------------------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _ref_rank_walk(pairs, iterations, weighted=False, seeds=None):
    """Dict reference of the integer rank recurrence over (a, b, w)
    triples: edges symmetrized, parallel edges merged (weight-sum when
    ``weighted``, else a distinct edge of weight 1), contributions split
    by out-strength; ``seeds`` puts the teleport and the initial mass on
    the seed set, scaled to full mass."""
    wsum: dict[tuple, int] = {}
    for a, b, w in pairs:
        for e in ((a, b), (b, a)):
            wsum[e] = (wsum.get(e, 0) + w) if weighted else 1
    strength: dict[int, int] = {}
    for (s, _), w in wsum.items():
        strength[s] = strength.get(s, 0) + w
    nv = len(strength)
    if seeds is None:
        init = {n: 1_000_000 for n in strength}
        tele = {n: 150_000 for n in strength}
    else:
        ns = sum(1 for n in strength if n in seeds)
        init = {n: (1_000_000 * nv) // ns if n in seeds else 0 for n in strength}
        tele = {n: (150_000 * nv) // ns if n in seeds else 0 for n in strength}
    ranks = init
    for _ in range(iterations):
        nxt = dict(tele)
        for (s, t), w in wsum.items():
            nxt[t] += (ranks[s] * 850 * w) // (1000 * strength[s])
        ranks = nxt
    return ranks


@SETTINGS
@given(_edges, st.integers(1, 4))
def test_pagerank_matches_reference(spark, pairs, iterations):
    """Spark PageRank == a dict-based reference of the same integer
    recurrence, on arbitrary small graphs (self-loops excluded — the
    operator contract), plus the mass bounds floor-division implies."""
    from pgverify_spark.operators.graph import pagerank

    ranks = _ref_rank_walk([(a, b, 1) for a, b in pairs], iterations)
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["node_id"]: r["rank_ppm"] for r in pagerank(df, iterations).collect()}
    assert got == ranks
    n = len(ranks)
    # floor division only ever LOSES mass; teleport floor is exact
    assert n * 150_000 <= sum(got.values()) <= n * 1_000_000


#: One small graph for the round-count boundaries: a hub, a reversed
#: and a repeated pair, unequal weights and a second component.
_BOUNDARY_EDGES = [
    (0, 1, 3), (0, 2, 1), (0, 3, 2), (1, 2, 2), (2, 1, 1), (3, 4, 5),
    (4, 5, 1), (5, 3, 2), (0, 1, 4), (6, 7, 1), (7, 8, 3),
]


@pytest.mark.parametrize("iterations", [0, 1, 9])
@pytest.mark.parametrize("walk", ["plain", "weighted", "personalized"])
def test_rank_walks_round_count_boundaries(spark, walk, iterations):
    """0 rounds (the initial ranks of every node), 1 round (the round
    whose ranks ride on the edge rows) and 9 rounds (one past the
    checkpoint at round 8) == the dict reference, for all three walks."""
    from pgverify_spark.operators import graph

    seeds = {0, 6}
    if walk == "weighted":
        df = spark.createDataFrame(_BOUNDARY_EDGES, "doc_a long, doc_b long, w long")
        out = graph.pagerank_weighted(df, iterations)
    else:
        df = spark.createDataFrame(
            [(a, b) for a, b, _ in _BOUNDARY_EDGES], "doc_a long, doc_b long"
        )
        if walk == "plain":
            out = graph.pagerank(df, iterations)
        else:
            out = graph.pagerank_personalized(df, "node IN (0, 6)", iterations)
    got = {r["node_id"]: r["rank_ppm"] for r in out.collect()}
    want = _ref_rank_walk(
        _BOUNDARY_EDGES,
        iterations,
        weighted=walk == "weighted",
        seeds=seeds if walk == "personalized" else None,
    )
    assert got == want


_kmv_vals = st.lists(
    st.tuples(st.booleans(), st.integers(0, 40)), min_size=1, max_size=60
)


@SETTINGS
@given(_kmv_vals, st.sampled_from([4, 16, 64]))
def test_kmv_overlap_matches_reference(spark, rows, k):
    """Spark kmv_overlap == a pure-Python KMV over the same explicit
    hash, including the under-k exactness guarantee."""
    from pgverify_spark.operators.sketch import kmv_overlap

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    a = {h(v) for s, v in rows if s}
    b = {h(v) for s, v in rows if not s}
    union = sorted(a | b)[:k]
    ka = sorted(a)[:k]
    kb = sorted(b)[:k]
    df = spark.createDataFrame(rows, "side_a boolean, v int")
    (r,) = kmv_overlap(df, "v", "side_a", k=k).collect()
    assert (r["n_a"], r["n_b"], r["n_union"]) == (len(ka), len(kb), len(union))
    assert r["overlap_k"] == sum(1 for x in union if x in a and x in b)
    if ka:
        assert r["kth_a"] == ka[-1]
    if union:
        assert r["kth_union"] == union[-1]
    if len(a | b) < k:  # under-filled sketch: everything exact
        assert r["est_union"] == float(len(a | b))
        assert r["est_intersection"] == float(len(a & b))
        if len(a | b):
            assert r["jaccard_ppm"] == len(a & b) * 1_000_000 // len(a | b)


# ---------------------------------------------------------------------------
# round 10: weighted PageRank / distributed equidepth / repair execution
# ---------------------------------------------------------------------------

_wedges = st.lists(
    st.tuples(
        st.integers(0, 9), st.integers(0, 9), st.integers(1, 9)
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@SETTINGS
@given(_wedges, st.integers(1, 3))
def test_pagerank_weighted_matches_reference(spark, pairs, iterations):
    """Weighted walk == dict reference: parallel edges merge by
    weight-sum, contributions split by out-strength share."""
    from pgverify_spark.operators.graph import pagerank_weighted

    ranks = _ref_rank_walk(pairs, iterations, weighted=True)
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long, w long")
    got = {
        r["node_id"]: r["rank_ppm"]
        for r in pagerank_weighted(df, iterations).collect()
    }
    assert got == ranks


_ed_values = st.lists(st.integers(0, 50), min_size=0, max_size=45)


@SETTINGS
@given(_ed_values, st.sampled_from([1, 3, 7, 10]))
def test_equidepth_matches_sorted_slice_reference(spark, values, buckets):
    """The distributed closed-form ntile == slicing the sorted list into
    ntile-sized runs (first N%B buckets one row larger)."""
    from pgverify_spark.operators.topk import equidepth_histogram

    df = spark.createDataFrame([(v,) for v in values], "v bigint")
    got = sorted(map(tuple, equidepth_histogram(df, "v", buckets).collect()))
    s = sorted(values)
    n = len(s)
    q, rem = divmod(n, buckets)
    expect, pos = [], 0
    for b in range(1, buckets + 1):
        size = q + 1 if b <= rem else q
        if size == 0:
            continue
        chunk = s[pos:pos + size]
        pos += size
        expect.append((b, size, chunk[0], chunk[-1]))
    assert got == sorted(expect)


_repair_muts = st.lists(
    st.tuples(
        st.integers(0, 14),            # key
        st.sampled_from(["del", "mut", "dup", "extra"]),
    ),
    min_size=0,
    max_size=10,
)


@SETTINGS
@given(_repair_muts)
def test_apply_repair_restores_left_under_random_damage(spark, muts):
    """apply_repair(left, damaged) == left as a multiset, for arbitrary
    combinations of deletions, value mutations, duplications, and
    foreign extra keys."""
    from pgverify_spark.operators.diff import apply_repair, row_diff
    from pgverify_spark.sources.schemas import TableSchema

    schema = TableSchema("t", (("id", "bigint"), ("v", "bigint")), ("id",))
    left_rows = [(k, k * 10) for k in range(15)]
    right = {k: [(k, k * 10)] for k in range(15)}
    for key, kind in muts:
        if kind == "del":
            right[key] = []
        elif kind == "mut":
            right[key] = [(key, key * 10 + 1)]
        elif kind == "dup":
            right[key] = right[key] + right[key][:1]
        else:
            right[key + 100] = [(key + 100, 5)]
    right_rows = [r for rows in right.values() for r in rows]
    ldf = spark.createDataFrame(left_rows, "id bigint, v bigint")
    rdf = spark.createDataFrame(right_rows, "id bigint, v bigint") if right_rows else ldf.filter("1=0")
    repaired = apply_repair(ldf, rdf, schema)
    assert sorted(map(tuple, repaired.collect())) == sorted(left_rows)
    assert row_diff(ldf, repaired, schema).count() == 0


# --- HyperLogLog ------------------------------------------------------------

@SETTINGS
@given(st.lists(st.tuples(st.sampled_from(["a", "b"]),
                          st.text(min_size=0, max_size=6)),
                min_size=1, max_size=40),
       st.sampled_from([4, 8]))
def test_hll_matches_reference_model(spark, rows, p):
    """Spark hll_distinct == a pure-Python HLL over the same pinned
    hash/register map: bucket = h % m, rho from the bit length of the
    remaining 60-p bits, register_sum = sum 2^(wp1-r) + empties·2^wp1,
    estimate = raw-or-linear-counting branch.  Exercises arbitrary
    unicode values; p=4 (m=16) makes the RAW estimator arm reachable
    under small inputs (at p=8, 40 values can only ever take linear
    counting — the arm whose decimal-literal typing bug the review
    caught would sail through a p=8-only test)."""
    import math

    from pgverify_spark.operators.sketch import hll_distinct

    m, wp1 = 1 << p, 60 - p + 1
    df = spark.createDataFrame(rows, "grp string, v string")
    got = sorted(map(tuple, hll_distinct(df, "v", "grp", p).collect()))
    ref = []
    for g in sorted({g for g, _ in rows}):
        regs: dict = {}
        for gg, v in rows:
            if gg != g:
                continue
            h = _h15(v)
            b, rest = h % m, h // m
            rho = wp1 if rest == 0 else wp1 - rest.bit_length()
            regs[b] = max(regs.get(b, 0), rho)
        s = sum(1 << (wp1 - r) for r in regs.values()) + (m - len(regs)) * (1 << wp1)
        alpha = 0.7213 / (1.0 + 1.079 / m)
        raw = alpha * float(m * m * (1 << wp1)) / float(s)
        if len(regs) < m and raw <= 2.5 * m:
            est = round(m * math.log(m / float(m - len(regs))), 6)
        else:
            est = round(raw, 6)
        ref.append((g, len(regs), s, est))
    assert got == ref


# --- repeated spans ---------------------------------------------------------

_span_docs = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6),
    min_size=1,
    max_size=5,
)


def _ref_repeated_spans(docs, n, min_docs, min_run):
    gram_docs: dict[str, set] = {}
    per_doc: dict[int, list] = {}
    for d, toks in docs:
        gs = (
            [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if len(toks) >= n
            else []
        )
        per_doc[d] = gs
        for g in set(gs):
            gram_docs.setdefault(g, set()).add(d)
    out = []
    for d, gs in per_doc.items():
        i = 0
        while i < len(gs):
            if len(gram_docs[gs[i]]) >= min_docs:
                j = i
                while j < len(gs) and len(gram_docs[gs[j]]) >= min_docs:
                    j += 1
                run = j - i
                if run >= min_run:
                    out.append((d, i + 1, run, run + n - 1))
                i = j
            else:
                i += 1
    return sorted(out)


@SETTINGS
@given(_span_docs)
def test_repeated_spans_matches_reference(spark, docs):
    from pgverify_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id bigint, text string",
    )
    res = dedup.repeated_spans(df, n=2, min_docs=2, min_run=1)
    got = sorted(map(tuple, res.collect()))
    from pgverify_spark.operators.util import release_cached_deps

    release_cached_deps(res)
    expect = _ref_repeated_spans(list(enumerate(docs)), 2, 2, 1)
    assert got == expect


# --- weighted sample --------------------------------------------------------

_wrows = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(1, 50)),
    min_size=1,
    max_size=30,
    unique_by=lambda r: r[0],
)


@SETTINGS
@given(_wrows, st.integers(1, 8), st.integers(9, 40))
def test_weighted_sample_monotone_in_target(spark, rows, t_small, t_big):
    """Raising target_rows only ever ADDS rows (per-row thresholds are
    monotone in the target), and each row's inclusion probability is
    non-decreasing — the property that makes staged curation safe
    (a 10% pilot sample is a subset of the eventual 30% one)."""
    from pgverify_spark.operators import sample

    df = spark.createDataFrame(rows, "k bigint, w bigint")
    small = {
        r.k: r.incl_ppm for r in sample.weighted_sample(df, "k", "w", t_small).collect()
    }
    big = {
        r.k: r.incl_ppm for r in sample.weighted_sample(df, "k", "w", t_big).collect()
    }
    assert set(small) <= set(big)
    for k, p in small.items():
        assert big[k] >= p


def _ref_cut_repeated_spans(docs, n):
    occ: dict[tuple, list] = {}
    for d, toks in docs:
        for i in range(len(toks) - n + 1):
            occ.setdefault(tuple(toks[i : i + n]), []).append((d, i + 1))
    dup = {}
    for lst in occ.values():
        owner = min(lst)
        for o in lst:
            dup[o] = len(lst) >= 2 and o != owner
    out = []
    for d, toks in docs:
        T = len(toks)
        if T == 0:
            continue  # zero-token docs have no rows to reassemble
        P = T - n + 1
        cut = []
        for t in range(1, T + 1):
            cover = (
                [dup[(d, p)] for p in range(max(1, t - n + 1), min(t, P) + 1)]
                if P >= 1
                else []
            )
            cut.append(1 if cover and all(cover) else 0)
        kept = " ".join(tok for tok, c in zip(toks, cut) if not c)
        out.append((d, T, sum(cut), kept))
    return sorted(out)


@SETTINGS
@given(_span_docs)
def test_cut_repeated_spans_matches_reference(spark, docs):
    from pgverify_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id bigint, text string",
    )
    res = dedup.cut_repeated_spans(df, n=2)
    got = sorted(map(tuple, res.collect()))
    from pgverify_spark.operators.util import release_cached_deps

    release_cached_deps(res)
    expect = _ref_cut_repeated_spans(list(enumerate(docs)), 2)
    assert got == expect
