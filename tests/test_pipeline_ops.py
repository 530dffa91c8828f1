"""LLM-pipeline operators (text, dedup, similarity, multimodal) vs the
DuckDB oracle, plus behavioral invariants an oracle can't express."""

import pytest

from pgverify_spark.functions.timecol import US_PER_DAY, bucket_sql, epoch_us_sql
from pgverify_spark.operators import dedup, multimodal, similarity, text
from pgverify_spark.operators.util import release_cached_deps

QIDS = (0, 1, 2, 3, 4)


def _cmp(spark_df, duck, sql):
    s = sorted(map(tuple, spark_df.collect()))
    d = sorted(map(tuple, duck.execute(sql).fetchall()))
    assert s == d, f"spark={s[:3]} duck={d[:3]}"
    return s


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_text_stats(docs, duck):
    rows = _cmp(text.text_stats(docs), duck, text.text_stats_oracle_sql("documents"))
    assert rows and all(0 <= r[7] <= 1 for r in rows)  # quality_score bounded


def test_language_id(docs, duck):
    rows = _cmp(text.language_id(docs), duck, text.language_id_oracle_sql("documents"))
    assert {r[1] for r in rows} <= {"en", "de", "fr", "es", "und"}


def test_token_counts(docs, duck):
    rows = _cmp(text.token_counts(docs), duck, text.token_counts_oracle_sql("documents"))
    # the BPE-ish pre-tokenizer splits at least as finely as whitespace
    assert all(r[2] >= r[1] for r in rows)


def test_rolling_fingerprint(docs, duck):
    rows = _cmp(
        text.rolling_fingerprint(docs), duck, text.rolling_fingerprint_oracle_sql("documents")
    )
    assert any(r[1] > 0 for r in rows)  # selection is non-degenerate
    # shared-run guarantee: a doc shares all fingerprints with itself +
    # a suffix extension (content-defined selection is position-independent)
    ext = docs.limit(3).selectExpr("doc_id + 1000000 AS doc_id", "concat(text, ' zzz tail') AS text", "lang", "source", "n_chars")
    both = text.rolling_fingerprint(docs.limit(3).unionByName(ext)).collect()
    by_id = {r.doc_id: set(r.fps.split(",")) - {""} for r in both}
    for base_id in list(by_id):
        if base_id < 1000000 and (base_id + 1000000) in by_id:
            assert by_id[base_id] <= by_id[base_id + 1000000]


def test_doc_fingerprints(docs, duck):
    rows = _cmp(
        text.doc_fingerprints(docs), duck, text.doc_fingerprints_oracle_sql("documents")
    )
    assert all(0 <= r[2] < (1 << 48) for r in rows)  # simhash fits 48 bits


def test_exact_dup_groups(docs, duck):
    _cmp(dedup.exact_dup_groups(docs), duck, dedup.exact_dup_groups_oracle_sql("documents"))


def test_exact_dup_detects_injected_duplicates(docs):
    dup = docs.limit(5).selectExpr(
        "doc_id + 1000000 AS doc_id", "text", "lang", "source", "n_chars"
    )
    groups = dedup.exact_dup_groups(docs.unionByName(dup)).collect()
    assert len(groups) >= 5
    assert all(g.n_docs >= 2 for g in groups)


def test_repeated_spans(docs, duck):
    res = dedup.repeated_spans(docs)
    rows = _cmp(res, duck, dedup.repeated_spans_oracle_sql("documents"))
    # release the tagged persisted intermediates: a leaked cache entry
    # rewrites OTHER tests' physical plans via cache substitution (the
    # plan-shape assertions downstream count exchanges)
    release_cached_deps(res)
    # span_tokens is derived: run length + n - 1
    assert all(r[3] == r[2] + dedup.REPEAT_N - 1 for r in rows)


def test_repeated_spans_finds_injected_copy(spark, docs):
    """A verbatim passage pasted into two fresh documents must surface
    as a span in BOTH (and in any original doc sharing it), with the
    run covering the whole pasted region: L tokens shared -> L - n + 1
    consecutive repeated n-grams -> span_tokens == L."""
    passage = " ".join(f"uniqtok{i}" for i in range(20))  # 20 unseen tokens
    extra = spark.createDataFrame(
        [
            (9_000_001, f"alpha beta {passage} gamma"),
            (9_000_002, f"{passage} delta epsilon zeta"),
        ],
        "doc_id long, text string",
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'inj' AS source", "length(text) AS n_chars"
    )
    res = dedup.repeated_spans(docs.unionByName(extra))
    spans = {r.doc_id: r for r in res.collect() if r.doc_id >= 9_000_000}
    release_cached_deps(res)
    assert set(spans) == {9_000_001, 9_000_002}
    # doc 1: passage starts at token 3; doc 2: at token 1
    assert spans[9_000_001].span_start == 3
    assert spans[9_000_002].span_start == 1
    assert spans[9_000_001].span_tokens == 20
    assert spans[9_000_002].span_tokens == 20


def test_repeated_spans_vs_corpus_gate(spark):
    """The ingest gate flags batch text already in the STANDING corpus
    and ignores duplication that exists only within the batch (that is
    the intra-batch pass's job)."""
    corpus_passage = " ".join(f"c{i}" for i in range(12))
    batch_passage = " ".join(f"b{i}" for i in range(12))  # batch-only dup
    corpus = spark.createDataFrame(
        [(100, f"standing text {corpus_passage} more words")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (7, f"fresh {corpus_passage} tail"),      # copies the corpus
            (17, f"alpha {batch_passage} beta"),      # dup only vs 27
            (27, f"gamma {batch_passage} delta"),
        ],
        "doc_id long, text string",
    )
    spans = dedup.repeated_spans_vs_corpus(batch, corpus, n=5).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {7}  # batch-internal duplication never flags
    (s,) = by_doc[7]
    assert s.span_start == 2 and s.span_tokens == 12


def test_cut_repeated_spans(docs, duck):
    res = dedup.cut_repeated_spans(docs)
    rows = _cmp(res, duck, dedup.cut_repeated_spans_oracle_sql("documents"))
    release_cached_deps(res)
    assert all(0 <= r[2] <= r[1] for r in rows)  # 0 <= n_cut <= n_tokens


def test_cut_repeated_spans_keeps_owner_occurrence(spark):
    """A passage copied into a second document is cut from the COPY
    (except the boundary tokens protected by grams straddling into its
    unique tail) and kept verbatim in the owner — every distinct
    passage keeps exactly one home."""
    passage = " ".join(f"p{i}" for i in range(1, 11))  # 10 tokens
    rows = [
        (1, f"{passage} owner tail here"),
        (2, f"{passage} other words entirely five"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = dedup.cut_repeated_spans(df, n=3)
    out = {r.doc_id: r for r in res.collect()}
    release_cached_deps(res)
    # owner doc: nothing cut (its occurrences own every repeated gram)
    assert out[1].n_cut == 0
    assert out[1].text_kept == rows[0][1]
    # copy: passage tokens 1..8 are covered only by duplicate grams and
    # get cut; tokens 9..10 sit under grams straddling the unique tail
    assert out[2].n_cut == 8
    assert out[2].text_kept == "p9 p10 other words entirely five"


def test_cut_repeated_spans_single_text_exchange_plan(spark):
    """r13: the cut transform must reassemble text IN-ROW — no n-fold
    cover explode (``explode(sequence(pos, ...))``) and no post-join
    regroup of token strings; the sliding-window min over the per-doc
    dup-flag array (``array_min(slice(dupf, ...))``) is the cut
    decision, so token strings cross exactly one exchange (the
    doc-keyed flag join)."""
    passage = " ".join(f"p{i}" for i in range(1, 11))  # 10 tokens, no repeats
    rows = [
        (1, f"{passage} owner tail here"),
        (2, f"{passage} other words entirely five"),
        (3, "x"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = dedup.cut_repeated_spans(df, n=3)
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "explode(sequence(pos" not in plan  # cover fanout retired
    assert "array_min(slice(" in plan  # in-row window-min present
    # exactly one collect_list: the P dup flags per doc (ints), never
    # the token strings the old shape re-aggregated
    assert plan.count("partial_collect_list") == 1
    assert "collect_list(named_struct(pos" in plan
    out = {r.doc_id: r for r in res.collect()}
    release_cached_deps(res)
    # empty docs are dropped (posexplode semantics of the old shape)
    assert set(out) == {1, 2, 3}
    assert out[3].text_kept == "x" and out[3].n_cut == 0
    # doc 1 owns every gram of the shared passage; doc 2 is the copy
    # (same expectations as test_cut_repeated_spans_keeps_owner_occurrence)
    assert out[1].n_cut == 0 and out[1].text_kept == rows[0][1]
    assert out[2].n_cut == 8
    assert out[2].text_kept == "p9 p10 other words entirely five"


def test_minhash_lsh_pairs(docs, duck):
    rows = _cmp(
        dedup.minhash_lsh_pairs(docs, 0.3),
        duck,
        dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3),
    )
    assert all(r[0] < r[1] and r[2] >= 0.3 for r in rows)


def test_ngram_jaccard_pairs(docs, duck):
    _cmp(
        dedup.ngram_jaccard_pairs(docs, 0.5),
        duck,
        dedup.ngram_jaccard_pairs_oracle_sql("documents", 0.5),
    )


def test_ngram_jaccard_uncapped_matches_capped_on_cold_corpus(docs, duck):
    # no shingle in sf-testdata documents approaches the default cap, so
    # exact (None) and capped must agree — and so must their oracles
    capped = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, 0.5).collect()))
    exact = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, 0.5, max_shingle_freq=None).collect())
    )
    assert capped == exact
    _cmp(
        dedup.ngram_jaccard_pairs(docs, 0.5, max_shingle_freq=None),
        duck,
        dedup.ngram_jaccard_pairs_oracle_sql("documents", 0.5, max_shingle_freq=None),
    )


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A stopword-like phrase shared by every doc must not generate
    candidate pairs once its shingles cross the frequency cap; genuine
    near-dup pairs (overlap on cold shingles) must survive."""
    hot = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{hot} unique{i} filler{i} token{i} alpha{i} beta{i}") for i in range(8)]
    # genuine near-dups: share a long cold tail present in only these two
    tail = "curated deterministic verification corpus sentence with many shared tokens"
    rows += [(100, f"start{100} {tail}"), (101, f"start{101} {tail}")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = dedup.ngram_jaccard_pairs(df, 0.3, max_shingle_freq=None).collect()
    capped = dedup.ngram_jaccard_pairs(df, 0.3, max_shingle_freq=5).collect()

    hot_pairs = {(r.doc_a, r.doc_b) for r in uncapped if r.doc_a < 100}
    assert hot_pairs  # uncapped: the hot phrase alone makes pairs
    capped_pairs = {(r.doc_a, r.doc_b) for r in capped}
    assert (100, 101) in capped_pairs  # cold-shingle overlap survives
    assert not any(a < 100 for a, _ in capped_pairs)  # hot-only pairs pruned
    # reported similarity is a lower bound of the true (uncapped) value
    true_j = {(r.doc_a, r.doc_b): r.jaccard for r in uncapped}
    assert all(r.jaccard <= true_j[(r.doc_a, r.doc_b)] for r in capped)


def test_minhash_recall_vs_exact(docs):
    """LSH pairs are verified with exact Jaccard, so they are always a
    subset of the exact pairs; at j >= 0.95 the 8x4 banding collision
    probability is 1 - (1 - 0.95^4)^8 ~ 0.9999983, so recall there must
    be total."""
    exact_07 = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(docs, 0.7).collect()}
    lsh_07 = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs, 0.7).collect()}
    assert lsh_07 <= exact_07
    exact_95 = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(docs, 0.95).collect()}
    lsh_95 = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs, 0.95).collect()}
    assert lsh_95 == exact_95


def test_simhash_near_pairs(docs, duck):
    rows = _cmp(
        dedup.simhash_near_pairs(docs),
        duck,
        dedup.simhash_near_pairs_oracle_sql("documents"),
    )
    assert all(r[2] <= dedup.SIMHASH_MAX_HAMMING for r in rows)


def test_embedding_near_dups(embs, duck):
    _cmp(
        dedup.embedding_near_dups(embs, 0.4),
        duck,
        dedup.embedding_near_dups_oracle_sql("embeddings", 0.4),
    )


def test_embedding_near_dups_scale_guard(embs):
    """The registered exact O(n²) baseline refuses corpus-scale inputs,
    naming the LSH scale path; max_rows=None bypasses for deliberate
    ground-truth runs (r9 VERDICT item 2)."""
    import pytest

    with pytest.raises(ValueError, match="embedding_near_dups_lsh"):
        dedup.embedding_near_dups(embs, 0.4, max_rows=2)
    # bypass works and the default ceiling admits the test corpus
    assert dedup.embedding_near_dups(embs, 0.4, max_rows=None).columns == [
        "vec_a", "vec_b", "cosine",
    ]


def test_exact_l2_topk_query_set_guard(embs):
    """The exact-truth ANN harness bounds its query-set multiplier on
    the full-corpus scan."""
    import pytest

    with pytest.raises(ValueError, match="sample the query set"):
        similarity.exact_l2_topk(embs, tuple(range(1001)), 10)


def test_embedding_near_dups_lsh(embs, duck):
    rows = _cmp(
        dedup.embedding_near_dups_lsh(embs, 0.4),
        duck,
        dedup.embedding_near_dups_lsh_oracle_sql("embeddings", 0.4),
    )
    # verified candidates: always a subset of the exact O(n^2) baseline
    exact = {(r.vec_a, r.vec_b) for r in dedup.embedding_near_dups(embs, 0.4).collect()}
    assert {(r[0], r[1]) for r in rows} <= exact


def test_cosine_topk(embs, duck):
    rows = _cmp(
        similarity.cosine_topk(embs, QIDS, 10),
        duck,
        similarity.cosine_topk_oracle_sql("embeddings", QIDS, 10),
    )
    assert len(rows) == len(QIDS) * 10
    for qid in QIDS:  # ranks are 1..10 and scores non-increasing
        scored = sorted((r for r in rows if r[0] == qid), key=lambda r: r[3])
        assert [r[3] for r in scored] == list(range(1, 11))
        assert all(a[2] >= b[2] for a, b in zip(scored, scored[1:]))


def test_ann_lsh_topk(embs, duck):
    rows = _cmp(
        similarity.ann_lsh_topk(embs, QIDS, 10),
        duck,
        similarity.ann_lsh_topk_oracle_sql("embeddings", QIDS, 10),
    )
    # ANN results are a subset of each query's bucket — sanity: rank ordering
    assert all(r[3] >= 1 for r in rows)


def test_ivf_assign(embs, duck):
    rows = _cmp(
        similarity.ivf_assign(embs),
        duck,
        similarity.ivf_assign_oracle_sql("embeddings"),
    )
    assert all(0 <= r[1] <= similarity.IVF_CENTROIDS_N for r in rows)


def test_ivf_topk(embs, duck):
    rows = _cmp(
        similarity.ivf_topk(embs, QIDS, 10, 2),
        duck,
        similarity.ivf_topk_oracle_sql("embeddings", QIDS, 10, 2),
    )
    assert all(r[3] >= 1 for r in rows)


def test_ivf_full_probe_is_exact(embs):
    """Probing every cell must reproduce exact brute-force top-k."""
    exact = sorted(map(tuple, similarity.cosine_topk(embs, QIDS, 5).collect()))
    full = sorted(
        map(
            tuple,
            similarity.ivf_topk(embs, QIDS, 5, similarity.IVF_CENTROIDS_N).collect(),
        )
    )
    assert exact == full


def test_hyperplane_buckets(embs, duck):
    rows = _cmp(
        similarity.hyperplane_buckets(embs),
        duck,
        similarity.hyperplane_buckets_oracle_sql("embeddings"),
    )
    assert all(0 <= r[1] < (1 << similarity.HYPERPLANE_BITS) for r in rows)


def test_dedup_agreement_report(docs, duck):
    """Agreement matrix == oracle; the structure is coherent: solo rows
    carry n_common == n_a == n_b, cross rows never exceed either side,
    and minhash∩jaccard equals minhash's pair count at the same
    threshold (banded candidates are exactly verified, so every LSH
    pair IS a Jaccard pair — precision 1 by construction)."""
    rows = _cmp(
        dedup.dedup_agreement_report(docs),
        duck,
        dedup.dedup_agreement_report_oracle_sql("documents"),
    )
    assert len(rows) == 6  # 3 solo + 3 unordered cross pairs
    m = {(r[0], r[1]): r for r in rows}
    for (a, b), (_, _, n_a, n_b, n_common) in m.items():
        if a == b:
            assert n_common == n_a == n_b
        else:
            assert n_common <= min(n_a, n_b)
    lsh_vs_jac = m[("minhash_lsh", "ngram_jaccard")]
    assert lsh_vs_jac[4] == lsh_vs_jac[2]  # LSH ⊆ exact Jaccard
    assert any(r[4] > 0 for r in rows if r[0] != r[1]), "no cross agreement"


def test_leakage_safe_split(spark, docs, duck):
    """THE property: no near-dup pair straddles a split (hash_split
    provably violates this on the same corpus); unpaired docs keep
    their plain hash_split assignment (stability); oracle-exact."""
    from pgverify_spark.operators import prep

    pairs = dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
    rows = _cmp(
        prep.leakage_safe_split(docs, pairs),
        duck,
        prep.leakage_safe_split_oracle_sql(
            "documents",
            "SELECT doc_a, doc_b FROM ("
            + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
            + ") mp",
        ),
    )
    split_of = {r[0]: r[2] for r in rows}
    plist = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert plist, "fixture needs near-dup pairs"
    assert all(split_of[a] == split_of[b] for a, b in plist)
    # plain hash_split DOES leak on this corpus (the reason this
    # operator exists): at least one pair straddles splits
    from pgverify_spark.functions.canonical import hex_prefix_int_sql

    def plain(doc_id):
        import hashlib

        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) % 1000
        return "train" if b < 900 else ("val" if b < 950 else "test")

    assert any(plain(a) != plain(b) for a, b in plist), (
        "fixture too small to demonstrate leakage"
    )
    # unpaired docs: split == plain hash_split of their own id
    paired = {d for ab in plist for d in ab}
    clustered = {r[0] for r in rows if r[0] != r[1]}
    for doc_id, key, split in rows:
        if doc_id not in paired and doc_id not in clustered:
            assert key == doc_id and split == plain(doc_id)


def test_token_mixture_sample(spark, docs, duck):
    """Token-budget mixture == oracle; the kept TOKEN shares track the
    target weights (doc-count mixture would not when sources have
    different length distributions)."""
    from pgverify_spark.operators import sample as sample_mod

    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    kept = sample_mod.token_mixture_sample(docs, "doc_id", "source", "text", weights, 0.5)
    got = sorted(map(tuple, kept.collect()))
    want = sorted(
        map(
            tuple,
            duck.execute(
                sample_mod.token_mixture_sample_oracle_sql(
                    "documents", "doc_id", "source", "text", weights, 0.5
                )
            ).fetchall(),
        )
    )
    assert got == want and got
    # kept token share per source tracks the target (loose: the sample
    # is row-hash-selected, so shares converge only in expectation)
    toks = {}
    for r in kept.collect():
        if r["source"] in weights:
            toks[r["source"]] = toks.get(r["source"], 0) + len(r["text"].split())
    total = sum(toks.values())
    for s, w in weights.items():
        share = toks.get(s, 0) / total
        assert abs(share - w) < 0.15, (s, share, w)


def test_curriculum_pack(docs, duck):
    """Curriculum packing == oracle; bins within a bucket are full
    (every bin except a bucket's last carries >= the budget's worth of
    starts... i.e. bin token totals reconcile with the bucket totals);
    bucket 0 is exactly the gopher-pass documents."""
    from pgverify_spark.operators import prep

    rows = _cmp(
        prep.curriculum_pack(docs, 512),
        duck,
        prep.curriculum_pack_oracle_sql("documents", 512),
    )
    assert rows
    buckets = {r[0] for r in rows}
    assert 0 in buckets and len(buckets) >= 2  # a real curriculum split
    # total docs across all bins == corpus size (packing is a partition)
    assert sum(r[2] for r in rows) == docs.count()
    # bucket 0 holds exactly the documents that pass every gopher rule
    n_pass = text.gopher_gate(docs).filter("keep").count()
    assert sum(r[2] for r in rows if r[0] == 0) == n_pass


def test_dataset_card(docs, duck):
    """The composed corpus card equals the oracle, and its metrics
    reconcile with the standalone operators they compose."""
    from pgverify_spark.operators import dedup

    rows = dict(_cmp(text.dataset_card(docs), duck, text.dataset_card_oracle_sql("documents")))
    n = docs.count()
    assert rows["n_docs"] == n
    assert rows["total_chars"] == sum(r["n_chars"] for r in docs.select("n_chars").collect())
    assert rows["mean_chars_millionths"] == rows["total_chars"] * 1_000_000 // n
    # exact_dup_excess reconciles with exact_dup_groups: excess = sum
    # over groups of (size - 1)
    groups = dedup.exact_dup_groups(docs).collect()
    assert rows["exact_dup_excess"] == sum(g["n_docs"] - 1 for g in groups)
    # gopher pass rate reconciles with the gate itself
    n_pass = text.gopher_gate(docs).filter("keep").count()
    assert rows["gopher_pass_ppm"] == n_pass * 1_000_000 // n
    assert 0 < rows["gopher_pass_ppm"] <= 1_000_000
    assert rows["distinct_langs"] >= 1 and rows["top_lang_share_ppm"] <= 1_000_000


def test_multimodal_features(docs, duck):
    rows = _cmp(
        multimodal.extract_features(docs),
        duck,
        multimodal.extract_features_oracle_sql("documents"),
    )
    assert all(r[1] in multimodal.MEDIA_TYPES and r[2] > 0 for r in rows)
    # all three container kinds appear, with type-appropriate metadata
    kinds = {r[1] for r in rows}
    assert kinds == set(multimodal.MEDIA_TYPES)
    for r in rows:
        if r[1].startswith("image/"):
            assert r[3] >= 4 and r[4] >= 4 and r[7] is None  # w, h; no duration
        else:
            assert r[3] is None and r[5] == multimodal.SAMPLE_RATE and r[7] > 0


def test_multimodal_resize(docs, duck):
    rows = _cmp(
        multimodal.resize_images(docs, 64, 48),
        duck,
        multimodal.resize_images_oracle_sql("documents", 64, 48),
    )
    assert all(r[1] == 64 and r[2] == 48 and len(r[3]) == 32 for r in rows)


def test_multimodal_frame_sample(docs, duck):
    rows = _cmp(
        multimodal.frame_sample(docs, 2),
        duck,
        multimodal.frame_sample_oracle_sql("documents", 2),
    )
    assert rows, "frame fan-out should be non-empty"
    assert all(r[1] % 2 == 0 for r in rows)  # only every 2nd frame


def test_multimodal_image_ahash_and_dup_groups(spark, docs, duck):
    """aHash matches the formula oracle bit-for-bit; identical payloads
    hash identically (a byte-identical duplicate image is always
    grouped); groups are >= 2 and cover every image-kind doc at most
    once."""
    rows = _cmp(
        multimodal.image_ahash(docs), duck, multimodal.image_ahash_oracle_sql("documents")
    )
    assert rows and all(0 <= r[1] < (1 << 63) for r in rows)
    groups = _cmp(
        multimodal.image_dup_groups(docs),
        duck,
        multimodal.image_dup_groups_oracle_sql("documents"),
    )
    assert all(g[1] >= 2 for g in groups)
    # a constructed exact-duplicate image pair must land in one group
    two = spark.createDataFrame(
        [(1, "the same text payload"), (2, "the same text payload")],
        "doc_id bigint, text string",
    )
    g2 = multimodal.image_dup_groups(two).collect()
    # both docs synthesize the same payload; if it's an image kind they
    # form exactly one group, if audio the operator correctly emits none
    kind = multimodal._params(multimodal._h48("the same text payload"))[0]
    if kind in (0, 1):
        assert len(g2) == 1 and g2[0]["doc_ids"] == "1,2"
    else:
        assert g2 == []


def test_pq_encode_and_adc_topk(spark, embs, duck):
    """PQ codes match the oracle exactly; ADC top-k is oracle-exact,
    ranked ascending with deterministic ties; and the approximation is
    real: ADC's nearest neighbors overlap the exact-L2 nearest
    neighbors for most queries."""
    from pgverify_spark.operators import similarity

    codes = _cmp(
        similarity.pq_encode(embs), duck, similarity.pq_encode_oracle_sql("embeddings")
    )
    assert len(codes) == embs.count()
    assert all(
        len(r[1]) == similarity.PQ_M and all(0 <= c < similarity.PQ_K for c in r[1])
        for r in codes
    )
    # a codebook vector encodes (in each subspace) to itself: d2 = 0
    cb_codes = {r[0]: r[1] for r in codes if r[0] < similarity.PQ_K}
    for vid, cs in cb_codes.items():
        assert all(c == vid for c in cs), f"codebook vec {vid} -> {cs}"

    qids = (0, 1, 2, 3, 4)
    rows = _cmp(
        similarity.pq_topk(embs, qids, 10),
        duck,
        similarity.pq_topk_oracle_sql("embeddings", qids, 10),
    )
    by_q = {}
    for r in rows:
        by_q.setdefault(r[0], []).append(r)
    assert set(by_q) == set(qids)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r[3])
        assert [r[3] for r in rs] == list(range(1, 11))
        dists = [r[2] for r in rs]
        assert dists == sorted(dists)
        assert all(r[1] != q for r in rs)  # self excluded

    # approximation quality: per query, ADC@10 hits the exact-L2 top-10
    # more than chance (64-dim corpus of 500: chance overlap ~0.2 ids)
    import math

    emb_map = {r["vec_id"]: r["embedding"] for r in embs.collect()}

    def exact_top10(qid):
        qv = emb_map[qid]
        d = [
            (sum((a - b) ** 2 for a, b in zip(qv, v)), vid)
            for vid, v in emb_map.items()
            if vid != qid
        ]
        return {vid for _, vid in sorted(d)[:10]}

    overlaps = [
        len({r[1] for r in by_q[q]} & exact_top10(q)) for q in qids
    ]
    assert sum(overlaps) >= 10, f"ADC recall implausibly low: {overlaps}"


def test_pq_recall_eval(spark, embs, duck):
    """PQ recall harness == oracle; recall is a real signal (strictly
    between 0 and 1 on this corpus — codes lose information but beat
    chance), and n_hit always reconciles with the two top-k sets."""
    from pgverify_spark.operators import similarity

    qids = (0, 1, 2, 3, 4)
    rows = _cmp(
        similarity.pq_recall_eval(embs, qids, 10),
        duck,
        similarity.pq_recall_eval_oracle_sql("embeddings", qids, 10),
    )
    assert {r[0] for r in rows} == set(qids)
    assert all(r[1] == 10 and 0 <= r[2] <= 10 for r in rows)
    total_hit = sum(r[2] for r in rows)
    assert 0 < total_hit < 50, f"recall degenerate: {rows}"
    # reconcile one query's n_hit by hand
    q = qids[0]
    exact = {
        r["vec_id"] for r in similarity.exact_l2_topk(embs, (q,), 10).collect()
    }
    approx = {r["vec_id"] for r in similarity.pq_topk(embs, (q,), 10).collect()}
    assert dict((r[0], r[2]) for r in rows)[q] == len(exact & approx)


def test_ivfpq_topk(spark, embs, duck):
    """IVF-PQ == oracle; every hit lies in one of its query's nprobe
    probed cells; and on the probed candidate set the ADC distances
    agree exactly with pq_topk's (the composition changes candidate
    generation, never the metric)."""
    from pgverify_spark.operators import similarity

    qids = (0, 1, 2, 3, 4)
    rows = _cmp(
        similarity.ivfpq_topk(embs, qids, 10, 2),
        duck,
        similarity.ivfpq_topk_oracle_sql("embeddings", qids, 10, 2),
    )
    assert rows
    # probed-cell containment
    ranked = similarity._centroid_rank_sql("embedding", similarity.DIALECT_SPARK)
    cells = {
        r["vec_id"]: r["ranked"]
        for r in embs.selectExpr("vec_id", f"{ranked} AS ranked").collect()
    }
    for q, vid, _adc, _rank in rows:
        assert cells[vid][0] in cells[q][:2], f"{vid} outside {q}'s probed cells"
    # metric agreement with the unpruned PQ ranker
    full = {
        (r["query_id"], r["vec_id"]): r["adc_millionths"]
        for r in similarity.pq_topk(embs, qids, 500).collect()
    }
    for q, vid, adc, _rank in rows:
        assert full[(q, vid)] == adc


def test_multimodal_audio_fingerprint(spark, docs, duck):
    """Energy-profile fingerprint matches the PCM-formula oracle
    bit-for-bit; identical payloads fingerprint identically."""
    rows = _cmp(
        multimodal.audio_fingerprint(docs),
        duck,
        multimodal.audio_fingerprint_oracle_sql("documents"),
    )
    assert rows and all(r[2] == multimodal.AFP_WINDOWS for r in rows)
    assert all(0 <= r[1] < (1 << 63) for r in rows)
    # same PCM stream -> same fingerprint, regardless of container copy
    two = spark.createDataFrame(
        [(1, "same audio text"), (2, "same audio text")],
        "doc_id bigint, text string",
    )
    fps = {r["doc_id"]: r["audio_fp"] for r in multimodal.audio_fingerprint(two).collect()}
    kind = multimodal._params(multimodal._h48("same audio text"))[0]
    if kind == 2:
        assert fps[1] == fps[2]
    else:
        assert fps == {}


def test_audio_fingerprint_short_streams():
    """The short-stream branch (0 < n < 63 -> k = n windows), which the
    oracle pairing can't reach (synthesized payloads are >= 256
    samples): window partition must be exhaustive and fp reproducible
    from the per-sample formula."""
    for n in (1, 2, 10, 62, 63, 64):
        wav = multimodal._make_wav(seed=7, n=n)
        samples = multimodal.decode_media(wav)["samples"]
        assert len(samples) == n
        fp, k = multimodal._audio_fp_bits(samples)
        assert k == min(63, n)
        # reference computation straight from the definition
        s = [abs(int(x)) for x in samples]
        energies = [
            sum(s[i] for i in range(n) if i * k // n == w) for w in range(k)
        ]
        mean = sum(energies) // k
        want = sum(1 << i for i, e in enumerate(energies) if e > mean)
        assert fp == want
    assert multimodal._audio_fp_bits(
        multimodal.decode_media(multimodal._make_wav(1, 0))["samples"]
    ) == (0, 0)


def test_multimodal_decode_roundtrip():
    """Real container parsing: synthesize -> decode recovers the exact
    header fields AND content (pixels/samples) for all three formats."""
    import numpy as np

    px = multimodal._rgb_plane(seed=17, w=5, h=3)
    for payload, media_type in (
        (multimodal._make_bmp(17, 5, 3), "image/bmp"),
        (multimodal._make_ppm(17, 5, 3), "image/x-portable-pixmap"),
    ):
        m = multimodal.decode_media(payload)
        assert (m["media_type"], m["width"], m["height"]) == (media_type, 5, 3)
        # BMP stores bottom-up BGR with row padding; decode must undo all
        # of it and agree with PPM's top-down RGB byte-for-byte
        assert np.array_equal(m["pixels"], px)

    wav = multimodal.decode_media(multimodal._make_wav(seed=17, n=300))
    assert wav["media_type"] == "audio/wav"
    assert wav["sample_rate"] == multimodal.SAMPLE_RATE
    assert wav["n_samples"] == 300
    assert wav["duration_us"] == 300 * 1_000_000 // multimodal.SAMPLE_RATE
    assert np.array_equal(wav["samples"], multimodal._pcm(17, 300))


def test_multimodal_decode_error_policies(spark, docs):
    """features_from_payloads on a corpus with corrupt blobs: 'fail'
    raises, 'skip' drops the bad rows, 'mark' keeps them as auditable
    'invalid' rows with NULL metadata — counts reconcile exactly."""
    import pytest as _pytest

    good = multimodal.synthesize_media(docs.limit(20))
    bad = spark.createDataFrame(
        [(900001, bytearray(b"NOTAMEDIAFILE")), (900002, bytearray(b"BM\x01"))],
        "doc_id bigint, payload binary",
    )
    mixed = good.unionByName(bad)

    with _pytest.raises(Exception):
        multimodal.features_from_payloads(mixed, on_error="fail").collect()

    skipped = multimodal.features_from_payloads(mixed, on_error="skip").collect()
    assert len(skipped) == 20 and all(r["media_type"] != "invalid" for r in skipped)

    marked = multimodal.features_from_payloads(mixed, on_error="mark").collect()
    assert len(marked) == 22
    inv = [r for r in marked if r["media_type"] == "invalid"]
    assert {r["doc_id"] for r in inv} == {900001, 900002}
    assert all(r["width"] is None and r["n_samples"] is None for r in inv)
    assert all(r["n_bytes"] > 0 for r in inv)  # size still measured

    with _pytest.raises(ValueError):
        multimodal.features_from_payloads(mixed, on_error="explode")


def test_multimodal_decode_rejects_malformed():
    with pytest.raises(ValueError):
        multimodal.decode_media(b"\x89PNG\r\n\x1a\n")  # no codec for PNG
    with pytest.raises(ValueError):
        multimodal.decode_media(b"BM" + b"\x00" * 10)  # truncated BMP
    with pytest.raises(ValueError):
        multimodal.decode_media(b"RIFF\x04\x00\x00\x00WAVE")  # chunkless WAV


def test_hourly_rollup(spark, sf_dir, duck):
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = _cmp(rollup.hourly_rollup(events), duck, rollup.hourly_rollup_oracle_sql("events"))
    assert rows
    # exact-decimal sums and integer bucketing: totals reconcile with the raw table
    assert sum(r[2] for r in rows) == events.count()
    assert all(r[5] <= r[6] for r in rows)  # min_value <= max_value per group


def test_daily_rollup_reaggregates_hourly(spark, sf_dir, duck):
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = _cmp(rollup.daily_rollup(events), duck, rollup.daily_rollup_oracle_sql("events"))
    hourly = rollup.hourly_rollup(events).collect()
    # lossless re-aggregation: daily event totals equal the hourly totals
    assert sum(r[2] for r in daily) == sum(r.n_events for r in hourly)
    assert sum(r[3] for r in daily) == sum(r.sum_value for r in hourly)


def test_daily_rollup_plan_skips_distinct_rewrite(spark, sf_dir):
    """The daily path discards n_users, so it must not pay for the
    countDistinct rewrite the exact hourly level uses (Spark 4 plans a
    single distinct as an extra aggregate level keyed on user_id plus an
    extra shuffle — no Expand node, but one more Exchange)."""
    from pgverify_spark.operators import rollup

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly_none = plan(rollup.hourly_rollup(events, distinct_users=None))
    hourly_exact = plan(rollup.hourly_rollup(events))
    daily = plan(rollup.daily_rollup(events))
    # the distinct rewrite costs exactly one extra shuffle at the hourly level
    assert plan_exchanges(hourly_exact) == plan_exchanges(hourly_none) + 1
    # daily = hourly(no distinct) + one re-aggregation shuffle, nothing more
    assert plan_exchanges(daily) == plan_exchanges(hourly_none) + 1
    assert "n_users" not in daily
    # no aggregate in the daily plan is keyed on user_id (the distinct
    # rewrite's partial level would be)
    assert "keys=[hour_bucket" in daily and "user_id" not in daily.split("FileScan")[0]


def plan_exchanges(plan_str):
    return plan_str.count("Exchange")


def test_hourly_rollup_distinct_user_modes(spark, sf_dir):
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {(r.hour_bucket, r.event_type): r.n_users
             for r in rollup.hourly_rollup(events).collect()}
    approx_df = rollup.hourly_rollup(events, distinct_users="approx")
    # approx mode: plain partial-aggregatable HLL, no Expand node
    assert "Expand" not in approx_df._jdf.queryExecution().executedPlan().toString()
    for r in approx_df.collect():
        true = exact[(r.hour_bucket, r.event_type)]
        assert abs(r.n_users - true) <= max(2, 0.05 * true)
    omitted = rollup.hourly_rollup(events, distinct_users=None)
    assert "n_users" not in omitted.columns
    with pytest.raises(ValueError):
        rollup.hourly_rollup(events, distinct_users="bogus")


def test_weighted_sample(docs, duck):
    from pgverify_spark.operators import sample

    cols = ("doc_id", "text", "lang", "source", "n_chars")
    rows = _cmp(
        sample.weighted_sample(docs, "doc_id", "n_chars", 150),
        duck,
        sample.weighted_sample_oracle_sql("documents", "doc_id", "n_chars", 150, cols),
    )
    n_total = docs.count()
    # calibration: expected kept count ~150 (binomial noise band)
    assert 100 <= len(rows) <= 200, len(rows)
    # every inclusion probability is positive and <= 1e6 ppm
    assert all(0 < r[-1] <= 1_000_000 for r in rows)
    # Horvitz-Thompson: sum of inverse inclusion probabilities over the
    # kept rows estimates the population count unbiasedly
    n_hat = sum(1_000_000 / r[-1] for r in rows)
    assert abs(n_hat - n_total) / n_total < 0.35, (n_hat, n_total)
    # weight-proportional: the kept set's mean n_chars exceeds the
    # population's (longer docs are preferentially included)
    mean_kept = sum(r[4] for r in rows) / len(rows)
    mean_all = sum(r.n_chars for r in docs.collect()) / n_total
    assert mean_kept > mean_all


def test_stratified_sample(docs, duck):
    from pgverify_spark.operators import sample

    rates = {"en": 0.5, "de": 1.0, "fr": 0.25}
    rows = _cmp(
        sample.stratified_sample(docs, "doc_id", "lang", rates, 0.1),
        duck,
        sample.stratified_sample_oracle_sql("documents", "doc_id", "lang", rates, 0.1),
    )
    assert rows
    # de keeps everything; observed rates are within binomial noise
    total = {r[2]: 0 for r in rows}
    for r in docs.collect():
        total[r.lang] = total.get(r.lang, 0)
    by_lang_all = {l: c for l, c in docs.groupBy("lang").count().collect()}
    by_lang_kept = {}
    for r in rows:
        by_lang_kept[r[2]] = by_lang_kept.get(r[2], 0) + 1
    assert by_lang_kept.get("de", 0) == by_lang_all.get("de", 0)
    for lang, rate in rates.items():
        n = by_lang_all.get(lang, 0)
        if n >= 30:
            got = by_lang_kept.get(lang, 0) / n
            assert abs(got - rate) < 0.2, (lang, got, rate)
    # deterministic: same selection on re-run
    again = sorted(map(tuple, sample.stratified_sample(docs, "doc_id", "lang", rates, 0.1).collect()))
    assert again == rows


def test_topk_ngrams(docs, duck):
    rows = _cmp(text.topk_ngrams(docs, 3, 50), duck, text.topk_ngrams_oracle_sql("documents", 3, 50))
    assert len(rows) == 50
    assert all(len(r[0].split(" ")) == 3 for r in rows)
    # query order (pre-sort): counts non-increasing, gram-tiebroken
    ordered = text.topk_ngrams(docs, 3, 50).collect()
    pairs = [(-r.n_occurrences, r.gram) for r in ordered]
    assert pairs == sorted(pairs)


def test_asof_join_semantics(spark, duck):
    """Before-first-event and no-event keys yield NULLs; equal-ts events
    count as 'at or before'; latest wins — cross-checked against
    DuckDB's independent native ASOF LEFT JOIN on the same data."""
    from pgverify_spark.operators.asof import asof_join, asof_join_oracle_sql

    ev = spark.createDataFrame(
        [(1, 10, "a", 1.0), (1, 20, "b", None), (1, 30, "c", 3.0), (2, 100, "z", 9.0)],
        "user_id int, ts bigint, event_type string, value double",
    )
    pr = spark.createDataFrame(
        [(101, 1, 5), (102, 1, 10), (103, 1, 25), (104, 1, 35), (105, 3, 50)],
        "probe_id int, user_id int, t bigint",
    )
    got = sorted(map(tuple, asof_join(ev, pr).collect()))
    duck.execute(
        "CREATE OR REPLACE VIEW asof_ev AS SELECT * FROM (VALUES "
        "(1, 10, 'a', 1.0), (1, 20, 'b', NULL), (1, 30, 'c', 3.0), (2, 100, 'z', 9.0)"
        ") t(user_id, ts, event_type, value)"
    )
    probes = (
        "SELECT * FROM (VALUES (101, 1, 5), (102, 1, 10), (103, 1, 25), "
        "(104, 1, 35), (105, 3, 50)) t(probe_id, user_id, t)"
    )
    want = sorted(
        map(tuple, duck.execute(
            asof_join_oracle_sql("asof_ev", probes, carry=("probe_id",))
        ).fetchall())
    )
    assert got == want
    by_probe = {r[2]: r for r in got}  # (user_id, t, probe_id, event_ts, type, value)
    assert by_probe[101][3] is None          # before first event
    assert by_probe[102][3] == 10            # equal ts counts
    assert by_probe[103][3] == 20 and by_probe[103][5] is None  # NULL value survives
    assert by_probe[104][3] == 30
    assert by_probe[105][3] is None          # key with no events


def test_asof_join_registry_events(spark, sf_dir, duck):
    from pgverify_spark.registry import oracle_queries, spark_queries

    rows = _cmp(
        spark_queries()["asof_join_events"](spark, sf_dir),
        duck,
        oracle_queries()["asof_join_events"],
    )
    # probing an event's own timestamp must find that event
    assert rows and all(r[3] == r[2] for r in rows)  # event_ts_us == t_us


def test_dup_clusters(docs, duck):
    pairs = dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
    rows = _cmp(
        dedup.dup_clusters(pairs),
        duck,
        dedup.dup_clusters_oracle_sql(
            "SELECT doc_a, doc_b FROM ("
            + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
            + ") mp"
        ),
    )
    # every paired doc is labeled, cluster id is the component minimum
    by_doc = dict(rows)
    for p in pairs.collect():
        assert by_doc[p.doc_a] == by_doc[p.doc_b]
        assert by_doc[p.doc_a] <= min(p.doc_a, p.doc_b)


def test_dup_clusters_chain_transitivity(spark):
    """A chain a-b, b-c, c-d must collapse into ONE cluster even though
    a and d never share a pair (propagation beyond one hop), and two
    disjoint components must stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "doc_a bigint, doc_b bigint",
    )
    labels = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(pairs).collect()}
    assert {labels[i] for i in (1, 2, 3, 4)} == {1}
    assert {labels[i] for i in (10, 11, 12)} == {10}
    assert {labels[i] for i in (20, 21)} == {20}


def test_dup_clusters_schedules_at_most_30_jobs(spark, grouped_jobs):
    """One warm ``dup_clusters`` call on a 6-node chain plus a 2-node
    component, run under a job group, schedules at most 30 jobs: the
    pairs' checkpoint, the initial labels' checkpoint, each of the six
    rounds' checkpoint and the result stage.  Each round's moved count
    is observed by its checkpoint job, so the convergence check
    schedules none."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (100, 101)],
        "doc_a bigint, doc_b bigint",
    )

    def run():
        return sorted(map(tuple, dedup.dup_clusters(pairs).collect()))

    want = run()  # warm-up: nothing below depends on a cold JVM
    got, jobs = grouped_jobs(run)
    assert got == want == [(i, 1) for i in range(1, 7)] + [(100, 100), (101, 100)]
    assert 0 < len(jobs) <= 30, jobs


def test_dup_clusters_star_schedules_at_most_103_jobs(spark, grouped_jobs):
    """One warm ``dup_clusters_star`` call on a 6-node chain plus a
    2-node component, run under a job group, schedules at most 103
    jobs (113 with a checksum action after each round).  The
    convergence checksum (the edge set's count and two weighted
    sums) is observed by the checkpoint jobs of the initial edge set
    and of each half-step, so it schedules none."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (100, 101)],
        "doc_a bigint, doc_b bigint",
    )

    def run():
        return sorted(map(tuple, dedup.dup_clusters_star(pairs).collect()))

    want = run()  # warm-up: nothing below depends on a cold JVM
    got, jobs = grouped_jobs(run)
    assert got == want == [(i, 1) for i in range(1, 7)] + [(100, 100), (101, 100)]
    assert 0 < len(jobs) <= 103, jobs


def test_dedup_filters(docs, duck, spark):
    """End of the dedup pipeline: the surviving corpus.  Exact filter
    keeps one canonical row per distinct text; near filter keeps exactly
    the cluster representatives plus all unpaired docs."""
    # exact: inject duplicates, survivors = originals only
    dup = docs.unionByName(
        docs.filter("doc_id % 10 = 0").selectExpr(
            "doc_id + 1000000 AS doc_id", "text", "lang", "source", "n_chars"
        )
    )
    rows = _cmp(
        dedup.exact_dedup_filter(dup),
        duck,
        dedup.exact_dedup_filter_oracle_sql(
            "(SELECT * FROM documents UNION ALL "
            "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
            "FROM documents WHERE doc_id % 10 = 0)"
        ),
    )
    assert len(rows) == docs.count()  # every injected copy dropped
    assert all(r[0] < 1000000 for r in rows)

    # near: survivors = corpus minus non-representative cluster members
    pairs = dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
    surv = _cmp(
        dedup.near_dedup_filter(docs, pairs),
        duck,
        dedup.near_dedup_filter_oracle_sql(
            "documents",
            "SELECT doc_a, doc_b FROM ("
            + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
            + ") mp",
        ),
    )
    labels = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(pairs).collect()}
    losers = {d for d, c in labels.items() if d != c}
    kept = {r[0] for r in surv}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept == all_ids - losers
    assert losers  # dup pairs exist at this SF, so the filter did work


def test_quality_filter(docs, duck):
    rows = _cmp(
        text.quality_filter(docs, 0.5, 10, 0.3, ("en", "de")),
        duck,
        text.quality_filter_oracle_sql("documents", 0.5, 10, 0.3, ("en", "de")),
    )
    assert rows and all(r[1] >= 0.5 and r[2] in ("en", "de") for r in rows)
    # gate consistency with the standalone operators it composes
    stats = {r.doc_id: r for r in text.text_stats(docs).collect()}
    langs = {r.doc_id: r.lang for r in text.language_id(docs).collect()}
    kept = {r[0] for r in rows}
    for did, s in stats.items():
        ok = (
            s.quality_score >= 0.5
            and s.n_tokens >= 10
            and s.digit_ratio <= 0.3
            and langs[did] in ("en", "de")
        )
        assert (did in kept) == ok, did


def test_kmeans_assign(embs, duck):
    rows = _cmp(
        similarity.kmeans_assign(embs, 8, 2),
        duck,
        similarity.kmeans_assign_oracle_sql("embeddings", 8, 2),
    )
    assert len(rows) == embs.count()
    clusters = {r[1] for r in rows}
    assert clusters <= set(range(8)) and len(clusters) > 1
    # Lloyd improves (or preserves) every vector's similarity to its
    # centroid: mean assigned cosine must not decrease with iterations
    one = {r[0]: r[2] for r in map(tuple, similarity.kmeans_assign(embs, 8, 1).collect())}
    two = {r[0]: r[2] for r in rows}
    assert sum(two.values()) >= sum(one.values()) - 1e-9


def test_sessionize(spark, sf_dir, duck):
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = _cmp(rollup.sessionize(events), duck, rollup.sessionize_oracle_sql("events"))
    assert rows
    # sessions partition the events exactly
    assert sum(r[4] for r in rows) == events.count()
    by_user = {}
    for r in rows:
        by_user.setdefault(r[0], []).append(r)
    gap = rollup._DEFAULT_GAP_US
    for sess in by_user.values():
        sess.sort(key=lambda r: r[1])
        assert [r[1] for r in sess] == list(range(1, len(sess) + 1))  # 1-based idx
        for a, b in zip(sess, sess[1:]):
            assert b[2] - a[3] > gap  # consecutive sessions separated by > gap
        assert all(r[2] <= r[3] for r in sess)
    # single Exchange: windows + final agg share the user_id partitioning
    plan = rollup.sessionize(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_sessionize_scalable_equals_single_pass(spark, sf_dir):
    """The skew-bounded two-level sessionizer returns EXACTLY the
    single-pass result at every block size — including blocks far
    smaller than the session gap, where nearly every session straddles
    boundaries and the level-2 merge does all the work."""
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = sorted(map(tuple, rollup.sessionize(events).collect()))
    hour = 3_600_000_000
    for block_us in (7 * 24 * hour, 24 * hour, hour, rollup._DEFAULT_GAP_US // 3):
        got = sorted(
            map(tuple, rollup.sessionize_scalable(events, block_us=block_us).collect())
        )
        assert got == want, f"mismatch at block_us={block_us}"
    # the event-heavy window partitions on (user, block), never on the
    # bare user key: no task holds a whole user history
    plan = (
        rollup.sessionize_scalable(events)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "block" in plan


def test_debounce_scalable_equals_single_pass(spark, sf_dir):
    """Skew-bounded debounce == single-pass debounce at every block
    size; tiny blocks force the cross-block carry (previous block's
    last event time) to anchor nearly every block's first gap test."""
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    win = 4 * 3600 * 1_000_000
    want = sorted(map(tuple, rollup.debounce(events, win).collect()))
    hour = 3_600_000_000
    for block_us in (7 * 24 * hour, 24 * hour, 2 * hour):
        got = sorted(
            map(
                tuple,
                rollup.debounce_scalable(events, win, block_us=block_us).collect(),
            )
        )
        assert got == want, f"mismatch at block_us={block_us}"


def test_event_transitions(spark, sf_dir, duck):
    """Transition matrix matches the oracle; totals reconcile with the
    session structure (every non-first in-session event is exactly one
    transition); the window and the lag share one user_id exchange."""
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = _cmp(
        rollup.event_transitions(events),
        duck,
        rollup.event_transitions_oracle_sql("events"),
    )
    assert rows
    sessions = rollup.sessionize(events).collect()
    expected_transitions = sum(r[4] - 1 for r in sessions)
    assert sum(r[2] for r in rows) == expected_transitions
    plan = rollup.event_transitions(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # user_id window + tiny final agg


def test_contamination_pairs(docs, duck):
    from pgverify_spark.operators import contamination

    rows = _cmp(
        contamination.contamination_pairs(docs),
        duck,
        contamination.contamination_pairs_oracle_sql("documents"),
    )
    assert rows  # the synthetic corpus has cross-split near-dups
    for train_doc, eval_doc, n_shared, contam in rows:
        assert train_doc % 10 != 0 and eval_doc % 10 == 0  # split respected
        assert n_shared >= 2 and 0 < contam <= 1.0
    # injecting an eval doc verbatim into the train side must surface it
    # with contamination 1.0 (every train shingle is shared)
    leak = docs.filter("doc_id = 0").selectExpr(
        "doc_id + 1000001 AS doc_id", "text", "lang", "source", "n_chars"
    )
    leaked = {
        (r.train_doc, r.eval_doc): r.contamination
        for r in contamination.contamination_pairs(docs.unionByName(leak)).collect()
    }
    assert leaked[(1000001, 0)] == 1.0


def test_contamination_hot_shingle_cap(docs):
    from pgverify_spark.operators import contamination

    # a shingle present in more than max_eval_freq eval docs is pruned:
    # with the cap at 0 every shingle is hot, so no pairs survive
    assert contamination.contamination_pairs(docs, max_eval_freq=0).count() == 0


def test_repetition_stats(docs, duck):
    rows = _cmp(
        text.repetition_stats(docs), duck, text.repetition_stats_oracle_sql("documents")
    )
    assert rows
    for _, n_tokens, distinct_frac, top_tok, top_bi in rows:
        assert 0 < distinct_frac <= 1 and 0 < top_tok <= 1 and 0 <= top_bi <= 1
        # a token run can never occupy less than 1/n of the doc
        assert top_tok >= 1.0 / max(n_tokens, 1) - 1e-6  # 6-digit rounding slack
    # a degenerate all-same-token doc scores 1.0 everywhere
    one = docs.limit(1).selectExpr(
        "doc_id + 2000000 AS doc_id",
        "'spam spam spam spam spam spam' AS text",
        "lang", "source", "n_chars",
    )
    r = {t[0]: t for t in map(tuple, text.repetition_stats(one).collect())}
    row = next(iter(r.values()))
    assert row[2] == round(1 / 6, 6) and row[3] == 1.0 and row[4] == 1.0


def test_fk_integrity(spark, sf_dir, duck):
    from pgverify_spark.operators.integrity import fk_check, fk_check_oracle_sql

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    clean = _cmp(
        fk_check(orders, customer, "o_custkey", "c_custkey", "o->c"),
        duck,
        fk_check_oracle_sql("orders", "customer", "o_custkey", "c_custkey", "o->c"),
    )
    assert clean[0][3] == 0 and clean[0][4] is None  # TPC-H data is clean
    # NULL FKs are counted but never orphans
    with_nulls = orders.selectExpr(
        "CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END AS o_custkey"
    )
    row = fk_check(with_nulls, customer, "o_custkey", "c_custkey", "e").collect()[0]
    assert row.n_rows > row.n_nonnull and row.n_orphans == 0
    # orphans are detected with exact min/max pointers
    bad = orders.selectExpr("o_custkey + 1000000000 AS o_custkey").limit(7)
    row = fk_check(
        orders.select("o_custkey").unionByName(bad),
        customer, "o_custkey", "c_custkey", "e",
    ).collect()[0]
    assert row.n_orphans == 7 and row.min_orphan > 1000000000


def test_length_histogram(docs, duck):
    rows = _cmp(
        text.length_histogram(docs), duck, text.length_histogram_oracle_sql("documents")
    )
    assert rows
    # buckets tile the length axis without overlap and cover every doc
    assert sum(r[3] for r in rows) == docs.count()
    for bucket, lo, hi, n_docs, total in rows:
        assert lo == bucket * 50 and hi == lo + 49 and n_docs > 0
        assert n_docs * lo <= total <= n_docs * hi


def test_scrub_pii(spark, duck):
    import pandas as pd

    pdf = pd.DataFrame(
        [
            (1, "reach alice.smith+hr@corp.example.org or https://ex.com/x?q=1 now"),
            (2, "host 192.168.0.1 and backup 10.0.0.255, dial +4915112345678"),
            (3, "nothing sensitive here"),
            (4, "u@v.io w@x.de http://a.b/c +1234567 1.2.3.4"),
        ],
        columns=["doc_id", "text"],
    )
    duck.register("pii_docs", pdf)
    rows = _cmp(
        text.scrub_pii(spark.createDataFrame(pdf)),
        duck,
        text.scrub_pii_oracle_sql("pii_docs"),
    )
    by_id = {r[0]: r for r in rows}
    assert by_id[1][1] == 1 and by_id[1][2] == 1            # url + email
    assert by_id[2][4] == 2 and by_id[2][3] == 1            # 2 ips + phone
    assert by_id[3][1:5] == (0, 0, 0, 0)
    assert by_id[3][5] == "nothing sensitive here"          # untouched
    assert by_id[4][1:5] == (1, 2, 1, 1)
    for r in rows:  # redaction removes every counted match
        clean = r[5]
        assert "@" not in clean.replace("<EMAIL>", "") or r[2] == 0
        assert "http" not in clean.replace("<URL>", "")


def test_tfidf_top_terms(docs, duck):
    rows = _cmp(
        text.tfidf_top_terms(docs), duck, text.tfidf_top_terms_oracle_sql("documents")
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r[0], []).append(r)
    for terms in by_doc.values():
        terms.sort(key=lambda r: r[5])
        assert [r[5] for r in terms] == list(range(1, len(terms) + 1))
        # scores non-increasing with rank; ties broken by term asc
        for a, b in zip(terms, terms[1:]):
            assert a[4] > b[4] or (a[4] == b[4] and a[1] < b[1])


def test_corpus_mix_report(docs, duck):
    rows = _cmp(
        text.corpus_mix_report(docs), duck, text.corpus_mix_report_oracle_sql("documents")
    )
    cells = {(r[0], r[1]): r for r in rows}
    grand = cells[("ALL", "ALL")]
    assert grand[2] == docs.count() and grand[4] == 1.0
    # subtotals are consistent: per-source rows sum to the grand total
    assert sum(r[2] for (s, l), r in cells.items() if l == "ALL" and s != "ALL") == grand[2]
    assert sum(r[3] for (s, l), r in cells.items() if s == "ALL" and l != "ALL") == grand[3]


def test_scale_plan_shapes(docs):
    """Guard the plan properties the 100 TB design depends on: the
    contamination probe broadcasts the eval index (corpus side never
    shuffles into the join); pure-projection operators plan zero
    exchanges beyond their explicit barrier."""
    from pgverify_spark.operators import contamination

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(contamination.contamination_pairs(docs))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    # scrub/token_counts: single-pass projections — no exchange at all
    assert "Exchange" not in plan(text.scrub_pii(docs))
    assert "Exchange" not in plan(text.token_counts(docs))
    # repetition: fold-based, only the explicit barrier repartition
    assert plan(text.repetition_stats(docs)).count("Exchange") == 1


def test_interval_join_rollup(spark, sf_dir, duck):
    from pgverify_spark.operators.interval import (
        interval_join_rollup,
        interval_join_rollup_oracle_sql,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # two windows: one spanning an hour-bucket boundary, one empty
    windows = spark.createDataFrame(
        [(1, 19723 * 86400000000 + 5_400_000_000, 19723 * 86400000000 + 12_600_000_000),
         (2, 400 * 86400000000, 400 * 86400000000 + 3_600_000_000)],
        "win_id int, lo_us long, hi_us long",
    )
    rows = {r.win_id: r for r in interval_join_rollup(events, windows).collect()}
    assert rows[2].n_events == 0 and float(rows[2].sum_value) == 0.0
    # window 1 matches a brute-force filter count exactly
    us = epoch_us_sql(events)
    brute = events.filter(
        f"{us} >= {19723 * 86400000000 + 5_400_000_000} AND "
        f"{us} < {19723 * 86400000000 + 12_600_000_000}"
    ).count()
    assert rows[1].n_events == brute > 0
    # oracle twin over the registry-style day windows
    day_w = "(day * 24 + 6) * 3600000000"
    wsql = (
        f"SELECT day AS win_id, {day_w} AS lo_us, {day_w} + 5400000000 AS hi_us FROM "
        "(SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events) d"
    )
    wspark = (
        events.selectExpr(f"{bucket_sql(events, US_PER_DAY)} AS day").distinct()
        .selectExpr("day AS win_id", f"{day_w} AS lo_us", f"{day_w} + 5400000000 AS hi_us")
    )
    _cmp(
        interval_join_rollup(events, wspark),
        duck,
        interval_join_rollup_oracle_sql("events", wsql),
    )
    # the plan broadcasts the window index (corpus side never shuffles)
    plan = interval_join_rollup(events, wspark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_length_percentiles(docs, duck):
    rows = _cmp(
        text.length_percentiles(docs), duck, text.length_percentiles_oracle_sql("documents")
    )
    for _, n_docs, p10, p50, p90, p99 in rows:
        assert n_docs > 0 and p10 <= p50 <= p90 <= p99


def test_funnel(spark, sf_dir, duck):
    from pgverify_spark.operators.funnel import funnel, funnel_oracle_sql

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    gap = 86_400_000_000
    rows = _cmp(funnel(events, max_gap_us=gap), duck, funnel_oracle_sql("events", max_gap_us=gap))
    by_step = {r[0]: r for r in rows}
    # monotone: each step keeps at most the previous step's users
    assert by_step[1][2] >= by_step[2][2] >= by_step[3][2]
    # gap constraint is discriminating (not everyone converts instantly)
    assert by_step[2][2] < by_step[1][2]
    # unconstrained funnel dominates the gap-constrained one
    free = {r[0]: r for r in funnel(events).collect()}
    assert all(free[s][2] >= by_step[s][2] for s in by_step)


def test_skew_audit(spark, sf_dir, duck):
    from pgverify_spark.operators import skew

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    (dist,) = _cmp(
        skew.key_distribution(li, "l_suppkey"),
        duck,
        skew.key_distribution_oracle_sql("lineitem", "l_suppkey"),
    )
    n_rows, n_keys, max_g, avg_g, p50, p90, p99, ratio = dist
    assert n_rows == li.count() and max_g >= p99 >= p90 >= p50 and ratio >= 1.0
    hh = _cmp(
        skew.heavy_hitters(li, "l_partkey", 20),
        duck,
        skew.heavy_hitters_oracle_sql("lineitem", "l_partkey", 20),
    )
    assert len(hh) == 20 and all(0 < r[2] <= 1 for r in hh)


def test_kmv_sketch(docs, duck):
    from pgverify_spark.operators.sketch import (
        kmv_merge,
        kmv_sketch,
        kmv_sketch_oracle_sql,
        kmv_sketch_raw,
    )

    rows = _cmp(
        kmv_sketch(docs, "text", "lang", 64),
        duck,
        kmv_sketch_oracle_sql("documents", "text", "lang", 64),
    )
    exact = dict(duck.execute("SELECT lang, count(DISTINCT text) FROM documents GROUP BY lang").fetchall())
    for grp, n_sketch, kth, est in rows:
        if n_sketch < 64:  # under-filled sketch is exact by construction
            assert est == exact[grp]
        else:  # KMV error bound ~ 1/sqrt(k) = 12.5%; assert a loose 3x
            assert abs(est - exact[grp]) / exact[grp] < 0.375
    # mergeability: sketch(half A) ++ sketch(half B) == sketch(whole)
    h1 = kmv_sketch_raw(docs.filter("doc_id % 2 = 0"), "text", "lang", 64)
    h2 = kmv_sketch_raw(docs.filter("doc_id % 2 = 1"), "text", "lang", 64)
    merged = sorted(map(tuple, kmv_merge(h1.unionByName(h2), 64).collect()))
    assert merged == rows


def test_hll_sketch(spark, sf_dir, duck):
    from pgverify_spark.operators.sketch import (
        hll_distinct,
        hll_distinct_oracle_sql,
        hll_merge,
        hll_registers,
        hll_summary,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = _cmp(
        hll_distinct(orders, "o_custkey", "o_orderpriority"),
        duck,
        hll_distinct_oracle_sql("orders", "o_custkey", "o_orderpriority"),
    )
    exact = dict(
        duck.execute(
            "SELECT o_orderpriority, count(DISTINCT o_custkey) "
            "FROM orders GROUP BY 1"
        ).fetchall()
    )
    # HLL error ~1.04/sqrt(256) = 6.5%; assert a loose 4-sigma band
    for grp, n_filled, reg_sum, est in rows:
        assert 1 <= n_filled <= 256
        assert abs(est - exact[grp]) / exact[grp] < 0.26
    # mergeability: max-merge of half-registers == whole sketch
    h1 = hll_registers(orders.filter("o_orderkey % 2 = 0"), "o_custkey", "o_orderpriority")
    h2 = hll_registers(orders.filter("o_orderkey % 2 = 1"), "o_custkey", "o_orderpriority")
    merged = sorted(map(tuple, hll_summary(hll_merge(h1.unionByName(h2))).collect()))
    assert merged == rows


def test_hll_branches_and_nulls(spark):
    """Tiny groups take the linear-counting arm exactly; NULL values
    are excluded (COUNT DISTINCT semantics)."""
    import math

    from pgverify_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame(
        [("g", str(i)) for i in range(3)] + [("g", None)], "grp_in string, v string"
    )
    (r,) = hll_distinct(df, "v", "grp_in").collect()
    assert r["n_filled"] == 3  # the NULL row contributed no register
    assert r["est_distinct"] == round(256.0 * math.log(256.0 / 253.0), 6)


def test_countmin_estimate(spark, sf_dir, duck):
    from pgverify_spark.operators.sketch import (
        countmin_estimate,
        countmin_estimate_oracle_sql,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = _cmp(
        countmin_estimate(events, "user_id", 4, 64),
        duck,
        countmin_estimate_oracle_sql("events", "user_id", 4, 64),
    )
    assert len(rows) == events.select("user_id").distinct().count()
    # CM guarantee: never undercounts; total truth is conserved
    for _, est, true, over in rows:
        assert est >= true and over == est - true >= 0
    assert sum(r[2] for r in rows) == events.count()


def test_countmin_collisions_overcount(spark):
    """Width 2 forces collisions: some key must overcount, none under."""
    from pgverify_spark.operators.sketch import countmin_estimate

    df = spark.createDataFrame(
        [(i % 7,) for i in range(100)], "k bigint"
    )
    rows = countmin_estimate(df, "k", 2, 2).collect()
    assert all(r["est_count"] >= r["true_count"] for r in rows)
    assert any(r["overcount"] > 0 for r in rows)


def test_countmin_merge(spark, sf_dir):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) cell-for-cell."""
    from pgverify_spark.operators.sketch import countmin_merge, countmin_sketch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    whole = sorted(map(tuple, countmin_sketch(events, "user_id").collect()))
    h1 = countmin_sketch(events.filter("event_id % 2 = 0"), "user_id")
    h2 = countmin_sketch(events.filter("event_id % 2 = 1"), "user_id")
    merged = sorted(map(tuple, countmin_merge(h1.unionByName(h2)).collect()))
    assert merged == whole


def test_fuzzy_join_pairs(spark, sf_dir, duck):
    from pgverify_spark.operators.linkage import (
        fuzzy_join_pairs,
        fuzzy_join_pairs_oracle_sql,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter("p_partkey % 10 = 0")
    rows = _cmp(
        fuzzy_join_pairs(part, "p_partkey", "p_name", 2, max_block_freq=25),
        duck,
        fuzzy_join_pairs_oracle_sql(
            "part", "p_partkey", "p_name", 2, max_block_freq=25, where="p_partkey % 10 = 0"
        ),
    )
    assert rows and all(r[0] < r[1] and r[4] <= 2 and 0 < r[5] <= 1 for r in rows)
    # the hot-block cap only ever removes candidates (soundness of capping)
    uncapped = sorted(
        map(tuple, fuzzy_join_pairs(part, "p_partkey", "p_name", 2).collect())
    )
    assert set(rows) <= set(uncapped)


def test_quantize_int8(embs, duck):
    from pgverify_spark.operators.quantize import (
        quantize_int8,
        quantize_int8_oracle_sql,
        quantized_topk,
        quantized_topk_oracle_sql,
    )
    from pgverify_spark.operators.similarity import cosine_topk

    rows = _cmp(
        quantize_int8(embs).selectExpr("vec_id", "scale", "CAST(qvec AS STRING) AS qvec", "qnorm2"),
        duck,
        f"SELECT vec_id, scale, CAST(qvec AS VARCHAR) AS qvec, qnorm2 FROM ({quantize_int8_oracle_sql('embeddings')}) q",
    )
    assert rows and all(r[3] > 0 for r in rows)
    topk = _cmp(
        quantized_topk(embs, QIDS, 10),
        duck,
        quantized_topk_oracle_sql("embeddings", QIDS, 10),
    )
    # quantization is lossy but must retain most of the exact neighbors
    exact = {(r[0], r[1]) for r in cosine_topk(embs, QIDS, 10).collect()}
    quant = {(r[0], r[1]) for r in topk}
    assert len(exact & quant) / len(exact) >= 0.8
    # int8 range respected
    q = quantize_int8(embs).selectExpr("array_max(qvec) AS mx", "array_min(qvec) AS mn").collect()
    assert all(-127 <= r.mn and r.mx <= 127 for r in q)


def test_trend_operators(spark, sf_dir, duck):
    from pgverify_spark.operators import trend

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    coh = _cmp(
        trend.cohort_retention(events), duck, trend.cohort_retention_oracle_sql("events")
    )
    # offset-0 retention is 1.0 by definition; retention never exceeds 1
    assert all(r[3] == 1.0 for r in coh if r[1] == 0)
    assert all(0 < r[3] <= 1.0 for r in coh)
    ma = _cmp(
        trend.moving_average(events, 3), duck, trend.moving_average_oracle_sql("events", 3)
    )
    # a trailing average over positive counts stays within the series range
    lo = min(r[2] for r in ma); hi = max(r[2] for r in ma)
    assert all(lo <= r[3] <= hi for r in ma)
    anom = _cmp(
        trend.daily_anomalies(events, 1.5), duck, trend.daily_anomalies_oracle_sql("events", 1.5)
    )
    assert anom and all(abs(r[3]) > 1.5 for r in anom)
    # tighter threshold flags fewer days
    assert len(trend.daily_anomalies(events, 2.5).collect()) <= len(anom)


def test_salted_join(spark, sf_dir):
    from pgverify_spark.operators.joins import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_partkey", "l_quantity")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_orderkey AS l_orderkey", "o_orderpriority"
    )
    plain = li.join(od, "l_orderkey")
    salted = salted_join(li, od, "l_orderkey", salt=8)
    assert salted.columns == plain.columns
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # the join runs on (key, salt): the physical join keys include _salt
    p = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in p


def test_daily_trend_slope(spark, sf_dir, duck):
    from pgverify_spark.operators import trend

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = _cmp(
        trend.daily_trend_slope(events), duck, trend.daily_trend_slope_oracle_sql("events")
    )
    assert rows and all(r[1] > 1 for r in rows)
    # slope of a manufactured perfectly-linear series is exact
    lin = spark.createDataFrame(
        [(i, 86_400_000_000_000 * i + 1, "lin", float(2 * i + 5)) for i in range(10)],
        "event_id long, ts long, event_type string, value double",
    ).selectExpr("event_id", "ts", "CAST(NULL AS BIGINT) AS user_id", "event_type", "value", "CAST(NULL AS STRING) AS props")
    (r,) = trend.daily_trend_slope(lin).collect()
    assert r.slope == 2.0


def test_funnel_fold_vs_reference_model(spark):
    """The SQL fold agrees with an independent Python reference model on
    a seeded adversarial corpus: equal timestamps, events exactly at the
    gap boundary, repeated steps, missing steps, out-of-order types."""
    import random

    from pgverify_spark.operators.funnel import DEFAULT_STEPS, funnel

    rng = random.Random(20260813)
    types = list(DEFAULT_STEPS) + ["error", "signup"]
    gap = 100  # microseconds, so boundary cases are easy to hit
    rows = []
    for uid in range(200):
        n = rng.randint(0, 12)
        t = 0
        for _ in range(n):
            # steps of 0 (equal ts), exactly gap, and around the boundary
            t += rng.choice([0, 1, 2, gap - 1, gap, gap + 1])
            rows.append((uid, t * 1000, rng.choice(types)))  # ts in nanos

    def ref_stage(evts):
        stage, sts = 0, None
        for us, et in sorted(evts):
            if stage >= len(DEFAULT_STEPS):
                break
            ok_gap = stage == 0 or us - sts <= gap
            if et == DEFAULT_STEPS[stage] and (sts is None or us > sts) and ok_gap:
                stage, sts = stage + 1, us
        return stage

    per_user = {}
    for uid, ts, et in rows:
        per_user.setdefault(uid, []).append((ts // 1000, et))
    expected = [0] * (len(DEFAULT_STEPS) + 1)
    for evts in per_user.values():
        expected[ref_stage(evts)] += 1
    exp_counts = {
        i + 1: sum(expected[i + 1 :]) for i in range(len(DEFAULT_STEPS))
    }

    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {r.step: r.n_users for r in funnel(df, max_gap_us=gap).collect()}
    assert got == exp_counts


def test_grouped_topk_and_histogram(spark, sf_dir, duck):
    from pgverify_spark.operators import topk

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = _cmp(
        topk.grouped_topk_revenue(li, 3), duck, topk.grouped_topk_revenue_oracle_sql("lineitem", 3)
    )
    per_supp = {}
    for sk, pk, rev, rank in rows:
        per_supp.setdefault(sk, []).append((rank, rev))
    for ranked in per_supp.values():
        ranked.sort()
        assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
        assert all(ranked[i][1] >= ranked[i + 1][1] for i in range(len(ranked) - 1))
    hist = _cmp(
        topk.equidepth_histogram(od, "o_totalprice", 10),
        duck,
        topk.equidepth_histogram_oracle_sql("orders", "o_totalprice", 10),
    )
    hist.sort()
    # equal-count buckets (+-1), monotone non-overlapping ranges
    sizes = [r[1] for r in hist]
    assert max(sizes) - min(sizes) <= 1
    assert all(hist[i][3] <= hist[i + 1][2] for i in range(len(hist) - 1))


def test_equidepth_histogram_closed_form_matches_ntile(spark, sf_dir, duck):
    """The distributed rank→bucket closed form must equal literal ntile
    for awkward shapes: N not divisible by buckets (first rem buckets
    take one extra row), buckets > N (one row per bucket, trailing
    buckets empty), and heavy ties."""
    from pyspark.sql import functions as F

    from pgverify_spark.operators import topk

    od = spark.read.parquet(f"{sf_dir}/orders.parquet")

    # N = 4999 rows, 7 buckets -> q=714, rem=1
    odd = od.filter("o_orderkey % 12 <> 0")
    _cmp(
        topk.equidepth_histogram(odd, "o_totalprice", 7),
        duck,
        topk.equidepth_histogram_oracle_sql(
            "(SELECT * FROM orders WHERE o_orderkey % 12 <> 0) t", "o_totalprice", 7
        ),
    )
    # buckets > N: q=0 path
    tiny = od.filter("o_orderkey <= 64")  # a handful of rows
    _cmp(
        topk.equidepth_histogram(tiny, "o_totalprice", 10),
        duck,
        topk.equidepth_histogram_oracle_sql(
            "(SELECT * FROM orders WHERE o_orderkey <= 64) t", "o_totalprice", 10
        ),
    )
    # heavy ties straddling bucket boundaries: quantized values
    tied = od.select((F.col("o_orderkey") % 5).alias("v"))
    _cmp(
        topk.equidepth_histogram(tied, "v", 4),
        duck,
        topk.equidepth_histogram_oracle_sql(
            "(SELECT o_orderkey % 5 AS v FROM orders) t", "v", 4
        ),
    )
    # empty input: empty result, stable schema
    empty = topk.equidepth_histogram(od.filter("1 = 0"), "o_totalprice", 10)
    assert empty.columns == ["bucket", "n", "lo", "hi"]
    assert empty.count() == 0


def test_distributed_rank_id_arithmetic(spark, sf_dir, duck):
    """The r12 monotonically_increasing_id rank (pid = id >> 33, row
    number = low 33 bits + 1) must (a) reproduce the oracle EXACTLY
    when the range exchange spans MULTIPLE partitions — the offset
    math's only hard case, which the size-derived local width (1)
    never exercises — and (b) plan with NO Window and NO
    ENSURE_REQUIREMENTS exchange over the sorted relation (the pid
    re-shuffle the id arithmetic exists to remove)."""
    from pgverify_spark.operators import topk
    from pgverify_spark.operators.sketch import (
        quantiles_from_sample,
        sample_select,
        sampled_quantiles_oracle_sql,
    )

    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # (a) multi-partition offsets, both operators, vs the exact oracle
    _cmp(
        topk.equidepth_histogram(od, "o_totalprice", 7, width=5),
        duck,
        topk.equidepth_histogram_oracle_sql("orders", "o_totalprice", 7),
    )
    q = quantiles_from_sample(
        sample_select(od, "o_totalprice", "o_orderkey"), width=5
    )
    _cmp(q, duck, sampled_quantiles_oracle_sql("orders", "o_totalprice", "o_orderkey"))
    # (b) plan shape: the rank is a projection over the cached sort —
    # no Window node, no planner-inserted re-shuffle anywhere
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "ENSURE_REQUIREMENTS" not in plan
    spark.catalog.clearCache()


def test_prep_operators(docs, duck):
    from pgverify_spark.operators import prep

    chunks = _cmp(
        prep.chunk_documents(docs, 200, 20), duck, prep.chunk_documents_oracle_sql("documents", 200, 20)
    )
    # every chunk <= width; consecutive chunks overlap by exactly 20 chars
    assert all(len(c[2]) <= 200 for c in chunks)
    by_doc = {}
    for doc_id, idx, chunk in chunks:
        by_doc.setdefault(doc_id, {})[idx] = chunk
    overlapped = 0
    for parts in by_doc.values():
        assert sorted(parts) == list(range(len(parts)))
        for i in range(len(parts) - 1):
            if len(parts[i]) == 200:
                assert parts[i][-20:] == parts[i + 1][:20]
                overlapped += 1
    assert overlapped  # multi-chunk docs exist at this SF
    # chunks reassemble to the original text (drop each overlap)
    row = docs.selectExpr("doc_id", "text").filter("length(text) > 400").first()
    rebuilt = "".join(
        p if i == 0 else p[20:] for i, p in sorted(by_doc[row.doc_id].items())
    )
    assert rebuilt == row.text

    packed = _cmp(
        prep.pack_sequences(docs, 512), duck, prep.pack_sequences_oracle_sql("documents", 512)
    )
    # bins are contiguous per source starting at 0
    from collections import defaultdict

    bins = defaultdict(list)
    for src, b, n, toks in packed:
        bins[src].append(b)
    for bs in bins.values():
        assert sorted(bs) == list(range(len(bs)))

    split = _cmp(prep.hash_split(docs), duck, prep.hash_split_oracle_sql("documents"))
    counts = {r[0]: r[1] for r in split}
    total = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / total > 0.8  # ~90% by construction


def test_assign_shards(docs, duck):
    """Two-pass distributed global rank equals the oracle's plain
    row_number, and the resulting shards are token-balanced to within
    one max-document of each other."""
    from pgverify_spark.operators import prep

    rows = _cmp(prep.assign_shards(docs, 8), duck, prep.assign_shards_oracle_sql("documents", 8))
    totals = {}
    max_doc = 0
    for _, n_tokens, shard in rows:
        totals[shard] = totals.get(shard, 0) + n_tokens
        max_doc = max(max_doc, n_tokens)
    assert set(totals) == set(range(8))
    assert max(totals.values()) - min(totals.values()) <= max_doc
    # the point of the construction: no single-reducer global window
    p = prep.assign_shards(docs, 8)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p


def test_reservoir_sample(spark, sf_dir, duck):
    from pgverify_spark.operators import sample

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cols = ("event_id", "user_id", "event_type", "value")
    rows = _cmp(
        sample.reservoir_sample(events, "event_id", "event_type", 20)
        .select(*cols),
        duck,
        sample.reservoir_sample_oracle_sql("events", "event_id", "event_type", 20, cols),
    )
    # exactly min(k, |group|) per group
    sizes = {t: c for t, c in events.groupBy("event_type").count().collect()}
    got = {}
    for r in rows:
        got[r[2]] = got.get(r[2], 0) + 1
    assert got == {t: min(20, n) for t, n in sizes.items()}
    # reservoir property: growing the input only swaps members — the
    # sample from a superset never loses a row whose hash rank still fits
    half = sample.reservoir_sample(
        events.filter("event_id % 2 = 0"), "event_id", "event_type", 20
    )
    full_ids = {r[0] for r in rows}
    half_ids = {r["event_id"] for r in half.select("event_id").collect()}
    # every full-corpus pick that lives in the half corpus was picked there too
    assert {i for i in full_ids if i % 2 == 0} <= half_ids


def test_mixture_sample(docs, duck):
    """Mixture-derived rates hit the oracle exactly; kept counts track
    the requested mixture; unlisted sources are dropped; oversubscribed
    sources cap at keep-everything."""
    from collections import Counter

    from pgverify_spark.operators import sample

    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    rows = _cmp(
        sample.mixture_sample(docs, "doc_id", "source", weights, 0.05),
        duck,
        sample.mixture_sample_oracle_sql("documents", "doc_id", "source", weights, 0.05),
    )
    kept = Counter(r[3] for r in rows)
    assert set(kept) <= set(weights)
    n_src = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    total = sum(n_src.values())
    # each source's kept count is close to its integer-math target
    for s, w in weights.items():
        desired = (total * 50_000 // 1_000_000) * int(w * 1_000_000) // 1_000_000
        assert abs(kept.get(s, 0) - desired) <= max(3, desired // 3)
    # a source whose desired share exceeds its population keeps all rows
    tiny = {"src0": 1.0}
    rows_tiny = sample.mixture_sample(docs, "doc_id", "source", tiny, 1.0).collect()
    assert len(rows_tiny) == n_src["src0"]


def test_scale_plan_shapes_round2(spark, sf_dir, docs, embs):
    """Plan guards for the round-2 operators: the properties the 100 TB
    story depends on, asserted against the physical plan."""
    from pgverify_spark.operators import prep, topk, trend
    from pgverify_spark.operators.interval import interval_join_rollup
    from pgverify_spark.operators.quantize import quantized_topk

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # chunking is a pure projection: zero exchanges
    assert "Exchange" not in plan(prep.chunk_documents(docs))
    # packing windows per source — hash-partitioned, never a global sort:
    p = plan(prep.pack_sequences(docs))
    assert "hashpartitioning(source" in p and "SinglePartition" not in p
    # quantized search broadcasts the query side; corpus never shuffles
    # before scoring
    p = plan(quantized_topk(embs, QIDS, 10))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # interval join broadcasts the window index
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    win = spark.createDataFrame([(1, 0, 3_600_000_000)], "win_id int, lo_us long, hi_us long")
    assert "BroadcastHashJoin" in plan(interval_join_rollup(ev, win))
    # moving average windows over the *rollup*, partitioned by type
    p = plan(trend.moving_average(ev, 3))
    assert "hashpartitioning(event_type" in p and "SinglePartition" not in p
    # grouped top-k ranks the aggregate, not the fact table: the window
    # input is the groupBy output (one aggregate before the window sort)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = plan(topk.grouped_topk_revenue(li, 3))
    assert p.index("HashAggregate") > p.index("Window") or "HashAggregate" in p.split("Window")[-1]


def test_tpch_anchors(spark, sf_dir, duck):
    """TPC-H Q1/Q3 shapes: oracle-exact decimals, and the plans are the
    canonical ones (Q1 one-exchange aggregate; Q3 broadcast dim + top-k
    heap, no global sort)."""
    from pgverify_spark.operators import analytics

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")

    q1 = analytics.pricing_summary(li)
    # plan shape read BEFORE execution (afterwards the AQE string holds
    # initial + final plan and every node appears twice)
    p1 = q1._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange") == 1  # partial agg -> one shuffle -> final
    _cmp(q1, duck, analytics.pricing_summary_oracle_sql("lineitem"))

    q3 = analytics.shipping_priority(li, od, cu, 10)
    rows = list(map(tuple, q3.collect()))
    oracle = list(
        map(
            tuple,
            duck.execute(
                analytics.shipping_priority_oracle_sql("lineitem", "orders", "customer", 10)
            ).fetchall(),
        )
    )
    assert rows == oracle  # order-sensitive: ranked output
    revs = [r[1] for r in rows]
    assert revs == sorted(revs, reverse=True)
    p3 = q3._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p3 and "TakeOrderedAndProject" in p3


def test_tpch_q5_q18(spark, sf_dir, duck):
    """Q5 snowflake join and Q18 having-subquery anchors: oracle-exact,
    and the plans are the canonical ones (Q5 broadcasts the dim chain;
    Q18 aggregates lineitem ONCE and top-ks without a global sort)."""
    from pgverify_spark.operators import analytics

    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
    q5 = analytics.local_supplier_volume(
        rd("customer"), rd("orders"), rd("lineitem"),
        rd("supplier"), rd("nation"), rd("region"),
    )
    p5 = q5._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p5
    rows5 = list(map(tuple, q5.collect()))
    oracle5 = list(map(tuple, duck.execute(
        analytics.local_supplier_volume_oracle_sql(
            "customer", "orders", "lineitem", "supplier", "nation", "region"
        )).fetchall()))
    assert rows5 == oracle5 and len(rows5) > 0  # order-sensitive: ranked

    q18 = analytics.large_volume_customer(rd("customer"), rd("orders"), rd("lineitem"))
    p18 = q18._jdf.queryExecution().executedPlan().toString()
    # the HAVING subquery reuses the single lineitem aggregate: exactly
    # one scan of lineitem, and the top-k is a heap, not a global sort
    assert p18.count("Scan parquet") == 3  # lineitem + orders + customer
    assert "TakeOrderedAndProject" in p18
    rows18 = list(map(tuple, q18.collect()))
    oracle18 = list(map(tuple, duck.execute(
        analytics.large_volume_customer_oracle_sql("customer", "orders", "lineitem")
    ).fetchall()))
    assert rows18 == oracle18 and len(rows18) > 0
    assert all(r[5] > analytics.Q18_QTY for r in rows18)


def test_tpch_plan_shape_anchors(spark, sf_dir, duck):
    """Q4/Q6/Q10/Q14/Q16/Q19 anchors: oracle-exact, and each plans the
    shape it was chosen to exercise — semi join, pushed filters,
    broadcast+top-k, conditional agg, anti join, disjunction."""
    from pgverify_spark.operators import analytics

    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
    li, od, cu, na, pa = (
        rd("lineitem"), rd("orders"), rd("customer"), rd("nation"), rd("part")
    )

    q6 = analytics.forecast_revenue(li)
    p6 = q6._jdf.queryExecution().executedPlan().toString()
    # all three predicates reach the parquet scan
    assert "PushedFilters: [" in p6 and "l_shipdate" in p6.split("PushedFilters")[1][:400]
    _cmp(q6, duck, analytics.forecast_revenue_oracle_sql("lineitem"))

    q4 = analytics.order_priority_check(od, li)
    p4 = q4._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p4  # EXISTS planned as a semi join
    rows4 = _cmp(q4, duck, analytics.order_priority_check_oracle_sql("orders", "lineitem"))
    assert rows4  # the late-line predicate actually selects something

    q10 = analytics.returned_item_revenue(cu, od, li, na)
    p10 = q10._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p10  # top-k heap, no global sort
    rows10 = list(map(tuple, q10.collect()))
    oracle10 = list(map(tuple, duck.execute(
        analytics.returned_item_revenue_oracle_sql(
            "customer", "orders", "lineitem", "nation"
        )).fetchall()))
    assert rows10 == oracle10 and len(rows10) == analytics.Q10_K

    q14 = analytics.promo_revenue(li, pa)
    rows14 = _cmp(q14, duck, analytics.promo_revenue_oracle_sql("lineitem", "part"))
    assert len(rows14) == 1 and 0.0 < rows14[0][0] < 100.0

    q16 = analytics.unsold_parts(pa, li)
    p16 = q16._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p16  # NOT EXISTS planned as an anti join
    rows16 = _cmp(q16, duck, analytics.unsold_parts_oracle_sql("part", "lineitem"))
    assert rows16

    q19 = analytics.special_revenue(li, pa)
    rows19 = _cmp(q19, duck, analytics.special_revenue_oracle_sql("lineitem", "part"))
    assert rows19[0][0] is not None  # the OR arms select real revenue


def test_tpch_q13_customer_distribution(spark, sf_dir, duck):
    """Q13: oracle-exact; zero-order customers are present (the LEFT
    OUTER semantics the anchor exists for); distribution covers every
    customer exactly once."""
    from pgverify_spark.operators import analytics

    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = _cmp(
        analytics.customer_distribution(cu, od),
        duck,
        analytics.customer_distribution_oracle_sql("customer", "orders"),
    )
    dist = dict(rows)
    assert sum(dist.values()) == cu.count()  # partition of all customers
    # the URGENT-only exclusion guarantees some zero-count customers at
    # sf0.001 (150 customers, ~273/5 urgent-only orders spread thin)
    plan = (
        analytics.customer_distribution(cu, od)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftOuter" in plan


def test_corpus_mix_rollup(docs, duck):
    """ROLLUP subtotals reconcile level-by-level: leaf rows sum to the
    per-lang subtotals, which sum to the grand total; one Expand+agg."""
    from pgverify_spark.operators import analytics

    # subtotal rows hold None group keys, so sorted() would compare
    # None<str; group keys are unique per row → set comparison is exact
    s = {tuple(r) for r in analytics.corpus_mix_rollup(docs).collect()}
    d = {
        tuple(r)
        for r in duck.execute(
            analytics.corpus_mix_rollup_oracle_sql("documents")
        ).fetchall()
    }
    assert s == d
    rows = list(s)
    leaves = [r for r in rows if r[2] == 0]
    by_lang = [r for r in rows if r[2] == 1]
    grand = [r for r in rows if r[2] == 3]
    assert len(grand) == 1
    assert sum(r[3] for r in leaves) == grand[0][3]
    assert sum(r[3] for r in by_lang) == grand[0][3]
    for lang_row in by_lang:
        assert lang_row[3] == sum(r[3] for r in leaves if r[0] == lang_row[0])
    plan = (
        analytics.corpus_mix_rollup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Expand") == 1  # one pass, not per-level rescans


def test_bigram_lm_scores(spark, docs, duck):
    from pgverify_spark.operators import lm

    rows = _cmp(
        lm.bigram_lm_scores(docs),
        duck,
        lm.bigram_lm_scores_oracle_sql("documents"),
    )
    assert rows
    for _, n_bigrams, sum_q, avg_p in rows:
        assert n_bigrams >= 1 and 0 <= sum_q <= n_bigrams * lm.LM_SCALE
        assert 0 <= avg_p <= 1

    # hand-computable corpus: model trained on these 3 docs
    #   doc 1: "a b a b"  -> bigrams: ab, ba, ab
    #   doc 2: "a b c"    -> bigrams: ab, bc
    #   doc 3: "c"        -> no bigram (excluded)
    # counts: c(ab)=3, c(ba)=1, c(bc)=1; heads: c(a·)=3+... a->3? heads
    # from bigram counts: a: c12(ab)=3 => c1(a)=3; b: ba 1 + bc 1 = 2
    # q(ab) = 3*1e6 DIV 3 = 1e6; q(ba) = 1e6 DIV 2 = 500000;
    # q(bc) = 1e6 DIV 2 = 500000
    tiny = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in lm.bigram_lm_scores(tiny).collect()}
    assert set(got) == {1, 2}
    # doc 1: q = [1e6, 5e5, 1e6] -> sum 2.5e6 over 3
    assert got[1]["n_bigrams"] == 3 and got[1]["sum_q"] == 2_500_000
    assert got[1]["avg_cond_p"] == round(2_500_000 / 3 / 1e6, 6)
    # doc 2: q = [1e6, 5e5] -> sum 1.5e6 over 2 -> 0.75
    assert got[2]["n_bigrams"] == 2 and got[2]["avg_cond_p"] == 0.75

    # min_count pruning: unseen/pruned bigrams score q=0
    pruned = {
        r["doc_id"]: r for r in lm.bigram_lm_scores(tiny, min_count=2).collect()
    }
    # only c(ab)=3 survives; heads: c1(a)=3 -> q(ab)=1e6, others 0
    assert pruned[1]["sum_q"] == 2_000_000  # two ab occurrences
    assert pruned[2]["sum_q"] == 1_000_000  # one ab, bc pruned -> 0


def test_bloom_decontaminate(docs, duck):
    from pgverify_spark.operators import contamination as ct

    rows = _cmp(
        ct.bloom_decontaminate(docs),
        duck,
        ct.bloom_decontaminate_oracle_sql("documents"),
    )
    assert rows
    by_doc = {r[0]: r for r in rows}
    for doc_id, n_shingles, hits, flag in rows:
        assert doc_id % 10 != 0  # train split only
        assert 0 <= hits <= n_shingles
        assert flag == int(hits >= 2)
    # No false negatives: every train doc sharing >=2 shingles with the
    # eval split per the exact pair operator must be bloom-flagged.
    exact = ct.contamination_pairs(docs, min_shared=2).collect()
    for r in exact:
        assert by_doc[r["train_doc"]][3] == 1, f"bloom missed {r['train_doc']}"


def test_random_project(embs, duck):
    rows = _cmp(
        similarity.random_project(embs),
        duck,
        similarity.random_project_oracle_sql("embeddings"),
    )
    assert rows and all(len(r[1]) == similarity.RP_DIM for r in rows)
    # JL norm preservation: E[||y||^2] = ||x||^2 under Rademacher signs
    # (Achlioptas 2003); with d'=16 the per-vector ratio is noisy but the
    # corpus mean must sit near 1.
    full = {r["vec_id"]: r["embedding"] for r in embs.collect()}
    ratios = []
    for vec_id, rp in rows:
        n_full = sum(x * x for x in full[vec_id])
        n_rp = sum(y * y for y in rp)
        if n_full > 0:
            ratios.append(n_rp / n_full)
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.2, mean
    # pure projection: no exchange in the plan
    plan = (
        similarity.random_project(embs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_cross_corpus_lsh_pairs(spark, docs, duck):
    new = docs.filter("doc_id % 10 = 7")
    corp = docs.filter("doc_id % 10 <> 7")
    rows = _cmp(
        dedup.cross_corpus_lsh_pairs(new, corp, 0.3),
        duck,
        dedup.cross_corpus_lsh_pairs_oracle_sql(
            "SELECT * FROM documents WHERE doc_id % 10 = 7",
            "SELECT * FROM documents WHERE doc_id % 10 <> 7",
            0.3,
        ),
    )
    new_ids = {r[0] for r in new.select("doc_id").collect()}
    for new_doc, corpus_doc, j in rows:
        assert new_doc in new_ids and corpus_doc not in new_ids and j >= 0.3
    # an injected exact copy of a corpus doc must be caught at ingest
    copy = corp.limit(1).selectExpr(
        "9999997 AS doc_id", "text", "lang", "source", "n_chars"
    )
    src = corp.limit(1).collect()[0]["doc_id"]
    caught = dedup.cross_corpus_lsh_pairs(copy, corp, 0.9).collect()
    assert any(r["corpus_doc"] == src and r["jaccard"] == 1.0 for r in caught)


def test_gramian_and_pca(embs, duck):
    from pgverify_spark.operators import decompose

    rows = _cmp(
        decompose.gramian(embs), duck, decompose.gramian_oracle_sql("embeddings")
    )
    assert len(rows) == 64 * 65 // 2  # full upper triangle
    diag = {gi: g for gi, gj, g in rows if gi == gj}
    assert all(g >= 0 for g in diag.values())  # sum of squares

    vals, comps = decompose.pca_components(decompose.gramian(embs), k=8)
    # eigenvalues of a PSD matrix, sorted descending
    assert vals == sorted(vals, reverse=True) and vals[-1] >= -1e-9
    # unit-norm directions
    for c in comps:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9
    # projection variance onto the top component equals its eigenvalue
    # (uncentered PCA: E[(v.x)^2] over rows = v' G v = lambda)
    proj = decompose.pca_project(embs, comps[:1]).collect()
    second_moment = sum(r["pc"][0] ** 2 for r in proj)
    assert abs(second_moment - vals[0]) / vals[0] < 1e-3
    # top-1 captures more second moment than any later direction
    assert vals[0] > vals[7]
    # projection plan is exchange-free
    plan = (
        decompose.pca_project(embs, comps)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_vocab_coverage(docs, duck):
    rows = _cmp(
        text.vocab_coverage(docs), duck, text.vocab_coverage_oracle_sql("documents")
    )
    assert rows
    by_rank = sorted(rows)
    # dense ranks from 1, counts non-increasing, coverage monotone in (0, 1]
    assert [r[0] for r in by_rank] == list(range(1, len(rows) + 1))
    for a, b in zip(by_rank, by_rank[1:]):
        assert a[2] >= b[2] and a[3] <= b[3]
    assert 0 < by_rank[0][3] <= by_rank[-1][3] <= 1
    # the whole vocabulary fits in v here, so the prefix covers everything
    assert by_rank[-1][3] == 1.0


def test_semantic_dup_pairs(spark, docs, embs, duck):
    rows = _cmp(
        dedup.semantic_dup_pairs(docs, embs, 0.3, 0.4),
        duck,
        dedup.semantic_dup_pairs_oracle_sql("documents", "embeddings", 0.3, 0.4),
    )
    assert rows
    signals = {r[4] for r in rows}
    for doc_a, doc_b, j, c, signal in rows:
        assert doc_a < doc_b
        assert (j >= 0.3) or (c >= 0.4)
        if signal == "both":
            assert j >= 0.3 and c >= 0.4
        elif signal == "text":
            assert j >= 0.3 and c < 0.4
        else:
            assert signal == "embedding" and j < 0.3 and c >= 0.4
    # the union is genuinely wider than either signal alone on this
    # corpus: embedding near-dups at 0.4 exist that are not text dups
    assert "embedding" in signals


def test_label_prototype_outliers(spark, embs, duck):
    rows = _cmp(
        similarity.label_prototype_outliers(embs),
        duck,
        similarity.label_prototype_outliers_oracle_sql("embeddings"),
    )
    by_label = {}
    for label, vec_id, cos, rank in rows:
        by_label.setdefault(label, []).append((rank, cos))
    for members in by_label.values():
        members.sort()
        assert [r for r, _ in members] == list(range(1, len(members) + 1))
        # rank 1 = farthest from prototype (lowest cosine)
        assert all(a[1] <= b[1] for a, b in zip(members, members[1:]))
    # a deliberately mislabeled vector pointing AWAY from its class
    # prototype (the negated centroid direction, cosine ~ -1) must
    # surface as the rank-1 outlier of that label
    lab = 0
    members = [r["embedding"] for r in embs.filter(f"label = {lab}").collect()]
    centroid = [sum(v[i] for v in members) / len(members) for i in range(64)]
    planted = spark.createDataFrame(
        [(9999, [float(-x) for x in centroid], lab)],
        "vec_id long, embedding array<float>, label int",
    )
    out = similarity.label_prototype_outliers(
        embs.select("vec_id", "embedding", "label").unionByName(planted)
    ).collect()
    top = [r for r in out if r["label"] == lab and r["rank"] == 1]
    assert top and top[0]["vec_id"] == 9999


def test_winnowing_pairs(spark, docs, duck):
    rows = _cmp(
        dedup.winnowing_pairs(docs, 5),
        duck,
        dedup.winnowing_pairs_oracle_sql("documents", 5),
    )
    for a, b, n in rows:
        assert a < b and n >= 5
    # partial overlap: a doc made of ONE copied substring from doc X plus
    # unrelated filler must pair with X even though whole-doc token
    # Jaccard is tiny
    base = docs.orderBy("doc_id").limit(1).collect()[0]
    frag = base["text"]
    filler = " ".join(f"zz{i}" for i in range(200))
    hybrid = spark.createDataFrame(
        [(888888, frag + " " + filler, "en", "syn", len(frag))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    both = docs.unionByName(hybrid)
    pairs = {(r.doc_a, r.doc_b) for r in dedup.winnowing_pairs(both, 5).collect()}
    assert (base["doc_id"], 888888) in pairs
    # ...while token-shingle Jaccard at 0.3 misses it
    jp = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(both, 0.3).collect()
    }
    assert (base["doc_id"], 888888) not in jp


def test_profile_table(spark, sf_dir, duck):
    from pgverify_spark.operators import profile as profile_mod
    from pgverify_spark.sources.schemas import TESTDATA_TABLES

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = _cmp(
        profile_mod.profile_table(orders, TESTDATA_TABLES["orders"]),
        duck,
        profile_mod.profile_table_oracle_sql("orders", TESTDATA_TABLES["orders"]),
    )
    by_col = {r[0]: r for r in rows}
    n = orders.count()
    assert set(by_col) == {c for c, _ in TESTDATA_TABLES["orders"].cols}
    # the PK profiles as unique and non-null
    assert by_col["o_orderkey"][1] == 0 and by_col["o_orderkey"][2] == n
    for _, n_nulls, n_distinct, mn, mx in rows:
        assert 0 <= n_nulls <= n and 1 <= n_distinct <= n
        assert mn <= mx  # lexicographic canonical extremes
    # a null spike is visible: nulling half a column doubles nothing else
    mutated = orders.selectExpr(
        "o_orderkey",
        "o_custkey",
        "CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    prof = {
        r["col_name"]: r
        for r in profile_mod.profile_table(mutated, TESTDATA_TABLES["orders"]).collect()
    }
    assert prof["o_orderstatus"]["n_nulls"] == mutated.filter("o_orderkey % 2 = 0").count()


def test_dup_clusters_star(docs, duck, spark):
    """Star contraction equals min-label propagation on real pairs, and
    converges on a long chain in O(log n) rounds where bounded-round
    propagation visibly cannot."""
    pairs = dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
    star = _cmp(
        dedup.dup_clusters_star(pairs),
        duck,
        dedup.dup_clusters_oracle_sql(
            "SELECT doc_a, doc_b FROM ("
            + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
            + ") mp"
        ),
    )
    assert star == sorted(map(tuple, dedup.dup_clusters(pairs).collect()))
    # 150-link chain: star resolves every node to 0 within its default
    # 30 rounds; propagation needs diameter rounds and, capped at 10,
    # provably has not converged yet
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(150)], "doc_a bigint, doc_b bigint"
    )
    s = {d: c for d, c in dedup.dup_clusters_star(chain).collect()}
    assert len(s) == 151 and all(c == 0 for c in s.values())
    p = {d: c for d, c in dedup.dup_clusters(chain, max_iterations=10).collect()}
    assert any(c != 0 for c in p.values())  # the escape hatch is real


def test_benford_audit(spark, sf_dir, duck):
    """Digit shares match the oracle; ppm sums ≈ 1e6; a genuinely
    log-uniform sample scores near Benford while uniform prices don't."""
    from pgverify_spark.operators import profile as profile_mod

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = _cmp(
        profile_mod.benford_audit(orders, "o_totalprice"),
        duck,
        profile_mod.benford_audit_oracle_sql("orders", "o_totalprice"),
    )
    assert {r[0] for r in rows} <= set(range(1, 10))
    total_ppm = sum(r[2] for r in rows)
    assert 999_990 <= total_ppm <= 1_000_000  # floor-division remainder
    assert sum(r[1] for r in rows) == orders.count()
    uniform_tvd = sum(r[4] for r in rows)
    # synthetic log-uniform data: 2^i spans decades evenly
    logu = spark.createDataFrame(
        [(float(2**i % 10**9 + 1),) for i in range(1, 400)], "v double"
    )
    ben_rows = profile_mod.benford_audit(logu, "v").collect()
    ben_tvd = sum(r["dev_ppm"] for r in ben_rows)
    assert ben_tvd < uniform_tvd  # powers of two ARE Benford; prices aren't


def test_fd_violations(spark, sf_dir, duck):
    from pgverify_spark.operators import profile as profile_mod

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    [(n_keys, n_viol, max_var, n_rows_viol)] = _cmp(
        profile_mod.fd_violations(orders, "o_custkey", "o_orderstatus"),
        duck,
        profile_mod.fd_violations_oracle_sql("orders", "o_custkey", "o_orderstatus"),
    )
    assert n_keys == orders.select("o_custkey").distinct().count()
    assert 0 < n_viol <= n_keys and max_var >= 2
    # a real FD holds: the PK determines everything
    [(k2, v2, m2, r2)] = profile_mod.fd_violations(
        orders, "o_orderkey", "o_custkey"
    ).collect()
    assert v2 == 0 and m2 == 1 and r2 == 0


def test_lsh_recall_eval(docs, duck, spark):
    """Exact-verified candidates make precision 1e6 by construction;
    recall drops below 1e6 on a borderline corpus; a no-pair corpus
    reports clean zeros, not NULLs."""
    import random

    rows = _cmp(
        dedup.lsh_recall_eval(docs, 0.5),
        duck,
        dedup.lsh_recall_eval_oracle_sql("documents", 0.5),
    )
    [(n_true, n_pred, n_hit, prec, rec)] = rows
    assert prec == 1_000_000 and n_hit == n_pred <= n_true
    # borderline pairs (~55 % shared shingles): banding misses some
    random.seed(7)
    words = [f"w{i}" for i in range(200)]
    synth = []
    for p in range(12):
        base = random.sample(words, 40)
        partner = base[:24] + random.sample(
            [w for w in words if w not in base], 16
        )
        synth.append((p * 2, " ".join(base)))
        synth.append((p * 2 + 1, " ".join(partner)))
    sdf = spark.createDataFrame(synth, "doc_id bigint, text string")
    [(bt, bp, bh, bprec, brec)] = dedup.lsh_recall_eval(sdf, 0.3).collect()
    assert bt > bh and brec < 1_000_000 and bprec == 1_000_000
    # zero-pair corpus: clean zeros
    lone = spark.createDataFrame(
        [(1, "completely distinct alpha"), (2, "unrelated beta gamma")],
        "doc_id bigint, text string",
    )
    assert dedup.lsh_recall_eval(lone, 0.5).collect() == [
        (0, 0, 0, 1_000_000, 1_000_000)
    ]


def test_distribution_drift(spark, sf_dir, duck):
    """Scaled prices move ppm mass upward; identical sides show zero
    drift; clamping keeps every bucket in [-1, buckets-1]."""
    from pgverify_spark.operators.diff import (
        distribution_drift,
        distribution_drift_oracle_sql,
    )

    left = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mut = ("CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.5 "
           "ELSE o_totalprice END AS o_totalprice")
    rows = _cmp(
        distribution_drift(left, left.selectExpr(mut), "o_totalprice", 20),
        duck,
        distribution_drift_oracle_sql(
            "orders", f"(SELECT {mut} FROM orders) rmut", "o_totalprice", 20
        ),
    )
    assert all(-1 <= r[0] <= 19 for r in rows)
    assert sum(r[1] for r in rows) == sum(r[2] for r in rows) == left.count()
    assert sum(r[5] for r in rows) > 0  # drift detected
    # top bucket gains mass: 1.5x pushes values past the left max
    top = {r[0]: r for r in rows}[19]
    assert top[2] > top[1]
    clean = distribution_drift(left, left, "o_totalprice", 20).collect()
    assert all(r["drift_ppm"] == 0 for r in clean)


def test_column_diff_report(spark, sf_dir, duck):
    """Per-column attribution pins each drift to its column with exact
    counts; identical sides report all zeros."""
    from pgverify_spark.operators.diff import (
        column_diff_report,
        column_diff_report_oracle_sql,
    )
    from pgverify_spark.sources.schemas import TESTDATA_TABLES

    schema = TESTDATA_TABLES["orders"]
    left = spark.read.parquet(f"{sf_dir}/orders.parquet")
    right = left.selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 "
        "ELSE o_totalprice END AS o_totalprice",
        "o_orderdate",
        "CASE WHEN o_orderkey % 37 = 0 THEN NULL "
        "ELSE o_orderpriority END AS o_orderpriority",
    )
    rows = _cmp(
        column_diff_report(left, right, schema),
        duck,
        column_diff_report_oracle_sql(
            "orders",
            "(SELECT o_orderkey, o_custkey, o_orderstatus, "
            "CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 "
            "ELSE o_totalprice END AS o_totalprice, o_orderdate, "
            "CASE WHEN o_orderkey % 37 = 0 THEN NULL "
            "ELSE o_orderpriority END AS o_orderpriority FROM orders) rmut",
            schema,
        ),
    )
    n = left.count()
    by_col = {r[0]: r[1] for r in rows}
    assert by_col["o_totalprice"] == left.filter("o_orderkey % 31 = 0").count()
    assert by_col["o_orderpriority"] == left.filter("o_orderkey % 37 = 0").count()
    for c in ("o_custkey", "o_orderstatus", "o_orderdate"):
        assert by_col[c] == 0
    assert all(r[2] == n for r in rows)
    clean = column_diff_report(left, left, schema).collect()
    assert all(r["n_diffs"] == 0 for r in clean)


def test_debounce(spark, sf_dir, duck):
    """Burst collapse: matches the oracle, drops something at a 4 h
    window, keeps everything at 0, and a synthetic burst keeps only its
    first event."""
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    win = 4 * 3600 * 1_000_000
    kept = _cmp(
        rollup.debounce(events, win),
        duck,
        rollup.debounce_oracle_sql("events", win),
    )
    n = events.count()
    assert len(kept) < n
    assert len(rollup.debounce(events, 0).collect()) == n
    burst = spark.createDataFrame(
        [(i, 1, "click", f"2020-01-01 00:00:{i:02d}", 1.0) for i in range(5)]
        + [(9, 1, "click", "2020-01-01 01:00:00", 1.0)],
        "event_id bigint, user_id bigint, event_type string, ts string, value double",
    ).selectExpr("event_id", "user_id", "event_type",
                 "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = sorted(r["event_id"] for r in rollup.debounce(burst, 10_000_000).collect())
    assert got == [0, 9]  # 1s-apart retries collapse to the first


def test_fill_gaps_hourly(spark, sf_dir, duck):
    """Dense spine: every (hour, type) cell exists; filled cells equal
    the plain rollup; gap cells are zero; totals conserved."""
    from pgverify_spark.operators import rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = _cmp(
        rollup.fill_gaps_hourly(events),
        duck,
        rollup.fill_gaps_hourly_oracle_sql("events"),
    )
    hours = sorted({r[0] for r in rows})
    types = {r[1] for r in rows}
    assert len(rows) == len(hours) * len(types)  # complete grid
    assert hours == list(range(hours[0], hours[-1] + 1))  # no holes
    assert sum(r[2] for r in rows) == events.count()  # zero-fill adds nothing
    # forcing a gap: removing one hour's events yields explicit zeros
    gap_hour = hours[len(hours) // 2]
    thinned = rollup.fill_gaps_hourly(
        events.filter(
            f"CAST({rollup.epoch_us_sql(events)} DIV {3600 * 1_000_000} AS BIGINT) "
            f"<> {gap_hour}"
        )
    ).collect()
    gap_rows = [r for r in thinned if r["hour_bucket"] == gap_hour]
    assert gap_rows and all(r["n_events"] == 0 for r in gap_rows)


def test_hashed_vectors(docs, duck):
    """Feature-hashed vectors match the oracle; each vector's L1 mass
    is bounded by the token count (signs cancel, never add)."""
    rows = _cmp(
        text.hashed_vectors(docs, 64),
        duck,
        text.hashed_vectors_oracle_sql("documents", 64),
    )
    n_tok = {
        r[0]: r[1]
        for r in text.text_stats(docs).select("doc_id", "n_tokens").collect()
    }
    for doc_id, vec in rows:
        assert len(vec) == 64
        l1 = sum(abs(v) for v in vec)
        assert 0 < l1 <= n_tok[doc_id]
        assert (l1 - n_tok[doc_id]) % 2 == 0  # each cancellation eats 2


def test_hashed_text_topk_is_real_similarity(docs, spark):
    """The text->vector->ANN composition ranks a near-duplicate of a
    query doc above unrelated docs."""
    from pgverify_spark.operators import similarity

    base = docs.filter("doc_id = 0").selectExpr(
        "9999990 AS doc_id", "text", "lang", "source", "n_chars"
    )
    hv = text.hashed_vectors(docs.unionByName(base), 64).selectExpr(
        "doc_id AS vec_id",
        "transform(vec, v -> CAST(v AS DOUBLE)) AS embedding",
    )
    top = similarity.cosine_topk(hv, (0,), 3).collect()
    assert top[0]["vec_id"] == 9999990 and top[0]["cosine"] == 1.0


def test_near_dedup_filter_best(docs, duck):
    """Quality-aware winner: matches the oracle, keeps exactly one
    member per cluster, and that member maximizes (score, -doc_id)."""
    pairs = dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
    scores = docs.selectExpr("doc_id", "CAST(n_chars AS DOUBLE) AS score")
    kept = _cmp(
        dedup.near_dedup_filter_best(docs, pairs, scores),
        duck,
        dedup.near_dedup_filter_best_oracle_sql(
            "documents",
            "SELECT doc_a, doc_b FROM ("
            + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
            + ") mp",
            "SELECT doc_id, CAST(n_chars AS DOUBLE) AS score FROM documents",
        ),
    )
    kept_ids = {r[0] for r in kept}
    clusters = dedup.dup_clusters(pairs).collect()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    lens = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    for cid, members in by_cluster.items():
        winners = [m for m in members if m in kept_ids]
        assert len(winners) == 1, (cid, winners)
        best = min(members, key=lambda m: (-lens[m], m))
        assert winners[0] == best


def test_gopher_gate(docs, duck):
    rows = _cmp(
        text.gopher_gate(docs, min_tokens=20, max_tokens=10_000,
                         min_stopword_ratio=0.01),
        duck,
        text.gopher_gate_oracle_sql("documents", min_tokens=20,
                                    max_tokens=10_000,
                                    min_stopword_ratio=0.01),
    )
    assert len(rows) == docs.count()
    for _, keep, n_fail, reasons in rows:
        assert keep == (n_fail == 0)
        assert n_fail == (len(reasons.split(",")) if reasons else 0)


def test_gopher_gate_rules_fire(spark):
    """Synthetic documents tripping specific rules get exactly those
    reasons, in declaration order."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over lazy dogs and every "
                "clever animal runs through green fields with joyful "
                "energy under bright skies near quiet rivers"),   # clean
            (2, "short text"),                                    # too few
            (3, "the spam spam spam spam " + "spam " * 60),       # repetition
            (4, ("a1 22 333 4444 " * 20)),                        # digits
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.gopher_gate(
            docs, min_tokens=10, min_stopword_ratio=0.01
        ).collect()
    }
    assert out[1]["keep"] and out[1]["reasons"] == ""
    assert "too_few_tokens" in out[2]["reasons"]
    assert "top_token_spam" in out[3]["reasons"]
    assert "top_bigram_spam" in out[3]["reasons"]
    assert "digit_heavy" in out[4]["reasons"]
    # declaration order: token-count rules come before repetition rules
    r3 = out[3]["reasons"].split(",")
    assert r3.index("top_token_spam") < r3.index("top_bigram_spam")


def test_corpus_dedup_lines(spark, duck):
    """Cross-doc line dedup keeps only the globally-first copy of a
    shared line, exempts blank lines, and matches the oracle."""
    rows = [
        (1, "alpha\nSHARED\n\nbeta"),
        (2, "SHARED\ngamma\n\nSHARED"),
        (3, "delta\n \nSHARED"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    duck.execute("CREATE OR REPLACE TABLE cdl AS SELECT * FROM (VALUES "
                 + ", ".join(f"({i}, '{t}')".replace("\n", "' || chr(10) || '")
                             for i, t in rows)
                 + ") v(doc_id, text)")
    got = _cmp(
        text.corpus_dedup_lines(df),
        duck,
        text.corpus_dedup_lines_oracle_sql("cdl"),
    )
    by_id = {r[0]: r for r in got}
    # doc 1 owns the first SHARED; docs 2 and 3 lose theirs (doc 2 twice)
    assert by_id[1] == (1, 4, 0, "alpha\nSHARED\n\nbeta")
    assert by_id[2] == (2, 4, 2, "gamma\n")
    assert by_id[3] == (3, 3, 1, "delta\n ")
    duck.execute("DROP TABLE cdl")


def test_corpus_dedup_lines_plan_is_aggregate_not_window(spark, sf_dir):
    """Winner selection must be a map-side-combinable aggregate (hot
    shared lines would funnel through one reducer under a window)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        text.corpus_dedup_lines(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_first" in plan or "HashAggregate" in plan


def test_constraint_report(spark, sf_dir, duck):
    from pgverify_spark import registry
    from pgverify_spark.operators import constraints

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    suite = registry._ORDERS_SUITE
    rows = _cmp(
        constraints.constraint_report(orders, suite),
        duck,
        constraints.constraint_report_oracle_sql("orders", suite),
    )
    by_name = {r[0]: r for r in rows}
    assert set(by_name) == {c.name for c in suite}
    n = orders.count()
    # every row carries the table count; status is consistent with violations
    for _, _, status, violations, n_rows in rows:
        assert n_rows == n
        assert (status == "pass") == (violations == 0)
    # deliberate mix: PK passes, repeated custkey fails with the exact gap
    assert by_name["unique_o_orderkey"][2] == "pass"
    dup_gap = n - orders.select("o_custkey").distinct().count()
    assert by_name["unique_o_custkey"][3] == dup_gap > 0
    assert by_name["status_full_domain"][2] == "pass"
    assert by_name["accepted_values_o_orderstatus"][2] == "fail"
    assert by_name["matches_o_orderpriority"][3] == orders.filter(
        "o_orderpriority NOT RLIKE '^[1-3]-'"
    ).count()
    assert by_name["orderdate_in_epoch"][2] == "pass"


def test_quarantine_rows_attribution(spark):
    """Dead-letter split semantics on a constructed table: multi-check
    reasons join in suite order, NULL values never count as duplicates,
    clean rows are absent."""
    from pgverify_spark.operators import constraints

    df = spark.createDataFrame(
        [
            (1, 10, "O"),     # clean
            (2, None, "O"),   # not_null fails
            (3, 20, "X"),     # accepted_values fails
            (4, 20, "X"),     # accepted_values + unique(v) both fail
            (5, None, "Z"),   # not_null + accepted_values (null no dup)
        ],
        "id bigint, v bigint, s string",
    )
    suite = [
        constraints.not_null("v"),
        constraints.unique("v"),
        constraints.accepted_values("s", ("O", "F")),
    ]
    got = {
        r["id"]: r["reasons"]
        for r in constraints.quarantine_rows(df, suite, ["id"]).collect()
    }
    # rows 3 and 4 share v=20, so BOTH carry unique_v; reasons join in
    # suite order; row 1 (clean) is absent
    assert got == {
        2: "not_null_v",
        3: "unique_v,accepted_values_s",
        4: "unique_v,accepted_values_s",
        5: "not_null_v,accepted_values_s",
    }


def test_quarantine_rows_unique_window_both_dups(spark):
    from pgverify_spark.operators import constraints

    df = spark.createDataFrame(
        [(1, 20), (2, 20), (3, 30), (4, None), (5, None)],
        "id bigint, v bigint",
    )
    got = {
        r["id"]: r["reasons"]
        for r in constraints.quarantine_rows(
            df, [constraints.unique("v")], ["id"]
        ).collect()
    }
    # both copies of v=20 are flagged; NULLs never duplicate
    assert got == {1: "unique_v", 2: "unique_v"}


def test_constraint_report_single_pass_plan(spark, sf_dir):
    """All row-predicate checks must fuse into one scan: the physical
    plan reads the parquet exactly once (unique-checks add Expand but
    not extra scans)."""
    from pgverify_spark import registry
    from pgverify_spark.operators import constraints

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = (
        constraints.constraint_report(orders, registry._ORDERS_SUITE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1


def test_constraint_null_semantics(spark):
    """NULL never violates accepted_values/in_range/matches (SQL
    constraint semantics) but always violates not_null; satisfies
    treats NULL predicate as a violation (coalesce FALSE)."""
    from pgverify_spark.operators import constraints

    df = spark.createDataFrame(
        [(1, "A"), (2, None), (3, "Z")], "id bigint, v string"
    )
    suite = [
        constraints.not_null("v"),
        constraints.accepted_values("v", ("A",)),
        constraints.matches("v", "^[A-M]"),
        constraints.satisfies("v_in_domain", "v", "v IN ('A', 'Z')"),
    ]
    got = {
        r["check_name"]: r["violations"]
        for r in constraints.constraint_report(df, suite).collect()
    }
    assert got == {
        "not_null_v": 1,        # the NULL row
        "accepted_values_v": 1,  # only 'Z'; NULL exempt
        "matches_v": 1,          # only 'Z'; NULL exempt
        "v_in_domain": 1,        # NULL coalesces to a violation
    }


def test_semantic_dedup_filter_end_to_end(docs, embs, duck):
    """Composed pipeline: multi-signal pairs -> clusters -> kept corpus.
    The survivor set must equal the oracle's and keep one representative
    (the min doc_id) per duplicate cluster."""
    kept = _cmp(
        dedup.semantic_dedup_filter(docs, embs, 0.3, 0.4),
        duck,
        dedup.semantic_dedup_filter_oracle_sql("documents", "embeddings", 0.3, 0.4),
    )
    n_docs = docs.count()
    pairs = dedup.semantic_dup_pairs(docs, embs, 0.3, 0.4)
    n_losers = (
        dedup.dup_clusters(pairs.select("doc_a", "doc_b"))
        .filter("doc_id <> cluster_id")
        .count()
    )
    assert len(kept) == n_docs - n_losers
    assert n_losers > 0, "fixture should contain near-duplicates"


def test_dedup_lines(docs, duck):
    """First-occurrence line keep: injected duplicate lines removed,
    order preserved, oracle-identical."""
    liney = docs.selectExpr(
        "doc_id",
        "concat(substr(text, 1, 40), chr(10), "
        "replace(text, '. ', concat('.', chr(10))), chr(10), "
        "substr(text, 1, 40)) AS text",
    )
    rows = _cmp(
        text.dedup_lines(liney),
        duck,
        text.dedup_lines_oracle_sql(
            "(SELECT doc_id, substr(text, 1, 40) || chr(10) || "
            "replace(text, '. ', '.' || chr(10)) || chr(10) || "
            "substr(text, 1, 40) AS text FROM documents) liney"
        ),
    )
    # every doc has the injected duplicate trailing line removed
    assert all(r[2] >= 1 for r in rows)  # n_dup_lines
    assert all(not r[3].endswith("\n") for r in rows)  # no dangling line


def test_ann_recall(embs, duck):
    rows = _cmp(
        similarity.ann_recall(embs, (0, 1, 2, 3, 4), 10),
        duck,
        similarity.ann_recall_oracle_sql("embeddings", (0, 1, 2, 3, 4), 10),
    )
    assert len(rows) == 5
    assert all(r[1] == 10 and 0 <= r[2] <= 10 and 0.0 <= r[3] <= 1.0 for r in rows)


# ---------------------------------------------------------------------------
# BPE tokenizer statistics
# ---------------------------------------------------------------------------


def test_bpe_pair_counts(docs, duck):
    from pgverify_spark.operators import bpe

    rows = _cmp(
        bpe.bpe_pair_counts(docs, 30), duck, bpe.bpe_pair_counts_oracle_sql("documents", 30)
    )
    assert len(rows) == 30
    # every pair key is exactly two space-joined single characters
    assert all(len(p) == 3 and p[1] == " " for p, _ in rows)


def _reference_bpe(word_counts, n_merges, min_count=2):
    """Pure-Python BPE (Sennrich et al. 2016 semantics): the truth the
    distributed implementation must reproduce, including the greedy
    left-to-right merge scan and the (count DESC, pair ASC) tie-break."""
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


def test_bpe_learn_matches_reference(docs):
    from pgverify_spark.operators import bpe

    wc = {r["word"]: r["cnt"] for r in bpe.word_counts(docs).collect()}
    assert bpe.bpe_learn(docs, 6) == _reference_bpe(wc, 6)


def test_bpe_apply_oracle_and_learned_roundtrip(docs, duck):
    """The apply stage: (1) Spark and DuckDB replace-chain twins agree
    on the registry's shipped merge table; (2) end-to-end learn->apply
    with merges learned from THIS corpus equals the pure-Python
    tokenization of the same word counts (VERDICT r5 item 6's bar)."""
    from collections import Counter

    from pgverify_spark.operators import bpe
    from pgverify_spark.registry import _BPE_SHIPPED_MERGES

    rows = _cmp(
        bpe.bpe_apply_tokens(docs, _BPE_SHIPPED_MERGES),
        duck,
        bpe.bpe_apply_tokens_oracle_sql("documents", _BPE_SHIPPED_MERGES),
    )
    toks = {t for t, _n in rows}
    assert "er" in toks and "par" in toks  # multi-char merge applied

    wc = {r["word"]: r["cnt"] for r in bpe.word_counts(docs).collect()}
    merges = [(a, b) for a, b, _n in bpe.bpe_learn(docs, 6)]
    got = {
        (r["token"], r["n_occurrences"])
        for r in bpe.bpe_apply_tokens(docs, merges).collect()
    }
    want = Counter()
    for w, c in wc.items():
        syms = list(w)
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
        for t in syms:
            want[t] += c
    assert got == set(want.items())


def test_bpe_token_counts(docs, duck):
    """Per-doc BPE token budget: twins agree; counts are bounded by
    word/char counts and shrink vs char-tokenization exactly where
    merges fire."""
    from pgverify_spark.operators import bpe
    from pgverify_spark.registry import _BPE_SHIPPED_MERGES

    rows = _cmp(
        bpe.bpe_token_counts(docs, _BPE_SHIPPED_MERGES),
        duck,
        bpe.bpe_token_counts_oracle_sql("documents", _BPE_SHIPPED_MERGES),
    )
    assert rows
    for _doc, n_words, n_toks in rows:
        assert 0 < n_words <= n_toks  # >= one token per word


def test_bpe_pack_sequences(docs, duck):
    """BPE-budget packing: twins agree; every bin except possibly a
    source's last starts within budget of its predecessor (cut
    invariant), and bin token sums reconcile with the per-doc counts."""
    from pgverify_spark.operators import bpe
    from pgverify_spark.registry import _BPE_SHIPPED_MERGES

    rows = _cmp(
        bpe.bpe_pack_sequences(docs, _BPE_SHIPPED_MERGES, 512),
        duck,
        bpe.bpe_pack_sequences_oracle_sql("documents", _BPE_SHIPPED_MERGES, 512),
    )
    assert rows
    total = sum(r[3] for r in rows)
    counts = bpe.bpe_token_counts(docs, _BPE_SHIPPED_MERGES).agg(
        {"n_bpe_tokens": "sum"}
    ).collect()[0][0]
    assert total == counts


def test_bpe_learn_greedy_fold_on_runs(spark):
    """'aaa' under merge (a,a) must become [aa, a] (leftmost-greedy),
    making the second merge (aa, a) — the classic BPE fold edge."""
    from pgverify_spark.operators import bpe

    df = spark.createDataFrame([(1, "aaa aaa"), (2, "aaa")], "doc_id int, text string")
    merges = bpe.bpe_learn(df, 2, min_count=1)
    assert merges == [("a", "a", 6), ("aa", "a", 3)]


def test_sampled_quantiles(spark, sf_dir, duck):
    from pgverify_spark.operators.sketch import (
        sampled_quantiles,
        sampled_quantiles_oracle_sql,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = _cmp(
        sampled_quantiles(orders, "o_totalprice", "o_orderkey"),
        duck,
        sampled_quantiles_oracle_sql("orders", "o_totalprice", "o_orderkey"),
    )
    assert len(rows) == 5
    # monotone in prob; estimates inside the value range
    by_prob = sorted(rows)
    vals = [r[2] for r in by_prob]
    assert vals == sorted(vals)
    lo, hi = orders.selectExpr("min(o_totalprice)", "max(o_totalprice)").first()
    assert lo <= vals[0] and vals[-1] <= hi


def test_sampled_quantiles_sample_is_mergeable(spark, sf_dir):
    """Hash-threshold membership is a pure row predicate, so quantiles
    over a union equal quantiles computed after unioning the halves'
    samples — the property that lets partial samples combine."""
    from pgverify_spark.operators.sketch import sampled_quantiles

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    whole = sorted(
        map(tuple, sampled_quantiles(orders, "o_totalprice", "o_orderkey").collect())
    )
    halves = orders.filter("o_orderkey % 2 = 0").unionByName(
        orders.filter("o_orderkey % 2 <> 0")
    )
    again = sorted(
        map(tuple, sampled_quantiles(halves, "o_totalprice", "o_orderkey").collect())
    )
    assert whole == again


def test_grouped_sampled_quantiles(docs, duck):
    from pgverify_spark.operators.sketch import (
        grouped_sampled_quantiles,
        grouped_sampled_quantiles_oracle_sql,
    )

    rows = _cmp(
        grouped_sampled_quantiles(docs, "n_chars", "doc_id", "lang"),
        duck,
        grouped_sampled_quantiles_oracle_sql("documents", "n_chars", "doc_id", "lang"),
    )
    # per-group monotone estimates
    from collections import defaultdict

    by_grp = defaultdict(list)
    for grp, ppm, n, v in sorted(rows, key=lambda r: (r[0], r[1])):
        by_grp[grp].append(v)
    assert by_grp and all(vs == sorted(vs) for vs in by_grp.values())


def test_strip_html(docs, duck):
    """Injected page skeleton stripped identically in both engines;
    markup-free docs pass through with n_tags = 0."""
    from pgverify_spark.operators import text as text_mod

    wrap_spark = (
        "CASE WHEN doc_id % 7 = 0 THEN concat("
        "'<html><head><style>p{c}</style><script>var x=1;</script></head><body><p>', "
        "replace(text, '. ', '.</p> <p>'), '</p> &amp; end<!-- c --></body></html>') "
        "ELSE text END AS text"
    )
    wrap_duck = (
        "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN "
        "'<html><head><style>p{c}</style><script>var x=1;</script></head><body><p>' || "
        "replace(text, '. ', '.</p> <p>') || '</p> &amp; end<!-- c --></body></html>' "
        "ELSE text END AS text FROM documents"
    )
    rows = _cmp(
        text_mod.strip_html(docs.selectExpr("doc_id", wrap_spark)),
        duck,
        text_mod.strip_html_oracle_sql(f"({wrap_duck}) pages"),
    )
    wrapped = [r for r in rows if r[0] % 7 == 0]
    plain = [r for r in rows if r[0] % 7 != 0]
    assert wrapped and all(r[1] > 0 and "<" not in r[2].replace("< ", "") for r in wrapped)
    assert all(r[1] == 0 for r in plain)
    # script/style content and comments never leak into the clean text
    assert all("var x" not in r[2] and "p{c}" not in r[2] for r in wrapped)


def test_normalize_unicode_light(docs, duck):
    from pgverify_spark.operators import text as text_mod

    wrap_s = (
        "CASE WHEN doc_id % 9 = 0 THEN concat(text, "
        "' Café – “naïve” Œuvre straße…') ELSE text END AS text"
    )
    wrap_d = (
        "SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN "
        "text || ' Café – “naïve” Œuvre straße…' ELSE text END AS text FROM documents"
    )
    rows = _cmp(
        text_mod.normalize_unicode_light(docs.selectExpr("doc_id", wrap_s)),
        duck,
        text_mod.normalize_unicode_light_oracle_sql(f"({wrap_d}) accented"),
    )
    touched = [r for r in rows if r[0] % 9 == 0]
    assert touched and all(r[1] > 0 for r in touched)
    # folded output is pure ASCII for the injected tail
    assert all(r[2].endswith('Cafe - "naive" OEuvre strasse...') for r in touched)
    assert all(r[1] == 0 for r in rows if r[0] % 9 != 0)


def test_tpch_completion_q2_q7_q8_q9(spark, sf_dir, duck):
    """Round-5 anchors (first half): correlated-MIN join-back (Q2),
    dim on both fact sides (Q7), conditional-sum ratio (Q8),
    LIKE-filtered multi-join profit (Q9) — oracle-exact, and each plans
    the shape it was chosen for."""
    from pgverify_spark.operators import analytics

    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
    li, od, cu, na, re_, pa, su = (
        rd("lineitem"), rd("orders"), rd("customer"), rd("nation"),
        rd("region"), rd("part"), rd("supplier"),
    )

    q2 = analytics.min_cost_supplier(pa, su, li, na, re_)
    rows2 = _cmp(
        q2, duck,
        analytics.min_cost_supplier_oracle_sql(
            "part", "supplier", "lineitem", "nation", "region"
        ),
    )
    # one winner per part, min(struct) tie-break (no window in the plan)
    assert len({r[0] for r in rows2}) == len(rows2)
    assert "Window" not in q2._jdf.queryExecution().executedPlan().toString()

    q7 = analytics.volume_shipping(su, li, od, cu, na)
    rows7 = _cmp(
        q7, duck,
        analytics.volume_shipping_oracle_sql(
            "supplier", "lineitem", "orders", "customer", "nation"
        ),
    )
    assert all(
        {r[0], r[1]} == {analytics.Q7_NATION_A, analytics.Q7_NATION_B}
        for r in rows7
    )

    q8 = analytics.national_market_share(pa, su, li, od, cu, na, re_)
    rows8 = _cmp(
        q8, duck,
        analytics.national_market_share_oracle_sql(
            "part", "supplier", "lineitem", "orders", "customer",
            "nation", "region",
        ),
    )
    assert rows8 and all(0.0 <= r[1] <= 1.0 for r in rows8)  # share bounded

    q9 = analytics.product_type_profit(pa, su, li, od, na)
    rows9 = _cmp(
        q9, duck,
        analytics.product_type_profit_oracle_sql(
            "part", "supplier", "lineitem", "orders", "nation"
        ),
    )
    assert rows9


def test_tpch_completion_q11_q12_q15_q17(spark, sf_dir, duck):
    """Round-5 anchors (second half, single/dual-table): global-scalar
    HAVING (Q11), dual CASE counts (Q12), agg-joined-to-own-MAX (Q15),
    exact group-average threshold (Q17)."""
    from pgverify_spark.operators import analytics

    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
    li, od, pa, su = rd("lineitem"), rd("orders"), rd("part"), rd("supplier")

    rows11 = _cmp(
        analytics.important_parts(li), duck,
        analytics.important_parts_oracle_sql("lineitem"),
    )
    assert rows11  # threshold selects a non-empty head

    rows12 = _cmp(
        analytics.shipping_delay_check(od, li), duck,
        analytics.shipping_delay_check_oracle_sql("orders", "lineitem"),
    )
    assert {r[0] for r in rows12} <= {"LATE", "ONTIME"} and rows12

    q15 = analytics.top_supplier(su, li)
    rows15 = _cmp(
        q15, duck, analytics.top_supplier_oracle_sql("supplier", "lineitem")
    )
    assert len(rows15) >= 1  # max always selects (ties included)

    rows17 = _cmp(
        analytics.small_quantity_revenue(pa, li), duck,
        analytics.small_quantity_revenue_oracle_sql("part", "lineitem"),
    )
    assert len(rows17) == 1


def test_tpch_completion_q20_q21_q22(spark, sf_dir, duck):
    """Round-5 anchors (semi/anti families): nested-IN chain (Q20),
    EXISTS + NOT-EXISTS on one fact (Q21), scalar-avg threshold +
    anti join (Q22)."""
    from pgverify_spark.operators import analytics

    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
    li, od, cu, na, pa, su = (
        rd("lineitem"), rd("orders"), rd("customer"), rd("nation"),
        rd("part"), rd("supplier"),
    )

    q20 = analytics.excess_suppliers(su, li, pa, na)
    p20 = q20._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p20
    _cmp(
        q20, duck,
        analytics.excess_suppliers_oracle_sql(
            "supplier", "lineitem", "part", "nation"
        ),
    )

    q21 = analytics.waiting_suppliers(su, li, od)
    p21 = q21._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    rows21 = list(map(tuple, q21.collect()))
    oracle21 = list(map(tuple, duck.execute(
        analytics.waiting_suppliers_oracle_sql("supplier", "lineitem", "orders")
    ).fetchall()))
    assert rows21 == oracle21  # order-sensitive: ranked output

    q22 = analytics.sales_opportunity(cu, od)
    p22 = q22._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p22
    rows22 = _cmp(
        q22, duck, analytics.sales_opportunity_oracle_sql("customer", "orders")
    )
    # every reported code is one of the selected country codes
    assert all(r[0] in analytics.Q22_CODES for r in rows22)


def test_filtered_cosine_topk(spark, embs, duck):
    """Metadata-constrained ANN: the label predicate reaches the parquet
    scan (pushed filter — the 100 TB point of pre-filtering), results
    are oracle-exact, and every hit satisfies the predicate."""
    from pgverify_spark.operators import similarity

    q = similarity.filtered_cosine_topk(embs, QIDS, (0, 1, 2, 3), 5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "label" in plan.split("PushedFilters")[1][:300]
    rows = _cmp(
        q, duck,
        similarity.filtered_cosine_topk_oracle_sql(
            "embeddings", QIDS, (0, 1, 2, 3), 5
        ),
    )
    assert rows and all(r[2] in (0, 1, 2, 3) for r in rows)
    # pre-filtering fills k whenever enough candidates match
    per_q = {}
    for r in rows:
        per_q[r[0]] = per_q.get(r[0], 0) + 1
    assert all(v == 5 for v in per_q.values())


def test_label_centroid_drift(spark, embs, duck):
    """Snapshot drift: oracle-exact (integer-millionth per-dim sums make
    the centroids deterministic), every label with both halves present
    reports once, and the corpus is scanned once (a single aggregate
    exchange; the self-join runs over |labels| rows)."""
    from pgverify_spark.operators import similarity

    q = similarity.label_centroid_drift(embs)
    rows = _cmp(
        q, duck, similarity.label_centroid_drift_oracle_sql("embeddings")
    )
    assert rows and all(r[3] >= 0 for r in rows)
    labels = {r[0] for r in rows}
    assert len(labels) == len(rows)  # one row per label


def test_dedup_savings_report(spark, docs, duck):
    """Savings accounting reconciles: kept + removed = docs,
    chars_kept + chars_saved = chars_total per slice, and the global
    kept count equals the exact-dedup filter's survivor count."""
    from pgverify_spark.operators import dedup

    rows = _cmp(
        dedup.dedup_savings_report(docs), duck,
        dedup.dedup_savings_report_oracle_sql("documents"),
    )
    assert rows
    for (_, _, n_docs, n_kept, n_removed, ct, ck, cs) in rows:
        assert n_kept + n_removed == n_docs
        assert ck + cs == ct
    total_kept = sum(r[3] for r in rows)
    assert total_kept == dedup.exact_dedup_filter(docs).count()


def test_curate_corpus_cluster_elision_equivalent(spark, sf_dir):
    """curate_corpus elides the leakage-split cluster pass by PROOF:
    near_dedup_filter keeps only cluster representatives, so the pair
    stream restricted to the decontaminated corpus is empty and the
    split key is always the doc's own id.  Assert (a) the premise — no
    pair survives — and (b) the elided registry plan equals the full
    un-elided composition run the long way."""
    from pgverify_spark import registry
    from pgverify_spark.operators import contamination, dedup, prep, text
    from pgverify_spark.sources.parquet import ParquetTarget

    elided = sorted(
        map(
            tuple,
            registry.spark_queries()["curate_corpus_documents"](
                spark, sf_dir
            ).collect(),
        )
    )

    raw = ParquetTarget("t", sf_dir).read(spark, "documents")
    pages = raw.selectExpr("doc_id", registry._WEB_WRAP_SPARK)
    cleaned = text.normalize_unicode_light(
        text.strip_html(pages).selectExpr("doc_id", "clean_text AS text")
    ).selectExpr("doc_id", "norm_text AS text").persist()
    gates = text.gopher_gate(
        cleaned, min_tokens=20, max_tokens=10_000, min_stopword_ratio=0.01
    ).persist()
    gated = cleaned.join(gates.filter("keep").select("doc_id"), "doc_id", "left_semi")
    exactd = dedup.exact_dedup_filter(gated).persist()
    pairs = dedup.minhash_lsh_pairs(exactd, 0.3).select("doc_a", "doc_b").persist()
    neard = dedup.near_dedup_filter(exactd, pairs).persist()
    flags = contamination.bloom_decontaminate(neard)
    decon = neard.filter("doc_id % 10 <> 0").join(
        flags.filter("contaminated = 1").select("doc_id"), "doc_id", "left_anti"
    ).persist()
    rpairs = pairs.join(
        decon.selectExpr("doc_id AS doc_a"), "doc_a", "left_semi"
    ).join(decon.selectExpr("doc_id AS doc_b"), "doc_b", "left_semi")
    assert pairs.count() > 0, "fixture needs near-dup pairs for the proof to bite"
    assert rpairs.count() == 0  # the premise

    splits = prep.leakage_safe_split(decon, rpairs)
    packed_in = decon.join(splits.select("doc_id", "split"), "doc_id").selectExpr(
        "split AS source", "doc_id", "text"
    )
    full = sorted(
        map(
            tuple,
            prep.pack_sequences(packed_in, 512)
            .selectExpr("source AS split", "bin", "n_docs", "bin_tokens")
            .collect(),
        )
    )
    for df in (cleaned, gates, exactd, pairs, neard, decon):
        df.unpersist()
    assert elided == full and elided


def test_bpe_merges_matches_recursive_cte_oracle(spark, duck, docs):
    """The iterative Spark BPE learner (one argmax collect per round) ==
    the single-statement DuckDB recursive-CTE twin carrying the whole
    vocabulary as one list-typed state row — the r8 closure of the
    formerly rows-only entry.  Ten merges, default min_count."""
    from pgverify_spark.operators import bpe

    rows = _cmp(
        bpe.bpe_merges_df(spark, docs, 10),
        duck,
        bpe.bpe_merges_oracle_sql("documents"),
    )
    assert rows and rows[0][0] == 1  # step numbering starts at 1


def test_curate_corpus_report_matches_oracle(spark, duck, sf_dir):
    """The curation funnel report == its chained-CTE twin, and its
    stage counts are internally consistent: monotone non-increasing
    through the destructive stages, and the split rows sum to the
    decontaminated row."""
    import __spark_entry__ as entry

    fn = entry.queries()["curate_corpus_report_documents"]
    sql = entry.oracle_sql()["curate_corpus_report_documents"]
    rows = _cmp(fn(spark, sf_dir), duck, sql)
    by_stage = {r[0]: r for r in rows}
    funnel = [by_stage[s][2] for s in
              ("cleaned", "gated", "exact_dedup", "near_dedup", "decontaminated")]
    assert funnel == sorted(funnel, reverse=True) and funnel[-1] > 0
    split_docs = sum(r[2] for r in rows if r[0].startswith("split_"))
    assert split_docs == by_stage["decontaminated"][2]


def test_bpe_merges_sentinel_words_dropped_on_both_twins(spark, tmp_path):
    """Words containing the U+001F boundary sentinel are dropped by BOTH
    the Spark learner and the recursive-CTE twin (same convention as
    bpe_apply): a sentinel inside a word would corrupt the oracle's
    boundary-delimited representation and silently diverge."""
    import duckdb

    from pgverify_spark.operators import bpe

    rows = [(1, "aaa bb\x1fcc aaa"), (2, "aaa banana banana aaa")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    s = sorted(map(tuple, bpe.bpe_merges_df(spark, df, 4).collect()))
    d = sorted(map(tuple, con.execute(bpe.bpe_merges_oracle_sql("documents", 4)).fetchall()))
    assert s == d and s  # non-trivial merges from the clean words
    assert all("\x1f" not in (r[1] + r[2]) for r in s)


def test_bpe_learn_distributed_path_matches_local(docs, monkeypatch):
    """The large-vocabulary distributed fallback and the collected
    driver-local loop produce the identical merge table (r9: the
    driver-local fold is the default below _DRIVER_VOCAB_LIMIT)."""
    from pgverify_spark.operators import bpe

    local = bpe.bpe_learn(docs, 6)
    assert local, "corpus should yield merges"
    monkeypatch.setattr(bpe, "_DRIVER_VOCAB_LIMIT", 0)
    assert bpe.bpe_learn(docs, 6) == local


def test_curate_pipeline_session_memo(spark, sf_dir):
    """The curation pipeline is memoized per (session, sf_dir): the
    flagship and the report twin invoked back-to-back share ONE stage
    graph (r8 VERDICT item 4); clearCache unregisters the persisted
    stages, which the memo detects and rebuilds instead of serving a
    stale graph that would re-derive the chain per consumer."""
    from pgverify_spark import registry

    registry.release_curate_pipeline()
    st1 = registry._curate_pipeline(spark, sf_dir)
    st2 = registry._curate_pipeline(spark, sf_dir)
    assert st1 is st2, "back-to-back calls must share one pipeline"
    assert registry._pipe_live(st1)
    spark.catalog.clearCache()
    assert not registry._pipe_live(st1)
    st3 = registry._curate_pipeline(spark, sf_dir)
    assert st3 is not st1, "cleared pipeline must be rebuilt"
    assert registry._pipe_live(st3)
    # the two registered twins produce their certified outputs off the
    # shared graph (rows sanity; full hash parity is the driver's gate)
    q = registry.spark_queries()
    flag = q["curate_corpus_documents"](spark, sf_dir)
    assert flag.count() > 0
    st4 = registry._curate_pipeline(spark, sf_dir)
    rep = q["curate_corpus_report_documents"](spark, sf_dir)
    assert rep.count() == 8
    assert registry._curate_pipeline(spark, sf_dir) is st4, (
        "report twin must not have rebuilt the flagship's pipeline"
    )
    registry.release_curate_pipeline()
    assert not registry._CURATE_PIPE_CACHE


# ---------------------------------------------------------------------------
# round 9: pagerank / contamination spans / kmv overlap / rollup IVM
# ---------------------------------------------------------------------------


def test_pagerank_term_graph_matches_oracle(docs, duck):
    from pgverify_spark.operators import graph

    rows = _cmp(
        graph.pagerank(graph.doc_term_edges(docs), 4),
        duck,
        graph.pagerank_oracle_sql(graph.doc_term_edges_oracle_sql("documents"), 4),
    )
    assert rows
    # every rank is at least the teleport floor and the graph is
    # degree-irregular (the whole point of the term graph)
    assert all(r[1] >= 150_000 for r in rows)
    assert len({r[1] for r in rows}) > 10
    # both node families present and disjoint
    assert any(r[0] < graph.TERM_NODE_OFFSET for r in rows)
    assert any(r[0] >= graph.TERM_NODE_OFFSET for r in rows)


def test_pagerank_shapes(spark):
    from pgverify_spark.operators import graph

    # regular components (pair + triangle) stay EXACTLY uniform — the
    # measured reason the registry entry uses the term graph, pinned
    pairs = spark.createDataFrame(
        [(1, 2), (10, 11), (11, 12), (10, 12)], "doc_a long, doc_b long"
    )
    out = {r["node_id"]: r["rank_ppm"] for r in graph.pagerank(pairs, 4).collect()}
    assert set(out.values()) == {1_000_000} and len(out) == 5
    # a star diverges: the hub accumulates rank, leaves sink to the floor
    star = spark.createDataFrame([(0, i) for i in (1, 2, 3, 4)], "doc_a long, doc_b long")
    s = {r["node_id"]: r["rank_ppm"] for r in graph.pagerank(star, 4).collect()}
    assert s[0] > 1_000_000 > s[1] and s[1] == s[2] == s[3] == s[4]
    # empty graph: empty output, no loop
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert graph.pagerank(empty, 4).collect() == []


def _name(node):
    return node.getClass().getSimpleName()


def _plan_children(node, into_cache=False):
    """Children of a physical plan node, looking through the adaptive
    wrappers (the current plan, final once executed), query stages and
    reused exchanges; a cached relation's own build plan is entered only
    with ``into_cache``."""
    name = _name(node)
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()] if into_cache else []
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _plan_walk(node, into_cache=False):
    """Every node of a physical plan tree, pre-order (py4j objects)."""
    out, stack = [], [node]
    while stack:
        n = stack.pop()
        out.append(n)
        stack.extend(_plan_children(n, into_cache))
    return out


def _is_join(node):
    return "Join" in _name(node) or _name(node) == "CartesianProductExec"


def _exchanges(nodes):
    """Shuffle and broadcast exchanges; a reused exchange counts through
    the exchange it reuses."""
    return [n for n in nodes if _name(n) in ("ShuffleExchangeExec", "BroadcastExchangeExec")]


def _reaches_cache_without_join(node):
    """True when an InMemoryTableScanExec lies below ``node`` on a path
    with no join in between."""
    stack = _plan_children(node)
    while stack:
        n = stack.pop()
        if _name(n) == "InMemoryTableScanExec":
            return True
        if not _is_join(n):
            stack.extend(_plan_children(n))
    return False


def _partition_keys(exchange):
    keys = exchange.outputPartitioning().expressions()
    return [keys.apply(i).name() for i in range(keys.size())]


def _checkpointed(pairs):
    cp = pairs.localCheckpoint(eager=True)
    release_cached_deps(pairs)
    return cp


def test_pagerank_edge_cache_plan(docs):
    """The one edge build: every walk's edge cache plans exactly ONE
    Exchange and no Join, unweighted and weighted, also on an input
    with repeated and reversed pairs — and those duplicates leave all
    three walks' ranks unchanged (weighted: every pair repeated and
    reversed scales every weight and out-strength by 3, which the floor
    division cancels)."""
    from pgverify_spark.operators import graph
    from pgverify_spark.operators.util import release_cached_deps

    def ranks(out):
        (ed,) = out._pgvs_cached_deps  # the persisted edge cache
        # the cache's build plan: its adaptive plan as it stands (final
        # once the personalized seed count materialized it)
        nodes = _plan_walk(ed._jdf.queryExecution().executedPlan(), into_cache=True)
        assert len(_exchanges(nodes)) == 1 and not any(map(_is_join, nodes))
        got = {r["node_id"]: r["rank_ppm"] for r in out.collect()}
        release_cached_deps(out)
        return got

    def with_dups(cp):  # every pair once repeated, once reversed
        rev = cp.selectExpr("doc_b AS doc_a", "doc_a AS doc_b", *cp.columns[2:])
        return cp.unionByName(cp).unionByName(rev)

    pairs = _checkpointed(graph.doc_term_edges(docs))
    wpairs = _checkpointed(graph.doc_term_edges_weighted(docs))
    seed = f"node < {graph.TERM_NODE_OFFSET}"
    assert ranks(graph.pagerank(with_dups(pairs), 4)) == ranks(graph.pagerank(pairs, 4))
    assert ranks(graph.pagerank_weighted(with_dups(wpairs), 3)) == ranks(
        graph.pagerank_weighted(wpairs, 3)
    )
    assert ranks(graph.pagerank_personalized(with_dups(pairs), seed, 3)) == ranks(
        graph.pagerank_personalized(pairs, seed, 3)
    )


@pytest.mark.parametrize("iterations", [4, 9])
def test_pagerank_rounds_read_edge_cache_in_place(docs, iterations):
    """Every rank round reads the persisted edge cache in place: in each
    walk's executed (final adaptive) plan, the cache is never exchanged
    under a round's join, and each round shuffles once.  Round 1 rides
    on the edge rows, so the one exchange that reads the cache with no
    join in between is round 1's own, by destination ``t``.  Past the
    checkpoint at round 8 only round 9 is left in the plan; its join
    may re-exchange the checkpointed rank side, never the cache."""
    from pgverify_spark.operators import graph

    pairs = _checkpointed(graph.doc_term_edges(docs))
    wpairs = _checkpointed(graph.doc_term_edges_weighted(docs))
    seed = f"node < {graph.TERM_NODE_OFFSET}"
    walks = {
        "plain": lambda: graph.pagerank(pairs, iterations),
        "weighted": lambda: graph.pagerank_weighted(wpairs, iterations),
        "personalized": lambda: graph.pagerank_personalized(pairs, seed, iterations),
    }
    for walk, run in walks.items():
        out = run()
        assert out.collect()
        nodes = _plan_walk(out._jdf.queryExecution().executedPlan())
        release_cached_deps(out)
        exchanges = _exchanges(nodes)
        over_cache = [x for x in exchanges if _reaches_cache_without_join(x)]
        joins = [n for n in nodes if _is_join(n)]
        if iterations <= 8:
            assert len(exchanges) == iterations, walk
            assert [_partition_keys(x) for x in over_cache] == [["t"]], walk
            assert len(joins) == iterations - 1, walk  # none in round 1
        else:
            keys = sorted(map(_partition_keys, exchanges))
            assert over_cache == [] and keys in ([["t"]], [["node"], ["t"]]), walk
            assert len(joins) == 1, walk


def test_pagerank_schedules_at_most_13_jobs(spark, docs, grouped_jobs):
    """One warm ``pagerank(doc_term_edges(docs), 4)`` build plus collect,
    run under a job group, schedules at most 13 jobs: the pairs'
    checkpoint (its row count observed, no count job), the edge cache's
    exchange, one exchange per round and the result stage."""
    from pgverify_spark.operators import graph

    def run():
        out = graph.pagerank(graph.doc_term_edges(docs), 4)
        rows = out.collect()
        release_cached_deps(out)
        return rows

    want = run()  # warm-up: nothing below depends on a cold JVM
    got, jobs = grouped_jobs(run)
    assert sorted(got) == sorted(want)
    assert 0 < len(jobs) <= 13, jobs


def test_pagerank_weighted_matches_oracle(docs, duck):
    from pgverify_spark.operators import graph

    rows = _cmp(
        graph.pagerank_weighted(graph.doc_term_edges_weighted(docs), 3),
        duck,
        graph.pagerank_weighted_oracle_sql(
            graph.doc_term_edges_weighted_oracle_sql("documents"), 3
        ),
    )
    assert rows and all(r[1] >= 150_000 for r in rows)


def test_pagerank_weighted_shapes(spark):
    from pgverify_spark.operators import graph

    # uniform weights reduce to the unweighted walk exactly
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "doc_a long, doc_b long"
    )
    uni = {r["node_id"]: r["rank_ppm"] for r in graph.pagerank(pairs, 4).collect()}
    wpairs = pairs.selectExpr("doc_a", "doc_b", "CAST(7 AS BIGINT) AS w")
    w = {
        r["node_id"]: r["rank_ppm"]
        for r in graph.pagerank_weighted(wpairs, 4).collect()
    }
    assert w == uni
    # unequal weights break the leaf symmetry: the heavy leaf receives
    # more of the hub's mass than the light ones
    skew = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (0, 3, 1)], "doc_a long, doc_b long, w long"
    )
    s = {
        r["node_id"]: r["rank_ppm"]
        for r in graph.pagerank_weighted(skew, 4).collect()
    }
    assert s[1] > s[2] == s[3]
    # parallel edges merge by weight-sum: (0,1,3)+(0,1,7) == (0,1,10)
    dup = spark.createDataFrame(
        [(0, 1, 3), (0, 1, 7), (0, 2, 1), (0, 3, 1)],
        "doc_a long, doc_b long, w long",
    )
    d = {
        r["node_id"]: r["rank_ppm"]
        for r in graph.pagerank_weighted(dup, 4).collect()
    }
    assert d == s
    # empty graph: empty output, no loop
    empty = spark.createDataFrame([], "doc_a long, doc_b long, w long")
    assert graph.pagerank_weighted(empty, 4).collect() == []


def test_gram_counts_sql_matches_counter(spark):
    """The weighted doc-term build's in-row run-length count equals
    ``collections.Counter`` on literal gram arrays of size 0, 1 and 2
    and with repeated grams — no index-0 or out-of-range read at any
    size (an empty array once raised INVALID_INDEX_OF_ZERO)."""
    from collections import Counter

    from pgverify_spark.operators.graph import _gram_counts_sql

    for grams in ([], ["a"], ["b", "a"], ["c", "a", "c", "b", "a", "c"]):
        lit = "CAST(array({}) AS array<string>)".format(
            ", ".join(f"'{g}'" for g in grams)
        )
        (row,) = spark.range(1).selectExpr(f"{_gram_counts_sql(lit)} AS gc").collect()
        got = [(x["g"], x["w"]) for x in row["gc"]]
        assert got == sorted(Counter(grams).items()), grams


def test_triangle_counts_shapes_and_oracle(spark, docs, duck):
    from pgverify_spark.operators import dedup, graph

    # shapes: a triangle + a pendant chain — the discriminating case
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    got = {r["node_id"]: r["triangles"] for r in graph.triangle_counts(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0, 5: 0}
    # K4: every node in C(3,2)=3 triangles; duplicate/reversed edges fold
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b],
        "doc_a long, doc_b long",
    )
    got4 = {r["node_id"]: r["triangles"] for r in graph.triangle_counts(k4).collect()}
    assert got4 == {0: 3, 1: 3, 2: 3, 3: 3}
    # oracle parity over the real near-dup pair graph
    _cmp(
        graph.triangle_counts(
            dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
        ),
        duck,
        graph.triangle_counts_oracle_sql(
            "SELECT doc_a, doc_b FROM ("
            + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
            + ") mp"
        ),
    )


def test_funnel_latency_semantics(spark):
    """Latency uses the ANCHORED step times (first qualifying event):
    a user with view@0h, click@2h, view@3h, purchase@5h contributes
    view->click 2h and click->purchase 3h; a non-converting user
    contributes nothing; the gap cap disqualifies late conversions."""
    import datetime

    from pgverify_spark.operators import funnel as funnel_mod

    t0 = datetime.datetime(2024, 6, 1)
    H = 3_600_000_000  # one hour in microseconds

    def ev(eid, uid, hours, et):
        return (eid, uid, t0 + datetime.timedelta(hours=hours), et)

    rows = [
        ev(1, 1, 0, "view"), ev(2, 1, 2, "click"), ev(3, 1, 3, "view"),
        ev(4, 1, 5, "purchase"),
        ev(5, 2, 0, "view"), ev(6, 2, 1, "click"),        # no purchase
        ev(7, 3, 0, "view"),                                # view only
        ev(8, 4, 0, "view"), ev(9, 4, 40, "click"),         # > 24h gap
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        (r["step_from"], r["step_to"]): r
        for r in funnel_mod.funnel_latency(df, max_gap_us=24 * H).collect()
    }
    vc = out[(1, 2)]
    assert vc["transition"] == "view->click"
    assert vc["n_users"] == 2  # users 1 and 2; user 4 blocked by the cap
    assert (vc["min_us"], vc["max_us"]) == (1 * H, 2 * H)
    assert vc["mean_us"] == (1 * H + 2 * H) // 2
    cp = out[(2, 3)]
    assert (cp["n_users"], cp["min_us"], cp["mean_us"], cp["max_us"]) == (
        1, 3 * H, 3 * H, 3 * H,
    )
    # empty transition: stable 1-row-per-transition output with NULLs
    none = funnel_mod.funnel_latency(
        df.filter("event_type = 'view'"), max_gap_us=24 * H
    ).collect()
    assert [(r["n_users"], r["mean_us"]) for r in none] == [(0, None), (0, None)]


def test_scd2_intervals_semantics(spark, sf_dir, duck):
    """Run collapse + interval chaining on a constructed log, then
    oracle parity on events: every user's intervals tile the timeline
    (each valid_to == next valid_from, exactly one open interval)."""
    import datetime

    from pgverify_spark.operators import rollup

    t0 = datetime.datetime(2024, 5, 1)
    rows = [
        (1, 1, t0, "a"),                                      # run 1: a
        (2, 1, t0 + datetime.timedelta(hours=1), "a"),
        (3, 1, t0 + datetime.timedelta(hours=2), "b"),        # run 2: b
        (4, 1, t0 + datetime.timedelta(hours=3), "a"),        # run 3: a again
        (5, 2, t0, "x"),                                      # user 2: one run
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = sorted(
        map(tuple, rollup.scd2_intervals(df).collect()),
        key=lambda r: (r[0], r[2]),
    )
    us = lambda h: int((t0 + datetime.timedelta(hours=h)).timestamp() * 1_000_000)
    assert got == [
        (1, "a", us(0), us(2), 2),
        (1, "b", us(2), us(3), 1),
        (1, "a", us(3), None, 1),
        (2, "x", us(0), None, 1),
    ]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = _cmp(
        rollup.scd2_intervals(ev), duck, rollup.scd2_intervals_oracle_sql("events")
    )
    per_user = {}
    for u, _t, vf, vt, _n in out:
        per_user.setdefault(u, []).append((vf, vt))
    for ivs in per_user.values():
        ivs.sort()
        assert sum(1 for _, vt in ivs if vt is None) == 1  # one open interval
        assert all(a[1] == b[0] for a, b in zip(ivs, ivs[1:]))  # tiling


def test_clustering_coefficient_shapes_and_oracle(spark, docs, duck):
    from pgverify_spark.operators import dedup, graph

    # triangle(1,2,3) + pendant chain 3-4-5: clique nodes score 1e6
    # (deg-2 node) or 333333 (the 3-degree junction), chain nodes 0
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        r["node_id"]: (r["degree"], r["triangles"], r["coeff_ppm"])
        for r in graph.clustering_coefficient(pairs).collect()
    }
    assert got == {
        1: (2, 1, 1_000_000),
        2: (2, 1, 1_000_000),
        3: (3, 1, 333_333),
        4: (2, 0, 0),
        5: (1, 0, 0),
    }
    # scale-invariance: K4 members read 1e6 exactly like K3 members
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "doc_a long, doc_b long",
    )
    assert {
        r["coeff_ppm"] for r in graph.clustering_coefficient(k4).collect()
    } == {1_000_000}
    _cmp(
        graph.clustering_coefficient(
            dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
        ),
        duck,
        graph.clustering_coefficient_oracle_sql(
            "SELECT doc_a, doc_b FROM ("
            + dedup.minhash_lsh_pairs_oracle_sql("documents", 0.3)
            + ") mp"
        ),
    )


def test_cusum_changepoints_matches_oracle(spark, sf_dir, duck):
    from pgverify_spark.operators import trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = _cmp(
        trend.cusum_changepoints(ev),
        duck,
        trend.cusum_changepoints_oracle_sql("events"),
    )
    assert rows and all(r[3] >= 0 and r[4] >= 0 for r in rows)  # clamped


def test_cusum_matches_textbook_recursion(spark):
    """The window-function closed form equals Page's clamped recursion
    S_i = max(0, S_{i-1} + d_i), and a persistent level shift alarms."""
    import datetime

    from pgverify_spark.operators import trend

    counts = [100] * 20 + [115] * 10  # +15% shift at day 20
    rows = []
    for day, n in enumerate(counts):
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)
        rows += [(ts, "a")] * n
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {
        r["day_bucket"]: r
        for r in trend.cusum_changepoints(df, k_ppm=50_000, h_ppm=200_000).collect()
    }
    days = sorted(out)
    assert len(days) == 30
    # textbook recursion with the operator's integer parameters
    mean = sum(counts) // len(counts)
    slack, h = (mean * 50_000) // 10**6, (mean * 200_000) // 10**6
    s_up = s_dn = 0
    for day, n in zip(days, counts):
        s_up = max(0, s_up + (n - mean - slack))
        s_dn = max(0, s_dn + (mean - n - slack))
        assert (out[day]["cusum_up"], out[day]["cusum_dn"]) == (s_up, s_dn)
        assert out[day]["alarm"] == (
            "both" if s_up > h and s_dn > h
            else "up" if s_up > h else "down" if s_dn > h else "none"
        )
    # the shift is caught: an up alarm exists at/after the change, and
    # none before it
    alarm_days = [d for d in days if out[d]["alarm"] == "up"]
    assert alarm_days and min(alarm_days) >= days[20]


def test_cusum_sees_silent_stream_stop(spark):
    """A type whose events STOP produces no daily rows — the densified
    series turns the silence into zero counts and the down-side CUSUM
    alarms; a type healthy through the whole window never does."""
    import datetime

    from pgverify_spark.operators import trend

    rows = []
    for day in range(30):
        ts = datetime.datetime(2024, 3, 1) + datetime.timedelta(days=day)
        rows += [(ts, "healthy")] * 50
        if day < 15:  # 'stopped' goes silent at day 15
            rows += [(ts, "stopped")] * 50
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = trend.cusum_changepoints(df, k_ppm=50_000, h_ppm=2_000_000).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    # densified: BOTH types report all 30 days of the global window
    assert {len(v) for v in by_type.values()} == {30}
    stopped_zero_days = [r for r in by_type["stopped"] if r["n"] == 0]
    assert len(stopped_zero_days) == 15
    assert any(r["alarm"] == "down" for r in by_type["stopped"])
    assert all(r["alarm"] == "none" for r in by_type["healthy"])


def test_pagerank_personalized_matches_oracle(docs, duck):
    from pgverify_spark.operators import graph

    seed = f"node < {graph.TERM_NODE_OFFSET}"
    rows = _cmp(
        graph.pagerank_personalized(graph.doc_term_edges(docs), seed, 3),
        duck,
        graph.pagerank_personalized_oracle_sql(
            graph.doc_term_edges_oracle_sql("documents"), seed, 3
        ),
    )
    assert rows
    by_id = {r[0]: r[1] for r in rows}
    # seeds (documents) carry the teleport floor; total mass is in the
    # right ballpark (integer floor division sheds < ns ppm per round)
    n = len(by_id)
    assert abs(sum(by_id.values()) - n * 1_000_000) < n * 10


def test_pagerank_personalized_shapes(spark):
    from pgverify_spark.operators import graph

    # a path 1-2-3 personalized on node 1: rank decays with distance
    # from the seed, and a non-seed leaf gets NO teleport floor
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = {
        r["node_id"]: r["rank_ppm"]
        for r in graph.pagerank_personalized(pairs, "node = 1", 8).collect()
    }
    assert out[1] > out[2] > out[3] > 0
    # a repeated pair and a reversed pair are the same undirected edges:
    # identical ranks to the clean path
    dup = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 2), (3, 2)], "doc_a long, doc_b long"
    )
    assert {
        r["node_id"]: r["rank_ppm"]
        for r in graph.pagerank_personalized(dup, "node = 1", 8).collect()
    } == out
    # empty seed set is a definition error, not a silent zero vector
    import pytest

    with pytest.raises(ValueError, match="seed"):
        graph.pagerank_personalized(pairs, "node = 99", 4)
    # empty graph short-circuits before the seed check
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert graph.pagerank_personalized(empty, "node = 1", 4).collect() == []


def test_contamination_spans_matches_oracle(docs, duck):
    from pgverify_spark.operators import contamination

    rows = _cmp(
        contamination.contamination_spans(docs),
        duck,
        contamination.contamination_spans_oracle_sql("documents"),
    )
    for _, _, n_matched, n_spans, max_run, span_toks in rows:
        assert n_matched >= n_spans >= 1
        assert span_toks == max_run + contamination.CONTAM_N - 1


def test_contamination_spans_verbatim_vs_scattered(spark):
    """A copied passage produces ONE long run; the same n-grams scattered
    produce many length-1 islands — the signal set-overlap cannot see."""
    from pgverify_spark.operators import contamination

    passage = " ".join(f"w{i}" for i in range(9))  # 9 tokens = 5 x 5-grams
    filler = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    eval_doc = (0, f"{filler('e', 6)} {passage} {filler('f', 6)}")
    verbatim = (1, f"{filler('a', 7)} {passage} {filler('b', 7)}")
    # same 2 five-grams as the passage's first/last, but split apart
    scattered = (
        2,
        " ".join(f"w{i}" for i in range(5))
        + f" {filler('c', 9)} "
        + " ".join(f"w{i}" for i in range(4, 9)),
    )
    df = spark.createDataFrame([eval_doc, verbatim, scattered], "doc_id long, text string")
    out = {
        (r["train_doc"], r["eval_doc"]): r
        for r in contamination.contamination_spans(df, eval_mod=10).collect()
    }
    v = out[(1, 0)]
    assert (v["n_spans"], v["max_run"], v["longest_span_tokens"]) == (1, 5, 9)
    s = out[(2, 0)]
    assert s["max_run"] == 1 and s["n_spans"] == 2 and s["longest_span_tokens"] == 5


def test_kmv_overlap_exact_when_under_k(spark, duck):
    from pgverify_spark.operators import sketch

    rows = [(True, f"v{i}") for i in range(10)] + [(False, f"v{i}") for i in range(5, 15)]
    df = spark.createDataFrame(rows, "side_a boolean, v string")
    (r,) = sketch.kmv_overlap(df, "v", "side_a", k=64).collect()
    assert (r["n_a"], r["n_b"], r["n_union"], r["overlap_k"]) == (10, 10, 15, 5)
    assert (r["est_a"], r["est_b"], r["est_union"]) == (10.0, 10.0, 15.0)
    assert r["jaccard_ppm"] == 5 * 1_000_000 // 15
    assert r["est_intersection"] == 5.0


def test_kmv_shingle_overlap_registry_twin(spark, duck, sf_dir):
    from pgverify_spark import registry

    name = "kmv_shingle_overlap_documents"
    spark_rows = sorted(map(tuple, registry.spark_queries()[name](spark, sf_dir).collect()))
    duck_rows = sorted(map(tuple, duck.execute(registry.oracle_queries()[name]).fetchall()))
    assert spark_rows == duck_rows
    (r,) = spark_rows
    n_union, overlap_k = r[6], r[9]
    assert 0 < overlap_k <= n_union
    assert 0 <= r[10] <= 1_000_000  # jaccard_ppm bounded


def test_rollup_ivm_equals_full_recompute(spark, sf_dir, tmp_path):
    from pgverify_spark.functions.timecol import US_PER_DAY, bucket_sql
    from pgverify_spark.operators import rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = bucket_sql(ev, US_PER_DAY)
    changed = ev.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = 19723 AND event_id % 11 = 0 "
        "THEN value + 1 ELSE value END AS value",
        "props",
    )
    state = str(tmp_path / "state")
    rollup.write_rollup_snapshot(ev, state)
    # no-op update returns the stored state untouched
    before = sorted(map(tuple, rollup.read_rollup_snapshot(spark, state).collect()))
    noop = sorted(map(tuple, rollup.update_rollup_snapshot(spark, changed, state, ()).collect()))
    assert noop == before
    # the splice path is fully distributed — nothing may cross the
    # driver while it runs, at ANY state size (r9 VERDICT item 1)
    from unittest import mock

    from pyspark.sql import DataFrame as _DF

    def _no_driver(*a, **k):
        raise AssertionError("splice path must not collect to the driver")

    with mock.patch.object(_DF, "collect", _no_driver), \
            mock.patch.object(_DF, "toPandas", _no_driver), \
            mock.patch.object(_DF, "toLocalIterator", _no_driver):
        spliced_df = rollup.update_rollup_snapshot(
            spark, changed, state, (19723, 19724)
        )
    spliced = sorted(map(tuple, spliced_df.collect()))
    scratch = sorted(
        map(tuple, rollup.hourly_rollup(changed, distinct_users=None).collect())
    )
    assert spliced == scratch
    # the splice really dropped the deleted day from the COMMITTED
    # state (manifest entries), not just filtered it; the mutated day
    # is re-pinned to a fresh generation while untouched days keep
    # their original entries
    from pgverify_spark.sources import manifest as _mf

    entries = _mf.current_entries(spark, state)
    assert not [t for t in spliced if t[0] // 24 == 19724]
    assert not [e for e in entries if e.endswith("day=19724")]
    (d23,) = [e for e in entries if e.endswith("day=19723")]
    untouched = [e for e in entries if not e.endswith("day=19723")]
    assert untouched
    assert all(e.split("/")[0] != d23.split("/")[0] for e in untouched)
    assert sorted(map(tuple, rollup.read_rollup_snapshot(spark, state).collect())) == spliced


def test_kmv_overlap_entry_carries_release_tag(spark, sf_dir):
    """The shingle persist behind the KMV overlap entries must ride the
    cached-deps tag through the (side, v) projection to the result, or
    _release_prev_generation / the streaming batch release silently
    leak one cached table per invocation (r9 self-review finding)."""
    from pgverify_spark.registry import _shingle_overlap_sides
    from pgverify_spark.operators import sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sides = _shingle_overlap_sides(docs)
    deps = getattr(sides, "_pgvs_cached_deps", ())
    assert deps, "projection dropped the cached-deps tag"
    out = sketch.kmv_overlap(sides, "v", "side_a", 64)
    assert getattr(out, "_pgvs_cached_deps", ()) == deps
    out.collect()
    from pgverify_spark.operators.util import release_cached_deps

    release_cached_deps(out)
    assert all(not d.is_cached for d in deps)


def test_curation_audit_partitions_the_dropped_set(spark, sf_dir, duck):
    """Audit rows = exactly the documents the pipeline dropped, each
    attributed once (disjoint + complete vs the stage relations)."""
    from pgverify_spark import registry

    st = registry._curate_pipeline(spark, sf_dir)
    audit = registry._curation_audit_run(spark, sf_dir).collect()
    dropped = {r["doc_id"] for r in audit}
    assert len(dropped) == len(audit), "a document attributed twice"
    all_ids = {r["doc_id"] for r in st["toked"].select("doc_id").collect()}
    kept = {r["doc_id"] for r in st["splitdoc"].select("doc_id").collect()}
    assert dropped == all_ids - kept
    by_stage = {}
    for r in audit:
        by_stage[r["dropped_by"]] = by_stage.get(r["dropped_by"], 0) + 1
    assert by_stage.get("gate", 0) > 0 and by_stage.get("eval_split", 0) > 0
    # the oracle twin agrees row-for-row
    got = sorted((r["doc_id"], r["dropped_by"]) for r in audit)
    want = sorted(map(tuple, duck.execute(registry._curation_audit_oracle_sql()).fetchall()))
    assert got == want


def test_attribution_semantics(spark):
    """Last-touch rules: most recent in-window touch wins; a touch
    AFTER the conversion never credits; out-of-window -> direct
    (NULL touch columns); a touch at the conversion's exact
    microsecond (earlier event_id) credits."""
    import datetime

    from pgverify_spark.operators import funnel as funnel_mod

    t0 = datetime.datetime(2024, 6, 1)
    H = 3_600_000_000

    def ev(eid, uid, hours, et):
        return (eid, uid, t0 + datetime.timedelta(hours=hours), et)

    rows = [
        # user 1: view@0, click@2, purchase@5 -> click credited, 3h
        ev(1, 1, 0, "view"), ev(2, 1, 2, "click"), ev(3, 1, 5, "purchase"),
        # user 2: touch only after the conversion -> direct
        ev(4, 2, 1, "purchase"), ev(5, 2, 2, "click"),
        # user 3: touch 8 days before -> out of 7d window -> direct
        ev(6, 3, 0, "view"), ev(7, 3, 8 * 24, "purchase"),
        # user 4: touch at the same microsecond -> credited, latency 0
        ev(8, 4, 1, "click"), ev(9, 4, 1, "purchase"),
        # user 5: two purchases share one touch -> both credited to it
        ev(10, 5, 0, "view"), ev(11, 5, 1, "purchase"), ev(12, 5, 2, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        r["conv_event_id"]: r
        for r in funnel_mod.attribute_conversions(df).collect()
    }
    assert len(out) == 6  # one row per purchase, always
    assert out[3]["touch_event_id"] == 2 and out[3]["latency_us"] == 3 * H
    assert out[4]["touch_event_id"] is None and out[4]["latency_us"] is None
    assert out[7]["touch_event_id"] is None  # out of window -> direct
    assert out[9]["touch_event_id"] == 8 and out[9]["latency_us"] == 0
    assert out[11]["touch_event_id"] == 10 and out[12]["touch_event_id"] == 10


def test_scd2_point_in_time_semantics(spark):
    """Each probe matches AT MOST the one interval containing it;
    probes before the first state land in the NULL 'unknown' bucket;
    the open (current) interval catches everything after the last
    change."""
    import datetime

    from pgverify_spark.operators import rollup

    t0 = datetime.datetime(2024, 6, 1)

    def ev(eid, uid, hours, et):
        return (eid, uid, t0 + datetime.timedelta(hours=hours), et)

    rows = [
        ev(1, 1, 10, "signup"), ev(2, 1, 20, "error"), ev(3, 1, 30, "signup"),
        ev(4, 1, 5, "purchase"),    # before any state -> unknown
        ev(5, 1, 15, "purchase"),   # inside the signup run [10, 20)
        ev(6, 1, 20, "purchase"),   # boundary: belongs to [20, 30)
        ev(7, 1, 99, "purchase"),   # open interval [30, NULL)
        ev(8, 2, 1, "purchase"),    # user with no states at all
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {r["probe_event_id"]: r for r in rollup.scd2_point_in_time(df).collect()}
    assert len(out) == 5  # exactly one output row per probe
    assert out[4]["state_type"] is None and out[8]["state_type"] is None
    assert out[5]["state_type"] == "signup" and out[5]["state_n"] == 1
    assert out[6]["state_type"] == "error"
    assert out[7]["state_type"] == "signup"  # open current interval


def test_k_core_peel_cascade(spark):
    """A chain hanging off a clique peels away over MULTIPLE rounds
    (each removal re-exposes the next node); the clique survives; a
    star vanishes entirely (hub loses its leaves, then itself)."""
    from pgverify_spark.operators.graph import k_core

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = [(4, 5), (5, 6), (6, 7)]
    star = [(100, leaf) for leaf in range(101, 106)]
    df = spark.createDataFrame(clique + chain + star, "doc_a long, doc_b long")
    out = {r["node_id"]: r["degree"] for r in k_core(df, k=2, rounds=10).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}  # K4 only, chain + star gone
    # k above the clique's degree empties the graph
    assert k_core(df, k=4, rounds=10).count() == 0


def test_hll_snapshot_splice(spark, sf_dir, tmp_path):
    """Register-state splice == from-scratch per-day HLL of the mutated
    table; a deleted day's directory drops out; re-splicing the same
    days is idempotent; a range merge over stored state equals the HLL
    of the range's raw rows (merge == whole)."""
    from pgverify_spark.functions import timecol
    from pgverify_spark.operators import rollup
    from pgverify_spark.operators.sketch import hll_distinct

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = timecol.bucket_sql(events, timecol.US_PER_DAY)
    state = str(tmp_path / "hll_state")
    rollup.write_hll_snapshot(events, state)

    mutated = events.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts",
        f"CASE WHEN {day} = 19723 AND event_id % 7 = 0 "
        "THEN user_id + 100000 ELSE user_id END AS user_id",
        "event_type", "value", "props",
    )
    spliced = sorted(map(tuple, rollup.update_hll_snapshot(
        spark, mutated, state, (19723, 19724)
    ).collect()))
    scratch = sorted(map(tuple, hll_distinct(
        mutated, "user_id", timecol.bucket_sql(mutated, timecol.US_PER_DAY)
    ).collect()))
    assert spliced == scratch
    assert not any(g == 19724 for g, *_ in spliced)  # day dropped out
    respliced = sorted(map(tuple, rollup.update_hll_snapshot(
        spark, mutated, state, (19723, 19724)
    ).collect()))
    assert respliced == spliced  # idempotent

    merged = sorted(map(tuple, rollup.hll_range_distinct(
        spark, state, 19730, 19760
    ).collect()))
    whole = sorted(map(tuple, hll_distinct(
        events.filter(f"({day}) BETWEEN 19730 AND 19760"), "user_id", "'range'"
    ).collect()))
    assert merged == whole


def test_sample_trailing_quantiles_semantics(spark):
    """Each day's trailing quantiles rank the UNION of the window's day
    samples: with a 100% rate, day D's p50 is the median of days
    (D-w+1..D)'s values; days without their own events emit nothing."""
    import datetime

    from pgverify_spark.operators import rollup

    t0 = datetime.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # day 0: values 1..4; day 1: 11..14; day 3: 21..24 (day 2 silent)
    for d, base in ((0, 0), (1, 10), (3, 20)):
        for i in range(1, 5):
            eid += 1
            rows.append((eid, t0 + datetime.timedelta(days=d), base + i))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value long")
    out = {
        (r["grp"], r["prob_ppm"]): r
        for r in rollup.sample_trailing_quantiles(
            df, window_days=2, rate_ppm=1_000_000, probs_ppm=(500_000,)
        ).collect()
    }
    d0 = int((t0 - datetime.datetime(1970, 1, 1)).days)
    assert set(g for g, _ in out) == {d0, d0 + 1, d0 + 3}  # silent day absent
    # day 0's window is its own 4 values: ceil(.5*4)=2nd -> 2
    assert out[(d0, 500_000)]["est_value"] == 2
    # day 1's window is days 0-1 (8 values 1..4,11..14): 4th -> 4
    assert out[(d0 + 1, 500_000)]["est_value"] == 4
    assert out[(d0 + 1, 500_000)]["n_sample"] == 8
    # day 3's window is days 2-3 = its own values only (day 2 silent)
    assert out[(d0 + 3, 500_000)]["est_value"] == 22


def test_sample_snapshot_splice(spark, sf_dir, tmp_path):
    """Quantile-sample state splice == from-scratch sampled quantiles of
    the mutated table (the mergeable-quantile IVM); a deleted day drops
    out; the range merge equals quantiles of the range's raw rows —
    union of day samples IS the sample of the union."""
    from pgverify_spark.functions import timecol
    from pgverify_spark.operators import rollup
    from pgverify_spark.operators.sketch import sampled_quantiles

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = timecol.bucket_sql(events, timecol.US_PER_DAY)
    state = str(tmp_path / "qs_state")
    rollup.write_sample_snapshot(events, state)

    mutated = events.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = 19723 AND event_id % 7 = 0 "
        "THEN value + 50 ELSE value END AS value",
        "props",
    )
    spliced = sorted(map(tuple, rollup.update_sample_snapshot(
        spark, mutated, state, (19723, 19724)
    ).collect()))
    scratch = sorted(map(tuple, sampled_quantiles(
        mutated, "value", "event_id"
    ).collect()))
    assert spliced == scratch
    # the dropped day's rows left the state entirely
    assert rollup.read_sample_snapshot(spark, state).filter(
        "day = 19724"
    ).count() == 0
    merged = sorted(map(tuple, rollup.sample_range_quantiles(
        spark, state, 19730, 19760
    ).collect()))
    whole = sorted(map(tuple, sampled_quantiles(
        events.filter(f"({day}) BETWEEN 19730 AND 19760"), "value", "event_id"
    ).collect()))
    assert merged == whole


def test_multi_touch_attribution_semantics(spark):
    """Every in-window touch shares credit (floor ppm); post-conversion
    and out-of-window touches never pair; a touch credits EVERY later
    in-window conversion independently."""
    import datetime

    from pgverify_spark.operators import funnel as funnel_mod

    t0 = datetime.datetime(2024, 6, 1)

    def ev(eid, uid, hours, et):
        return (eid, uid, t0 + datetime.timedelta(hours=hours), et)

    rows = [
        # user 1: 3 touches then purchase -> 3 rows at 333333 ppm each
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "view"),
        ev(4, 1, 3, "purchase"),
        # user 2: touch after purchase, and one 8 days before -> no rows
        ev(5, 2, 0, "view"), ev(6, 2, 8 * 24, "purchase"), ev(7, 2, 9 * 24, "click"),
        # user 3: one touch, two purchases -> credited to both
        ev(8, 3, 0, "click"), ev(9, 3, 1, "purchase"), ev(10, 3, 2, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = funnel_mod.attribute_multi_touch(df).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r["conv_event_id"], []).append(r)
    assert set(by_conv) == {4, 9, 10}  # user 2's purchase pairs nothing
    assert sorted(r["touch_event_id"] for r in by_conv[4]) == [1, 2, 3]
    assert all(r["weight_ppm"] == 333333 for r in by_conv[4])
    assert [r["touch_event_id"] for r in by_conv[9]] == [8]
    assert by_conv[9][0]["weight_ppm"] == 1000000
    assert [r["touch_event_id"] for r in by_conv[10]] == [8]


def test_hll_overlap_sanity(spark, sf_dir, duck):
    """Union register_sum equals the sketch of A∪B computed directly;
    inclusion-exclusion lands near the exact intersection; disjoint
    sides give jaccard 0."""
    from pgverify_spark.operators.sketch import (
        hll_distinct,
        hll_overlap,
        hll_overlap_oracle_sql,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        "event_type IN ('click', 'purchase')"
    )
    side = "CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END"
    (row,) = _cmp(
        hll_overlap(ev, "user_id", side),
        duck,
        hll_overlap_oracle_sql(
            "(SELECT * FROM events WHERE event_type IN ('click', 'purchase')) e",
            "user_id", side,
        ),
    )
    # union registers == registers of the union set, by construction
    (direct,) = hll_distinct(ev, "user_id", "'u'").collect()
    assert row[7] == direct["register_sum"] and row[8] == direct["est_distinct"]
    exact = duck.execute(
        "SELECT count(DISTINCT CASE WHEN a.user_id = b.user_id THEN a.user_id END) "
        "FROM (SELECT DISTINCT user_id FROM events WHERE event_type='click') a, "
        "(SELECT DISTINCT user_id FROM events WHERE event_type='purchase') b "
        "WHERE a.user_id = b.user_id"
    ).fetchone()[0]
    assert abs(row[9] - exact) / max(exact, 1) < 0.30  # 4-sigma-ish at m=256
    # disjoint sides -> clamped jaccard 0
    dj = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "s string, v long"
    )
    (d,) = hll_overlap(dj, "v", "s").collect()
    assert d["jaccard_ppm"] == 0


def test_position_attribution_weights(spark):
    """U-shaped weights: 1 touch -> 1e6; 2 -> 500k each; n>=3 ->
    first/last 400k, middles floor-share 200k; positions labeled."""
    import datetime

    from pgverify_spark.operators import funnel as funnel_mod

    t0 = datetime.datetime(2024, 6, 1)

    def ev(eid, uid, hours, et):
        return (eid, uid, t0 + datetime.timedelta(hours=hours), et)

    rows = [
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "view"),
        ev(4, 1, 3, "click"), ev(5, 1, 4, "purchase"),   # 4 touches
        ev(6, 2, 0, "view"), ev(7, 2, 1, "purchase"),    # 1 touch
        ev(8, 3, 0, "view"), ev(9, 3, 1, "click"), ev(10, 3, 2, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {}
    for r in funnel_mod.attribute_position(df).collect():
        out.setdefault(r["conv_event_id"], {})[r["touch_event_id"]] = r
    four = out[5]
    assert four[1]["position"] == "first" and four[1]["weight_ppm"] == 400000
    assert four[4]["position"] == "last" and four[4]["weight_ppm"] == 400000
    assert four[2]["weight_ppm"] == four[3]["weight_ppm"] == 100000  # 200k div 2
    assert out[7][6]["weight_ppm"] == 1000000 and out[7][6]["position"] == "first"
    assert {r["weight_ppm"] for r in out[10].values()} == {500000}


def test_hll_trailing_wau_semantics(spark, duck):
    """Each day's row equals the direct HLL over that day's trailing
    window; a user active only on day d counts in days d..d+6 windows
    (and no further)."""
    import datetime

    from pgverify_spark.operators.rollup import hll_trailing_distinct
    from pgverify_spark.operators.sketch import hll_distinct

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day, users in [(0, [1, 2]), (3, [2, 3]), (10, [4])]:
        for u in users:
            rows.append((eid, u, t0 + datetime.timedelta(days=day), "view"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {r["grp"]: r for r in hll_trailing_distinct(df).collect()}
    base_day = 19723  # 2024-01-01
    assert set(out) == {base_day, base_day + 3, base_day + 10}
    # day 3's window covers days -3..3 -> users {1,2,3}; day 10 -> {4}
    (d3_direct,) = hll_distinct(
        df.filter(f"event_id < 4"), "user_id", f"{base_day + 3}"
    ).collect()
    assert tuple(out[base_day + 3]) == tuple(d3_direct)
    assert out[base_day + 10]["n_filled"] == 1


def test_json_profile_semantics(spark):
    """New keys, JSON-null values, and unparseable rows: a key appears
    with per-key counts; explicit nulls count in n AND n_null; invalid
    JSON contributes nothing."""
    from pgverify_spark.operators.profile import json_profile

    df = spark.createDataFrame(
        [
            ('{"a": 1, "b": "x"}',),
            ('{"a": 2}',),
            ('{"a": null}',),
            ("not json",),
            (None,),
        ],
        "props string",
    )
    out = {r["key"]: r for r in json_profile(df).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["n"] == 3 and out["a"]["n_null"] == 1
    assert out["a"]["n_distinct"] == 2  # "1", "2" (null excluded)
    assert out["b"]["n"] == 1 and out["b"]["min_v"] == "x"


def test_json_profile_duplicate_keys(spark, duck):
    """A valid object with DUPLICATE top-level keys counts the key ONCE
    per row with its FIRST value, on BOTH engines (r10 advice): Spark
    4's from_json silently retains duplicate map entries, so a bare
    explode double-counted and saw the second value while DuckDB's
    json_extract_string returns the first; the keep-first fold + the
    oracle's rid+DISTINCT pin the shared convention — without
    collapsing distinct rows that carry identical JSON text."""
    from pgverify_spark.operators.profile import json_profile, json_profile_oracle_sql

    rows = ['{"a":1,"a":2}', '{"a":7}', '{"a":7}', "not json", None]
    df = spark.createDataFrame([(v,) for v in rows], "props string")
    (sp,) = json_profile(df).collect()
    assert sp["key"] == "a" and sp["n"] == 3  # once per row, rows not collapsed
    assert sp["n_distinct"] == 2 and sp["min_v"] == "1"  # first value wins
    duck.execute("CREATE OR REPLACE TABLE _jp_dup(props VARCHAR)")
    duck.executemany("INSERT INTO _jp_dup VALUES (?)", [(v,) for v in rows])
    (orc,) = duck.execute(json_profile_oracle_sql("_jp_dup")).fetchall()
    assert tuple(sp) == tuple(orc)
    duck.execute("DROP TABLE _jp_dup")


def test_attribution_report_composition(spark):
    """The report's totals reconcile with its component models: linear
    and U credit both sum to exactly 1e6 per ATTRIBUTED conversion;
    last-touch rows partition all conversions incl. the direct bucket."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from pgverify_spark.operators import funnel as funnel_mod

    rep = funnel_mod.attribution_report(events).collect()
    n_conv = events.filter("event_type = 'purchase'").count()
    assert sum(r["n_last"] for r in rep) == n_conv
    n_attr = sum(r["n_last"] for r in rep if r["touch_type"] != "direct")
    lin = sum(r["credit_linear_ppm"] for r in rep)
    pos = sum(r["credit_position_ppm"] for r in rep)
    # floor division loses < n_touches ppm per conversion; bound loosely
    assert n_attr * 1000000 - lin < n_attr * 64
    assert n_attr * 1000000 - pos < n_attr * 64
    assert lin <= n_attr * 1000000 and pos <= n_attr * 1000000
    direct = [r for r in rep if r["touch_type"] == "direct"]
    assert all(r["mean_latency_us"] is None for r in direct)


def test_equiwidth_histogram_semantics(spark):
    """Bucket widths are equal in VALUE space (heavy tail -> overfull
    low bins); the max value clamps into the last bucket; counts
    conserve; an all-equal column degenerates to bucket 0."""
    from pgverify_spark.operators.topk import equiwidth_histogram

    df = spark.createDataFrame([(float(v),) for v in
                                [0, 1, 2, 3, 10, 100]], "v double")
    out = {r["bucket"]: r for r in equiwidth_histogram(df, "v", 10).collect()}
    assert sum(r["n"] for r in out.values()) == 6
    assert out[0]["n"] == 4 and out[0]["lo"] == 0.0 and out[0]["hi"] == 3.0
    assert out[1]["n"] == 1  # 10 in [10, 20)
    assert out[9]["n"] == 1 and out[9]["hi"] == 100.0  # max clamped
    const = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    (only,) = equiwidth_histogram(const, "v", 10).collect()
    assert only["bucket"] == 0 and only["n"] == 2


def test_equiwidth_histogram_excludes_nulls(spark, duck):
    """NULL values are excluded on BOTH engines (family convention) —
    previously the degenerate-case coalesce silently counted NULL rows
    into bucket 0 while lo/hi ignored them."""
    from pgverify_spark.operators.topk import (
        equiwidth_histogram,
        equiwidth_histogram_oracle_sql,
    )

    vals = [0.0, 1.0, None, None, 9.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r["bucket"]: r for r in equiwidth_histogram(df, "v", 3).collect()}
    assert sum(r["n"] for r in out.values()) == 3  # NULLs not counted
    assert out[0]["n"] == 2 and out[0]["lo"] == 0.0
    duck.execute("CREATE OR REPLACE TABLE _ew_null(v DOUBLE)")
    duck.executemany("INSERT INTO _ew_null VALUES (?)", [(v,) for v in vals])
    orc = dict(
        (r[0], r)
        for r in duck.execute(
            equiwidth_histogram_oracle_sql("_ew_null", "v", 3)
        ).fetchall()
    )
    assert {b: (r["n"], r["lo"], r["hi"]) for b, r in out.items()} == {
        b: (r[1], r[2], r[3]) for b, r in orc.items()
    }
    duck.execute("DROP TABLE _ew_null")


def test_hll_overlap_ppm_floor_matches_duckdb(spark, duck):
    """jaccard_ppm floors before the BIGINT cast: Spark's double cast
    truncates toward zero while DuckDB's rounds half-up, so a bare
    CAST diverged whenever the fractional ppm >= .5 (r10 advice).
    Construct sides whose ppm has a large fractional part and assert
    the two engines emit the SAME integer."""
    from pgverify_spark.operators.sketch import hll_overlap, hll_overlap_oracle_sql

    rows = [("a", i) for i in range(200)] + [("b", i) for i in range(100, 400)]
    df = spark.createDataFrame(rows, "s string, v long")
    (sp,) = hll_overlap(df, "v", "s").collect()
    duck.execute("CREATE OR REPLACE TABLE _hov(s VARCHAR, v BIGINT)")
    duck.executemany("INSERT INTO _hov VALUES (?, ?)", rows)
    (orc,) = duck.execute(hll_overlap_oracle_sql("_hov", "v", "s")).fetchall()
    assert sp["jaccard_ppm"] == orc[10]
    # floor semantics: ppm == floor(clamped_intersection / union * 1e6)
    # (±1 absorbs est_intersection's 6-decimal display rounding)
    import math

    expect = math.floor(max(sp["est_intersection"], 0.0) / sp["est_distinct_u"] * 1e6)
    assert abs(sp["jaccard_ppm"] - expect) <= 1
    duck.execute("DROP TABLE _hov")


def test_capped_sample_snapshot_splice(spark, sf_dir, tmp_path):
    """Capped (KMV bottom-k per day) sample state: splice == capped
    from-scratch, state is FLAT at cap x days regardless of day volume,
    and the whole-state trim equals the straight bottom-k of the
    mutated table's sample (the trim identity the oracle twin checks)."""
    from pgverify_spark.functions import timecol
    from pgverify_spark.operators import rollup
    from pgverify_spark.operators.sketch import (
        quantiles_from_sample,
        sample_select,
        sample_trim,
    )

    rate, cap = 300_000, 50
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = timecol.bucket_sql(events, timecol.US_PER_DAY)
    state = str(tmp_path / "qs_cap")
    rollup.write_sample_snapshot(
        events, state, rate_ppm=rate, cap_per_day=cap
    )
    # flat state: every day holds at most cap rows
    per_day = rollup.read_sample_snapshot(spark, state).groupBy("day").count()
    assert per_day.filter(f"count > {cap}").count() == 0

    mutated = events.filter(f"{day} <> 19724").selectExpr(
        "event_id", "ts", "user_id", "event_type",
        f"CASE WHEN {day} = 19723 AND event_id % 7 = 0 "
        "THEN value + 50 ELSE value END AS value",
        "props",
    )
    spliced = sorted(map(tuple, rollup.update_sample_snapshot(
        spark, mutated, state, (19723, 19724),
        rate_ppm=rate, cap_per_day=cap,
    ).collect()))
    # capped splice == capped from-scratch state
    scratch_state = str(tmp_path / "qs_cap_scratch")
    rollup.write_sample_snapshot(
        mutated, scratch_state, rate_ppm=rate, cap_per_day=cap
    )
    scratch = sorted(map(tuple, rollup.update_sample_snapshot(
        spark, mutated, scratch_state, (),
        rate_ppm=rate, cap_per_day=cap,
    ).collect()))
    assert spliced == scratch
    # ... == straight bottom-cap of the mutated table's sample (KMV)
    direct = sorted(map(tuple, quantiles_from_sample(
        sample_trim(sample_select(mutated, "value", "event_id", rate), cap)
    ).collect()))
    assert spliced == direct
    # and the cap actually BINDS at this SF (the test is not vacuous)
    n_uncapped = sample_select(mutated, "value", "event_id", rate).count()
    assert n_uncapped > cap


def test_salted_credit_pairs_bit_identical(spark, sf_dir):
    """salt > 1 spreads the hot-user pair build across tasks but every
    (conv, touch) pair still matches exactly once — outputs are
    bit-identical to the unsalted plan for every credit model."""
    from pgverify_spark.operators import funnel as fm

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert sorted(map(tuple, fm.attribute_multi_touch(events, salt=8).collect())) == \
        sorted(map(tuple, fm.attribute_multi_touch(events).collect()))
    assert sorted(map(tuple, fm.attribution_report(events, salt=8).collect())) == \
        sorted(map(tuple, fm.attribution_report(events).collect()))


def test_dup_clusters_copartitioned_round_plan(spark):
    """r13: the propagation round must consume the persisted edge cache
    co-partitioned — ShuffledHashJoin with NO Exchange between the join
    and the InMemoryTableScan (the pre-r13 shape broadcast labels per
    round locally and would shuffle the E-sized edge relation per round
    past broadcast scale) — and the rewrite must not change labels."""
    import pyspark.sql.dataframe as _m  # noqa: F401

    from pgverify_spark.operators import dedup

    # a chain + a clique + an isolated pair: needs >1 round to converge
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")

    cls = type(pairs)
    captured = []
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        captured.append(
            self._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        return orig(self, eager)

    cls.localCheckpoint = spy
    try:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dup_clusters(pairs).collect()
        }
    finally:
        cls.localCheckpoint = orig
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    round_plans = [p for p in captured if "least(cluster_id" in p]
    assert round_plans, "no propagation round captured"
    plan = round_plans[0]
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    for i, ln in enumerate(lines):
        if "InMemoryTableScan" in ln and "InMemoryRelation" not in ln:
            above = " ".join(lines[max(0, i - 2):i])
            assert "Exchange" not in above, (
                "edge cache re-exchanged inside a round:\n" + above
            )
            break
    else:
        raise AssertionError("round plan has no InMemoryTableScan (edge cache)")

    # empty pair stream: fast path returns an empty labels relation
    empty = pairs.filter("doc_a < 0")
    assert dedup.dup_clusters(empty).collect() == []
