"""Structured Streaming: incremental fingerprint equals batch fingerprint
after ingesting the same rows in chunks; windowed counts match batch."""

import pytest
from pyspark.sql import functions as F

from pgverify_spark.config import VerifyConfig
from pgverify_spark.functions.timecol import US_PER_WEEK, bucket_sql
from pgverify_spark.operators.fingerprint import additive_fingerprint
from pgverify_spark.registry import _chunks_by, _replay
from pgverify_spark.sources.parquet import ParquetTarget
from pgverify_spark.streaming.incremental import (
    finalize_additive_fingerprint,
    finalize_stateful_bucket_fingerprint,
    streaming_additive_fingerprint,
    streaming_stateful_bucket_fingerprint,
    streaming_windowed_counts,
)

CFG = VerifyConfig()

pytestmark = pytest.mark.usefixtures("few_state_partitions")


def test_replay_feeds_one_batch_per_chunk_in_order(spark, tmp_path):
    """The replay layout every streaming replay uses, pinned: each chunk
    is its own non-empty micro-batch, fed in list order, and _chunks_by
    orders its keys as numbers (key 9 before 10, which a string sort
    feeds first).  A hashed ``repartition(4, "chunk")`` write folds three
    of these four chunks into one file and runs 2 non-empty batches."""
    df = spark.createDataFrame(
        [(k, i) for k in (9, 10, 11, 12) for i in range(k - 8)], "k int, i int"
    )
    seen = []
    _replay(
        spark,
        _chunks_by(df, "k"),
        lambda sdf, _: sdf.writeStream.foreachBatch(
            lambda b, bid: seen.append((bid, b.count()))
        ),
        str(tmp_path),
    )
    assert [n for _, n in sorted(seen) if n] == [1, 2, 3, 4]


def test_streaming_additive_fingerprint_matches_batch(spark, sf_dir, tmp_path):
    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    tschema = src.table_schema(spark, "events")
    _replay(
        spark,
        _chunks_by(events, "event_id % 4", range(4)),
        lambda sdf, _: (
            streaming_additive_fingerprint(sdf, tschema, CFG, buckets=64)
            .writeStream.outputMode("complete")
            .format("memory").queryName("fp_state")
        ),
        str(tmp_path),
    )
    streamed = finalize_additive_fingerprint(spark.table("fp_state"))
    batch = additive_fingerprint(events, tschema, CFG).collect()[0].fp
    assert streamed == batch
    # bounded state: at most `buckets` rows
    assert spark.table("fp_state").count() <= 64


def test_stateful_bucket_fingerprint_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState fold across micro-batches == batch additive."""
    src = ParquetTarget("t", sf_dir)
    events = src.read(spark, "events")
    tschema = src.table_schema(spark, "events")
    _replay(
        spark,
        _chunks_by(events, "event_id % 4", range(4)),
        lambda sdf, _: (
            streaming_stateful_bucket_fingerprint(sdf, tschema, CFG, buckets=16)
            .writeStream.outputMode("update")
            .format("memory").queryName("bucket_state")
        ),
        str(tmp_path),
    )
    streamed = finalize_stateful_bucket_fingerprint(spark.table("bucket_state"))
    batch = additive_fingerprint(events, tschema, CFG).collect()[0].fp
    assert streamed == batch
    # emit-on-change: multiple micro-batches touched at least one bucket
    assert spark.table("bucket_state").selectExpr("max(updates)").collect()[0][0] >= 2


def test_streaming_windowed_counts_matches_batch(spark, sf_dir, tmp_path):
    events = ParquetTarget("t", sf_dir).read(spark, "events")
    _replay(
        spark,
        _chunks_by(events, "event_id % 4", range(4)),
        lambda sdf, _: (
            streaming_windowed_counts(sdf, window="6 hours", watermark="1 hour")
            .writeStream.outputMode("complete")
            .format("memory").queryName("win_counts")
        ),
        str(tmp_path),
    )
    got = sorted(map(tuple, spark.table("win_counts").collect()))
    want = sorted(
        map(tuple, streaming_windowed_counts(events, window="6 hours").collect())
    )
    assert got == want and got


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir, tmp_path):
    """The set of surviving content hashes (and kept count) equals the
    batch distinct, regardless of arrival order/chunking; duplicates
    injected across different chunks so cross-micro-batch state is
    actually exercised."""
    from pgverify_spark.streaming.incremental import streaming_dedup

    docs = ParquetTarget("t", sf_dir).read(spark, "documents")
    # doc_id + 1000001: each duplicate lands one chunk after its original
    dup = docs.filter("doc_id % 3 = 0").selectExpr(
        "doc_id + 1000001 AS doc_id", "text", "lang", "source", "n_chars"
    )
    both = docs.unionByName(dup)
    _replay(
        spark,
        _chunks_by(both, "doc_id % 4", range(4)),
        lambda sdf, _: (
            streaming_dedup(sdf).writeStream.outputMode("append")
            .format("memory").queryName("dedup_out")
        ),
        str(tmp_path),
    )
    kept = spark.table("dedup_out")
    batch_hashes = {
        r.h
        for r in both.selectExpr(
            "md5(lower(regexp_replace(trim(text), '\\\\s+', ' '))) AS h"
        ).distinct().collect()
    }
    got_hashes = {r.content_md5 for r in kept.collect()}
    assert got_hashes == batch_hashes
    assert kept.count() == len(batch_hashes)


def test_streaming_dedup_bounded_state_expires(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics, pinned: a duplicate
    within the horizon is dropped; a recurrence AFTER the horizon is
    re-admitted (the deliberate bounded-state trade); distinct content
    is never dropped.  Chunks are fed strictly in event-time order so
    watermark progression is deterministic."""
    import glob
    import shutil

    from pgverify_spark.streaming.incremental import streaming_dedup_bounded

    schema = "doc_id bigint, ts timestamp, text string"
    chunks = [
        [(1, "2020-01-01 00:00:00", "hello world")],         # kept (first)
        [(2, "2020-01-02 00:00:00", "hello world")],         # dup within 30d: dropped
        [(3, "2020-03-15 00:00:00", "something else")],      # kept; advances watermark
        [(4, "2020-03-16 00:00:00", "hello world")],         # first-seen expired: re-admitted
    ]
    stream_in = tmp_path / "in"
    stream_in.mkdir()
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_in))
    )
    q = (
        streaming_dedup_bounded(sdf, horizon="30 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_bounded")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        for i, rows in enumerate(chunks):
            df = spark.createDataFrame(
                [(d, __import__("datetime").datetime.fromisoformat(t), x) for d, t, x in rows],
                schema,
            )
            cdir = str(tmp_path / f"c{i}")
            df.coalesce(1).write.mode("overwrite").parquet(cdir)
            for f in glob.glob(f"{cdir}/*.parquet"):
                shutil.copy(f, str(stream_in / f"c{i:02d}.parquet"))
            q.processAllAvailable()
        kept = {r["doc_id"] for r in spark.table("dedup_bounded").collect()}
    finally:
        q.stop()
    assert kept == {1, 3, 4}, kept


def test_streaming_session_rollup_matches_batch_sessionize(spark, sf_dir, tmp_path):
    """Native session_window streaming sessions == batch lag+cumsum
    sessions over a time-ordered weekly replay (the watermark contract:
    feeding week k+1 only after week k means no event is ever behind the
    watermark, so nothing can be late-dropped and the result is
    deterministic — arbitrary-order chunks make dropping a timing race)."""
    from pgverify_spark.operators.rollup import sessionize
    from pgverify_spark.streaming.incremental import streaming_session_rollup

    df = ParquetTarget("t", sf_dir).read(spark, "events")
    _replay(
        spark,
        _chunks_by(df, bucket_sql(df, US_PER_WEEK)),
        lambda sdf, _: (
            streaming_session_rollup(sdf).writeStream.outputMode("complete")
            .format("memory").queryName("sess_state")
        ),
        str(tmp_path),
    )
    streamed = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.sum_value)
        for r in spark.table("sess_state").collect()
    }
    batch = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.sum_value)
        for r in sessionize(df).collect()
    }
    assert streamed == batch


def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Streaming funnel over time-ordered chunks == batch funnel: the
    anchored fold is a left fold, so prefix-then-suffix folding is
    identical when chunks respect event-time order."""
    from pgverify_spark.operators.funnel import funnel
    from pgverify_spark.streaming.funnel import (
        finalize_streaming_funnel,
        streaming_funnel_state,
    )

    df = ParquetTarget("t", sf_dir).read(spark, "events")
    gap = 86_400_000_000
    # weekly time-ordered chunks (type-adaptive week bucket), one
    # micro-batch each so micro-batches can't reorder them
    weeks = _chunks_by(df, bucket_sql(df, US_PER_WEEK))
    assert len(weeks) >= 4
    _replay(
        spark,
        weeks,
        lambda sdf, _: (
            streaming_funnel_state(sdf, max_gap_us=gap)
            .writeStream.outputMode("update")
            .format("memory").queryName("funnel_state")
        ),
        str(tmp_path),
    )
    streamed = finalize_streaming_funnel(spark.table("funnel_state"))
    batch = [tuple(r) for r in funnel(df, max_gap_us=gap).collect()]
    assert sorted(streamed) == sorted(batch)
    # state emits only on change: every user's final stage came from a
    # bounded number of updates (at most one per week + initial)
    em = spark.table("funnel_state").groupBy("user_id").count().collect()
    assert all(r["count"] <= len(weeks) + 1 for r in em)


def test_streaming_windowed_counts_late_data_within_watermark(
    spark, sf_dir, tmp_path
):
    """Watermark semantics under OUT-OF-ORDER delivery: one in five
    events arrives a full day late (delivered with the next day's
    chunk), the watermark is 3 days, and the APPEND-mode finalized
    output still equals batch replay over ALL events — late-but-within-
    watermark rows are incorporated before their window finalizes, and
    each window is emitted exactly once.  (The other streaming tests
    feed time-ordered chunks, where nothing is ever late; this is the
    late-data half of the watermark contract.)"""
    import glob
    import shutil

    from pgverify_spark.functions.timecol import US_PER_DAY, bucket_sql

    df = ParquetTarget("t", sf_dir).read(spark, "events")
    # delivery chunk = event-time day, except stragglers (every 5th
    # event) which ship one day late — lateness ≤ 24h < the 3d watermark
    day = bucket_sql(df, US_PER_DAY)
    (
        df.withColumn(
            "dchunk",
            (F.expr(day) + F.expr("CAST(event_id % 5 = 0 AS INT)")).cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("dchunk")
        .parquet(str(tmp_path / "days"))
    )
    stream_in = tmp_path / "in"
    stream_in.mkdir()
    sdf = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_in))
    )
    q = (
        streaming_windowed_counts(sdf, window="6 hours", watermark="3 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wlate")
        .option("checkpointLocation", str(tmp_path / "ck_wlate"))
        .start()
    )
    try:
        for i, dd in enumerate(sorted(glob.glob(str(tmp_path / "days" / "dchunk=*")))):
            for j, f in enumerate(sorted(glob.glob(f"{dd}/*.parquet"))):
                shutil.copy(f, str(stream_in / f"d{i:03d}_{j}.parquet"))
            q.processAllAvailable()
        # flush: a far-future sentinel advances the watermark past every
        # real window so append mode finalizes them (two sentinel files
        # so the post-watermark-advance batch also fires)
        ts_type = dict(df.dtypes)["ts"]
        for k, when in enumerate(("2031-01-01 00:00:00", "2031-01-02 00:00:00")):
            flush = (
                df.limit(1)
                .withColumn("ts", F.lit(when).cast(ts_type))
                .withColumn("event_type", F.lit("flush"))
            )
            fdir = str(tmp_path / f"flush{k}")
            flush.coalesce(1).write.mode("overwrite").parquet(fdir)
            for f in glob.glob(f"{fdir}/*.parquet"):
                shutil.copy(f, str(stream_in / f"zz_flush{k}.parquet"))
            q.processAllAvailable()
        emitted = [
            r
            for r in spark.table("wlate").collect()
            if r["event_type"] != "flush"
        ]
    finally:
        q.stop()
    # append emits each finalized window exactly once
    keys = [(r["win_start"], r["event_type"]) for r in emitted]
    assert len(keys) == len(set(keys)), "window emitted more than once"
    streamed = {
        (r["win_start"], r["win_end"], r["event_type"], r["n_events"], r["value_sum"])
        for r in emitted
    }
    batch = {
        tuple(r)
        for r in streaming_windowed_counts(
            df, window="6 hours", watermark="3 days"
        ).collect()  # watermark is a no-op on a batch frame
    }
    assert streamed == batch, "late-within-watermark rows were lost"


def test_streaming_session_rollup_late_data_within_watermark(
    spark, sf_dir, tmp_path
):
    """session_window under OUT-OF-ORDER delivery: stragglers arrive a
    day late under a 3-day watermark, and the append-mode finalized
    sessions still equal batch sessionize over ALL events — late rows
    merge into (or re-split) their session before the watermark
    finalizes it.  The time-ordered replay test covers the no-late
    case; this is the late-data half of the session contract."""
    import glob
    import shutil

    from pgverify_spark.functions.timecol import US_PER_DAY, bucket_sql
    from pgverify_spark.operators.rollup import sessionize
    from pgverify_spark.streaming.incremental import streaming_session_rollup

    df = ParquetTarget("t", sf_dir).read(spark, "events")
    day = bucket_sql(df, US_PER_DAY)
    (
        df.withColumn(
            "dchunk",
            (F.expr(day) + F.expr("CAST(event_id % 5 = 0 AS INT)")).cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("dchunk")
        .parquet(str(tmp_path / "days"))
    )
    stream_in = tmp_path / "in"
    stream_in.mkdir()
    sdf = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_in))
    )
    # 3-day watermark: the 1-day-late stragglers are always inside it
    rollup_df = streaming_session_rollup(sdf, watermark="3 days")
    q = (
        rollup_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_late")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .start()
    )
    try:
        for i, dd in enumerate(sorted(glob.glob(str(tmp_path / "days" / "dchunk=*")))):
            for j, f in enumerate(sorted(glob.glob(f"{dd}/*.parquet"))):
                shutil.copy(f, str(stream_in / f"d{i:03d}_{j}.parquet"))
            q.processAllAvailable()
        ts_type = dict(df.dtypes)["ts"]
        for k, when in enumerate(("2031-01-01 00:00:00", "2031-01-02 00:00:00")):
            flush = df.limit(1).withColumn("ts", F.lit(when).cast(ts_type))
            fdir = str(tmp_path / f"flush{k}")
            flush.coalesce(1).write.mode("overwrite").parquet(fdir)
            for f in glob.glob(f"{fdir}/*.parquet"):
                shutil.copy(f, str(stream_in / f"zz_flush{k}.parquet"))
            q.processAllAvailable()
        emitted = spark.table("sess_late").collect()
    finally:
        q.stop()
    flush_users = {r[0] for r in df.limit(1).select("user_id").collect()}
    streamed = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.sum_value)
        for r in emitted
        # drop the flush sentinels: real events end in 2001; the
        # sentinels live in 2031 (epoch us > year-2030 cutoff)
        if r.start_us < 1_900_000_000_000_000
    }
    batch = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.sum_value)
        for r in sessionize(df).collect()
    }
    assert streamed == batch, "late-within-watermark session rows lost or split"
    assert flush_users  # fixture sanity


def test_streaming_kmv_matches_batch(spark, sf_dir, tmp_path):
    """KMV state merge is order-insensitive (set-union + truncate), so an
    arbitrary (not time-ordered) chunking converges to the batch sketch."""
    from pgverify_spark.operators.sketch import kmv_sketch
    from pgverify_spark.streaming.sketch import (
        finalize_streaming_kmv,
        streaming_kmv_state,
    )

    docs = ParquetTarget("t", sf_dir).read(spark, "documents")
    _replay(
        spark,
        _chunks_by(docs, "doc_id % 4", range(4)),
        lambda sdf, _: (
            streaming_kmv_state(sdf, "text", "lang", 64)
            .writeStream.outputMode("update")
            .format("memory").queryName("kmv_state")
        ),
        str(tmp_path),
    )
    streamed = finalize_streaming_kmv(spark.table("kmv_state"))
    batch = sorted(map(tuple, kmv_sketch(docs, "text", "lang", 64).collect()))
    assert streamed == batch
    # bounded state/output: each group emitted at most once per micro-batch
    em = spark.table("kmv_state").groupBy("grp").count().collect()
    assert all(r["count"] <= 4 for r in em)


def test_streaming_hll_matches_batch(spark, sf_dir, tmp_path):
    """HLL registers fold by element-wise max (order-insensitive), and
    the finalize runs the BATCH summary over the final registers — so
    an arbitrary chunking equals hll_distinct bit-for-bit."""
    from pgverify_spark.operators.sketch import hll_distinct
    from pgverify_spark.streaming.sketch import (
        finalize_streaming_hll,
        streaming_hll_state,
    )

    events = ParquetTarget("t", sf_dir).read(spark, "events")
    _replay(
        spark,
        _chunks_by(events, "event_id % 4", range(4)),
        lambda sdf, _: (
            streaming_hll_state(sdf, "user_id", "event_type")
            .writeStream.outputMode("update")
            .format("memory").queryName("hll_state")
        ),
        str(tmp_path),
    )
    streamed = sorted(map(tuple, finalize_streaming_hll(spark.table("hll_state")).collect()))
    batch = sorted(map(tuple, hll_distinct(events, "user_id", "event_type").collect()))
    assert streamed == batch
    # bounded emission: a group re-emits only when a register grew
    em = spark.table("hll_state").groupBy("grp").count().collect()
    assert all(r["count"] <= 4 for r in em)


def test_streaming_debounce_matches_batch(spark, sf_dir, tmp_path):
    """Per-key last-seen left fold: streamed kept events equal the batch
    debounce under time-ordered weekly replay."""
    from pgverify_spark.operators.rollup import debounce
    from pgverify_spark.streaming.incremental import streaming_debounce

    events = ParquetTarget("t", sf_dir).read(spark, "events")
    win = 4 * 3600 * 1_000_000
    _replay(
        spark,
        _chunks_by(events, bucket_sql(events, US_PER_WEEK)),
        lambda sdf, _: (
            streaming_debounce(sdf, win).writeStream.outputMode("append")
            .format("memory").queryName("sdeb_state")
        ),
        str(tmp_path),
    )
    streamed = sorted(map(tuple, spark.table("sdeb_state").collect()))
    batch = sorted(map(tuple, debounce(events, win).collect()))
    assert streamed == batch


def test_streaming_constraint_report_matches_batch(spark, sf_dir, tmp_path):
    """Additive counters: the monitor's final state equals the batch
    report over the same data; unique checks are rejected loudly."""
    import pytest as _pytest

    from pgverify_spark.operators import constraints as con
    from pgverify_spark.streaming.constraints import (
        finalize_streaming_constraints,
        streaming_constraint_counts,
    )

    orders = ParquetTarget("t", sf_dir).read(spark, "orders")
    suite = [
        con.not_null("o_custkey"),
        con.accepted_values("o_orderstatus", ("O", "F")),
        con.in_range("o_totalprice", 0, 200000),
        con.matches("o_orderpriority", "^[1-3]-"),
    ]
    _replay(
        spark,
        _chunks_by(orders, "o_orderkey % 4", range(4)),
        lambda sdf, _: (
            streaming_constraint_counts(sdf, suite)
            .writeStream.outputMode("update")
            .format("memory").queryName("scon_state")
        ),
        str(tmp_path),
    )
    streamed = sorted(map(tuple, finalize_streaming_constraints(
        spark.table("scon_state"), suite
    ).collect()))
    batch = sorted(map(tuple, con.constraint_report(orders, suite).collect()))
    assert streamed == batch
    with _pytest.raises(ValueError, match="unique"):
        streaming_constraint_counts(orders, [con.unique("o_orderkey")])


def test_streaming_countmin_matches_batch(spark, sf_dir, tmp_path):
    """Count-Min cells are purely additive, so the native streaming
    aggregate's final state equals the batch cell table under any
    chunking — and its state is bounded at d×w counters."""
    from pgverify_spark.operators.sketch import countmin_sketch
    from pgverify_spark.streaming.sketch import (
        finalize_streaming_countmin,
        streaming_countmin,
    )

    events = ParquetTarget("t", sf_dir).read(spark, "events")
    _replay(
        spark,
        _chunks_by(events, "event_id % 4", range(4)),
        lambda sdf, _: (
            streaming_countmin(sdf, "user_id", 4, 64)
            .writeStream.outputMode("update")
            .format("memory").queryName("scm_state")
        ),
        str(tmp_path),
    )
    streamed = sorted(
        map(tuple, finalize_streaming_countmin(spark.table("scm_state")).collect())
    )
    batch = sorted(map(tuple, countmin_sketch(events, "user_id", 4, 64).collect()))
    assert streamed == batch
    assert len(streamed) <= 4 * 64  # bounded state


def test_streaming_bloom_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """Stateless probe + single per-doc aggregation: the streamed report
    equals the batch bloom_decontaminate rows exactly (docs arrive whole,
    so each doc finalizes in its carrying micro-batch)."""
    from pgverify_spark.operators.contamination import bloom_decontaminate
    from pgverify_spark.streaming.incremental import (
        bloom_words,
        streaming_bloom_decontaminate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = bloom_words(docs)
    train = docs.filter("doc_id % 10 <> 0")
    _replay(
        spark,
        _chunks_by(train, "doc_id % 3", range(3)),
        lambda sdf, _: (
            streaming_bloom_decontaminate(sdf, words)
            .writeStream.outputMode("update")
            .format("memory").queryName("sbloom_test")
        ),
        str(tmp_path),
    )
    streamed = {tuple(r) for r in spark.table("sbloom_test").collect()}
    batch = {tuple(r) for r in bloom_decontaminate(docs).collect()}
    assert streamed == batch


def test_streaming_lm_scores_matches_batch(spark, sf_dir, tmp_path):
    """Score-at-ingest against an offline-trained model: replaying the
    training corpus through the stream reproduces the batch scores
    exactly (stateless probe, one per-doc aggregation)."""
    from pgverify_spark.operators.lm import bigram_lm_scores, bigram_model
    from pgverify_spark.streaming.incremental import streaming_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = bigram_model(docs)
    _replay(
        spark,
        _chunks_by(docs, "doc_id % 3", range(3)),
        lambda sdf, _: (
            streaming_lm_scores(sdf, model).writeStream.outputMode("update")
            .format("memory").queryName("slm_test")
        ),
        str(tmp_path),
    )
    streamed = {tuple(r) for r in spark.table("slm_test").collect()}
    batch = {tuple(r) for r in bigram_lm_scores(docs).collect()}
    assert streamed == batch


def test_streaming_lsh_ingest_probe_matches_batch(spark, sf_dir, tmp_path):
    """Per-batch probes of the persisted LSH index, unioned over the
    stream, must equal the one-shot cross-corpus run (probes are
    independent per document)."""
    from pgverify_spark.operators import dedup
    from pgverify_spark.streaming.incremental import streaming_lsh_ingest_probe

    docs = ParquetTarget("t", sf_dir).read(spark, "documents")
    corpus = docs.filter("doc_id % 10 <> 7")
    new = docs.filter("doc_id % 10 = 7")
    dedup.write_lsh_index(corpus, "t_stream_lsh", str(tmp_path / "idx"), 16)
    _replay(
        spark,
        _chunks_by(new, "doc_id % 4", range(4)),
        lambda sdf, tmp: streaming_lsh_ingest_probe(
            sdf, "t_stream_lsh", f"{tmp}/out", 0.3
        ),
        str(tmp_path),
    )
    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "out")).collect())
    )
    want = sorted(
        map(tuple, dedup.cross_corpus_lsh_pairs(new, corpus, 0.3).collect())
    )
    assert got == want and len(got) > 0


def test_streaming_sample_quantiles_match_batch(spark, sf_dir, tmp_path):
    """The persisted sample store accumulated over micro-batches yields
    EXACTLY the batch sampled_quantiles (sample-of-union property) —
    under an arbitrary chunking of the input."""
    from pgverify_spark.operators.sketch import sampled_quantiles
    from pgverify_spark.streaming.sketch import (
        finalize_streaming_quantiles,
        streaming_sample_quantiles,
    )

    orders = ParquetTarget("t", sf_dir).read(spark, "orders")
    chunks = _chunks_by(orders, "o_orderkey % 4", range(4))
    # high rate: sf0.001 orders is small, keep the sample non-trivial
    _replay(
        spark,
        chunks,
        lambda sdf, tmp: streaming_sample_quantiles(
            sdf, "o_totalprice", "o_orderkey", f"{tmp}/sample",
            rate_ppm=500_000,
        ),
        str(tmp_path),
    )
    got = sorted(
        map(tuple, finalize_streaming_quantiles(spark, str(tmp_path / "sample")).collect())
    )
    want = sorted(
        map(
            tuple,
            sampled_quantiles(
                orders, "o_totalprice", "o_orderkey", rate_ppm=500_000
            ).collect(),
        )
    )
    assert got == want and len(got) == 5

    # Replay idempotency: foreachBatch is at-least-once, so a batch
    # re-fired after failure/restart (same batch_id, same input rows)
    # must REPLACE its own partition, not double-append — doubled
    # sample rows would shift row_number ranks and break the ==batch
    # contract just asserted.
    from pgverify_spark.streaming.sketch import _write_sample_batch

    replay_input = chunks[2]  # micro-batch 2 is chunk 2
    _write_sample_batch(
        replay_input, 2, "o_totalprice", "o_orderkey",
        str(tmp_path / "sample"), 500_000,
    )
    once = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "sample")).collect())
    )
    _write_sample_batch(  # the at-least-once duplicate delivery
        replay_input, 2, "o_totalprice", "o_orderkey",
        str(tmp_path / "sample"), 500_000,
    )
    twice = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "sample")).collect())
    )
    assert twice == once, "replayed batch double-appended its sample"


def test_stateful_bucket_registry_query_matches_oracle(spark, duck, sf_dir):
    """The REGISTERED stateful-fingerprint drive (one file per chunk,
    latest state per bucket) == its deterministic final-state DuckDB
    twin — the r8 closure of the formerly rows-only streaming entry.
    Pins both the oracle math (associative modular hsum,
    updates == count(DISTINCT chunk)) and the one-file-per-chunk replay
    the `updates` equality depends on."""
    import __spark_entry__ as entry

    fn = entry.queries()["streaming_stateful_bucket_fingerprint_events"]
    sql = entry.oracle_sql()["streaming_stateful_bucket_fingerprint_events"]
    s = sorted(map(tuple, fn(spark, sf_dir).collect()))
    d = sorted(map(tuple, duck.execute(sql).fetchall()))
    assert s == d and len(s) > 1
    # every bucket saw at least one update and counted rows
    assert all(r[1] > 0 and r[3] >= 1 for r in s)


def test_streaming_kmv_overlap_equals_batch(spark, sf_dir, tmp_path):
    """Streaming KMV set-ops: survivors merged across micro-batches and
    re-aggregated == the one-shot batch operator (the merge-then-trim
    subset argument), and batch replay is idempotent."""
    from pgverify_spark.operators import graph, sketch
    from pgverify_spark.streaming.sketch import (
        _write_kmv_overlap_batch,
        finalize_streaming_kmv_overlap,
        streaming_kmv_overlap,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def to_sides(df):
        from pgverify_spark.operators.util import carry_cached_deps

        edges = graph.doc_term_edges(df)
        return carry_cached_deps(
            edges, edges.selectExpr("doc_a % 2 = 0 AS side_a", "doc_b AS v")
        )

    chunks = _chunks_by(docs, "doc_id % 3", range(3))
    _replay(
        spark,
        chunks,
        lambda sdf, tmp: streaming_kmv_overlap(sdf, f"{tmp}/store", 64, to_sides),
        str(tmp_path),
    )
    got = finalize_streaming_kmv_overlap(spark, str(tmp_path / "store"), 64).collect()
    want = sketch.kmv_overlap(to_sides(docs), "v", "side_a", 64).collect()
    assert list(map(tuple, got)) == list(map(tuple, want))

    # replay idempotency: same batch_id re-fired replaces its partition
    replay = chunks[1]  # micro-batch 1 is chunk 1
    _write_kmv_overlap_batch(replay, 1, str(tmp_path / "store"), 64, to_sides)
    once = sorted(map(tuple, spark.read.parquet(str(tmp_path / "store")).collect()))
    _write_kmv_overlap_batch(replay, 1, str(tmp_path / "store"), 64, to_sides)
    twice = sorted(map(tuple, spark.read.parquet(str(tmp_path / "store")).collect()))
    assert twice == once


def test_streaming_attribution_matches_batch(spark, sf_dir, tmp_path):
    """Per-user last-touch state replayed in weekly event-time order
    equals the batch attribution row-for-row, direct bucket included;
    credit rows are append-mode final."""
    from pgverify_spark.operators.funnel import attribute_conversions
    from pgverify_spark.streaming.funnel import streaming_attribution

    df = ParquetTarget("t", sf_dir).read(spark, "events")
    _replay(
        spark,
        _chunks_by(df, bucket_sql(df, US_PER_WEEK)),
        lambda sdf, _: (
            streaming_attribution(sdf).writeStream.outputMode("append")
            .format("memory").queryName("sattr_test")
        ),
        str(tmp_path),
    )
    streamed = sorted(map(tuple, spark.table("sattr_test").collect()))
    batch = sorted(map(tuple, attribute_conversions(df).collect()))
    assert streamed == batch


def test_streaming_scd2_matches_batch(spark, sf_dir, tmp_path):
    """Interval chaining replayed in weekly event-time order equals the
    batch SCD2 build row-for-row: closed intervals are emitted exactly
    once (final), and a user whose run spans several micro-batches
    leaves ONE latest open snapshot after finalize — superseded
    snapshots from earlier batches drop out."""
    from pgverify_spark.operators.rollup import scd2_intervals
    from pgverify_spark.streaming.scd2 import (
        finalize_streaming_scd2,
        streaming_scd2,
    )

    df = ParquetTarget("t", sf_dir).read(spark, "events")
    _replay(
        spark,
        _chunks_by(df, bucket_sql(df, US_PER_WEEK)),
        lambda sdf, _: (
            streaming_scd2(sdf).writeStream.outputMode("update")
            .format("memory").queryName("sscd2_test")
        ),
        str(tmp_path),
    )
    emitted = spark.table("sscd2_test")
    streamed = sorted(
        map(tuple, finalize_streaming_scd2(emitted).collect()),
        key=lambda t: (t[0], t[2]),
    )
    batch = sorted(
        map(tuple, scd2_intervals(df).collect()), key=lambda t: (t[0], t[2])
    )
    assert streamed == batch
    # exactly one open interval per user survives finalize, and closed
    # rows were emitted exactly once (append-final discipline)
    n_users = df.select("user_id").distinct().count()
    assert sum(1 for t in streamed if t[3] is None) == n_users
    closed = emitted.filter("closed = 1")
    assert closed.count() == closed.distinct().count()


def test_seal_and_compact_crash_recovery(spark, tmp_path):
    """A compaction that crashed between the generation rename and the
    sealed-dir deletes leaves duplicates; the next invocation's
    recovery removes them BEFORE compacting further (the _covers_upto
    marker), and rows are never lost."""
    from pgverify_spark.streaming.ingest import (
        _recover_interrupted_compaction,
        read_ingested,
        seal_and_compact,
    )

    store = str(tmp_path / "store")
    for b in range(4):
        spark.createDataFrame(
            [(b * 10 + i,) for i in range(5)], "v long"
        ).coalesce(1).write.parquet(f"{store}/batch_id={b}")
    stats = seal_and_compact(spark, store, upto_exclusive=3)
    assert stats["batches_sealed"] == 3 and stats["recovered_dirs"] == 0
    want = sorted(r.v for r in read_ingested(spark, store).collect())
    assert want == sorted(list(range(0, 5)) + list(range(10, 15))
                          + list(range(20, 25)) + list(range(30, 35)))
    # simulate the crash: resurrect a sealed dir AFTER the generation
    # landed (exactly the state a kill between rename and delete leaves)
    spark.createDataFrame(
        [(10 + i,) for i in range(5)], "v long"
    ).coalesce(1).write.parquet(f"{store}/batch_id=1")
    assert read_ingested(spark, store).count() == len(want) + 5  # dup visible
    removed = _recover_interrupted_compaction(spark, store)
    assert removed == 1
    assert sorted(r.v for r in read_ingested(spark, store).collect()) == want
    # a full seal_and_compact call also self-heals (recovery runs first)
    spark.createDataFrame(
        [(20 + i,) for i in range(5)], "v long"
    ).coalesce(1).write.parquet(f"{store}/batch_id=2")
    stats2 = seal_and_compact(spark, store, upto_exclusive=4)
    assert stats2["recovered_dirs"] == 1
    assert sorted(r.v for r in read_ingested(spark, store).collect()) == want
    # overstated bound must not poison recovery: seal with a huge
    # upto_exclusive, then ingest NEW batches — the marker records the
    # absorbed horizon (max sealed + 1), so recovery leaves them alone
    for b in (7, 8):
        spark.createDataFrame(
            [(b * 10 + i,) for i in range(3)], "v long"
        ).coalesce(1).write.parquet(f"{store}/batch_id={b}")
    seal_and_compact(spark, store, upto_exclusive=10**9)
    after = sorted(r.v for r in read_ingested(spark, store).collect())
    spark.createDataFrame([(999,)], "v long").coalesce(1).write.parquet(
        f"{store}/batch_id=9"
    )
    assert seal_and_compact(spark, store, upto_exclusive=10**9)[
        "recovered_dirs"
    ] == 0  # batch 9 > absorbed horizon: recovery must not delete it
    assert sorted(r.v for r in read_ingested(spark, store).collect()) == after + [999]


def test_compact_day_sample_store_output_identical(spark, sf_dir, tmp_path):
    """The streaming day-sample store compactor (r11 VERDICT item 3):
    merging sealed batch_id directories leaves the trailing-quantile
    and whole-store finalize outputs IDENTICAL while the data-file
    count drops; an unsealed (replayable) batch keeps its own
    directory."""
    import glob

    from pgverify_spark.streaming.sketch import (
        _write_day_sample_batch,
        compact_sample_store,
        finalize_streaming_quantiles,
        finalize_streaming_trailing_quantiles,
    )

    events = ParquetTarget("t", sf_dir).read(spark, "events")
    store = str(tmp_path / "daysample")
    # six micro-batches, arbitrary chunking on event_id
    for b in range(6):
        _write_day_sample_batch(
            events.filter(f"event_id % 6 = {b}"), b,
            "value", "event_id", store, 500_000,
        )
    before_trail = sorted(map(tuple, finalize_streaming_trailing_quantiles(
        spark, store, window_days=7
    ).collect()))
    before_whole = sorted(map(tuple, finalize_streaming_quantiles(
        spark, store
    ).collect()))
    files_before = len([
        f for f in glob.glob(f"{store}/batch_id=*/*")
        if not f.endswith(".crc") and "/_" not in f[len(store):]
    ])
    # seal batches 0..4 (checkpoint-committed); batch 5 stays replayable
    stats = compact_sample_store(spark, store, upto_exclusive=5)
    assert stats["batches_sealed"] == 5
    import os

    dirs = sorted(os.listdir(store))
    assert "batch_id=5" in dirs  # unsealed survives untouched
    assert not any(d.startswith("batch_id=0") for d in dirs)
    files_after = len([
        f for f in glob.glob(f"{store}/batch_id=*/*")
        if not f.endswith(".crc") and "/_" not in f[len(store):]
    ])
    assert files_after < files_before
    after_trail = sorted(map(tuple, finalize_streaming_trailing_quantiles(
        spark, store, window_days=7
    ).collect()))
    after_whole = sorted(map(tuple, finalize_streaming_quantiles(
        spark, store
    ).collect()))
    assert after_trail == before_trail
    assert after_whole == before_whole


def test_capped_compaction_drops_rows_preserves_capped_finalize(
    spark, sf_dir, tmp_path
):
    """Capped sealed-batch compaction: per-day KMV trim over the sealed
    set drops rows provably outside every future bottom-k — the capped
    finalize is IDENTICAL before/after while both file and row counts
    drop, restoring the hard days x cap state bound a long stream
    erodes."""
    from pgverify_spark.streaming.sketch import (
        _write_day_sample_batch,
        compact_sample_store,
        finalize_streaming_trailing_quantiles,
    )

    cap = 5
    events = ParquetTarget("t", sf_dir).read(spark, "events")
    store = str(tmp_path / "capstore")
    for b in range(6):
        _write_day_sample_batch(
            events.filter(f"event_id % 6 = {b}"), b,
            "value", "event_id", store, 500_000, cap,
        )
    before = sorted(map(tuple, finalize_streaming_trailing_quantiles(
        spark, store, window_days=7, cap_per_day=cap
    ).collect()))
    rows_before = spark.read.parquet(store).count()
    stats = compact_sample_store(
        spark, store, upto_exclusive=5, cap_per_day=cap
    )
    assert stats["batches_sealed"] == 5
    rows_after = spark.read.parquet(store).count()
    # per-(batch, day) trims union to > cap rows per day before
    # compaction; the capped merge restores <= cap per sealed day
    assert rows_after < rows_before
    after = sorted(map(tuple, finalize_streaming_trailing_quantiles(
        spark, store, window_days=7, cap_per_day=cap
    ).collect()))
    assert after == before
