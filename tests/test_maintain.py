"""Storage maintenance: targeted delete + small-file compaction
(sources/maintain.py) — the scale invariant under test is physical:
only the files that need touching are touched, asserted by mtime/name
on the survivors, not inferred from plans."""
from __future__ import annotations

import os

import pytest

from pgverify_spark.sources import maintain, manifest


def _files(path, spark=None):
    return {
        os.path.basename(f): (sz, os.path.getmtime(f))
        for f, sz in maintain._table_files(spark, path)
    }


def test_targeted_delete_rewrites_only_pruned_files(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders")
    (
        src.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(path)
    )
    before = _files(path)
    n_src = src.count()
    # ids from a narrow key range: at most 1-2 of the 8 range files
    # admit a match by footer stats
    lo, hi = src.selectExpr("min(o_orderkey)", "max(o_orderkey)").first()
    ids = [
        r[0]
        for r in src.filter(
            f"o_orderkey <= {lo + (hi - lo) // 20} AND o_orderkey % 3 = 0"
        ).select("o_orderkey").collect()
    ]
    assert ids
    stats = maintain.targeted_delete(spark, path, ids, "o_orderkey")
    assert stats["files_total"] == 8
    assert 1 <= stats["files_rewritten"] <= 2, stats
    assert stats["rows_deleted"] == len(ids)
    # survivors: every non-rewritten original is physically untouched
    after = _files(path, spark)
    untouched = set(before) & set(after)
    assert len(untouched) == 8 - stats["files_rewritten"]
    for name in untouched:
        assert before[name] == after[name]
    # content == original minus ids (manifest-resolved read)
    out = manifest.read_state(spark, path)
    assert out.count() == n_src - len(ids)
    assert out.filter(out["o_orderkey"].isin(ids[:50])).count() == 0
    assert out.exceptAll(src.join(
        spark.createDataFrame([(i,) for i in ids], "o_orderkey BIGINT"),
        "o_orderkey", "left_anti",
    )).count() == 0
    # idempotent: nothing left to delete, no sibling staging dirs leak
    again = maintain.targeted_delete(spark, path, ids, "o_orderkey")
    assert again["rows_deleted"] == 0
    assert not [d for d in os.listdir(tmp_path) if ".del-" in d or ".cmp-" in d]
    # the manifest GC keeps at most the last two manifests
    assert len(manifest.manifest_numbers(spark, path)) <= 2


def test_targeted_delete_no_candidates_is_free(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders")
    (
        src.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(path)
    )
    before = _files(path)
    hi = src.selectExpr("max(o_orderkey)").first()[0]
    stats = maintain.targeted_delete(spark, path, [hi + 10, hi + 11], "o_orderkey")
    assert stats == {"files_total": 4, "files_rewritten": 0, "rows_deleted": 0}
    assert _files(path) == before


def test_targeted_delete_missing_column_errors(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders")
    src.coalesce(1).write.parquet(path)
    with pytest.raises(ValueError, match="no column"):
        maintain.targeted_delete(spark, path, [1], "nope")


def test_streaming_ingest_replay_idempotent_and_compacts(spark, sf_dir, tmp_path):
    """streaming/ingest.py: batch partitions are replay-idempotent
    (re-running a batch's sink overwrites, never duplicates); sealed
    batches compact into one generation; unsealed batches survive."""
    from pgverify_spark.registry import _chunks_by, _replay
    from pgverify_spark.streaming.ingest import (
        _batch_dirs,
        read_ingested,
        seal_and_compact,
        streaming_ingest,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    store = str(tmp_path / "store")
    _replay(
        spark,
        _chunks_by(ev, "event_id % 4", range(4)),
        lambda sdf, _: streaming_ingest(sdf, store),
        str(tmp_path),
    )
    n = ev.count()
    assert sorted(_batch_dirs(store)) == [0, 1, 2, 3]
    assert read_ingested(spark, store).count() == n
    # replay of batch 2 (the foreachBatch failure contract): same rows
    # land in the same partition via dynamic overwrite -> no duplicates
    from pyspark.sql import functions as F

    replay = spark.read.parquet(str(_batch_dirs(store)[2])).withColumn(
        "batch_id", F.lit(2)
    )
    (
        replay.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("batch_id")
        .parquet(store)
    )
    assert read_ingested(spark, store).count() == n
    # seal batches 0-2 only (3 is the possibly-uncommitted newest)
    stats = seal_and_compact(spark, store, 3)
    assert stats["batches_sealed"] == 3
    assert stats["files_after"] <= stats["files_before"]
    dirs = _batch_dirs(store)
    assert sorted(dirs) == [-1, 3]  # generation + the unsealed batch
    assert read_ingested(spark, store).count() == n
    assert read_ingested(spark, store).exceptAll(ev).count() == 0
    # a second pass has <2 sealed dirs left below 4 -> no-op on them
    assert seal_and_compact(spark, store, 4)["batches_sealed"] == 0
    # generations are immutable and themselves compactable by the same
    # rule — but a single one stays put
    assert sorted(_batch_dirs(store)) == [-1, 3]


def test_shard_manifest_roundtrip_and_corruption(spark, sf_dir, tmp_path):
    """write_shards -> verify_shard_manifest is clean on an intact
    delivery; dropping one document from one shard flags exactly that
    shard (with doc counts and both fingerprints in the diff row)."""
    from pgverify_spark.operators import prep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "delivery")
    manifest = prep.write_shards(docs, path, n_shards=4)
    assert manifest.count() == 4
    assert prep.verify_shard_manifest(spark, path).count() == 0
    # corrupt shard 2: rewrite it minus one document
    sdir = f"{path}/shard=2"
    s2 = spark.read.parquet(sdir)
    victim = s2.selectExpr("min(doc_id)").first()[0]
    fixed = s2.filter(f"doc_id <> {victim}")
    staging = str(tmp_path / "s2fix")
    fixed.write.parquet(staging)
    import shutil

    shutil.rmtree(sdir)
    shutil.move(staging, sdir)
    bad = prep.verify_shard_manifest(spark, path).collect()
    assert [r["shard"] for r in bad] == [2]
    assert bad[0]["got_docs"] == bad[0]["want_docs"] - 1
    assert bad[0]["got_fp"] != bad[0]["want_fp"]


def test_compact_small_files_leaves_big_alone(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "events")
    # one "big" file + 12 small shards in the same directory
    big_src = str(tmp_path / "big")
    ev.filter("event_id % 4 = 0").coalesce(1).write.parquet(big_src)
    small_src = str(tmp_path / "small")
    ev.filter("event_id % 4 <> 0").repartition(12).write.parquet(small_src)
    os.makedirs(path)
    (big_file, big_sz), = maintain.list_data_files(big_src)
    os.rename(big_file, os.path.join(path, "part-big.parquet"))
    for i, (f, _) in enumerate(maintain.list_data_files(small_src)):
        os.rename(f, os.path.join(path, f"part-s{i:03d}.parquet"))
    before = _files(path)
    n_total = ev.count()

    stats = maintain.compact_small_files(
        spark, path, small_bytes=big_sz, target_bytes=10 * big_sz
    )
    assert stats["files_total"] == 13
    assert stats["files_compacted"] == 12
    assert stats["files_written"] == 1
    after = _files(path, spark)
    # the big file is untouched byte-for-byte-in-place
    assert after["part-big.parquet"] == before["part-big.parquet"]
    assert len(after) == 2
    # content identical (manifest-resolved read)
    out = manifest.read_state(spark, path)
    assert out.count() == n_total
    assert out.exceptAll(ev).count() == 0
    # second pass: one small file left -> no-op
    again = maintain.compact_small_files(
        spark, path, small_bytes=big_sz, target_bytes=10 * big_sz
    )
    assert again["files_compacted"] == 0
    assert _files(path, spark) == after
    # the manifest-native audit: a content-preserving commit diffs to
    # ZERO rows between the previous and current generations
    from pgverify_spark.registry import TESTDATA_TABLES

    assert (
        maintain.generation_diff(spark, path, TESTDATA_TABLES["events"]).count()
        == 0
    )


def test_generation_diff_names_deleted_rows(spark, sf_dir, tmp_path):
    """After a targeted delete, generation_diff between the previous
    and current committed states is exactly the removed rows (status
    only_left) — the takedown audit with no pre-write snapshot; a
    single-commit table refuses (nothing to audit against)."""
    import pytest as _pytest

    from pgverify_spark.registry import TESTDATA_TABLES

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders")
    (
        src.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(path)
    )
    schema = TESTDATA_TABLES["orders"]
    with _pytest.raises(ValueError, match="manifest commit"):
        maintain.generation_diff(spark, path, schema)
    ids = [
        r[0]
        for r in src.filter("o_orderkey % 500 = 3").select("o_orderkey").collect()
    ]
    maintain.targeted_delete(spark, path, ids, "o_orderkey")
    d = maintain.generation_diff(spark, path, schema)
    rows = d.collect()
    assert len(rows) == len(ids)
    assert all(r["status"] == "only_left" for r in rows)
    assert sorted(int(r["k"]) for r in rows) == sorted(ids)
