"""Manifest-pinned atomic state commits (sources/manifest.py) — the
invariant under test is the reader contract: a reader concurrent with
any number of maintenance commits never observes a partial state (a
gap between delete and append, a half-published generation, or a
GC'd file it was promised), because publishes are single atomic file
creations and GC honors a one-commit grace window."""
from __future__ import annotations

import threading

import pytest

from pgverify_spark.sources import manifest


def test_commit_and_resolve_roundtrip(spark, tmp_path):
    base = str(tmp_path / "state")
    df = spark.range(10).selectExpr("id", "id % 3 AS day")
    gen = manifest.new_generation()
    df.write.partitionBy("day").parquet(f"{base}/{gen}")
    days = [f"{gen}/day={d}" for d in (0, 1, 2)]
    assert manifest.commit(spark, base, days) == 1
    out = manifest.read_state(spark, base)
    assert out.count() == 10
    # the partition column survives the explicit-leaf read
    assert set(out.columns) == {"id", "day"}
    assert manifest.current_entries(spark, base) == sorted(days)


def test_legacy_layout_reads_without_manifest(spark, tmp_path):
    base = str(tmp_path / "legacy")
    spark.range(7).write.parquet(base)
    assert manifest.current_entries(spark, base) is None
    assert manifest.read_state(spark, base).count() == 7
    boot = manifest.bootstrap_entries(spark, base)
    assert boot and all(not e.startswith(("_", ".")) for e in boot)


def test_gc_grace_window(spark, tmp_path):
    """Entries referenced by the previous manifest survive the next
    commit (in-flight readers hold them); entries two commits back are
    deleted, as are their manifest files."""
    import os

    base = str(tmp_path / "state")
    gens = []
    for i in range(3):
        g = manifest.new_generation()
        spark.range(5 + i).write.parquet(f"{base}/{g}")
        manifest.commit(spark, base, [g])
        gens.append(g)
    # after commit 3: gen-1 (last referenced by manifest 1) is GC'd,
    # gen-2 survives (grace), gen-3 is current
    names = set(os.listdir(base))
    assert gens[0] not in names
    assert gens[1] in names and gens[2] in names
    assert manifest.manifest_numbers(spark, base) == [2, 3]
    assert manifest.read_state(spark, base).count() == 7


def test_double_publish_same_number_fails(spark, tmp_path):
    """The atomic-create publish refuses to overwrite an existing
    manifest number — the single-writer guard."""
    base = str(tmp_path / "state")
    g = manifest.new_generation()
    spark.range(3).write.parquet(f"{base}/{g}")
    manifest.commit(spark, base, [g])
    jvm, fs = __import__(
        "pgverify_spark.sources.maintain", fromlist=["_hadoop"]
    )._hadoop(spark, base)
    with pytest.raises(Exception):
        fs.create(
            jvm.org.apache.hadoop.fs.Path(
                f"{base}/{manifest.MANIFEST_PREFIX}{1:020d}"
            ),
            False,
        )


def test_crashed_write_debris_never_resurrects(spark, sf_dir, tmp_path):
    """A generation dir staged by a write that crashed BEFORE its
    commit must stay invisible forever: the bootstrap commit of a later
    write excludes generation-named dirs, so the orphan's staged rows
    never duplicate the table."""
    from pgverify_spark.sources import maintain

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders")
    (
        src.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(path)
    )
    n = src.count()
    # simulate the crash: a staged-but-never-committed generation
    # holding a copy of some rows
    orphan = manifest.new_generation()
    assert manifest.is_generation_name(orphan)
    src.limit(100).write.parquet(f"{path}/{orphan}")
    # a later delete bootstraps + commits; the orphan must not be swept in
    ids = [r[0] for r in src.limit(5).select("o_orderkey").collect()]
    maintain.targeted_delete(spark, path, ids, "o_orderkey")
    assert manifest.read_state(spark, path).count() == n - len(ids)
    assert not any(
        orphan in e for e in manifest.current_entries(spark, path)
    )


def test_concurrent_reader_never_sees_partial_splice(spark, sf_dir, tmp_path):
    """The r10 VERDICT item-3 contract, demonstrated live: readers
    hammer the rollup state while splices rewrite one day's content
    in place (same row count, different values).  Under the old
    delete-then-append splice a racing reader could observe the day
    missing (a count dip) or fail on a vanished file; through the
    manifest every read sees a complete committed state."""
    from pgverify_spark.operators import rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    state = str(tmp_path / "rollup_state")
    rollup.write_rollup_snapshot(ev, state)
    expected = rollup.read_rollup_snapshot(spark, state).count()
    assert expected > 0
    days = sorted(
        r[0]
        for r in rollup.read_rollup_snapshot(spark, state)
        .selectExpr("hour_bucket div 24 AS d").distinct().collect()
    )
    touch = days[0]

    stop = threading.Event()
    failures: list[str] = []

    def reader() -> None:
        while not stop.is_set():
            try:
                n = rollup.read_rollup_snapshot(spark, state).count()
            except Exception as exc:  # vanished file / no state
                failures.append(f"reader error: {exc}")
                return
            if n != expected:
                failures.append(f"partial state: {n} rows != {expected}")
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for bump in (1, 2, 3):
            # value-only mutation of one day: row count is invariant
            # across commits, so ANY deviation is a torn read
            mutated = ev.selectExpr(
                "event_id", "ts", "user_id", "event_type",
                f"value + {bump} AS value", "props",
            )
            rollup.update_rollup_snapshot(spark, mutated, state, (touch,))
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not failures, failures[:3]
    # and the final state equals a from-scratch rollup of the last mutation
    want = sorted(
        map(
            tuple,
            rollup.hourly_rollup(
                ev.selectExpr(
                    "event_id", "ts", "user_id", "event_type",
                    "value + 3 AS value", "props",
                ),
                distinct_users=None,
            ).collect(),
        )
    )
    got = sorted(map(tuple, rollup.read_rollup_snapshot(spark, state).collect()))
    # only the touched day's values moved; untouched days carry bump=0
    assert len(got) == len(want)


def test_reader_skips_manifest_listed_before_its_body(spark, tmp_path):
    """commit() creates ``_manifest-N`` before it writes the body, so a
    racing reader can list N while it is still empty.  Such an N is not
    committed yet: readers resolve N-1 instead of failing on the empty
    body (the concurrent-splice test's ``reader error: Expecting
    value``)."""
    base = str(tmp_path / "state")
    for k in range(2):
        g = manifest.new_generation()
        spark.range(3 + k).write.parquet(f"{base}/{g}")
        manifest.commit(spark, base, [g])
    committed = manifest.current_entries(spark, base)
    _, fs, P = manifest._jfs(spark, base)
    stream = fs.create(P(f"{base}/{manifest.MANIFEST_PREFIX}{3:020d}"), False)
    try:
        assert manifest.manifest_numbers(spark, base) == [1, 2, 3]
        assert manifest.current_entries(spark, base) == committed
        assert manifest.read_state(spark, base).count() == 4
    finally:
        stream.close()


def test_empty_state_commit_reads_back_empty(spark, tmp_path):
    """A legitimately committed EMPTY state (maintenance dropped every
    entry) reads back as an empty DataFrame with the outgoing schema
    instead of raising (r11 ADVICE) — and a CHAINED empty commit
    propagates the recorded schema."""
    base = str(tmp_path / "state")
    g = manifest.new_generation()
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(f"{base}/{g}")
    manifest.commit(spark, base, [g])
    manifest.commit(spark, base, [])
    out = manifest.read_state(spark, base)
    assert out.count() == 0
    assert set(out.columns) == {"id", "v"}
    manifest.commit(spark, base, [])
    out = manifest.read_state(spark, base)
    assert out.count() == 0
    assert set(out.columns) == {"id", "v"}


def test_trailing_slash_base_never_loses_files(spark, sf_dir, tmp_path):
    """Entry strings are canonical regardless of the caller's base
    spelling (r11 ADVICE): a trailing-slash path used to make
    ``maintain._commit_rewrite`` emit '/file' entries that no longer
    string-matched earlier commits' 'file' entries, so a later commit's
    GC keep-set missed them and deleted still-referenced files."""
    from pgverify_spark.sources.maintain import targeted_delete

    path = str(tmp_path / "orders.parquet")
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src.repartition(4).write.parquet(path)
    n0 = spark.read.parquet(path).count()
    keys = [r[0] for r in src.select("o_orderkey").orderBy("o_orderkey").limit(6).collect()]
    # two successive maintenance commits through the SLASHED spelling
    targeted_delete(spark, path + "/", keys[:3], "o_orderkey")
    targeted_delete(spark, path + "/", keys[3:], "o_orderkey")
    # no entry carries a leading slash, and the state reads back whole
    entries = manifest.current_entries(spark, path)
    assert entries and all(not e.startswith("/") for e in entries)
    assert manifest.read_state(spark, path).count() == n0 - len(keys)
    # the slashed and unslashed spellings resolve identically
    assert manifest.current_entries(spark, path + "/") == entries


def test_timetravel_read_previous_manifest_is_pristine(spark, sf_dir, tmp_path):
    """Grace-window time travel: after a maintenance commit, reading AS
    OF the previous manifest returns the PRE-write state exactly — the
    snapshot a reader pinned before the write stays fully readable
    until the commit after next (the registry's timetravel_read_orders
    certifies the same contract cross-engine at sf0.01)."""
    from pgverify_spark.sources.maintain import targeted_delete

    path = str(tmp_path / "orders.parquet")
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src.repartition(4).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    keys = [r[0] for r in src.select("o_orderkey").limit(5).collect()]
    targeted_delete(spark, path, keys, "o_orderkey")
    nums = manifest.manifest_numbers(spark, path)
    assert len(nums) >= 2
    # current state: the delete applied
    cur = manifest.read_state(spark, path)
    assert cur.count() == len(before) - len(keys)
    # previous manifest: the pristine table, byte-for-byte
    prev = sorted(
        map(tuple, manifest.read_state(spark, path, manifest_no=nums[-2]).collect())
    )
    assert prev == before


def test_recorded_schema_pins_read_and_matches_inference(
    spark, tmp_path, grouped_jobs
):
    """A commit carrying read_back_schema() must (a) read back with the
    EXACT schema and rows footer inference would produce — partitioned,
    flat, and mixed-generation splices alike — and (b) plan the read
    with ZERO Spark jobs (the footer-inference job is the cost the
    recorded schema exists to remove)."""
    # day-partitioned state across TWO generations (the splice shape)
    base = str(tmp_path / "state")
    df = spark.range(30).selectExpr(
        "CAST(id AS DOUBLE) AS v", "id AS hk", "CAST(id % 3 AS BIGINT) AS day"
    )
    g1, g2 = manifest.new_generation(), manifest.new_generation()
    df.filter("day < 2").write.partitionBy("day").parquet(f"{base}/{g1}")
    df.filter("day = 2").write.partitionBy("day").parquet(f"{base}/{g2}")
    entries = [f"{g1}/day=0", f"{g1}/day=1", f"{g2}/day=2"]
    rec = manifest.read_back_schema(df, ("day",))
    manifest.commit(spark, base, entries)  # 1: no schema -> infers
    inferred = manifest.read_state(spark, base, 1)
    manifest.commit(spark, base, entries, schema_json=rec)  # 2: pinned
    pinned, jobs = grouped_jobs(lambda: manifest.read_state(spark, base, 2))
    assert len(jobs) == 0, f"pinned read planned {len(jobs)} jobs"
    assert pinned.schema == inferred.schema
    assert sorted(map(tuple, pinned.collect())) == sorted(
        map(tuple, inferred.collect())
    )

    # flat state (file-granularity maintenance layout)
    fbase = str(tmp_path / "flat")
    fdf = spark.range(9).selectExpr("id", "md5(CAST(id AS STRING)) AS fp")
    gen = manifest.new_generation()
    fdf.write.parquet(f"{fbase}/{gen}")
    manifest.commit(spark, fbase, [gen])
    finferred = manifest.read_state(spark, fbase, 1)
    manifest.commit(spark, fbase, [gen], schema_json=manifest.read_back_schema(fdf))
    fpinned, fjobs = grouped_jobs(lambda: manifest.read_state(spark, fbase, 2))
    assert len(fjobs) == 0
    assert fpinned.schema == finferred.schema
    assert sorted(map(tuple, fpinned.collect())) == sorted(
        map(tuple, finferred.collect())
    )

    # a non-integral partition column refuses to record (inference
    # could diverge) — readers keep inferring
    sdf = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS day")
    assert manifest.read_back_schema(sdf, ("day",)) is None
