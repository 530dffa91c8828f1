"""CLI surface + JDBC SQL generation (golden-SQL tests mirroring the
reference's query_test.go strategy — no live database needed)."""

import subprocess
import sys

from pgverify_spark.config import VerifyConfig
from pgverify_spark.sources.jdbc import build_columns_query, build_tables_query


def test_build_targets_scheme_dispatch(tmp_path):
    """URI sniffing: known schemes dispatch, unknown schemes error with
    the valid list instead of silently becoming a ParquetTarget path
    (ADVICE r7), and existing paths always win over scheme shape."""
    import pytest

    from pgverify_spark.cli import build_targets
    from pgverify_spark.sources.files import FileTarget
    from pgverify_spark.sources.jdbc import JDBCTarget
    from pgverify_spark.sources.parquet import ParquetTarget

    d = str(tmp_path)
    got = build_targets(
        ["a", "b", "c", "d"],
        [f"parquet:{d}", f"csv:{d}", "jdbc:postgresql://h/db", d],
    )
    assert [type(t) for t in got] == [
        ParquetTarget, FileTarget, JDBCTarget, ParquetTarget,
    ]
    assert got[0].path == got[3].path == d
    # typo'd / unsupported scheme -> immediate, explicit error
    for bad in ("cvs:/nope", "avro:/nope", "parquete:/nope"):
        with pytest.raises(SystemExit, match="unrecognized target scheme"):
            build_targets(["x"], [bad])
    # a real local path containing ':' is NOT treated as a scheme
    weird = tmp_path / "a:b"
    weird.mkdir()
    (one,) = build_targets(["x"], [str(weird)])
    assert isinstance(one, ParquetTarget) and one.path == str(weird)


def test_tables_query_filters():
    cfg = VerifyConfig(
        exclude_schemas=("pg_catalog", "information_schema"),
        include_tables=("t1", "t2"),
    )
    sql = build_tables_query(cfg)
    assert "table_type != 'VIEW'" in sql
    assert "table_schema NOT IN ('pg_catalog', 'information_schema')" in sql
    assert "table_name IN ('t1', 't2')" in sql


def test_tables_query_inclusion_wins():
    cfg = VerifyConfig(include_schemas=("app",), exclude_schemas=("ignored",))
    sql = build_tables_query(cfg)
    assert "table_schema IN ('app')" in sql and "ignored" not in sql


def test_columns_query_shape():
    sql = build_columns_query("public", "orders")
    assert "LEFT OUTER JOIN information_schema.key_column_usage" in sql
    assert "LEFT OUTER JOIN information_schema.table_constraints" in sql
    assert "is_generated != 'ALWAYS'" in sql
    assert "c.table_name = 'orders'" in sql


def test_cli_end_to_end(sf_dir):
    """Agreeing targets -> exit 0 and a pivoted report on stdout."""
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "pgverify_spark.cli",
            sf_dir,
            sf_dir,
            "--tests",
            "rowcount,additive",
            "--include-tables",
            "region,nation",
            "--aliases",
            "a,b",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env={"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin", "HOME": "/root",
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")},
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "rowcount" in proc.stdout and "region" in proc.stdout


def test_cli_detects_mismatch(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    bad_dir = tmp_path / "bad"
    src.filter("r_regionkey <> 2").write.parquet(str(bad_dir / "region.parquet"))
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "pgverify_spark.cli",
            sf_dir,
            str(bad_dir),
            "--tests",
            "rowcount",
            "--include-tables",
            "region",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env={"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin", "HOME": "/root",
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")},
        cwd="/root/repo",
    )
    assert proc.returncode == 1
    assert "outputs differ" in proc.stderr


def test_cli_zorder_layout_mode(spark, sf_dir, tmp_path):
    """--zorder rewrites the target's tables clustered on the Morton
    curve (layout mode: no verify pass) — content-identical, readable
    as plain parquet (r9 VERDICT item 7)."""
    out = tmp_path / "zout"
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "pgverify_spark.cli",
            sf_dir,
            "--zorder",
            "user_id,value",
            "--zorder-bits",
            "6",
            "--zorder-out",
            str(out),
            "--include-tables",
            "events",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env={"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin", "HOME": "/root",
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")},
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "zorder: wrote table=events" in proc.stdout
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    dst = spark.read.parquet(str(out / "events"))
    assert dst.columns == src.columns  # zkey dropped, layout invisible
    assert dst.count() == src.count()
    assert dst.exceptAll(src).count() == 0

    # missing --zorder-out is a usage error, not a stack trace
    bad = subprocess.run(
        [sys.executable, "-m", "pgverify_spark.cli", sf_dir, "--zorder", "value"],
        capture_output=True,
        text=True,
        timeout=300,
        env={"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin", "HOME": "/root",
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")},
        cwd="/root/repo",
    )
    assert bad.returncode != 0
    assert "--zorder-out" in bad.stderr


_CLI_ENV = {"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin", "HOME": "/root",
            "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")}


def test_cli_repair_out(spark, sf_dir, tmp_path):
    """--repair-out writes a repaired copy of the mismatching second
    target; the verify failure still exits 1 (the repair is an
    artifact, not absolution)."""
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    bad_dir = tmp_path / "bad"
    src.filter("r_regionkey <> 2").write.parquet(str(bad_dir / "region.parquet"))
    out = tmp_path / "fixed"
    proc = subprocess.run(
        [
            sys.executable, "-m", "pgverify_spark.cli",
            sf_dir, str(bad_dir),
            "--tests", "rowcount",
            "--include-tables", "region",
            "--repair-out", str(out),
        ],
        capture_output=True, text=True, timeout=300, env=_CLI_ENV, cwd="/root/repo",
    )
    assert proc.returncode == 1  # mismatch still reported
    assert "repair: table=region" in proc.stdout
    fixed = spark.read.parquet(str(out / "region"))
    assert fixed.count() == src.count()
    assert fixed.exceptAll(src).count() == 0


def test_cli_snapshot_refresh(spark, sf_dir, tmp_path):
    """--snapshot-refresh splices the stored state for only the named
    partitions; a later plain snapshot verify still passes."""
    snap = str(tmp_path / "snap")

    def run(*extra):
        return subprocess.run(
            [sys.executable, "-m", "pgverify_spark.cli", sf_dir,
             "--include-tables", "events", "--snapshot-dir", snap, *extra],
            capture_output=True, text=True, timeout=300, env=_CLI_ENV,
            cwd="/root/repo",
        )

    first = run()
    assert first.returncode == 0 and "snapshot written" in first.stdout
    # refresh before the snapshot exists for a missing table errors
    refreshed = run("--snapshot-refresh", "19723,19724")
    assert refreshed.returncode == 0, refreshed.stderr[-2000:]
    assert "snapshot refreshed: table=events partitions=19723,19724" in refreshed.stdout
    verify = run()
    assert verify.returncode == 0
    assert "changed_partitions=0" in verify.stdout
    # --snapshot-refresh without --snapshot-dir is a usage error
    bare = subprocess.run(
        [sys.executable, "-m", "pgverify_spark.cli", sf_dir,
         "--snapshot-refresh", "1"],
        capture_output=True, text=True, timeout=300, env=_CLI_ENV, cwd="/root/repo",
    )
    assert bare.returncode != 0 and "--snapshot-dir" in bare.stderr


def test_cli_snapshot_verify_zero_read_fast_path(spark, sf_dir, tmp_path):
    """The default incremental-verify fast path: on an unchanged table
    the CLI proves zero-drift from the stored file catalog WITHOUT
    opening any data file — demonstrated by replacing every data
    file's bytes with same-size garbage (mtime restored): any read,
    even a schema-footer read, would explode, yet the verify passes.
    Bumping one mtime falls back to the real scan."""
    import glob
    import os
    import shutil

    # private copy of the region table (we are about to vandalize it);
    # testdata tables are single parquet FILES, the fast path handles
    # both that layout and part-file directories
    src_dir = str(tmp_path / "data")
    os.makedirs(src_dir)
    tbl = f"{src_dir}/region.parquet"
    shutil.copy(f"{sf_dir}/region.parquet", tbl)
    snap = str(tmp_path / "snap")

    def run():
        return subprocess.run(
            [sys.executable, "-m", "pgverify_spark.cli", src_dir,
             "--include-tables", "region", "--snapshot-dir", snap],
            capture_output=True, text=True, timeout=300, env=_CLI_ENV,
            cwd="/root/repo",
        )

    first = run()
    assert first.returncode == 0 and "snapshot written" in first.stdout
    # vandalize: same size, same mtime, garbage bytes
    datafiles = [tbl]
    assert glob.glob(tbl)
    saved = {}
    for f in datafiles:
        st = os.stat(f)
        saved[f] = (open(f, "rb").read(), st.st_atime, st.st_mtime)
        with open(f, "wb") as fh:
            fh.write(b"\x00" * st.st_size)
        os.utime(f, (st.st_atime, st.st_mtime))
    fast = run()
    assert fast.returncode == 0, fast.stderr[-2000:]
    assert "0 data files read" in fast.stdout and "changed_partitions=0" in fast.stdout
    # restore content, then bump ONE mtime: the fast path must refuse
    # and the real scan must run (and find no drift on real content)
    for f, (content, at, mt) in saved.items():
        with open(f, "wb") as fh:
            fh.write(content)
        os.utime(f, (at, mt))
    os.utime(datafiles[0], None)  # now
    slow = run()
    assert slow.returncode == 0, slow.stderr[-2000:]
    assert "0 data files read" not in slow.stdout
    assert "changed_partitions=0" in slow.stdout


def test_cli_snapshot_verify_bounded_scan(spark, sf_dir, tmp_path):
    """Partition-bounded incremental verify: with a ts-clustered table,
    replacing ONE file makes the CLI verify rescan only that file's
    day range (the stored per-file catalog ranges bound the drift) and
    flag exactly the mutated days — 'scan bounded to days lo..hi' in
    the output, exit 1."""
    import glob
    import os
    import shutil

    src_dir = str(tmp_path / "data")
    os.makedirs(src_dir)
    tbl = f"{src_dir}/events.parquet"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(tbl)
    snap = str(tmp_path / "snap")

    def run():
        return subprocess.run(
            [sys.executable, "-m", "pgverify_spark.cli", src_dir,
             "--include-tables", "events", "--snapshot-dir", snap],
            capture_output=True, text=True, timeout=300, env=_CLI_ENV,
            cwd="/root/repo",
        )

    first = run()
    assert first.returncode == 0 and "snapshot written" in first.stdout
    files = sorted(
        f for f in glob.glob(f"{tbl}/part-*") if not f.endswith(".crc")
    )
    victim = files[3]
    staging = str(tmp_path / "stg")
    spark.read.parquet(victim).selectExpr(
        "event_id", "ts", "user_id", "event_type", "value + 1 AS value", "props"
    ).coalesce(1).write.parquet(staging)
    (newfile,) = [
        f for f in glob.glob(f"{staging}/part-*") if not f.endswith(".crc")
    ]
    os.remove(victim)
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    shutil.copy(newfile, victim)
    out = run()
    assert out.returncode == 1, out.stdout[-2000:] + out.stderr[-500:]
    assert "scan bounded to days" in out.stdout
    assert "changed_partitions=0" not in out.stdout


def test_cli_file_format_targets(spark, sf_dir, tmp_path):
    """<format>:<dir> target URIs: a parquet directory verified against
    its own csv export agrees (exit 0) with --schemas supplying the
    explicit DDL, and a mutated csv export fails (exit 1) — the
    heterogeneous-source comparison through the real CLI."""
    import json

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    good, bad = tmp_path / "good", tmp_path / "bad"
    for dest, df in ((good, region), (bad, region.filter("r_regionkey <> 2"))):
        df.coalesce(1).write.option("header", "true").csv(str(dest / "region.csv"))
    schemas = tmp_path / "schemas.json"
    schemas.write_text(
        json.dumps({"region": "r_regionkey INT, r_name STRING, r_comment STRING"})
    )
    ok = _run_cli(
        [sf_dir, f"csv:{good}", "--tests", "full,rowcount",
         "--include-tables", "region", "--schemas", str(schemas)]
    )
    assert ok.returncode == 0, ok.stderr[-2000:]
    assert "region" in ok.stdout
    mism = _run_cli(
        [sf_dir, f"csv:{bad}", "--tests", "full,rowcount",
         "--include-tables", "region", "--schemas", str(schemas)]
    )
    assert mism.returncode == 1
    assert "outputs differ" in mism.stderr


# ---------------------------------------------------------------------------
# pushdown fingerprint SQL generation (golden-SQL, mirroring query_test.go)
# ---------------------------------------------------------------------------

COLS = [
    ("id", "bigint"),
    ("name", "text"),
    ("created", "timestamp with time zone"),
    ("meta", "jsonb"),
    ("doc", "json"),
]
PK = [("id", "bigint")]


def test_pushdown_full_hash_query():
    from pgverify_spark.sources.pushdown import build_full_hash_query

    sql = build_full_hash_query("public", "t1", COLS, PK)
    assert sql.startswith("SELECT md5(string_agg(hash, '')) AS fp FROM ")
    assert 'FROM "public"."t1"' in sql
    # canonical casts (column.go:24-36)
    assert "(extract(epoch from date_trunc('milliseconds', \"created\"))::DECIMAL * 1000000)::BIGINT::TEXT" in sql
    assert 'length("meta"::TEXT)::TEXT' in sql
    assert 'length("doc"::JSONB::TEXT)::TEXT' in sql
    assert 'ORDER BY CONCAT("id"::TEXT) ASC' in sql
    # cast expressions sorted lexicographically (query.go:136-137)
    from pgverify_spark.sources.pushdown import pg_text_cast

    expected = sorted(pg_text_cast(c, t) for c, t in COLS)
    assert f"MD5(CONCAT({', '.join(expected)})) AS hash" in sql


def test_pushdown_hashed_pk_and_excluded_columns():
    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.sources.pushdown import build_full_hash_query

    cfg = VerifyConfig(hash_primary_keys=True, exclude_columns=("meta",))
    sql = build_full_hash_query("public", "t1", COLS, PK, cfg)
    assert 'ORDER BY MD5(CONCAT("id"::TEXT)) ASC' in sql
    assert '"meta"' not in sql.split("ORDER BY")[0]


def test_pushdown_bookend_query():
    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.sources.pushdown import build_bookend_hash_query

    sql = build_bookend_hash_query("public", "t1", COLS, PK, VerifyConfig(bookend_limit=5))
    assert "LIMIT 5" in sql
    assert "ASC LIMIT 5" in sql and "DESC LIMIT 5" in sql
    assert "md5(CONCAT(starthash::TEXT, endhash::TEXT))" in sql


def test_pushdown_sparse_query_signed_reinterpret():
    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.sources.pushdown import build_sparse_hash_query

    sql = build_sparse_hash_query("public", "t1", COLS, PK, VerifyConfig(sparse_mod=7))
    # the reference's signed 64-bit md5-prefix selector (query.go:193)
    assert "('x' || substr(md5(CONCAT(\"id\"::TEXT)), 1, 16))::bit(64)::bigint % 7" in sql


def test_pushdown_rowcount_query():
    from pgverify_spark.sources.pushdown import build_rowcount_query

    assert (
        build_rowcount_query("public", "t1")
        == 'SELECT count(*)::TEXT AS fp FROM "public"."t1"'
    )


def test_cli_constraint_suite(sf_dir, tmp_path):
    """--constraints runs the declarative suite per target: a passing
    spec keeps exit 0; a failing check turns the run red with the
    report on stdout."""
    import json as _json
    import os as _os

    env = {"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin", "HOME": "/root",
           "JAVA_HOME": _os.environ.get("JAVA_HOME", "")}
    ok_spec = tmp_path / "ok.json"
    ok_spec.write_text(_json.dumps({
        "region": [
            {"check": "not_null", "column": "r_regionkey"},
            {"check": "unique", "column": "r_regionkey"},
        ]
    }))
    base = [sys.executable, "-m", "pgverify_spark.cli", sf_dir,
            "--tests", "rowcount", "--include-tables", "region"]
    proc = subprocess.run(base + ["--constraints", str(ok_spec)],
                          capture_output=True, text=True, timeout=300,
                          env=env, cwd="/root/repo")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "not_null_r_regionkey" in proc.stdout and "pass" in proc.stdout

    bad_spec = tmp_path / "bad.json"
    bad_spec.write_text(_json.dumps({
        "region": [
            {"check": "matches", "column": "r_name", "regex": "^ZZZ"},
        ]
    }))
    proc = subprocess.run(base + ["--constraints", str(bad_spec)],
                          capture_output=True, text=True, timeout=300,
                          env=env, cwd="/root/repo")
    assert proc.returncode == 1
    assert "constraint check(s) failed" in proc.stderr


def test_quoting_helpers_escape_embedded_quotes():
    """Identifiers with double quotes and literals with single quotes
    must be doubled, not break the generated SQL (ADVICE hardening; the
    reference interpolates unescaped — parity plus safety)."""
    from pgverify_spark.config import VerifyConfig
    from pgverify_spark.sources.jdbc import build_columns_query, build_tables_query
    from pgverify_spark.sources.pushdown import build_rowcount_query, pg_text_cast
    from pgverify_spark.sources.quoting import quote_ident, quote_literal

    assert quote_ident('we"ird') == '"we""ird"'
    assert quote_literal("O'Brien") == "'O''Brien'"
    assert "younit'; DROP TABLE x; --" not in build_tables_query(
        VerifyConfig(include_tables=("younit'; DROP TABLE x; --",))
    ).replace("''", "")
    assert "'tbl''s'" in build_columns_query("pub'lic", "tbl's")
    assert '"sch""ema"."ta""ble"' in build_rowcount_query('sch"ema', 'ta"ble')
    assert pg_text_cast('col"umn', "text") == '"col""umn"::TEXT'


def test_cli_help_covers_reference_flags():
    """--help golden test mirroring cmd/pgverify/cmd_test.go:11-45: every
    flag the reference registers (cmd.go:22-44) exists here with the
    same name and default."""
    from pgverify_spark.cli import build_parser

    parser = build_parser()
    help_text = parser.format_help()
    reference_flags = (
        "--aliases",
        "--bookend-limit",
        "--exclude-columns",
        "--exclude-schemas",
        "--exclude-tables",
        "--hash-primary-keys",
        "--include-columns",
        "--include-schemas",
        "--include-tables",
        "--level",
        "--sparse-mod",
        "--tests",
        "--tz-precision",
    )
    for flag in reference_flags:
        assert flag in help_text, f"missing reference flag {flag}"

    defaults = parser.parse_args(["t1"])
    # reference defaults: cmd.go:40-41 (1000/10), cmd.go:31
    # ("milliseconds"), cmd.go:32 ("info")
    assert defaults.bookend_limit == 1000
    assert defaults.sparse_mod == 10
    assert defaults.timestamp_precision == "milliseconds"
    assert defaults.level == "info"
    assert defaults.hash_primary_keys is False
    # both spellings parse to the same dest (reference name + legacy)
    assert (
        build_parser().parse_args(["t", "--tz-precision", "seconds"]).timestamp_precision
        == "seconds"
    )
    assert (
        build_parser()
        .parse_args(["t", "--timestamp-precision", "hours"])
        .timestamp_precision
        == "hours"
    )


def _run_cli(argv, timeout=300):
    return subprocess.run(
        [sys.executable, "-m", "pgverify_spark.cli", *argv],
        capture_output=True,
        text=True,
        timeout=timeout,
        # PYSPARK_PYTHON must point at THIS interpreter: the stripped
        # PATH would hand Python worker processes /usr/bin/python3,
        # which lacks pyspark — any Arrow/mapInPandas stage (e.g. the
        # streamed fingerprint reduce a statless JDBC source auto-
        # selects) then dies with a PythonArrowOutput read error
        env={"SPARK_GRAFT_CPUS": "4", "PATH": "/usr/bin:/bin", "HOME": "/root",
             "PYSPARK_PYTHON": sys.executable,
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")},
        cwd="/root/repo",
    )


def test_cli_snapshot_incremental_verify(spark, sf_dir, tmp_path):
    """--snapshot-dir: first run writes state (rc 0); an unchanged rerun
    reports zero changed partitions (rc 0); a mutated current target
    reports the drifted table (rc 1) — the cross-run incremental verify
    loop, ts tables partitioned by day and dimension tables by content
    bucket."""
    state = tmp_path / "state"
    base = ["--include-tables", "nation,events", "--snapshot-dir", str(state),
            "--level", "error"]
    first = _run_cli([sf_dir, *base])
    assert first.returncode == 0, first.stderr[-2000:]
    assert first.stdout.count("snapshot written") == 2

    clean = _run_cli([sf_dir, *base])
    assert clean.returncode == 0, clean.stderr[-2000:]
    assert "changed_partitions=0" in clean.stdout

    # mutate one nation row; copy events unchanged
    bad = tmp_path / "bad"
    spark.read.parquet(f"{sf_dir}/nation.parquet").selectExpr(
        "n_nationkey", "n_name",
        "CASE WHEN n_nationkey = 3 THEN 99 ELSE n_regionkey END AS n_regionkey",
    ).write.parquet(str(bad / "nation.parquet"))
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(
        str(bad / "events.parquet")
    )
    drift = _run_cli([str(bad), *base])
    assert drift.returncode == 1
    assert "changed partition(s) since snapshot" in drift.stderr
    assert "table=events changed_partitions=0" in drift.stdout


def test_cli_live_jdbc_derby_catalog(sf_dir, tmp_path):
    """End-to-end CLI against a LIVE jdbc: target (embedded Derby) via
    --jdbc-catalog: a matching copy verifies rc 0; a copy missing one
    row fails rc 1 with the mismatch report."""
    import json

    # load the two Derby copies in a SUBPROCESS that exits cleanly:
    # embedded Derby's per-database boot lock is only reliably released
    # at JVM exit, and the pytest session's JVM must not hold it when
    # the CLI subprocess boots the databases
    loader = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from pgverify_spark.session import get_spark\n"
        "import tempfile\n"
        "spark = get_spark('derby-loader')\n"
        "spark._jvm.System.setProperty('derby.system.home', tempfile.gettempdir())\n"
        f"region = spark.read.parquet('{sf_dir}/region.parquet')\n"
        "for label, df in (('good', region), ('bad', region.filter('r_regionkey <> 2'))):\n"
        f"    (df.write.format('jdbc').option('url', f'jdbc:derby:{tmp_path}/{{label}};create=true')\n"
        "     .option('dbtable', '\"region\"').mode('overwrite').save())\n"
        "spark.stop()\n"
    )
    load = subprocess.run(
        [sys.executable, "-c", loader], capture_output=True, text=True,
        timeout=300, cwd="/root/repo",
    )
    assert load.returncode == 0, load.stderr[-2000:]
    catalog = tmp_path / "catalog.json"
    catalog.write_text(
        json.dumps(
            {
                "tables": {"region": ["r_regionkey"]},
                "db_schema": "APP",
                # r9: the catalog can also declare the parallel-read
                # column — the good-path run below exercises the
                # bounds-pushdown partitioned read through the CLI
                "partition_columns": {"region": "r_regionkey"},
            }
        )
    )
    ok = _run_cli(
        [sf_dir, f"jdbc:derby:{tmp_path}/good", "--tests", "full,rowcount",
         "--include-tables", "region", "--jdbc-catalog", str(catalog)]
    )
    assert ok.returncode == 0, ok.stderr[-2000:]
    assert "region" in ok.stdout
    mism = _run_cli(
        [sf_dir, f"jdbc:derby:{tmp_path}/bad", "--tests", "full,rowcount",
         "--include-tables", "region", "--jdbc-catalog", str(catalog)]
    )
    assert mism.returncode == 1
    assert "outputs differ" in mism.stderr


def test_jdbc_catalog_shape_validation():
    """--jdbc-catalog documents are shape-checked after json.load
    (ADVICE r8): a string PK would silently splat per-character via
    tuple(pk); a list-shaped tables would crash later on .items()."""
    import pytest

    from pgverify_spark.cli import _validate_jdbc_catalog

    ok = {"tables": {"orders": ["o_orderkey"]}, "db_schema": "APP"}
    assert _validate_jdbc_catalog(ok, "cat.json") is ok
    # null PK = fall back to introspection — allowed
    assert _validate_jdbc_catalog({"tables": {"t": None}}, "c")["tables"] == {
        "t": None
    }
    with pytest.raises(SystemExit, match="list of column-name strings"):
        _validate_jdbc_catalog({"tables": {"orders": "o_orderkey"}}, "c")
    with pytest.raises(SystemExit, match='"tables" must be an object'):
        _validate_jdbc_catalog({"tables": ["orders"]}, "c")
    with pytest.raises(SystemExit, match="top level"):
        _validate_jdbc_catalog(["orders"], "c")
    with pytest.raises(SystemExit, match="db_schema"):
        _validate_jdbc_catalog({"db_schema": 7}, "c")


def test_full_stream_hash_flag_parses():
    """The streamed reduce is the default; --no-full-stream-hash is the
    one switch that selects the JVM reducer."""
    from pgverify_spark.cli import build_parser

    assert build_parser().parse_args(["t"]).full_stream_hash is True
    assert (
        build_parser().parse_args(["t", "--no-full-stream-hash"]).full_stream_hash
        is False
    )


def test_stream_hash_missing_worker_hint():
    """A missing-executor-Python failure under the default streamed
    reduce is rethrown as a SystemExit naming --no-full-stream-hash
    (ADVICE r8); opted-out configs and unrelated errors pass through
    untouched."""
    import pytest

    from pgverify_spark.cli import _rethrow_with_stream_hash_hint
    from pgverify_spark.config import VerifyConfig

    err = RuntimeError('Job aborted: Cannot run program "python3"')
    with pytest.raises(SystemExit, match="no-full-stream-hash"):
        _rethrow_with_stream_hash_hint(err, VerifyConfig())
    with pytest.raises(RuntimeError, match="Cannot run program"):
        _rethrow_with_stream_hash_hint(err, VerifyConfig(full_stream_hash=False))
    with pytest.raises(ValueError, match="boom"):
        _rethrow_with_stream_hash_hint(ValueError("boom"), VerifyConfig())


def test_jdbc_catalog_partition_columns_passthrough(tmp_path):
    """A catalog's partition_columns reaches the JDBCTarget (parallel
    bounds-pushdown read) and is shape-validated."""
    import pytest

    from pgverify_spark.cli import _validate_jdbc_catalog, build_targets

    cat = {
        "tables": {"orders": ["o_orderkey"]},
        "partition_columns": {"orders": "o_orderkey"},
    }
    assert _validate_jdbc_catalog(cat, "c") is cat
    (jt,) = build_targets(["a"], ["jdbc:derby:/tmp/x"], jdbc_catalog=cat)
    assert jt.partition_columns == {"orders": "o_orderkey"}
    with pytest.raises(SystemExit, match="partition_columns"):
        _validate_jdbc_catalog({"partition_columns": {"orders": ["o_orderkey"]}}, "c")
    with pytest.raises(SystemExit, match="partition_columns"):
        _validate_jdbc_catalog({"partition_columns": ["orders"]}, "c")
