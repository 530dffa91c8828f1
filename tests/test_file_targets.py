"""Multi-format FileTarget: csv/json/orc read paths + round-trip
fingerprint identity with the parquet originals; ParquetTarget's
driver-side footer schema against Spark's schema inference."""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pgverify_spark.config import VerifyConfig
from pgverify_spark.operators.fingerprint import full_fingerprint
from pgverify_spark.sources.files import FileTarget
from pgverify_spark.sources.parquet import ParquetTarget
from pgverify_spark.sources.schemas import TESTDATA_TABLES


def test_bad_format_rejected(tmp_path):
    with pytest.raises(ValueError, match="unsupported format"):
        FileTarget("t", str(tmp_path), format="avro")


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_roundtrip_fingerprint_identity(spark, sf_dir, tmp_path, fmt):
    table = "nation"
    src = ParquetTarget("src", sf_dir)
    df = src.read(spark, table)
    writer = df.write.format(fmt).mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(str(tmp_path / f"{table}.{fmt}"))

    schemas = (
        {table: "n_nationkey int, n_name string, n_regionkey int"}
        if fmt in ("csv", "json")
        else {}
    )
    tgt = FileTarget("rt", str(tmp_path), format=fmt, schemas=schemas)
    assert tgt.list_tables() == [table]
    cfg = VerifyConfig()
    fp_rt = full_fingerprint(tgt.read(spark, table), tgt.table_schema(spark, table), cfg)
    fp_src = full_fingerprint(df, src.table_schema(spark, table), cfg)
    assert fp_rt.collect()[0].fp == fp_src.collect()[0].fp


def _same_read(spark, path, table, grouped_jobs):
    """``ParquetTarget.read`` plans with no Spark job and returns what
    ``spark.read.parquet`` infers: the same schema (names, types,
    nullability, metadata) and the same rows."""
    got, jobs = grouped_jobs(lambda: ParquetTarget("t", path).read(spark, table))
    assert jobs == [], f"planning the read ran jobs {jobs}"
    want = spark.read.parquet(os.path.join(path, f"{table}.parquet"))
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.mark.parametrize("table", sorted(TESTDATA_TABLES))
def test_footer_schema_matches_inference_testdata(spark, sf_dir, table, grouped_jobs):
    _same_read(spark, sf_dir, table, grouped_jobs)


def test_footer_schema_matches_inference_layouts(spark, sf_dir, tmp_path, grouped_jobs):
    """Directory layouts the read meets: a DuckDB-written multi-file
    table, a Spark-written one (``_SUCCESS`` and ``.crc`` side files),
    a ``partitionBy`` table, a TIMESTAMP(NANOS) column under
    ``nanosAsLong``, and part files with different columns under
    ``mergeSchema``."""
    src = os.path.join(sf_dir, "orders.parquet")
    (tmp_path / "duck.parquet").mkdir()
    con = duckdb.connect()
    for p in range(3):
        con.execute(
            f"COPY (SELECT * FROM '{src}' WHERE o_orderkey % 3 = {p}) "
            f"TO '{tmp_path}/duck.parquet/part-{p}.parquet' (FORMAT parquet)"
        )
    con.close()
    _same_read(spark, str(tmp_path), "duck", grouped_jobs)

    orders = spark.read.parquet(src)
    orders.repartition(3).write.parquet(str(tmp_path / "spark.parquet"))
    names = os.listdir(tmp_path / "spark.parquet")
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    _same_read(spark, str(tmp_path), "spark", grouped_jobs)

    orders.selectExpr("*", "o_orderkey % 4 AS day").write.partitionBy("day").parquet(
        str(tmp_path / "parted.parquet")
    )
    _same_read(spark, str(tmp_path), "parted", grouped_jobs)

    ns = pa.table(
        {
            "event_id": pa.array([1, 2, None], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_789, None, 5], pa.timestamp("ns")),
        }
    )
    pq.write_table(ns, str(tmp_path / "nanos.parquet"), version="2.6")
    assert pq.read_schema(str(tmp_path / "nanos.parquet")).field("ts").type.unit == "ns"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    _same_read(spark, str(tmp_path), "nanos", grouped_jobs)
    assert dict(ParquetTarget("t", str(tmp_path)).read(spark, "nanos").dtypes)["ts"] == "bigint"

    merged = tmp_path / "merged.parquet"
    merged.mkdir()
    pq.write_table(pa.table({"id": [1, 2], "a": ["x", "y"]}), str(merged / "part-0.parquet"))
    pq.write_table(pa.table({"id": [3], "b": [1.5]}), str(merged / "part-1.parquet"))
    key = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        _same_read(spark, str(tmp_path), "merged", grouped_jobs)
        assert ParquetTarget("t", str(tmp_path)).read(spark, "merged").columns == ["id", "a", "b"]
    finally:
        spark.conf.set(key, old)


def test_footer_schema_raises_where_inference_raises(spark, tmp_path):
    """An empty directory and a missing path fail the read, as they fail
    inference (the error classes differ; the text is not pinned)."""
    (tmp_path / "empty.parquet").mkdir()
    for table in ("empty", "missing"):
        path = os.path.join(tmp_path, f"{table}.parquet")
        with pytest.raises(Exception):
            spark.read.parquet(path)
        with pytest.raises(Exception):
            ParquetTarget("t", str(tmp_path)).read(spark, table)
