"""Time registry entries on a replicated corpus: one scale point per
process.

    python scripts/scale_check.py ENTRY... --scale 1x|10x|100x [--reps N] [--oracle]

Not part of the frozen bench protocol (``bench.py``).  The scales:

- ``1x``: the sf0.1 testdata;
- ``10x``: 10 key-shifted replicas of every sf0.1 table except the
  region/nation dims.  Every integer entity key gets
  ``replica * 100_000_000`` added, so primary keys stay unique and every
  foreign-key join keeps its exact 1:N shape (a TPC-H join on naively
  duplicated rows would multiply 10x x 10x and measure another query);
- ``100x``: 100 key-shifted replicas of orders, lineitem, events and
  documents, with every other table at 1x.  Only their own keys shift,
  so foreign keys into the 1x tables stay valid.  The replicated
  documents repeat each text 100 times, so every term's document
  frequency grows 100x: the hot-term skew stress.

A missing corpus is built under ``/tmp`` (testdata is read-only), one
table file at a time, skipping files that exist.

Each entry runs once at sf0.01 to warm its plan shapes.  A timed run is
entry -> ``noop`` sink -> ``release_cached_deps`` -> ``clearCache``, and
each of the ``--reps`` reps is the min of two timed runs.  After timing,
one untimed collect per entry records its row count and an
order-independent digest (md5 of the sorted row reprs).  ``--oracle``
also times the entry's DuckDB twin the same way (its probe twin, with
the setup run once untimed, where ``registry.bench_oracle_setup`` has
one) and adds ``duck_min`` and the Spark:DuckDB ``ratio``.

One process measures one checkout; alternate checkouts between
processes to interleave an A/B.  The last stdout line is one JSON
object ``{entry: {"min": s, "all": [s, ...], "rows": n, "digest": hex}}``.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
WARM = os.path.join(os.path.dirname(SRC), "sf0.01")
DST = "/tmp/pgvs_sf0.1_rep10"
DST100 = "/tmp/pgvs_sf0.1_rep100"
OFFSET = 100_000_000

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

#: integer key columns shifted per 10x replica (PK + every FK that
#: references a replicated table; nation/region keys stay put).
SHIFTED = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

#: the 100x replicated tables and the one key each shifts; their
#: foreign keys point into 1x tables and stay put.
SHIFTED_100X = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
}


def _build(dst: str, select) -> None:
    """Write every missing ``dst/<table>.parquet`` as the query
    ``select(table, source, columns)``."""
    import duckdb

    con = duckdb.connect()
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = f"{dst}/{t}.parquet"
        if os.path.exists(out):
            continue
        src = f"read_parquet('{SRC}/{t}.parquet')"
        cols = [d[0] for d in con.execute(f"SELECT * FROM {src} LIMIT 0").description]
        con.execute(f"COPY ({select(t, src, cols)}) TO '{out}' (FORMAT PARQUET)")
        print(f"built {out}", flush=True)


def _shift(cols: list[str], keys: tuple, by) -> str:
    return ", ".join(f"{c} + {by} AS {c}" if c in keys else c for c in cols)


def build_replicated() -> None:
    """The 10x corpus: one UNION ALL branch per replica, replica-major."""
    _build(DST, lambda t, src, cols: " UNION ALL ".join(
        f"SELECT {_shift(cols, SHIFTED.get(t, ()), i * OFFSET)} FROM {src}"
        for i in range(10 if t in SHIFTED else 1)
    ))


def build_replicated_100() -> None:
    """The 100x corpus: a cross join with ``range(100)`` (100 UNION ALL
    branches would be slow to plan)."""
    _build(DST100, lambda t, src, cols: (
        f"SELECT {_shift(cols, SHIFTED_100X[t], f't.r * {OFFSET}')} "
        f"FROM {src}, range(100) t(r)"
        if t in SHIFTED_100X else f"SELECT * FROM {src}"
    ))


SCALES = {
    "1x": (SRC, None),
    "10x": (DST, build_replicated),
    "100x": (DST100, build_replicated_100),
}


def time_min2(fn) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _reps(fn, reps: int) -> list[float]:
    return [round(time_min2(fn), 3) for _ in range(reps)]


def _digest(rows) -> tuple[int, str]:
    lines = sorted(repr(tuple(r)) for r in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entries", nargs="+", metavar="ENTRY")
    ap.add_argument("--scale", required=True, choices=sorted(SCALES))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()

    from pgverify_spark import registry
    from pgverify_spark.operators.util import release_cached_deps
    from pgverify_spark.session import get_spark

    queries = registry.spark_queries()
    oracles = registry.oracle_queries()
    unknown = [e for e in args.entries if e not in queries]
    if unknown:
        ap.error(f"unknown registry entries: {' '.join(unknown)}")
    if args.oracle and not set(args.entries) <= set(oracles):
        ap.error("--oracle: entries without a DuckDB twin: " + " ".join(
            e for e in args.entries if e not in oracles))
    sf_dir, build = SCALES[args.scale]
    if build:
        build()
    spark = get_spark("pgverify-spark-scale-check")

    def run(name: str, path: str) -> None:
        out = queries[name](spark, path)
        out.write.format("noop").mode("overwrite").save()
        release_cached_deps(out)
        spark.catalog.clearCache()

    for name in args.entries:  # warm plan shapes
        run(name, WARM)
    results = {}
    for name in args.entries:
        vals = _reps(lambda: run(name, sf_dir), args.reps)
        results[name] = {"min": min(vals), "all": vals}
    for name in args.entries:
        out = queries[name](spark, sf_dir)
        rows, digest = _digest(out.collect())
        release_cached_deps(out)
        spark.catalog.clearCache()
        results[name].update(rows=rows, digest=digest)
    if args.oracle:
        probes = registry.bench_oracle_setup()
        con = _duck(sf_dir)
        for name in args.entries:
            setup, sql = probes.get(name, ((), oracles[name]))
            for stmt in setup:
                con.execute(stmt)
            duck = min(_reps(lambda: con.execute(sql).fetchall(), args.reps))
            r = results[name]
            r.update(duck_min=duck, ratio=round(r["min"] / duck, 2) if duck else None)
    print(json.dumps(results), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
