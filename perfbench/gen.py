"""Seeded benchmark inputs, derived from the project's testdata with DuckDB.

The base rows are the project's deterministic testdata tables
(``TESTDATA.md``), read from ``<testdata>/sf<scale>/<table>.parquet``.
The benchmark carries byte-for-byte copies of the files its listed
workloads and self-tests read under ``perfbench/testdata/``, so a run
reads nothing outside its checkout; ``run.py --testdata DIR`` points the
other workloads at a full testdata directory.

The inputs are written by DuckDB, never by the program under test, so a
bug in the program cannot hide in its own inputs.  The seed drives only
what the workloads vary: row shuffling, the split into part files, and
where the faults go.  The same seed always gives the same bytes
(``test_perfbench.py`` pins this).

Target layouts, each at its own physical path (two targets on one path
would share memoized sub-plans inside ``verify()``):

- ``A``: the testdata files as they are, copied byte for byte.
- ``B``: the same rows shuffled by the seed, written as three part files
  per table with small row groups.
- ``C``: ``B`` with three faults (:func:`_write_faulty`).
"""

from __future__ import annotations

import os
import shutil

import duckdb

#: The benchmark's copies of the project's testdata files.
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def base_file(testdata: str, sf: float, table: str) -> str:
    """The testdata file holding ``table``'s base rows at scale ``sf``."""
    path = os.path.join(testdata, f"sf{sf:g}", f"{table}.parquet")
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"{path} is missing: pass --testdata with the project's testdata directory"
        )
    return path


def _h(*args) -> str:
    """SQL for a deterministic non-negative BIGINT hash of ``args``."""
    return f"(hash({', '.join(map(str, args))}) >> 1)::BIGINT"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # one writer thread: the same rows in the same order give the same bytes
    con.execute("SET threads = 1")
    return con


def _fresh_dir(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


def write_targets(
    root: str, tables, sf: float, seed: int, faulty: bool = False, testdata: str = TESTDATA
) -> dict[str, str]:
    """Write targets ``A`` and ``B`` (and ``C`` when ``faulty``) under
    ``root``; returns {target name: directory}."""
    files = {t: base_file(testdata, sf, t) for t in tables}
    out = {"A": os.path.join(root, "A"), "B": os.path.join(root, "B")}
    _fresh_dir(out["A"])
    for t, path in files.items():
        shutil.copyfile(path, os.path.join(out["A"], f"{t}.parquet"))
    con = _connect()
    for t, path in files.items():
        # _i is the row's position in the testdata file
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE base_{t} AS SELECT * EXCLUDE (file_row_number), "
            f"file_row_number AS _i FROM read_parquet('{path}', file_row_number = true)"
        )
    _write_split(con, out["B"], tables, seed)
    if faulty:
        out["C"] = os.path.join(root, "C")
        _write_faulty(con, out["C"], tables, seed)
    con.close()
    return out


#: Part files per table in targets ``B`` and ``C``.
_PARTS = 3


def _write_split(con, root: str, tables, seed: int, source=None) -> None:
    """Seed-shuffled rows, ``_PARTS`` files per table, small row groups.
    ``source`` maps a table to the temp table holding its rows."""
    _fresh_dir(root)
    for t in tables:
        tdir = os.path.join(root, f"{t}.parquet")
        os.makedirs(tdir)
        src = (source or {}).get(t, f"base_{t}")
        con.execute(
            "CREATE OR REPLACE TEMP TABLE shuf AS SELECT *, row_number() OVER () - 1 "
            f"AS _pos FROM (SELECT * FROM {src} ORDER BY {_h('_i', seed, 7)}, _i)"
        )
        for p in range(_PARTS):
            path = os.path.join(tdir, f"part-{p}.parquet")
            con.execute(
                f"COPY (SELECT * EXCLUDE (_i, _pos) FROM shuf WHERE _pos % {_PARTS} = {p} "
                f"ORDER BY _pos) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 2048)"
            )


#: The tables :func:`_write_faulty` damages, and the one it truncates.
FAULT_TABLES = ("orders", "customer", "lineitem")
TRUNCATED_TABLE = "lineitem"


def _write_faulty(con, root: str, tables, seed: int) -> None:
    """``B``'s layout with three seed-placed faults:

    - one ``orders`` row has its ``o_totalprice`` raised by 1;
    - one ``customer`` row is deleted;
    - the last ``lineitem`` part file is cut to half its length, so it
      fails when read but not at schema inference (which reads the first
      part file's footer).
    """
    missing = set(FAULT_TABLES) - set(tables)
    if missing:
        raise ValueError(f"fault tables {sorted(missing)} not in the catalog")
    n_orders = con.execute("SELECT count(*) FROM base_orders").fetchone()[0]
    n_cust = con.execute("SELECT count(*) FROM base_customer").fetchone()[0]
    changed = _h(seed, "'orders'")
    deleted = _h(seed, "'customer'")
    con.execute(
        "CREATE OR REPLACE TEMP TABLE faulty_orders AS SELECT * REPLACE ("
        f"CASE WHEN _i = {changed} % {n_orders} THEN o_totalprice + 1 "
        "ELSE o_totalprice END AS o_totalprice) FROM base_orders"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE faulty_customer AS SELECT * FROM base_customer "
        f"WHERE _i <> {deleted} % {n_cust}"
    )
    source = {"orders": "faulty_orders", "customer": "faulty_customer"}
    _write_split(con, root, tables, seed, source)
    last = os.path.join(root, f"{TRUNCATED_TABLE}.parquet", f"part-{_PARTS - 1}.parquet")
    with open(last, "r+b") as f:
        f.truncate(os.path.getsize(last) // 2)
