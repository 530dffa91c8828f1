"""Workload definitions, their DuckDB oracle, and the output check.

A workload names its inputs (tables, scale, target layouts) and what one
call does.  The oracle computes every expected output with DuckDB over
the same files the program reads; :func:`check_verify` and
:func:`check_curate` compare one call's outputs against it.  A failed
operation is a call that raised, or a cell or entry whose output
disagrees with the oracle.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import duckdb

from pgverify_spark.config import DEFAULT_TEST_MODES, ERROR_OUTPUT, VerifyConfig
from pgverify_spark.operators.fingerprint import fingerprint_oracle_sql
from pgverify_spark.sources.schemas import TESTDATA_TABLES

from perfbench.gen import TRUNCATED_TABLE


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "verify" or "curate"
    sf: float
    tables: tuple[str, ...]
    targets: tuple[str, ...] = ("A", "B")
    modes: tuple[str, ...] = DEFAULT_TEST_MODES
    entries: tuple[str, ...] = ()
    #: Untimed calls between the cold first call and the measuring
    #: window, until the JIT has compiled the call's hot paths.  A count,
    #: not a time: the JIT compiles by invocation count, so a slow run
    #: still measures the same part of the warm-up curve.
    warm_up_calls: int = 1

    @property
    def faulty(self) -> bool:
        return "C" in self.targets

    def config(self) -> VerifyConfig:
        return VerifyConfig(test_modes=self.modes)


#: The catalog of ``verify_catalog``: a tiny dimension and a small fact
#: table, between them every column type of the star schema's keyed
#: tables (int, bigint, double, string, timestamp).
CATALOG = ("nation", "orders")
#: ``verify_faulty`` also holds the tables whose row it deletes and
#: whose part file it truncates.
FAULTY_CATALOG = ("nation", "customer", "orders", "lineitem")

#: The curation entries one ``curate_documents`` call runs: iterative
#: PageRank (``operators/graph.py``), which ROADMAP direction 1 rewrites.
#: One entry, so that a run's cold call and warm-up calls fit the
#: benchmark's time budget.
CURATE_ENTRIES = ("pagerank_term_graph_documents",)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("verify_catalog", "verify", 0.01, CATALOG, warm_up_calls=3),
        Workload(
            "verify_bulk",
            "verify",
            0.1,
            ("lineitem",),
            modes=("full", "bookend", "sparse", "rowcount", "bucketed"),
        ),
        Workload("verify_faulty", "verify", 0.01, FAULTY_CATALOG, targets=("A", "C")),
        Workload(
            "curate_documents",
            "curate",
            0.01,
            ("documents",),
            targets=("B",),
            entries=CURATE_ENTRIES,
            warm_up_calls=4,
        ),
    )
}


def _parquet_scan(path: str) -> str:
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"read_parquet('{path}')"


def _connect(target_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``target_dir``."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"{_parquet_scan(os.path.join(target_dir, t + '.parquet'))}"
        )
    return con


def verify_oracle(w: Workload, dirs: dict[str, str]) -> dict:
    """Expected verify outcome: every cell's output and the flagged cells.

    A cell whose oracle query fails on its target's files is expected to
    read ``(err)``, the reference's seeded error sentinel."""
    config = w.config()
    cells: dict[tuple[str, str, str], str] = {}
    for target in w.targets:
        con = _connect(dirs[target], w.tables)
        for t in w.tables:
            for mode in w.modes:
                sql = fingerprint_oracle_sql(mode, t, TESTDATA_TABLES[t], config)
                try:
                    out = con.execute(sql).fetchone()[0]
                except duckdb.Error:
                    out = ERROR_OUTPUT
                cells[(target, t, mode)] = out
        con.close()
    flagged = sorted(
        f"{t}/{mode}"
        for t in w.tables
        for mode in w.modes
        if len({cells[(g, t, mode)] for g in w.targets}) > 1
        or ERROR_OUTPUT in {cells[(g, t, mode)] for g in w.targets}
    )
    return {
        "cells": {"/".join(k): v for k, v in sorted(cells.items())},
        "flagged": flagged,
    }


_ERROR_CELL = re.compile(r"^[^.]+\.(\S+) mode=(\S+):")


def flagged_cells(errors: list[str]) -> list[str]:
    """The ``table/mode`` cells named by ``VerifyResult.errors``."""
    return sorted({"/".join(_ERROR_CELL.match(e).groups()) for e in errors})


def _err_allowed(cell: str) -> bool:
    """Whether a ``target/table/mode`` cell reads a file the generator
    truncated, the only place an ``(err)`` belongs."""
    target, table, _ = cell.split("/")
    return target == "C" and table == TRUNCATED_TABLE


def check_verify(expected: dict, observed: dict) -> tuple[int, int]:
    """(attempted, failed) operations of one verify call: one per cell,
    plus one for the verdict (the set of flagged cells).  A cell fails
    when it disagrees with the oracle, or reads ``(err)`` where no fault
    was placed, even if the oracle failed there too."""
    cells = expected["cells"]
    if observed.get("error"):
        return len(cells) + 1, len(cells) + 1
    got = observed["cells"]
    failed = sum(
        1
        for k, v in cells.items()
        if got.get(k) != v or (v == ERROR_OUTPUT and not _err_allowed(k))
    )
    failed += sum(1 for k in got if k not in cells)
    failed += observed["flagged"] != expected["flagged"]
    return len(cells) + 1, failed


def curate_oracle(w: Workload, dirs: dict[str, str]) -> dict:
    """Expected order-insensitive hash of every curation entry's rows."""
    from pgverify_spark import registry
    from tests.oracle_check import table_hash

    oracles = registry.oracle_queries()
    con = _connect(dirs[w.targets[0]], w.tables)
    out = {}
    for entry in w.entries:
        cur = con.execute(oracles[entry])
        cols = [d[0] for d in cur.description]
        out[entry] = table_hash(cols, cur.fetchall())
    con.close()
    return out


def check_curate(expected: dict, observed: dict) -> tuple[int, int]:
    """(attempted, failed) operations of one curation call: one per entry."""
    got = observed.get("hashes", {})
    return len(expected), sum(1 for e, h in expected.items() if got.get(e) != h)
