"""Cheap self-tests of the benchmark at sf0.001.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import re

import pytest

from perfbench import gen
from perfbench.run import END_TO_END_UNITS, ROOT, per_layer_unit
from perfbench.traced import per_layer_names
from perfbench.workloads import (
    WORKLOADS,
    check_verify,
    flagged_cells,
    verify_oracle,
)

SF = 0.001
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _faulty(tmp_path, seed: int):
    w = dataclasses.replace(WORKLOADS["verify_faulty"], sf=SF)
    dirs = gen.write_targets(str(tmp_path / f"s{seed}"), w.tables, SF, seed, faulty=True)
    return w, dirs


def test_same_seed_gives_same_bytes(tmp_path):
    tables = WORKLOADS["verify_faulty"].tables
    one = gen.write_targets(str(tmp_path / "one"), tables, SF, 5, faulty=True)
    two = gen.write_targets(str(tmp_path / "two"), tables, SF, 5, faulty=True)
    other = gen.write_targets(str(tmp_path / "other"), tables, SF, 6)
    for target in ("A", "B", "C"):
        assert _digests(one[target]) == _digests(two[target]), target
    # A is the testdata as it is; the seed shuffles B
    testdata = os.path.join(gen.TESTDATA, f"sf{SF:g}")
    assert _digests(one["A"]) == _digests(testdata)
    assert _digests(one["A"]) == _digests(other["A"])
    assert _digests(one["B"]) != _digests(other["B"])


def test_targets_hold_the_same_rows(tmp_path):
    w = dataclasses.replace(WORKLOADS["verify_catalog"], sf=SF)
    dirs = gen.write_targets(str(tmp_path), w.tables, SF, 3)
    expected = verify_oracle(w, dirs)
    assert expected["flagged"] == []
    assert "(err)" not in expected["cells"].values()


@pytest.mark.parametrize("seed", [1, 2])
def test_fault_verdict_prediction(tmp_path, seed):
    w, dirs = _faulty(tmp_path, seed)
    expected = verify_oracle(w, dirs)
    cells, flagged = expected["cells"], set(expected["flagged"])
    # the truncated part file: every lineitem cell of C reads (err)
    assert all(cells[f"C/lineitem/{m}"] == "(err)" for m in w.modes)
    assert all(f"lineitem/{m}" in flagged for m in w.modes)
    # the deleted customer row changes the count, the changed order does not
    assert "customer/rowcount" in flagged and "customer/full" in flagged
    assert "orders/full" in flagged and "orders/rowcount" not in flagged
    assert "nation/full" not in flagged
    assert not any(v == "(err)" for k, v in cells.items() if k.startswith("A/"))


def test_err_on_a_healthy_cell_fails():
    """An (err) counts as failed wherever no fault was placed, even when
    the oracle failed there too."""
    cells = {"A/orders/full": "(err)", "C/lineitem/full": "(err)", "C/orders/full": "x"}
    expected = {"cells": cells, "flagged": ["lineitem/full", "orders/full"]}
    observed = {"cells": dict(cells), "flagged": ["lineitem/full", "orders/full"]}
    assert check_verify(expected, observed) == (4, 1)


def test_verify_flags_exactly_the_predicted_cells(tmp_path):
    """The program flags the oracle-predicted cells on the faulty target."""
    import importlib

    from pgverify_spark.session import get_spark
    from pgverify_spark.sources.parquet import ParquetTarget

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    w, dirs = _faulty(tmp_path, 1)
    expected = verify_oracle(w, dirs)
    spark = get_spark("perfbench-selftest")
    verify = importlib.import_module("pgverify_spark.plans.verify").verify
    try:
        result = verify(spark, [ParquetTarget(t, dirs[t]) for t in w.targets], w.config())
    finally:
        spark.stop()
    observed = {
        "cells": {f"{r[0]}/{r[2]}/{r[3]}": r[4] for r in result.rows},
        "flagged": flagged_cells(result.errors),
    }
    assert check_verify(expected, observed) == (len(expected["cells"]) + 1, 0)


def test_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    assert set(listed) <= set(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == END_TO_END_UNITS
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert list(per_layer) == per_layer_names()
    assert all(per_layer_unit(n) == u for n, u in per_layer.items())
    names = listed + list(e2e) + list(per_layer)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(u) for u in list(e2e.values()) + list(per_layer.values()))
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
