"""Dump the physical plans of the exact ordered-digest reducer.

    python scripts/one_reducer_plans.py SF_DIR OUT_DIR TAG

Writes one ``<case>_stream_<true|false>_<TAG>.txt`` per case into
OUT_DIR: ``full_fingerprint``, ``fused_fingerprints(..., ("full",
"rowcount", "additive"))`` and ``sparse_fingerprint`` on SF_DIR's
``lineitem`` with ``small_input_bytes=0`` (the distributed plan at any
size), each under ``full_stream_hash`` True and False.  Expression ids
(``#123``), exchange ids (``plan_id=7``) and SF_DIR are normalized, so
plans from two checkouts diff cleanly: run the script from each
checkout with its own TAG (e.g. ``before`` / ``after``) and ``diff``
the files.
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgverify_spark.config import VerifyConfig  # noqa: E402
from pgverify_spark.operators import fingerprint as fp  # noqa: E402
from pgverify_spark.session import get_spark  # noqa: E402
from pgverify_spark.sources.parquet import ParquetTarget  # noqa: E402

CASES = {
    "full": lambda df, schema, cfg: fp.full_fingerprint(df, schema, cfg),
    "fused": lambda df, schema, cfg: fp.fused_fingerprints(
        df, schema, cfg, ("full", "rowcount", "additive")
    ),
    "sparse": lambda df, schema, cfg: fp.sparse_fingerprint(df, schema, cfg),
}


def plan_text(frame, sf: str) -> str:
    text = frame._jdf.queryExecution().executedPlan().toString()
    text = re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", text))
    return text.replace(os.path.abspath(sf), "SF_DIR")


def main() -> None:
    sf, out_dir, tag = sys.argv[1:4]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("one-reducer-plans")
    target = ParquetTarget("t", sf)
    df = target.read(spark, "lineitem")
    schema = target.table_schema(spark, "lineitem")
    for stream in (True, False):
        cfg = VerifyConfig(small_input_bytes=0, full_stream_hash=stream)
        for case, build in CASES.items():
            name = f"{case}_stream_{str(stream).lower()}_{tag}.txt"
            with open(os.path.join(out_dir, name), "w") as f:
                f.write(plan_text(build(df, schema, cfg), sf) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
