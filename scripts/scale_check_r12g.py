"""A true 100x documents corpus for the replicated-corpus scale probes
(``scale_check_r13*.py`` and ``scale_check_walks.py`` import it).

scale_check's shared DST100 replicates documents at 1x (only the TPC-H
anchor tables get real 100x rows).  ``build_docs_100`` writes 100
key-shifted replicas of the sf0.1 documents instead, so every term's
document frequency grows 100x — the hot-term skew stress.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_check import SRC  # noqa: E402

DOCS100 = "/tmp/pgvs_docs_rep100"


def build_docs_100() -> None:
    import duckdb

    if os.path.exists(f"{DOCS100}/documents.parquet"):
        return
    os.makedirs(DOCS100, exist_ok=True)
    duckdb.connect().execute(
        f"COPY (SELECT doc_id + r * 100000000 AS doc_id, * EXCLUDE (doc_id) "
        f"FROM read_parquet('{SRC}/documents.parquet'), range(100) t(r)) "
        f"TO '{DOCS100}/documents.parquet' (FORMAT parquet)"
    )
