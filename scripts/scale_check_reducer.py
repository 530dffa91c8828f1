"""The exact ordered-digest reducer at one scale point, for an interleaved
A/B of two checkouts.

Times the registry entries ``full_fingerprint_lineitem`` and
``sparse_fingerprint_lineitem`` (collect, warm, min-of-2 per rep).  At
10x the sparse sample exceeds ``small_input_bytes``, so both entries
run the large-input reducer under the default ``full_stream_hash``.

One process measures one checkout at one scale; alternate the checkouts
between processes to interleave an A/B.  The last stdout line is one
JSON object ``{entry: {"min": s, "all": [s, ...], "fp": digest}}``.

    python scripts/scale_check_reducer.py 1x|10x [reps]

``1x`` is the sf0.1 testdata, ``10x`` the key-shifted replicated corpus
``scale_check.build_replicated`` writes.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_check import DST, SRC, build_replicated, time_min2  # noqa: E402

ENTRIES = ("full_fingerprint_lineitem", "sparse_fingerprint_lineitem")


def main() -> None:
    from pgverify_spark import registry
    from pgverify_spark.session import get_spark

    scale = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = {"1x": SRC, "10x": DST}[scale]
    if scale == "10x":
        build_replicated()
    spark = get_spark("pgverify-spark-scale-reducer")
    queries = registry.spark_queries()
    warm = os.path.join(os.path.dirname(SRC), "sf0.01")
    for name in ENTRIES:  # warm plan shapes
        queries[name](spark, warm).collect()
    results = {}
    for name in ENTRIES:
        vals = [
            round(time_min2(lambda: queries[name](spark, sf_dir).collect()), 3)
            for _ in range(reps)
        ]
        fp = queries[name](spark, sf_dir).collect()[0][0]
        results[name] = {"min": min(vals), "all": vals, "fp": fp}
    print(json.dumps(results), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
