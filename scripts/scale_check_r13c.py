"""Round-13 batch-6 stress: pagerank_weighted at 10x/100x.

Batch 5 stressed the plain pagerank; this run covers the
weighted sibling after the in-row gram-count rewrite (batch 6).  The
hazard class to rule out: replicated corpora make every gram 10x/100x
hotter — the old explode->groupBy(doc_id, gram) build concentrated hot
gram STRINGS in a shuffle, while the in-row build's work is per-doc
(array_sort + run-length, O(G log G) per row) and must scale with row
count only.  Measures the full entry shape
``pagerank_weighted(doc_term_edges_weighted(docs), 4)`` wall at
1x/10x/100x (noop sink, min-of-2, interleaved reps).

    python scripts/scale_check_r13c.py [reps]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_check import DST, SRC, build_replicated, time_min2  # noqa: E402
from scale_check_r12g import DOCS100, build_docs_100  # noqa: E402


def main() -> None:
    from pgverify_spark.operators import graph
    from pgverify_spark.operators.util import release_cached_deps
    from pgverify_spark.session import get_spark
    from pgverify_spark.sources.parquet import ParquetTarget

    build_replicated()
    build_docs_100()
    spark = get_spark("pgverify-spark-scale-r13c")
    spark.range(1_000_000).select("id").summary().collect()

    def run_wpr(sf_dir: str) -> None:
        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        out = graph.pagerank_weighted(graph.doc_term_edges_weighted(docs), 4)
        out.write.format("noop").mode("overwrite").save()
        release_cached_deps(out)
        spark.catalog.clearCache()

    run_wpr("/root/testdata/sf0.001")  # warm plan shapes

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    results: dict[str, dict] = {}
    for label, sf_dir in (("1x", SRC), ("10x", DST), ("100x", DOCS100)):
        vals = [round(time_min2(lambda: run_wpr(sf_dir)), 3) for _ in range(reps)]
        results[label] = {"min": min(vals), "all": vals}
        print(label, json.dumps(results[label]), flush=True)

    g10 = results["10x"]["min"] / results["1x"]["min"]
    g100 = results["100x"]["min"] / results["10x"]["min"]
    print(f"pagerank_weighted wall growth: 1x->10x {g10:.2f}x, 10x->100x {g100:.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
