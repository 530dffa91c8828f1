"""Round-13 probe: do the r13 physical changes hold up at 10x/100x?

Two changes carry at-scale claims that need stress evidence:

1. ``dedup.dup_clusters`` co-partitioned rounds (r13 batch 2): the
   persisted hash(dst)-partitioned edge cache concentrates a hot node's
   edges in one partition.  The key-shifted replicated corpora make
   every term 10x/100x hotter, so the LSH pair graph's components (and
   any skew straggler in the round join) grow with scale.  Measures
   ``near_dedup_filter(docs, minhash_lsh_pairs(docs))`` wall at
   1x/10x/100x (warm, min-of-2, interleaved reps).
2. pagerank's edge cache width (``graph._edge_partitions``), which the
   rank rounds now share: at 10x (2.6 M pairs, measured) it is the
   core count (4 on a 4-core host; rows/2M alone would give 2), at
   100x (~26 M pairs) rows/2M dominates (14) — the width must not
   straggle where it binds.  Measures ``pagerank(doc_term_edges(docs),
   4)`` wall at the same scale points.

    python scripts/scale_check_r13.py [reps]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_check import DST, SRC, build_replicated, time_min2  # noqa: E402
from scale_check_r12g import DOCS100, build_docs_100  # noqa: E402


def main() -> None:
    from pgverify_spark.operators import dedup, graph
    from pgverify_spark.operators.util import release_cached_deps
    from pgverify_spark.session import get_spark
    from pgverify_spark.sources.parquet import ParquetTarget

    build_replicated()
    build_docs_100()
    spark = get_spark("pgverify-spark-scale-r13")
    spark.range(1_000_000).select("id").summary().collect()

    def run_dedup(sf_dir: str) -> None:
        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        pairs = dedup.minhash_lsh_pairs(docs, 0.3).select("doc_a", "doc_b")
        out = dedup.near_dedup_filter(docs, pairs)
        out.write.format("noop").mode("overwrite").save()
        release_cached_deps(out)
        spark.catalog.clearCache()

    def run_pagerank(sf_dir: str) -> None:
        docs = ParquetTarget("t", sf_dir).read(spark, "documents")
        out = graph.pagerank(graph.doc_term_edges(docs), 4)
        out.write.format("noop").mode("overwrite").save()
        release_cached_deps(out)
        spark.catalog.clearCache()

    probes = {"near_dedup": run_dedup, "pagerank": run_pagerank}
    for fn in probes.values():  # warm plan shapes
        fn("/root/testdata/sf0.001")

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    results: dict[str, dict] = {}
    for label, sf_dir in (("1x", SRC), ("10x", DST), ("100x", DOCS100)):
        row: dict[str, list[float]] = {k: [] for k in probes}
        for _ in range(reps):
            for name, fn in probes.items():
                row[name].append(round(time_min2(lambda: fn(sf_dir)), 3))
        results[label] = {k: {"min": min(v), "all": v} for k, v in row.items()}
        print(label, json.dumps(results[label]), flush=True)

    for name in probes:
        g10 = results["10x"][name]["min"] / results["1x"][name]["min"]
        g100 = results["100x"][name]["min"] / results["10x"][name]["min"]
        print(f"{name} wall growth: 1x->10x {g10:.2f}x, 10x->100x {g100:.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
