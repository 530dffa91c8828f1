"""The three PageRank walks at one scale point, for an interleaved A/B of
two checkouts.

Each walk runs the registry's entry shape over the documents term graph
with 4 rounds, into a noop sink, warm, min-of-2 per rep:

- ``plain``: ``pagerank(doc_term_edges(docs), 4)`` (scale_check_r13's
  PageRank probe);
- ``weighted``: ``pagerank_weighted(doc_term_edges_weighted(docs), 4)``;
- ``personalized``: ``pagerank_personalized(doc_term_edges(docs),
  "node < TERM_NODE_OFFSET", 4)``, documents as the seed set.

One process measures one checkout at one scale; alternate the checkouts
between processes to interleave an A/B.  The last stdout line is one
JSON object ``{walk: {"min": s, "all": [s, ...]}}``.

    python scripts/scale_check_walks.py 1x|10x|100x [reps]

``1x`` is the sf0.1 testdata documents (5k), ``10x`` the key-shifted
replicated corpus ``scale_check.build_replicated`` writes (50k), ``100x``
the one ``scale_check_r12g.build_docs_100`` writes (500k).
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

    scale = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir, build = {
        "1x": (SRC, None),
        "10x": (DST, build_replicated),
        "100x": (DOCS100, build_docs_100),
    }[scale]
    if build:
        build()
    spark = get_spark("pgverify-spark-scale-walks")
    seed = f"node < {graph.TERM_NODE_OFFSET}"
    walks = {
        "plain": lambda d: graph.pagerank(graph.doc_term_edges(d), 4),
        "weighted": lambda d: graph.pagerank_weighted(
            graph.doc_term_edges_weighted(d), 4
        ),
        "personalized": lambda d: graph.pagerank_personalized(
            graph.doc_term_edges(d), seed, 4
        ),
    }

    def run(walk, path: str) -> None:
        docs = ParquetTarget("t", path).read(spark, "documents")
        out = walk(docs)
        out.write.format("noop").mode("overwrite").save()
        release_cached_deps(out)
        spark.catalog.clearCache()

    warm = os.path.join(os.path.dirname(SRC), "sf0.001")
    for walk in walks.values():  # warm plan shapes
        run(walk, warm)
    results = {}
    for name, walk in walks.items():
        vals = [round(time_min2(lambda: run(walk, sf_dir)), 3) for _ in range(reps)]
        results[name] = {"min": min(vals), "all": vals}
    print(json.dumps(results), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
