"""Recall@k comparison: seeded vs k-means-trained IVF quantizer vs
brute force, at a given sf dir (round-4 verdict Next #6).  Prints one
JSON line; paste into BENCH/ROUND5.md.

Usage: python scripts/ivf_recall.py [sf_dir] [k] [n_queries]
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from osmquadtree_geometry_spark import similarity as S  # noqa: E402
from osmquadtree_geometry_spark.session import get_spark, ship_package  # noqa: E402
from osmquadtree_geometry_spark.similarity import (  # noqa: E402
    brute_force_topk, ivf_topk, train_centroids_kmeans)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    spark = get_spark("ivf_recall")
    ship_package(spark)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    n_lists = max(16, int(n ** 0.5))
    # query set DISJOINT from the seeded-centroid range (the seed
    # quantizer takes the smallest vec_ids; evaluating on those same
    # ids lets every query probe "its own" list first — a biased win)
    q = (emb.orderBy(F.desc("vec_id")).limit(n_q)
         .selectExpr("vec_id as query_id", "embedding as qe"))
    exact = {}
    for r in brute_force_topk(emb, q, k=k).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    out = {"sf_dir": sf_dir, "n_vectors": n, "k": k,
           "n_queries": n_q, "n_lists": n_lists}
    trained = train_centroids_kmeans(emb, n_lists=n_lists, n_iters=10)

    vg = S._collect_vectors(emb, "vec_id", "embedding")[1]
    qg = S._collect_vectors(q, "query_id", "qe")[1]

    def scanned_fraction(cent, n_probe):
        """Mean fraction of the corpus a query's probed lists hold —
        the ANN selectivity that recall must be judged against (an
        unbalanced quantizer 'wins' recall by scanning more).  Lists
        and probes come from ivf_topk's own kernel."""
        c = cent if cent is not None else S.seed_centroids(emb, n_lists)
        lids, cg = S._collect_vectors(c, "list_id", "centroid")
        m = len(lids)
        sizes = np.bincount(S._list_ranks(vg, n, cg, m)[:, 0], minlength=m)
        probes = S._list_ranks(qg, n_q, cg, m)[:, :n_probe]
        return int(sizes[probes].sum()) / (n * n_q)

    for n_probe in (2, 4, 8):
        for name, cent in (("seeded", None), ("trained", trained)):
            t0 = time.monotonic()
            got = {}
            res = ivf_topk(emb, q, k=k, n_lists=n_lists,
                           n_probe=n_probe, centroids=cent)
            for r in res.collect():
                got.setdefault(r.query_id, set()).add(r.vec_id)
            hits = sum(len(exact[qid] & got.get(qid, set()))
                       for qid in exact)
            total = sum(len(v) for v in exact.values())
            out[f"recall@{k}_{name}_probe{n_probe}"] = round(hits / total, 4)
            out[f"sec_{name}_probe{n_probe}"] = round(
                time.monotonic() - t0, 2)
            out[f"scanned_{name}_probe{n_probe}"] = round(
                scanned_fraction(cent, n_probe), 4)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
