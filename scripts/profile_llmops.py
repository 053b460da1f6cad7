#!/usr/bin/env python
"""Round-6: piecewise profiling of the LLM-data-pipeline operators at
sf1.0 (noop-sink isolation, guide §1.4)."""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")


def main():
    from osmquadtree_geometry_spark.session import get_spark, ship_package
    from osmquadtree_geometry_spark import cache, dedup, similarity, textops
    from pyspark.sql import functions as F

    spark = get_spark("profllm")
    ship_package(spark)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    docs.count(), emb.count()

    def t(tag, df, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            cache.release_all()
            best = dt if best is None else min(best, dt)
        print(f"{tag}: {best:.2f}s")

    # --- simhash family
    uniq = dedup._distinct_text_keepers(docs, "text")
    t("uniq keepers", uniq)
    t("simhash(uniq)", dedup.simhash(uniq))
    t("simhash_near_pairs", dedup.simhash_near_pairs(docs, max_hamming=3))

    # --- minhash family
    t("minhash_signatures(uniq,8)", dedup.minhash_signatures(uniq, 8))
    t("minhash_lsh_pairs", dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4))
    t("jaccard_lsh", dedup.jaccard_lsh_pairs(docs, threshold=0.8,
                                             n_hashes=16, bands=4))
    sh = uniq.select("doc_id", F.expr(
        f"array_distinct({dedup._shingles('text', 3)})").alias("sh"))
    t("shingle arrays only", sh)

    # --- ANN
    q5 = emb.orderBy("vec_id").limit(5).selectExpr(
        "vec_id as query_id", "embedding as qe")
    t("ann_brute_force", similarity.brute_force_topk(emb, q5, k=10))
    t("ivf_ann", similarity.ivf_topk(emb, q5, k=10, n_lists=16, n_probe=4))
    # ivf pieces: the kernel stage alone, without the top-k window
    t("ivf candidates (kernel)", similarity._ivf_scored(
        emb, q5, n_lists=16, n_probe=4, centroids=None))

    # --- textops
    t("corpus_prep", textops.corpus_prep(docs, min_quality=0.05))
    t("quality_score", textops.quality_score(docs))
    t("language_id", textops.language_id(docs))
    t("token_counts", textops.token_counts(docs))


if __name__ == "__main__":
    main()
