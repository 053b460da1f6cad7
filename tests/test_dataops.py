"""Training-data ops: dedup, similarity, textops, multimodal, lineage."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_duplicates(spark, docs):
    from osmquadtree_geometry_spark.dedup import exact_duplicates
    d = exact_duplicates(docs).collect()
    # oracle: pandas
    pdf = docs.toPandas()
    vc = pdf.groupby("text")["doc_id"].agg(["count", "min"])
    exp = vc[vc["count"] > 1]
    assert len(d) == len(exp)
    for r in d:
        assert r.n_dups > 1


def test_minhash_lsh_keeper_semantics(spark, docs):
    """Exact duplicates are collapsed to a keeper BEFORE banding —
    non-keeper doc_ids must never appear in any pair (they'd otherwise
    form O(n²) mega-buckets at scale)."""
    from osmquadtree_geometry_spark.dedup import minhash_lsh_pairs
    pairs = minhash_lsh_pairs(docs, n_hashes=8, bands=4).collect()
    pdf = docs.toPandas()
    keepers = set(pdf.groupby("text")["doc_id"].min())
    for r in pairs:
        assert r.a in keepers and r.b in keepers
        assert 1 <= r.n_bands <= 4


def test_minhash_lsh_near_dups_and_bucket_cap(spark):
    """A near-duplicate (one token changed out of 40) must share a
    band with the original; max_bucket below the bucket size must
    drop the bucket (and hence the pair)."""
    from osmquadtree_geometry_spark.dedup import minhash_lsh_pairs
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" if i != 39 else "CHANGED" for i in range(40))
    rows = [(1, base), (2, base), (3, near)]  # 1,2 exact dups; 3 near
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b): r.n_bands
             for r in minhash_lsh_pairs(d, n_hashes=8, bands=4).collect()}
    assert (1, 3) in pairs          # near-dup found via shared band
    assert not any(2 in p for p in pairs)  # 2 collapsed into keeper 1
    # cap of 1 forbids every bucket (needs >=2 to pair at all)
    capped = minhash_lsh_pairs(d, n_hashes=8, bands=4, max_bucket=1).collect()
    assert capped == []


def test_minhash_signature_deterministic(spark, docs):
    from osmquadtree_geometry_spark.dedup import minhash_signatures
    s1 = minhash_signatures(docs.limit(20), n_hashes=4).collect()
    s2 = minhash_signatures(docs.limit(20), n_hashes=4).collect()
    assert sorted(map(str, s1)) == sorted(map(str, s2))


def test_simhash_near_pairs(spark, docs):
    from osmquadtree_geometry_spark.dedup import simhash, simhash_near_pairs
    s = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    # 60-bit fingerprints: non-negative, < 2^60 (round-1's 32-bit
    # width gave only 256 hamming buckets — a scale-killer)
    assert all(0 <= v < 2**60 for v in s.values())
    pairs = simhash_near_pairs(docs, max_hamming=3).collect()
    # exact duplicates are collapsed to keepers before chunking
    pdf = docs.toPandas()
    keepers = set(pdf.groupby("text")["doc_id"].min())
    for r in pairs:
        assert r.a in keepers and r.b in keepers
    # verify hamming against fingerprints
    for r in pairs[:20]:
        assert bin(s[r.a] ^ s[r.b]).count("1") == r.hamming


def test_ngram_jaccard(spark, docs):
    from osmquadtree_geometry_spark.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(docs, threshold=0.99).collect()
    pdf = docs.toPandas()
    dups = pdf[pdf.duplicated("text", keep=False)]
    same_source_dups = 0
    for _, grp in dups.groupby(["text", "source"]):
        n = len(grp)
        same_source_dups += n * (n - 1) // 2
    assert len([p for p in pairs if p.jaccard == 1.0]) >= same_source_dups


def test_embedding_near_dup(spark, emb):
    from osmquadtree_geometry_spark.dedup import embedding_near_dup_pairs
    pairs = embedding_near_dup_pairs(emb, threshold=0.9).collect()
    for r in pairs[:10]:
        assert 0.9 <= r.cosine <= 1.000001


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _queries(spark, emb, n=3):
    rows = emb.orderBy("vec_id").limit(n).collect()
    return spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in rows],
        "query_id long, qe array<float>")


def test_brute_force_topk(spark, emb):
    from osmquadtree_geometry_spark.similarity import brute_force_topk
    q = _queries(spark, emb)
    got = brute_force_topk(emb, q, k=5)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {r.query_id for r in q.collect()}
    # numpy oracle for one query
    E = emb.orderBy("vec_id").toPandas()
    mat = np.stack(E["embedding"].to_numpy())
    ids = E["vec_id"].to_numpy()
    qv = mat[0]
    cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(((round(c, 6), i) for c, i in zip(cos, ids) if i != ids[0]),
                   key=lambda t: (-t[0], t[1]))
    exp = [i for _, i in order[:5]]
    got0 = [r.vec_id for r in sorted(by_q[ids[0]], key=lambda r: (-r.cosine, r.vec_id))]
    assert got0 == exp


def test_ivf_ann_recall_and_plan(spark, emb):
    """IVF inverted-list ANN: recall vs brute force on the fixture,
    and the 100 TB plan shape — no CartesianProduct, and the corpus
    never shuffles: no Exchange between its scan and the kernel."""
    from osmquadtree_geometry_spark.similarity import (
        brute_force_topk, ivf_topk, seed_centroids)
    q = _queries(spark, emb, n=5)
    exact = brute_force_topk(emb, q, k=5).collect()
    approx_df = ivf_topk(emb, q, k=5, n_lists=16, n_probe=8)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    top = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    scan = next(i for i in range(top, len(lines)) if "Scan " in lines[i])
    assert not any("Exchange" in ln for ln in lines[top:scan]), plan
    approx = approx_df.collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # seed-quantizer IVF probing half the lists: recall is bounded by
    # list placement of the weak near-random fixture neighbours
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    # scores are exact cosines; every (q, v) at most once
    exact_scores = {(r.query_id, r.vec_id): r.cosine for r in exact}
    assert len(approx_set) == len(approx)
    for r in approx:
        if (r.query_id, r.vec_id) in exact_scores:
            assert abs(exact_scores[(r.query_id, r.vec_id)] - r.cosine) < 1e-9
    # every vector lands in exactly one list; all lists from the seed
    cents = seed_centroids(emb, 16)
    assert cents.count() == 16
    want = [r.vec_id for r in emb.orderBy("vec_id").limit(16).collect()]
    assert [r.list_id for r in cents.orderBy("list_id").collect()] == want
    # seed selection is a per-partition top-k merge, not a global
    # sort, and carries no un-partitioned window
    cplan = cents._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in cplan
    assert "Window" not in cplan


def test_ivf_trained_centroids(spark, emb):
    """Deterministic sampled-Lloyd's k-means (round-4 verdict Next #6):
    bit-reproducible centroids, pluggable into ivf_topk, recall at
    least as usable as the seeded quantizer's floor."""
    from osmquadtree_geometry_spark.similarity import (
        brute_force_topk, ivf_topk, train_centroids_kmeans)
    c1 = train_centroids_kmeans(emb, n_lists=16, n_iters=5,
                                max_sample=512, seed=7)
    c2 = train_centroids_kmeans(emb, n_lists=16, n_iters=5,
                                max_sample=512, seed=7)
    r1 = sorted(map(tuple, c1.collect()))
    r2 = sorted(map(tuple, c2.collect()))
    assert r1 == r2 and len(r1) == 16  # deterministic
    q = _queries(spark, emb, n=5)
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(emb, q, k=5).collect()}
    approx_df = ivf_topk(emb, q, k=5, n_lists=16, n_probe=8, centroids=c1)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    approx = {(r.query_id, r.vec_id) for r in approx_df.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"trained-IVF recall too low: {recall}"


def _ivf_vec(i: int, width: int) -> list[float]:
    # deterministic, varied, exact in float32 (eighths in [-11/8, 11/8])
    return [float((i * 37 + j * 11 + i * j) % 23 - 11) / 8
            for j in range(width)]


def _ivf_rows(emb_df, n_queries, **kw):
    from osmquadtree_geometry_spark.similarity import ivf_topk
    q = (emb_df.orderBy("vec_id").limit(n_queries)
         .selectExpr("vec_id as query_id", "embedding as qe"))
    return sorted(tuple(r) for r in ivf_topk(emb_df, q, **kw)
                  .select("query_id", "vec_id", "cosine").collect())


def _ivf_oracle_rows(path, **kw):
    import duckdb

    from osmquadtree_geometry_spark import oracles
    with duckdb.connect() as con:
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}/*.parquet')")
        return sorted(tuple(r) for r in
                      con.sql(oracles.q_ivf_ann(**kw)).fetchall())


def test_ivf_width_8_matches_oracle(spark, tmp_path):
    """ivf_topk on 8-wide vectors equals the DuckDB oracle's rows with
    exact cosines: the distance folds hold at any width, not just the
    fixture's 64."""
    path = str(tmp_path / "emb8.parquet")
    spark.createDataFrame([(i, _ivf_vec(i, 8)) for i in range(1, 41)],
                          "vec_id long, embedding array<float>") \
        .write.parquet(path)
    got = _ivf_rows(spark.read.parquet(path), 5, k=3, n_lists=4, n_probe=2)
    want = _ivf_oracle_rows(path, k=3, n_queries=5, n_lists=4, n_probe=2,
                            dim=8)
    assert len(got) == 15
    assert got == want


def _ivf_tied_vectors() -> dict[int, list[float]]:
    """8-wide vectors with tied distances: ids 5, 6 and 34 lie midway
    between two of the seed centroids (ids 1-4), nearer to no other,
    and ids 31-34 duplicate other vectors."""
    vec = {i: _ivf_vec(i, 8) for i in range(1, 41)}

    def mid(a, b):
        return [(x + y) / 2 for x, y in zip(vec[a], vec[b])]
    vec[5], vec[6] = mid(3, 4), mid(2, 4)
    vec[31], vec[32], vec[33], vec[34] = vec[1], vec[10], vec[10], vec[5]
    return vec


@pytest.mark.parametrize("case", ["partitions", "ties"])
def test_ivf_partitions_and_ties_match_oracle(spark, tmp_path, case):
    """ivf_topk equals the DuckDB oracle over a corpus spread across
    three partitions (64-wide vectors), and over tied distances: an
    assignment and a probe order tied between two lists go to the
    smaller list_id, and duplicate vectors tie on cosine."""
    if case == "ties":
        vec, width = _ivf_tied_vectors(), 8
        c = np.asarray([vec[i] for i in range(1, 5)])
        for v in (5, 6, 34):
            d = ((np.asarray(vec[v]) - c) ** 2).sum(1)
            assert np.sort(d)[0] == np.sort(d)[1], d  # a real tie
    else:
        vec, width = {i: _ivf_vec(i, 64) for i in range(1, 61)}, 64
    path = str(tmp_path / f"emb_{case}.parquet")
    spark.createDataFrame(sorted(vec.items()),
                          "vec_id long, embedding array<float>") \
        .write.parquet(path)
    emb_df = spark.read.parquet(path)
    if case == "partitions":
        emb_df = emb_df.repartition(3)
        assert emb_df.rdd.getNumPartitions() == 3
    got = _ivf_rows(emb_df, 5, k=4, n_lists=4, n_probe=2)
    want = _ivf_oracle_rows(path, k=4, n_queries=5, n_lists=4, n_probe=2,
                            dim=width)
    assert len(got) == 20
    assert got == want


def test_ivf_kernel_folds_equal_jvm_folds(spark):
    """The IVF kernel's dot products and sums of squares equal the JVM
    folds (``_dot_expr`` / ``_sqsum_expr`` at dim=None) exactly on
    random float32 vectors, where numpy's pairwise np.sum does not."""
    from osmquadtree_geometry_spark.similarity import (
        _dot_expr, _fold_dots, _sqsum_expr)
    rng = np.random.default_rng(5)
    a = (rng.standard_normal((200, 64))
         * rng.uniform(0.01, 100, (200, 1))).astype(np.float32)
    b = (rng.standard_normal((200, 64))
         * rng.uniform(0.01, 100, (200, 1))).astype(np.float32)
    rows = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(200)],
        "i int, a array<float>, b array<float>") \
        .select("i", F.expr(_dot_expr("a", "b", None)).alias("dot"),
                F.expr(_sqsum_expr("a", None)).alias("sq")) \
        .orderBy("i").collect()
    a64, b64 = a.astype(np.float64), b.astype(np.float64)
    dot, sq = _fold_dots(a64, b64), _fold_dots(a64, a64)
    assert [r.dot for r in rows] == dot.tolist()
    assert [r.sq for r in rows] == sq.tolist()
    # the summation order matters on this data
    assert (np.sum(a64 * b64, axis=1) != dot).any()


def test_ivf_mixed_widths(spark):
    """64-wide, 8-wide and NULL vectors in one table: a width mismatch
    makes the distance (and the cosine) NULL, ranked as Spark orders
    NULLs.  Expected rows are the width-dispatched implementation's
    output, pinned when the distances became width-independent
    folds."""
    data = [(i, None if i % 5 == 0 else
             _ivf_vec(i, 8) if i % 3 == 0 else _ivf_vec(i, 64))
            for i in range(1, 25)]
    emb_df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    got = _ivf_rows(emb_df, 6, k=3, n_lists=4, n_probe=2)
    assert got == [
        (1, 4, 0.271919), (1, 17, 0.238549), (1, 23, 0.429171),
        (2, 4, 0.198115), (2, 11, 0.257704), (2, 22, 0.365397),
        (3, 6, 0.10362), (3, 18, 0.171797), (3, 21, 0.419925),
        (4, 1, 0.271919), (4, 2, 0.198115), (4, 14, 0.137308),
        (5, 3, None), (5, 6, None), (5, 9, None),
        (6, 3, 0.10362), (6, 18, 0.389137), (6, 21, 0.538593)]


def test_ivf_null_elements_and_nan(spark):
    """A null element makes a vector's distances and dots NULL, as a
    NULL vector does, while a NaN element makes them NaN: a NaN
    distance ranks after every number (centroid 3 draws no vector) and
    a NaN cosine first.  Expected rows are the JVM-fold
    implementation's output, pinned when the IVF kernel moved to
    numpy."""
    vec = {i: _ivf_vec(i, 8) for i in range(1, 17)}
    vec[3][0] = vec[9][5] = float("nan")
    vec[5][4] = vec[7][2] = None
    vec[12], vec[14] = None, _ivf_vec(14, 4)
    emb_df = spark.createDataFrame(sorted(vec.items()),
                                   "vec_id long, embedding array<float>")
    got = [(q, v, "nan" if c is not None and c != c else c)
           for q, v, c in _ivf_rows(emb_df, 5, k=3, n_lists=4, n_probe=2)]
    assert got == [
        (1, 3, "nan"), (1, 9, "nan"), (1, 15, 0.29131),
        (2, 3, "nan"), (2, 9, "nan"), (2, 15, 0.165971),
        (3, 1, "nan"), (3, 2, "nan"), (3, 6, "nan"),
        (4, 3, "nan"), (4, 9, "nan"), (4, 15, 0.309875),
        (5, 1, None), (5, 2, None), (5, 3, None)]


def test_lsh_buckets_mixed_widths(spark):
    """One-scan LSH tables over 64-wide, 8-wide, NULL, all-zero and
    null-element vectors.  Expected rows are the per-table Union
    implementation's buckets (guarded unrolled projection), pinned when
    the projection became a fold: any vector that is not 64 wide, or
    has a null element, lands in bucket 0 of every table."""
    from osmquadtree_geometry_spark.similarity import _lsh_buckets
    data = [(i, None if i % 5 == 0 else
             _ivf_vec(i, 8) if i % 3 == 0 else _ivf_vec(i, 64))
            for i in range(1, 13)]
    data += [(13, [0.0] * 64), (14, [None] + [1.0] * 63)]
    emb_df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    got = sorted(tuple(r) for r in _lsh_buckets(
        emb_df, "embedding", dim=64, n_planes=3, n_tables=2, seed=42)
        .select("vec_id", "tab", "bucket").collect())
    assert got == [
        (1, 0, 2), (1, 1, 4), (2, 0, 4), (2, 1, 7), (3, 0, 0), (3, 1, 0),
        (4, 0, 7), (4, 1, 7), (5, 0, 0), (5, 1, 0), (6, 0, 0), (6, 1, 0),
        (7, 0, 5), (7, 1, 6), (8, 0, 1), (8, 1, 0), (9, 0, 0), (9, 1, 0),
        (10, 0, 0), (10, 1, 0), (11, 0, 1), (11, 1, 3), (12, 0, 0),
        (12, 1, 0), (13, 0, 0), (13, 1, 0), (14, 0, 0), (14, 1, 0)]


def test_lsh_ann_recall(spark, emb):
    from osmquadtree_geometry_spark.similarity import brute_force_topk, lsh_ann_topk
    q = _queries(spark, emb, n=5)
    exact = brute_force_topk(emb, q, k=5).collect()
    # testdata embeddings are near-random (top cosine ~0.3) — weak
    # neighbours need shallow buckets + many tables for recall
    approx = lsh_ann_topk(emb, q, k=5, n_planes=3, n_tables=8,
                          dim=64).collect()
    with pytest.raises(ValueError):  # dim is part of the contract
        lsh_ann_topk(emb, q, k=5)
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # approx pairs carry exact cosine scores
    exact_scores = {(r.query_id, r.vec_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_scores:
            assert r.cosine == exact_scores[(r.query_id, r.vec_id)]


# ---------------------------------------------------------------------------
# textops
# ---------------------------------------------------------------------------

def test_language_id(spark, docs):
    from osmquadtree_geometry_spark.textops import language_id
    out = language_id(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    langs = {r.lang_pred for r in rows}
    assert langs <= {"en", "de", "fr", "es", "und"}


def test_quality_and_tokens(spark, docs):
    from osmquadtree_geometry_spark.textops import quality_score, token_counts
    q = quality_score(docs).collect()
    for r in q[:20]:
        assert 0.0 <= r.quality <= 1.0
        assert r.n_tokens > 0
    t = {r.doc_id: r for r in token_counts(docs).collect()}
    pdf = docs.toPandas()
    for _, row in pdf.head(20).iterrows():
        assert t[row.doc_id].ws_tokens == len(row.text.split())
        assert t[row.doc_id].n_chars == len(row.text)


def test_fingerprint_stability(spark, docs):
    from osmquadtree_geometry_spark.textops import fingerprint
    f1 = {r.doc_id: r.fp for r in fingerprint(docs).collect()}
    # identical texts -> identical fingerprints
    pdf = docs.toPandas()
    for _, grp in pdf.groupby("text"):
        fps = {f1[d] for d in grp["doc_id"]}
        assert len(fps) == 1


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_features(spark, decoded):
    from osmquadtree_geometry_spark.multimodal import (
        extract_features, synth_media_table)
    mb = synth_media_table(decoded["media"])
    out = extract_features(mb, dim=8)
    rows = out.collect()
    assert rows
    for r in rows:
        assert len(r.features) == 8
        assert r.n_bytes == 16  # md5 payload
    # determinism: same payload -> same features
    again = {(r.doc_id, r.media_ref): r.features for r in out.collect()}
    for r in rows:
        assert again[(r.doc_id, r.media_ref)] == r.features


# ---------------------------------------------------------------------------
# lineage / resume
# ---------------------------------------------------------------------------

def test_lineage_resume(spark, tmp_path, docs_path):
    from osmquadtree_geometry_spark.lineage import (
        LineageStore, fingerprint_input, run_stage)
    store = LineageStore(spark, str(tmp_path / "lineage"))
    fp = fingerprint_input(docs_path)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(docs_path).select("doc_id")

    out1, resumed1 = run_stage(store, "decode", fp, build)
    assert not resumed1 and len(calls) == 1
    n1 = out1.count()
    out2, resumed2 = run_stage(store, "decode", fp, build)
    assert resumed2 and len(calls) == 1  # build NOT re-invoked
    assert out2.count() == n1
    # lineage rows recorded per partition, readable by Spark
    lin = spark.read.parquet(os.path.join(store.root, "lineage_stage=decode"))
    assert lin.agg(F.sum("rows")).first()[0] == n1
    # different fingerprint -> recompute
    out3, resumed3 = run_stage(store, "decode", "otherfp", build)
    assert not resumed3 and len(calls) == 2
    # bytes are REAL on-disk sizes of the stage's parquet output
    # (north rule: per-partition row/byte metrics), not an estimate
    import glob
    out_dir = store.output_dir("decode", fp)
    disk = sum(os.path.getsize(f)
               for f in glob.glob(os.path.join(out_dir, "part-*")))
    rec = lin.where(F.col("input_fingerprint") == fp) \
        .agg(F.sum("bytes")).first()[0]
    assert rec == disk and disk > 0


def test_corpus_prep_plan_and_consistency(spark):
    """corpus_prep: one shuffle for the keeper groupBy + one tiny
    rollup — no joins between the fused metric stages — and its
    integer aggregates reconcile with the standalone operators."""
    from osmquadtree_geometry_spark.dedup import _distinct_text_keepers
    from osmquadtree_geometry_spark.textops import (
        corpus_prep, language_id, quality_score, token_counts)
    docs = spark.range(0, 120).selectExpr(
        "cast(id as string) AS doc_id",
        "concat_ws(' ', transform(sequence(1, 1 + cast(id % 40 as int)), "
        "i -> element_at(array('the','fox','and','dog','der','hund'), "
        "1 + cast((id + i) % 6 as int)))) AS text")
    out = {r.lang_pred: r for r in corpus_prep(docs, min_quality=0.05).collect()}
    # no joins in the plan (fused projection), exactly the keeper
    # exchange + the rollup exchange
    plan = corpus_prep(docs, min_quality=0.05)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    # reconcile against the standalone operators composed the slow way
    keep = _distinct_text_keepers(docs, "text")
    q = {r.doc_id: r.quality for r in quality_score(keep).collect()}
    lang = {r.doc_id: r.lang_pred for r in language_id(keep).collect()}
    toks = {r.doc_id: r for r in token_counts(keep).collect()}
    agg = {}
    for did, qq in q.items():
        if qq < 0.05:
            continue
        a = agg.setdefault(lang[did], [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += toks[did].ws_tokens
        a[2] += toks[did].bpe_ish_tokens
        a[3] += toks[did].n_chars
        a[4] += round(qq * 1000000)
    assert set(out) == set(agg)
    for lg, a in agg.items():
        r = out[lg]
        assert [r.n_docs, r.ws_tokens, r.bpe_ish_tokens, r.n_chars,
                r.sum_quality_micro] == a
