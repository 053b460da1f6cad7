"""Physical-plan assertions: the optimizations we rely on at 100TB
must actually appear in the plans Catalyst produces (predicate
pushdown to parquet, broadcast joins for small dims, shuffle-free
map-literal tile allocation, whole-stage codegen in the hot path)."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_on_written_tiles(spark, docs_path, tmp_path):
    """S4: bbox/minzoom predicates reach the parquet scan of the tiled
    output (`pack_geometry.rs:530-585` pushdown equivalent)."""
    from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    from osmquadtree_geometry_spark.sinks import write_sorted_tiles
    res = run_pipeline(spark, docs_path, minzoom=MinZoomSpec.default())
    out = str(tmp_path / "tiles")
    write_sorted_tiles(res.points.select(
        "id", "lon", "lat", "minzoom", "quadtree", "tile"), out)

    back = spark.read.parquet(out)
    q = back.where((F.col("minzoom") <= 14) & (F.col("lon") > 0)
                   & (F.col("tile") >= 0)).select("id", "lon")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(minzoom,14)" in plan
    assert "GreaterThan(lon,0)" in plan
    # column pruning: scan reads only what the projection needs
    assert "lat" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_broadcast_join_small_dim(spark):
    big = spark.range(0, 100000).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v"))
    small = spark.range(0, 50).select(F.col("id").alias("k"),
                                      F.lit("x").alias("name"))
    j = big.join(F.broadcast(small), "k")
    assert "BroadcastHashJoin" in _plan(j)


def test_tile_alloc_no_shuffle(spark):
    """Small-dictionary tile allocation is a pure projection — no
    Exchange in the plan (zero shuffle at any scale)."""
    import numpy as np
    from osmquadtree_geometry_spark.kernels import quadtree as qtk
    from osmquadtree_geometry_spark.operators.tiles import allocate_tiles
    tiles = [int(qtk.from_tile(np.asarray([x]), np.asarray([y]), 8)[0])
             for x in range(3) for y in range(3)]
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 1000 + 18).alias("quadtree"))
    out = allocate_tiles(df, tiles)
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "tile" in out.columns


def test_decode_stays_codegen(spark, tmp_path):
    """The staged-SQL quadtree encode must not fall out of whole-stage
    codegen (the 64KB blowup regression guard).  Fresh fixture file so
    the plan can't hit session caches from other tests."""
    from osmquadtree_geometry_spark.datagen import generate_docs_parquet
    from osmquadtree_geometry_spark.decode import decode_all, read_docs
    p = generate_docs_parquet(str(tmp_path / "plan_docs.parquet"), 5)
    nodes = decode_all(read_docs(spark, p))["nodes"]
    plan = _plan(nodes)
    # no Python evaluation anywhere in decode (AQE hides codegen node
    # labels pre-execution, so assert the absence of the slow path)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    # positional parse reached the plan (not str_to_map)
    assert "substring_index" in plan
    assert "str_to_map" not in plan


def test_knn_plan_is_equi_join(spark, docs_path):
    """Cell-bucketed spatial joins must plan as hash/sort-merge joins.
    kNN's phase-2 residue is the ONE allowed nested-loop: a broadcast
    of the unsettled queries (sparse tail) — never an unbroadcast
    CartesianProduct."""
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    from osmquadtree_geometry_spark.spatial.joins import knn_join, raster_vector_join
    res = run_pipeline(spark, docs_path)
    k = knn_join(res.points, res.points, k=3, cell_depth=6, max_rings=1)
    pk = _plan(k)
    assert "CartesianProduct" not in pk
    # phase 1 (the bulk path) is an equi-join on the cell id
    assert "hashpartitioning(cell" in pk or "SortMergeJoin" in pk \
        or "BroadcastHashJoin" in pk
    # any nested loop must be the broadcast phase-2 fallback
    if "NestedLoop" in pk:
        assert "BroadcastNestedLoopJoin" in pk
    rv = raster_vector_join(res.decoded["media"], res.points)
    prv = _plan(rv)
    assert "NestedLoop" not in prv and "CartesianProduct" not in prv


def test_cell_codec_plans_stay_in_jvm(spark, docs_path, tmp_path):
    """Every Spark-side quadtree cell comes from the staged SQL codec:
    no Python evaluation node in the knn (live and stored targets),
    raster (no stored tile_cell), pip (SQL engine, no side tables) and
    poly_cover plans.  The line clip is one Python stage: its cell walk
    runs inside the clip's ``mapInPandas``."""
    from osmquadtree_geometry_spark import sinks
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    from osmquadtree_geometry_spark.spatial import joins
    from osmquadtree_geometry_spark.tableio import read_table
    res = run_pipeline(spark, docs_path)
    paths = sinks.write_spatial_index(res, str(tmp_path))
    pc = read_table(spark, paths["points_cells"])
    plans = {
        "knn live": joins.knn_join(res.points, res.points, k=3,
                                   cell_depth=8, max_rings=1),
        "knn stored": joins.knn_join(res.points, res.points, k=3,
                                     cell_depth=8, max_rings=1,
                                     target_cells=pc),
        "raster": joins.raster_vector_join(res.decoded["media"], res.points),
        "pip sql": joins.point_in_polygon_join(
            res.points, res.simple_polygons, cell_depth=10, engine="sql"),
        "poly_cover": joins.polygon_cover(res.simple_polygons,
                                          sinks.SPATIAL_COVER_DEPTH),
        "clip lines": joins.clip_lines_to_tiles(res.linestrings,
                                                tile_depth=12),
    }
    for name, df in plans.items():
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert df.count() > 0, name
    clip = plans["clip lines"]._jdf.queryExecution().executedPlan().toString()
    assert clip.count("MapInPandas") == 1, clip


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same (key, count) must join with NO
    Exchange in the plan — the co-location primitive that replaces
    repeated shuffles at 100 TB."""
    from osmquadtree_geometry_spark.sinks import write_bucketed
    a = spark.range(0, 20000).selectExpr("id as k", "id * 2 as va")
    b = spark.range(0, 20000).selectExpr("id as k", "id * 3 as vb")
    write_bucketed(a, "bt_a", "k", 8, str(tmp_path / "bt_a"))
    write_bucketed(b, "bt_b", "k", 8, str(tmp_path / "bt_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # write_bucketed leaves ONE file per bucket, so the scan
        # propagates the per-bucket sort and the merge join needs no
        # Sort either — shuffle-free AND sort-free
        assert "Sort [" not in plan, plan
        assert j.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_pip_join_bounded_cell_agg(spark):
    """pip_join must not pack a cell's points into one UNBOUNDED
    collect_list row (round-1 scale-killer): the pack aggregation is
    keyed by (cell, pbucket) where the bucket count scales with the
    cell's point count, and nothing (distinct/agg/exchange) runs
    downstream of the pandas kernel.  Synthetic inputs so the plan
    contains ONLY the join, and a skewed fixture proves the row bound
    empirically."""
    from pyspark.sql import functions as F2
    from osmquadtree_geometry_spark.spatial.joins import point_in_polygon_join
    pts = spark.range(0, 5000).selectExpr(
        "id", "cast(id % 7 as int) as lon", "cast(id % 11 as int) as lat")
    polys = spark.range(0, 5).selectExpr(
        "id", "array(named_struct('lon', -10, 'lat', -10), "
        "named_struct('lon', 100000, 'lat', -10), "
        "named_struct('lon', 100000, 'lat', 100000), "
        "named_struct('lon', -10, 'lat', 100000), "
        "named_struct('lon', -10, 'lat', -10)) as lonlats")
    j = point_in_polygon_join(pts, polys, cell_depth=10,
                              max_points_per_row=256, engine="packed")
    plan = _plan(j)
    # the pack agg is bucket-keyed (bounded), and the kernel is the
    # plan's last stage (no distinct/agg above the pair stream)
    assert "pbucket" in plan
    assert "MapInPandas" in plan
    after = plan.rsplit("MapInPandas", 1)[1]
    assert "HashAggregate" not in after and "Exchange" not in after
    # empirically: ALL 5000 co-located points are inside every polygon,
    # yet no packed row exceeded the cap by more than hash skew
    assert j.count() == 5000 * 5
    # the default SQL engine streams pairs through ONE equi-join with
    # the ray-cast fold inside the join stage: no pack shuffle, no
    # pandas stage, no nested-loop join anywhere
    js = point_in_polygon_join(pts, polys, cell_depth=10)
    plan_s = _plan(js)
    assert "MapInPandas" not in plan_s
    assert "CartesianProduct" not in plan_s
    assert "BroadcastNestedLoopJoin" not in plan_s
    assert "collect_list" not in plan_s
    assert js.count() == 5000 * 5


def test_pip_auto_builds_point_frame_once(spark):
    """pip ``auto`` with rings on both sides of ``ring_split`` sends
    each polygon to the SQL fold or the packed kernel; both read one
    persisted point frame, so the executed plan scans the points once,
    and the pairs equal the packed engine's."""
    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.spatial.joins import point_in_polygon_join
    pts = spark.range(0, 5000).selectExpr(
        "id", "cast(id % 7 as int) as lon", "cast(id % 11 as int) as lat")

    def ring(*xy):
        return "array(" + ", ".join(
            f"named_struct('lon', {x}, 'lat', {y})" for x, y in xy) + ")"
    square = ring((-10, -10), (100000, -10), (100000, 100000),
                  (-10, 100000), (-10, -10))  # 5 points: packed
    triangle = ring((-10, -10), (100000, -10), (-10, 100000),
                    (-10, -10))  # 4 points: SQL fold
    polys = spark.range(0, 4).selectExpr(
        "id", f"if(id % 2 = 0, {square}, {triangle}) as lonlats")
    with cache.scope() as handles:
        j = point_in_polygon_join(pts, polys, cell_depth=10, engine="auto",
                                  max_ring_pts=5, ring_split=4)
        got = sorted(j.collect())
        plan = _plan(j)
    cache.release(handles)
    assert "MapInPandas" in plan
    assert plan.count("Range (0, 5000") == 1
    exp = sorted(point_in_polygon_join(pts, polys, cell_depth=10,
                                       engine="packed").collect())
    assert got == exp and len(got) > 0


def test_lsh_pair_generators_no_cartesian(spark):
    """The LSH candidate generators (jaccard, embedding near-dup,
    simhash) must plan as equi-joins on bucket keys — a
    CartesianProduct / BroadcastNestedLoopJoin anywhere means the
    all-pairs path leaked back in."""
    import pandas as pd
    from osmquadtree_geometry_spark import dedup
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(30)],
        "text": [f"alpha beta gamma delta {i % 7}" for i in range(30)],
        "source": ["s"] * 30}))
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": list(range(20)),
        "embedding": [[float(i % 5), 1.0, -2.0, float(i)] for i in range(20)],
        "label": ["x"] * 20}))
    for df in (dedup.jaccard_lsh_pairs(docs, threshold=0.1, n_hashes=8,
                                       bands=4),
               dedup.embedding_lsh_near_dup(emb, threshold=0.1, n_planes=2,
                                            n_tables=2, dim=4),
               dedup.simhash_near_pairs(docs, max_hamming=3)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_plan_is_compact(spark):
    """ivf_topk computes every distance in one numpy kernel whatever
    the vector width: no Union of per-width branches, no unrolled
    element_at sums and no higher-order folds in the executed plan,
    and the only Exchange is the top-k window's, keyed by query_id."""
    import re

    from osmquadtree_geometry_spark.similarity import ivf_topk
    emb = spark.createDataFrame(
        [(i, [float((i * j + i) % 7 + 1) for j in range(64)])
         for i in range(1, 41)],
        "vec_id long, embedding array<float>")
    q = (emb.orderBy("vec_id").limit(3)
         .selectExpr("vec_id as query_id", "embedding as qe"))
    df = ivf_topk(emb, q, k=3, n_lists=4, n_probe=2)
    assert len(df.collect()) == 9
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert "element_at(" not in plan
    assert "aggregate(" not in plan and "zip_with(" not in plan
    final = plan.split("== Initial Plan ==")[0]
    exchanges = [ln for ln in final.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert re.search(r"Exchange hashpartitioning\(query_id#\d+L?, \d+\)",
                     exchanges[0]), exchanges


def test_lsh_tables_from_one_scan(spark):
    """lsh_ann_topk and embedding_lsh_near_dup build their hash tables
    from one scan (one posexplode of the per-table bucket ids, no Union
    of per-table scans), and each hyperplane projection is a fold, not
    an unrolled element_at sum.  (The cosine re-rank keeps its guarded
    unrolled dot, so element_at is only ruled out of the bucket
    projection.)"""
    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.dedup import embedding_lsh_near_dup
    from osmquadtree_geometry_spark.similarity import lsh_ann_topk
    emb = spark.createDataFrame(
        [(i, [float((i * j + i) % 7 - 3) for j in range(64)])
         for i in range(1, 41)],
        "vec_id long, embedding array<float>")
    q = (emb.orderBy("vec_id").limit(3)
         .selectExpr("vec_id as query_id", "embedding as qe"))
    with cache.scope() as handles:
        dfs = (lsh_ann_topk(emb, q, k=3, n_planes=2, n_tables=3, dim=64),
               embedding_lsh_near_dup(emb, threshold=0.5, n_planes=2,
                                      n_tables=3, dim=64))
    try:
        for df in dfs:
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Union" not in plan, plan
            gen = [ln for ln in plan.splitlines() if "posexplode(" in ln]
            assert gen, plan
            assert all("element_at(" not in ln for ln in gen), gen
    finally:
        cache.release(handles)


def test_bucketed_waynode_join_plan(spark, docs_path, tmp_path):
    """Round-2 verdict Next #7 (bucketed input consumption): after the
    prepare_bucketed ingest prepass, the J1 refs⋈locations join must
    read both sides bucket-aligned — NO Exchange below the join; the
    only shuffle left is the inherent per-way collect — and produce
    the same ways_ll as the unbucketed path."""
    from osmquadtree_geometry_spark.pipeline import (
        collect_way_nodes_bucketed, prepare_bucketed)
    from osmquadtree_geometry_spark.decode import decode_all, read_docs
    from osmquadtree_geometry_spark.operators.waynodes import collect_way_nodes
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        prepare_bucketed(spark, docs_path, n_buckets=4, prefix="tbw",
                         base_path=str(tmp_path))
        ok, errs = collect_way_nodes_bucketed(spark, prefix="tbw")
        plan = _plan(ok)
        join_part = plan.split("SortMergeJoin")[-1]  # below the ref join
        assert "Exchange" not in join_part, join_part
        # single-file buckets: the refs⋈locations merge join consumes
        # the layout's sort order — no Sort over either bucketed scan
        assert "Sort [" not in join_part, join_part
        # same rows as the unbucketed J1
        t = decode_all(read_docs(spark, docs_path))
        ok0, errs0 = collect_way_nodes(t["ways"], t["nodes"])
        a = {(r.id, tuple((p.lon, p.lat) for p in r.lonlats))
             for r in ok.collect()}
        b = {(r.id, tuple((p.lon, p.lat) for p in r.lonlats))
             for r in ok0.collect()}
        assert a == b and len(a) > 0
        assert errs.count() == errs0.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t_ in ("tbw_nodes", "tbw_ways", "tbw_wayrefs", "tbw_relations"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")


def test_lsh_ann_caches_and_shuffles_ids_only(spark):
    """lsh_ann_topk caches the bucketed corpus as (vec_id, tab, bucket)
    only, not one embedding copy per hash table, and de-duplicates
    candidates on (query_id, vec_id) before any vector joins back:
    the distinct's Exchange hashes no array column."""
    import re

    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.similarity import lsh_ann_topk
    emb = spark.createDataFrame(
        [(i, [float((i * j + i) % 7 - 3) for j in range(64)])
         for i in range(1, 41)],
        "vec_id long, embedding array<float>")
    q = (emb.orderBy("vec_id").limit(3)
         .selectExpr("vec_id as query_id", "embedding as qe"))
    with cache.scope() as handles:
        df = lsh_ann_topk(emb, q, k=3, n_planes=2, n_tables=3, dim=64)
    try:
        assert [h.columns for h in handles] == [["vec_id", "tab", "bucket"]]
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        keys = [re.sub(r"#\d+L?", "", m) for m in
                re.findall(r"Exchange hashpartitioning\(([^)]*), \d+\)",
                           plan)]
        assert "query_id, vec_id" in keys, keys
        assert not any("embedding" in k or "qe" in k for k in keys), keys
        aggs = [ln for ln in plan.splitlines() if "HashAggregate(keys=[" in ln]
        assert not any("embedding" in ln for ln in aggs), aggs
    finally:
        cache.release(handles)


def test_multipolygon_packs_each_relation_in_one_aggregate(spark, decoded):
    """J2 joins member ways and packs each relation with ONE
    aggregation keyed by the relation id alone: between the member
    join and the MapInPandas assembly, the executed plan holds one
    final aggregate (plus its partial) and one Exchange, keyed by
    ``id`` with no salt."""
    import re

    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    from osmquadtree_geometry_spark.operators.multipolygons import (
        process_multipolygons)
    from osmquadtree_geometry_spark.operators.waynodes import collect_way_nodes
    ways_ll, _ = collect_way_nodes(decoded["ways"], decoded["nodes"])
    with cache.scope() as handles:
        ok, _errs = process_multipolygons(decoded["relations"], ways_ll,
                                          GeometryStyle())
    try:
        assert ok.count() > 0
        (assembled,) = [h for h in handles if "wkb" in h.columns]
        plan = re.sub(r"#\d+L?", "",
                      assembled._jdf.queryExecution().executedPlan().toString())
        lines = plan.splitlines()
        top = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
        join = next(i for i in range(top, len(lines)) if "Join" in lines[i])
        between = lines[top + 1:join]
        aggs = [ln for ln in between if "Aggregate(key=" in ln]
        final = [ln for ln in aggs if "partial_" not in ln]
        assert len(final) == 1 and len(aggs) == 2, aggs
        assert all("Aggregate(key=[id]" in ln for ln in aggs), aggs
        exchanges = [ln for ln in between if "Exchange " in ln]
        assert len(exchanges) == 1 and "hashpartitioning(id, " in exchanges[0]
        assert "salt" not in "\n".join(between)
    finally:
        cache.release(handles)
