"""End-to-end pipeline golden tests over the scene fixtures
(FIXTURES.md §4).  Scene instance k of scene s lives in doc
i = s + 11*k with entity ids i*1000 + n."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
from osmquadtree_geometry_spark.kernels import geomcalc
from osmquadtree_geometry_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, docs_path):
    res = run_pipeline(spark, docs_path, minzoom=MinZoomSpec.default())
    for df in (res.points, res.linestrings, res.simple_polygons,
               res.complicated_polygons, res.errors):
        df.cache().count()
    return res


def test_points_scene(result):
    # doc 0 (scene_points): nodes 1-4 are features, 5/6 location-only
    pts = {r.id: r for r in result.points.where(
        (F.col("id") >= 1) & (F.col("id") <= 6)).collect()}
    assert set(pts) == {1, 2, 3, 4}
    assert pts[2].layer == 2
    assert pts[4].layer is None  # unparsable layer tag
    assert pts[1].tags == {"amenity": "cafe", "name": "A"}
    assert pts[3].minzoom == 16  # highway=bus_stop rule


def test_line_vs_poly(result):
    # doc 1 (scene_line_vs_poly): base id 1000
    ln = {r.id: r for r in result.linestrings.where(
        F.col("doc_id") == "doc-000000001").collect()}
    sp = {r.id: r for r in result.simple_polygons.where(
        F.col("doc_id") == "doc-000000001").collect()}
    assert 1010 in ln            # open way
    assert 1012 in ln            # closed but highway=footway -> line
    assert 1011 in sp and 1013 in sp
    assert sp[1011].reversed is False   # clockwise coords -> positive area
    assert sp[1013].reversed is True    # ccw -> reversed
    assert ln[1010].z_order == 330      # residential
    assert ln[1010].length > 0
    assert sp[1011].area > 0


def test_line_length_matches_kernel(result, decoded):
    row = result.linestrings.where(F.col("id") == 1010).first()
    lon = np.asarray([p.lon for p in row.lonlats])
    lat = np.asarray([p.lat for p in row.lonlats])
    assert row.length == pytest.approx(geomcalc.line_length(lon, lat), abs=1e-6)


def test_simple_polygon_area_matches_kernel(result):
    row = result.simple_polygons.where(F.col("id") == 1011).first()
    lon = np.asarray([p.lon for p in row.lonlats])
    lat = np.asarray([p.lat for p in row.lonlats])
    assert row.area == pytest.approx(abs(geomcalc.ring_area(lon, lat)), abs=1e-6)


def test_donut_multipolygon(result):
    row = result.complicated_polygons.where(F.col("id") == 2060).first()
    assert row is not None
    assert row.tags == {"landuse": "forest", "type": "multipolygon"}
    assert len(row.parts) == 1
    p = row.parts[0]
    assert len(p.interiors) == 1
    # winding: exterior positive, part area = ext + int < ext
    elon = np.asarray([q.lon for q in p.exterior])
    elat = np.asarray([q.lat for q in p.exterior])
    assert geomcalc.ring_area(elon, elat) > 0
    assert 0 < p.area < geomcalc.ring_area(elon, elat)
    assert row.area == pytest.approx(p.area)
    assert row.wkb[:1] == b"\x01"


def test_multi_part(result):
    row = result.complicated_polygons.where(F.col("id") == 3080).first()
    assert len(row.parts) == 2
    n_inner = sum(len(p.interiors) for p in row.parts)
    assert n_inner == 2  # orphan inner dropped
    import struct as st
    assert st.unpack("<I", row.wkb[1:5])[0] == 6 + (32 << 24)  # MultiPolygon+SRID


def test_missing_member_errors(result):
    errs = {(r.elem_type, r.elem_id): r.message for r in result.errors.collect()}
    # doc 4 (scene_missing_member): way 4010 misses node 4999
    assert errs.get(("way", 4010)) == "missing node 4999"
    # relation 4020 references missing way 4888 but way 4011 exists ->
    # assembles fine (reference skips missing members) — NOT an error
    assert ("relation", 4020) not in errs


def test_missing_member_relation_still_assembles(result):
    row = result.complicated_polygons.where(F.col("id") == 4020).first()
    assert row is not None and len(row.parts) == 1


def test_parent_tags(result):
    # doc 5 (scene_parent_tags): bus stop node 5001 on residential+primary
    row = result.points.where(F.col("id") == 5001).first()
    assert row.tags.get("parent_highway") == "primary"
    # highway node on service way (parent_service node_keys=[highway])
    row2 = result.points.where(F.col("id") == 5006).first()
    assert row2.tags.get("parent_service") == "siding"
    # equal-priority (empty map) tie -> lowest way id wins, matching
    # the reference's first-way-in-stream pick
    row3 = result.points.where(F.col("id") == 5008).first()
    assert row3.tags.get("parent_service") == "driveway"
    row4 = result.points.where(F.col("id") == 5014).first()
    assert row4.tags.get("parent_service") == "alley"
    # railway-keyed node inherits parent_highway: track(7) > service(6)
    row5 = result.points.where(F.col("id") == 5017).first()
    assert row5.tags.get("parent_highway") == "track"


def test_relation_tags(result):
    # doc 6 (scene_relation_tags): w1=6010 in rels with admin_level 4,6
    ln = {r.id: r for r in result.linestrings.where(
        F.col("doc_id") == "doc-000000006").collect()}
    assert ln[6010].tags["min_admin_level"] == "4"
    assert ln[6010].tags["max_admin_level"] == "6"
    # bus routes 42, 7, 42-dup -> sorted distinct "42; 7"
    assert ln[6010].tags["bus_routes"] == "42; 7"
    assert ln[6011].tags["bus_routes"] == "42"
    assert ln[6011].tags["min_admin_level"] == "4"


def test_minzoom_and_qt_round(result):
    from osmquadtree_geometry_spark.kernels import quadtree as qt
    # doc 8 (scene_minzoom): place=city node 8001 -> minzoom 4
    # (reference default_minzoom_values.rs row `0,place,city,4`)
    row = result.points.where(F.col("id") == 8001).first()
    assert row.minzoom == 4
    assert int(qt.depth(np.asarray([row.quadtree]))[0]) == 4
    # exact rule: place=hamlet -> 15
    row2 = result.points.where(F.col("id") == 8002).first()
    assert row2.minzoom == 15
    # polygons: SQL minzoom must equal the transcribed python spec
    spec = MinZoomSpec.default()
    for pid in (8030, 8050):
        b = result.simple_polygons.where(F.col("id") == pid).first()
        expected = spec.find_polygon(dict(b.tags), b.area)
        assert b.minzoom == expected, (pid, b.area, b.minzoom, expected)
    # tiny shed: area floor pulls zoom ABOVE the building tag zoom (12)
    b = result.simple_polygons.where(F.col("id") == 8030).first()
    assert b.minzoom > 14


def test_tile_allocation(result):
    from osmquadtree_geometry_spark.kernels import quadtree as qt
    rows = result.points.select("quadtree", "tile").collect()
    for r in rows:
        if r.tile >= 0:
            assert bool(qt.is_parent(np.asarray([r.tile]),
                                     np.asarray([r.quadtree]))[0])
            assert int(qt.depth(np.asarray([r.tile]))[0]) <= 8


def test_skew_scene_mega_relation(result):
    # doc 10 (scene_skew): 48-way ring assembles into one polygon
    row = result.complicated_polygons.where(F.col("id") == 10900).first()
    assert row is not None
    assert len(row.parts) == 1
    assert len(row.parts[0].exterior) == 97  # 96 ring nodes + closure


def test_feature_counts(result):
    from osmquadtree_geometry_spark.pipeline import feature_counts
    counts = {r.geom_type: r.n for r in feature_counts(result).collect()}
    assert counts["points"] > 0
    assert counts["linestrings"] > 0
    assert counts["simple_polygons"] > 0
    assert counts["complicated_polygons"] > 0


def test_pipeline_from_bucketed_matches_plain(spark, docs_path, tmp_path):
    """The FULL pipeline can consume the prepare_bucketed ingest
    layout (round 3): identical feature outputs to the raw-docs path,
    with the decode stage replaced by bucketed scans."""
    from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
    from osmquadtree_geometry_spark.pipeline import (
        prepare_bucketed, run_pipeline)
    mz = MinZoomSpec.default()
    try:
        prepare_bucketed(spark, docs_path, n_buckets=4, prefix="tpb",
                         base_path=str(tmp_path))
        a = run_pipeline(spark, docs_path, minzoom=mz)
        b = run_pipeline(spark, minzoom=mz, bucketed_prefix="tpb")
        for attr in ("points", "linestrings", "simple_polygons",
                     "complicated_polygons"):
            da = getattr(a, attr).select("id", "quadtree")
            db = getattr(b, attr).select("id", "quadtree")
            ra = sorted((r.id, r.quadtree) for r in da.collect())
            rb = sorted((r.id, r.quadtree) for r in db.collect())
            assert ra == rb and len(ra) > 0, attr
        assert a.errors.count() == b.errors.count()
    finally:
        for t_ in ("tpb_nodes", "tpb_ways", "tpb_wayrefs",
                   "tpb_relations", "tpb_media"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")


def test_filter_features_bbox(spark, docs_path):
    """Reference -f/--filter parity: feature-bbox overlap filter keeps
    exactly the features whose geometry bbox overlaps the box."""
    from osmquadtree_geometry_spark.pipeline import (
        filter_features, run_pipeline)
    res = run_pipeline(spark, docs_path)
    # a box covering everything keeps everything
    world = filter_features(
        res, bbox=(-1800000000, -900000000, 1800000000, 900000000))
    assert world.points.count() == res.points.count()
    assert world.linestrings.count() == res.linestrings.count()
    # an empty box (mid-pacific sliver) keeps nothing
    nowhere = filter_features(
        res, bbox=(-1799999999, -899999999, -1799999998, -899999998))
    assert nowhere.points.count() == 0
    assert nowhere.simple_polygons.count() == 0
    assert nowhere.complicated_polygons.count() == 0
    # a half-plane split partitions the point set
    left = filter_features(
        res, bbox=(-1800000000, -900000000, 0, 900000000))
    right = filter_features(
        res, bbox=(0, -900000000, 1800000000, 900000000))
    n = res.points.count()
    nl, nr = left.points.count(), right.points.count()
    assert nl + nr >= n  # boundary points may land in both
    assert 0 < nl < n and 0 < nr < n


def test_poly_overlaps_boxes_kernel():
    """Poly::check_box parity cases: corner-in-ring, vertex-in-box,
    sliver edge crossing (no containment either way), disjoint."""
    import numpy as np
    from osmquadtree_geometry_spark.kernels.geomcalc import (
        poly_overlaps_boxes)
    # unit square ring 0..100
    rl = np.asarray([0, 100, 100, 0, 0], np.int64)
    rt = np.asarray([0, 0, 100, 100, 0], np.int64)
    boxes = np.asarray([
        (40, 40, 60, 60),      # box fully inside ring (corners in ring)
        (-50, -50, 200, 200),  # ring fully inside box (verts in box)
        (-10, -10, -1, -1),    # disjoint
        (90, 90, 250, 250),    # partial overlap
    ], np.int64)
    got = poly_overlaps_boxes(rl, rt, boxes[:, 0], boxes[:, 1],
                              boxes[:, 2], boxes[:, 3])
    assert got.tolist() == [True, True, False, True]
    # sliver: thin triangle slicing through a box, no vertex of either
    # inside the other
    tl = np.asarray([-100, 200, 201, -100], np.int64)
    tt = np.asarray([50, 49, 51, 50], np.int64)
    got = poly_overlaps_boxes(tl, tt, np.asarray([0]), np.asarray([0]),
                              np.asarray([100]), np.asarray([100]))
    assert got.tolist() == [True]


def test_parse_poly_file(tmp_path):
    from osmquadtree_geometry_spark.sources import parse_poly_file
    p = tmp_path / "box.poly"
    p.write_text("test area\n1\n  -1.0 -2.0\n  3.0 -2.0\n  3.0 4.0\n"
                 "  -1.0 4.0\nEND\nEND\n")
    rings = parse_poly_file(str(p))
    assert len(rings) == 1
    lon, lat = rings[0]
    assert lon.tolist() == [-10000000, 30000000, 30000000,
                            -10000000, -10000000]  # auto-closed
    assert lat.tolist() == [-20000000, -20000000, 40000000,
                            40000000, -20000000]
    hole = tmp_path / "hole.poly"
    hole.write_text("x\n1\n 0 0\n 1 0\n 1 1\nEND\n!2\n 0 0\n"
                    " 1 0\n 1 1\nEND\nEND\n")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse_poly_file(str(hole))


def test_filter_features_poly_matches_bbox_ground_truth(spark, docs_path,
                                                        tmp_path):
    """Round-3 verdict Next #5: a rectangular .poly must select exactly
    the features the bbox filter selects (the poly predicate reduces to
    bbox overlap on a rectangle); a triangle poly must match a
    driver-side numpy ground truth on the same feature bboxes."""
    import numpy as np
    from pyspark.sql import functions as F
    from osmquadtree_geometry_spark.kernels.geomcalc import (
        poly_overlaps_boxes)
    from osmquadtree_geometry_spark.pipeline import (
        filter_features, run_pipeline)
    from osmquadtree_geometry_spark.sources import parse_poly_file
    res = run_pipeline(spark, docs_path)
    # pick a box around the data's midpoint
    st = res.points.agg(F.min("lon"), F.max("lon"),
                        F.min("lat"), F.max("lat")).first()
    a, c = st[0], st[1]
    b, d = st[2], st[3]
    box = (a + (c - a) // 4, b + (d - b) // 4,
           a + 3 * (c - a) // 4, b + 3 * (d - b) // 4)
    pf = tmp_path / "rect.poly"
    pf.write_text("rect\n1\n"
                  f" {box[0] / 1e7:.7f} {box[1] / 1e7:.7f}\n"
                  f" {box[2] / 1e7:.7f} {box[1] / 1e7:.7f}\n"
                  f" {box[2] / 1e7:.7f} {box[3] / 1e7:.7f}\n"
                  f" {box[0] / 1e7:.7f} {box[3] / 1e7:.7f}\n"
                  "END\nEND\n")
    rings = parse_poly_file(str(pf))
    got = filter_features(res, rings=rings)
    exp = filter_features(res, bbox=(rings[0][0].min(), rings[0][1].min(),
                                     rings[0][0].max(), rings[0][1].max()))
    for attr in ("points", "linestrings", "simple_polygons",
                 "complicated_polygons"):
        g = sorted(r.id for r in getattr(got, attr).select("id").collect())
        e = sorted(r.id for r in getattr(exp, attr).select("id").collect())
        assert g == e, attr
    assert len(g) > 0  # the rect actually selects something

    # triangle: ground truth from collected line bboxes
    tri_lon = np.asarray([box[0], box[2], box[0], box[0]], np.int64)
    tri_lat = np.asarray([box[1], box[1], box[3], box[1]], np.int64)
    got_tri = filter_features(res, rings=[(tri_lon, tri_lat)])
    rows = res.linestrings.selectExpr(
        "id",
        "array_min(transform(lonlats, p -> p.lon)) as mnlo",
        "array_min(transform(lonlats, p -> p.lat)) as mnla",
        "array_max(transform(lonlats, p -> p.lon)) as mxlo",
        "array_max(transform(lonlats, p -> p.lat)) as mxla").collect()
    keep = poly_overlaps_boxes(
        tri_lon, tri_lat,
        np.asarray([r.mnlo for r in rows]), np.asarray([r.mnla for r in rows]),
        np.asarray([r.mxlo for r in rows]), np.asarray([r.mxla for r in rows]))
    exp_ids = sorted(r.id for r, k in zip(rows, keep) if k)
    got_ids = sorted(r.id for r in got_tri.linestrings.select("id").collect())
    assert got_ids == exp_ids


def test_failed_planning_waits_for_tile_dictionary(spark, docs_path,
                                                   monkeypatch):
    """A stage failing while the tile dictionary is still collecting on
    its background thread re-raises only after that job has finished."""
    import time

    from osmquadtree_geometry_spark import pipeline
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    real_dictionary = pipeline.tile_dictionary
    finished = []

    def slow_dictionary(locations, depth):
        sc.parallelize([0], 1).map(lambda x: time.sleep(3) or x).collect()
        tiles = real_dictionary(locations, depth)
        finished.append(True)
        return tiles

    def failing_stage(*args):
        deadline = time.monotonic() + 60
        while not tracker.getActiveJobsIds():
            assert time.monotonic() < deadline, "dictionary never started"
            time.sleep(0.05)
        raise RuntimeError("stage failed")

    monkeypatch.setattr(pipeline, "tile_dictionary", slow_dictionary)
    monkeypatch.setattr(pipeline, "process_multipolygons", failing_stage)
    with pytest.raises(RuntimeError, match="stage failed"):
        # persist=False: the failed run leaves no cached table behind
        run_pipeline(spark, docs_path, persist=False)
    assert tracker.getActiveJobsIds() == []
    assert finished == [True]
