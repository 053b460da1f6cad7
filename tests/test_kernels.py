"""Property/unit tests for the pure-numpy kernels (no Spark).

Test strategy per SURVEY.md §5: the reference ships zero tests, so its
deterministic invariants are the oracle — quadtree laws, ring-assembly
algebra, numeric contracts (2dp mercator rounding, shoelace sign),
WKB byte layout.
"""

import numpy as np
import pytest

from osmquadtree_geometry_spark.kernels import geomcalc, mercator, quadtree as qt, rings, wkb


# ---------------------------------------------------------------------------
# quadtree laws (SURVEY §5.3)
# ---------------------------------------------------------------------------

def test_qt_point_roundtrip_xyz():
    rng = np.random.default_rng(42)
    lon = rng.integers(-1799999999, 1799999999, 500)
    lat = rng.integers(-850000000, 850000000, 500)
    q = qt.calculate_point(lon, lat)
    assert (qt.depth(q) == 18).all()
    tx, ty, d = qt.xyz(q)
    assert (d == 18).all()
    q2 = qt.from_tile(tx, ty, 18)
    assert (q == q2).all()


def test_qt_round_is_parent_chain():
    lon = np.asarray([-1300000, 5155000, 1789999999])
    lat = np.asarray([515000000, -33000000, 84000000])
    q = qt.calculate_point(lon, lat)
    for d in range(0, 19):
        r = qt.round_qt(q, np.full(3, d))
        assert (qt.depth(r) == d).all()
        assert qt.is_parent(r, q).all()
        # a different branch is NOT a parent
        if d >= 1:
            other = qt.from_tile(np.zeros(3, np.int64), np.zeros(3, np.int64), d)
            mask = other != r
            assert not qt.is_parent(other[mask], q[mask]).any()


def test_qt_dfs_ordering():
    """Parent sorts before descendants (the eviction-order law)."""
    lon = np.asarray([1000000])
    lat = np.asarray([2000000])
    q = qt.calculate_point(lon, lat)
    prev = qt.round_qt(q, np.asarray([0]))
    for d in range(1, 19):
        cur = qt.round_qt(q, np.asarray([d]))
        assert prev[0] < cur[0]
        prev = cur


def test_qt_round_past_depth_is_noop():
    q = qt.from_tile(np.asarray([3]), np.asarray([5]), 4)
    assert qt.round_qt(q, np.asarray([10]))[0] == q[0]


def test_qt_bbox_calculate():
    # a bbox inside one z10 tile -> ancestor at depth >= 10
    minlon, minlat = 1000000, 1000000
    maxlon, maxlat = 1000000 + 50000, 1000000 + 50000
    q = qt.calculate_bbox(np.asarray([minlon]), np.asarray([minlat]),
                          np.asarray([maxlon]), np.asarray([maxlat]))
    d = int(qt.depth(q)[0])
    assert d >= 8
    # the cell bounds really contain the bbox
    blon0, blat0, blon1, blat1 = qt.tile_bounds(q)
    assert blon0[0] <= minlon and blon1[0] >= maxlon
    assert blat0[0] <= minlat and blat1[0] >= maxlat
    # point cells of both corners descend from it
    qa = qt.calculate_point(np.asarray([minlon]), np.asarray([minlat]))
    qb = qt.calculate_point(np.asarray([maxlon]), np.asarray([maxlat]))
    assert qt.is_parent(q, qa)[0] and qt.is_parent(q, qb)[0]


def test_qt_bbox_spanning_hemispheres_is_root():
    q = qt.calculate_bbox(np.asarray([-100000000]), np.asarray([-10000000]),
                          np.asarray([100000000]), np.asarray([10000000]))
    assert qt.depth(q)[0] == 0


def test_qt_empty():
    assert qt.EMPTY < 0
    assert qt.depth(np.asarray([qt.EMPTY]))[0] == 0


def test_qt_neighbours():
    q = qt.from_tile(np.asarray([5]), np.asarray([5]), 10)
    nb = qt.neighbours(q)[0]
    assert len(set(nb.tolist())) == 9
    txs, tys, _ = qt.xyz(nb)
    assert sorted(txs.tolist()) == [4, 4, 4, 5, 5, 5, 6, 6, 6]


def test_sql_point_qt_matches_numpy_duckdb():
    import duckdb
    rng = np.random.default_rng(7)
    lon = rng.integers(-1700000000, 1700000000, 200)
    lat = rng.integers(-840000000, 840000000, 200)
    expected = qt.calculate_point(lon, lat)
    expr = qt.sql_point_qt("lon", "lat")
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
    got = con.sql(f"select {expr} as q from t").df()["q"].to_numpy()
    assert (got == expected).all()
    # fixed depths used by the stored spatial index (points_cells)
    for d in (8, 10):
        expected_d = qt.calculate_point(lon, lat, d)
        got_d = con.sql(f"select {qt.sql_point_qt('lon', 'lat', d)} as q "
                        "from t").df()["q"].to_numpy()
        assert (got_d == expected_d).all(), d


def test_sql_round_qt_matches_numpy_duckdb():
    import duckdb
    import pandas as pd
    rng = np.random.default_rng(8)
    lon = rng.integers(-1700000000, 1700000000, 100)
    lat = rng.integers(-840000000, 840000000, 100)
    q = qt.calculate_point(lon, lat)
    d = rng.integers(0, 19, 100)
    expected = qt.round_qt(q, d)
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"q": q, "d": d}))
    got = con.sql(f"select {qt.sql_round_qt('q', 'd')} as r from t").df()["r"].to_numpy()
    assert (got == expected).all()


# ---------------------------------------------------------------------------
# numeric contracts
# ---------------------------------------------------------------------------

def test_mercator_2dp_rounding():
    x, y = mercator.forward(np.asarray([123456789]), np.asarray([456789012]))
    assert x[0] == round(x[0], 2)
    assert y[0] == round(y[0], 2)
    # round-trip within one fixed-point unit
    lon, lat = mercator.backward(x, y)
    assert abs(lon[0] - 123456789) <= 1
    assert abs(lat[0] - 456789012) <= 1


def test_line_length_square():
    # 1° square at equator: each side ≈ 111319.49 m in mercator
    lon = np.asarray([0, 10000000, 10000000, 0, 0])
    lat = np.asarray([0, 0, 10000000, 10000000, 0])
    ln = geomcalc.line_length(lon, lat)
    dx = mercator.EARTH_WIDTH / 180.0
    dy = float(mercator.latitude_mercator(np.asarray([1.0]))[0])
    assert ln == pytest.approx(2 * dx + 2 * dy, rel=1e-6)


def test_ring_area_sign_convention():
    # counter-clockwise square (mathematical orientation): reference
    # convention returns NEGATIVE for CCW-in-lonlat order...
    lon = np.asarray([0, 10000000, 10000000, 0, 0])
    lat = np.asarray([0, 0, 10000000, 10000000, 0])
    a_ccw = geomcalc.ring_area(lon, lat)
    a_cw = geomcalc.ring_area(lon[::-1], lat[::-1])
    assert a_ccw == -a_cw
    # |area| ≈ dx * dy (mercator-stretched height)
    dx = mercator.EARTH_WIDTH / 180.0
    dy = float(mercator.latitude_mercator(np.asarray([1.0]))[0])
    assert abs(a_ccw) == pytest.approx(dx * dy, rel=1e-6)
    # The sign convention (−shoelace/2): standard-CCW input gives a
    # negative value, so "exterior positive" rings are clockwise in
    # lon/lat order — transcribed from position.rs:148.
    assert a_ccw < 0


def test_ring_area_and_bbox():
    lon = np.asarray([0, 10000000, 10000000, 0, 0])
    lat = np.asarray([0, 0, 10000000, 10000000, 0])
    a, bbox = geomcalc.ring_area_and_bbox(lon, lat)
    assert bbox == (0, 0, 10000000, 10000000)
    assert a == geomcalc.ring_area(lon, lat)


def test_point_in_poly():
    lon = np.asarray([0, 10000000, 10000000, 0, 0])
    lat = np.asarray([0, 0, 10000000, 10000000, 0])
    assert geomcalc.point_in_poly(lon, lat, 5000000, 5000000)
    assert not geomcalc.point_in_poly(lon, lat, 15000000, 5000000)
    assert not geomcalc.point_in_poly(lon, lat, -5000000, 5000000)


def test_segment_intersects():
    assert geomcalc.segment_intersects((0, 0), (10, 10), (0, 10), (10, 0))
    assert not geomcalc.segment_intersects((0, 0), (10, 0), (0, 5), (10, 5))
    # collinear/touching -> false (side == 0 on both)
    assert not geomcalc.segment_intersects((0, 0), (10, 0), (5, 0), (15, 0))


def test_polygon_contains():
    big_lon = np.asarray([0, 10000000, 10000000, 0, 0])
    big_lat = np.asarray([0, 0, 10000000, 10000000, 0])
    sm_lon = np.asarray([2000000, 8000000, 8000000, 2000000, 2000000])
    sm_lat = np.asarray([2000000, 2000000, 8000000, 8000000, 2000000])
    assert geomcalc.polygon_contains(big_lon, big_lat, sm_lon, sm_lat)
    assert not geomcalc.polygon_contains(sm_lon, sm_lat, big_lon, big_lat)


# ---------------------------------------------------------------------------
# clipping
# ---------------------------------------------------------------------------

def test_clip_line_bbox():
    bbox = (0, 0, 10, 10)
    # line entering and leaving the box
    parts = geomcalc.clip_line_bbox(np.asarray([-5, 5, 15]), np.asarray([5, 5, 5]), bbox)
    assert len(parts) == 1
    lon, lat = parts[0]
    assert lon.tolist() == [0, 5, 10]
    assert lat.tolist() == [5, 5, 5]
    # fully outside
    assert geomcalc.clip_line_bbox(np.asarray([20, 30]), np.asarray([5, 5]), bbox) == []
    # two disjoint crossings -> two parts
    parts = geomcalc.clip_line_bbox(
        np.asarray([-5, 5, 5, 5, 5]), np.asarray([5, 5, 20, 20, 8]), bbox)
    assert len(parts) == 2


# ---------------------------------------------------------------------------
# ring assembly algebra (SURVEY §5.2)
# ---------------------------------------------------------------------------

def _part(orig_id, refs, coords):
    lon = np.asarray([c[0] for c in coords], np.int64)
    lat = np.asarray([c[1] for c in coords], np.int64)
    return rings.RingPart(orig_id, False, list(refs), lon, lat)


SQ = [(0, 0), (10000000, 0), (10000000, 10000000), (0, 10000000)]


def test_collect_rings_single_closed_way():
    p = _part(1, [1, 2, 3, 4, 1], SQ + [SQ[0]])
    rs, rem = rings.collect_rings([p])
    assert len(rs) == 1 and rem == []
    assert rs[0].refs_seq() == [1, 2, 3, 4, 1]


def test_collect_rings_split_three_ways_one_reversed():
    # ring 1-2-3-4-1 split as [1,2], [3,2] (reversed), [3,4,1]
    a = _part(10, [1, 2], [SQ[0], SQ[1]])
    b = _part(11, [3, 2], [SQ[2], SQ[1]])  # reversed orientation
    c = _part(12, [3, 4, 1], [SQ[2], SQ[3], SQ[0]])
    rs, rem = rings.collect_rings([a, b, c])
    assert len(rs) == 1 and rem == []
    assert rs[0].refs_seq() in ([1, 2, 3, 4, 1], [1, 4, 3, 2, 1])
    lon, lat = rs[0].lonlats()
    assert len(lon) == 5 and lon[0] == lon[-1] and lat[0] == lat[-1]


def test_collect_rings_leftover_unclosed():
    a = _part(20, [1, 2], [SQ[0], SQ[1]])
    b = _part(21, [3, 4], [SQ[2], SQ[3]])
    rs, rem = rings.collect_rings([a, b])
    assert rs == []
    assert {p.orig_id for p in rem} == {20, 21}


def test_collect_rings_two_disjoint_rings():
    a = _part(1, [1, 2, 3, 1], [(0, 0), (1000, 0), (1000, 1000), (0, 0)])
    b = _part(2, [7, 8, 9, 7], [(5000, 5000), (6000, 5000), (6000, 6000), (5000, 5000)])
    rs, rem = rings.collect_rings([a, b])
    assert len(rs) == 2 and rem == []


def test_donut_winding_repair():
    # outer ring CCW-in-lonlat (negative area by the reference sign) must
    # be force-reversed to positive; inner forced negative.
    outer = _part(1, [1, 2, 3, 4, 1], SQ + [SQ[0]])
    inner_coords = [(2000000, 2000000), (2000000, 8000000),
                    (8000000, 8000000), (8000000, 2000000), (2000000, 2000000)]
    inner = _part(2, [5, 6, 7, 8, 5], inner_coords)
    polys = rings.make_polygon_parts([outer], [inner])
    assert len(polys) == 1
    p = polys[0]
    assert p.exterior.area > 0
    assert len(p.interiors) == 1
    assert p.interiors[0].area < 0
    assert p.area == pytest.approx(p.exterior.area + p.interiors[0].area)


def test_multipart_and_orphan_inner():
    # two disjoint outers; one inner inside the first; one inner that
    # fits no outer -> dropped to leftovers inside order_rings
    o1 = _part(1, [1, 2, 3, 4, 1], SQ + [SQ[0]])
    far = [(50000000, 50000000), (60000000, 50000000),
           (60000000, 60000000), (50000000, 60000000), (50000000, 50000000)]
    o2 = _part(2, [11, 12, 13, 14, 11], far)
    i1 = _part(3, [5, 6, 7, 5], [(1000000, 1000000), (3000000, 1000000),
                                 (3000000, 3000000), (1000000, 1000000)])
    orphan = _part(4, [21, 22, 23, 21],
                   [(-90000000, -90000000), (-80000000, -90000000),
                    (-80000000, -80000000), (-90000000, -90000000)])
    r_outer, _ = rings.collect_rings([o1, o2])
    r_inner, _ = rings.collect_rings([i1, orphan])
    polys, rem = rings.order_rings(r_outer, r_inner)
    assert len(polys) == 2
    n_inner = sum(len(p.interiors) for p in polys)
    assert n_inner == 1
    assert len(rem) == 1


def test_nested_outer_becomes_interior():
    """An 'outer' ring contained in a bigger outer becomes an interior —
    the add_ring containment path with must_be_inner=False."""
    big = _part(1, [1, 2, 3, 4, 1], SQ + [SQ[0]])
    small = _part(2, [5, 6, 7, 5], [(1000000, 1000000), (3000000, 1000000),
                                    (3000000, 3000000), (1000000, 1000000)])
    rs, _ = rings.collect_rings([big, small])
    polys, rem = rings.order_rings(rs, [])
    assert len(polys) == 1
    assert len(polys[0].interiors) == 1
    assert rem == []


def test_make_polygon_parts_errors():
    with pytest.raises(rings.AssemblyError, match="no ring parts"):
        rings.make_polygon_parts([], [])
    unclosed = _part(1, [1, 2], [SQ[0], SQ[1]])
    with pytest.raises(rings.AssemblyError, match="no rings"):
        rings.make_polygon_parts([unclosed], [])


# ---------------------------------------------------------------------------
# WKB
# ---------------------------------------------------------------------------

def test_point_wkb_layout():
    b = wkb.point_wkb(0, 0, transform=False, with_srid=False)
    assert b[:5] == b"\x01\x01\x00\x00\x00"
    assert len(b) == 5 + 16
    b2 = wkb.point_wkb(0, 0, transform=True, with_srid=True)
    assert b2[0] == 1
    import struct as st
    ty = st.unpack("<I", b2[1:5])[0]
    assert ty == 1 + (32 << 24)
    assert st.unpack("<I", b2[5:9])[0] == 3857
    b3 = wkb.point_wkb(0, 0, transform=False, with_srid=True)
    assert st.unpack("<I", b3[5:9])[0] == 4326


def test_wkb_shapely_roundtrip():
    try:
        from shapely import wkb as swkb
    except ImportError:
        pytest.skip("shapely not installed")
    g = swkb.loads(wkb.point_wkb(10000000, 20000000, transform=False, with_srid=False))
    assert g.geom_type == "Point"
    assert g.x == pytest.approx(1.0)
    assert g.y == pytest.approx(2.0)


def test_linestring_and_polygon_wkb():
    lon = np.asarray([0, 10000000])
    lat = np.asarray([0, 0])
    b = wkb.linestring_wkb(lon, lat, transform=False, with_srid=False)
    import struct as st
    assert st.unpack("<I", b[1:5])[0] == 2
    assert st.unpack("<I", b[5:9])[0] == 2

    ring = (np.asarray([0, 10, 10, 0, 0]), np.asarray([0, 0, 10, 10, 0]))
    pb = wkb.polygon_wkb([ring], transform=False, with_srid=False)
    assert st.unpack("<I", pb[1:5])[0] == 3
    assert st.unpack("<I", pb[5:9])[0] == 1  # n rings
    assert st.unpack("<I", pb[9:13])[0] == 5  # n points

    # 1-part multipolygon collapses to Polygon
    mb = wkb.multipolygon_wkb([[ring]], transform=False, with_srid=False)
    assert mb == pb
    mb2 = wkb.multipolygon_wkb([[ring], [ring]], transform=False, with_srid=False)
    assert st.unpack("<I", mb2[1:5])[0] == 6
    assert st.unpack("<I", mb2[5:9])[0] == 2


def test_simple_polygon_wkb_reversed():
    lon = np.asarray([0, 10, 10, 0, 0])
    lat = np.asarray([0, 0, 10, 10, 0])
    a = wkb.simple_polygon_wkb(lon, lat, False, transform=False, with_srid=False)
    b = wkb.simple_polygon_wkb(lon[::-1], lat[::-1], True, transform=False, with_srid=False)
    assert a == b
