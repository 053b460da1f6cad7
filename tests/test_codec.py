"""Parity of the staged Spark SQL cell codec with the numpy reference
kernels: point and bbox cells, the adaptive polygon cover, the kNN
ring window and the raster tile cell."""

import numpy as np
import pytest

from osmquadtree_geometry_spark.kernels import quadtree as qtk
from osmquadtree_geometry_spark.spatial import joins

LON_MAX, LAT_MAX = 1_800_000_000, 900_000_000  # 1e-7 degrees
LONLATS = "id long, lonlats array<struct<lon:int,lat:int>>"


def _points(rng, n):
    """Random points plus the antimeridian, the poles (past the
    mercator clamp) and the origin."""
    lon = rng.integers(-LON_MAX, LON_MAX + 1, n)
    lat = rng.integers(-LAT_MAX, LAT_MAX + 1, n)
    edge_lon = np.asarray([-LON_MAX, LON_MAX, 0, -LON_MAX, LON_MAX, 0, -1])
    edge_lat = np.asarray([-LAT_MAX, LAT_MAX, 0, LAT_MAX, -LAT_MAX,
                           851_000_000, -1])
    return np.concatenate([lon, edge_lon]), np.concatenate([lat, edge_lat])


@pytest.fixture(scope="module")
def boxes():
    """Seeded boxes from zero size up to ~200° across (log-uniform), so
    every menu depth of the covers below is picked; corners may sit on
    the antimeridian or past the poles."""
    rng = np.random.default_rng(20)
    lon0, lat0 = _points(rng, 1500)
    w = np.where(rng.random(len(lon0)) < 0.1, 0,
                 np.exp(rng.uniform(np.log(1e3), np.log(2e9), len(lon0))))
    h = np.where(rng.random(len(lon0)) < 0.1, 0,
                 np.exp(rng.uniform(np.log(1e3), np.log(1e9), len(lon0))))
    lon1 = np.minimum(lon0 + w.astype(np.int64), LON_MAX)
    lat1 = np.minimum(lat0 + h.astype(np.int64), LAT_MAX)
    return lon0, lat0, lon1, lat1


def _polygons(spark, boxes):
    rows = [(i, [(int(a), int(b)), (int(c), int(d))])
            for i, (a, b, c, d) in enumerate(zip(*boxes))]
    return spark.createDataFrame(rows, LONLATS)


def _np_cover(boxes, depth):
    """Reference cover: per menu depth, the corner tiles via
    calculate_point/xyz; the deepest depth spanning <= MAX_COVER tiles
    (else the coarsest) is meshgridded through from_tile."""
    lon0, lat0, lon1, lat1 = boxes
    menu = joins.cover_menu(depth)
    chosen = np.full(len(lon0), -1)
    rects = {}
    for z in menu:
        ax, ay, _ = qtk.xyz(qtk.calculate_point(lon0, lat0, z))
        bx, by, _ = qtk.xyz(qtk.calculate_point(lon1, lat1, z))
        x0, x1 = np.minimum(ax, bx), np.maximum(ax, bx)
        y0, y1 = np.minimum(ay, by), np.maximum(ay, by)
        fits = (x1 - x0 + 1) * (y1 - y0 + 1) <= joins.MAX_COVER
        pick = (chosen < 0) & (fits | (z == menu[-1]))
        chosen[pick] = z
        for i in np.flatnonzero(pick):
            rects[i] = (x0[i], x1[i], y0[i], y1[i])
    out = set()
    for i, (x0, x1, y0, y1) in rects.items():
        xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        out |= {(i, int(q)) for q in qtk.from_tile(xs.ravel(), ys.ravel(),
                                                   int(chosen[i]))}
    return out, set(chosen.tolist())


@pytest.mark.parametrize("depth", [10, 14, 3])
def test_polygon_cover_matches_numpy(spark, boxes, depth):
    got = joins.polygon_cover(_polygons(spark, boxes), depth)
    assert got.columns == ["polygon_id", "lonlats", "cell"]
    rows = got.select("polygon_id", "cell").collect()
    cells = {(r.polygon_id, r.cell) for r in rows}
    assert len(cells) == len(rows)  # no cell twice for one polygon
    expected, depths = _np_cover(boxes, depth)
    assert cells == expected
    assert depths == set(joins.cover_menu(depth))  # every menu depth ran
    per_poly = np.bincount([r.polygon_id for r in rows])
    assert per_poly.max() <= joins.MAX_COVER
    assert per_poly.min() >= 1


def test_point_and_bbox_cells_match_numpy(spark, boxes):
    lon0, lat0, lon1, lat1 = boxes
    df = spark.createDataFrame(
        [tuple(int(v) for v in r) for r in zip(range(len(lon0)), *boxes)],
        "id long, lon0 int, lat0 int, lon1 int, lat1 int")
    for d in (18, 10, 8, 1, 0):
        df = qtk.with_point_qt(df, "lon0", "lat0", f"q{d}", d)
    df = qtk.with_bbox_qt(df, "lon0", "lat0", "lon1", "lat1", "qb")
    rows = sorted(df.collect(), key=lambda r: r.id)
    for d in (18, 10, 8, 1, 0):
        assert [r[f"q{d}"] for r in rows] == \
            qtk.calculate_point(lon0, lat0, d).tolist(), d
    assert [r.qb for r in rows] == \
        qtk.calculate_bbox(lon0, lat0, lon1, lat1).tolist()


@pytest.mark.parametrize("depth,rings", [(8, 1), (8, 4), (6, 16), (2, 1),
                                         (2, 4)])
def test_ring_cells_match_numpy(spark, depth, rings):
    lon, lat = _points(np.random.default_rng(depth * 100 + rings), 400)
    pts = spark.createDataFrame(
        [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "id long, lon int, lat int")
    got = joins.ring_cells(pts, "lon", "lat", depth, rings)
    assert got.columns == ["id", "lon", "lat", "cell"]
    rows = got.select("id", "cell").collect()
    assert len({(r.id, r.cell) for r in rows}) == len(rows)
    by_id: dict[int, set] = {}
    for r in rows:
        by_id.setdefault(r.id, set()).add(r.cell)
    q = qtk.calculate_point(lon, lat, depth)
    tx, ty, _ = qtk.xyz(q)
    top = (1 << depth) - 1
    clamped = 0
    for i in range(len(q)):
        xs = np.arange(max(0, tx[i] - rings), min(top, tx[i] + rings) + 1)
        ys = np.arange(max(0, ty[i] - rings), min(top, ty[i] + rings) + 1)
        clamped += len(xs) * len(ys) < (2 * rings + 1) ** 2
        gx, gy = np.meshgrid(xs, ys)
        assert by_id[i] == set(qtk.from_tile(gx.ravel(), gy.ravel(),
                                             depth).tolist()), i
        if rings == 1:
            assert by_id[i] == set(qtk.neighbours(q[i:i + 1])[0].tolist()), i
    assert clamped > 0  # the edge points hit the clamps at 0 and n-1


def test_tile_cell_matches_numpy(spark):
    rng = np.random.default_rng(3)
    rows, expected = [], []
    for z in range(qtk.MAX_DEPTH + 1):
        n = 1 << z
        xs = np.concatenate([[0, n - 1, 0, n - 1], rng.integers(0, n, 30)])
        ys = np.concatenate([[0, n - 1, n - 1, 0], rng.integers(0, n, 30)])
        expected += qtk.from_tile(xs, ys, z).tolist()
        rows += [(len(rows) + i, z, int(x), int(y))
                 for i, (x, y) in enumerate(zip(xs, ys))]
    media = spark.createDataFrame(rows, "doc_id long, z int, x long, y long")
    got = sorted(joins.with_tile_cell(media).select("doc_id", "tile_cell")
                 .collect())
    assert [r.tile_cell for r in got] == expected
