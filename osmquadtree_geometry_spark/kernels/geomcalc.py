"""Planar geometry kernels (length, area, bbox, pnpoly, intersection,
clipping) — vectorized numpy, operating on fixed-point 1e-7° coords.

Semantics transcribed from `/root/reference/src/position.rs`:
  * ``calc_line_length`` (`:118-132`): sum of euclidean distances of
    consecutive points in *2dp-rounded* mercator metres.
  * ``calc_ring_area`` (`:134-149`): shoelace in 2dp mercator metres,
    returned as ``-sum/2`` — the reference's sign convention makes
    "polygon exterior" rings positive.
  * ``point_in_poly`` (`:284-326`): pnpoly crossing test in float
    degrees, iterating edges ``(i-1, i)`` for ``i in 1..n`` (the
    closing edge is assumed present, i.e. first==last).
  * segment/line/bbox intersection (`:211-282, 399-427`).

Clipping (Sutherland–Hodgman for rings, Cohen–Sutherland-style
param clip for polylines) is new scope demanded by the north rule —
the reference only *filters* by bbox overlap.
"""

from __future__ import annotations

import numpy as np

from .mercator import coordinate_as_float, forward


# ---------------------------------------------------------------------------
# length / area / bbox  (inputs: int arrays lon[n], lat[n] for one part)
# ---------------------------------------------------------------------------

def line_length(lon: np.ndarray, lat: np.ndarray) -> float:
    if len(lon) < 2:
        return 0.0
    x, y = forward(np.asarray(lon), np.asarray(lat))
    return float(np.sum(np.hypot(np.diff(x), np.diff(y))))


def ring_area(lon: np.ndarray, lat: np.ndarray) -> float:
    """Signed area, reference convention (``-shoelace/2``)."""
    if len(lon) < 3:
        return 0.0
    x, y = forward(np.asarray(lon), np.asarray(lat))
    s = float(np.sum(x[:-1] * y[1:] - y[:-1] * x[1:]))
    return -1.0 * s / 2.0


def ring_area_and_bbox(lon: np.ndarray, lat: np.ndarray):
    """(area, (minlon, minlat, maxlon, maxlat)); empty input -> (0, empty
    bbox).  Mirrors ``calc_ring_area_and_bbox`` — note it computes the
    shoelace even for <3 points (degenerate -> 0 anyway)."""
    lon = np.asarray(lon)
    lat = np.asarray(lat)
    if len(lon) == 0:
        return 0.0, (2 << 30, 2 << 30, -(2 << 30), -(2 << 30))
    bbox = (int(lon.min()), int(lat.min()), int(lon.max()), int(lat.max()))
    if len(lon) < 2:
        return 0.0, bbox
    x, y = forward(lon, lat)
    s = float(np.sum(x[:-1] * y[1:] - y[:-1] * x[1:]))
    return -1.0 * s / 2.0, bbox


# ---------------------------------------------------------------------------
# point-in-polygon  (pnpoly; ring as int arrays, test points vectorized)
# ---------------------------------------------------------------------------

def points_in_ring(ring_lon: np.ndarray, ring_lat: np.ndarray,
                   pt_lon: np.ndarray, pt_lat: np.ndarray) -> np.ndarray:
    """Vectorized pnpoly of many points against one closed ring.
    Matches the reference edge iteration (`position.rs:308-326`):
    edges (i-1, i) for i in 1..n, coordinates as float degrees."""
    vx = coordinate_as_float(np.asarray(ring_lon))
    vy = coordinate_as_float(np.asarray(ring_lat))
    tx = coordinate_as_float(np.asarray(pt_lon))[:, None]
    ty = coordinate_as_float(np.asarray(pt_lat))[:, None]
    xi, yi = vx[None, 1:], vy[None, 1:]
    xj, yj = vx[None, :-1], vy[None, :-1]
    cond = (yi > ty) != (yj > ty)
    with np.errstate(divide="ignore", invalid="ignore"):
        xcross = (xj - xi) * (ty - yi) / (yj - yi) + xi
    hit = cond & (tx < xcross)
    return (np.sum(hit, axis=1) % 2).astype(bool)


def point_in_poly(ring_lon, ring_lat, lon: int, lat: int) -> bool:
    return bool(points_in_ring(ring_lon, ring_lat,
                               np.asarray([lon]), np.asarray([lat]))[0])


# ---------------------------------------------------------------------------
# segment / line / bbox intersection (float-degree orientation tests,
# `position.rs:211-269`)
# ---------------------------------------------------------------------------

def _side(p1, p2, q) -> int:
    s = ((q[0] - p1[0]) * (p2[1] - p1[1]) - (p2[0] - p1[0]) * (q[1] - p1[1]))
    return -1 if s < 0 else (1 if s > 0 else 0)


def segment_intersects(p1, p2, q1, q2) -> bool:
    p1 = (float(p1[0]), float(p1[1]))
    p2 = (float(p2[0]), float(p2[1]))
    q1 = (float(q1[0]), float(q1[1]))
    q2 = (float(q2[0]), float(q2[1]))
    if _side(p1, p2, q1) == _side(p1, p2, q2):
        return False
    if _side(q1, q2, p1) == _side(q1, q2, p2):
        return False
    return True


def line_intersects(a_lon, a_lat, b_lon, b_lat) -> bool:
    """Brute-force polyline × polyline segment test (O(n·m), used only
    inside per-relation kernels where n is small)."""
    if len(a_lon) < 2 or len(b_lon) < 2:
        return False
    for i in range(len(a_lon) - 1):
        for j in range(len(b_lon) - 1):
            if segment_intersects((a_lon[i], a_lat[i]), (a_lon[i + 1], a_lat[i + 1]),
                                  (b_lon[j], b_lat[j]), (b_lon[j + 1], b_lat[j + 1])):
                return True
    return False


def bbox_contains(a, b) -> bool:
    """bbox a contains bbox b."""
    return a[0] <= b[0] and a[1] <= b[1] and a[2] >= b[2] and a[3] >= b[3]


def _segments_hit_box(x0, y0, x1, y1, a, b, c, d) -> np.ndarray:
    """Liang-Barsky: does each segment (x0,y0)-(x1,y1) intersect the
    box (a,b,c,d)?  Vectorized over segments (float64)."""
    x0 = np.asarray(x0, np.float64)
    y0 = np.asarray(y0, np.float64)
    x1 = np.asarray(x1, np.float64)
    y1 = np.asarray(y1, np.float64)
    dx, dy = x1 - x0, y1 - y0
    t0 = np.zeros(len(x0))
    t1 = np.ones(len(x0))
    ok = np.ones(len(x0), bool)
    for p, q in ((-dx, x0 - a), (dx, c - x0), (-dy, y0 - b), (dy, d - y0)):
        para = p == 0
        ok &= ~(para & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(para, 0.0, q / np.where(para, 1.0, p))
        ent = p < 0
        t0 = np.where(~para & ent, np.maximum(t0, r), t0)
        t1 = np.where(~para & ~ent, np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def poly_overlaps_boxes(ring_lon: np.ndarray, ring_lat: np.ndarray,
                        minlon: np.ndarray, minlat: np.ndarray,
                        maxlon: np.ndarray, maxlat: np.ndarray) -> np.ndarray:
    """Vectorized ``Poly::check_box`` (the reference's polygon filter
    predicate, `pack_geometry.rs:498-519` GeometryFilter::Poly): does
    the closed ring overlap each axis-aligned box?  True iff a box
    corner lies inside the ring, OR a ring vertex lies inside the box,
    OR a ring edge crosses the box (the thin-sliver case both
    containment tests miss).

    Cheap passes run fully vectorized over all boxes; the per-box edge
    scan only runs for boxes that overlap the ring's bbox yet failed
    both containment tests — a rare residue."""
    minlon = np.asarray(minlon, np.int64)
    minlat = np.asarray(minlat, np.int64)
    maxlon = np.asarray(maxlon, np.int64)
    maxlat = np.asarray(maxlat, np.int64)
    n = len(minlon)
    out = np.zeros(n, bool)
    for cx, cy in ((minlon, minlat), (minlon, maxlat),
                   (maxlon, minlat), (maxlon, maxlat)):
        out |= points_in_ring(ring_lon, ring_lat, cx, cy)
    # any ring vertex inside the box (broadcast: nverts is small)
    out |= ((ring_lon[None, :] >= minlon[:, None])
            & (ring_lon[None, :] <= maxlon[:, None])
            & (ring_lat[None, :] >= minlat[:, None])
            & (ring_lat[None, :] <= maxlat[:, None])).any(axis=1)
    # residue: boxes inside the ring's bbox that an edge might slice
    rb = (int(ring_lon.min()), int(ring_lat.min()),
          int(ring_lon.max()), int(ring_lat.max()))
    cand = (~out & (minlon <= rb[2]) & (maxlon >= rb[0])
            & (minlat <= rb[3]) & (maxlat >= rb[1]))
    if cand.any():
        sx0, sy0 = ring_lon[:-1], ring_lat[:-1]
        sx1, sy1 = ring_lon[1:], ring_lat[1:]
        for i in np.flatnonzero(cand):
            out[i] = _segments_hit_box(
                sx0, sy0, sx1, sy1,
                float(minlon[i]), float(minlat[i]),
                float(maxlon[i]), float(maxlat[i])).any()
    return out


def polygon_contains(big_lon, big_lat, small_lon, small_lat) -> bool:
    """`position.rs:418-427`: first point inside + no edge crossings."""
    if not point_in_poly(big_lon, big_lat, small_lon[0], small_lat[0]):
        return False
    return not line_intersects(big_lon, big_lat, small_lon, small_lat)


# ---------------------------------------------------------------------------
# clipping (new scope per north rule)
# ---------------------------------------------------------------------------

def clip_line_bbox(lon: np.ndarray, lat: np.ndarray, bbox) -> list[tuple[np.ndarray, np.ndarray]]:
    """Clip a polyline to a bbox; returns the list of kept sub-segments
    (each ≥2 points).  Liang–Barsky parametric clip per segment with
    exact-int endpoints preserved, crossing points rounded to the
    fixed-point grid."""
    minx, miny, maxx, maxy = (float(v) for v in bbox)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    parts: list[tuple[list, list]] = []
    cur_lon: list = []
    cur_lat: list = []

    def flush():
        nonlocal cur_lon, cur_lat
        if len(cur_lon) >= 2:
            parts.append((cur_lon, cur_lat))
        cur_lon, cur_lat = [], []

    for i in range(len(lon) - 1):
        x0, y0, x1, y1 = lon[i], lat[i], lon[i + 1], lat[i + 1]
        t0, t1 = 0.0, 1.0
        dx, dy = x1 - x0, y1 - y0
        ok = True
        for p, q in ((-dx, x0 - minx), (dx, maxx - x0), (-dy, y0 - miny), (dy, maxy - y0)):
            if p == 0:
                if q < 0:
                    ok = False
                    break
            else:
                r = q / p
                if p < 0:
                    if r > t1:
                        ok = False
                        break
                    t0 = max(t0, r)
                else:
                    if r < t0:
                        ok = False
                        break
                    t1 = min(t1, r)
        if not ok:
            flush()
            continue
        ax, ay = x0 + t0 * dx, y0 + t0 * dy
        bx, by = x0 + t1 * dx, y0 + t1 * dy
        ax, ay, bx, by = round(ax), round(ay), round(bx), round(by)
        if not cur_lon or (cur_lon[-1], cur_lat[-1]) != (ax, ay):
            flush()
            cur_lon, cur_lat = [ax], [ay]
        if (bx, by) != (ax, ay):
            cur_lon.append(bx)
            cur_lat.append(by)
        if t1 < 1.0:
            flush()
    flush()
    return [(np.asarray(a, np.int64), np.asarray(b, np.int64)) for a, b in parts]
