"""Multipolygon ring assembly with winding-order repair.

Semantic transcription (order-sensitive!) of the reference algorithms:
  * ``collect_rings`` / ``merge_rings`` — greedy end-point matching of
    way segments into closed rings, with the exact four match cases and
    removal order of `complicatedpolygongeometry.rs:286-373`.
  * ``order_rings`` / ``add_ring`` — rings sorted by decreasing |area|;
    each ring becomes a new exterior unless an already-placed exterior
    bbox-contains it AND pnpoly(exterior, ring.first_point); "inner"
    role rings MUST nest, else they drop to leftovers
    (`multipolygons.rs:19-77`).
  * ``PolygonPart`` winding repair: exterior forced to area>0 (the
    reference sign convention, see ``geomcalc.ring_area``), interiors
    to area<0; part.area = exterior + Σ interiors
    (`complicatedpolygongeometry.rs:389-407`).

These run once per packed relation row inside a ``mapInPandas``
batch kernel (operators/multipolygons.py phase 3) — member counts
are small (mega-relations are handled by salting the shuffle, not by
changing this kernel).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .geomcalc import points_in_ring, ring_area_and_bbox


@dataclass
class RingPart:
    """One member way's contribution (`complicatedpolygongeometry.rs:15-21`)."""
    orig_id: int
    is_reversed: bool
    refs: list[int]
    lon: np.ndarray
    lat: np.ndarray


@dataclass
class Ring:
    parts: list[RingPart] = field(default_factory=list)
    area: float = 0.0
    bbox: tuple = (0, 0, 0, 0)

    def first_last(self) -> tuple[int, int]:
        p = self.parts[0]
        f = p.refs[-1] if p.is_reversed else p.refs[0]
        q = self.parts[-1]
        t = q.refs[0] if q.is_reversed else q.refs[-1]
        return f, t

    def is_ring(self) -> bool:
        f, t = self.first_last()
        return f == t

    def reverse(self) -> None:
        self.parts.reverse()
        for p in self.parts:
            p.is_reversed = not p.is_reversed
        self.area *= -1.0

    def refs_seq(self) -> list[int]:
        res: list[int] = []
        for p in self.parts:
            seq = list(reversed(p.refs)) if p.is_reversed else list(p.refs)
            if res:
                if res[-1] != seq[0]:
                    raise ValueError("not a ring")
                seq = seq[1:]
            res.extend(seq)
        if res[0] != res[-1]:
            raise ValueError("not a ring")
        return res

    def lonlats(self) -> tuple[np.ndarray, np.ndarray]:
        lons: list = []
        lats: list = []
        for p in self.parts:
            lo = p.lon[::-1] if p.is_reversed else p.lon
            la = p.lat[::-1] if p.is_reversed else p.lat
            s = 1 if lons else 0
            lons.extend(lo[s:] if s else lo)
            lats.extend(la[s:] if s else la)
        return np.asarray(lons, np.int64), np.asarray(lats, np.int64)

    def calc_area_bbox(self) -> None:
        lon, lat = self.lonlats()
        self.area, self.bbox = ring_area_and_bbox(lon, lat)

    def first_point(self) -> tuple[int, int]:
        p = self.parts[0]
        return int(p.lon[0]), int(p.lat[0])


def _merge_rings(rings: list[Ring]) -> tuple[bool, Ring | None]:
    """One greedy merge step; returns (progress, completed_ring)."""
    if len(rings) == 0:
        return False, None
    if len(rings) == 1:
        if rings[0].is_ring():
            return True, rings.pop(0)
        return False, None

    for i in range(len(rings) - 1):
        f, t = rings[i].first_last()
        if f == t:
            return True, rings.pop(i)
        for j in range(i + 1, len(rings)):
            g, u = rings[j].first_last()
            if t == g:
                zz = rings.pop(j)
                rings[i].parts.extend(zz.parts)
                if rings[i].is_ring():
                    return True, rings.pop(i)
                return True, None
            elif t == u:
                zz = rings.pop(j)
                zz.reverse()
                rings[i].parts.extend(zz.parts)
                if rings[i].is_ring():
                    return True, rings.pop(i)
                return True, None
            elif f == u:
                zz = rings.pop(j)
                zz.reverse()
                rings[i].reverse()
                rings[i].parts.extend(zz.parts)
                return True, None
            elif f == g:
                zz = rings.pop(j)
                rings[i].reverse()
                rings[i].parts.extend(zz.parts)
                return True, None
    return False, None


def collect_rings(parts: list[RingPart]) -> tuple[list[Ring], list[RingPart]]:
    """Assemble way segments into closed rings; returns (rings,
    leftover_parts)."""
    work = [Ring(parts=[p]) for p in parts]
    res: list[Ring] = []
    while True:
        progress, done = _merge_rings(work)
        if done is not None:
            res.append(done)
        if not progress:
            break
    rem: list[RingPart] = []
    for r in work:
        rem.extend(r.parts)
    return res, rem


@dataclass
class PolygonPart:
    exterior: Ring
    interiors: list[Ring] = field(default_factory=list)
    area: float = 0.0

    @staticmethod
    def new(ext: Ring) -> "PolygonPart":
        if ext.area < 0.0:
            ext.reverse()
        return PolygonPart(exterior=ext, area=ext.area)

    def add_interior(self, r: Ring) -> None:
        if r.area > 0.0:
            r.reverse()
        self.area += r.area
        self.interiors.append(r)


def _add_ring(res: list[PolygonPart], q: Ring, must_be_inner: bool) -> Ring | None:
    flon, flat = q.first_point()
    for a in res:
        from .geomcalc import bbox_contains
        if bbox_contains(a.exterior.bbox, q.bbox):
            elon, elat = a.exterior.lonlats()
            if points_in_ring(elon, elat, np.asarray([flon]), np.asarray([flat]))[0]:
                a.add_interior(q)
                return None
    if must_be_inner:
        return q
    res.append(PolygonPart.new(q))
    return None


def order_rings(rings: list[Ring], inner_rings: list[Ring]) -> tuple[list[PolygonPart], list[Ring]]:
    for r in rings:
        r.calc_area_bbox()
    rings = sorted(rings, key=lambda r: -abs(r.area))
    res: list[PolygonPart] = []
    for r in rings:
        _add_ring(res, r, False)

    for r in inner_rings:
        r.calc_area_bbox()
    inner_rings = sorted(inner_rings, key=lambda r: -abs(r.area))
    rem: list[Ring] = []
    for r in inner_rings:
        left = _add_ring(res, r, True)
        if left is not None:
            rem.append(left)
    return res, rem


class AssemblyError(Exception):
    pass


def make_polygon_parts(outer_parts: list[RingPart],
                       inner_parts: list[RingPart]) -> list[PolygonPart]:
    """`multipolygons.rs:165-203` minus the style handling: raises
    AssemblyError with the reference's message strings."""
    if not outer_parts:
        raise AssemblyError("no ring parts")
    rings, _left = collect_rings(outer_parts)
    rings2, _left2 = collect_rings(inner_parts)
    if not rings:
        raise AssemblyError("no rings")
    polys, _left3 = order_rings(rings, rings2)
    if not polys:
        raise AssemblyError("no polys")
    return polys
