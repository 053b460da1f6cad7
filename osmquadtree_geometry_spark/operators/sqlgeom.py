"""Spark SQL expression builders for geometry folds over
``array<struct<lon int, lat int>>`` columns.

These keep length/area/bbox computation JVM-side (higher-order
functions, no Arrow round-trip) while reproducing the reference's
numeric contract: mercator projection rounded to 2dp
(`position.rs:29-33`), shoelace as ``-sum/2`` (`position.rs:134-149`).
"""

from __future__ import annotations

from ..kernels.mercator import EARTH_WIDTH


def sql_merc_xy(lon: str, lat: str) -> tuple[str, str]:
    """SQL (x, y): EPSG:3857 metres of fixed-point 1e-7° ``lon``/``lat``,
    rounded to 2dp (`position.rs:29-33`)."""
    return (f"round(({lon}) * 1e-7 * {EARTH_WIDTH!r} / 180.0, 2)",
            f"round(ln(tan(pi()/4.0 + radians(({lat}) * 1e-7)/2.0)) / pi() "
            f"* {EARTH_WIDTH!r}, 2)")


def sql_merc(lonlats: str) -> str:
    x, y = sql_merc_xy("p.lon", "p.lat")
    return f"transform({lonlats}, p -> struct({x} as x, {y} as y))"


def sql_line_length(lonlats: str, merc: str | None = None) -> str:
    """`calc_line_length` (`position.rs:118-132`).

    Pass ``merc`` (a pre-staged ``sql_merc`` column) to avoid
    embedding the mercator transform twice — the pair zip references
    the projected array in both slices, so the inline form projects
    every way twice (round-6)."""
    m = merc or sql_merc(lonlats)
    pair = ("zip_with(slice(_m, 1, size(_m) - 1), slice(_m, 2, size(_m) - 1), "
            "(a, b) -> sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)))")
    return (f"(case when size({lonlats}) < 2 then 0.0d else "
            f"aggregate({pair.replace('_m', m)}, 0.0d, (acc, v) -> acc + v) end)")


def sql_ring_area(lonlats: str, merc: str | None = None) -> str:
    """`calc_ring_area` (`position.rs:134-149`): -shoelace/2."""
    m = merc or sql_merc(lonlats)
    pair = ("zip_with(slice(_m, 1, size(_m) - 1), slice(_m, 2, size(_m) - 1), "
            "(a, b) -> a.x * b.y - a.y * b.x)")
    return (f"(case when size({lonlats}) < 3 then 0.0d else "
            f"-0.5d * aggregate({pair.replace('_m', m)}, 0.0d, (acc, v) -> acc + v) end)")


def sql_bbox(lonlats: str) -> dict[str, str]:
    return {
        "minlon": f"array_min(transform({lonlats}, p -> p.lon))",
        "minlat": f"array_min(transform({lonlats}, p -> p.lat))",
        "maxlon": f"array_max(transform({lonlats}, p -> p.lon))",
        "maxlat": f"array_max(transform({lonlats}, p -> p.lat))",
    }


def sql_parts_bbox(parts: str) -> dict[str, str]:
    """:func:`sql_bbox` of a complicated polygon: over its parts'
    exterior rings only (`complicatedpolygongeometry.rs:451-461`)."""
    return {k: f"array_{k[:3]}(transform({parts}, pt -> {v}))"
            for k, v in sql_bbox("pt.exterior").items()}


# [minlon, minlat, maxlon, maxlat] SQL of a feature's bbox, by the
# shape of its geometry column: a point's own lon/lat, a way's
# ``lonlats``, a complicated polygon's ``parts``.  The GeoJSON bbox
# member and the feature filter both read it.
GEOM_BBOX = {
    "point": ("lon", "lat", "lon", "lat"),
    "lonlats": tuple(sql_bbox("lonlats").values()),
    "parts": tuple(sql_parts_bbox("parts").values()),
}


def sql_is_ring(refs: str) -> str:
    """`process_geometry.rs:260`: refs[0] == refs[last]."""
    return f"(size({refs}) > 0 AND element_at({refs}, 1) = element_at({refs}, -1))"


def sql_pnpoly(ring: str, lon: str, lat: str) -> str:
    """Ray-cast point-in-ring as a pure SQL fold — bit-identical to
    kernels.geomcalc.points_in_ring (the reference edge iteration,
    `position.rs:308-326`): edges (i-1, i), coordinates as float
    degrees (v * 1e-7), crossing parity on
    ``tx < (xj - xi) * (ty - yi) / (yj - yi) + xi`` with the same
    IEEE-754 double operation order.  Zero-divides land on the masked
    (cond=false) branch exactly as numpy's errstate-ignored lanes do.

    Keeps pip joins fully JVM-side: candidate (polygon, point) pairs
    from the cell equi-join are filtered in the join stage, no pandas
    round-trip and no packed-bucket shuffle."""
    tx = f"(cast({lon} as double) * 1e-7)"
    ty = f"(cast({lat} as double) * 1e-7)"

    def flt(idx: str, field: str) -> str:
        return f"(cast({ring}[{idx}].{field} as double) * 1e-7)"

    xi, yi = flt("i", "lon"), flt("i", "lat")
    xj, yj = flt("i - 1", "lon"), flt("i - 1", "lat")
    cross = f"(({xj} - {xi}) * ({ty} - {yi}) / ({yj} - {yi}) + {xi})"
    hit = (f"(case when (({yi} > {ty}) != ({yj} > {ty})) "
           f"and ({tx} < {cross}) then 1 else 0 end)")
    return (f"((aggregate(sequence(1, size({ring}) - 1), 0, "
            f"(acc, i) -> acc + {hit}) % 2) = 1)")
