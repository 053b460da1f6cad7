"""Quadtree cell index — vectorized numpy kernels + SQL expression generators.

Re-derivation of the quadtree cell semantics the reference relies on
(`/root/reference/src/process_geometry.rs:59-99,293-310`,
`minzoom.rs:184`, usage laws in SURVEY.md §1.1).  The upstream
`osmquadtree` crate is not vendored in the reference, so the encoding
here is our own; it satisfies the observable laws:

  * ``depth(qt) <= 18``
  * ``calculate_point(lon,lat) == round(calculate_point(lon,lat), 18)``
  * ``is_parent(round(q, d), q)`` for all ``d <= depth(q)``
  * xyz tuple round-trips through ``from_xyz``
  * DFS (depth-first) integer ordering: a parent sorts before all of
    its descendants, and siblings sort in Z-order — this is what lets
    the reference evict state when the tile stream advances.

Encoding: ``qt = (morton_path_msb_aligned << 5) | depth`` where the
morton path is ``depth`` 2-bit digits (``(xbit<<1)|ybit``), MSB first,
left-aligned in a 36-bit field (max depth 18).  ``EMPTY = -1``
(the reference tests ``quadtree.as_int() < 0`` for "no tile",
`addparenttag.rs:124`).

The numpy kernels are the reference: tests pin every Spark form
against them, and they serve driver-side helpers and in-group Python
code (one bbox, a grouped-map batch).  Spark computes cells only with
the staged SQL codec at the end of this module (``with_point_qt``,
``with_bbox_qt``, ``explode_tile_rect``): no Python workers.  The
arithmetic ``sql_*`` generators are the dialect-neutral form the
DuckDB oracles share.
"""

from __future__ import annotations

import numpy as np

MAX_DEPTH = 18
EMPTY = -1


# ---------------------------------------------------------------------------
# unit-square projection (slippy-map orientation: y grows southward)
# ---------------------------------------------------------------------------

def _unit_xy(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """fixed-point 1e-7° ints -> x,y in [0,1) on the mercator square."""
    lond = np.asarray(lon, dtype=np.float64) * 1e-7
    latd = np.asarray(lat, dtype=np.float64) * 1e-7
    x = (lond + 180.0) / 360.0
    latr = np.radians(np.clip(latd, -85.051128779806, 85.051128779806))
    y = (1.0 - np.log(np.tan(np.pi / 4.0 + latr / 2.0)) / np.pi) / 2.0
    return np.clip(x, 0.0, 1.0 - 1e-15), np.clip(y, 0.0, 1.0 - 1e-15)


def _interleave(tx: np.ndarray, ty: np.ndarray, depth: int) -> np.ndarray:
    """tile x,y at ``depth`` -> morton path (2-bit digits, MSB first)."""
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    m = np.zeros_like(tx)
    for i in range(depth):
        shift = depth - 1 - i
        xb = (tx >> shift) & 1
        yb = (ty >> shift) & 1
        m |= ((xb << 1) | yb) << (2 * shift)
    return m


def _deinterleave(m: np.ndarray, depth: int) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(m, dtype=np.int64)
    tx = np.zeros_like(m)
    ty = np.zeros_like(m)
    for i in range(depth):
        shift = depth - 1 - i
        d = (m >> (2 * shift)) & 3
        tx |= (d >> 1) << shift
        ty |= (d & 1) << shift
    return tx, ty


# ---------------------------------------------------------------------------
# public kernels
# ---------------------------------------------------------------------------

def from_tile(tx: np.ndarray, ty: np.ndarray, depth: int) -> np.ndarray:
    """(x, y, z) tile address -> qt int."""
    m = _interleave(tx, ty, depth)
    return ((m << (2 * (MAX_DEPTH - depth))) << 5) | depth


def depth(qt: np.ndarray) -> np.ndarray:
    qt = np.asarray(qt, dtype=np.int64)
    return np.where(qt < 0, 0, qt & 31)


def xyz(qt: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """qt int -> (tile_x, tile_y, zoom).  Scalar-depth fast path when
    all depths equal; mixed depths handled per unique depth."""
    qt = np.asarray(qt, dtype=np.int64)
    d = depth(qt)
    aligned = np.where(qt < 0, 0, qt >> 5)
    tx = np.zeros_like(qt)
    ty = np.zeros_like(qt)
    for dv in np.unique(d):
        sel = d == dv
        m = aligned[sel] >> (2 * (MAX_DEPTH - dv))
        a, b = _deinterleave(m, int(dv))
        tx[sel] = a
        ty[sel] = b
    return tx, ty, d


def calculate_point(lon: np.ndarray, lat: np.ndarray,
                    max_depth: int = MAX_DEPTH) -> np.ndarray:
    """Deepest cell containing the point (reference
    ``Quadtree::calculate_point(lon, lat, 18, 0.0)``)."""
    x, y = _unit_xy(lon, lat)
    n = 1 << max_depth
    tx = np.minimum((x * n).astype(np.int64), n - 1)
    ty = np.minimum((y * n).astype(np.int64), n - 1)
    return from_tile(tx, ty, max_depth)


def round_qt(qt: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Ancestor of ``qt`` at depth ``d`` (no-op when d >= depth(qt)).
    Reference ``Quadtree::round`` usage: `minzoom.rs:184`,
    `process_geometry.rs:61`."""
    qt = np.asarray(qt, dtype=np.int64)
    d = np.asarray(d, dtype=np.int64)
    cur = depth(qt)
    d = np.minimum(d, cur)
    shift = 2 * (MAX_DEPTH - d)
    aligned = (qt >> 5) >> shift << shift
    out = (aligned << 5) | d
    return np.where(qt < 0, qt, out)


def is_parent(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """True where ``a`` is an ancestor-or-self of ``b``."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    da, db = depth(a), depth(b)
    return (a >= 0) & (b >= 0) & (da <= db) & (round_qt(b, da) == a)


def common_ancestor(qa: np.ndarray, qb: np.ndarray) -> np.ndarray:
    """Deepest cell that is an ancestor of both (used by bbox
    ``calculate``)."""
    qa = np.asarray(qa, dtype=np.int64)
    qb = np.asarray(qb, dtype=np.int64)
    d = np.minimum(depth(qa), depth(qb)).astype(np.int64)
    out = np.zeros_like(qa)
    # descend from depth d until prefixes agree
    res = np.full_like(qa, EMPTY)
    done = np.zeros(qa.shape, dtype=bool)
    for dv in range(MAX_DEPTH, -1, -1):
        sel = (~done) & (d >= dv)
        if not sel.any():
            continue
        ra = round_qt(qa[sel], np.full(sel.sum(), dv))
        rb = round_qt(qb[sel], np.full(sel.sum(), dv))
        eq = ra == rb
        idx = np.flatnonzero(sel)[eq]
        res[idx] = ra[eq]
        done[idx] = True
    res[~done] = from_tile(np.zeros(1, np.int64), np.zeros(1, np.int64), 0)[0]
    return res


def calculate_bbox(minlon, minlat, maxlon, maxlat) -> np.ndarray:
    """Deepest cell whose extent contains the bbox (reference
    ``Quadtree::calculate(&bbox, 18, 0.0)``, `process_geometry.rs:299`).

    Empty/invalid bboxes (min > max) -> EMPTY."""
    minlon = np.asarray(minlon, dtype=np.int64)
    minlat = np.asarray(minlat, dtype=np.int64)
    maxlon = np.asarray(maxlon, dtype=np.int64)
    maxlat = np.asarray(maxlat, dtype=np.int64)
    # note: max-lat corner has the *smaller* tile y
    qa = calculate_point(minlon, minlat)
    qb = calculate_point(maxlon, maxlat)
    res = common_ancestor(qa, qb)
    bad = (minlon > maxlon) | (minlat > maxlat)
    return np.where(bad, EMPTY, res)


def tile_bounds(qt: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """qt -> (minlon, minlat, maxlon, maxlat) in fixed-point 1e-7°."""
    tx, ty, d = xyz(qt)
    n = (1 << d).astype(np.float64)
    x0 = tx / n
    x1 = (tx + 1) / n
    y0 = ty / n          # top (north) edge
    y1 = (ty + 1) / n    # bottom (south) edge

    def _lat(y):
        return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y))))

    minlon = (x0 * 360.0 - 180.0) * 1e7
    maxlon = (x1 * 360.0 - 180.0) * 1e7
    maxlat = _lat(y0) * 1e7
    minlat = _lat(y1) * 1e7
    r = np.round
    return (r(minlon).astype(np.int64), r(minlat).astype(np.int64),
            r(maxlon).astype(np.int64), r(maxlat).astype(np.int64))


def neighbours(qt: np.ndarray) -> np.ndarray:
    """(n, 9) array: the cell plus its 8 edge/corner neighbours at the
    same depth (clamped at the antimeridian / poles; duplicates of the
    centre cell where clamped).  The test reference for the kNN ring
    window at r=1."""
    tx, ty, d = xyz(qt)
    n = 1 << d
    out = np.empty(qt.shape + (9,), dtype=np.int64)
    k = 0
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            ntx = np.clip(tx + dx, 0, n - 1)
            nty = np.clip(ty + dy, 0, n - 1)
            cell = np.empty_like(qt)
            for dv in np.unique(d):
                sel = d == dv
                cell[sel] = from_tile(ntx[sel], nty[sel], int(dv))
            out[..., k] = cell
            k += 1
    return out


# ---------------------------------------------------------------------------
# SQL expression generators (dialect-neutral: valid Spark SQL AND DuckDB)
#
# Pure arithmetic (no bit ops) so the same string runs in both engines:
# the DuckDB oracles use all of them; Spark uses only the depth, round
# and xyz forms, never these to encode a cell.
# ---------------------------------------------------------------------------

def sql_point_qt(lon_col: str, lat_col: str, max_depth: int = MAX_DEPTH) -> str:
    """SQL computing ``calculate_point(lon, lat, max_depth)`` from
    fixed-point 1e-7° integer columns."""
    n = 1 << max_depth
    x = f"(({lon_col}) * 1e-7 + 180.0) / 360.0"
    lat_c = f"least(greatest(({lat_col}) * 1e-7, -85.051128779806), 85.051128779806)"
    y = f"(1.0 - ln(tan(pi()/4.0 + radians({lat_c})/2.0)) / pi()) / 2.0"
    tx = f"least(cast(floor(least(greatest({x}, 0.0), 1.0 - 1e-15) * {n}) as bigint), {n - 1})"
    ty = f"least(cast(floor(least(greatest({y}, 0.0), 1.0 - 1e-15) * {n}) as bigint), {n - 1})"
    # morton = sum over bit positions; pure integer arithmetic
    terms = []
    for shift in range(max_depth):
        xb = f"(cast(floor(_tx / {1 << shift}) as bigint) % 2)"
        yb = f"(cast(floor(_ty / {1 << shift}) as bigint) % 2)"
        terms.append(f"({xb} * 2 + {yb}) * cast({4 ** shift} as bigint)")
    morton = " + ".join(terms)
    aligned = f"({morton}) * cast({4 ** (MAX_DEPTH - max_depth)} as bigint)"
    expr = f"(({aligned}) * 32 + {max_depth})"
    # inline tx/ty via a scalar subquery-free trick: textual substitution
    return expr.replace("_tx", f"({tx})").replace("_ty", f"({ty})")


def sql_tile_qt(tx_col: str, ty_col: str, depth: int) -> str:
    """SQL computing ``from_tile(tx, ty, depth)`` from integer tile
    coordinate columns (pure arithmetic morton interleave — valid in
    both Spark SQL and DuckDB)."""
    terms = []
    for shift in range(depth):
        xb = f"(cast(floor(({tx_col}) / {1 << shift}) as bigint) % 2)"
        yb = f"(cast(floor(({ty_col}) / {1 << shift}) as bigint) % 2)"
        terms.append(f"({xb} * 2 + {yb}) * cast({4 ** shift} as bigint)")
    morton = " + ".join(terms)
    return f"((({morton}) * cast({4 ** (MAX_DEPTH - depth)} as bigint)) * 32 + {depth})"


def sql_round_qt(qt_col: str, depth_col: str) -> str:
    """SQL computing ``round_qt(qt, d)`` (d may be a column or literal)."""
    d = f"least(cast({depth_col} as bigint), cast({qt_col} as bigint) % 32)"
    step = f"power(4.0, {MAX_DEPTH} - ({d}))"
    aligned = f"cast(floor(cast({qt_col} as bigint) / 32 / {step}) as bigint) * cast({step} as bigint)"
    return (f"(case when cast({qt_col} as bigint) < 0 then cast({qt_col} as bigint) "
            f"else ({aligned}) * 32 + ({d}) end)")


def sql_qt_depth(qt_col: str) -> str:
    return f"(case when cast({qt_col} as bigint) < 0 then 0 else cast({qt_col} as bigint) % 32 end)"


def sql_ancestors(qt_col: str) -> str:
    """SQL array of ``qt_col``'s ancestor-or-self cells, deepest first
    (``round_qt(qt, d)`` for d = depth(qt) .. 0): at most 19 entries."""
    return (f"transform(sequence({sql_qt_depth(qt_col)}, 0, -1), "
            f"d -> {sql_round_qt(qt_col, 'd')})")


def sql_qt_xyz(qt_col: str, d: str | None = None,
               m: str | None = None) -> tuple[str, str, str]:
    """SQL computing ``xyz(qt)`` -> (tile_x, tile_y, zoom) exprs —
    the deinterleave mirror of ``sql_tile_qt``, dialect-neutral
    (Spark + DuckDB).  Pass pre-bound column names as ``d``/``m`` to
    avoid textual blowup in Spark codegen (see sinks._geojson_staged);
    DuckDB oracles can inline the defaults."""
    d = d or sql_qt_depth(qt_col)
    if m is None:
        m = (f"cast(floor(cast(greatest(cast({qt_col} as bigint), 0) "
             f"as bigint) / 32 / power(4.0, {MAX_DEPTH} - {d})) as bigint)")
    tx_terms, ty_terms = [], []
    for s in range(MAX_DEPTH):
        xb = f"(cast(floor({m} / {2 ** (2 * s + 1)}.0) as bigint) % 2)"
        yb = f"(cast(floor({m} / {4 ** s}.0) as bigint) % 2)"
        tx_terms.append(
            f"(case when {s} < {d} then {xb} * {2 ** s} else 0 end)")
        ty_terms.append(
            f"(case when {s} < {d} then {yb} * {2 ** s} else 0 end)")
    return ("(" + " + ".join(tx_terms) + ")",
            "(" + " + ".join(ty_terms) + ")", d)


# ---------------------------------------------------------------------------
# staged Spark codec — the one way Spark computes a cell.  Each
# intermediate is its own column, and Catalyst's CollapseProject keeps
# non-cheap aliases un-inlined, so the generated method stays small.
# Exactly equivalent to the numpy kernels above (pinned in tests).
# ---------------------------------------------------------------------------

def _spread9_values() -> list[int]:
    """spread9[i] = the 9 bits of i moved to even bit positions."""
    out = []
    for i in range(512):
        m = 0
        for b in range(9):
            m |= ((i >> b) & 1) << (2 * b)
        out.append(m)
    return out


# One string split and cast, not ``array(<512 literals>)``: the
# analyzer walks every node of a plan on each DataFrame op, and 512
# literal children per lookup made each cell expression cost ~40 ms of
# driver-side analysis.  ConstantFolding turns both forms into the same
# literal array, so the executed plan does not change.
_SPREAD9_SQL = ("cast(split('" + ",".join(map(str, _spread9_values()))
                + "', ',') as array<bigint>)")


def sql_spread_bits_lookup(col: str) -> str:
    """Morton bit-spread of an 18-bit int as TWO 9-bit lookups in a
    512-entry literal array (Spark-side only; the oracle dialect keeps
    the arithmetic form).

    Why a lookup: a bit-twiddle spread embeds its input 2^5 = 32x
    after textual composition, and Catalyst's filter pushdown
    re-substitutes staged columns into predicates — a predicate on the
    quadtree downstream of an explode then inlines the whole
    duplicated tree into the Generate consume method, which cannot be
    split, blowing janino's 64KB method limit (a multi-second FAILED
    compile repaid on every action + interpreted fallback; round-6
    measurement).  The table constant-folds into a single literal
    array in ``references[]``, so this form stays ~10 expression nodes
    no matter where the optimizer copies it.  ``col`` is referenced
    twice."""
    c = f"cast({col} as bigint)"
    return (f"(element_at({_SPREAD9_SQL}, cast(({c}) % 512 as int) + 1) + "
            f"shiftleft(element_at({_SPREAD9_SQL}, "
            f"cast(({c}) div 512 as int) + 1), 18))")


def _sql_tile_xy(lon_col: str, lat_col: str,
                 depth: int = MAX_DEPTH) -> tuple[str, str]:
    """SQL tile x, y at ``depth`` of fixed-point 1e-7° lon/lat, as
    ``calculate_point`` picks them.  The depth-18 tile is shifted down:
    ``tx18 >> (18 - depth)`` is exact, because scaling by a power of
    two is exact in float64."""
    n = 1 << MAX_DEPTH
    x = f"(({lon_col}) * 1e-7 + 180.0) / 360.0"
    latc = (f"least(greatest(({lat_col}) * 1e-7, -85.051128779806), "
            f"85.051128779806)")
    y = f"(1.0 - ln(tan(pi()/4.0 + radians({latc})/2.0)) / pi()) / 2.0"
    tx, ty = (f"least(cast(floor(least(greatest({v}, 0.0), 1.0 - 1e-15) "
              f"* {n}) as bigint), {n - 1})" for v in (x, y))
    if depth == MAX_DEPTH:
        return tx, ty
    return (f"shiftright({tx}, {MAX_DEPTH - depth})",
            f"shiftright({ty}, {MAX_DEPTH - depth})")


def _sql_cell(tx: str, ty: str, z: int | str) -> str:
    """SQL computing ``from_tile(tx, ty, z)``; ``z`` may be a column.
    ``tx`` and ``ty`` are each referenced twice (see
    :func:`sql_spread_bits_lookup`), so pass columns, not expressions."""
    return (f"(shiftleft((shiftleft({sql_spread_bits_lookup(tx)}, 1) | "
            f"{sql_spread_bits_lookup(ty)}), "
            f"cast(2 * ({MAX_DEPTH} - {z}) as int)) * 32) + {z}")


def with_point_qt(df, lon_col: str, lat_col: str, out_col: str = "quadtree",
                  max_depth: int = MAX_DEPTH):
    """Add ``out_col`` = calculate_point(lon, lat, max_depth) as pure
    staged Spark SQL (whole-stage-codegen'd, no Python workers)."""
    from pyspark.sql import functions as F
    tx, ty = _sql_tile_xy(lon_col, lat_col, max_depth)
    out = (df.withColumns({"__qt_tx": F.expr(tx), "__qt_ty": F.expr(ty)})
             .withColumn(out_col, F.expr(
                 _sql_cell("__qt_tx", "__qt_ty", max_depth))))
    return out.drop("__qt_tx", "__qt_ty")


def with_bbox_qt(df, minlon: str, minlat: str, maxlon: str, maxlat: str,
                 out_col: str = "quadtree"):
    """Add ``out_col`` = calculate_bbox(...) as staged Spark SQL: point
    cells of both corners, then their common ancestor via XOR of the
    aligned mortons (depth = 17 - floor(log2(xor))/2).  100% JVM — no
    Python workers in the tile-assignment hot path."""
    from pyspark.sql import functions as F
    # both corners staged side by side, one Project per stage (each
    # extra DataFrame op re-analyzes the whole plan driver-side)
    txa, tya = _sql_tile_xy(minlon, minlat)
    txb, tyb = _sql_tile_xy(maxlon, maxlat)
    xor = "shiftright(__qt_a, 5) ^ shiftright(__qt_b, 5)"
    d = (f"(case when ({xor}) = 0 then cast({MAX_DEPTH} as bigint) "
         f"else cast(17 - floor(floor(log2(cast(({xor}) as double))) / 2) as bigint) end)")
    out = (df.withColumns({
               "__qt_txa": F.expr(txa), "__qt_tya": F.expr(tya),
               "__qt_txb": F.expr(txb), "__qt_tyb": F.expr(tyb)})
             .withColumns({
               "__qt_a": F.expr(_sql_cell("__qt_txa", "__qt_tya", MAX_DEPTH)),
               "__qt_b": F.expr(_sql_cell("__qt_txb", "__qt_tyb", MAX_DEPTH))})
             .withColumn("__qt_d", F.expr(d))
             .withColumn(out_col, F.expr(sql_round_qt("__qt_a", "__qt_d"))))
    return out.drop("__qt_txa", "__qt_tya", "__qt_txb", "__qt_tyb",
                    "__qt_a", "__qt_b", "__qt_d")


def explode_tile_rect(df, keep: list[str], x0: str, x1: str, y0: str,
                      y1: str, z: int | str, out_col: str = "cell"):
    """``keep`` columns x every depth-``z`` cell of the tile rectangle
    [x0, x1] x [y0, y1], one row per cell.  The bounds are SQL over
    ``df``'s columns, ``z`` an int or a column: two ``sequence``
    explodes, then one :func:`_sql_cell`."""
    from pyspark.sql import functions as F
    out = (df.withColumn("__qt_cx", F.explode(F.expr(f"sequence({x0}, {x1})")))
             .withColumn("__qt_cy", F.explode(F.expr(f"sequence({y0}, {y1})"))))
    return out.select(*keep, F.expr(_sql_cell("__qt_cx", "__qt_cy", z))
                      .alias(out_col))
