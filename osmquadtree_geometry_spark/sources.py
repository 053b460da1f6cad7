"""Query the produced geometry output — the reference's
``read_geometry_blocks`` entry point (`pack_geometry.rs:593-632`):
parse filter -> GeometryFilter (Null/Bbox/Poly, `:498-519`) ->
``get_file_locs_max_depth`` prunes tiles by bbox AND tree depth <=
max_minzoom (`:612`) -> per-block decode with a per-feature predicate
(`:530-585`).

Spark-first equivalent: all three pruning layers are declarative —

  * tile pruning: ``tile`` membership in the bbox's ancestor/self
    cover set, a literal IN-list (partition/row-group pruning via
    min/max stats on the (tile, id)-sorted layout of
    ``write_sorted_tiles``);
  * depth pruning: ``depth(tile) <= max_minzoom`` as arithmetic SQL
    plus the per-feature ``minzoom`` filter;
  * feature predicate: :func:`filter_shape`, the one GeometryFilter
    of the package (the CLI's ``--filter`` applies it too, through
    ``pipeline.filter_features``): bbox overlap as plain predicates,
    pushed to the parquet scan (PushedFilters); the Poly filter adds
    the exact ``Poly::check_box`` test over the bbox survivors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels import geomcalc
from .kernels import quadtree as qtk
from .kernels.quadtree import sql_qt_depth
from .operators.sqlgeom import GEOM_BBOX


def _bbox_tiles(bbox: tuple[int, int, int, int], max_depth: int) -> list[int]:
    """All tiles (any depth <= max_depth) that can hold a feature
    overlapping the bbox: the bbox's cover cells per depth plus their
    ancestors — mirrors get_file_locs' tree walk as a flat IN-list."""
    minlon, minlat, maxlon, maxlat = (int(v) for v in bbox)
    out: set[int] = {-1}
    for d in range(0, max_depth + 1):
        qa = qtk.calculate_point(np.asarray([minlon]), np.asarray([minlat]), d)
        qb = qtk.calculate_point(np.asarray([maxlon]), np.asarray([maxlat]), d)
        ax, ay, _ = qtk.xyz(qa)
        bx, by, _ = qtk.xyz(qb)
        x0, x1 = min(ax[0], bx[0]), max(ax[0], bx[0])
        y0, y1 = min(ay[0], by[0]), max(ay[0], by[0])
        xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        out.update(qtk.from_tile(xs.ravel(), ys.ravel(), d).tolist())
    return sorted(out)


def parse_poly_file(path: str) -> list[tuple[np.ndarray, np.ndarray]]:
    """Parse an osmosis-format ``.poly`` file into closed int-1e-7
    rings — the reference accepts the same files for its Poly filter
    (`pack_geometry.rs:498-519` via osmquadtree's ``read_filter``).

    Format: first line file name; each section = a name line, then
    "lon lat" float-degree pairs, terminated by ``END``; the file ends
    with a final ``END``.  Hole sections (name prefixed ``!``) are
    rejected explicitly rather than silently mis-filtered."""
    rings: list[tuple[np.ndarray, np.ndarray]] = []
    with open(path) as f:
        lines = [ln.strip() for ln in f]
    i = 1  # skip the file-name header line
    while i < len(lines):
        name = lines[i]
        if name == "END" or name == "":
            i += 1
            continue
        if name.startswith("!"):
            raise ValueError(
                f"{path}: hole section {name!r} not supported")
        i += 1
        lon, lat = [], []
        while i < len(lines) and lines[i] != "END":
            if lines[i]:
                a, b = lines[i].split()[:2]
                lon.append(int(round(float(a) * 1e7)))
                lat.append(int(round(float(b) * 1e7)))
            i += 1
        i += 1  # consume section END
        if len(lon) >= 3:
            if (lon[0], lat[0]) != (lon[-1], lat[-1]):
                lon.append(lon[0])
                lat.append(lat[0])
            rings.append((np.asarray(lon, np.int64),
                          np.asarray(lat, np.int64)))
    if not rings:
        raise ValueError(f"{path}: no polygon sections found")
    return rings


def read_feature_tables(spark: SparkSession, out_dir: str):
    """Open a :func:`osmquadtree_geometry_spark.sinks.
    write_feature_tables` layout as a ``PipelineResult`` of parquet
    scans — every downstream query (spatial joins, GeoJSON emitters,
    counts) runs against the WRITTEN layout with filter/column
    pushdown instead of re-executing the live pipeline, mirroring the
    reference's read_geometry_blocks over its produced geometry file
    (`pack_geometry.rs:593-632`).

    The per-type linestrings/simple_polygons views are geom_type
    filters over the fused ``way_features`` scan (predicate reaches
    the parquet reader)."""
    import os

    from .operators.makegeoms import split_way_features
    from .pipeline import PipelineResult

    from .tableio import read_table, table_exists

    def rd(name: str) -> DataFrame | None:
        p = os.path.join(out_dir, name)
        return read_table(spark, p) if table_exists(spark, p) else None

    wf = rd("way_features")
    if wf is not None:
        lines, spolys = split_way_features(wf)
    else:
        lines, spolys = rd("linestrings"), rd("simple_polygons")
    media = rd("media")
    spatial = {name: t for name in ("points_cells", "poly_cover")
               if (t := rd(name)) is not None}
    meta_path = os.path.join(out_dir, "spatial_index_meta.json")
    if os.path.exists(meta_path):
        import json
        with open(meta_path) as fh:
            spatial["meta"] = json.load(fh)
    return PipelineResult(
        points=rd("points"), linestrings=lines, simple_polygons=spolys,
        complicated_polygons=rd("complicated_polygons"),
        errors=rd("errors"),
        decoded={"media": media} if media is not None else {},
        way_features=wf, spatial_index=spatial)


def _coarse_bbox(bbox, rings) -> tuple[int, int, int, int] | None:
    """``bbox``, else the common bbox of ``rings`` (the Poly filter's
    coarse test), else None."""
    if bbox is not None or rings is None:
        return bbox
    return (int(min(np.min(lon) for lon, _ in rings)),
            int(min(np.min(lat) for _, lat in rings)),
            int(max(np.max(lon) for lon, _ in rings)),
            int(max(np.max(lat) for _, lat in rings)))


def filter_shape(df: DataFrame, shape: str,
                 bbox: tuple[int, int, int, int] | None = None,
                 rings=None) -> DataFrame:
    """The reference's ``GeometryFilter`` (Null/Bbox/Poly,
    `pack_geometry.rs:498-519`) on one feature table: keep the rows
    whose feature bbox (``sqlgeom.GEOM_BBOX[shape]``, shape ``point``
    / ``lonlats`` / ``parts``) overlaps ``bbox`` (1e-7-degree ints).

    ``rings`` (closed rings as :func:`parse_poly_file` returns them)
    add the exact ``Poly::check_box`` test: the feature bbox overlaps
    some ring (``geomcalc.poly_overlaps_boxes``), so a point on a ring
    edge or vertex is kept.  Without ``bbox``, the rings' common bbox
    is the coarse test.  The bbox test is plain JVM predicates (column
    comparisons for points, pushed to the scan); only the ring test
    runs in a pandas UDF, over the bbox survivors."""
    bbox = _coarse_bbox(bbox, rings)
    if bbox is None:
        return df
    a, b, c, d = (int(v) for v in bbox)
    mnlo, mnla, mxlo, mxla = GEOM_BBOX[shape]
    df = df.where(F.expr(f"{mxlo} >= {a} AND {mnlo} <= {c} AND "
                         f"{mxla} >= {b} AND {mnla} <= {d}"))
    if rings is None:
        return df
    rr = [(np.asarray(lon, np.int64), np.asarray(lat, np.int64))
          for lon, lat in rings]

    @F.pandas_udf(T.BooleanType())
    def check_box(minlon: pd.Series, minlat: pd.Series,
                  maxlon: pd.Series, maxlat: pd.Series) -> pd.Series:
        box = [v.to_numpy(np.int64) for v in (minlon, minlat, maxlon, maxlat)]
        keep = np.zeros(len(minlon), bool)
        for rlon, rlat in rr:
            todo = ~keep
            if not todo.any():
                break
            keep[todo] = geomcalc.poly_overlaps_boxes(
                rlon, rlat, *(v[todo] for v in box))
        return pd.Series(keep)

    return df.where(check_box(*(F.expr(e) for e in GEOM_BBOX[shape])))


def read_geometry(spark: SparkSession, path: str,
                  bbox: tuple[int, int, int, int] | None = None,
                  rings=None,
                  max_minzoom: int | None = None,
                  tile_depth: int = 8) -> DataFrame:
    """``read_geometry_blocks`` equivalent over a
    ``write_sorted_tiles`` output with (lon, lat) point features: the
    tile IN-list and depth pruning, then :func:`filter_shape`.
    ``rings`` (as :func:`parse_poly_file` returns them) imply their
    common bbox for the tile IN-list when ``bbox`` is not given."""
    from .tableio import read_table
    df = read_table(spark, path)
    if max_minzoom is not None:
        df = df.where(F.expr(sql_qt_depth("tile")) <= max_minzoom)
        if "minzoom" in df.columns:
            df = df.where(F.col("minzoom") <= max_minzoom)
    bbox = _coarse_bbox(bbox, rings)
    if bbox is not None:
        df = df.where(F.col("tile").isin(_bbox_tiles(bbox, tile_depth)))
    return filter_shape(df, "point", bbox, rings)
