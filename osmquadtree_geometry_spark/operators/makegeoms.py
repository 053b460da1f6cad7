"""G10 — MakeGeometries: classify + measure + re-tile.

Reference: `/root/reference/src/process_geometry.rs:244-310`.
  * nodes with a feature key -> points (tags filtered, layer extracted)
  * ways with a feature key -> simple polygon when closed AND the
    polygon-tag spec matches (area, reversed=(area<0), NO z_order),
    else linestring (length, z_order)
  * relations are dropped here (multipolygons are a separate operator)
  * recalc quadtree: points via ``calculate_point(lon,lat,18,0.0)``,
    others via ``calculate(bounds,18,0.0)``.

Classification, measurement and the bbox->quadtree common-ancestor
encode are pure Spark SQL (JVM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.style import GeometryStyle
from ..kernels import quadtree as qtk
from . import sqlgeom


def with_bbox_quadtree(df: DataFrame, lonlats: str = "lonlats") -> DataFrame:
    """bbox -> deepest containing cell, pure staged SQL (JVM)."""
    b = sqlgeom.sql_bbox(lonlats)
    tmp = df.withColumns({f"__b_{k}": F.expr(v) for k, v in b.items()})
    out = qtk.with_bbox_qt(tmp, "__b_minlon", "__b_minlat",
                           "__b_maxlon", "__b_maxlat")
    return out.drop("__b_minlon", "__b_minlat", "__b_maxlon", "__b_maxlat")


def make_points(nodes: DataFrame, style: GeometryStyle) -> DataFrame:
    """points(doc_id, id, tags, lon, lat, layer, minzoom, quadtree)."""
    return (nodes
            .where(F.expr(style.sql_has_feature_key("tags")))
            .select("doc_id", "id",
                    F.expr(style.sql_filter_tags("tags")).alias("tags"),
                    "lon", "lat",
                    F.expr(style.sql_layer("tags")).alias("layer"),
                    F.lit(None).cast("long").alias("minzoom"),
                    "quadtree"))


def make_way_features(ways_ll: DataFrame, style: GeometryStyle) -> DataFrame:
    """FUSED way-geometry construction (round-2 verdict Next #7):
    ONE pass over ways_ll produces both linestrings and simple
    polygons, discriminated by ``geom_type`` — instead of two filtered
    branches that each re-run the whole upstream decode+J1 subtree
    when an action touches both (runtime plans showed 51 parquet scans
    / 159 Exchanges with only 24 reused for a single 4-branch count).
    Length/area/reversed/z_order are computed per-row behind the
    geom_type CASE; the bbox-quadtree recalc runs once here instead of
    once per branch.

    way_features(doc_id, id, refs, tags, lonlats, geom_type, length,
                 area, reversed, z_order, layer, minzoom, quadtree)
    """
    feat = ways_ll.where(F.expr(style.sql_has_feature_key("tags")))
    classified = (feat.withColumn(
        "is_poly",
        F.expr(sqlgeom.sql_is_ring("refs")) & F.expr(style.sql_is_polygon("tags")))
        # staged mercator projection: referenced twice by each measure
        # fold (both zip slices), so inlining would project every way
        # twice; as a multi-use non-cheap alias it stays materialized
        # once (round-6)
        .withColumn("__merc", F.expr(sqlgeom.sql_merc("lonlats"))))
    fused = (classified
             .withColumn("signed_area",
                         F.when(F.col("is_poly"),
                                F.expr(sqlgeom.sql_ring_area(
                                    "lonlats", "__merc"))))
             .select("doc_id", "id", "refs",
                     F.expr(style.sql_filter_tags("tags")).alias("tags"),
                     "lonlats",
                     F.when(F.col("is_poly"), F.lit("simple_polygon"))
                     .otherwise(F.lit("linestring")).alias("geom_type"),
                     F.when(~F.col("is_poly"),
                            F.expr(sqlgeom.sql_line_length(
                                "lonlats", "__merc")))
                     .alias("length"),
                     F.abs(F.col("signed_area")).alias("area"),
                     (F.col("signed_area") < 0).alias("reversed"),
                     F.when(~F.col("is_poly"),
                            F.expr(style.sql_z_order("tags")))
                     .alias("z_order"),  # no zorder for polys
                     F.expr(style.sql_layer("tags")).alias("layer"),
                     F.lit(None).cast("long").alias("minzoom")))
    return with_bbox_quadtree(fused)


_LINE_COLS = ["doc_id", "id", "refs", "tags", "lonlats", "length",
              "z_order", "layer", "minzoom"]
_POLY_COLS = ["doc_id", "id", "refs", "tags", "lonlats", "area",
              "reversed", "z_order", "layer", "minzoom"]


def split_way_features(fused: DataFrame) -> tuple[DataFrame, DataFrame]:
    """fused way_features -> the per-type (linestrings,
    simple_polygons) views with their historical schemas."""
    qt = ["quadtree"] if "quadtree" in fused.columns else []
    extra = [c for c in ("tile", "end_date") if c in fused.columns]
    lines = (fused.where(F.col("geom_type") == "linestring")
             .select(*_LINE_COLS, *qt, *extra))
    polys = (fused.where(F.col("geom_type") == "simple_polygon")
             .select(*_POLY_COLS, *qt, *extra))
    return lines, polys
