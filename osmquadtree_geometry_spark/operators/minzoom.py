"""G14 — FindMinZoom as a Spark stage.

Reference: `/root/reference/src/minzoom.rs:141-238`.  Lookup is a
compiled map-literal SQL expression (no shuffle, no broadcast join —
the spec is a few hundred entries); matched features get
``quadtree = quadtree.round(minzoom)`` via the arithmetic
``sql_round_qt`` expression; with ``max_minzoom`` set, unmatched /
too-deep features are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.minzoom import MinZoomSpec
from ..kernels.quadtree import sql_round_qt


def _apply(df: DataFrame, mz_expr: str, drop_unmatched: bool) -> DataFrame:
    out = (df.withColumn("minzoom", F.expr(mz_expr))
           .withColumn("quadtree",
                       F.when(F.col("minzoom").isNotNull(),
                              F.expr(sql_round_qt("quadtree", "minzoom")))
                       .otherwise(F.col("quadtree"))))
    if drop_unmatched:
        out = out.where(F.col("minzoom").isNotNull())
    return out


def find_minzoom_fused(way_features: DataFrame,
                       spec: MinZoomSpec) -> DataFrame:
    """G14 over the FUSED way_features table: one pass, one
    geom_type CASE — instead of two filtered branches each re-running
    the upstream subtree (round-2 verdict Next #7 pass fusion)."""
    mz = (f"CASE WHEN geom_type = 'linestring' "
          f"THEN {spec.sql_line_minzoom('tags')} "
          f"ELSE {spec.sql_polygon_minzoom('tags', 'area')} END")
    return _apply(way_features, mz, spec.max_minzoom is not None)


def find_minzoom_table(df: DataFrame, spec: MinZoomSpec,
                       geom: str) -> DataFrame:
    """G14 over a one-geometry table: ``geom`` is 'point', 'line' or
    'polygon' (simple or complicated polygons share the area rule)."""
    if geom == "point":
        mz = spec.sql_point_minzoom("tags")
    elif geom == "line":
        mz = spec.sql_line_minzoom("tags")
    elif geom == "polygon":
        mz = spec.sql_polygon_minzoom("tags", "area")
    else:
        raise ValueError(f"unknown geometry {geom!r}")
    return _apply(df, mz, spec.max_minzoom is not None)


def find_minzoom(points: DataFrame, lines: DataFrame,
                 simple_polygons: DataFrame, complicated_polygons: DataFrame,
                 spec: MinZoomSpec) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    return (
        find_minzoom_table(points, spec, "point"),
        find_minzoom_table(lines, spec, "line"),
        find_minzoom_table(simple_polygons, spec, "polygon"),
        find_minzoom_table(complicated_polygons, spec, "polygon"),
    )
