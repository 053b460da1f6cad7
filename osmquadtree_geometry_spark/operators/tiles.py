"""J6 / S5 — tile dictionary and ancestor allocation (the S8 sorted
tiled output is ``sinks.write_sorted_tiles``).

Reference semantics:
  * ``StoreBlocks`` (`process_geometry.rs:41-155`): each feature goes
    to the DEEPEST registered ancestor of its quadtree; no ancestor ->
    the "rem" bucket (tile = EMPTY = -1); blocks sorted by id.

Allocation strategies (both JVM-side):
  * small dictionary (<= ~10k tiles): a literal map + coalesce over
    the 19 possible ancestor depths — zero shuffle, codegen'd;
  * large dictionary: explode the feature's ancestor chain (19 rows)
    and broadcast-join the tile dict, keeping max depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.quadtree import sql_ancestors, sql_qt_depth, sql_round_qt


def tile_dictionary(features: DataFrame, group_depth: int = 8,
                    qt_col: str = "quadtree") -> list[int]:
    """Registered tile set: distinct feature cells rounded to
    ``group_depth`` (the reference gets this from the input block
    structure; we derive it from the data)."""
    d = (features
         .select(F.expr(sql_round_qt(qt_col, str(group_depth))).alias("tile"))
         .where(F.col("tile") >= 0).distinct())
    return sorted(r.tile for r in d.collect())


def allocate_tiles(df: DataFrame, tiles: list[int],
                   qt_col: str = "quadtree") -> DataFrame:
    """Adds ``tile``: deepest registered ancestor of ``qt_col``, -1
    when none ('rem' bucket)."""
    if len(tiles) <= 10000:
        # one map lookup per DISTINCT depth present in the dictionary
        # (usually 1) — keeps the generated code inside the JVM's
        # 64KB method limit instead of 19 coalesce arms
        depths = sorted({t & 31 for t in tiles if t >= 0}, reverse=True)
        m = f"map({', '.join(f'{t}L, {t}L' for t in tiles)})" if tiles else "map(-1L, -1L)"
        lookups = [f"{m}[{sql_round_qt(qt_col, str(d))}]" for d in depths]
        expr = f"coalesce({', '.join(lookups + ['-1L'])})"
        return df.withColumn("tile", F.expr(expr))
    spark = df.sparkSession
    tdf = spark.createDataFrame([(t,) for t in tiles], "tile long")
    anc = df.withColumn("anc", F.expr(sql_ancestors(qt_col)))
    e = anc.select("*", F.explode("anc").alias("tile")).drop("anc")
    j = e.join(F.broadcast(tdf), "tile")
    key = [c for c in ("doc_id", "id") if c in df.columns]
    best = (j.groupBy(*key)
            .agg(F.expr(f"max_by(tile, {sql_qt_depth('tile')})").alias("tile")))
    return df.join(best, key, "left").fillna({"tile": -1})

