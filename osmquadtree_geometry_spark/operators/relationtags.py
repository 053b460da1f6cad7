"""J4 — AddRelationTags: relations push tag values to their member
ways, aggregated per spec as Min / Max / List.

Reference: `/root/reference/src/relationtags.rs:21-227`.
  * a relation matches spec i when ALL ``source_filter`` k=v pairs are
    present AND it carries ``source_key`` (`:21-42`)
  * each matching relation pushes (i, value) to every Way member
  * per way, values are sorted by (spec idx, value) then aggregated
    (`:163-186`, note ``xx.sort()`` at `:170`):
      - min/max: integer-parsed, unparsable values ignored (`:44-87`)
      - list: consecutive-dedup after the sort — i.e. sorted distinct —
        joined with '; ' (`:89-110`)
  * the result is appended as tag ``target_key``.

Batch rebuild: explode members -> one groupBy(way) holding a
min/max(try_cast) or sorted-distinct array_join per spec -> a map ->
left-join + map_concat.  All JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.style import GeometryStyle


def relation_tag_maps(relations: DataFrame,
                      style: GeometryStyle) -> DataFrame:
    """(way_id, rel_tags map) in ONE way-keyed aggregation: each
    matching relation pushes (spec index, value) to its member ways,
    and per-spec conditional min/max/sorted-distinct-list aggregates
    run inside a single groupBy(way_id).  Entries emit in ascending
    spec order with null results filtered (duplicate target_keys
    resolve LAST_WIN by spec order); ways with no entry are dropped."""
    contribs = []
    for i, sp in enumerate(style.relation_tag_spec):
        cond = F.lit(True)
        for k, v in sp.source_filter.items():
            cond = cond & (F.col("tags")[k] == v)
        cond = cond & F.col("tags")[sp.source_key].isNotNull()
        c = (relations.where(cond)
             .select(F.col("tags")[sp.source_key].alias("val"),
                     F.explode("members").alias("m"))
             .where(F.col("m.mem_type") == "way")
             .select(F.col("m.mem_ref").alias("way_id"),
                     F.lit(i).alias("spec_idx"), "val"))
        contribs.append(c)
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)

    aggs = []
    entries = []
    for i, sp in enumerate(style.relation_tag_spec):
        if sp.op_type == "min":
            aggs.append(F.min(F.expr(
                f"if(spec_idx = {i}, try_cast(val as bigint), null)"))
                .cast("string").alias(f"__o{i}"))
        elif sp.op_type == "max":
            aggs.append(F.max(F.expr(
                f"if(spec_idx = {i}, try_cast(val as bigint), null)"))
                .cast("string").alias(f"__o{i}"))
        else:
            aggs.append(F.expr(
                f"nullif(array_join(array_sort(array_distinct("
                f"collect_list(if(spec_idx = {i}, val, null)))), '; '), '')")
                .alias(f"__o{i}"))
        entries.append(f"struct('{sp.target_key}' as k, __o{i} as v)")
    return (allc.groupBy("way_id").agg(*aggs)
            .select("way_id", F.expr(
                f"map_from_entries(filter(array({', '.join(entries)}), "
                f"e -> e.v is not null))").alias("rel_tags"))
            .where(F.size("rel_tags") > 0))


def relation_tag_rows(relations: DataFrame, style: GeometryStyle) -> DataFrame:
    """(way_id, target_key, out_val) — the aggregated tag values each
    member way receives: the entries of :func:`relation_tag_maps`."""
    return (relation_tag_maps(relations, style)
            .select("way_id", F.explode("rel_tags")
                    .alias("target_key", "out_val")))


def add_relation_tags(ways: DataFrame, relations: DataFrame,
                      style: GeometryStyle) -> DataFrame:
    if not style.relation_tag_spec:
        return ways
    add = relation_tag_maps(relations, style)
    return (ways.join(add, ways["id"] == add["way_id"], "left")
            .withColumn("tags", F.when(F.col("rel_tags").isNotNull(),
                                       F.map_concat("tags", "rel_tags"))
                        .otherwise(F.col("tags")))
            .drop("way_id", "rel_tags"))
