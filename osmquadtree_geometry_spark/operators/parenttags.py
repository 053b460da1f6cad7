"""J3 — AddParentTag: nodes inherit the max-priority value of a tag on
the ways that reference them.

Reference: `/root/reference/src/addparenttag.rs:19-200`.  For each
spec (key k): ways whose ``way_key`` tag value has a priority (every
value -> 0 when the priority map is empty, `addparenttag.rs:30-38`)
push ``(value, priority)`` onto each referenced node that carries one
of ``node_keys``; the node keeps the max-priority value and appends it
as tag ``k``.

Batch rebuild: explode way refs -> join candidate nodes -> one
groupBy(node) holding a ``max_by(value, priority)`` per spec key ->
left-join back and ``map_concat``.  Tie-break: the reference keeps
the FIRST way seen in tile-stream order on equal priority
(`addparenttag.rs:108-112`); we tie-break ``(priority DESC, way_id
ASC)``.  CAVEAT (documented divergence): within one quadtree block
the stream is sorted by id (T1), so first-seen == lowest id and the
tie-break reproduces the reference exactly — which covers every
fixture case.  Across DIFFERENT
blocks, equal-priority ways stream in tile order, not id order, so a
cross-tile tie can in principle pick a different (equally-prioritized)
way than the reference; our pick is deterministic and order-free where
the reference's depends on its scan order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.style import GeometryStyle


def parent_tag_maps(nodes: DataFrame, ways: DataFrame,
                    style: GeometryStyle) -> DataFrame:
    """(node_id, parent_tags map) in ONE node-keyed aggregation: each
    (spec, way, referenced node) whose way value has a priority and
    whose node carries one of the spec's ``node_keys`` contributes, and
    the per-(node, spec) argmax runs as a conditional ``max_by`` per
    spec inside a single groupBy(node_id).  The map entries come out in
    ascending spec_key order, one entry per spec that has a winner."""
    contribs = []
    for spec_key, sp in style.parent_tags.items():
        w = ways.where(F.col("tags")[sp.way_key].isNotNull())
        if sp.way_priority:
            prio_map = F.create_map(
                *[x for k, p in sp.way_priority.items()
                  for x in (F.lit(k), F.lit(int(p)))])
            w = (w.withColumn("prio", prio_map[F.col("tags")[sp.way_key]])
                 .where(F.col("prio").isNotNull()))
        else:
            w = w.withColumn("prio", F.lit(0))
        c = (w.select(F.explode("refs").alias("node_id"),
                      F.col("tags")[sp.way_key].alias("val"),
                      "prio", F.col("id").alias("way_id"))
             .withColumn("spec_key", F.lit(spec_key))
             .withColumn("node_keys", F.array(*[F.lit(k) for k in sp.node_keys])))
        contribs.append(c)
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    cand = nodes.select(F.col("id").alias("node_id"),
                        F.map_keys("tags").alias("nkeys"))
    j = (allc.join(cand, "node_id")
         .where(F.arrays_overlap("node_keys", "nkeys")))
    keys = sorted(style.parent_tags)
    winners = [
        F.expr(f"max_by(if(spec_key = '{k}', val, null), "
               f"if(spec_key = '{k}', struct(prio, -way_id), null))")
        .alias(f"__w{i}")
        for i, k in enumerate(keys)]
    entries = ", ".join(
        f"struct('{k}' as spec_key, __w{i} as val)"
        for i, k in enumerate(keys))
    return (j.groupBy("node_id").agg(*winners)
            .select("node_id", F.expr(
                f"map_from_entries(filter(array({entries}), "
                f"e -> e.val is not null))").alias("parent_tags")))


def parent_tag_rows(nodes: DataFrame, ways: DataFrame,
                    style: GeometryStyle) -> DataFrame:
    """(node_id, spec_key, val) — the winning parent-tag value per
    (node, spec): the entries of :func:`parent_tag_maps`."""
    return (parent_tag_maps(nodes, ways, style)
            .select("node_id", F.explode("parent_tags")
                    .alias("spec_key", "val")))


def add_parent_tags(nodes: DataFrame, ways: DataFrame,
                    style: GeometryStyle) -> DataFrame:
    if not style.parent_tags:
        return nodes
    add = parent_tag_maps(nodes, ways, style)
    return (nodes.join(add, nodes["id"] == add["node_id"], "left")
            .withColumn("tags", F.when(F.col("parent_tags").isNotNull(),
                                       F.map_concat("tags", "parent_tags"))
                        .otherwise(F.col("tags")))
            .drop("node_id", "parent_tags"))
