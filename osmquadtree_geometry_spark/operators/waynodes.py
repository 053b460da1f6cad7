"""J1 — CollectWayNodes: resolve each way's node refs to coordinates.

Reference: `/root/reference/src/waywithnodes.rs:12-117,165-197` — a
tile-ordered streaming BTreeMap join.  Spark-first rebuild: posexplode
the refs, equi-join the node location table, re-assemble the ordered
coordinate list with ``array_sort(collect_list(struct(pos,...)))``.
The tile-eviction state machine disappears — the shuffle join sees all
locations; "missing node" errors (`waywithnodes.rs:105-109`) are
reproduced by left-join null detection.

Scale notes: the join key is the node id (dense, unskewed); OSM caps
ways at 2000 nodes so per-way groups are bounded.  AQE skew-join
covers pathological refs; no salting needed here.  The location table
projects only (id, lon, lat) so the scan prunes tags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache

# The ordered lonlats array from exploded (pos, lon, lat) rows: collect
# struct(pos, ll) with lon/lat bit-packed into ONE bigint (2 slots =
# 24 B/element vs 32 B, 25% less traffic on the pipeline's widest
# shuffle — the inherent per-way regroup).  Unpack uses shift
# arithmetic only — `shiftright(shiftleft(ll,32),32)` sign-extends the
# low half without an out-of-range cast, so it is ANSI-mode safe.
# Measured at 14.08M docs against collecting struct(pos, lon, lat):
# −12% wall / −10% CPU at 16 cores, −9% wall at 32 (DRAM-bound
# levels), +7% wall at 4 cores where bandwidth is free and the
# pack/unpack ALU work shows (BENCH/BASELINE.md).
COLLECT_LONLATS = (
    "transform(array_sort(collect_list(struct(pos, "
    "shiftleft(cast(lon as bigint), 32) | "
    "(cast(lat as bigint) & 4294967295) as ll))), "
    "p -> struct(cast(shiftright(p.ll, 32) as int) as lon, "
    "cast(shiftright(shiftleft(p.ll, 32), 32) as int) as lat))")


def collect_way_nodes(ways: DataFrame, nodes: DataFrame,
                      persist_shared: bool = False,
                      refs: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """-> (ways_ll, errors).

    ways_ll: doc_id, id, refs, tags, lonlats array<struct<lon,lat>>
    errors:  elem_type='way', elem_id, message 'missing node {ref}'
             (first missing ref in order, as the reference reports).

    ``refs`` (id, pos, ref) is the exploded ref list; by default it is
    posexploded from ``ways``, the bucketed prepass passes its
    pre-exploded table (see pipeline.collect_way_nodes_bucketed).
    """
    if refs is None:
        refs = ways.select("id", F.posexplode("refs").alias("pos", "ref"))
    # NOTE: node ids are assumed unique (true for OSM and the driver
    # fixtures).  If a deployment can feed duplicate-id node rows,
    # dedupe them upstream (drop_duplicates on id) — a duplicate fans
    # out the left join AND yields equal-pos elements, which array_sort
    # then orders by their packed coordinates.
    locs = nodes.select(F.col("id").alias("ref"), "lon", "lat")
    j = refs.join(locs, "ref", "left")
    # a half-null location row (corrupt input) must route to the error
    # branch: the packed bigint nulls out when EITHER half is null, so
    # test lon OR lat here, not just lon
    grouped = (j.groupBy("id")
               .agg(F.expr(COLLECT_LONLATS).alias("lonlats"),
                    F.min(F.when(F.col("lon").isNull() | F.col("lat").isNull(),
                                 F.struct("pos", "ref"))).alias("first_missing")))
    enriched = grouped.join(ways.select("doc_id", "id", "refs", "tags"), ["id"])
    if persist_shared:
        # cache the branch point feeding BOTH ways_ll and the error
        # rows, so materializing the errors table doesn't re-run the
        # refs⋈locations join (scoped — released via cache.py)
        enriched = cache.persist(enriched)
    ok = enriched.where(F.col("first_missing").isNull()).drop("first_missing")
    errors = (enriched.where(F.col("first_missing").isNotNull())
              .select(F.lit("way").alias("elem_type"),
                      F.col("id").alias("elem_id"),
                      F.concat(F.lit("missing node "),
                               F.col("first_missing.ref")).alias("message")))
    return ok.select("doc_id", "id", "refs", "tags", "lonlats"), errors
