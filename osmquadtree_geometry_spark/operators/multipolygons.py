"""J2 — ProcessMultiPolygons: relation ⋈ member ways, ring assembly
with winding repair, as one per-relation aggregation + a
``mapInPandas`` kernel over packed relation rows.

Reference: `/root/reference/src/multipolygons.rs:103-508` (streaming
state machine keyed on tile order).  Batch rebuild:

  phase 0 (SQL): filter relations to multipolygon/boundary type
      (`multipolygons.rs:79-99`), style feature check + tag filtering
      (`style.rs:318-331` — "not a feature" errors preserved);
  phase 1 (SQL): explode Way members, join assembled ways (member ways
      missing from the input are skipped, mirroring the reference's
      ``wnas`` counter path `multipolygons.rs:232-237`);
  phase 2 (``groupBy(rel_id)`` packs each relation's member structs
      into one row, then ``mapInPandas`` over Arrow batches of them):
      pure-Python ring assembly (kernels.rings — exact transcription
      of merge order), winding repair, area sum, WKB; errors go to a
      side output instead of aborting (`lib.rs:61-66`).

Output quadtree = ``calculate(bounds, 18, 0.0)`` over the exterior
bbox, matching MakeGeometries' recalc (`process_geometry.rs:306-309`).

Measured mega-relation envelope (scripts/mega_relation_probe.py):
10⁴ member ways -> 104 MiB peak task execution memory and 15-18 s
wall for decode + J1 + J2 in a fresh local[4] session on a 4-core
host, digest parity with the DuckDB oracle; 10⁵ ways (a 400k-point
coastline ring) -> 549 MiB peak task memory, 23 s wall at local[32]
on an earlier revision (BENCH/ROUND5.md §3).  Peak memory sits in the
phase-2 assembly task (the packed row + the merged ring buffers of ONE
relation), so it grows ~linearly with member count; a 10⁶-way
pathology needs executors with multi-GB task headroom.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache

from ..config.style import GeometryStyle
from ..kernels import quadtree as qtk
from ..kernels import rings as ringk
from ..kernels import wkb as wkbk

PARTS_TYPE = ("array<struct<exterior:array<struct<lon:int,lat:int>>,"
              "interiors:array<array<struct<lon:int,lat:int>>>,area:double>>")

ASSEMBLED_SCHEMA = (
    "doc_id string, id long, tags map<string,string>, "
    f"parts {PARTS_TYPE}, area double, z_order long, layer long, "
    "minzoom long, quadtree long, wkb binary, error string"
)


def _assemble_one(doc_id, rel_id, tags, layer, members) -> dict:
    """Assemble a single relation (pure python/numpy, no pandas)."""
    base = {
        "doc_id": doc_id, "id": int(rel_id), "tags": tags, "parts": None,
        "area": None, "z_order": None,
        "layer": None if layer is None or (isinstance(layer, float) and np.isnan(layer)) else int(layer),
        "minzoom": None, "quadtree": None, "wkb": None, "error": None,
    }
    outer: list[ringk.RingPart] = []
    inner: list[ringk.RingPart] = []
    for m in sorted(members, key=lambda m: m["pos"]):
        lon = np.fromiter((p["lon"] for p in m["lonlats"]), np.int64)
        lat = np.fromiter((p["lat"] for p in m["lonlats"]), np.int64)
        part = ringk.RingPart(int(m["way_id"]), False,
                              [int(r) for r in m["refs"]], lon, lat)
        (inner if m["role"] == "inner" else outer).append(part)

    try:
        polys = ringk.make_polygon_parts(outer, inner)
    except ringk.AssemblyError as e:
        base["error"] = str(e)
        return base

    parts_out = []
    area = 0.0
    blon0 = blat0 = blon1 = blat1 = None
    for p in polys:
        elon, elat = p.exterior.lonlats()
        ints = [i.lonlats() for i in p.interiors]
        parts_out.append({
            "exterior": [{"lon": int(a), "lat": int(b)} for a, b in zip(elon, elat)],
            "interiors": [[{"lon": int(a), "lat": int(b)} for a, b in zip(il, it)]
                          for il, it in ints],
            "area": float(p.area),
        })
        area += p.area
        # bounds: exterior rings only (complicatedpolygongeometry.rs:451-461)
        lo, la = int(elon.min()), int(elat.min())
        hi, ha = int(elon.max()), int(elat.max())
        blon0 = lo if blon0 is None else min(blon0, lo)
        blat0 = la if blat0 is None else min(blat0, la)
        blon1 = hi if blon1 is None else max(blon1, hi)
        blat1 = ha if blat1 is None else max(blat1, ha)

    q = qtk.calculate_bbox(np.asarray([blon0]), np.asarray([blat0]),
                           np.asarray([blon1]), np.asarray([blat1]))[0]
    wkb_parts = [[p.exterior.lonlats()] + [i.lonlats() for i in p.interiors]
                 for p in polys]
    base.update({
        "parts": parts_out, "area": float(area), "quadtree": int(q),
        "wkb": wkbk.multipolygon_wkb(wkb_parts, transform=True, with_srid=True),
    })
    return base


def _assemble_batch(batches):
    """mapInPandas kernel: each Arrow batch carries MANY fully-packed
    relations (one row each) — per-relation overhead is a python dict,
    not a pandas group."""
    for pdf in batches:
        rows = [
            _assemble_one(r.doc_id, r.id, r.ftags, r.layer, r.members)
            for r in pdf.itertuples()
        ]
        yield pd.DataFrame(
            rows, columns=["doc_id", "id", "tags", "parts", "area",
                           "z_order", "layer", "minzoom", "quadtree",
                           "wkb", "error"])


def process_multipolygons(relations: DataFrame, ways_ll: DataFrame,
                          style: GeometryStyle) -> tuple[DataFrame, DataFrame]:
    """-> (complicated_polygons, errors).

    complicated_polygons(doc_id, id, tags, parts, area, z_order, layer,
                         minzoom, quadtree, wkb)
    errors(elem_type='relation', elem_id, message)
    """
    types = (["multipolygon", "boundary"] if style.boundary_relations
             else ["multipolygon"])
    mp = relations.where(F.col("tags")["type"].isin(types))

    feat_ok = F.expr(style.sql_has_feature_key("tags")) | F.lit(style.all_objs)
    not_feature = (mp.where(~feat_ok)
                   .select(F.lit("relation").alias("elem_type"),
                           F.col("id").alias("elem_id"),
                           F.lit("not a feature").alias("message")))
    mp = (mp.where(feat_ok)
          .select("doc_id", "id",
                  F.expr(style.sql_filter_tags("tags")).alias("ftags"),
                  F.expr(style.sql_layer("tags")).alias("layer"),
                  "members"))

    mem = (mp.select("doc_id", "id", "ftags", "layer",
                     F.posexplode("members").alias("pos", "m"))
           .where(F.col("m.mem_type") == "way")
           .select("doc_id", "id", "ftags", "layer", "pos",
                   F.col("m.mem_ref").alias("way_id"),
                   F.col("m.role").alias("role")))
    w = ways_ll.select(F.col("id").alias("way_id"), "refs", "lonlats")
    # inner join: missing member ways are skipped (reference wnas path)
    jm = mem.join(w, "way_id")

    # pack each relation into ONE row, then assemble whole Arrow
    # batches of relations (mapInPandas — per-relation cost is a
    # python dict, not a per-group pandas DataFrame); the kernel sorts
    # members by pos, so collect order does not matter
    packed = (jm.groupBy("id")
              .agg(F.first("doc_id").alias("doc_id"),
                   F.first("ftags").alias("ftags"),
                   F.first("layer").alias("layer"),
                   F.collect_list(F.struct("pos", "way_id", "role", "refs",
                                           "lonlats")).alias("members")))
    # shared parent of BOTH outputs (ok rows + error rows): scoped
    # persist so a consumer materializing one output doesn't re-run
    # the whole join+assembly for the other (released by the caller's
    # cache scope / release_all — see cache.py).  AQE sizes the cached
    # plan (session.py: canChangeCachedPlanOutputPartitioning), so the
    # packed relations reach as few Python tasks as their bytes need:
    # one at 220 docs instead of one per shuffle partition
    assembled = cache.persist(packed.mapInPandas(_assemble_batch,
                                                 ASSEMBLED_SCHEMA))

    # relations whose members ALL vanished never reach the kernel:
    # left-anti against assembled -> "no ring parts"
    no_members = (mp.join(assembled.select("id"), "id", "left_anti")
                  .select(F.lit("relation").alias("elem_type"),
                          F.col("id").alias("elem_id"),
                          F.lit("no ring parts").alias("message")))

    ok = assembled.where(F.col("error").isNull()).drop("error")
    errs = (assembled.where(F.col("error").isNotNull())
            .select(F.lit("relation").alias("elem_type"),
                    F.col("id").alias("elem_id"),
                    F.col("error").alias("message")))
    return ok, not_feature.unionByName(errs).unionByName(no_members)
