"""End-to-end geometry pipeline: the reference chain
(`process_geometry.rs:418-524`, SURVEY §0) as ONE ordered stage list,
:data:`STAGES`:

  decode -> CollectWayNodes (J1) -> AddParentTag (J3) ->
  AddRelationTags (J4) -> ProcessMultiPolygons (J2) ->
  MakeGeometries (G10) -> FindMinZoom (G14) -> tile alloc (J6)

Each :class:`Stage` there names its inputs, its outputs, the
checkpoint table of each output and its skip rule (the reference's
elisions, `process_geometry.rs:444-459`); it is the only place the
package writes the chain down.  Three entry points run it and differ
only in where the decoded tables come from and how a stage is run:

  * :func:`run_pipeline` — lazy DataFrame transforms over raw docs,
    with the ``persist`` cache points;
  * ``run_pipeline(bucketed_prefix=...)`` — the same over the
    :func:`prepare_bucketed` ingest tables;
  * :func:`run_pipeline_checkpointed` — every stage output goes
    through ``lineage.run_stage`` and resumes from its checkpoint.
"""

from __future__ import annotations

import functools
from concurrent.futures import Future, wait
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cache
from .config.minzoom import MinZoomSpec
from .config.style import GeometryStyle
from .decode import decode_all, decode_node_locations, read_docs
from .jobs import submit
from .operators.makegeoms import (make_points, make_way_features,
                                  split_way_features)
from .operators.minzoom import find_minzoom_fused, find_minzoom_table
from .operators.multipolygons import PARTS_TYPE, process_multipolygons
from .operators.parenttags import add_parent_tags
from .operators.relationtags import add_relation_tags
from .operators.tiles import allocate_tiles, tile_dictionary
from .operators.waynodes import collect_way_nodes
from .sources import filter_shape

EMPTY_ERRORS = "elem_type string, elem_id long, message string"
EMPTY_CPOLYS = (f"doc_id string, id long, tags map<string,string>, "
                f"parts {PARTS_TYPE}, area double, z_order long, "
                f"layer long, minzoom long, quadtree long, wkb binary")
DECODED = ("nodes", "ways", "relations", "media")


@dataclass
class PipelineResult:
    points: DataFrame
    linestrings: DataFrame
    simple_polygons: DataFrame
    complicated_polygons: DataFrame
    errors: DataFrame
    decoded: dict = field(default_factory=dict)
    # FUSED line+polygon table (geom_type discriminator): consumers
    # touching both types should read this ONE DataFrame so the
    # upstream decode+J1 subtree is traversed once, not per branch
    way_features: DataFrame | None = None
    # precomputed spatial-index side tables (points_cells, poly_cover)
    # when reading a written layout — see sinks.write_spatial_index
    spatial_index: dict = field(default_factory=dict)


@dataclass(frozen=True)
class _Run:
    """What the stage builders of one run read besides their inputs."""
    spark: SparkSession
    style: GeometryStyle
    minzoom: MinZoomSpec | None
    tile_group_depth: int
    # cache the decode tables and J4's output, which several stages read
    persist: bool
    # cache J1's refs⋈locations join, which its ok and error outputs
    # share: the lazy path does when it persists; the checkpointed run
    # always does, since it writes the two outputs in separate actions
    persist_shared: bool
    # the tile dictionary, when it is being collected on a background
    # thread (run_pipeline); None: the tiles stage collects it itself
    tiles: Future | None = None
    # bucketed ingest only: the pre-exploded (id, pos, ref) table, so
    # J1's refs⋈locations join reads both sides bucket-aligned
    wayrefs: DataFrame | None = None


@dataclass(frozen=True)
class Stage:
    """One step of the chain.  ``build(run, *inputs)`` returns one
    DataFrame per name in ``outputs``; ``checkpoints`` names the
    checkpoint (and lineage) table of each output.  When ``skip(run)``
    holds the stage is elided and its outputs are ``bypass(run,
    *inputs)`` — by default its first inputs, unchanged.  An output
    named like an input replaces it for the later stages."""
    name: str
    inputs: tuple[str, ...]
    outputs: tuple[str, ...]
    checkpoints: tuple[str, ...]
    build: Callable[..., Sequence[DataFrame]]
    skip: Callable[[_Run], bool] = lambda r: False
    bypass: Callable[..., Sequence[DataFrame]] | None = None


def _relation_tags(r: _Run, ways_ll: DataFrame, relations: DataFrame):
    ways = add_relation_tags(ways_ll, relations, r.style)
    # enriched ways feed both multipolygon assembly and line/polygon
    # classification
    return (cache.persist(ways) if r.persist else ways,)


def _no_multipolygons(r: _Run, relations: DataFrame, ways: DataFrame):
    return (r.spark.createDataFrame([], EMPTY_CPOLYS),
            r.spark.createDataFrame([], EMPTY_ERRORS))


def _minzoom(r: _Run, points: DataFrame, way_features: DataFrame,
             cpolys: DataFrame):
    return (find_minzoom_table(points, r.minzoom, "point"),
            find_minzoom_fused(way_features, r.minzoom),
            find_minzoom_table(cpolys, r.minzoom, "polygon"))


def _tiles(r: _Run, points: DataFrame, way_features: DataFrame,
           cpolys: DataFrame, nodes: DataFrame):
    # registered tile set from ALL node locations (the reference's tile
    # set comes from the input block structure, i.e. the full data
    # distribution — not just emitted features): a bounded driver
    # collect (<= 4^depth values) executed at build time
    tiles = (r.tiles.result() if r.tiles is not None
             else tile_dictionary(nodes, r.tile_group_depth))
    return tuple(allocate_tiles(df, tiles)
                 for df in (points, way_features, cpolys))


STAGES = (
    # the source's decoded tables (raw docs or the bucketed ingest)
    Stage("decode", DECODED, DECODED,
          ("decode_nodes", "decode_ways", "decode_relations",
           "decode_media"),
          lambda r, *tables: tables),
    Stage("waynodes", ("ways", "nodes"), ("ways_ll", "way_errors"),
          ("waynodes", "waynodes_errors"),
          lambda r, ways, nodes: collect_way_nodes(
              ways, nodes, persist_shared=r.persist_shared, refs=r.wayrefs)),
    # J3: no parent_tags spec -> skipped
    Stage("parenttags", ("nodes", "ways_ll"), ("tagged_nodes",),
          ("parent_tags",),
          lambda r, nodes, ways_ll: (
              add_parent_tags(nodes, ways_ll, r.style),),
          skip=lambda r: not r.style.parent_tags),
    # J4: no relation_tag_spec -> skipped
    Stage("relationtags", ("ways_ll", "relations"), ("tagged_ways",),
          ("relation_tags",), _relation_tags,
          skip=lambda r: not r.style.relation_tag_spec),
    # J2: style.multipolygons=false -> skipped, no complicated polygons
    Stage("multipolygons", ("relations", "tagged_ways"),
          ("cpolys", "multipolygon_errors"),
          ("multipolygons", "multipolygon_errors"),
          lambda r, relations, ways: process_multipolygons(
              relations, ways, r.style),
          skip=lambda r: not r.style.multipolygons,
          bypass=_no_multipolygons),
    # G10: points plus ONE fused line+polygon table, so minzoom and
    # tile allocation run once over it; the per-type linestrings /
    # simple_polygons are views split at the very end
    Stage("makegeoms", ("tagged_nodes", "tagged_ways"),
          ("points", "way_features"), ("points", "way_features"),
          lambda r, nodes, ways: (make_points(nodes, r.style),
                                  make_way_features(ways, r.style))),
    # G14: minzoom=None -> skipped
    Stage("minzoom", ("points", "way_features", "cpolys"),
          ("points", "way_features", "cpolys"),
          ("minzoom_points", "minzoom_way_features",
           "minzoom_complicated_polygons"), _minzoom,
          skip=lambda r: r.minzoom is None),
    # J6: tile allocation
    Stage("tiles", ("points", "way_features", "cpolys", "nodes"),
          ("points", "way_features", "cpolys"),
          ("tiles_points", "tiles_way_features",
           "tiles_complicated_polygons"), _tiles),
)


def _run_chain(r: _Run, source: dict, execute,
               end_date: int | None) -> PipelineResult:
    """Run :data:`STAGES` over the ``source`` tables;
    ``execute(stage, build)`` returns the outputs of a stage that is
    not skipped, given the zero-argument ``build`` that makes them."""
    env = dict(source)
    for s in STAGES:
        ins = [env[n] for n in s.inputs]
        if s.skip(r):
            outs = (s.bypass(r, *ins) if s.bypass is not None
                    else ins[:len(s.outputs)])
        else:
            outs = execute(s, functools.partial(s.build, r, *ins))
        env.update(zip(s.outputs, outs))

    feats = [env["points"], env["way_features"], env["cpolys"]]
    if end_date is not None:
        # block-level snapshot timestamp carried on every returned
        # feature (`geometry_block.rs:39,190-193` PrimitiveBlock.end_date
        # — the reference's historical-extract marker); checkpoints stay
        # date-free, so a resume with a different -t needn't recompute
        feats = [df.withColumn("end_date", F.lit(int(end_date)).cast("long"))
                 for df in feats]
    points, way_feats, cpolys = feats
    lines, spolys = split_way_features(way_feats)
    return PipelineResult(
        points=points, linestrings=lines, simple_polygons=spolys,
        complicated_polygons=cpolys,
        errors=env["way_errors"].unionByName(env["multipolygon_errors"]),
        decoded={k: env[k] for k in source}, way_features=way_feats)


def _bucketed_refs(spark: SparkSession, prefix: str) -> DataFrame:
    return spark.table(f"{prefix}_wayrefs").withColumnRenamed("way_id", "id")


def run_pipeline(spark: SparkSession, docs_path: str | None = None,
                 style: GeometryStyle | None = None,
                 minzoom: MinZoomSpec | None = None,
                 tile_group_depth: int = 8,
                 persist: bool = True,
                 end_date: int | None = None,
                 bucketed_prefix: str | None = None) -> PipelineResult:
    """The chain as lazy DataFrames.  ``persist`` caches the decode
    tables and the multi-consumer stage outputs (False = nothing).
    Which is faster depends on the host and the input: a 220-doc
    tiling round (run_pipeline + write_feature_tables, local[4], 4
    cores) took 19.2-19.8 s with True and 20.9-23.4 s with False over
    3 alternating pairs, while a 440k-doc job on a DRAM-bound 32-core
    box ran fastest with False (BENCH/BASELINE.md levers), where
    re-reading the span stream beat caching it.  With
    ``bucketed_prefix`` the decode stage reads the
    :func:`prepare_bucketed` ingest tables instead of ``docs_path``:
    the decode shuffles were paid once at ingest, and J1's join reads
    both sides bucket-aligned (zero Exchange below the join).

    The tile dictionary (a driver collect) starts on a background
    thread as soon as its input exists — the location-only projection
    of the span stream for raw docs, the bucketed nodes table
    otherwise — and runs while the rest of the chain is planned; the
    tiles stage waits for it.  Its jobs keep the
    caller's job group, description and tags.  If planning fails
    before the tiles stage, the call waits for the collect to finish
    before raising, so no dictionary job outlives it."""
    if not isinstance(persist, bool):
        # a non-bool (e.g. persist=1) silently disabling all caching is
        # a footgun (round-3 ADVICE) — reject it
        raise TypeError(
            f"persist must be bool, got {type(persist).__name__}")
    if bucketed_prefix is not None:
        t = {k: spark.table(f"{bucketed_prefix}_{k}") for k in DECODED}
        locations = t["nodes"]
        wayrefs = _bucketed_refs(spark, bucketed_prefix)
    else:
        t = decode_all(read_docs(spark, docs_path))
        if persist:
            # one parse of the span stream feeds 8+ downstream groupBys
            t["spans"] = cache.persist(t["spans"])
            # the decoded tables feed several downstream branches
            # (points + way join + relation joins + tile dictionary);
            # persisting here stops each output re-running the decode
            for k in ("nodes", "ways", "relations"):
                t[k] = cache.persist(t[k])
        # the dictionary reads only node locations: this projection of
        # the span stream skips the tag shuffle a full decode_nodes pays
        locations = decode_node_locations(t["spans"])
        wayrefs = None
    tiles = submit(spark, tile_dictionary, locations, tile_group_depth)
    r = _Run(spark, style or GeometryStyle(), minzoom, tile_group_depth,
             persist=persist, persist_shared=persist, tiles=tiles,
             wayrefs=wayrefs)
    try:
        return _run_chain(r, t, lambda stage, build: build(), end_date)
    finally:
        wait([tiles])


def run_pipeline_checkpointed(spark: SparkSession, docs_path: str,
                              workdir: str,
                              style: GeometryStyle | None = None,
                              minzoom: MinZoomSpec | None = None,
                              tile_group_depth: int = 8,
                              force: bool = False,
                              end_date: int | None = None) -> tuple[PipelineResult, dict]:
    """North-rule resumable pipeline: every stage output materializes
    through the LineageStore with per-partition row metrics; a re-run
    (same input fingerprint) skips completed outputs and resumes
    mid-tiling.

    Returns (result, resumed_flags) where resumed_flags[checkpoint] is
    True when that output was served from its checkpoint."""
    from .lineage import LineageStore, fingerprint_input, run_stage

    store = LineageStore(spark, workdir)
    fp = fingerprint_input(docs_path)
    resumed: dict[str, bool] = {}

    def checkpoint(s: Stage, build) -> list[DataFrame]:
        # the stage is built at most once, on the first output whose
        # checkpoint is missing; its other missing outputs are written
        # from that same build
        once = functools.cache(build)
        outs = []
        for i, name in enumerate(s.checkpoints):
            df, resumed[name] = run_stage(store, name, fp,
                                          lambda i=i: once()[i],
                                          force=force)
            outs.append(df)
        return outs

    # stages read their inputs back from the checkpoints, so only the
    # branch points that J1 and J2 share between their two outputs are
    # cached, and released on return; the tiles stage collects the tile
    # dictionary itself, since a resumed run may never build that stage
    r = _Run(spark, style or GeometryStyle(), minzoom, tile_group_depth,
             persist=False, persist_shared=True)
    with cache.scope() as handles:
        try:
            t = decode_all(read_docs(spark, docs_path))
            res = _run_chain(r, {k: t[k] for k in DECODED}, checkpoint,
                             end_date)
        finally:
            cache.release(handles)
    return res, resumed


def filter_features(res: PipelineResult,
                    bbox: tuple[int, int, int, int] | None = None,
                    rings=None) -> PipelineResult:
    """Reference ``-f/--filter`` (`pack_geometry.rs:498-519`
    GeometryFilter): keep the features whose geometry bbox overlaps
    ``bbox`` (1e-7-degree ints) or, given ``rings`` (as
    ``sources.parse_poly_file`` returns them), overlaps the polygon
    (``Poly::check_box``) — :func:`sources.filter_shape` on each
    feature table.  The result has no ``spatial_index``: a stored
    index covers the unfiltered features."""
    def keep(df: DataFrame, shape: str) -> DataFrame:
        return filter_shape(df, shape, bbox, rings)

    return PipelineResult(
        points=keep(res.points, "point"),
        linestrings=keep(res.linestrings, "lonlats"),
        simple_polygons=keep(res.simple_polygons, "lonlats"),
        complicated_polygons=keep(res.complicated_polygons, "parts"),
        errors=res.errors, decoded=res.decoded,
        way_features=(keep(res.way_features, "lonlats")
                      if res.way_features is not None else None))


def prepare_bucketed(spark: SparkSession, docs_path: str,
                     n_buckets: int = 32, prefix: str = "oqg",
                     base_path: str | None = None,
                     manifest_path: str | None = None) -> dict[str, str]:
    """Ingest prepass (round-2 verdict Next #7): decode the interleaved
    docs ONCE and write bucketed+sorted tables so every later run's
    enrichment joins start co-located — the Spark-native analogue of
    the reference's external `calcqts`/`sortblocks` prepass, which
    turns raw PBF into sorted tiled blocks before the geometry stage
    ever runs.

      * ``<prefix>_nodes``    bucketed by id  (location/tag lookups)
      * ``<prefix>_ways``     bucketed by id  (assembled refs + tags)
      * ``<prefix>_wayrefs``  bucketed by ref (pre-exploded: the J1
        refs⋈nodes join reads BOTH sides bucket-aligned -> zero
        Exchange before the per-way collect, see
        test_bucketed_waynode_join_plan)
      * ``<prefix>_relations`` bucketed by id

    Returns {logical name: table name}.  When ``manifest_path`` is
    given, a JSON manifest (table, schema DDL, bucket column/count,
    data path) is written so OTHER Spark sessions — which don't share
    the in-memory catalog — can re-register the bucketed tables with
    :func:`register_bucketed` (the single-box stand-in for a shared
    Hive metastore)."""
    from .sinks import write_bucketed
    t = decode_all(read_docs(spark, docs_path))
    out = {}
    manifest = []

    def w(df: DataFrame, name: str, col: str) -> None:
        table = f"{prefix}_{name}"
        path = f"{base_path}/{table}" if base_path else None
        write_bucketed(df, table, col, n_buckets, path)
        out[name] = table
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in df.schema.fields)
        loc = path or spark.sql(
            f"DESCRIBE TABLE EXTENDED {table}").where(
            "col_name = 'Location'").first().data_type
        manifest.append({"table": table, "schema": ddl, "bucket_col": col,
                         "n_buckets": n_buckets, "path": loc})

    w(t["nodes"], "nodes", "id")
    w(t["ways"], "ways", "id")
    w(t["ways"].select(F.col("id").alias("way_id"),
                       F.posexplode("refs").alias("pos", "ref")),
      "wayrefs", "ref")
    w(t["relations"], "relations", "id")
    w(t["media"], "media", "doc_id")
    if manifest_path:
        import json as _json
        import os as _os
        _os.makedirs(_os.path.dirname(manifest_path), exist_ok=True)
        with open(manifest_path, "w") as f:
            _json.dump(manifest, f, indent=1)
    return out


def register_bucketed(spark: SparkSession, manifest_path: str) -> None:
    """Register the prepare_bucketed tables in THIS session's catalog
    as external bucketed tables (bucket metadata must be declared —
    plain spark.read.parquet would discard the co-location)."""
    import json as _json
    for t in _json.load(open(manifest_path)):
        spark.sql(f"DROP TABLE IF EXISTS {t['table']}")
        spark.sql(
            f"CREATE TABLE {t['table']} ({t['schema']}) USING parquet "
            f"CLUSTERED BY ({t['bucket_col']}) SORTED BY ({t['bucket_col']}) "
            f"INTO {t['n_buckets']} BUCKETS LOCATION '{t['path']}'")


def collect_way_nodes_bucketed(spark: SparkSession,
                               prefix: str = "oqg"):
    """J1 over the bucketed prepass tables: the refs⋈locations join is
    Exchange-free (both sides bucket-aligned on the node id); the only
    remaining shuffle is the inherent per-way collect."""
    return collect_way_nodes(spark.table(f"{prefix}_ways"),
                             spark.table(f"{prefix}_nodes"),
                             refs=_bucketed_refs(spark, prefix))


def feature_counts(res: PipelineResult) -> DataFrame:
    """CollectWorkingTiles-style counters (`process_geometry.rs:157-216`).

    The line/polygon counts come from ONE traversal of the fused
    way_features table (conditional sums, rows via stack) — two
    separate filtered legs would each re-run the whole upstream
    subtree in the same action."""
    def c(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy().agg(F.count("*").alias("n")).select(
            F.lit(name).alias("geom_type"), "n")
    if res.way_features is not None:
        wf = (res.way_features.groupBy().agg(
            F.sum(F.when(F.col("geom_type") == "linestring", 1)
                  .otherwise(0)).alias("nl"),
            F.sum(F.when(F.col("geom_type") == "simple_polygon", 1)
                  .otherwise(0)).alias("np"))
            .selectExpr("stack(2, 'linestrings', coalesce(nl, 0L), "
                        "'simple_polygons', coalesce(np, 0L)) "
                        "as (geom_type, n)"))
    else:
        wf = (c(res.linestrings, "linestrings")
              .unionByName(c(res.simple_polygons, "simple_polygons")))
    return (c(res.points, "points")
            .unionByName(wf)
            .unionByName(c(res.complicated_polygons, "complicated_polygons")))
