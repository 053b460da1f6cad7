#!/usr/bin/env python
"""Command-line entry point for the geometry pipeline.

    python scripts/run_pipeline.py --docs <docs.parquet> --out <workdir> \
        [--force] [--max-minzoom N] [--output FORM]

(or the same arguments under ``spark-submit scripts/run_pipeline.py``).
Runs the full checkpointed pipeline (north rule: resumable
mid-tiling with per-partition lineage, checkpoints under --out),
applies --filter, writes the output form (``--output parquet``: the
``sinks.write_feature_tables`` layout under ``<out>/tables``, which
``sources.read_feature_tables`` opens) and prints a JSON summary.
The package ships itself to the executors (``session.ship_package``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_filter(s: str) -> tuple[int, int, int, int]:
    """'minlon,minlat,maxlon,maxlat' in degrees -> 1e-7 fixed-point
    (the reference's -f/--filter bbox string)."""
    a, b, c, d = (float(v) for v in s.split(","))
    return (int(a * 1e7), int(b * 1e7), int(c * 1e7), int(d * 1e7))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs",
                    help="interleaved docs parquet (omit with --dump-style "
                         "or --bucketed-prefix)")
    ap.add_argument("--out", help="output/checkpoint workdir")
    ap.add_argument("--max-minzoom", type=int, default=None)
    ap.add_argument("--force", action="store_true",
                    help="recompute all stages, ignore checkpoints")
    ap.add_argument("--tile-depth", type=int, default=8)
    # reference CLI surface (bin/osmquadtree-geometry.rs subcommands)
    ap.add_argument("--output", default="parquet",
                    choices=["parquet", "geojson", "tiled-geojson",
                             "pgcopy", "postgres", "null"],
                    help="output form: parquet tables (default), flat "
                         "GeoJSON FeatureCollections, per-tile GeoJSON "
                         "blocks, PostgreSQL binary COPY files, live "
                         "PostgreSQL delivery (--pg-dsn), or "
                         "counts only (process_geometry_{json,"
                         "tiled_json,postgresql*,null} parity)")
    ap.add_argument("--pg-dsn", default=None,
                    help="PostgreSQL connection string for "
                         "--output postgres (URL or libpq keywords; "
                         "reference -c connstr)")
    ap.add_argument("--pg-delivery", default="fast",
                    choices=["fast", "exactly_once"],
                    help="COPY delivery mode: 'fast' (reference parity, "
                         "at-least-once under task retries) or "
                         "'exactly_once' (staging + ledger-gated "
                         "transactional promote keyed on the input "
                         "fingerprint)")
    ap.add_argument("--filter", default=None,
                    help="bbox 'minlon,minlat,maxlon,maxlat' in degrees, "
                         "OR a path to an osmosis .poly file "
                         "(reference -f: bbox string / poly file)")
    ap.add_argument("--style", default=None,
                    help="style JSON file (reference -s; default: "
                         "embedded default style)")
    ap.add_argument("--timestamp", type=int, default=None,
                    help="snapshot end_date stamped on every feature "
                         "(reference -t)")
    ap.add_argument("--bucketed-prefix", default=None,
                    help="consume a prepare_bucketed ingest layout "
                         "instead of raw docs")
    ap.add_argument("--dump-style", default=None, metavar="PATH",
                    help="write the default style JSON and exit "
                         "(reference dump_geometry_style)")
    args = ap.parse_args()

    from osmquadtree_geometry_spark.config.style import GeometryStyle

    if args.dump_style:
        with open(args.dump_style, "w") as f:
            f.write(GeometryStyle().to_json())
        print(json.dumps({"dumped": args.dump_style}))
        return

    if not args.out or not (args.docs or args.bucketed_prefix):
        ap.error("--out and one of --docs/--bucketed-prefix are required")

    from osmquadtree_geometry_spark.session import get_spark, ship_package
    spark = get_spark("osmquadtree-geometry-spark")
    ship_package(spark)

    from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
    from osmquadtree_geometry_spark.pipeline import (
        feature_counts, filter_features, run_pipeline,
        run_pipeline_checkpointed)

    style = (GeometryStyle.from_json(open(args.style).read())
             if args.style else None)
    mz = MinZoomSpec.default(max_minzoom=args.max_minzoom)

    if args.bucketed_prefix:
        res = run_pipeline(spark, style=style, minzoom=mz,
                           tile_group_depth=args.tile_depth,
                           end_date=args.timestamp,
                           bucketed_prefix=args.bucketed_prefix)
        resumed = {}
    else:
        res, resumed = run_pipeline_checkpointed(
            spark, args.docs, args.out, style=style, minzoom=mz,
            tile_group_depth=args.tile_depth, force=args.force,
            end_date=args.timestamp)

    if args.filter:
        if args.filter.endswith(".poly") or os.path.exists(args.filter):
            from osmquadtree_geometry_spark.sources import parse_poly_file
            res = filter_features(res, rings=parse_poly_file(args.filter))
        else:
            res = filter_features(res, bbox=_parse_filter(args.filter))

    # output name -> (geometry shape, features)
    tables = {"point": ("point", res.points),
              "line": ("linestring", res.linestrings),
              "polygon": ("simple_polygon", res.simple_polygons),
              "complicated_polygon": ("complicated_polygon",
                                      res.complicated_polygons)}
    if args.output == "parquet":
        from osmquadtree_geometry_spark.sinks import write_feature_tables
        write_feature_tables(res, os.path.join(args.out, "tables"),
                             media=res.decoded.get("media"))
    elif args.output == "geojson":
        from osmquadtree_geometry_spark.sinks import write_geojson_flat
        for name, (shape, df) in tables.items():
            write_geojson_flat(df, shape,
                               os.path.join(args.out, f"{name}.geojson"))
    elif args.output == "tiled-geojson":
        from osmquadtree_geometry_spark.sinks import write_geojson_tiles
        for name, (shape, df) in tables.items():
            write_geojson_tiles(df, shape,
                                os.path.join(args.out, f"tiles_{name}"))
    elif args.output == "pgcopy":
        from osmquadtree_geometry_spark.pgcopy import (
            copy_columns_for, write_pgcopy)
        from osmquadtree_geometry_spark.sinks import pg_statements, pg_tables
        packed = pg_tables(res, style)
        for name, df in packed.items():
            write_pgcopy(df, os.path.join(args.out, f"{name}.copy.d"))
        # the DDL that loads them: before.sql ahead of the COPYs,
        # after.sql (indexes, views) once they are in
        statements = pg_statements({name: copy_columns_for(df)
                                    for name, df in packed.items()})
        for fname, stmts in zip(("before.sql", "after.sql"), statements):
            with open(os.path.join(args.out, fname), "w") as f:
                f.writelines(f"{st};\n" for st in stmts)
    elif args.output == "postgres":
        from osmquadtree_geometry_spark.sinks import write_postgresql
        if not args.pg_dsn:
            raise SystemExit("--output postgres requires --pg-dsn")
        from osmquadtree_geometry_spark.lineage import fingerprint_input
        fp = fingerprint_input(args.docs) if args.docs else "run"
        delivered = write_postgresql(
            res, args.pg_dsn, style=style,
            delivery_mode=args.pg_delivery, fingerprint=fp)
        print(json.dumps({"pg_tables": delivered["tables"],
                          "pg_rows": delivered["rows"],
                          "pg_after_errors": len(delivered["after_errors"])}))
    # null: counts only

    counts = {r.geom_type: r.n for r in feature_counts(res).collect()}
    counts["errors"] = res.errors.count()
    print(json.dumps({
        "counts": counts,
        "output": args.output,
        "stages_resumed": sum(resumed.values()),
        "stages_computed": sum(1 for v in resumed.values() if not v),
        "out": args.out,
    }))


if __name__ == "__main__":
    main()
