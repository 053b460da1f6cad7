"""Sinks: GeoJSON, sorted tiled write, table routing, DDL statement bank."""

import json
import os

import pytest
from pyspark.sql import functions as F

from osmquadtree_geometry_spark import sinks


@pytest.fixture(scope="module")
def res(spark, docs_path):
    from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    r = run_pipeline(spark, docs_path, minzoom=MinZoomSpec.default())
    r.points.cache().count()
    r.simple_polygons.cache().count()
    return r


def test_geojson_points(res):
    rows = sinks.geojson_features(res.points, "point").collect()
    f = json.loads(rows[0].feature)
    assert f["type"] == "Feature"
    assert f["geometry"]["type"] == "Point"
    lon, lat = f["geometry"]["coordinates"]
    assert -180 <= lon <= 180 and -90 <= lat <= 90


def test_geojson_flat_file(res, tmp_path):
    out = tmp_path / "points.geojson"
    sinks.write_geojson_flat(res.points.limit(20), "point", str(out))
    fc = json.loads(out.read_text())
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 20


def test_geojson_reversed_polygon(res):
    rows = {r.id: json.loads(r.feature) for r in
            sinks.geojson_features(res.simple_polygons, "simple_polygon")
            .collect()}
    # doc 1 way 1013 is reversed=true; its emitted ring must equal the
    # stored lonlats reversed
    row = res.simple_polygons.where(F.col("id") == 1013).first()
    coords = rows[1013]["geometry"]["coordinates"][0]
    exp = [[round(p.lon * 1e-7, 7), round(p.lat * 1e-7, 7)]
           for p in reversed(row.lonlats)]
    assert coords == exp


def test_sorted_write(res, tmp_path, spark):
    out = str(tmp_path / "tiles")
    sinks.write_sorted_tiles(res.points, out)
    back = spark.read.parquet(out)
    assert back.count() == res.points.count()
    # within each file partition, (tile, id) is sorted
    import glob
    import pyarrow.parquet as pq
    for f in glob.glob(os.path.join(out, "*.parquet")):
        t = pq.read_table(f, columns=["tile", "id"]).to_pandas()
        keys = list(zip(t["tile"], t["id"]))
        assert keys == sorted(keys)


def test_route_tables_extended_alloc_matrix(res):
    """Pin the reference alloc matrix (`postgresqloptions.rs:103-129`
    extended_alloc): every feature lands in exactly the reference's
    table set."""
    routed = sinks.route_tables(res.points, res.linestrings,
                                res.simple_polygons,
                                res.complicated_polygons, extended=True)
    assert set(routed) == {"planet_osm_point", "planet_osm_line",
                           "planet_osm_polygon", "planet_osm_highway",
                           "planet_osm_building", "planet_osm_boundary"}
    got = {}
    for t, df in routed.items():
        if "z_order" in df.columns:
            got[t] = {(r.id, r.z_order, tuple(sorted(r.tags.items())))
                      for r in df.select("id", "z_order", "tags").collect()}
        else:  # points carry no z_order
            got[t] = {(r.id, None, tuple(sorted(r.tags.items())))
                      for r in df.select("id", "tags").collect()}

    # linestrings: Some(z_order) -> highway ONLY, else line ONLY
    for r in res.linestrings.select("id", "z_order", "tags").collect():
        key = (r.id, r.z_order, tuple(sorted(r.tags.items())))
        if r.z_order is not None:
            assert key in got["planet_osm_highway"]
            assert key not in got["planet_osm_line"]
        else:
            assert key in got["planet_osm_line"]
            assert key not in got["planet_osm_highway"]
    # simple polygons: building != 'no' -> building ONLY, else polygon
    for r in res.simple_polygons.select("id", "z_order", "tags").collect():
        key = (r.id, r.z_order, tuple(sorted(r.tags.items())))
        if r.tags.get("building", "no") != "no":
            assert key in got["planet_osm_building"]
            assert key not in got["planet_osm_polygon"]
        else:
            assert key in got["planet_osm_polygon"]
    # complicated polygons: id flipped; boundary -> polygon AND boundary
    for r in res.complicated_polygons.select("id", "z_order", "tags").collect():
        key = (-r.id, r.z_order, tuple(sorted(r.tags.items())))
        if r.tags.get("building", "no") != "no":
            assert key in got["planet_osm_building"]
        elif r.tags.get("type") == "boundary":
            assert key in got["planet_osm_polygon"]
            assert key in got["planet_osm_boundary"]
        else:
            assert key in got["planet_osm_polygon"]
            assert key not in got["planet_osm_boundary"]
    # the fixture exercises the highway split (boundary relations are
    # covered by the synthetic matrix test below)
    assert got["planet_osm_highway"]


def test_route_tables_synthetic_matrix(spark):
    """Every row of the reference alloc matrix on hand-built rows,
    including the cases the scene fixtures don't produce (building:
    'no', type=boundary double-write)."""
    schema = ("doc_id string, id long, tags map<string,string>, "
              "z_order long, layer long, minzoom long, quadtree long, "
              "area double")
    def mk(rows):
        return spark.createDataFrame(
            [("d", i, t, z, None, None, 18, 1.0) for i, t, z in rows], schema)
    pts = mk([(1, {"amenity": "pub"}, None)])
    lines = mk([(2, {"highway": "primary"}, 330),
                (3, {"waterway": "stream"}, None)])
    sps = mk([(4, {"building": "yes"}, None),
              (5, {"building": "no", "landuse": "grass"}, None),
              (6, {"landuse": "grass"}, None)])
    cps = mk([(7, {"building": "house", "type": "multipolygon"}, None),
              (8, {"type": "boundary", "boundary": "administrative"}, None),
              (9, {"type": "multipolygon", "natural": "water"}, None)])
    routed = sinks.route_tables(pts, lines, sps, cps, extended=True)
    ids = {t: {r.id for r in df.select("id").collect()}
           for t, df in routed.items()}
    assert ids["planet_osm_point"] == {1}
    assert ids["planet_osm_highway"] == {2}      # Some(z_order) -> highway only
    assert ids["planet_osm_line"] == {3}
    assert ids["planet_osm_building"] == {4, -7}  # building != 'no'
    # building:'no' stays a plain polygon; boundary double-writes
    assert ids["planet_osm_polygon"] == {5, 6, -8, -9}
    assert ids["planet_osm_boundary"] == {-8}


def test_pack_tag_columns(res):
    """G15: style-driven dedicated text columns + hstore-style
    catch-all map (`prepcopy.rs:238-290`, `tablespec.rs:625-702`)."""
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    style = GeometryStyle()
    cols = sinks.table_tag_columns(style)
    assert "name" in cols["point"] and "name" in cols["line"]
    # parent-tag keys appended to point, relation targets to line only
    for pk in style.parent_tags:
        assert pk in cols["point"] and pk not in cols["polygon"]
    for rs in style.relation_tag_spec:
        assert rs.target_key in cols["line"]
        assert rs.target_key not in cols["polygon"]
    packed = sinks.pack_tag_columns(res.points, cols["point"])
    rows = {r.osm_id: r for r in packed.collect()}
    orig = {r.id: r.tags for r in res.points.select("id", "tags").collect()}
    colset = set(cols["point"])
    for oid, r in rows.items():
        tags = orig[oid]
        for k, v in tags.items():
            if k in colset:
                assert getattr(r, k) == v      # dedicated column
                assert k not in r.tags         # not duplicated in hstore
            else:
                assert r.tags[k] == v          # catch-all map
    assert "osm_id" in packed.columns and "quadtree" in packed.columns


def test_geojson_multipolygon(res):
    rows = {r.id: json.loads(r.feature) for r in
            sinks.geojson_features(res.complicated_polygons,
                                   "complicated_polygon").collect()}
    assert rows
    found_hole = False
    for rid, f in rows.items():
        assert f["geometry"]["type"] == "MultiPolygon"
        parts = f["geometry"]["coordinates"]
        row = res.complicated_polygons.where(F.col("id") == rid).first()
        assert len(parts) == len(row.parts)
        for part, src in zip(parts, row.parts):
            assert len(part) == 1 + len(src.interiors)  # exterior + holes
            for ring in part:
                assert ring[0] == ring[-1]  # closed
            found_hole = found_hole or len(part) > 1
    assert found_hole  # donut scenes exercise interior rings


def test_geojson_tile_blocks(res, tmp_path):
    blocks = {r.tile: r for r in
              sinks.geojson_tile_blocks(res.points, "point").collect()}
    assert len(blocks) > 1
    total = sum(r.n_features for r in blocks.values())
    assert total == res.points.count()
    for r in list(blocks.values())[:5]:
        fc = json.loads(r.collection)
        assert fc["type"] == "FeatureCollection"
        assert len(fc["features"]) == r.n_features
        ids = [f["id"] for f in fc["features"]]
        assert ids == sorted(ids)
    # distributed per-tile writer: one directory per tile
    out = str(tmp_path / "gj_tiles")
    sinks.write_geojson_tiles(res.points, "point", out)
    dirs = [d for d in os.listdir(out) if d.startswith("tile=")]
    assert len(dirs) == len(blocks)


def test_pgcopy_roundtrip(spark, res, tmp_path):
    """Binary COPY encoding (S9/S10, `prepcopy.rs:40-77,695-745`):
    encode the packed point table to .copy files, parse the payload
    back with the independent decoder, compare values."""
    import glob
    from osmquadtree_geometry_spark import pgcopy
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    packed = sinks.pack_tag_columns(
        res.points, sinks.table_tag_columns(GeometryStyle())["point"])
    cols = pgcopy.copy_columns_for(packed)
    out = str(tmp_path / "copy")
    pgcopy.write_pgcopy(packed, out)
    rows = []
    for f in sorted(glob.glob(os.path.join(out, "part-*.copy"))):
        rows += pgcopy.parse_copy_payload(open(f, "rb").read(), cols)
    exp = {r.osm_id: r.asDict() for r in packed.collect()}
    assert len(rows) == len(exp)
    names = [c for c, _ in cols]
    for vals in rows:
        d = dict(zip(names, vals))
        e = exp[d["osm_id"]]
        assert d["tags"] == dict(e["tags"])      # hstore catch-all
        assert d["quadtree"] == e["quadtree"]
        for k in names:
            if k in ("tags",):
                continue
            assert d[k] == e[k], (k, d[k], e[k])
    assert "FORMAT binary" in pgcopy.copy_sql("planet_osm_point", cols)


def test_pgcopy_all_types(spark):
    """Every typed encoder (int8/float8/bool/text/bytea/hstore) incl.
    NULLs round-trips through the wire format."""
    from osmquadtree_geometry_spark import pgcopy
    df = spark.createDataFrame(
        [(1, 2.5, True, "héllo", bytearray(b"\x01\x02\xff"),
          {"a": "1", "b": "x"}),
         (2, None, None, None, None, None)],
        "i long, f double, b boolean, s string, w binary, "
        "t map<string,string>")
    cols = pgcopy.copy_columns_for(df)
    enc = pgcopy.encode_copy_rows(df, cols).collect()
    payload = pgcopy.HEADER + b"".join(r.copy_row for r in enc) + pgcopy.TRAILER
    rows = sorted(pgcopy.parse_copy_payload(payload, cols))
    assert rows[0] == [1, 2.5, True, "héllo", b"\x01\x02\xff",
                       {"a": "1", "b": "x"}]
    assert rows[1] == [2, None, None, None, None, None]


def test_ddl():
    cols = {"planet_osm_point": [("osm_id", "int8"), ("name", "text"),
                                 ("tags", "hstore"), ("quadtree", "int8")],
            "planet_osm_line": [("osm_id", "int8"), ("tags", "hstore")]}
    before, after = sinks.pg_statements(cols, lowzoom=[6, 10])
    assert before[1] == ('CREATE TABLE "public"."planet_osm_point" '
                         '("osm_id" bigint, "name" text, "tags" hstore, '
                         '"quadtree" bigint)')
    sql = "\n".join(after)
    assert "(quadtree)" in sql and "USING gin (tags)" in sql
    assert "planet_osm_point_z6" in sql and "minzoom <= 10" in sql
    assert after[-1] == (
        'CREATE VIEW "public"."planet_osm_all" AS '
        'SELECT osm_id, tags, quadtree, minzoom FROM "public"."planet_osm_line"'
        ' UNION ALL SELECT osm_id, tags, quadtree, minzoom '
        'FROM "public"."planet_osm_point"')


def test_generated_identifiers_are_quoted():
    """Every generated PostgreSQL name is double-quoted with embedded
    quotes doubled: a tag key holding '"' cannot end its column name
    early, and a mixed-case schema is not folded to lower case."""
    from osmquadtree_geometry_spark import pgcopy
    key = 'say "hi"'
    before, after = sinks.pg_statements(
        {"Pts": [("name", "text"), (key, "text")]}, lowzoom=[6],
        schema="OsmData", exactly_once=True)
    assert before[0].startswith(
        'CREATE TABLE IF NOT EXISTS "OsmData"."_pg_deliveries" (')
    assert before[1] == ('DELETE FROM "OsmData"."_pg_deliveries" '
                         "WHERE target = 'Pts'")
    assert before[2] == 'DROP TABLE IF EXISTS "OsmData"."Pts" CASCADE'
    assert '"say ""hi""" text' in before[3]
    assert after[0].startswith('CREATE INDEX "Pts_qt_idx" ON "OsmData"."Pts"')
    assert after[2].startswith('CREATE VIEW "OsmData"."Pts_z6" AS')
    assert after[3] == ('CREATE VIEW "OsmData"."planet_osm_all" AS '
                        'SELECT osm_id, tags, quadtree, minzoom '
                        'FROM "OsmData"."Pts"')
    assert pgcopy.copy_sql("Pts", [("osm_id", "int8"), (key, "text")],
                           "OsmData") == (
        'COPY "OsmData"."Pts" ("osm_id", "say ""hi""") '
        "FROM STDIN WITH (FORMAT binary)")


def _created_columns(statements) -> dict[str, list[tuple[str, str]]]:
    """{table: [(column, pgcopy kind)]} declared by each CREATE TABLE
    among ``statements`` (a trailing ``;`` allowed)."""
    import re
    kind = {"bigint": "int8", "text": "text", "hstore": "hstore",
            "double precision": "float8", "boolean": "bool",
            "bytea": "bytea"}
    created = {}
    for s in statements:
        m = re.fullmatch(r'CREATE TABLE "public"\."(\w+)" \((.*)\);?', s)
        if m:
            created[m[1]] = [
                (c.replace('""', '"'), kind[t]) for c, t in
                re.findall(r'"((?:[^"]|"")*)" ([a-z ]+?)(?:, |$)', m[2])]
    return created


@pytest.mark.parametrize("extended", [True, False])
def test_ddl_declares_the_copy_columns(res, extended):
    """Each CREATE TABLE of the statement bank declares exactly the
    columns its COPY payload carries, by name, order and type."""
    from osmquadtree_geometry_spark import pgcopy
    tables = sinks.pg_tables(res, extended=extended)
    cols = {name: pgcopy.copy_columns_for(df) for name, df in tables.items()}
    before, _ = sinks.pg_statements(cols)
    assert _created_columns(before) == cols


@pytest.mark.parametrize("extended", [True, False])
def test_pg_tables_share_trailing_columns(res, extended):
    """Every PostgreSQL table ends in the same typed columns, quadtree
    last; none carries the layout's ``tile``."""
    from osmquadtree_geometry_spark import pgcopy
    for name, df in sinks.pg_tables(res, extended=extended).items():
        cols = pgcopy.copy_columns_for(df)
        assert cols[-4:] == [("layer", "int8"), ("z_order", "int8"),
                             ("minzoom", "int8"), ("quadtree", "int8")], name
        assert "tile" not in dict(cols), name


def test_repair_polygons_for_sink(res, spark):
    """prepcopy.rs:511-543 parity: invalid polygons are node-split
    into valid MultiPolygon WKB before the sink; valid ones pass
    through as one part."""
    import struct as st
    from osmquadtree_geometry_spark.operators.validity import (
        repair_polygons_for_sink, with_validity)
    v = with_validity(res.simple_polygons).select("id", "is_valid")
    out = repair_polygons_for_sink(res.simple_polygons)
    j = {r.id: r for r in out.join(v, "id").collect()}
    assert j  # fixture has polygons
    n_rep = 0
    for r in j.values():
        assert r.was_repaired == (not r.is_valid)
        n_rep += int(r.was_repaired)
        assert r.n_parts >= 1
        # WKB sanity: little-endian; 1-part collapses to Polygon(3),
        # multi-part stays MultiPolygon(6) — both SRID-flagged
        assert r.wkb[:1] == b"\x01"
        gtype = st.unpack("<I", r.wkb[1:5])[0]
        assert gtype == ((6 if r.n_parts > 1 else 3) + (32 << 24))
    # the invalid-polygon scenes guarantee repairs actually happen
    assert n_rep > 0
    # bowties split into two parts
    assert any(r.was_repaired and r.n_parts == 2 for r in j.values())


def test_read_geometry_filters(res, spark, tmp_path):
    """read_geometry_blocks parity (pack_geometry.rs:593-632): bbox /
    poly / max_minzoom filters over the written tiles, checked
    against a driver-side brute-force over the same rows.  The poly
    test is Poly::check_box on each point's degenerate box, as in
    filter_features: a point on the ring is kept."""
    import numpy as np
    from osmquadtree_geometry_spark.kernels import geomcalc
    from osmquadtree_geometry_spark.kernels import quadtree as qtk
    from osmquadtree_geometry_spark.pipeline import filter_features
    from osmquadtree_geometry_spark.sources import read_geometry
    out = str(tmp_path / "geom_tiles")
    sinks.write_sorted_tiles(res.points.select(
        "id", "lon", "lat", "minzoom", "quadtree", "tile"), out)
    allr = res.points.select("id", "lon", "lat", "minzoom", "tile").collect()
    # bbox around the first feature point, padded
    r0 = allr[0]
    bbox = (r0.lon - 10**6, r0.lat - 10**6, r0.lon + 10**6, r0.lat + 10**6)
    got = {r.id for r in read_geometry(spark, out, bbox=bbox).collect()}
    exp = {r.id for r in allr
           if bbox[0] <= r.lon <= bbox[2] and bbox[1] <= r.lat <= bbox[3]}
    assert got == exp and got
    # polygon filter: triangle inside the bbox
    plon = np.asarray([bbox[0], bbox[2], r0.lon, bbox[0]], np.int64)
    plat = np.asarray([bbox[1], bbox[1], bbox[3], bbox[1]], np.int64)
    gotp = {r.id for r in read_geometry(spark, out,
                                        rings=[(plon, plat)]).collect()}
    lon = np.asarray([r.lon for r in allr], np.int64)
    lat = np.asarray([r.lat for r in allr], np.int64)
    keep = geomcalc.poly_overlaps_boxes(plon, plat, lon, lat, lon, lat)
    expp = {r.id for r, k in zip(allr, keep) if k}
    assert gotp == expp
    assert gotp <= got
    # a triangle whose apex is a stored point keeps that point, in
    # read_geometry as in filter_features (strict pnpoly drops it)
    tlon = np.asarray([bbox[0], bbox[2], r0.lon, bbox[0]], np.int64)
    tlat = np.asarray([bbox[1], bbox[1], r0.lat, bbox[1]], np.int64)
    assert not geomcalc.points_in_ring(tlon, tlat, lon[:1], lat[:1])[0]
    tri = [(tlon, tlat)]
    gott = {r.id for r in read_geometry(spark, out, rings=tri).collect()}
    kept = {r.id for r in filter_features(res, rings=tri).points.collect()}
    assert r0.id in gott and gott == kept
    # depth pruning: every surviving tile is at depth <= 6 and the
    # feature minzoom respects the cap
    shallow = read_geometry(spark, out, max_minzoom=6).collect()
    for r in shallow:
        if r.tile >= 0:
            assert int(qtk.depth(np.asarray([r.tile]))[0]) <= 6
        assert r.minzoom is None or r.minzoom <= 6


def test_geojson_flat_no_collect_byte_identical(res, tmp_path):
    """Round-3 verdict Next #7: the streamed part-file writer must be
    byte-identical to the old in-memory construction."""
    out = tmp_path / "lines.geojson"
    sinks.write_geojson_flat(res.linestrings, "linestring", str(out))
    feats = [r.feature for r in
             sinks.geojson_features(res.linestrings, "linestring")
             .orderBy("id").collect()]
    exp = ('{"type": "FeatureCollection", "features": [\n'
           + ",\n".join(feats) + "\n]}\n")
    assert out.read_text() == exp


def _clear_job_group(sc):
    for k in ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel"):
        sc.setLocalProperty(k, None)


def test_write_feature_tables_jobs_keep_job_group(res, spark, tmp_path):
    """The layout writes run on worker threads; every job they start
    must still belong to the caller's job group (plain threads would
    run them ungrouped)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("wft", "write_feature_tables")
    try:
        paths = sinks.write_feature_tables(res, str(tmp_path / "layout"),
                                           media=res.decoded.get("media"))
    finally:
        _clear_job_group(sc)
    assert tracker.getJobIdsForGroup("wft")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert {"points", "way_features", "complicated_polygons", "errors",
            "media", "poly_cover", "points_cells"} <= set(paths)
    assert os.path.exists(tmp_path / "layout" / "spatial_index_meta.json")


def test_layout_tables_reopen_with_the_inferred_schema(res, spark,
                                                       tmp_path):
    """Every layout table reopens through ``tableio.read_table`` with
    the schema from its footers, equal to the one Spark infers."""
    from osmquadtree_geometry_spark import tableio
    paths = sinks.write_feature_tables(res, str(tmp_path / "layout"),
                                       media=res.decoded.get("media"))
    assert len(paths) >= 7
    for name, p in paths.items():
        assert tableio.read_table(spark, p).schema == \
            spark.read.parquet(p).schema, name


def test_write_feature_tables_failure_waits_for_every_write(res, spark,
                                                            tmp_path):
    """One table failing at execution raises its error, but only after
    every other write has finished: no job is left running and the
    other tables are complete."""
    import dataclasses
    assert res.errors.count() > 0  # the raise below must execute
    bad = res.errors.withColumn("message", F.raise_error(
        F.concat(F.lit("errors-leg-failed "), F.col("message"))))
    out = tmp_path / "layout"
    with pytest.raises(Exception, match="errors-leg-failed"):
        sinks.write_feature_tables(dataclasses.replace(res, errors=bad),
                                   str(out))
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    for name in ("points", "way_features", "complicated_polygons",
                 "poly_cover", "points_cells"):
        assert (out / name / "_SUCCESS").exists(), name


def test_cli_pgcopy_writes_its_ddl(spark, docs_path, tmp_path):
    """``scripts/run_pipeline.py --output pgcopy`` writes, next to each
    ``<table>.copy.d``, the statements that create and index its
    table: ``before.sql`` declares every table, and each table's COPY
    files parse with the columns its CREATE TABLE declares.  The CLI
    runs without PYTHONPATH, so its Python stages work only because it
    ships the package to the executors itself.  A second run over the
    same checkpoints with ``--filter`` and ``--output parquet`` writes
    the filtered tables it counts under ``<out>/tables``."""
    import glob
    import subprocess
    import sys

    from osmquadtree_geometry_spark import pgcopy
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "pgc"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = "--master local[2] pyspark-shell"

    def cli(*args):
        proc = subprocess.run(
            [sys.executable, os.path.join(root, "scripts", "run_pipeline.py"),
             "--docs", docs_path, "--out", str(out), *args],
            cwd=tmp_path, env=env, capture_output=True, text=True,
            timeout=900)
        assert proc.returncode == 0, proc.stderr[-4000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])["counts"]

    counts = cli("--output", "pgcopy")

    created = _created_columns(
        (out / "before.sql").read_text().splitlines())
    dirs = {os.path.basename(d)[:-len(".copy.d")]
            for d in glob.glob(str(out / "*.copy.d"))}
    assert set(created) == dirs and len(dirs) == 6
    rows = {}
    for name, cols in created.items():
        data = b"".join(open(p, "rb").read() for p in sorted(
            glob.glob(str(out / f"{name}.copy.d" / "part-*.copy"))))
        rows[name] = pgcopy.parse_copy_payloads(data, cols)
    assert len(rows["planet_osm_point"]) == counts["points"] > 0
    after = (out / "after.sql").read_text()
    for name in created:
        assert f'ON "public"."{name}" (quadtree);' in after
    assert 'CREATE VIEW "public"."planet_osm_all"' in after

    from osmquadtree_geometry_spark.sources import read_feature_tables
    east = cli("--filter=0,-90,180,90", "--output", "parquet")
    assert 0 < east["points"] < counts["points"]
    tables = read_feature_tables(spark, str(out / "tables"))
    for name in ("points", "linestrings", "simple_polygons",
                 "complicated_polygons"):
        assert getattr(tables, name).count() == east[name], name
