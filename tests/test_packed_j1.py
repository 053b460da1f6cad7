"""The packed J1 collect buffer: bit-packing lon/lat into one bigint
inside the per-way shuffle must be invisible in the output, including
negative / extreme coordinates and the missing-node error branch."""

from pyspark.sql import functions as F

from osmquadtree_geometry_spark.operators.waynodes import collect_way_nodes

WAYS = "doc_id string, id long, refs array<bigint>, tags map<string,string>"
NODES = "id long, lon int, lat int"


def _scene(spark):
    ways = spark.createDataFrame(
        [("d0", 10, [1, 2, 3, 4], {"highway": "residential"}),
         ("d0", 11, [4, 3, 1], {}),
         ("d0", 12, [1, 99, 2], {})],        # ref 99 missing
        WAYS)
    nodes = spark.createDataFrame(
        [(1, -1795000000, -890000000),       # extreme SW
         (2, 1795000000, 890000000),         # extreme NE
         (3, -1, 1),                         # sign boundary
         (4, 0, -2147483648)],               # int32 min lat
        NODES)
    return ways, nodes


def _rows(ok, err):
    okr = sorted(
        ((r.id, tuple((p.lon, p.lat) for p in r.lonlats))
         for r in ok.collect()))
    errr = sorted((r.elem_id, r.message) for r in err.collect())
    return okr, errr


def test_packed_collect_parity(spark):
    ways, nodes = _scene(spark)
    ok, err = _rows(*collect_way_nodes(ways, nodes))
    sw, ne, sign, low = ((-1795000000, -890000000), (1795000000, 890000000),
                         (-1, 1), (0, -2147483648))
    assert ok == [(10, (sw, ne, sign, low)), (11, (low, sign, sw))]
    assert err == [(12, "missing node 99")]


def test_half_null_location_routes_to_errors(spark, tmp_path):
    """A corrupt node row with exactly one of lon/lat NULL must hit the
    error branch (the packed bigint nulls out when either half is
    null), both over the decoded ways and over the prepare_bucketed
    tables (pre-exploded refs)."""
    from osmquadtree_geometry_spark.pipeline import (
        collect_way_nodes_bucketed)
    from osmquadtree_geometry_spark.sinks import write_bucketed
    ways = spark.createDataFrame([("d0", 20, [1, 2], {})], WAYS)
    nodes = spark.createDataFrame([(1, 5, 6), (2, 7, None)], NODES)
    refs = ways.select(F.col("id").alias("way_id"),
                       F.posexplode("refs").alias("pos", "ref"))
    tables = {"ways": (ways, "id"), "nodes": (nodes, "id"),
              "wayrefs": (refs, "ref")}
    try:
        for name, (df, col) in tables.items():
            write_bucketed(df, f"thn_{name}", col, 2, str(tmp_path / name))
        for ok, err in (collect_way_nodes(ways, nodes),
                        collect_way_nodes_bucketed(spark, "thn")):
            assert ok.count() == 0
            assert [(r.elem_id, r.message) for r in err.collect()] == \
                [(20, "missing node 2")]
    finally:
        for name in tables:
            spark.sql(f"DROP TABLE IF EXISTS thn_{name}")
