"""Stage-0 decode + span round-trip invariant (input_hint contract)."""

import numpy as np
from pyspark.sql import functions as F

from osmquadtree_geometry_spark import decode
from osmquadtree_geometry_spark.kernels import quadtree as qt


def test_docs_shape(spark, docs_path):
    docs = decode.read_docs(spark, docs_path)
    assert docs.count() == 33
    assert [f.name for f in docs.schema.fields] == ["doc_id", "spans"]
    span_fields = [f.name for f in docs.schema["spans"].dataType.elementType.fields]
    assert span_fields == ["kind", "text", "media_ref", "offset"]


def test_decode_nodes(decoded):
    nodes = decoded["nodes"]
    row = nodes.where(F.col("id") == 1).first()  # doc 0 = scene_points node 1
    assert row.tags == {"amenity": "cafe", "name": "A"}
    assert row.lon is not None and row.lat is not None
    # element Info metadata (v2 grammar): deterministic from the id
    assert row.version == 1 + 1 % 7
    assert row.timestamp == 1_400_000_000 + (1 * 8647) % 500_000_000
    # quadtree column matches the numpy kernel
    sample = nodes.limit(50).collect()
    got = np.asarray([r.quadtree for r in sample])
    exp = qt.calculate_point(np.asarray([r.lon for r in sample]),
                             np.asarray([r.lat for r in sample]))
    assert (got == exp).all()


def test_decode_drops_malformed_node(spark, tmp_path):
    """A node span whose lon or lat does not parse yields no node."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from osmquadtree_geometry_spark.datagen import DOCS_SCHEMA
    spans = [{"kind": "node", "text": t, "media_ref": "", "offset": i}
             for i, t in enumerate([
                 "id=1;lon=100000000;lat=500000000;ver=1;ts=0",
                 "id=2;lon=abc;lat=500000000;ver=1;ts=0",
                 "id=3;lon=100000000;lat=;ver=1;ts=0"])]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist([{"doc_id": "d", "spans": spans}],
                                        DOCS_SCHEMA), src)
    nodes = decode.decode_nodes(decode.explode_spans(spark.read.parquet(src)))
    assert [r.id for r in nodes.collect()] == [1]


def test_decode_ways_refs_ordered(decoded):
    ways = decoded["ways"]
    row = ways.where(F.col("id") == 10).first()  # doc 0? scene_points has no way 10
    # scene_line_vs_poly is doc 1 -> way id 1010
    row = ways.where(F.col("id") == 1010).first()
    assert row.refs == [1001, 1002, 1003]
    assert row.tags["highway"] == "residential"


def test_decode_relations(decoded):
    rels = decoded["relations"]
    row = rels.where(F.col("id") == 2060).first()  # doc 2 scene_donut rel 60
    assert row.tags == {"landuse": "forest", "type": "multipolygon"}
    roles = [m.role for m in row.members]
    assert roles == ["outer"] * 3 + ["inner"] * 2
    assert all(m.mem_type == "way" for m in row.members)


def test_decode_media(decoded):
    media = decoded["media"]
    assert media.count() > 0
    r = media.first()
    assert r.tile == f"{r.z}/{r.x}/{r.y}"


def test_pipeline_end_date(spark, docs_path):
    """Historical-extract marker (`geometry_block.rs:39,190-193`):
    end_date stamps every geometry output when requested."""
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    res = run_pipeline(spark, docs_path, end_date=1_700_000_000)
    for df in (res.points, res.linestrings, res.simple_polygons,
               res.complicated_polygons):
        assert "end_date" in df.columns
        vals = {r.end_date for r in df.select("end_date").limit(5).collect()}
        assert vals <= {1_700_000_000}
    res2 = run_pipeline(spark, docs_path)
    assert "end_date" not in res2.points.columns


def test_span_roundtrip_invariant(spark, docs_path, decoded):
    docs = decode.read_docs(spark, docs_path)
    re_enc = decode.reencode_spans(decoded["nodes"], decoded["ways"],
                                   decoded["relations"], decoded["media"])
    bad = decode.span_invariant_violations(docs, re_enc)
    rows = bad.collect()
    assert rows == [], f"span invariant violated for {[r.doc_id for r in rows][:5]}"
