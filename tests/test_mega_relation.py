"""Coastline-scale mega-relation bound test (round-3 verdict Next #6).

The skew case the salted phase-2 aggregate exists for: ONE relation
with thousands of member ways (reference: continent coastlines /
admin boundaries, multipolygons.rs streaming state machine keyed on
tile order).  Asserts (a) assembly completes and is correct against
the DuckDB q_multipolygons_full oracle on the same fixture, (b) the
salted partial aggregation keeps the widest shuffle row at ~1/N_SALT
of the unsalted width.

The suite runs at 2_000 member ways for time; the 10^4-way local[32]
probe (scripts/mega_relation_probe.py) records wall time and peak
task execution memory in BENCH/ROUND4.md.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

N_WAYS = 2_000
PTS_PER_WAY = 4


@pytest.fixture(scope="module")
def mega_docs(tmp_path_factory):
    from osmquadtree_geometry_spark.datagen import generate_mega_relation_docs
    out = tmp_path_factory.mktemp("mega") / "docs.parquet"
    return generate_mega_relation_docs(str(out), n_ways=N_WAYS,
                                       pts_per_way=PTS_PER_WAY)


def test_mega_relation_assembly_bounded_and_oracle_green(spark, mega_docs):
    from osmquadtree_geometry_spark import cache, oracles
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    from osmquadtree_geometry_spark.decode import decode_all, read_docs
    from osmquadtree_geometry_spark.operators.multipolygons import (
        N_SALT, process_multipolygons)
    from osmquadtree_geometry_spark.operators.waynodes import collect_way_nodes

    style = GeometryStyle()
    t = decode_all(read_docs(spark, mega_docs))
    ways_ll, _werr = collect_way_nodes(t["ways"], t["nodes"])
    ok, errs = process_multipolygons(t["relations"], ways_ll, style)

    a2 = ("abs(aggregate(transform(sequence(0, size(p.exterior) - 2), i -> "
          "(cast(p.exterior[i].lon as bigint) - p.exterior[0].lon) * "
          "(cast(p.exterior[i+1].lat as bigint) - p.exterior[0].lat) - "
          "(cast(p.exterior[i].lat as bigint) - p.exterior[0].lat) * "
          "(cast(p.exterior[i+1].lon as bigint) - p.exterior[0].lon)), "
          "0L, (s, v) -> s + v))")
    rows = ok.select(
        "id", F.size("parts").alias("n_parts"),
        F.expr("size(parts[0].exterior)").alias("ext_pts"),
        F.expr(f"aggregate(parts, 0L, (a, p) -> a + {a2})").alias("area2_raw"),
    ).collect()
    n_err = errs.count()
    cache.release_all()

    assert n_err == 0
    assert len(rows) == 1
    r = rows[0]
    assert r.n_parts == 1
    # the closed exterior carries every synthesized vertex exactly once
    assert r.ext_pts == N_WAYS * PTS_PER_WAY + 1

    # oracle parity: full-assembly digest on the same fixture
    con = duckdb.connect()
    odf = con.execute(oracles.q_multipolygons_full(mega_docs, style)).fetchdf()
    assert len(odf) == 1
    o = odf.iloc[0]
    assert int(o["n_parts"]) == 1
    assert int(o["area2_raw"]) == int(r.area2_raw)

    # salted phase-2 bound: the widest (rel, salt) partial group is
    # ~members/N_SALT — a coastline relation never materializes as one
    # full-width shuffle row before the final per-relation pack
    mem = (t["relations"].select("id", F.explode("members").alias("m"))
           .where(F.col("m.mem_type") == "way"))
    w = (mem.withColumn("salt", F.pmod(F.col("m.mem_ref"), F.lit(N_SALT)))
         .groupBy("id", "salt").count()
         .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
         .collect()[0])
    assert w["tot"] == N_WAYS
    assert w["mx"] <= (N_WAYS + N_SALT - 1) // N_SALT + 1
