"""One-off probe for the coastline-scale mega-relation fixture
(round-3 verdict Next #6): runs decode -> way-node collect ->
multipolygon assembly on a single relation with N member ways at
local[32], reports wall time, output digest fields, and the peak task
execution memory from the Spark REST status API, then cross-checks
the assembly digest against the DuckDB q_multipolygons_full oracle on
the same fixture.

Usage: python scripts/mega_relation_probe.py [n_ways] [--skip-oracle]
"""
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def main():
    n_ways = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10_000
    from osmquadtree_geometry_spark.datagen import generate_mega_relation_docs
    fix = f"/root/repo/.data/mega_relation_{n_ways}/docs.parquet"
    if not os.path.exists(fix):
        t0 = time.monotonic()
        generate_mega_relation_docs(fix, n_ways=n_ways)
        print(f"fixture written in {time.monotonic() - t0:.1f}s -> {fix}")

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "24g")
             .getOrCreate())

    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    from osmquadtree_geometry_spark.decode import decode_all
    from osmquadtree_geometry_spark.operators.multipolygons import (
        N_SALT, process_multipolygons)
    from osmquadtree_geometry_spark.operators.waynodes import collect_way_nodes

    style = GeometryStyle()
    t0 = time.monotonic()
    t = decode_all(spark.read.parquet(fix))
    ways_ll, _werr = collect_way_nodes(t["ways"], t["nodes"])
    ok, errs = process_multipolygons(t["relations"], ways_ll, style)
    rows = ok.select(
        "id", F.size("parts").alias("n_parts"),
        F.expr("size(parts[0].exterior)").alias("ext_pts"),
        F.expr("aggregate(parts, 0L, (a, p) -> a + size(p.interiors))")
        .alias("n_interiors"),
        F.col("area").alias("area"), "quadtree").collect()
    n_err = errs.count()
    wall = time.monotonic() - t0
    cache.release_all()

    # salted phase-2 width bound: widest (rel, salt) group vs unsalted
    mem = (t["relations"].select("id", F.explode("members").alias("m"))
           .where(F.col("m.mem_type") == "way"))
    widths = (mem.withColumn("salt", F.pmod(F.col("m.mem_ref"), F.lit(N_SALT)))
              .groupBy("id", "salt").count()
              .agg(F.max("count").alias("max_width"),
                   F.sum("count").alias("total")).collect()[0])

    # peak task memory across stages (REST status API, local mode)
    peak = None
    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
            stages = json.load(r)
        peak = max((s.get("peakExecutionMemory", 0) for s in stages), default=0)
    except Exception as e:  # UI may be disabled
        print("REST probe failed:", e)

    out = {
        "n_ways": n_ways, "wall_s": round(wall, 2), "n_ok": len(rows),
        "n_err": n_err, "rows": [r.asDict() for r in rows],
        "salted_max_width": widths["max_width"], "members_total": widths["total"],
        "peak_task_execution_bytes": peak,
    }
    print(json.dumps(out, default=str))

    if "--skip-oracle" not in sys.argv:
        import duckdb
        from osmquadtree_geometry_spark.oracles import q_multipolygons_full
        con = duckdb.connect()
        t0 = time.monotonic()
        sql = q_multipolygons_full(fix, style)
        odf = con.execute(sql).fetchdf()
        print(f"oracle wall: {time.monotonic() - t0:.1f}s rows={len(odf)}")
        print(odf.to_string())
        # engine-side digest (same projection as __spark_entry__.q_multipolygons)
        sys.path.insert(0, "/root/repo")
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "entry", "/root/repo/__spark_entry__.py")
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        a2 = m._ring_a2("p.exterior")
        eng = ok.select(
            "id", F.size("parts").cast("long").alias("n_parts"),
            F.expr(f"aggregate(parts, 0L, (a, p) -> a + {a2})")
            .alias("area2_raw")).collect()
        print("engine digest:", [r.asDict() for r in eng])
        cache.release_all()
    spark.stop()


if __name__ == "__main__":
    main()
