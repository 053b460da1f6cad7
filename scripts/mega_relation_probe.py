"""Probe for the coastline-scale mega-relation fixture (round-3
verdict Next #6): runs decode -> way-node collect -> multipolygon
assembly on a single relation with N member ways in a
``session.get_spark()`` session (sized by SPARK_GRAFT_CPUS and
SPARK_DRIVER_MEMORY), reports wall time, output digest fields and the
peak task execution memory over every task of the run (read from
Spark's event log), then cross-checks the assembly digest against the
DuckDB q_multipolygons_full oracle on the same fixture.

Usage: python scripts/mega_relation_probe.py [n_ways] [--skip-oracle]
"""
import glob
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402


def peak_task_memory(log_dir: str) -> int:
    """Largest ``Peak Execution Memory`` of any finished task in the
    uncompressed event logs under ``log_dir`` (rolling or single-file)."""
    peak = 0
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") == "SparkListenerTaskEnd":
                    peak = max(peak, ev.get("Task Metrics", {})
                               .get("Peak Execution Memory", 0))
    return peak


def main():
    n_ways = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10_000
    from osmquadtree_geometry_spark.datagen import generate_mega_relation_docs
    fix = os.path.join(ROOT, ".data", f"mega_relation_{n_ways}", "docs.parquet")
    if not os.path.exists(fix):
        t0 = time.monotonic()
        generate_mega_relation_docs(fix, n_ways=n_ways)
        print(f"fixture written in {time.monotonic() - t0:.1f}s -> {fix}")

    log_dir = tempfile.mkdtemp(prefix="mega_probe_events_")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [
        os.environ.get("SPARK_GRAFT_EXTRA_CONF"),
        "spark.eventLog.enabled=true", f"spark.eventLog.dir={log_dir}",
        "spark.eventLog.compress=false"]))
    from osmquadtree_geometry_spark.session import get_spark, ship_package
    spark = get_spark("mega_relation_probe")
    ship_package(spark)

    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    from osmquadtree_geometry_spark.decode import decode_all
    from osmquadtree_geometry_spark.operators.multipolygons import (
        process_multipolygons)
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

    out = {
        "n_ways": n_ways, "master": spark.sparkContext.master,
        "wall_s": round(wall, 2), "n_ok": len(rows), "n_err": n_err,
        "rows": [r.asDict() for r in rows],
    }

    if "--skip-oracle" not in sys.argv:
        import duckdb
        from osmquadtree_geometry_spark.oracles import q_multipolygons_full
        con = duckdb.connect()
        t0 = time.monotonic()
        odf = con.execute(q_multipolygons_full(fix, style)).fetchdf()
        print(f"oracle wall: {time.monotonic() - t0:.1f}s rows={len(odf)}")
        print(odf.to_string())
        # engine-side digest (same projection as __spark_entry__.q_multipolygons)
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "entry", os.path.join(ROOT, "__spark_entry__.py"))
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        a2 = m._ring_a2("p.exterior")
        eng = ok.select(
            "id", F.size("parts").cast("long").alias("n_parts"),
            F.expr(f"aggregate(parts, 0L, (a, p) -> a + {a2})")
            .alias("area2_raw")).collect()
        print("engine digest:", [r.asDict() for r in eng])
        out["digest_match"] = (
            sorted((int(r["n_parts"]), int(r["area2_raw"])) for r in eng)
            == sorted((int(n), int(a)) for n, a in
                      zip(odf["n_parts"], odf["area2_raw"])))
        cache.release_all()
    spark.stop()
    # the event log is complete once the context has stopped
    out["peak_task_execution_bytes"] = peak_task_memory(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    print(json.dumps(out, default=str))


if __name__ == "__main__":
    main()
