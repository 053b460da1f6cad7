#!/usr/bin/env python
"""Round-6 (verdict Next #3): pip engine crossover on a wide-ring
fixture — the SQL pnpoly fold re-scans the ring per candidate pair
(O(pairs x ring)), the packed kernel vectorizes points per ring.
Prints seconds per engine for narrow and wide corpora and asserts the
engines agree.  The session is host-sized (``session.get_spark``;
``SPARK_GRAFT_CPUS`` overrides the core count), and the package is
shipped to the Python workers, so it runs from any directory."""
from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def ring(cx, cy, r, n):
    pts = [{"lon": int(cx + r * math.cos(2 * math.pi * i / n)),
            "lat": int(cy + r * math.sin(2 * math.pi * i / n))}
           for i in range(n)]
    return pts + [pts[0]]


def main():
    from osmquadtree_geometry_spark.session import get_spark, ship_package
    from osmquadtree_geometry_spark.spatial import joins
    from osmquadtree_geometry_spark import cache
    from pyspark.sql import functions as F
    import random

    spark = get_spark("pipx")
    ship_package(spark)
    rng = random.Random(7)

    def corpus(n_poly, ring_pts, n_points):
        polys = []
        for i in range(n_poly):
            cx = rng.randrange(-170, 170) * 10**7
            cy = rng.randrange(-60, 60) * 10**7
            polys.append((i, ring(cx, cy, 5 * 10**6, ring_pts)))
        pl = spark.createDataFrame(
            polys, "id long, lonlats array<struct<lon:int,lat:int>>")
        pts = []
        for j in range(n_points):
            pi = rng.randrange(n_poly)
            cx = polys[pi][1][0]["lon"] - 5 * 10**6
            cy = polys[pi][1][0]["lat"]
            pts.append((j, cx + rng.randrange(-8 * 10**6, 8 * 10**6),
                        cy + rng.randrange(-8 * 10**6, 8 * 10**6)))
        pt = spark.createDataFrame(pts, "id long, lon int, lat int")
        return pl.cache(), pt.cache()

    for label, n_poly, ring_pts, n_points in [
            ("narrow (64-pt rings x 200, 20k pts)", 200, 64, 20000),
            ("wide (20k-pt rings x 20, 20k pts)", 20, 20000, 20000)]:
        pl, pt = corpus(n_poly, ring_pts, n_points)
        pl.count(), pt.count()
        print(f"--- {label}")
        results = {}
        for engine in ("sql", "packed", "auto"):
            best = None
            for _ in range(2):
                t0 = time.monotonic()
                df = joins.point_in_polygon_join(
                    pt, pl, cell_depth=10, engine=engine,
                    max_ring_pts=ring_pts + 1, ring_split=1024)
                n = df.count()
                dt = time.monotonic() - t0
                cache.release_all()
                best = dt if best is None else min(best, dt)
            results[engine] = (best, n)
            print(f"  {engine:7s}: {best:6.2f}s pairs={n}")
        ns = {r[1] for r in results.values()}
        assert len(ns) == 1, f"engines disagree: {results}"
        pl.unpersist(), pt.unpersist()


if __name__ == "__main__":
    main()
