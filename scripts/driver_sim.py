"""Simulate the driver's CORRECTNESS gate at an arbitrary sf.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB
over the same parquet, compares row count, sorted-column schema, and
a value hash (rounded floats), exactly like the driver at sf0.01.

Usage: python scripts/driver_sim.py [sf_dir] [query ...]

Exits 1 when any compared query fails or errors ("bad" non-empty in
the summary line), 0 otherwise.
"""

import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    from osmquadtree_geometry_spark.session import get_spark
    spark = get_spark("driver_sim")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # rebuild oracle SQL for this sf (entry's oracle_sql() is pinned to
    # the driver's sf0.01 fixture paths; regenerate when sf differs)
    sys.path.insert(0, os.path.join(REPO, "tests"))
    from test_entry_oracles import _oracles_for_sf
    osql = _oracles_for_sf(m, sf_dir)

    results = {}
    for name, q in m.queries().items():
        if only and name not in only:
            continue
        try:
            got = _norm(q(spark, sf_dir).toPandas())
            if name not in osql:
                results[name] = {"rows": len(got), "err": "no_oracle"}
                print(f"rows_only  {name:30} rows={len(got)}", flush=True)
                continue
            exp = _norm(con.sql(osql[name]).df())
            schema_ok = list(got.columns) == list(exp.columns)
            rows_ok = len(got) == len(exp)
            hash_ok = False
            if schema_ok and rows_ok:
                try:
                    pd.testing.assert_frame_equal(
                        got, exp, check_dtype=False, check_exact=False,
                        rtol=1e-9, atol=1e-9)
                    hash_ok = True
                except AssertionError as e:
                    results[name] = {"detail": str(e)[:500]}
            results.setdefault(name, {}).update(
                {"rows_match": rows_ok, "schema_match": schema_ok,
                 "hash_match": hash_ok, "spark_rows": len(got),
                 "oracle_rows": len(exp)})
            tag = "GREEN" if hash_ok else "FAIL "
            print(f"{tag}      {name:30} spark={len(got)} oracle={len(exp)}"
                  f" schema={schema_ok}", flush=True)
        except Exception as e:  # noqa: BLE001
            results[name] = {"err": f"{type(e).__name__}: {e}"[:300]}
            print(f"ERROR      {name:30} {type(e).__name__}: {str(e)[:200]}",
                  flush=True)

    bad = {k: v for k, v in results.items()
           if not v.get("hash_match") and v.get("err") != "no_oracle"}
    print(json.dumps({"sf_dir": sf_dir, "n": len(results),
                      "bad": list(bad)}, indent=None))
    if bad:
        with open("/tmp/driver_sim_bad.json", "w") as f:
            json.dump({k: results[k] for k in bad}, f, indent=2, default=str)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
