"""Driver-contract simulation: run each queries() entry on Spark and
its oracle_sql() on DuckDB over the same inputs at sf0.001, compare
row sets exactly (sorted columns, sorted rows) — the same check the
driver performs at sf0.01."""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _load_entry():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


@pytest.fixture(scope="module")
def entry_mod():
    return _load_entry()


@pytest.fixture(scope="module")
def ducked(entry_mod):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracles_for_sf(entry_mod, sf_dir):
    """Rebuild oracle SQL against the sf_dir fixture docs path."""
    from osmquadtree_geometry_spark import oracles
    from osmquadtree_geometry_spark.datagen import fixture_docs_path
    docs = fixture_docs_path(sf_dir)
    style, mz = entry_mod.STYLE, entry_mod.MINZOOM
    out = dict(entry_mod.oracle_sql())
    out.update({
        "decode_nodes": oracles.q_decode_nodes(docs),
        "decode_ways": oracles.q_decode_ways(docs),
        "decode_relations": oracles.q_decode_relations(docs),
        "span_roundtrip": oracles.q_span_roundtrip(docs),
        "node_quadtree": oracles.q_node_quadtree(docs, style),
        "line_length": oracles.q_line_length(docs, style),
        "simple_polygon_area": oracles.q_simple_polygon_area(docs, style),
        "relation_tags": oracles.q_relation_tags(docs, style),
        "parent_tags": oracles.q_parent_tags(docs, style),
        "minzoom_points": oracles.q_minzoom_points(docs, style, mz),
        "tile_assignment": oracles.q_tile_assignment(docs, style, mz),
        "feature_tile_counts": oracles.q_feature_tile_counts(docs, style, mz),
        "multipolygons_closed_rings":
            oracles.q_multipolygons_closed_rings(docs, style),
        "multipolygons_merged": oracles.q_multipolygons_merged(docs, style),
        "multipolygons": oracles.q_multipolygons_full(docs, style, mz),
        "assembly_errors": oracles.q_assembly_errors(docs, style),
        "multimodal_features": oracles.q_multimodal_features(docs, dim=8),
        "waynode_errors": oracles.q_waynode_errors(docs),
        "pip_join": oracles.q_pip_join(docs, style),
        "knn_join": oracles.q_knn_join(docs, style, k=3),
        "raster_vector": oracles.q_raster_vector(docs, style, mz),
        "geojson_points": oracles.q_geojson_points(docs, style, mz),
        "geojson_tiles": oracles.q_geojson_tiles(docs, style, mz),
        "geojson_polygons": oracles.q_geojson_polygons(docs, style, mz),
        "geojson_lines": oracles.q_geojson_lines(docs, style, mz),
        "polygon_validity": oracles.q_polygon_validity(docs, style),
        "make_valid": oracles.q_make_valid_area(docs, style),
        "clip_lines": oracles.q_clip_lines(docs, style),
        "lowzoom_lines": oracles.q_lowzoom_lines(docs, style, mz),
    })
    return out


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ORACLE_QUERIES = [
    "decode_nodes", "decode_ways", "decode_relations", "span_roundtrip",
    "node_quadtree", "line_length", "simple_polygon_area",
    "relation_tags", "parent_tags", "minzoom_points",
    "lineitem_agg", "top_customers", "dedup_exact", "token_stats",
    "minhash_signatures", "simhash", "language_id", "token_counts",
    "fingerprint", "embedding_topk", "events_rollup", "sessionize",
    "minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard", "jaccard_lsh",
    "quality_score",
    "tile_assignment", "feature_tile_counts", "pip_join", "knn_join", "raster_vector",
    "geojson_points", "geojson_tiles", "geojson_polygons", "geojson_lines", "lsh_ann", "polygon_validity",
    "ivf_ann", "corpus_prep",
    "embedding_near_dup", "embedding_lsh_near_dup",
    "multipolygons_closed_rings", "multipolygons_merged", "multipolygons",
    "waynode_errors",
    "assembly_errors",
    "make_valid", "clip_lines", "lowzoom_lines", "multimodal_features",
]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, entry_mod, ducked, name):
    q = entry_mod.queries()[name]
    got = _norm(q(spark, SF_DIR).toPandas())
    sql = _oracles_for_sf(entry_mod, SF_DIR)[name]
    exp = _norm(ducked.sql(sql).df())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), f"{name}: {len(got)} vs {len(exp)} rows"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=False, rtol=1e-9, atol=1e-9)


ROWS_ONLY_QUERIES = [
    "multipolygons",
]


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, entry_mod, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"geom_type", "tile", "n_features"} <= set(df.columns)
