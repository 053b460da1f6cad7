"""North-rule resumable pipeline: per-stage lineage, idempotent
re-runs, mid-tiling resume after partial loss."""

import shutil

import pytest
from pyspark.sql import functions as F

from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
from osmquadtree_geometry_spark.pipeline import run_pipeline_checkpointed


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_first_run_computes_everything(spark, docs_path, workdir):
    res, resumed = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    assert not any(resumed.values())
    assert res.points.count() > 0
    assert res.complicated_polygons.count() > 0
    # lineage rows exist for every stage
    from osmquadtree_geometry_spark.lineage import LineageStore
    store = LineageStore(spark, workdir)
    lin = store.read("tiles_points")
    assert lin is not None and lin.count() > 0


def test_second_run_resumes_everything(spark, docs_path, workdir):
    res, resumed = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    assert all(resumed.values()), {k: v for k, v in resumed.items() if not v}
    assert res.points.count() > 0


def test_mid_tiling_resume_after_partial_loss(spark, docs_path, workdir):
    """Delete one LATE stage's output (mid-tiling failure analogue):
    only that stage recomputes; every earlier stage resumes."""
    import os
    victim = None
    for d in os.listdir(workdir):
        if d == "out_stage=tiles_points":
            victim = os.path.join(workdir, d)
    assert victim
    shutil.rmtree(victim)
    res, resumed = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    assert resumed["decode_nodes"] and resumed["waynodes"] \
        and resumed["multipolygons"] and resumed["minzoom_points"]
    # the damaged stage recomputed (lineage present but output missing)
    assert not resumed["tiles_points"]
    assert res.points.count() > 0


def test_results_match_uncheckpointed(spark, docs_path, workdir):
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    live = run_pipeline(spark, docs_path, minzoom=MinZoomSpec.default())
    ck, _ = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    for a, b in ((live.points, ck.points),
                 (live.linestrings, ck.linestrings),
                 (live.simple_polygons, ck.simple_polygons),
                 (live.complicated_polygons, ck.complicated_polygons)):
        la = sorted((r.id, r.quadtree, r.tile) for r in
                    a.select("id", "quadtree", "tile").collect())
        lb = sorted((r.id, r.quadtree, r.tile) for r in
                    b.select("id", "quadtree", "tile").collect())
        assert la == lb


CHECKPOINTS = (
    "decode_nodes", "decode_ways", "decode_relations", "decode_media",
    "waynodes", "waynodes_errors", "parent_tags", "relation_tags",
    "multipolygons", "multipolygon_errors", "points", "way_features",
    "minzoom_points", "minzoom_way_features",
    "minzoom_complicated_polygons", "tiles_points", "tiles_way_features",
    "tiles_complicated_polygons")


def test_fresh_run_builds_j1_and_j2_once(spark, docs_path, tmp_path,
                                         monkeypatch):
    """J1 and J2 each have two checkpointed outputs; a fresh run must
    write both from one build."""
    from osmquadtree_geometry_spark import pipeline
    calls = {"collect_way_nodes": 0, "process_multipolygons": 0}

    def counting(name):
        fn = getattr(pipeline, name)

        def counted(*a, **k):
            calls[name] += 1
            return fn(*a, **k)
        return counted
    for name in calls:
        monkeypatch.setattr(pipeline, name, counting(name))
    _, resumed = run_pipeline_checkpointed(
        spark, docs_path, str(tmp_path), minzoom=MinZoomSpec.default())
    assert calls == {"collect_way_nodes": 1, "process_multipolygons": 1}
    assert sorted(resumed) == sorted(CHECKPOINTS)
    assert not any(resumed.values())


def test_checkpointed_without_multipolygons(spark, docs_path, tmp_path):
    """style.multipolygons=False elides J2: the checkpointed run must
    still tile its (empty) complicated polygons and count like the
    lazy run."""
    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    from osmquadtree_geometry_spark.pipeline import (
        feature_counts, run_pipeline)
    style, mz = GeometryStyle(multipolygons=False), MinZoomSpec.default()
    ck, resumed = run_pipeline_checkpointed(
        spark, docs_path, str(tmp_path), style=style, minzoom=mz)
    live = run_pipeline(spark, docs_path, style=style, minzoom=mz)

    def counts(res):
        return sorted((r.geom_type, r.n)
                      for r in feature_counts(res).collect())
    assert counts(ck) == counts(live)
    assert "multipolygons" not in resumed
    cache.release_all()
