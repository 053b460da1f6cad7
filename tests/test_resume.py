"""North-rule resumable pipeline: per-stage lineage, idempotent
re-runs, mid-tiling resume after partial loss, damaged checkpoints
and killed runs."""

import glob
import logging
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
from osmquadtree_geometry_spark.pipeline import (
    feature_counts, run_pipeline_checkpointed)

CHECKPOINTS = (
    "decode_nodes", "decode_ways", "decode_relations", "decode_media",
    "waynodes", "waynodes_errors", "parent_tags", "relation_tags",
    "multipolygons", "multipolygon_errors", "points", "way_features",
    "minzoom_points", "minzoom_way_features",
    "minzoom_complicated_polygons", "tiles_points", "tiles_way_features",
    "tiles_complicated_polygons")


def _run(spark, docs_path, workdir):
    return run_pipeline_checkpointed(spark, docs_path, workdir,
                                     minzoom=MinZoomSpec.default())


def _counts(res):
    return sorted((r.geom_type, r.n) for r in feature_counts(res).collect())


def _out_dir(workdir, stage):
    [d] = glob.glob(os.path.join(workdir, f"out_stage={stage}", "fp=*"))
    return d


def _nonempty_parts(out_dir):
    return [f for f in sorted(glob.glob(os.path.join(out_dir, "part-*")))
            if pq.read_metadata(f).num_rows > 0]


def _lineage_matches_disk(spark, workdir, stage):
    """The stage's lineage, read by Spark, sums to its checkpoint's
    rows and to the real on-disk bytes of its part files."""
    lin = spark.read.parquet(os.path.join(workdir, f"lineage_stage={stage}"))
    rows, size = lin.agg(F.sum("rows"), F.sum("bytes")).first()
    out = _out_dir(workdir, stage)
    assert rows == spark.read.parquet(out).count()
    disk = sum(os.path.getsize(f)
               for f in glob.glob(os.path.join(out, "part-*")))
    assert size == disk and disk > 0


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


@pytest.fixture(scope="module")
def fresh(spark, docs_path, workdir):
    """The module's first run: its resumed flags, and the counts that
    later (resumed or repaired) runs must reproduce."""
    res, resumed = _run(spark, docs_path, workdir)
    return {"resumed": resumed, "counts": _counts(res),
            "errors": res.errors.count(), "points": res.points.count(),
            "cpolys": res.complicated_polygons.count()}


def test_first_run_computes_everything(spark, workdir, fresh):
    assert not any(fresh["resumed"].values())
    assert fresh["points"] > 0
    assert fresh["cpolys"] > 0
    # lineage rows exist for every stage
    for stage in CHECKPOINTS:
        _lineage_matches_disk(spark, workdir, stage)


def test_checkpoints_reopen_with_the_inferred_schema(spark, workdir, fresh):
    """Each checkpoint reopens with the schema from its footers, equal
    to the one Spark infers with a job."""
    from osmquadtree_geometry_spark.tableio import read_parquet
    for stage in CHECKPOINTS:
        out = _out_dir(workdir, stage)
        assert read_parquet(spark, out).schema == \
            spark.read.parquet(out).schema, stage


def _group_jobs(spark, group, fn):
    """The number of Spark jobs ``fn()`` runs, counted in job group
    ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reopening_checkpoints_runs_no_job(spark, docs_path, tmp_path):
    """A checkpoint reopens without a schema-inference job.  On the
    33-doc fixture a fresh run takes at most 39 jobs, the 18 checkpoint
    writes among them (it took 57 while each reopen inferred its
    schema; fewer when the session has run the chain before), and a
    resumed run takes one: the docs input, which pyarrow wrote without
    a Spark schema, still infers."""
    def run():
        _run(spark, docs_path, str(tmp_path))
    assert 18 <= _group_jobs(spark, "ckpt-fresh", run) <= 39
    assert _group_jobs(spark, "ckpt-resume", run) == 1


def test_second_run_resumes_everything(spark, docs_path, workdir, fresh):
    res, resumed = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    assert all(resumed.values()), {k: v for k, v in resumed.items() if not v}
    assert res.points.count() > 0


def test_mid_tiling_resume_after_partial_loss(spark, docs_path, workdir,
                                              fresh):
    """Delete one LATE stage's output (mid-tiling failure analogue):
    only that stage recomputes; every earlier stage resumes."""
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


def test_recompute_replaces_lineage(spark, workdir):
    """tiles_points was recomputed under the same fingerprint: its
    lineage holds that run's files only, not both runs'."""
    _lineage_matches_disk(spark, workdir, "tiles_points")


def test_deleted_part_file_recomputes(spark, docs_path, workdir, fresh):
    """A checkpoint that lost one of its files is recomputed, not
    resumed with the rows that are left."""
    out = _out_dir(workdir, "multipolygon_errors")
    assert len(glob.glob(os.path.join(out, "part-*"))) > 1
    os.remove(_nonempty_parts(out)[0])
    res, resumed = _run(spark, docs_path, workdir)
    assert not resumed["multipolygon_errors"]
    assert resumed["multipolygons"] and resumed["tiles_points"]
    assert res.errors.count() == fresh["errors"]
    _lineage_matches_disk(spark, workdir, "multipolygon_errors")


def test_truncated_part_file_recomputes_and_logs(spark, docs_path, workdir,
                                                 fresh, caplog):
    out = _out_dir(workdir, "way_features")
    victim = _nonempty_parts(out)[0]
    with open(victim, "r+b") as f:
        f.truncate(os.path.getsize(victim) // 2)
    crc = os.path.join(out, "." + os.path.basename(victim) + ".crc")
    os.remove(crc)
    with caplog.at_level(logging.WARNING,
                         logger="osmquadtree_geometry_spark.lineage"):
        res, resumed = _run(spark, docs_path, workdir)
    assert not resumed["way_features"]
    assert resumed["points"] and resumed["tiles_way_features"]
    [msg] = [r.getMessage() for r in caplog.records
             if r.name == "osmquadtree_geometry_spark.lineage"]
    assert out in msg and os.path.basename(victim) in msg
    assert _counts(res) == fresh["counts"]


class Killed(Exception):
    pass


@pytest.mark.parametrize("last_done", ["decode_nodes", "waynodes",
                                       "multipolygons",
                                       "tiles_complicated_polygons"])
def test_resume_after_kill(spark, docs_path, tmp_path, monkeypatch, fresh,
                           last_done):
    """A run killed right after its k-th checkpoint: the next run
    resumes those k and computes the rest, to the same counts."""
    from osmquadtree_geometry_spark import lineage
    k = CHECKPOINTS.index(last_done) + 1
    real, done = lineage.run_stage, []

    def killed_after_k(*args, **kwargs):
        out = real(*args, **kwargs)
        done.append(args[1])
        if len(done) == k:
            raise Killed(args[1])
        return out
    monkeypatch.setattr(lineage, "run_stage", killed_after_k)
    with pytest.raises(Killed):
        _run(spark, docs_path, str(tmp_path))
    monkeypatch.undo()
    assert done == list(CHECKPOINTS[:k])
    res, resumed = _run(spark, docs_path, str(tmp_path))
    assert list(resumed) == list(CHECKPOINTS)
    assert [resumed[c] for c in CHECKPOINTS] == \
        [True] * k + [False] * (len(CHECKPOINTS) - k)
    assert _counts(res) == fresh["counts"]


def test_results_match_uncheckpointed(spark, docs_path, workdir, fresh):
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
