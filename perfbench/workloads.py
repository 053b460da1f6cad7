"""The benchmark's workloads.  Each drives the engine's public
functions from this one client process against a local Spark session,
as a closed loop: the next operation starts when the previous one has
returned.

- ``tile_batch``: one operation is a tiling round, ``run_pipeline``
  followed by ``sinks.write_feature_tables`` into a fresh directory.
- ``query_serve``: a layout is written once in set-up; one operation
  is a pass over a bbox read, point-in-polygon, kNN, raster-vector and
  IVF top-k query against it, in seeded order.  Set-up runs one pass
  as a warm-up; only the passes after it are timed.

Every operation's output is checked (see README.md); a wrong answer
counts as a failed operation and the run goes on.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import eventlog
from harness import Stopwatch, tree_cpu_s

N_DOCS = 220            # docs per fixture (window of the datagen index)
DOC_INDEX_SPAN = 1_000_000  # the seed picks the window start below this
# the sf0.1 embeddings fixture (2,000 x 64-d, labels 0-9) bench.py reads
EMBEDDINGS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "embeddings.parquet")
EMB_DIM = 64
# query parameters of bench.py's spatial and ivf_ann timings
KNN_QUERIES, KNN_K, KNN_MAX_RINGS = 2000, 5, 1
IVF_QUERIES, IVF_K, IVF_LISTS, IVF_PROBE = 5, 10, 16, 4
# bbox half-width of tests/test_sinks.py's read_geometry check, in
# 1e-7 degrees (0.1 deg)
READ_HALF_WIDTH = 1_000_000
# A tiling round is timed on the session's cold JVM, as a batch run of
# the tiler pays it (see README.md).  A query pass's first run pays
# plan, code generation and Python-worker start-up the layout write did
# not: set-up runs one pass as a warm-up.  A run times at least this
# many operations, so the count does not depend on how long the checks
# between them took.
MIN_TIMED_OPS = 1
QUERY_WARMUP_PASSES = 1
TILE_GROUP_DEPTH = 8

CHAIN_LAYERS = ("decode", "waynodes", "parenttags", "relationtags",
                "multipolygons", "makegeoms", "minzoom", "tiles")
CHAIN_METRICS = ("plan_s", "exec_s", "rows_out", "shuffle_write_mb",
                 "spill_mb", "gc_s", "task_skew")
QUERY_LAYERS = ("joins.pip", "joins.knn", "joins.raster")
CHECKPOINT_STAGES = (
    "decode_nodes", "decode_ways", "decode_relations", "decode_media",
    "waynodes", "waynodes_errors", "parent_tags", "relation_tags",
    "multipolygons", "multipolygon_errors", "points", "way_features",
    "minzoom_points", "minzoom_way_features",
    "minzoom_complicated_polygons", "tiles_points", "tiles_way_features",
    "tiles_complicated_polygons")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    names = [f"{layer}.{m}" for layer in CHAIN_LAYERS for m in CHAIN_METRICS]
    names.append("multipolygons.python_udf_s")
    names += ["sinks.exec_s", "sinks.written_mb", "sinks.files_written",
              "sinks.jobs",
              "sources.plan_s", "sources.exec_s",
              "sources.scan_rows_per_result"]
    names += [f"{q}.{m}" for q in QUERY_LAYERS
              for m in ("plan_s", "exec_s", "python_udf_s",
                        "shuffle_write_mb", "task_skew")]
    names += ["similarity.plan_s", "similarity.exec_s",
              "similarity.shuffle_write_mb"]
    names += [f"lineage.{s}.stage_s" for s in CHECKPOINT_STAGES]
    names += ["lineage.fresh_s", "lineage.resume_check_s",
              "lineage.jobs_fresh",
              "lineage.jobs_resume", "lineage.resumed_frac",
              "waynodes.jobs", "multipolygons.jobs",
              "session.start_s",
              "trace.traced_op_s", "trace.traced_cpu_s",
              "trace.layers_exec_sum_s", "trace.layers_plan_sum_s"]
    return names


def per_layer_units() -> dict[str, str]:
    def unit(name: str) -> str:
        m = name.rsplit(".", 1)[1]
        if m.endswith("_s"):
            return "s"
        if m.endswith("_mb"):
            return "MB"
        if m in ("task_skew", "resumed_frac", "scan_rows_per_result"):
            return "ratio"
        return "count"
    return {n: unit(n) for n in per_layer_names()}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- inputs ------------------------------------------------------------------

def write_docs(path: str, start: int, n: int) -> str:
    """The docs fixture for datagen indices [start, start + n), written
    the way ``datagen.generate_docs_parquet`` writes indices [0, n)."""
    from osmquadtree_geometry_spark import datagen
    docs = [datagen.build_doc(i) for i in range(start, start + n)]
    table = pa.Table.from_pydict(
        {"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]},
        schema=datagen.DOCS_SCHEMA)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(256, n // 64))
    return path


# -- checks ------------------------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (bytes, bytearray)):
        return hashlib.md5(v).hexdigest()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon(rows) -> list[tuple]:
    """Order-free canonical form of a result: sorted normalized tuples."""
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


def digest(rows) -> str:
    return hashlib.md5(repr(canon(rows)).encode()).hexdigest()


def _pq_glob(table_dir: str) -> str:
    return os.path.join(table_dir, "*.parquet")


def layout_tile_counts(out_dir: str) -> list[tuple]:
    """Per-(geom_type, tile) counts and id ranges of a written layout,
    read with DuckDB from the parquet files themselves."""
    def src(name: str, geom_type: str | None) -> str | None:
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d) or not any(
                f.endswith(".parquet") for f in os.listdir(d)):
            return None
        gt = "geom_type" if geom_type is None else f"'{geom_type}'"
        return (f"SELECT {gt} AS geom_type, tile, id "
                f"FROM read_parquet('{_pq_glob(d)}')")
    legs = [src("points", "point"), src("way_features", None),
            src("linestrings", "linestring"),
            src("simple_polygons", "simple_polygon"),
            src("complicated_polygons", "complicated_polygon")]
    sql = (" UNION ALL ".join(x for x in legs if x))
    with duckdb.connect() as con:
        return canon(con.sql(
            f"SELECT geom_type, tile, count(*), min(id), max(id) "
            f"FROM ({sql}) GROUP BY geom_type, tile").fetchall())


def oracle_rows(sql: str) -> list[tuple]:
    with duckdb.connect() as con:
        return canon(con.sql(sql).fetchall())


class Run:
    """State of one benchmark run: session, inputs, counters, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, workdir: str, eventlog_dir: str):
        from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
        from osmquadtree_geometry_spark.config.style import GeometryStyle
        self.workload, self.seconds = workload, seconds
        self.trace, self.workdir = trace, workdir
        self.eventlog_dir = eventlog_dir
        self.rng = np.random.default_rng(seed)
        self.style, self.spec = GeometryStyle(), MinZoomSpec.default()
        self.attempted = self.failed = 0
        self.check_s = 0.0        # correctness-check time, kept out of setup_s
        self.op_s: list[float] = []
        self.layer: dict[str, float] = dict.fromkeys(per_layer_names(), 0.0)
        self.spark = None
        self.lineage_done = None  # (start epoch s, {stage: completed_at})
        self.query_stats: dict = {}  # query -> (layer, [(plan, exec, rows)])
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Log the wall time since the previous phase mark."""
        now = time.perf_counter()
        log(f"{name}: {now - self._mark:.2f} s")
        self._mark = now

    # -- bookkeeping ---------------------------------------------------------

    def end_setup(self) -> None:
        """Set-up ends here; the checks made so far are not set-up."""
        self.setup_end = time.perf_counter()
        self.setup_check_s = self.check_s
        self.phase("set-up")

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation
        and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the run must go on and report the failure
            log(f"operation {what} raised:\n{traceback.format_exc()}")
            self.failed += 1
            return None

    def timed_check(self, what: str, fn) -> bool:
        """Run a correctness check; its time is kept out of setup_s."""
        with Stopwatch() as sw:
            try:
                ok = bool(fn())
            except Exception:  # a broken check is a failed check
                log(f"check {what} raised:\n{traceback.format_exc()}")
                ok = False
        self.check_s += sw.s
        if not ok:
            log(f"CHECK FAILED: {what}")
        return ok

    def group(self, name: str | None) -> None:
        """Name the Spark job group of the jobs that follow (None: no
        group); the event-log parser attributes tasks by it."""
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    # -- session -------------------------------------------------------------

    def start_session(self) -> None:
        from osmquadtree_geometry_spark.session import get_spark
        with Stopwatch() as sw:
            self.spark = get_spark(app=f"perfbench-{self.workload}")
        self.layer["session.start_s"] = sw.s

    def docs(self) -> str:
        start = int(self.rng.integers(0, DOC_INDEX_SPAN))
        log(f"docs window [{start}, {start + N_DOCS})")
        return write_docs(self.path("data", "docs.parquet"), start, N_DOCS)

    def measure(self, op) -> None:
        """Closed loop: run ``op`` (returns its timed seconds or None
        on failure) until ``seconds`` of wall time have passed and it
        ran at least MIN_TIMED_OPS times."""
        t_end = time.perf_counter() + self.seconds
        cpu0 = tree_cpu_s(os.getpid())
        n = 0
        while n < MIN_TIMED_OPS or time.perf_counter() < t_end:
            dt = op()
            n += 1
            if dt is not None:
                self.op_s.append(dt)
        self.phase(f"measured ({tree_cpu_s(os.getpid()) - cpu0:.1f} s CPU)")

    def put_group(self, prefix: str, st, keys: tuple[str, ...]) -> None:
        vals = {"shuffle_write_mb": st.shuffle_write_mb,
                "spill_mb": st.spill_mb, "gc_s": st.gc_s,
                "task_skew": st.task_skew, "python_udf_s": st.python_udf_s,
                "jobs": st.jobs}
        for k in keys:
            self.layer[f"{prefix}.{k}"] = vals[k]


# -- tile_batch --------------------------------------------------------------

def _tile_round(run: Run, docs: str, out: str):
    """One tiling round into ``out``; returns its wall seconds."""
    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    from osmquadtree_geometry_spark.sinks import write_feature_tables
    with Stopwatch() as sw:
        with cache.scope() as handles:
            res = run_pipeline(run.spark, docs, style=run.style,
                               minzoom=run.spec)
            write_feature_tables(res, out, media=res.decoded.get("media"))
        cache.release(handles)
    return sw.s


def tile_batch(run: Run) -> None:
    from osmquadtree_geometry_spark import oracles
    run.start_session()
    run.phase("session")
    docs = run.docs()
    expected: list[tuple] = []
    n_round = 0

    def op():
        nonlocal n_round
        out = run.path("layout", f"round{n_round}")
        n_round += 1
        dt = run.attempt("tile round", lambda: _tile_round(run, docs, out))
        if dt is None:
            return None

        def vs_oracle():  # first round: the DuckDB oracle, once per run
            nonlocal expected
            expected = oracle_rows(oracles.q_feature_tile_counts(
                docs, run.style, run.spec, TILE_GROUP_DEPTH))
            return layout_tile_counts(out) == expected

        if not expected:
            ok = run.timed_check("tile counts vs oracle", vs_oracle)
        else:
            ok = run.timed_check("tile counts vs first round",
                                 lambda: layout_tile_counts(out) == expected)
        shutil.rmtree(out, ignore_errors=True)
        log(f"round {n_round - 1}: {dt:.2f} s")
        if not ok:
            run.failed += 1
            return None
        return dt

    run.end_setup()
    if not run.trace:
        run.measure(op)
        return
    # traced run: the timed round, on the cold JVM as in an untraced run,
    # split at each layer's public call; then the checkpointed
    # fresh/resume pair
    cpu0 = tree_cpu_s(os.getpid())
    traced = run.attempt("layer-split round",
                         lambda: _traced_chain(run, docs))
    run.layer["trace.traced_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    run.layer["trace.traced_op_s"] = traced or 0.0
    _traced_lineage(run, docs)


def _materialize(run: Run, layer: str, outs: dict) -> dict:
    """Force each output of a layer by writing it to parquet; return
    the re-read DataFrames and add the written row counts, read from
    the parquet footers, to ``layer.rows_out``."""
    back = {}
    for name, df in outs.items():
        p = run.path("trace", layer, name)
        df.write.mode("overwrite").parquet(p)
        back[name] = run.spark.read.parquet(p)
        run.layer[f"{layer}.rows_out"] += sum(
            pq.read_metadata(os.path.join(p, f)).num_rows
            for f in os.listdir(p) if f.endswith(".parquet"))
    return back


def _traced_chain(run: Run, docs: str) -> float:
    """The tiling round split at each layer's public call: the call is
    timed (plan_s, with any action it runs itself), then its outputs
    are forced to parquet (exec_s) and re-read as the next layer's
    inputs.  Returns the pass's wall seconds."""
    from osmquadtree_geometry_spark import oracles
    from osmquadtree_geometry_spark.decode import decode_all, read_docs
    from osmquadtree_geometry_spark.operators.makegeoms import (
        make_points, make_way_features, split_way_features)
    from osmquadtree_geometry_spark.operators.minzoom import find_minzoom
    from osmquadtree_geometry_spark.operators.multipolygons import (
        process_multipolygons)
    from osmquadtree_geometry_spark.operators.parenttags import add_parent_tags
    from osmquadtree_geometry_spark.operators.relationtags import (
        add_relation_tags)
    from osmquadtree_geometry_spark.operators.tiles import (
        allocate_tiles, tile_dictionary)
    from osmquadtree_geometry_spark.operators.waynodes import (
        collect_way_nodes)
    from osmquadtree_geometry_spark.pipeline import PipelineResult
    from osmquadtree_geometry_spark.sinks import write_feature_tables
    spark, style, spec = run.spark, run.style, run.spec
    t: dict = {}

    def layer(name: str, call) -> None:
        run.group(name)
        with Stopwatch() as plan:
            outs = call()
        with Stopwatch() as ex:
            t.update(_materialize(run, name, outs))
        run.layer[f"{name}.plan_s"] = plan.s
        run.layer[f"{name}.exec_s"] = ex.s

    def decode():
        d = decode_all(read_docs(spark, docs))
        return {k: d[k] for k in ("nodes", "ways", "relations", "media")}

    def waynodes():
        ways_ll, err = collect_way_nodes(t["ways"], t["nodes"])
        return {"ways_ll": ways_ll, "err_w": err}

    def multipolygons():
        cp, err = process_multipolygons(t["relations"], t["ways2"], style)
        return {"cpolys": cp, "err_r": err}

    def minzoom():
        lines, spolys = split_way_features(t["way_features"])
        p, ln, sp, cp = find_minzoom(t["points"], lines, spolys,
                                     t["cpolys"], spec)
        return {"points_mz": p, "lines_mz": ln, "spolys_mz": sp,
                "cpolys_mz": cp}

    def tiles():
        tl = tile_dictionary(t["nodes"], TILE_GROUP_DEPTH)
        return {k: allocate_tiles(t[f"{k}_mz"], tl)
                for k in ("points", "lines", "spolys", "cpolys")}

    with Stopwatch() as whole:
        layer("decode", decode)
        layer("waynodes", waynodes)
        layer("parenttags", lambda: {"nodes2": add_parent_tags(
            t["nodes"], t["ways_ll"], style)})
        layer("relationtags", lambda: {"ways2": add_relation_tags(
            t["ways_ll"], t["relations"], style)})
        layer("multipolygons", multipolygons)
        layer("makegeoms", lambda: {
            "points": make_points(t["nodes2"], style),
            "way_features": make_way_features(t["ways2"], style)})
        layer("minzoom", minzoom)
        layer("tiles", tiles)
        out = run.path("trace", "layout")
        run.group("sinks")
        res = PipelineResult(
            points=t["points"], linestrings=t["lines"],
            simple_polygons=t["spolys"], complicated_polygons=t["cpolys"],
            errors=t["err_w"].unionByName(t["err_r"]),
            decoded={"media": t["media"]})
        with Stopwatch() as sink:
            write_feature_tables(res, out, media=t["media"])
        run.group(None)
    run.layer["sinks.exec_s"] = sink.s
    files = [os.path.join(r, f) for r, _, fs in os.walk(out) for f in fs
             if not f.startswith((".", "_"))]
    run.layer["sinks.files_written"] = len(files)
    run.layer["sinks.written_mb"] = sum(map(os.path.getsize, files)) / 2**20
    run.layer["trace.layers_exec_sum_s"] = sum(
        run.layer[f"{n}.exec_s"] for n in CHAIN_LAYERS) + sink.s
    run.layer["trace.layers_plan_sum_s"] = sum(
        run.layer[f"{n}.plan_s"] for n in CHAIN_LAYERS)
    if not run.timed_check("layer-split layout vs oracle", lambda: (
            layout_tile_counts(out) == oracle_rows(
                oracles.q_feature_tile_counts(docs, style, spec,
                                              TILE_GROUP_DEPTH)))):
        run.failed += 1
    return whole.s


def _traced_lineage(run: Run, docs: str) -> None:
    """A fresh checkpointed run, then the same call again, which must
    resume every stage and give the same feature counts."""
    from osmquadtree_geometry_spark.pipeline import (
        feature_counts, run_pipeline_checkpointed)
    wd = run.path("checkpoint")

    def ckpt(group: str):
        run.group(group)
        t0 = time.time()
        with Stopwatch() as sw:
            res, resumed = run_pipeline_checkpointed(
                run.spark, docs, wd, style=run.style, minzoom=run.spec)
        run.group(None)
        return t0, sw.s, resumed, canon(feature_counts(res).collect())

    r1 = run.attempt("checkpoint fresh", lambda: ckpt("lineage.fresh"))
    r2 = run.attempt("checkpoint resume", lambda: ckpt("lineage.resume"))
    if r1 is None or r2 is None:
        return  # counted as failed by run.attempt
    (t0, fresh_s, _, c1), (_, resume_s, resumed, c2) = r1, r2
    run.layer["lineage.fresh_s"] = fresh_s
    # the resumed call only checks lineage and re-reads the checkpoints
    run.layer["lineage.resume_check_s"] = resume_s
    run.layer["lineage.resumed_frac"] = (
        sum(resumed.values()) / len(resumed) if resumed else 0.0)
    if not run.timed_check("every stage resumed", lambda: resumed and all(
            resumed.values())):
        run.failed += 1
    if not run.timed_check("resumed feature_counts == fresh",
                           lambda: c1 == c2):
        run.failed += 1
    # stage completion times from the lineage rows on disk
    with duckdb.connect() as con:
        done = dict(con.sql(
            "SELECT stage, min(completed_at) FROM read_parquet("
            f"'{os.path.join(wd, 'lineage_stage=*', '*.parquet')}', "
            "hive_partitioning=false) GROUP BY stage").fetchall())
    run.lineage_done = (t0, done)


def _lineage_from_events(run: Run, events: list[dict],
                         groups: dict) -> None:
    if run.lineage_done is None:
        return
    t0, done = run.lineage_done
    run.layer["lineage.jobs_fresh"] = groups.get(
        "lineage.fresh", eventlog.GroupStats()).jobs
    run.layer["lineage.jobs_resume"] = groups.get(
        "lineage.resume", eventlog.GroupStats()).jobs
    submits = eventlog.job_submit_times_ms(events, "lineage.fresh")
    prev, jobs = t0, {}
    for stage, at in sorted(done.items(), key=lambda kv: kv[1]):
        if stage in CHECKPOINT_STAGES:
            run.layer[f"lineage.{stage}.stage_s"] = at - prev
        jobs[stage] = sum(1 for s in submits if prev * 1e3 < s <= at * 1e3)
        prev = at
    run.layer["waynodes.jobs"] = (jobs.get("waynodes", 0)
                                  + jobs.get("waynodes_errors", 0))
    run.layer["multipolygons.jobs"] = (jobs.get("multipolygons", 0)
                                       + jobs.get("multipolygon_errors", 0))


# -- query_serve -------------------------------------------------------------

class Query:
    """One query of the mix: ``build()`` is the public call (lazy
    plan), ``force(df)`` collects its rows, ``oracle()`` gives the
    expected rows in ``canon`` form."""

    def __init__(self, name: str, layer: str, build, cols: list[str],
                 oracle):
        self.name, self.layer, self.build = name, layer, build
        self.cols, self.oracle = cols, oracle
        self.first: str | None = None

    def force(self, df) -> list:
        return df.select(*self.cols).collect()


def _ivf_oracle(emb_path: str) -> list[tuple]:
    from osmquadtree_geometry_spark import oracles
    with duckdb.connect() as con:
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{emb_path}')")
        return canon((r[0], r[1]) for r in con.sql(oracles.q_ivf_ann(
            k=IVF_K, n_queries=IVF_QUERIES, n_lists=IVF_LISTS,
            n_probe=IVF_PROBE, dim=EMB_DIM)).fetchall())


def _queries(run: Run, docs: str, layout: str) -> list[Query]:
    """The seeded query mix over the written layout, in seeded order."""
    from pyspark.sql import functions as F

    from osmquadtree_geometry_spark import oracles, similarity, sources
    from osmquadtree_geometry_spark.spatial import joins
    spark, rng, style = run.spark, run.rng, run.style
    res = sources.read_feature_tables(spark, layout)
    sx = res.spatial_index
    meta = sx.get("meta", {})
    pts = sorted(tuple(r) for r in res.points.select("id", "lon", "lat")
                 .collect())
    _, lon, lat = pts[int(rng.integers(len(pts)))]
    bbox = (lon - READ_HALF_WIDTH, lat - READ_HALF_WIDTH,
            lon + READ_HALF_WIDTH, lat + READ_HALF_WIDTH)
    qs = [Query(
        "read", "sources", lambda: sources.read_geometry(
            spark, os.path.join(layout, "points"), bbox=bbox),
        ["id"],
        lambda: canon((pid,) for pid, x, y in pts
                      if bbox[0] <= x <= bbox[2] and bbox[1] <= y <= bbox[3]))]
    qs.append(Query(
        "pip", "joins.pip", lambda: joins.point_in_polygon_join(
            res.points, res.simple_polygons, cell_depth=10,
            poly_cover=sx.get("poly_cover"),
            point_cells=sx.get("points_cells"),
            cover_depths=meta.get("cover_depths"), engine="auto",
            max_ring_pts=meta.get("max_ring_pts")),
        ["point_id", "polygon_id"],
        lambda: oracle_rows(oracles.q_pip_join(docs, style))))
    knn_ids = sorted(int(x) for x in rng.choice(
        [p[0] for p in pts], size=min(KNN_QUERIES, len(pts)), replace=False))
    knn_set = set(knn_ids)
    qs.append(Query(
        "knn", "joins.knn", lambda: joins.knn_join(
            res.points.where(F.col("id").isin(knn_ids)), res.points,
            k=KNN_K, cell_depth=8, max_rings=KNN_MAX_RINGS,
            target_cells=sx.get("points_cells"))
        .withColumn("dist_c", F.floor(F.col("dist") * 100 + 0.5)
                    .cast("long")),
        ["query_id", "target_id", "dist_c"],
        lambda: [r for r in oracle_rows(
            oracles.q_knn_join(docs, style, k=KNN_K)) if r[0] in knn_set]))
    qs.append(Query(
        "raster", "joins.raster", lambda: joins.raster_vector_join(
            res.decoded["media"], res.points),
        ["doc_id", "tile", "feature_id", "quadtree"],
        lambda: oracle_rows(oracles.q_raster_vector(docs, style, run.spec))))
    emb = spark.read.parquet(EMBEDDINGS)
    qs.append(Query(  # the oracle's queries: the smallest vec_ids
        "ivf", "similarity", lambda: similarity.ivf_topk(
            emb, emb.orderBy("vec_id").limit(IVF_QUERIES)
            .selectExpr("vec_id as query_id", "embedding as qe"),
            k=IVF_K, n_lists=IVF_LISTS, n_probe=IVF_PROBE),
        ["query_id", "vec_id"], lambda: _ivf_oracle(EMBEDDINGS)))
    return [qs[i] for i in rng.permutation(len(qs))]


def query_serve(run: Run) -> None:
    from osmquadtree_geometry_spark import cache
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    from osmquadtree_geometry_spark.sinks import write_feature_tables
    run.start_session()
    run.phase("session")
    docs = run.docs()
    layout = run.path("layout")
    with cache.scope() as handles:
        res = run_pipeline(run.spark, docs, style=run.style,
                           minzoom=run.spec)
        write_feature_tables(res, layout, media=res.decoded.get("media"))
    cache.release(handles)
    run.phase("inputs and layout")
    queries = _queries(run, docs, layout)
    run.phase(f"query list ({len(queries)} queries)")
    # query name -> [(plan_s, exec_s, rows returned)]
    stats: dict[str, list[tuple[float, float, int]]] = {
        q.name: [] for q in queries}

    def one(q: Query):
        with Stopwatch() as plan:
            df = q.build()
        with Stopwatch() as ex:
            rows = q.force(df)
        stats[q.name].append((plan.s, ex.s, len(rows)))
        return rows

    def op(grouped: bool = False):
        """One pass over the mix; with ``grouped`` each query runs in
        its own Spark job group."""
        total, ok, times = 0.0, True, []
        for q in queries:
            if grouped:
                run.group(q.name)
            with Stopwatch() as sw:
                rows = run.attempt(q.name, lambda: one(q))
            if grouped:
                run.group(None)
            if rows is None:
                ok = False
                continue
            total += sw.s
            times.append(f"{q.name}={sw.s:.2f}")
            d = digest(rows)
            if q.first is None:
                q.first = d
                good = run.timed_check(f"{q.name} vs oracle",
                                       lambda: canon(rows) == q.oracle())
            else:
                good = run.timed_check(f"{q.name} vs first answer",
                                       lambda: d == q.first)
            if not good:
                run.failed += 1
                ok = False
        log("pass " + " ".join(times))
        return total if ok else None

    for _ in range(QUERY_WARMUP_PASSES):
        op()
    run.end_setup()
    if not run.trace:
        run.measure(op)
        return
    # traced run: the timed pass, each query in its own job group
    for s in stats.values():
        s.clear()
    cpu0 = tree_cpu_s(os.getpid())
    run.layer["trace.traced_op_s"] = op(grouped=True) or 0.0
    run.layer["trace.traced_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    run.query_stats = {q.name: (q.layer, stats[q.name]) for q in queries}


def _chain_from_events(run: Run, groups: dict) -> None:
    for name in CHAIN_LAYERS:
        run.put_group(name, groups.get(name, eventlog.GroupStats()),
                      ("shuffle_write_mb", "spill_mb", "gc_s", "task_skew"))
    run.layer["multipolygons.python_udf_s"] = groups.get(
        "multipolygons", eventlog.GroupStats()).python_udf_s
    run.layer["sinks.jobs"] = groups.get("sinks", eventlog.GroupStats()).jobs


def _queries_from_events(run: Run, groups: dict) -> None:
    scanned = returned = 0
    for name, (layer, samples) in run.query_stats.items():
        st = groups.get(name, eventlog.GroupStats())
        run.layer[f"{layer}.plan_s"] += sum(s[0] for s in samples)
        run.layer[f"{layer}.exec_s"] += sum(s[1] for s in samples)
        if layer == "sources":
            scanned += st.input_records
            returned += sum(s[2] for s in samples)
        elif layer == "similarity":
            run.layer["similarity.shuffle_write_mb"] += st.shuffle_write_mb
        else:
            run.put_group(layer, st, ("python_udf_s", "shuffle_write_mb",
                                      "task_skew"))
    run.layer["sources.scan_rows_per_result"] = scanned / max(returned, 1)
    layers = ("sources", "similarity") + QUERY_LAYERS
    run.layer["trace.layers_exec_sum_s"] = sum(
        run.layer[f"{x}.exec_s"] for x in layers)
    run.layer["trace.layers_plan_sum_s"] = sum(
        run.layer[f"{x}.plan_s"] for x in layers)


def fill_from_events(run: Run) -> None:
    """Per-layer metrics that come from the event log, read after the
    session has stopped and the log is closed."""
    events = eventlog.read_events(run.eventlog_dir)
    groups = eventlog.by_group(events)
    for g, st in sorted(groups.items()):
        log(f"group {g or '-'}: {st.jobs} jobs, {st.tasks} tasks, "
            f"{st.run_s:.2f} s task time, {st.python_udf_s:.3f} s Python")
    if run.workload == "tile_batch":
        _chain_from_events(run, groups)
        _lineage_from_events(run, events, groups)
    else:
        _queries_from_events(run, groups)


WORKLOADS = {"tile_batch": tile_batch, "query_serve": query_serve}
