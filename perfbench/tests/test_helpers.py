"""Self-tests of the benchmark's Spark-free helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
from harness import (PAGE_KB, RssSampler, iqr_frac,  # noqa: E402
                     nearest_rank, quartiles, rss_by_process, steal_share,
                     tail_percentile, tree_pids, tree_rss_mb)


# -- percentile rule -----------------------------------------------------------

def test_tail_percentile_picks_highest_with_ten_beyond():
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert tail_percentile([float(i) for i in range(1, 1001)]) == (99.0, 990.0)


def test_tail_percentile_needs_ten_beyond_the_median():
    assert tail_percentile([float(i) for i in range(1, 20)]) is None
    assert tail_percentile([float(i) for i in range(1, 21)]) == (50.0, 10.0)


def test_tail_percentile_counts_strictly_greater_samples():
    # ties with the percentile value are not "beyond" it
    samples = [1.0] * 95 + [2.0] * 5
    assert tail_percentile(samples) is None


def test_nearest_rank_and_iqr():
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert nearest_rank([5.0], 99.9) == 5.0
    with pytest.raises(ValueError):
        nearest_rank([], 50)
    assert quartiles([3.0, 1.0, 2.0]) == (1.0, 2.0, 3.0)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)
    assert iqr_frac([10.0] * 5) == 0.0
    assert iqr_frac([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


def test_steal_share_is_the_steal_delta_over_all_ticks():
    before = [100, 0, 10, 500, 0, 0, 0, 5, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 15, 0, 0]  # +60 +10 +20 +10 = 100
    assert steal_share(before, after) == pytest.approx(0.10)
    assert steal_share(before, before) == 0.0


# -- process-tree RSS sampler --------------------------------------------------

_GRANDCHILD = ("import time; b = bytearray(96 * 2**20); "
               "b[::4096] = b'x' * len(b[::4096]); print('ready', flush=True); "
               "time.sleep(30)")
_CHILD = ("import subprocess, sys; "
          f"p = subprocess.Popen([sys.executable, '-c', {_GRANDCHILD!r}], "
          "stdout=sys.stdout); p.wait()")


def test_rss_sampler_sums_the_whole_process_tree():
    """Like the JVM -> pyspark daemon -> worker chain: memory held by a
    grandchild counts toward the peak of the benchmark's tree."""
    base = tree_rss_mb(os.getpid())
    with RssSampler(interval_s=0.05) as rss:
        child = subprocess.Popen([sys.executable, "-c", _CHILD],
                                 stdout=subprocess.PIPE, text=True)
        try:
            assert child.stdout.readline().strip() == "ready"
            pids = tree_pids(os.getpid())
            assert child.pid in pids and len(pids) >= 3
            assert tree_rss_mb(os.getpid()) - base > 80
            time.sleep(0.2)
        finally:
            for pid in reversed(tree_pids(child.pid)):
                os.kill(pid, 9)
            child.wait(timeout=10)
    assert rss.peak_mb - base > 80
    deadline = time.monotonic() + 10
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tree_pids(os.getpid()) == [os.getpid()]


def _stat(ppid: int, vsize: int, rss_mb: int) -> list[str]:
    f = ["S", str(ppid)] + ["0"] * 18 + [str(vsize),
                                        str(rss_mb * 1024 // PAGE_KB)]
    return f + ["0"] * 10


def test_rss_skips_a_spawned_child_still_in_its_parents_memory():
    stats = {10: ("java", _stat(1, 9000, 1500)),
             11: ("Executor task l", _stat(10, 9000, 1500)),  # pre-exec
             12: ("python", _stat(10, 400, 60)),
             13: ("python", _stat(12, 420, 70))}  # forked, diverged
    assert rss_by_process(stats) == {"10:java": 1500.0, "12:python": 60.0,
                                     "13:python": 70.0}


# -- event-log attribution -----------------------------------------------------

def _task(stage: int, run_ms: int, shuffle: int = 0, accs=()) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": False, "Accumulables": list(accs)},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Input Metrics": {"Records Read": 7}}}


def _job(job: int, stages: list[int], group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": 1000 + job, "Stage IDs": stages,
            "Properties": props}


def _write_rolling_log(root, events: list[dict]) -> str:
    d = root / "eventlog_v2_local-1"
    d.mkdir()
    half = len(events) // 2
    # index 10 sorts before 2 as text: the reader must order numerically
    for idx, chunk in ((2, events[half:]), (10, []), (1, events[:half])):
        (d / f"events_{idx}_local-1").write_text(
            "".join(json.dumps(e) + "\n" for e in chunk))
    return str(root)


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    sql = {"Event": "org.apache.spark.sql.execution.ui."
                    "SparkListenerSQLExecutionStart",
           "sparkPlanInfo": {"metrics": [], "children": [{"metrics": [
               {"name": eventlog.PYTHON_TIME_METRIC, "accumulatorId": 7,
                "metricType": "nsTiming"}], "children": []}]}}
    aqe = {"Event": "org.apache.spark.sql.execution.ui."
                    "SparkListenerSQLAdaptiveSQLMetricUpdates",
           "sqlPlanMetrics": [{"name": eventlog.PYTHON_TIME_METRIC,
                               "accumulatorId": 8, "metricType": "timing"}]}
    py = {"ID": 7, "Name": eventlog.PYTHON_TIME_METRIC, "Update": 2 * 10**9}
    py_ms = {"ID": 8, "Name": eventlog.PYTHON_TIME_METRIC, "Update": 500}
    events = [sql, aqe,
              _job(0, [0], "decode"),
              _job(1, [1, 2], "multipolygons"),
              _job(2, [2, 3], None),   # stage 2 stays with job 1's group
              _task(0, 100), _task(0, 300), _task(0, 200),
              _task(1, 50, shuffle=2**20), _task(1, 50, shuffle=2**20),
              _task(2, 10, accs=[py, py_ms]),
              _task(3, 5)]
    evs = eventlog.read_events(_write_rolling_log(tmp_path, events))
    assert evs == events
    g = eventlog.by_group(evs)
    assert set(g) == {"decode", "multipolygons", ""}
    assert (g["decode"].jobs, g["decode"].tasks) == (1, 3)
    assert g["decode"].task_skew == pytest.approx(300 / 200)
    assert g["decode"].run_s == pytest.approx(0.6)
    mp = g["multipolygons"]
    assert (mp.jobs, mp.tasks) == (1, 3)
    assert mp.shuffle_write_mb == pytest.approx(2.0)
    assert mp.python_udf_s == pytest.approx(2.5)  # 2e9 ns + 500 ms
    assert mp.input_records == 21
    assert (g[""].jobs, g[""].tasks) == (1, 1)
    assert eventlog.job_submit_times_ms(evs, "multipolygons") == [1001]


def test_task_skew_of_a_group_without_tasks_is_one():
    assert eventlog.GroupStats().task_skew == 1.0


# -- BENCHMARK.json agrees with what run.py prints -----------------------------

def test_benchmark_json_names_the_printed_metrics():
    from types import SimpleNamespace

    import run
    import workloads
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    printed = run.end_to_end(SimpleNamespace(setup_s=1.0, op_s=[2.0]), 3.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in printed.items()}
    units = workloads.per_layer_units()
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, units[n]) for n in workloads.per_layer_names()]
    assert set(workloads.WORKLOADS) == {w["name"] for w in bench["workloads"]}
