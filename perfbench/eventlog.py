"""Parser for Spark's own event log (``spark.eventLog.enabled``,
uncompressed JSON lines) that attributes jobs, stages and tasks to the
job group the benchmark set around each layer call.

Only the fields the per-layer metrics need are read: job group and
stage ids from ``SparkListenerJobStart``, task run and GC time,
shuffle write, spill and input records from ``SparkListenerTaskEnd``,
and the Python-worker time SQL metric from the task accumulables
(its unit comes from the SQL plan's metric type).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

PYTHON_TIME_METRIC = "time to run Python workers"
_UNIT_S = {"nsTiming": 1e-9, "timing": 1e-3}


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_records: int = 0
    python_udf_s: float = 0.0
    # stage id -> executor run times (ms) of its tasks
    stage_task_ms: dict = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """max/median task run time of the group's busiest stage (the
        one with the largest summed task time); 1.0 when that stage has
        a single task or the group ran none."""
        if not self.stage_task_ms:
            return 1.0
        times = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def read_events(log_dir: str) -> list[dict]:
    """All events under ``log_dir``: rolling ``eventlog_v2_*``
    directories (files ``events_<n>_*`` in index order) and plain
    single-file logs."""
    paths = []
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(d, "events_*"))
        parts.sort(key=lambda p: int(re.match(r"events_(\d+)_",
                                              os.path.basename(p)).group(1)))
        paths.extend(parts)
    paths.extend(p for p in sorted(glob.glob(os.path.join(log_dir, "*")))
                 if os.path.isfile(p) and not p.endswith(".inprogress"))
    events = []
    for p in paths:
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_metric_units(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in plan.get("children", ()):
        _plan_metric_units(child, out)


def by_group(events: list[dict]) -> dict[str, GroupStats]:
    """Job group -> GroupStats.  Jobs without a group go under ''.  A
    stage shared by several jobs counts for the first job that listed
    it."""
    units: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_units(e.get("sparkPlanInfo", {}), units)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            # metrics of plan nodes that adaptive re-planning created
            _plan_metric_units({"metrics": e.get("sqlPlanMetrics", ())},
                               units)
        elif kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(g, GroupStats()).jobs += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"], "")
            st = groups.setdefault(g, GroupStats())
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            st.tasks += 1
            run_ms = m.get("Executor Run Time", 0)
            st.run_s += run_ms / 1e3
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write_mb += (m.get("Shuffle Write Metrics", {})
                                    .get("Shuffle Bytes Written", 0)) / 2**20
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
            st.input_records += (m.get("Input Metrics", {})
                                 .get("Records Read", 0))
            st.stage_task_ms.setdefault(e["Stage ID"], []).append(run_ms)
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    # unlisted ids: Spark 4.1 declares the metric "timing"
                    scale = _UNIT_S.get(units.get(acc.get("ID"), "timing"),
                                        1e-3)
                    st.python_udf_s += float(acc.get("Update", 0)) * scale
    return groups


def job_submit_times_ms(events: list[dict], group: str) -> list[int]:
    """Submission times (epoch ms) of the jobs of one job group."""
    return [e["Submission Time"] for e in events
            if e.get("Event") == "SparkListenerJobStart"
            and (e.get("Properties") or {}).get("spark.jobGroup.id") == group]
