"""Per-stage lineage + row/byte metrics with idempotent resume
(north rule; mirrors OtherData/Timings, `lib.rs:61-68`).

A stage run, identified by (stage, input_fingerprint), writes a
parquet checkpoint; the driver then reads each part file's rows from
its footer and bytes from the file system (no Spark job) and writes
that list as the run's lineage record, replacing any earlier one.
``run_stage`` resumes a stage only when the same files, with the same
rows and bytes, are still on disk; otherwise it recomputes and logs
why.  Checkpoints and lineage are parquet under the work dir whatever
``SPARK_GRAFT_TABLE_FORMAT`` says (the check reads footers, and an
Iceberg catalog takes table names, not paths); Spark reads
``<workdir>/lineage_stage=<stage>`` as a table.  A checkpoint reopens
with the schema Spark wrote into its footers
(:func:`tableio.read_parquet`), so a resumed stage runs no Spark job.
"""

from __future__ import annotations

import hashlib
import logging
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .tableio import read_parquet

log = logging.getLogger(__name__)

LINEAGE_SCHEMA = pa.schema({
    "stage": pa.string(), "input_fingerprint": pa.string(),
    "partition_id": pa.int32(), "part": pa.string(), "rows": pa.int64(),
    "bytes": pa.int64(), "completed_at": pa.float64()})


def _part_files(out_dir: str) -> dict[str, tuple[int, int]]:
    """{part file name: (rows, bytes)} of a parquet checkpoint; raises
    OSError, or pyarrow.ArrowInvalid naming a file that does not parse."""
    parts = {}
    for name in sorted(os.listdir(out_dir)):
        if not name.startswith("part-"):
            continue
        p = os.path.join(out_dir, name)
        try:
            parts[name] = (pq.read_metadata(p).num_rows, os.path.getsize(p))
        except pa.ArrowInvalid as e:
            raise pa.ArrowInvalid(f"{name}: {e}") from e
    return parts


class LineageStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def output_dir(self, stage: str, fingerprint: str) -> str:
        return os.path.join(self.root, f"out_stage={stage}",
                            f"fp={fingerprint}")

    def record_path(self, stage: str, fingerprint: str) -> str:
        return os.path.join(self.root, f"lineage_stage={stage}",
                            f"{fingerprint}.parquet")

    def record(self, stage: str, fingerprint: str) -> None:
        """Record the (rows, bytes) of each part file of the stage's
        checkpoint, replacing an earlier record of the same run."""
        now = time.time()
        rows = [{"stage": stage, "input_fingerprint": fingerprint,
                 "partition_id": int(f.split("-")[1]), "part": f,
                 "rows": n, "bytes": size, "completed_at": now}
                for f, (n, size) in
                _part_files(self.output_dir(stage, fingerprint)).items()]
        path = self.record_path(stage, fingerprint)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, LINEAGE_SCHEMA), path)

    def check(self, stage: str, fingerprint: str) -> str | None:
        """None when the stage's checkpoint is on disk as recorded,
        else the reason it is not."""
        path = self.record_path(stage, fingerprint)
        if not os.path.exists(path):
            return "no lineage record"
        try:
            rec = pq.read_table(path, columns=["part", "rows", "bytes"])
            have = _part_files(self.output_dir(stage, fingerprint))
        except (OSError, pa.ArrowInvalid) as e:
            return f"unreadable: {e}"
        want = {r["part"]: (r["rows"], r["bytes"]) for r in rec.to_pylist()}
        return "; ".join(
            f"{f} (rows, bytes): recorded {want.get(f)}, on disk {have.get(f)}"
            for f in sorted(want.keys() | have.keys())
            if want.get(f) != have.get(f)) or None


def fingerprint_input(path: str) -> str:
    """Cheap deterministic input fingerprint: file names + sizes."""
    h = hashlib.md5()
    for p in ([os.path.join(path, f) for f in sorted(os.listdir(path))]
              if os.path.isdir(path) else [path]):
        h.update(os.path.basename(p).encode())
        h.update(str(os.path.getsize(p)).encode())
    return h.hexdigest()[:16]


def run_stage(store: LineageStore, stage: str, fingerprint: str,
              build: "callable", force: bool = False) -> tuple[DataFrame, bool]:
    """Idempotent stage execution: returns (output_df, resumed).  Unless
    ``force``, a checkpoint that passes :meth:`LineageStore.check` is
    re-read; otherwise ``build()`` runs and its output and lineage are
    written."""
    out_dir = store.output_dir(stage, fingerprint)
    if not force:
        why = store.check(stage, fingerprint)
        if why is None:
            return read_parquet(store.spark, out_dir), True
        # a stage that has left nothing behind is simply not run yet
        fresh = why == "no lineage record" and not os.path.exists(out_dir)
        log.log(logging.INFO if fresh else logging.WARNING,
                "recomputing checkpoint %s: %s", out_dir, why)
    build().write.mode("overwrite").parquet(out_dir)
    store.record(stage, fingerprint)
    return read_parquet(store.spark, out_dir), False
