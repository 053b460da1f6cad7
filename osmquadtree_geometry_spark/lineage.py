"""Per-stage lineage + metrics table with idempotent resume.

North-rule requirement: every stage checkpoints per-partition lineage
and row/byte metrics to a metadata table so runs resume idempotently
mid-tiling.  Backing store: parquet directory (Iceberg-ready — the
schema matches an Iceberg table; the runtime jar is not in this
container, so writes go through the same DataFrame API against
parquet, SURVEY §1.6).

Model: a stage run is identified by (stage, input_fingerprint).  A
completed run writes one `_SUCCESS`-gated lineage row per partition
plus its output parquet; `run_stage` skips recomputation when lineage
for the same fingerprint already exists (mirrors OtherData/Timings
instrumentation, `lib.rs:61-68`).

All reads/writes go through the tableio seam, so with
SPARK_GRAFT_TABLE_FORMAT=iceberg the lineage store IS an Iceberg
metadata table (the north rule's `_lineage` table) and the resume
marker becomes an atomic snapshot commit.
"""

from __future__ import annotations

import os
import re
import time
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tableio import read_table, table_exists, write_table

LINEAGE_SCHEMA = ("stage string, input_fingerprint string, partition_id int, "
                  "rows long, bytes long, completed_at double")


class LineageStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, f"lineage_stage={stage}")

    def read(self, stage: str) -> DataFrame | None:
        d = self._dir(stage)
        if not table_exists(self.spark, d):
            return None
        try:
            return read_table(self.spark, d)
        except Exception:
            return None

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        df = self.read(stage)
        if df is None:
            return False
        return df.where(F.col("input_fingerprint") == fingerprint).count() > 0

    def record(self, stage: str, fingerprint: str, out: DataFrame,
               out_dir: str) -> None:
        """Append per-file (rows, bytes) metrics for a stage run.

        ``out`` is read back from ``out_dir``, the just-written parquet
        directory: rows are counted per source file
        (``input_file_name``) and bytes are each file's REAL on-disk
        size — one small collect of one row per output file."""
        now = time.time()
        counts = (out.withColumn("f", F.input_file_name())
                  .groupBy("f").agg(F.count("*").alias("rows")).collect())
        rows = []
        for r in sorted(counts, key=lambda r: r.f):
            path = unquote(urlparse(r.f).path)
            m = re.search(r"part-(\d+)-", os.path.basename(path))
            pid = int(m.group(1)) if m else len(rows)
            rows.append((stage, fingerprint, pid, r.rows,
                         os.path.getsize(path), now))
        if not rows:  # empty output: one zero-row marker partition
            rows = [(stage, fingerprint, 0, 0, 0, now)]
        write_table(self.spark.createDataFrame(rows, LINEAGE_SCHEMA),
                    self._dir(stage), mode="append")

    def output_dir(self, stage: str, fingerprint: str) -> str:
        return os.path.join(self.root, f"out_stage={stage}",
                            f"fp={fingerprint}")


def fingerprint_input(path: str) -> str:
    """Cheap deterministic input fingerprint: file names + sizes."""
    import hashlib
    h = hashlib.md5()
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            p = os.path.join(path, f)
            h.update(f.encode())
            h.update(str(os.path.getsize(p)).encode())
    else:
        h.update(os.path.basename(path).encode())
        h.update(str(os.path.getsize(path)).encode())
    return h.hexdigest()[:16]


def run_stage(store: LineageStore, stage: str, fingerprint: str,
              build: "callable", force: bool = False) -> tuple[DataFrame, bool]:
    """Idempotent stage execution: returns (output_df, resumed).

    If lineage for (stage, fingerprint) exists and the output parquet
    is readable, the stage is SKIPPED and its output re-read (resume
    path); otherwise ``build()`` runs, its output is materialized, and
    lineage is recorded."""
    out_dir = store.output_dir(stage, fingerprint)
    if not force and store.is_complete(stage, fingerprint):
        try:
            return read_table(store.spark, out_dir), True
        except Exception:
            pass  # lineage without output -> recompute
    df = build()
    write_table(df, out_dir)
    materialized = read_table(store.spark, out_dir)
    store.record(stage, fingerprint, materialized, out_dir=out_dir)
    return materialized, False
