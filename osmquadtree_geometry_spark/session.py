"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import shlex
import shutil

from pyspark import SparkContext
from pyspark.sql import SparkSession


MAX_DRIVER_MEMORY_GB = 24

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
# generated fixtures and the shipped package zip: ``.data/`` next to
# the package, in whichever checkout runs it
DATA_DIR = os.path.join(os.path.dirname(_PACKAGE_DIR), ".data")
_SHIPPED: set[str] = set()


def _default_driver_memory() -> str:
    """Half the host's physical memory in whole GB (at least 1g, at
    most 24g): the driver JVM hosts every local-mode executor, and the
    other half stays free for the Python workers and the OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(MAX_DRIVER_MEMORY_GB, phys // 2**31))}g"


def _submitted_master() -> str | None:
    """The master ``spark-submit`` gave this driver's JVM, or the one
    ``PYSPARK_SUBMIT_ARGS`` gives the JVM the builder launches (parsed:
    a JVM launched here would miss the builder's driver memory)."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # under spark-submit
        SparkContext._ensure_initialized()
        return SparkContext._jvm.java.lang.System.getProperty("spark.master")
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    return next((v for f, v in zip(args, args[1:]) if f == "--master"), None)


def get_spark(app: str = "osmquadtree_geometry_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local session sized to the host: ``local[<cores>]`` (unless
    ``master`` or a submitted master, :func:`_submitted_master`, is
    given) and :func:`_default_driver_memory`, unless
    ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` say otherwise."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or _submitted_master() or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m advisory size coalesces local-scale shuffles to a
        # single partition, serializing every stage; 8m keeps ~cores
        # partitions at test scale while staying irrelevant at TB scale
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark's default (false) plans a cached relation without AQE's
        # partition coalescing, so every persist keeps
        # shuffle.partitions partitions whatever its size, and each
        # becomes a task in every stage that reads it: J2's mapInPandas
        # ran 8 tasks, and so 4 concurrent ~129 MB Python workers, for
        # 111 relations.  With true, AQE sizes each persisted stage
        # output from its data (1 partition at 220 docs, many at
        # scale).  Measured on a 4-core host, perfbench tile_batch
        # (medians of 10 runs): peak RSS 2263 -> 1807 MB, J2 8 -> 1
        # task, 1 Python worker instead of 4; query_serve peak RSS
        # 2245 -> 1814 MB.  The executed chain plans keep their
        # Exchanges and joins
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # write_bucketed leaves exactly ONE file per bucket, so the
        # planning-time file listing this enables is O(n_buckets) and
        # the per-bucket sort order reaches the scan: bucketed merge
        # joins run sort-free (Spark only assumes bucket order when a
        # bucket has at most one file, so this is safe for any layout)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # the scan side carries the explode+parse work; 128m splits a
        # local single-file fixture into ~3 tasks (tune per deployment:
        # at 100TB with thousands of files the default is fine)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY")
                or _default_driver_memory())
        # local-mode shuffles go through spark.local.dir; on this host
        # /tmp is disk-backed and serializes concurrent shuffle IO —
        # use tmpfs when available (a real cluster uses local NVMe)
        .config("spark.local.dir",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp")
        # collect_list over millions of groups (the J1 per-way regroup,
        # J2 member collect) always exceeds ObjectHashAggregate's
        # fallback threshold and re-sorts anyway — skipping the doomed
        # hash attempt measured -9% wall / -10% cpu at 4 cores and
        # -12% at 16 on the 14M-doc metric job, a wash at 32 (minima).
        # CAVEAT: internal conf (may be renamed across Spark versions)
        # applied session-wide, so small-group object aggregates lose
        # ObjectHashAggregate too; for mixed workloads, restore the
        # stock planner with SPARK_GRAFT_EXTRA_CONF=
        # "spark.sql.execution.useObjectHashAggregateExec=true"
        .config("spark.sql.execution.useObjectHashAggregateExec", "false")
        # G1's concurrent cycles thrash with 32 task threads on this
        # allocation-heavy batch workload (measured 2.3x slower);
        # throughput collector wins for pure batch
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # InferFiltersFromGenerate synthesizes `size(gen) > 0 AND
        # isnotnull(gen)` above every explode, duplicating the
        # generator expression twice, and predicate pushdown then
        # re-inlines any staged upstream columns into both copies —
        # for higher-order-function generators (shingling: a split()
        # referenced inside the lambda) that turns into a per-ELEMENT
        # re-tokenize, measured 5x slower at ANY scale (7-10s vs
        # 0.6-0.9s on the 50k-doc shingle explode).  Our generators
        # are never-empty by construction, so the pruning the rule
        # buys is nil; excluding it is scale-independent
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
    )
    # ad-hoc experiment overrides: "k=v;k=v" (bench A/B harness)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship this package to the executors' Python workers as a zip, as
    ``spark-submit --py-files`` would, so a driver started from any
    directory can run Python stages.  The zip lives under
    :data:`DATA_DIR` and is rebuilt when a source file is newer (a
    stale zip would ship old code); it is added once per application."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    os.makedirs(DATA_DIR, exist_ok=True)
    zip_base = os.path.join(DATA_DIR, "osmquadtree_geometry_spark_pkg")
    zip_path = zip_base + ".zip"
    src_mtime = max(os.path.getmtime(os.path.join(r, f))
                    for r, _, fs in os.walk(_PACKAGE_DIR)
                    for f in fs if f.endswith(".py"))
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
        shutil.make_archive(zip_base, "zip",
                            root_dir=os.path.dirname(_PACKAGE_DIR),
                            base_dir=os.path.basename(_PACKAGE_DIR))
    sc.addPyFile(zip_path)
    _SHIPPED.add(sc.applicationId)
