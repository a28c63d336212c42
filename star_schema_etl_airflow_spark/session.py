"""SparkSession factory with scale-appropriate defaults.

The reference delegates execution to BigQuery; here Spark is the engine, so
session-level configuration is where the workload-level optimizations the
reference encodes manually (partition pruning, incremental refresh — see
SURVEY.md §4) become automatic:

- UTC session timezone (BigQuery ``DATE(timestamp)`` is UTC; pins semantics)
- AQE on (runtime join-strategy selection, skew-join splitting, partition
  coalescing) — the 100 TB story relies on this
- dynamic partition overwrite (idempotent per-date partition refresh, the
  Spark equivalent of the reference's DELETE-then-INSERT datamart pattern,
  ``sql/datamart/sales/sales_summary.sql:6-7``)
- a codegen cache sized to the pipeline's working set: a nightly run date
  compiles about 153 distinct generated classes, more than Spark's
  100-entry LRU default holds, so every date recompiled all of them.  The
  cache is one JVM-wide object sized at its first use, so its size is
  fixed by the session that starts the JVM (see ``CODEGEN_CACHE_ENTRIES``)

Cluster-vs-local behavior: under ``spark-submit --master yarn`` the master
arrives via the ``spark.master`` system property / SparkConf, NOT an env var,
and calling ``builder.master()`` would override it.  We therefore only default
to ``local[N]`` when no master is configured anywhere, and we only pin the
CPU-derived shuffle-partition count in that local case — on a cluster the
initial shuffle partitioning is left high (AQE coalesces down; it can never
split a too-coarse initial partitioning upward).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Initial shuffle partitions for CLUSTER runs: AQE can only coalesce down,
# never split up, so start high and let it merge (per partition ~ a few
# hundred MB at 100 TB input this is still coarse; tune per job).
CLUSTER_SHUFFLE_PARTITIONS = 2000

# Entries in Spark's generated-code cache (spark.sql.codegen.cache.maxEntries).
# Working sets measured at seed 7, 4 cores: one nightly run date cycles
# through about 153 distinct generated classes; the analyst queries use 34.
# Spark's default of 100 is LRU, so each nightly class was evicted before
# the next date needed it and every date recompiled 151-154 classes; with
# room for the whole set a date compiles about 20 (the classes that inline
# the run date as a literal).  The rest is headroom for plan-shape
# variation.  This is a static conf and the cache is one JVM-wide object
# sized at its first use: only the factory that builds the JVM's first
# session can set it, and the reuse path below cannot change it.
CODEGEN_CACHE_ENTRIES = 1000


def _local_cpus() -> int:
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if raw.isdigit() and int(raw) > 0:
        return int(raw)
    return os.cpu_count() or 8


def _master_already_configured() -> bool:
    """True if spark.master is supplied by spark-submit / JVM properties."""
    try:
        from pyspark.conf import SparkConf

        return SparkConf().contains("spark.master")
    except Exception:  # pragma: no cover - defensive
        return False


def _driver_memory_configured() -> bool:
    """True if spark.driver.memory arrives from spark-submit / properties."""
    try:
        from pyspark.conf import SparkConf

        return SparkConf().contains("spark.driver.memory")
    except Exception:  # pragma: no cover - defensive
        return False


def _default_local_driver_memory() -> str:
    """Half of physical RAM in GiB, clamped to [2g, 48g]."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page_size / (1024 ** 3)
    except (ValueError, OSError):  # pragma: no cover - defensive
        total_gib = 8.0
    return f"{max(2, min(48, int(total_gib // 2)))}g"


def get_spark(app_name: str = "star-schema-etl-spark",
              master: str | None = None,
              shuffle_partitions: str | int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the master comes from spark-submit (``spark.master``
    conf); locally we default to ``local[$SPARK_GRAFT_CPUS]``.  If a session
    already exists, getOrCreate() reuses it and static confs are ignored —
    we log a warning in that case (mirrors Spark's own behavior).
    """
    existing = SparkSession.getActiveSession()
    if existing is not None:
        if shuffle_partitions is not None:
            # shuffle.partitions is a runtime conf — safe to apply live.
            existing.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        log.warning(
            "Reusing existing SparkSession %s; static configs not re-applied.",
            existing.sparkContext.applicationId,
        )
        return existing

    builder = SparkSession.builder.appName(app_name)

    is_local = False
    if master:
        builder = builder.master(master)
        is_local = master.startswith("local")
    elif not _master_already_configured():
        builder = builder.master(f"local[{_local_cpus()}]")
        is_local = True

    if shuffle_partitions is None:
        # Local: ~1 partition per core (tiny data, avoid task overhead).
        # Cluster: high initial count; AQE coalesces to the right size.
        shuffle_partitions = _local_cpus() if is_local else CLUSTER_SHUFFLE_PARTITIONS

    conf = {}
    if is_local and not _driver_memory_configured():
        # Local mode runs every "executor" thread inside the ONE driver
        # JVM, whose default heap is 1g — 32 concurrent tasks on 1g spends
        # the run in GC and OOMs on join fan-out.  Size the heap to the
        # box (half of physical RAM, capped) the way a cluster deployment
        # would size executors.  Only set when this process is about to
        # LAUNCH the JVM; under spark-submit the submit args own it.
        conf["spark.driver.memory"] = _default_local_driver_memory()
    if is_local:
        # Throughput GC for the local batch JVM: short-lived tiny tasks
        # at a high allocation rate favor ParallelGC over the JDK-17
        # default G1 (latency-oriented, pays region bookkeeping) —
        # measured 14% faster across five headline queries at sf0.1,
        # and 1.8× faster on the allocation-heaviest stage we have (the
        # PPJoin verify at ×16 of sf0.1, jvmGCTime up to 75% of task
        # time under G1 — SCALE_CURVE.md round-10 deep cells).  The
        # same measurements showed a BIGGER heap is not a substitute:
        # 96g was WORSE than 48g for that stage (larger old regions,
        # longer collections), which is why the default heap above
        # clamps at 48g.  A cluster deployment applies the same pair
        # per-executor via spark.executor.extraJavaOptions /
        # spark.executor.memory; only the local launch is ours to
        # decide here, and extra_conf below can still override.
        conf["spark.driver.extraJavaOptions"] = "-XX:+UseParallelGC"

    conf |= {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # Arrow for the Pandas-UDF extension operators (similarity, multimodal)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # keep driver results bounded; operators never collect big data anyway
        "spark.driver.maxResultSize": "2g",
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
