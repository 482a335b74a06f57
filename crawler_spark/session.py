"""SparkSession factory with the engine's tuned defaults.

The defaults are chosen for the 100 TB design point and merely *scaled
down* for local testing:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  mega-domain skew on the ``host`` groupBy is first-class in a crawl
  workload (SURVEY §4 "per-host connection caps").
* Arrow execution on — every Python-side computation in this engine is a
  vectorized pandas UDF / ``mapInPandas`` / ``applyInPandas``.
* UTC session timezone — crawl timestamps are data, not wall clock.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition count: on a real cluster this is sized to
# ~2-3x total executor cores (and AQE coalesces down); locally we match
# the core count so tests don't drown in empty partitions.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    half of physical RAM, capped at 24g and floored at 1g, so a driver
    started next to other JVMs on a small host is not sized past the
    machine."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "24g"
    return f"{max(1024, min(24 * 1024, ram_mb // 2))}m"


def build_session(
    app_name: str = "crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults applied.

    Master resolution: explicit arg, else ``SPARK_GRAFT_MASTER``, else —
    so ``spark-submit --master`` is NOT clobbered (the north-rule launch
    path) — whatever ``spark.master`` the launcher already configured,
    falling back to ``local[*]`` only when nothing set one.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if not master:
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            master = "local[*]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: dimension tables (seeds, robots, kb) are
        # tiny relative to the frontier; let Spark broadcast them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Long-running-driver hygiene: a crawl driver survives thousands
        # of waves, each tens of jobs/SQL executions. The status store
        # retains 1000 SQL executions by default — each holding full
        # plan-graph descriptions (MBs for this engine's MOR-union
        # plans), which alone exhausts the heap after ~40 waves — and the
        # ContextCleaner's fallback periodic GC (which releases stale
        # shuffle/broadcast state) defaults to 30min, longer than many
        # runs. Keep bounded history and clean aggressively.
        .config("spark.sql.ui.retainedExecutions", "30")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.cleaner.periodicGC.interval", "3min")
        .config("spark.driver.maxResultSize", "2g")
        # MOR state reads pass explicit bucket-leaf dirs (tableio
        # manifests); above this many paths Spark spawns a distributed
        # file-listing job whose scheduling overhead exceeds a local
        # driver-side listing. Compaction keeps path counts bounded;
        # on object storage an Iceberg backend replaces listing with
        # file-level manifests entirely.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        # Commit-path bytes: the big tables (crawled/packets, the MOR
        # frontier log) are dominated by extracted text, where zstd
        # halves parquet bytes at write CPU equal to snappy (measured
        # ~45 vs ~94 MB on a 98 MB text column at the same wall time).
        # On the single-box bench that directly shrinks the disk-bound
        # fixed term F of each wave's commit; at 100 TB it halves
        # object-storage bytes and scan I/O. Same codec for shuffle /
        # persist blocks (the fetch->extract wave shuffles carry the
        # same text payloads; bench --scaling measured zstd ahead of
        # lz4 once legs spill). Both env-overridable.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        # local-mode executor memory = driver memory; size it for real
        # (hash maps / sort buffers of the fetch join at bench scale)
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
