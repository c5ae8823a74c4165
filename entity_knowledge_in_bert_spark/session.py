"""SparkSession factory with the engine's canonical configuration.

Scale posture: these configs are what we would ship to a 1000-executor
cluster (AQE on, skew-join handling on, Arrow batching tuned); in the
sandbox they run on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs that matter at 100 TB and cost nothing at sf0.001.
ENGINE_CONFS: dict[str, str] = {
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow boundary: vectorized pandas UDFs, bounded batch size.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics for the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Sandbox-friendly shuffle width; on a real cluster this is set from
    # input size (or left to AQE's coalescing with a high initial value).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # AQE coalescing floor (r7, guide §2.2/§2.6 — measured): the default
    # 1 MB minPartitionSize let AQE coalesce every small COMPRESSED
    # shuffle to a handful of partitions, which then (a) ran the
    # Python-heavy consumers of that exchange (extract/encoder UDFs) on
    # 7 of 32 cores and (b) wrote few-file snapshots whose readers
    # inherit the starvation (file-split floor is one file). 64 KB keeps
    # small-corpus parallelism at the configured shuffle width
    # (measured: mention stage 6.9 s -> 2.6 s at 20k pages) and is
    # size-neutral at scale: with parallelismFirst=true, coalescing
    # only ever MERGES below-floor partitions, and any shuffle larger
    # than (width x floor) bytes is untouched either way.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
}


def _default_driver_mem() -> str:
    """min(48g, ~70% of physical RAM): the 48g working-set sizing from
    BASELINE.md r2, degraded gracefully on smaller hosts so the JVM spills
    under shuffle load instead of getting OOM-killed. Overridable via
    SPARK_GRAFT_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(48, int(total_gb * 0.7)))}g"
    except OSError:
        pass
    return "48g"


def get_spark(app: str = "er-engine", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine configuration."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = SparkSession.builder.appName(app).master(master)
    # JVM-startup-only confs (ignored on an already-running session):
    # local-mode driver == all executors, so the heap must be sized for
    # the CONCURRENT-TASK shuffle working set, exactly like executor
    # memory on a real cluster scales with data volume per core.
    # Measured (BASELINE.md r2): at 1.2M pages the 24g heap GC-throttled
    # local[8] to 1904 docs/s; 48g restored 2799 docs/s (-32% wall).
    b = b.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    )
    b = b.config("spark.driver.maxResultSize", "4g")
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session
    (the verify driver passes us its own session)."""
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # static confs (none in ENGINE_CONFS today) can't be reset; ignore
            pass
    return spark
