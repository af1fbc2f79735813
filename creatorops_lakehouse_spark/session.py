"""SparkSession factory.

Replaces the four near-identical per-job builders in the reference
(pipelines/bronze/ingest_local.py:15-25, pipelines/silver/transform_local.py
and the three gold jobs) with one factory, configured for determinism
(UTC session timezone — required for DuckDB-oracle hash parity) and for
scale (AQE on, skew-join handling, Arrow for any pandas exchange).

Scale notes (100 TB / 1000-executor design):
- AQE re-plans shuffles at runtime: coalesces small post-shuffle partitions
  and splits skewed ones, so a fixed ``spark.sql.shuffle.partitions`` is a
  ceiling, not a tuning knob to get exactly right.
- ``maxPartitionBytes`` 128 MiB keeps scan tasks sized so ~1000 executors
  stream a 100 TB table in ~800k tasks without per-task overhead dominating.
- Session timezone is pinned to UTC so date/timestamp semantics are
  cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_driver_memory() -> str:
    """min(32g, ram/4), env-overridable via SPARK_GRAFT_DRIVER_MEM.

    In local mode the driver JVM IS the executor, so it must hold the
    storage pool for the session-lifetime corpus caches
    (operators/cache.py) on top of shuffle/exec memory. 8g showed uniform
    +0.4-0.6s GC drift across UNRELATED queries once two shingle tables
    stayed persisted; a quarter of the dev box (32g of 128 GiB) clears it.
    Sizing from DETECTED ram instead of hardcoding 32g keeps smaller hosts
    from overcommitting the JVM heap and getting OOM-killed mid-run. The
    8g default applies only when detection FAILS; on a successfully
    detected small host the heap is capped at total−2 GiB (min 1g) so the
    JVM never overcommits physical RAM — the exact failure the detection
    exists to prevent. On a real cluster this maps to executor memory
    sizing, where the same caches are spread over the fleet.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    gib = min(32, max(8, total_gib // 4))
                    # never exceed detected RAM minus headroom for
                    # Python/OS (the small-host overcommit case)
                    return f"{max(1, min(gib, total_gib - 2))}g"
    except OSError:
        pass
    return "8g"


DEFAULT_CONF: dict[str, str] = {
    # JVM-creation-time conf — see _default_driver_memory.
    "spark.driver.memory": _default_driver_memory(),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local default; on a real cluster AQE coalesce makes this a ceiling.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Parquet writers: match reference's column layout expectations.
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Generated-class cache (static conf). At Spark's default of 100
    # entries a medallion day's generated classes were evicted before the
    # next day reused them: 50-70 Janino compiles a day, against 10 at 1000
    # entries (the 10 inline that day's date and timestamp literals). The
    # 30-query panel of perfbench's query_mix ran as fast at 300 as at 1000
    # or 4000 entries; 1000 leaves room for a day and the panel in one
    # session, and JVM non-heap memory did not grow.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def build_spark(
    app_name: str = "creatorops-lakehouse-spark",
    master: str | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``extra_conf`` wins over defaults; ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` (all cores if unset).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf.update({k: str(v) for k, v in extra_conf.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
