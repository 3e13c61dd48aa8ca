"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configuration is chosen so the same
logical plans scale to a real cluster (AQE, skew handling, broadcast joins).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Columns-per-batch for Arrow-based pandas UDF transfer.
ARROW_BATCH = 10_000


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: 24g (see the
    note in :func:`get_spark`), capped at half of the host's physical
    memory. A heap larger than RAM is never needed at the scale such a
    host can hold, and it lets the JVM grow until the kernel's OOM killer
    ends the whole session (a long test run on a 16 GB host reached
    15 GB of JVM RSS under the 24g heap)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 1024 // 2
                    return f"{min(24 << 10, half_mb)}m"
    except OSError:
        pass
    return "24g"


def get_spark(
    app_name: str = "dbt_analytics_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-minded defaults.

    Defaults chosen for 100 TB readiness, not just local tests:

    - AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
      dynamic broadcast conversion) — at cluster scale this replaces manual
      ``spark.sql.shuffle.partitions`` tuning per query.
    - Arrow enabled so any pandas-UDF fallback moves data in columnar batches.
    - Session timezone pinned to UTC so date/timestamp semantics are
      reproducible across drivers (and match the DuckDB correctness oracle).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # local[32] puts all executor threads in the driver JVM: 8g was
        # 0.25 GB/thread and measurably GC-bound at 240M fact rows
        # (BENCH_NOTES r10: j1b 6.74 s at 8g vs 4.66 s at 32g, same
        # plan/data/host). 24g ≈ 0.75 GB/thread on the 128 GiB bench host
        # — still conservative vs any real cluster executor sizing.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
