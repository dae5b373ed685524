"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
conf block is what we'd ship to a 1000-executor cluster: AQE on (runtime
coalescing, skew-join splitting), broadcast threshold sized for dimension
tables, UTC session time zone for deterministic date arithmetic, and Arrow
for any Python-side exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "pharma-spark-engine", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    shuffle_partitions defaults to the local core count; on a real cluster
    AQE coalesces the 200+ initial partitions anyway, so the static number
    only sets the upper bound pre-runtime-statistics.
    """
    cpus = default_parallelism()
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        # --- scale posture: identical conf drives a multi-executor cluster ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # dims here are tiny; at 100 TB the dimension side of a star join is
        # still ≤ a few hundred MB -> keep broadcast aggressive.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # deterministic date/time semantics (oracle parity + cluster parity)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / toPandas exchange (vectorized, not per-row)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Long sessions (bench: ~215 query executions; sweeps: 220 queries)
        # accumulate shuffle files and broadcast refs because the driver
        # heap never pressures a GC, so the ContextCleaner lags (the r6
        # decade-probe finding, BENCH_NOTES). A periodic GC bounds that
        # debt; at 60 s it is far outside any single query's critical path.
        .config("spark.cleaner.periodicGC.interval", "60s")
        # The compiled-class cache is keyed by generated source and holds
        # 100 classes by default. One pharma load (run_pipeline → persist →
        # analytics) compiles ~120, so a session that repeats it evicted
        # each class before its next use and recompiled ~60 of them per
        # load, on the driver, where the compile time grows with whatever
        # else holds the CPU. With 1000 a repeated load or corpus_build pass
        # compiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.security.manager=allow")
    )
    return builder.getOrCreate()
