"""SparkSession builder with scale-appropriate defaults.

Local runs use local[N]; the same config block is what we'd ship to a
1000-executor cluster — AQE on (runtime re-partitioning + skew-join
handling for hot pages, SURVEY.md §4.2), Arrow enabled for the few
Pandas-UDF paths, UTC timezone pinned so timestamp arithmetic is
deterministic across engines (the DuckDB oracle is naive-UTC).

Python workers fork from ``pydaemon`` (``spark.python.daemon.module``),
PySpark's daemon started warm: it removes two fixed costs every Python
task pays under the stock daemon, the per-task re-read of
``pyspark.zip``'s directory by ``importlib.invalidate_caches()`` and the
post-task ``gc.collect()`` over the whole pandas/pyarrow heap. Results do
not change; a session built elsewhere (the driver contract's vanilla one
in ``__spark_entry__.py``) keeps the stock daemon and gets the same rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "wikitrender-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this is
        # left to AQE coalescing from a higher initial value.
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # our sketch/HOF stages are compute-bound at tiny byte sizes; the
        # default 1m floor lets AQE coalesce them to ONE task. 16k keeps
        # post-shuffle parallelism for byte-light rows and is irrelevant
        # once partitions are MB-sized (any real scale factor).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # reclaim WTR_BARRIER_MODE=reliable checkpoint files once their
        # DataFrame is released (barrier.py); core conf, build time only
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.python.daemon.module", "wikitrender_spark.pydaemon")
    )
    return builder.getOrCreate()
