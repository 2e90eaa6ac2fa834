"""SparkSession factory tuned for this engine.

Settings chosen for 100 TB posture (and harmless at local scale):
- AQE on (runtime coalesce, skew-join splitting) — replaces the reference's
  manual ``batch_size`` item batching (/root/reference/data_processing/stats.py:158).
- Arrow on — all Python-side compute is vectorized pandas UDFs, never per-row.
- UTC session timezone so epoch arithmetic matches the DuckDB oracle exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "pyanomalydetector-spark", master: str | None = None,
              shuffle_partitions: str | None = None) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions",
                shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Plan-construction fast path: pyspark 4 wraps EVERY DataFrame/Column
        # API call with a call-site-capture decorator (errors/utils.py
        # _with_origin) costing ~4 py4j round trips per call — measured 1.5 s
        # → 0.65 s to BUILD the fused check-suite plan (a ~7k-round-trip
        # storm) with it off. The only loss is the Python call-site line in
        # error QueryContexts; the engine's own errors carry their context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache sized to the check suite (a static conf, read
        # once per JVM): the default suite's first 5k-row micro-batch
        # compiles 141 classes, and a warm batch touches its classes in the
        # same order every time, so the default 100-entry LRU evicted each
        # before its next use — 94-107 Janino compiles per warm batch, whose
        # classes then also ran unJITted. At 1000 a warm batch compiles only
        # the 4 projections that carry its run_id literal.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
