"""End-to-end detection pipeline over the ``events`` stream table.

Maps the benchmark ``events`` table onto the reference's data model
(itemid=user_id, clock=epoch(ts), value=value — the reference's universal
long-format row, /root/reference/data_getter/data_getter.py:37-40), splits
history/trend windows around a pinned ``ENDEP`` (the reference pins
``endep=1739505598`` in its detector tests, tests/test_detector_all.py:20-53),
and runs the detect1→2→3→4 cascade (one predicate plan,
operators/cascade_fused.py).

Window layout (config-derived, mirrors README.md:4 "recent vs past"):
- trends window  [ENDEP − trends_interval·trends_retention, h_start)
  rolled into 1-day envelopes (logan_getter.py:253-268 semantics)
- history window [h_start, ENDEP] raw
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyanomalydetector_spark.operators.cascade_fused import detect_cascade
from pyanomalydetector_spark.operators.detect import DetectorConfig
from pyanomalydetector_spark.operators.rollup import tumbling_rollup
from pyanomalydetector_spark.sources.tables import load_table

# 2024-01-31 00:00:00 UTC — just past the last event in the synthetic table
ENDEP = 1706659200


def events_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (itemid, clock, value). unix_timestamp truncates to seconds,
    matching the oracle's CAST(FLOOR(epoch(ts)) AS BIGINT)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("itemid"),
        F.unix_timestamp("ts").alias("clock"),
        F.col("value").cast("double").alias("value"),
    )


def _grid_counts(t_start: int, endep: int, startep2: int,
                 unit: int) -> tuple[int, int]:
    """Base-clock grid sizes (normalizer.get_base_clocks over [t_start, endep]
    at ``unit``, detector.py:526, 544-545): full count and count >= startep2."""
    base_lo = t_start - (t_start % unit)
    base_hi = endep - (endep % unit)
    full = (base_hi - base_lo) // unit + 1
    recent = len([c for c in range(base_lo, base_hi + 1, unit)
                  if c >= startep2])
    return full, recent


def split_windows(metrics: DataFrame, cfg: DetectorConfig,
                  endep: int = ENDEP) -> tuple[DataFrame, DataFrame, int, int, int]:
    """Split into (history_df, trends_env_df) around endep; also return the
    base-clock grid sizes detect3 uses as count denominators
    (detector.py:526, 544-545) and startep2."""
    h_start = endep - cfg.history_interval * cfg.history_retention
    t_start = endep - cfg.trends_interval * cfg.trends_retention
    startep2 = endep - cfg.history_interval * cfg.history_recent_retention

    history = metrics.filter((F.col("clock") >= h_start) & (F.col("clock") <= endep))
    trends_src = metrics.filter((F.col("clock") >= t_start) & (F.col("clock") < h_start))
    trends = tumbling_rollup(trends_src, cfg.trends_interval)

    hist_count, hist_count2 = _grid_counts(t_start, endep, startep2,
                                           cfg.history_interval)
    return history, trends, hist_count, hist_count2, startep2


def long_trends_window(metrics: DataFrame, cfg: DetectorConfig,
                       endep: int = ENDEP) -> tuple[DataFrame, int, int]:
    """detect4's inputs (detector.py:562-570): the envelope rollup over the
    ``long_trends_retention`` window and its base-clock grid sizes."""
    h_start = endep - cfg.history_interval * cfg.history_retention
    t_start4 = endep - cfg.trends_interval * cfg.long_trends_retention
    startep2 = endep - cfg.history_interval * cfg.history_recent_retention

    src = metrics.filter((F.col("clock") >= t_start4) & (F.col("clock") < h_start))
    long_trends = tumbling_rollup(src, cfg.trends_interval)
    hist_count4, hist_count4_2 = _grid_counts(t_start4, endep, startep2,
                                              cfg.history_interval)
    return long_trends, hist_count4, hist_count4_2


def detect_pipeline(spark: SparkSession, sf_dir: str,
                    cfg: DetectorConfig | None = None,
                    endep: int = ENDEP,
                    stages: tuple[int, ...] = (1, 2, 3, 4)) -> DataFrame:
    """Full cascade over events (detect1→2→3→4, like the reference's default
    ``detection_stages``) through the one-plan
    :func:`~pyanomalydetector_spark.operators.cascade_fused.detect_cascade`
    (2 scans, ~3 jobs); returns the surviving anomaly key set.

    The envelope rollups are materialized here (localCheckpoint): the
    cascade reads each of them from several plan branches.
    """
    cfg = cfg or DetectorConfig()
    metrics = events_metrics(spark, sf_dir)
    history, trends, hist_count, hist_count2, startep2 = \
        split_windows(metrics, cfg, endep)
    long_trends = hist_count4 = hist_count4_2 = None
    if 4 in stages:
        long_trends, hist_count4, hist_count4_2 = \
            long_trends_window(metrics, cfg, endep)
        long_trends = long_trends.localCheckpoint()

    t_start = endep - cfg.trends_interval * cfg.trends_retention
    if long_trends is not None and t_start % cfg.trends_interval == 0 \
            and cfg.long_trends_retention >= cfg.trends_retention:
        # Shared-scan path: the short trends window is a bucket-aligned
        # subrange of the long one, so ONE rollup shuffle serves both — the
        # short env is a filter over the checkpointed long rollup (the
        # bucket grid is absolute, so filtered-long ≡ short exactly when
        # t_start sits on a bucket boundary AND the long window actually
        # covers the short one, i.e. long_trends_retention >=
        # trends_retention; a shorter long window would silently truncate
        # the short env to [t_start4, ...), so that config keeps its own
        # short rollup).
        trends = long_trends.filter(F.col("clock") >= t_start)
    else:
        trends = trends.localCheckpoint()
    return detect_cascade(history, trends, history, cfg,
                          hist_count, hist_count2, startep2,
                          long_trends_df=long_trends,
                          hist_count4=hist_count4,
                          hist_count4_2=hist_count4_2,
                          stages=stages)
