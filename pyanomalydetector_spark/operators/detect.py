"""The per-stage operators of the detect1→detect2→detect3→detect4 anomaly
cascade, Spark-native. ``detect_cascade`` (operators/cascade_fused.py)
composes the stages as one predicate plan; these operators back the
per-stage queries and serve as its test reference.

Reference: /root/reference/data_processing/detector.py. All inputs are
long-format metric DataFrames ``(itemid, clock, value)`` (the reference's
universal exchange shape, data_getter/data_getter.py:37-40) plus trend
envelopes ``(itemid, clock, value_min, value_avg, value_max)``.

Key structural difference from the reference: where it loops per item and per
``batch_size`` chunk (detector.py:157, 301, 389, 437), every stage here is ONE
distributed plan — groupBy/join/window over all items at once; Spark's hash
aggregation and AQE replace the manual batching, and the per-item Python loops
become whole-stage-codegen window functions.

Deliberate, documented semantic choices:
- The reference's ``ignore_diff_rate`` guard has an operator-precedence bug
  (detector.py:218: ``mean_t > 0 & (...)`` parses as ``mean_t > (0 & ...)``).
  We implement the *intended* semantics ``mean_t > 0 AND reldiff > rate``.
- The detect3 local-peak walk (detector.py:435-457) evaluates sliding-window
  means at stride w/2 anchored at the last sample; we evaluate the same
  ``(c-w, c]`` window mean anchored at every sample row (a superset of anchor
  points, strictly tighter peak estimate) via ``rangeBetween`` — the stride
  was a CPU optimization in pandas, not a semantic.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyanomalydetector_spark.functions.stats import sufficient_stats, finalize_mean_std


@dataclass(frozen=True)
class DetectorConfig:
    """Thresholds mirroring the reference's data-source config (default.yml)."""
    detect1_lambda_threshold: float = 2.0
    detect2_lambda_threshold: float = 2.0
    detect3_lambda_threshold1: float = 3.0
    detect3_lambda_threshold2: float = 2.0
    ignore_diff_rate: float = 0.1
    trends_min_count: int = 3
    anomaly_valid_count_rate: float = 0.2
    history_interval: int = 3600
    trends_interval: int = 86400
    history_retention: int = 72      # history window = interval * retention
    history_recent_retention: int = 24
    trends_retention: int = 27
    long_trends_retention: int = 60
    # replicate the reference's detect2 rel-diff guard bit-for-bit: it
    # divides by the SIGNED diff-mean (detector.py:325, 332), so a negative
    # mean silently fails the guard. False (default) uses the intended
    # |ext−mean| > rate·|mean| semantics.
    strict_reference_diff_guard: bool = False
    # replicate the reference's local-peak anchored-stride walk
    # (detector.py:435-457) instead of the every-row rangeBetween window.
    strict_reference_peaks: bool = False
    # replicate the reference's literal detect1 guard (detector.py:218 parses
    # as ``mean_t > (0 & mask)`` — the rel-diff filter is a no-op), i.e.
    # guard = mean_t > 0 only. False (default) uses the intended semantics.
    strict_reference_detect1_guard: bool = False


def detect1(history_df: DataFrame, trends_df: DataFrame,
            cfg: DetectorConfig) -> DataFrame:
    """detect1 (detector.py:185-230): recent mean beyond λ·σ of trend stats.

    history mean per item ⋈ trend mean/std/cnt per item (J1), gated by
    ``cnt > trends_min_count`` and ``std > 0``, then the λ·σ band filter and
    the relative-diff guard. Returns DF(itemid) — the survivor key set.
    Both sides are per-item aggregates (tiny vs raw rows) → broadcast-friendly.
    """
    t = finalize_mean_std(sufficient_stats(trends_df, ["itemid"], "value")) \
        .select("itemid", F.col("mean").alias("mean_t"),
                F.col("std").alias("std_t"), "cnt") \
        .filter((F.col("cnt") > cfg.trends_min_count) & (F.col("std_t") > 0))
    h = finalize_mean_std(sufficient_stats(history_df, ["itemid"], "value")) \
        .select("itemid", F.col("mean").alias("mean_h"))

    j = h.join(t, "itemid")
    lam = cfg.detect1_lambda_threshold
    band = (F.col("mean_h") > F.col("mean_t") + lam * F.col("std_t")) | \
           (F.col("mean_h") < F.col("mean_t") - lam * F.col("std_t"))
    if cfg.strict_reference_detect1_guard:
        # detector.py:218's literal runtime behavior: the precedence bug makes
        # the rel-diff term vanish, leaving only the positivity gate.
        guard = F.col("mean_t") > 0
    else:
        dev = F.abs(F.col("mean_h") - F.col("mean_t"))
        guard = (F.col("mean_t") > 0) & \
                (F.try_divide(dev, F.col("mean_t")) > cfg.ignore_diff_rate)
    return j.filter(band & guard).select("itemid").distinct()


def adjacent_diff_stats(df: DataFrame, value_col: str = "value") -> DataFrame:
    """W1 (detector.py:299-312): per-item lag diff, drop zeros, mean/std.

    The reference's per-item ``.diff()`` loop becomes one window function.
    pandas ``agg(['mean','std'])`` ≡ avg/stddev_samp (Bessel, NULL at n=1 —
    downstream ``std > 0`` filters drop NULLs exactly like NaNs in pandas).
    """
    w = Window.partitionBy("itemid").orderBy("clock")
    diff = (F.col(value_col) - F.lag(value_col).over(w)).alias("diff")
    return (
        df.select("itemid", "clock", diff)
          .filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
          .groupBy("itemid")
          .agg(F.avg("diff").alias("mean"), F.stddev_samp("diff").alias("std"))
    )


def _detect_diff_anomalies(trends_df: DataFrame, recent_stats: DataFrame,
                           lam: float, ignore_diff_rate: float,
                           is_up: bool, strict_reference: bool = False) -> DataFrame:
    """detector.py:286-337: envelope adjacent-diff stats vs recent extremes."""
    col = "value_max" if is_up else "value_min"
    env = trends_df.select("itemid", "clock", F.col(col).alias("value"))
    tstats = adjacent_diff_stats(env).filter(F.col("std") > 0)

    j = recent_stats.join(tstats, "itemid")
    if is_up:
        diff = F.abs(F.col("max") - F.col("mean"))
    else:
        diff = F.abs(F.col("mean") - F.col("min"))
    if strict_reference:
        # the reference divides by the SIGNED mean (detector.py:325, 332):
        # negative diff-mean → negative ratio → guard fails; mean==0 →
        # pandas inf > rate → passes (try_divide NULL → fails... so map
        # NULL to +inf to match the pandas inf case exactly)
        ratio = F.coalesce(F.try_divide(diff, F.col("mean")),
                           F.lit(float("inf")))
        guard = ratio > ignore_diff_rate
    else:
        # intended semantics, engine-portable: |ext−mean| > rate·|mean|
        # (covers the mean==0 → always-pass case the same way)
        guard = diff > ignore_diff_rate * F.abs(F.col("mean"))
    return j.filter((diff > lam * F.col("std")) & guard).select("itemid")


def detect2(history_df: DataFrame, trends_df: DataFrame,
            cfg: DetectorConfig) -> DataFrame:
    """detect2 (detector.py:340-379): recent min/max−first vs trend-diff σ.

    recent stats: per-item min/max/first-by-clock (first ≡ ``min_by``),
    re-based to the first value (detector.py:344-348); then the up/down
    envelope diff tests, unioned distinct.
    """
    # "first" = value at the earliest clock; tiebreak on value so the result
    # is deterministic under any shuffle order (pandas relied on row order)
    first = F.min_by("value", F.struct("clock", "value"))
    r = history_df.groupBy("itemid").agg(
        (F.min("value") - first).alias("min"),
        (F.max("value") - first).alias("max"),
    )
    up = _detect_diff_anomalies(trends_df, r, cfg.detect2_lambda_threshold,
                                cfg.ignore_diff_rate, is_up=True,
                                strict_reference=cfg.strict_reference_diff_guard)
    dw = _detect_diff_anomalies(trends_df, r, cfg.detect2_lambda_threshold,
                                cfg.ignore_diff_rate, is_up=False,
                                strict_reference=cfg.strict_reference_diff_guard)
    return up.union(dw).distinct()


def local_peaks(env_df: DataFrame, window: int, is_up: bool = True) -> DataFrame:
    """W2 (detector.py:435-457): peak of sliding-window means per item.

    Window mean over ``(c-window, c]`` at every sample row via rangeBetween
    (integer clocks → [c-window+1, c] inclusive ≡ the reference's half-open
    interval), then max (up) / min (down) of those means.
    """
    w = Window.partitionBy("itemid").orderBy("clock") \
              .rangeBetween(-(window - 1), 0)
    win_mean = F.avg("value").over(w).alias("win_mean")
    means = env_df.select("itemid", "clock", win_mean)
    agg = F.max("win_mean") if is_up else F.min("win_mean")
    return means.groupBy("itemid").agg(agg.alias("local_peak"))


def local_peaks_strict(env_df: DataFrame, window: int,
                       is_up: bool = True) -> DataFrame:
    """Reference-exact local-peak walk (detector.py:435-457) as a grouped
    Arrow UDF: anchors start at the item's LAST sample and step back by
    ``window // 2``; each anchor takes the mean of samples in
    ``(anchor - window, anchor]``. Two reference quirks are preserved:
    anchors with no samples yield NaN, which Python's ``max``/``min``
    silently ignores (``nan > x`` is False), and anchoring stops once the
    anchor passes the first sample."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType([
        StructField("itemid", env_df.schema["itemid"].dataType),
        StructField("local_peak", DoubleType()),
    ])

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("clock")
        clocks = pdf["clock"].to_numpy()
        values = pdf["value"].to_numpy(dtype=float)
        anchor = int(clocks[-1])
        first = int(clocks[0])
        half = window // 2
        peak = -float("inf") if is_up else float("inf")
        while anchor >= first:
            mask = (clocks <= anchor) & (clocks > anchor - window)
            val = float(values[mask].mean()) if mask.any() else float("nan")
            peak = max(peak, val) if is_up else min(peak, val)
            anchor -= half
        return pd.DataFrame({"itemid": [pdf["itemid"].iloc[0]],
                             "local_peak": [peak]})

    return env_df.groupBy("itemid").applyInPandas(walk, out_schema)


def _filter_by_anomaly_cnt(history_df: DataFrame, env_stats: DataFrame,
                           hist_count: int, lam: float,
                           valid_count_rate: float, is_up: bool) -> DataFrame:
    """detector.py:382-432: per-row z filter + count-ratio verdict.

    The reference loops stats rows and concatenates per-item slices
    (_filter_anomalies); here it is one broadcast join + vectorized filter +
    hash-agg count — the loop disappears.
    """
    j = history_df.join(F.broadcast(env_stats), "itemid")
    if is_up:
        flt = F.col("value") > F.col("mean") + lam * F.col("std")
    else:
        flt = F.col("value") < F.col("mean") - lam * F.col("std")
    counts = j.filter(flt).groupBy("itemid").agg(F.count(F.lit(1)).alias("anom_cnt"))
    return counts.filter(F.col("anom_cnt") / F.lit(float(hist_count))
                         > valid_count_rate).select("itemid")


def _filter_anomal_history(history_df: DataFrame, env_df: DataFrame,
                           env_stats: DataFrame, hist_count: int,
                           density_window: int, lam: float,
                           valid_count_rate: float, is_up: bool,
                           strict_peaks: bool = False) -> DataFrame:
    """detector.py:461-485: count-ratio filter, then local-peak guard."""
    survivors = _filter_by_anomaly_cnt(history_df, env_stats, hist_count,
                                       lam, valid_count_rate, is_up)
    peak_fn = local_peaks_strict if strict_peaks else local_peaks
    peaks = peak_fn(env_df.join(survivors, "itemid"), density_window, is_up)
    means = history_df.join(survivors, "itemid").groupBy("itemid") \
                      .agg(F.avg("value").alias("hist_mean"))
    j = peaks.join(means, "itemid")
    cond = (F.col("local_peak") < F.col("hist_mean")) if is_up \
        else (F.col("local_peak") > F.col("hist_mean"))
    return j.filter(cond).select("itemid")


def detect3(history_df: DataFrame, trends_df: DataFrame,
            hist_count: int, hist_count2: int, startep2: int,
            cfg: DetectorConfig, is_long_trend: bool = False) -> DataFrame:
    """detect3/detect4 (detector.py:498-584): trend envelope z-count cascade.

    Stage A (λ1) over the full history slice; stage B (λ2) over the recent
    slice [startep2, ∞) restricted to items NOT flagged by stage A
    (detector.py:538). ``hist_count``/``hist_count2`` are the base-clock grid
    sizes the reference uses as denominators (detector.py:526, 545).
    """
    env_up = trends_df.select("itemid", "clock", F.col("value_max").alias("value"))
    env_dw = trends_df.select("itemid", "clock", F.col("value_min").alias("value"))

    def env_stats(env: DataFrame) -> DataFrame:
        # detector.py:488-495 — mean/std (pandas Bessel) + count per item
        return env.groupBy("itemid").agg(
            F.avg("value").alias("mean"),
            F.coalesce(F.stddev_samp("value"), F.lit(0.0)).alias("std"),
            F.count(F.lit(1)).alias("cnt"),
        )

    stats_up, stats_dw = env_stats(env_up), env_stats(env_dw)
    density_window = cfg.history_interval * cfg.history_retention
    lam1 = cfg.detect3_lambda_threshold1
    lam2 = cfg.detect3_lambda_threshold2
    rate = cfg.anomaly_valid_count_rate

    sp = cfg.strict_reference_peaks
    a_up = _filter_anomal_history(history_df, env_up, stats_up, hist_count,
                                  density_window, lam1, rate, True, sp)
    a_dw = _filter_anomal_history(history_df, env_dw, stats_dw, hist_count,
                                  density_window, lam1, rate, False, sp)
    # stage_a feeds both the final union and the stage-B anti-join; checkpoint
    # so its (join+window)-heavy subtree runs once and the stage-B plans don't
    # re-embed it (lineage control: without it Catalyst/AQE replanning grows
    # multiplicatively with every branch that re-embeds the subtree).
    stage_a = a_up.union(a_dw).distinct().localCheckpoint()

    hist2 = history_df.join(stage_a, "itemid", "left_anti") \
                      .filter(F.col("clock") >= startep2)
    b_up = _filter_anomal_history(hist2, env_up, stats_up, hist_count2,
                                  density_window, lam2, rate, True, sp)
    b_dw = _filter_anomal_history(hist2, env_dw, stats_dw, hist_count2,
                                  density_window, lam2, rate, False, sp)
    return stage_a.union(b_up).union(b_dw).distinct()
