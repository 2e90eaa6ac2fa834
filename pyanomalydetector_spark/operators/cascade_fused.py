"""The detect1→2→3→4 cascade as one predicate plan.

The reference runs the cascade as an imperative loop
(``data_processing/detect_anomalies.py:82-113``): each stage computes its
survivor key set and the next stage only looks at those items. The
narrowing is *efficiency*, not semantics: every stage verdict is a per-item
predicate over aggregates of fixed windows, and aggregating a narrowed frame
per item is identical to aggregating the full frame per item and filtering
afterwards. So the survivor set of the chain is the intersection of the
per-stage survivor sets (``detect1``/``detect2``/``detect3`` in
operators/detect.py, which tests/test_cascade_fused.py uses as the
reference), and the whole cascade is ONE conjunctive predicate over a
per-item feature frame, computable in two passes:

1. ONE pass over the (tiny, checkpointed) trends envelope rollup deriving
   every env feature: trend value_avg stats (detect1), adjacent-diff stats of
   the max/min envelopes (detect2), envelope mean/std (detect3/4 z
   thresholds), and sliding-window local peaks (detect3/4 peak guard) — all
   per item, all over #items × #days rows.
2. ONE pass over the raw history slice: broadcast-join the per-item z
   thresholds, then a single map-side-combined ``groupBy(itemid)`` computing
   detect1's mean, detect2's min/max/first, detect3/4's conditional
   z-exceedance counts (8 conditional sums) and the full/recent means the
   peak guards compare against.

Stage composition is then boolean algebra on that frame:
``s1 ∧ s2 ∧ (A₃ ∨ B₃) ∧ (A₄ ∨ B₄)`` — NULL-safe (a missing trend/envelope
row makes the predicate NULL, which drops the item exactly like the
per-stage operators' inner joins do).

The strict reference-quirk modes are terms of the same predicate: the
signed-mean guards of detect1/detect2 are plain column expressions, and the
anchored-stride peak walk (``local_peaks_strict``, a grouped pandas UDF)
runs only over the items that pass the predicate with every peak comparison
taken as TRUE — a superset of the survivors — before the full predicate is
applied.

At 100 TB: the history slice is scanned exactly once for all items; the
per-item state that crosses the shuffle is O(#items × ~16 cols).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyanomalydetector_spark.operators.detect import (
    DetectorConfig, local_peaks_strict,
)


def _nvl(c: Column) -> Column:
    return F.coalesce(c, F.lit(False))


def _env_features(env: DataFrame, density_window: int, suffix: str,
                  with_detect12: bool) -> DataFrame:
    """Per-item features of one envelope rollup frame (itemid, clock,
    value_min, value_avg, value_max, value_cnt):

    - ``mean_t/std_t/cnt_t`` — sufficient stats of value_avg (detect1);
    - ``dmean_up/dstd_up/dmean_dw/dstd_dw`` — adjacent-diff stats of the
      max/min envelopes (detect2, detector.py:299-312);
    - ``mu_up/sd_up/mu_dw/sd_dw`` — envelope mean/Bessel-std (detect3/4
      z thresholds, detector.py:488-495);
    - ``peak_up/peak_dw`` — max/min of sliding-window envelope means
      (detector.py:435-457 via rangeBetween, as local_peaks).

    One window pass + one groupBy over the tiny rollup frame; column names
    get ``suffix`` so the short/long envelopes coexist in one join.
    """
    # SQL strings, not the Column DSL — same plan-construction fast path as
    # checks/fused.py (one py4j round trip per SELECT; survivor sets pinned
    # against the per-stage operators in tests/test_cascade_fused.py)
    w_lag = "OVER (PARTITION BY itemid ORDER BY clock)"
    w_peak = (f"OVER (PARTITION BY itemid ORDER BY clock "
              f"RANGE BETWEEN {density_window - 1} PRECEDING AND CURRENT ROW)")
    z = "CAST('0.0' AS DOUBLE)"

    vmax = "CAST(value_max AS DOUBLE)"
    vmin = "CAST(value_min AS DOUBLE)"
    # NULL-ify zero diffs so avg/stddev skip them exactly like
    # adjacent_diff_stats' ``filter(diff != 0)``
    diff_up = f"({vmax} - LAG({vmax}) {w_lag})"
    diff_dw = f"({vmin} - LAG({vmin}) {w_lag})"

    rows = env.selectExpr(
        "itemid", "clock", f"{vmax} AS vmax", f"{vmin} AS vmin",
        "CAST(value_avg AS DOUBLE) AS vavg",
        f"CASE WHEN {diff_up} != 0 THEN {diff_up} END AS d_up",
        f"CASE WHEN {diff_dw} != 0 THEN {diff_dw} END AS d_dw",
        f"AVG({vmax}) {w_peak} AS wm_up",
        f"AVG({vmin}) {w_peak} AS wm_dw",
    )

    aggs = [
        f"AVG(vmax) AS mu_up{suffix}",
        f"COALESCE(STDDEV_SAMP(vmax), {z}) AS sd_up{suffix}",
        f"AVG(vmin) AS mu_dw{suffix}",
        f"COALESCE(STDDEV_SAMP(vmin), {z}) AS sd_dw{suffix}",
        f"MAX(wm_up) AS peak_up{suffix}",
        f"MIN(wm_dw) AS peak_dw{suffix}",
    ]
    if with_detect12:
        # detect1 trend stats with the exact finalize semantics
        # (sufficient_stats → finalize_mean_std: Bessel, inf/NaN→0)
        s, q, c = "SUM(vavg)", "SUM(vavg * vavg)", "COUNT(vavg)"
        mean_t = f"TRY_DIVIDE({s}, CAST({c} AS DOUBLE))"
        var_t = (f"TRY_DIVIDE({q} - TRY_DIVIDE({s} * {s}, "
                 f"CAST({c} AS DOUBLE)), CAST(({c} - 1) AS DOUBLE))")
        std_t = f"CASE WHEN ({c} > 1) THEN SQRT({var_t}) ELSE {z} END"

        def scrub(col: str) -> str:
            return (f"CASE WHEN (({col}) IS NULL OR ISNAN({col}) OR "
                    f"({col}) IN (CAST('Infinity' AS DOUBLE), "
                    f"CAST('-Infinity' AS DOUBLE))) THEN {z} "
                    f"ELSE ({col}) END")

        aggs += [
            f"{scrub(mean_t)} AS mean_t",
            f"{scrub(std_t)} AS std_t",
            f"{c} AS cnt_t",
            "AVG(d_up) AS dmean_up",
            "STDDEV_SAMP(d_up) AS dstd_up",
            "AVG(d_dw) AS dmean_dw",
            "STDDEV_SAMP(d_dw) AS dstd_dw",
        ]
    return rows.groupBy("itemid").agg(*[F.expr(a) for a in aggs])


def _detect3_pred(tag: str, hist_count: int, hist_count2: int,
                  cfg: DetectorConfig, peaks: bool = True) -> Column:
    """detect3/4 (detector.py:498-584) as a predicate over the feature frame:
    stage A (λ1, full-window counts + full-mean peak guard), else stage B
    (λ2, recent counts + recent-mean peak guard). ``peaks=False`` takes every
    peak comparison as TRUE, which admits a superset of the survivors."""
    rate = cfg.anomaly_valid_count_rate

    def term(stage: str, side: str, denom: int, mean: str) -> Column:
        test = F.col(f"cnt_{side}_{stage}{tag}") / F.lit(float(denom)) > rate
        if peaks:
            peak, ref = F.col(f"peak_{side}{tag}"), F.col(mean)
            test = test & ((peak < ref) if side == "up" else (peak > ref))
        return _nvl(test)

    # detect3's "stage A, else stage B" is a plain union once the terms are
    # null-safe booleans (A ∪ B)
    return (term("a", "up", hist_count, "mean_full")
            | term("a", "dw", hist_count, "mean_full")
            | term("b", "up", hist_count2, "mean_recent")
            | term("b", "dw", hist_count2, "mean_recent"))


def detect_cascade(history_df: DataFrame, trends_df: DataFrame,
                   recent_df: DataFrame, cfg: DetectorConfig,
                   hist_count: int, hist_count2: int,
                   startep2: int,
                   long_trends_df: DataFrame | None = None,
                   hist_count4: int | None = None,
                   hist_count4_2: int | None = None,
                   stages: tuple[int, ...] = (1, 2, 3, 4)) -> DataFrame:
    """The full cascade (detect_anomalies.py:82-113) as one declarative plan;
    returns the survivor key set DF(itemid). See the module docstring for
    the algebra.

    ``stages`` mirrors the reference's ``detection_stages`` list (e.g.
    ``(1, 4)`` is the detect1+detect4 combo of
    tests/test_detector_all.py:10-12); skipped stages pass every item
    through. An empty ``stages`` yields an empty set, matching the reference.
    Documented divergence: in the reference, a stage list WITHOUT detect1
    short-circuits to nothing (detect_anomalies.py:88-89 ``continue`` fires
    before its own "all items" fallback at :93-94 can run — dead code); we
    implement that fallback's evident intent, so later stages start from
    ALL items.

    detect4 (detect_anomalies.py:109-113) is detect3 over the
    ``long_trends_retention`` envelope ``long_trends_df`` with base-clock
    denominators ``hist_count4``/``hist_count4_2``; it runs only when both
    ``4 in stages`` and ``long_trends_df is not None``.

    ``history_df`` is detect1's history window; ``recent_df`` is the slice
    detect2/3/4 read (may be ``history_df`` itself). ``trends_df`` and
    ``long_trends_df`` are the envelope rollups; several branches of the
    plan read them, so callers pass them materialized (localCheckpoint), as
    ``detect_pipeline`` does.
    """
    run4 = 4 in stages and long_trends_df is not None
    ran = [s for s in stages if s in (1, 2, 3)] + ([4] if run4 else [])
    if not ran:
        # no stage ran → empty survivor set (detect_anomalies.py:88-89)
        return history_df.select("itemid").distinct().limit(0)

    # ---- pass 1: env features off the (tiny) rollup frames -----------------
    density_window = cfg.history_interval * cfg.history_retention
    feats = _env_features(trends_df, density_window, "",
                          with_detect12=bool({1, 2} & set(stages)))
    if run4:
        feats = feats.join(
            _env_features(long_trends_df, density_window, "_l",
                          with_detect12=False),
            "itemid", "full")

    # ---- pass 2: one history scan → per-item aggregate spine ---------------
    same = recent_df is history_df
    need_recent = bool({2, 3}.intersection(stages)) or run4

    thr_cols = []
    if 3 in stages:
        thr_cols += ["mu_up", "sd_up", "mu_dw", "sd_dw"]
    if run4:
        thr_cols += ["mu_up_l", "sd_up_l", "mu_dw_l", "sd_dw_l"]

    def hist_aggs(with_d1: bool, with_rest: bool = True) -> list[Column]:
        v = F.col("value").cast("double")
        out: list[Column] = []
        if with_d1:
            # detect1's history mean via the same finalize arithmetic
            # (try_divide + inf/NaN→0 scrub, stats.py:130-135). cnt==0
            # (an item whose history values are all NULL) must stay NULL,
            # not scrub to 0: finalize_mean_std drops cnt==0 rows, so the
            # detect1 inner join excludes the item — the NULL propagates
            # through the band predicate and _nvl drops it identically.
            s, c = F.sum(v), F.count(v)
            mean = F.try_divide(s, c.cast("double"))
            scrubbed = F.when(F.isnan(mean)
                              | mean.isin(float("inf"), float("-inf")),
                              F.lit(0.0)).otherwise(mean)
            out.append(F.when(c > 0, scrubbed).alias("mean_h"))
        if not (need_recent and with_rest):
            return out
        if 2 in stages:
            first = F.min_by("value", F.struct("clock", "value"))
            out += [(F.min("value") - first).alias("re_min"),
                    (F.max("value") - first).alias("re_max")]
        if 3 in stages or run4:
            recent = F.col("clock") >= F.lit(startep2)
            out += [F.avg(v).alias("mean_full"),
                    F.avg(F.when(recent, v)).alias("mean_recent")]

            def zcnt(cond: Column, name: str) -> Column:
                return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

            for tag, lam1, lam2 in ([("", cfg.detect3_lambda_threshold1,
                                      cfg.detect3_lambda_threshold2)]
                                    if 3 in stages else []) + \
                                   ([("_l", cfg.detect3_lambda_threshold1,
                                      cfg.detect3_lambda_threshold2)]
                                    if run4 else []):
                up = v > F.col(f"mu_up{tag}") + F.lit(lam1) * F.col(f"sd_up{tag}")
                dw = v < F.col(f"mu_dw{tag}") - F.lit(lam1) * F.col(f"sd_dw{tag}")
                up2 = v > F.col(f"mu_up{tag}") + F.lit(lam2) * F.col(f"sd_up{tag}")
                dw2 = v < F.col(f"mu_dw{tag}") - F.lit(lam2) * F.col(f"sd_dw{tag}")
                out += [zcnt(up, f"cnt_up_a{tag}"),
                        zcnt(dw, f"cnt_dw_a{tag}"),
                        zcnt(recent & up2, f"cnt_up_b{tag}"),
                        zcnt(recent & dw2, f"cnt_dw_b{tag}")]
        return out

    def with_thresholds(df: DataFrame) -> DataFrame:
        if not thr_cols:
            return df
        thr = feats.select("itemid", *thr_cols)
        return df.join(F.broadcast(thr), "itemid", "left")

    if same or 1 not in stages or not need_recent:
        src = recent_df if need_recent else history_df
        spine = with_thresholds(src).groupBy("itemid") \
            .agg(*hist_aggs(with_d1=(1 in stages)))
    else:
        d1 = history_df.groupBy("itemid").agg(
            *hist_aggs(with_d1=True, with_rest=False))
        rec = with_thresholds(recent_df).groupBy("itemid") \
            .agg(*hist_aggs(with_d1=False))
        # stage≥2 survivors must appear in BOTH frames (detect1 reads
        # history, the later stages read recent)
        spine = d1.join(rec, "itemid")

    frame = spine.join(F.broadcast(feats), "itemid", "left")

    # ---- stage predicates --------------------------------------------------
    def predicate(peaks: bool) -> Column:
        pred = F.lit(True)
        if 1 in stages:
            lam = cfg.detect1_lambda_threshold
            mean_h, mean_t, std_t = F.col("mean_h"), F.col("mean_t"), \
                F.col("std_t")
            band = (mean_h > mean_t + lam * std_t) | \
                   (mean_h < mean_t - lam * std_t)
            guard = mean_t > 0
            if not cfg.strict_reference_detect1_guard:
                # detector.py:218's intended semantics; the strict mode keeps
                # its literal runtime behavior (the precedence bug makes the
                # rel-diff term vanish, leaving only the positivity gate)
                dev = F.abs(mean_h - mean_t)
                guard = guard & (F.try_divide(dev, mean_t)
                                 > cfg.ignore_diff_rate)
            eligible = (F.col("cnt_t") > cfg.trends_min_count) & \
                       (F.col("std_t") > 0)
            pred = pred & _nvl(eligible & band & guard)
        if 2 in stages:
            lam = cfg.detect2_lambda_threshold
            rate = cfg.ignore_diff_rate

            def diff_test(ext: str, side: str) -> Column:
                dmean, dstd = F.col(f"dmean_{side}"), F.col(f"dstd_{side}")
                diff = F.abs(F.col(ext) - dmean)
                if cfg.strict_reference_diff_guard:
                    # signed denominator, NULL (dmean == 0) → +inf: the same
                    # expression as detect.py's _detect_diff_anomalies
                    guard = F.coalesce(F.try_divide(diff, dmean),
                                       F.lit(float("inf"))) > rate
                else:
                    guard = diff > rate * F.abs(dmean)
                return (dstd > 0) & (diff > lam * dstd) & guard

            pred = pred & (_nvl(diff_test("re_max", "up"))
                           | _nvl(diff_test("re_min", "dw")))
        if 3 in stages:
            pred = pred & _detect3_pred("", hist_count, hist_count2, cfg,
                                        peaks)
        if run4:
            pred = pred & _detect3_pred("_l", hist_count4, hist_count4_2, cfg,
                                        peaks)
        return pred

    if not (cfg.strict_reference_peaks and (3 in stages or run4)):
        return frame.filter(predicate(peaks=True)).select("itemid")

    # strict peaks: the anchored-stride walk is a grouped pandas UDF, so it
    # only sees the candidates that pass with every peak comparison taken as
    # TRUE (a superset of the survivors); its peaks replace the rangeBetween
    # ones before the full predicate runs
    cands = frame.filter(predicate(peaks=False)) \
        .drop("peak_up", "peak_dw", "peak_up_l", "peak_dw_l").localCheckpoint()
    keys = cands.select("itemid")
    envs = ([(trends_df, "")] if 3 in stages else []) + \
           ([(long_trends_df, "_l")] if run4 else [])
    for env, tag in envs:
        env = env.join(keys, "itemid")
        for col, side, is_up in (("value_max", "up", True),
                                 ("value_min", "dw", False)):
            walk = local_peaks_strict(
                env.select("itemid", "clock", F.col(col).alias("value")),
                density_window, is_up)
            cands = cands.join(
                walk.withColumnRenamed("local_peak", f"peak_{side}{tag}"),
                "itemid", "left")
    return cands.filter(predicate(peaks=True)).select("itemid")
