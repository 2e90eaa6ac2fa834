"""The one-plan cascade ≡ the staged semantics, spelled out per stage.

``detect_cascade`` (operators/cascade_fused.py) recasts the detect1→2→3→4
chain as one conjunctive predicate over a per-item feature frame. The
reference is the chain's staged semantics written with the per-stage
operators: ``detect1`` over history, ``detect2``/``detect3`` over the recent
slice, detect4 = ``detect3`` over the long envelope, each over all items,
and the survivor set is their intersection (∅ when no stage runs).
Narrowing the items between stages never changes a per-item verdict, so the
intersection is exactly the chain's survivor set.

Cases: every stage subset and threshold regime (including boards that empty
at stage 1), each strict reference mode on a config where the mode changes
the answer, and a recent slice distinct from history.
"""

import re
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.operators import (
    DetectorConfig, detect1, detect2, detect3, detect_cascade)
from pyanomalydetector_spark.plans.pipeline import (
    detect_pipeline, events_metrics, long_trends_window, split_windows)

CFG_LOOSE = DetectorConfig(detect1_lambda_threshold=1.0,
                           detect2_lambda_threshold=1.0,
                           detect3_lambda_threshold1=1.5,
                           detect3_lambda_threshold2=1.0,
                           ignore_diff_rate=0.01,
                           anomaly_valid_count_rate=0.001)
CFG_EXTREME = DetectorConfig(detect1_lambda_threshold=0.5,
                             detect2_lambda_threshold=0.5,
                             detect3_lambda_threshold1=1.0,
                             detect3_lambda_threshold2=0.5,
                             ignore_diff_rate=0.0,
                             anomaly_valid_count_rate=0.0)
CFG_EMPTY = DetectorConfig(detect1_lambda_threshold=50.0)
ALL_STAGES = (1, 2, 3, 4)


def _ids(df):
    return {r.itemid for r in df.collect()}


def _windows(spark, sf_dir, cfg, stages):
    """Cascade inputs over the events table: (history, trends, hc, hc2,
    startep2) plus the detect4 keywords."""
    metrics = events_metrics(spark, sf_dir)
    history, trends, hc, hc2, sp2 = split_windows(metrics, cfg)
    lt = hc4 = hc4_2 = None
    if 4 in stages:
        lt, hc4, hc4_2 = long_trends_window(metrics, cfg)
    kw = dict(long_trends_df=lt, hist_count4=hc4, hist_count4_2=hc4_2,
              stages=stages)
    return (history, trends, hc, hc2, sp2), kw


def _reference(history, trends, recent, cfg, hc, hc2, sp2,
               long_trends_df=None, hist_count4=None, hist_count4_2=None,
               stages=ALL_STAGES):
    """∩ of the per-stage survivor sets; ∅ when no stage runs."""
    sets = []
    if 1 in stages:
        sets.append(_ids(detect1(history, trends.select(
            "itemid", "clock", F.col("value_avg").alias("value")), cfg)))
    if 2 in stages:
        sets.append(_ids(detect2(recent, trends, cfg)))
    if 3 in stages:
        sets.append(_ids(detect3(recent, trends, hc, hc2, sp2, cfg)))
    if 4 in stages and long_trends_df is not None:
        sets.append(_ids(detect3(recent, long_trends_df, hist_count4,
                                 hist_count4_2, sp2, cfg,
                                 is_long_trend=True)))
    return set.intersection(*sets) if sets else set()


def _both(spark, sf_dir, cfg, stages):
    """(per-stage reference, one-plan cascade) survivor sets, recent slice =
    history."""
    (history, trends, hc, hc2, sp2), kw = _windows(spark, sf_dir, cfg, stages)
    ref = _reference(history, trends, history, cfg, hc, hc2, sp2, **kw)
    got = _ids(detect_cascade(history, trends, history, cfg, hc, hc2, sp2,
                              **kw))
    return ref, got


def _staged(spark, sf_dir, cfg, stages=ALL_STAGES):
    """The per-stage reference alone, recent slice = history."""
    (history, trends, hc, hc2, sp2), kw = _windows(spark, sf_dir, cfg, stages)
    return _reference(history, trends, history, cfg, hc, hc2, sp2, **kw)


@pytest.mark.parametrize("stages", [(1, 2, 3, 4), (2, 3), (1,), (3,), (4,),
                                    (1, 4), ()])
def test_fused_eq_staged_stage_subsets(spark, sf_dir, stages):
    a, b = _both(spark, sf_dir, CFG_LOOSE, stages)
    assert a == b


@pytest.mark.parametrize("cfg", [DetectorConfig(), CFG_EXTREME, CFG_EMPTY],
                         ids=["default", "extreme", "empties-at-stage1"])
def test_fused_eq_staged_threshold_regimes(spark, sf_dir, cfg):
    a, b = _both(spark, sf_dir, cfg, ALL_STAGES)
    assert a == b


def test_fused_eq_staged_nonempty_board(spark, sf01_dir):
    """sf0.01 with the loose config actually has survivors at every stage —
    guards against both sides agreeing on vacuously-empty sets only."""
    a, b = _both(spark, sf01_dir, CFG_LOOSE, ALL_STAGES)
    assert a == b
    assert len(a) > 0


# each strict flag on a config (and stage list) where it changes the
# survivor set at sf0.01, and all three together
STRICT_CASES = {
    "diff_guard": (replace(CFG_LOOSE, strict_reference_diff_guard=True),
                   ALL_STAGES),
    "detect1_guard": (DetectorConfig(detect1_lambda_threshold=0.5,
                                     ignore_diff_rate=0.5,
                                     strict_reference_detect1_guard=True),
                      (1, 2)),
    "peaks": (DetectorConfig(history_retention=100,
                             detect3_lambda_threshold1=1.0,
                             detect3_lambda_threshold2=0.5,
                             anomaly_valid_count_rate=0.0,
                             strict_reference_peaks=True),
              (3, 4)),
    "all": (DetectorConfig(detect1_lambda_threshold=0.5,
                           detect2_lambda_threshold=1.0,
                           ignore_diff_rate=0.5,
                           history_retention=100,
                           detect3_lambda_threshold1=1.0,
                           detect3_lambda_threshold2=0.5,
                           anomaly_valid_count_rate=0.0,
                           strict_reference_diff_guard=True,
                           strict_reference_detect1_guard=True,
                           strict_reference_peaks=True),
            ALL_STAGES),
}


@pytest.mark.parametrize("case", list(STRICT_CASES))
def test_strict_modes_eq_staged(spark, sf01_dir, case):
    """Strict reference-quirk modes run inside the one plan (signed-mean
    guards as predicate terms, the anchored-stride peak walk over the
    peak-free candidates) and must equal the per-stage reference run with
    the same flags — which must differ from its portable twin, or the case
    would not exercise the mode."""
    cfg, stages = STRICT_CASES[case]
    strict, got = _both(spark, sf01_dir, cfg, stages)
    portable = _staged(spark, sf01_dir, replace(
        cfg, strict_reference_diff_guard=False,
        strict_reference_detect1_guard=False,
        strict_reference_peaks=False), stages)
    assert got == strict
    assert strict and strict != portable


@pytest.mark.parametrize("stages", [ALL_STAGES, (1,)],
                         ids=["all-stages", "detect1-only"])
def test_recent_slice_distinct_from_history(spark, sf01_dir, stages):
    """recent_df is not history_df: detect1 reads the history window, the
    later stages a shorter recent slice — the one plan joins the two
    per-item aggregates, and must still equal the per-stage reference.
    With detect1 alone nothing reads the recent slice: one history
    aggregate, the same survivors as with recent = history."""
    cfg = CFG_LOOSE
    (history, trends, hc, hc2, sp2), kw = _windows(spark, sf01_dir, cfg,
                                                   stages)
    recent = history.filter(F.col("clock") >= sp2 - 12 * 3600)
    ref = _reference(history, trends, recent, cfg, hc, hc2, sp2, **kw)
    got = _ids(detect_cascade(history, trends, recent, cfg, hc, hc2, sp2,
                              **kw))
    assert got == ref
    reads_recent = stages != (1,)
    assert ref and (ref != _staged(spark, sf01_dir, cfg, stages)) \
        == reads_recent


def test_pipeline_shared_scan_path_eq_staged(spark, sf01_dir):
    """detect_pipeline takes the shared-rollup route (ENDEP is
    bucket-aligned): the short env is a filter over the checkpointed long
    rollup, and must equal the per-stage reference over separate rollups."""
    got = _ids(detect_pipeline(spark, sf01_dir, CFG_LOOSE))
    assert got == _staged(spark, sf01_dir, CFG_LOOSE) and len(got) > 0


def test_fused_eq_staged_all_null_history_values(spark):
    """An item whose history-window values are ALL NULL must be excluded:
    detect1 drops it (finalize_mean_std filters cnt==0 → inner join), the
    cascade must keep mean_h NULL (scrubbing it to 0.0 would pass the band +
    guard and fabricate a survivor)."""
    cfg = DetectorConfig(detect1_lambda_threshold=1.0, ignore_diff_rate=0.05,
                         trends_min_count=2)
    endep = 1706659200
    h_start = endep - cfg.history_interval * cfg.history_retention
    t_start = endep - cfg.trends_interval * cfg.trends_retention
    rows = []
    for item, hist_val in [("nullv", None), ("anom", 500.0), ("calm", 100.0)]:
        for d in range(10):
            rows.append((item, t_start + d * cfg.trends_interval + 10,
                         100.0 + (d % 3)))
        for k in range(5):
            rows.append((item, h_start + k * cfg.history_interval + 5,
                         hist_val))
    metrics = spark.createDataFrame(
        rows, "itemid string, clock long, value double")
    history, trends, hc, hc2, sp2 = split_windows(metrics, cfg, endep)
    a = _reference(history, trends, history, cfg, hc, hc2, sp2, stages=(1,))
    b = _ids(detect_cascade(history, trends, history, cfg, hc, hc2, sp2,
                            stages=(1,)))
    assert a == b
    assert "anom" in a and "nullv" not in a


def test_pipeline_long_window_shorter_than_trends(spark, sf01_dir):
    """long_trends_retention < trends_retention must NOT take the shared-scan
    route (filtering the long rollup would truncate the short trends window
    to [t_start4, ...)); the pipeline must still equal the reference."""
    cfg = replace(CFG_LOOSE, long_trends_retention=10)  # < trends_retention
    assert _ids(detect_pipeline(spark, sf01_dir, cfg)) == \
        _staged(spark, sf01_dir, cfg)


def test_fused_plan_is_single_history_scan(spark, sf_dir):
    """Plan-shape gate: the cascade must contain exactly ONE scan of the
    events parquet (the history pass) plus the checkpointed env RDD — one
    history pass for every stage is the point of the single plan."""
    spark.catalog.clearCache()
    df = detect_pipeline(spark, sf_dir, CFG_LOOSE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"Scan parquet|FileScan parquet", plan)
    assert len(scans) <= 1, f"expected ≤1 parquet scan, got {len(scans)}"
