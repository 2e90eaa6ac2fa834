"""Parity against the reference's OWN fixtures and golden vectors.

- The alignment walk reproduces the reference's exact golden vectors
  (/root/reference/tests/test_normalizer.py:14-27).
- detect1 on the reference's frozen CSV snapshot
  (/root/reference/testdata/csv/20250214_1100, the fixture of
  tests/test_detector_detect1.py) with its pinned endep/items/config must
  produce the same survivor set as a pandas oracle that replicates the
  reference's arithmetic line-by-line — INCLUDING the operator-precedence
  bug in its ignore_diff_rate guard (detector.py:218: ``mean_t > 0 & (...)``
  binds as ``mean_t > (0 & ...) ≡ mean_t > 0``), which we reproduce here by
  running our engine with ``ignore_diff_rate=0`` (equivalent given the band
  filter already guarantees a non-zero deviation).
"""

import gzip
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.operators.normalize import (
    fit_to_grid_walk, resample_to_grid_exact,
)
from pyanomalydetector_spark.operators.detect import DetectorConfig, detect1
from pyanomalydetector_spark.sources.csv_io import (
    read_metrics_csv, HISTORY_SCHEMA, TRENDS_SCHEMA,
)

FIX = "/root/reference/testdata/csv/20250214_1100"
ITEM_IDS = [59888, 93281, 94003, 110309, 141917, 217822, 236160, 217825,
            270793, 270797, 217823]          # test_detector_detect1.py:47
T0 = 1739505598 - 3600 * 24 * 3              # trends-stats build time
ENDEP = 1739505598 - 600 * 18                # detection time

# only the tests that read FIX need the reference checkout; the golden
# vectors and the resample equivalence use inline literals
needs_fixture = pytest.mark.skipif(not os.path.isdir(FIX),
                                   reason="reference fixture not present")


def test_fit_walk_matches_reference_golden_vectors():
    # tests/test_normalizer.py:15-20
    assert fit_to_grid_walk([1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
                            [2, 4, 5, 7, 9], [1, 2, 3, 4, 5]) == \
        [1, 1, 2, 2, 3, 4, 4, 5, 5, 5]
    # tests/test_normalizer.py:22-27
    assert fit_to_grid_walk([2, 4, 5, 7, 9],
                            list(range(1, 11)), list(range(1, 11))) == \
        [1.5, 3.5, 5, 6.5, 9.25]


def test_resample_exact_distributed_equals_walk(spark):
    rows = [(1, c, float(v)) for c, v in zip([2, 4, 5, 7, 9], [1, 2, 3, 4, 5])]
    df = spark.createDataFrame(rows, "itemid long, clock long, value double")
    got = {r["clock"]: r["value"]
           for r in resample_to_grid_exact(df, 1, 10, 1).collect()}
    # grid floored to unit 1 → [1..10]
    expected = fit_to_grid_walk(list(range(1, 11)), [2, 4, 5, 7, 9],
                                [1, 2, 3, 4, 5])
    assert [got[c] for c in range(1, 11)] == expected


def _pandas_detect1_oracle():
    """The reference's detect1 arithmetic, replicated independently in
    pandas over the same fixture slices (stats.py:69-135 + detector.py
    185-230, with the :218 bug's effective semantics)."""
    with gzip.open(os.path.join(FIX, "trends.csv.gz"), "rt") as f:
        tr = pd.read_csv(f)
    with gzip.open(os.path.join(FIX, "history.csv.gz"), "rt") as f:
        hi = pd.read_csv(f)

    t_start = T0 - 86400 * 14
    tr = tr[tr["itemid"].isin(ITEM_IDS)
            & (tr["clock"] >= t_start) & (tr["clock"] <= T0)]
    t = tr.groupby("itemid")["value_avg"].agg(
        sum="sum", sqr_sum=lambda s: float(np.sum(np.square(s))), cnt="count"
    ).reset_index()
    t["mean"] = t["sum"] / t["cnt"]
    t["std"] = np.sqrt((t["sqr_sum"] - np.square(t["sum"]) / t["cnt"])
                       / (t["cnt"] - 1))
    t["std"] = t["std"].replace([np.inf, -np.inf], np.nan).fillna(0)
    t = t[(t["cnt"] > 14) & (t["std"] > 0)]

    h_start = ENDEP - 600 * 18
    hi = hi[hi["itemid"].isin(ITEM_IDS)
            & (hi["clock"] >= h_start) & (hi["clock"] <= ENDEP)]
    h = hi.groupby("itemid")["value"].mean().reset_index(name="mean_h")

    j = h.merge(t[["itemid", "mean", "std"]].rename(columns={"mean": "mean_t"}),
                on="itemid")
    lam = 3.0
    band = (j["mean_h"] > j["mean_t"] + lam * j["std"]) | \
           (j["mean_h"] < j["mean_t"] - lam * j["std"])
    j = j[band]
    j = j[j["mean_t"] > 0]        # detector.py:218's effective filter
    return sorted(set(j["itemid"].tolist()))


@needs_fixture
def test_detect1_on_reference_fixture(spark):
    history = read_metrics_csv(
        spark, os.path.join(FIX, "history.csv.gz"), HISTORY_SCHEMA,
        startep=ENDEP - 600 * 18, endep=ENDEP, item_ids=ITEM_IDS)
    trends = read_metrics_csv(
        spark, os.path.join(FIX, "trends.csv.gz"), TRENDS_SCHEMA,
        startep=T0 - 86400 * 14, endep=T0, item_ids=ITEM_IDS) \
        .select("itemid", "clock", F.col("value_avg").alias("value"))

    cfg = DetectorConfig(detect1_lambda_threshold=3.0, trends_min_count=14,
                         ignore_diff_rate=0.0)
    ours = sorted(r["itemid"] for r in detect1(history, trends, cfg).collect())

    expected = _pandas_detect1_oracle()
    assert ours == expected
    assert len(ours) > 0          # the reference test's own assertion

def _pandas_detect2_oracle(spark, survivors):
    """The reference's detect2 arithmetic over the fixture: grid-aligned
    history cache (update_history, detector.py:112-146) + trends envelopes
    [t_start, h_start] (detector.py:274-283, 340-379), replicated in pandas
    including the signed-denominator rel-diff guard (detector.py:325, 332)."""
    with gzip.open(os.path.join(FIX, "trends.csv.gz"), "rt") as f:
        tr = pd.read_csv(f)
    with gzip.open(os.path.join(FIX, "history.csv.gz"), "rt") as f:
        hi = pd.read_csv(f)

    h_start = ENDEP - 600 * 18
    t_start = ENDEP - 86400 * 14
    cache_start = ENDEP - 86400            # anomaly_keep_secs window

    # build the grid cache exactly like update_history
    grid = list(range(cache_start - cache_start % 600,
                      ENDEP - ENDEP % 600 + 600, 600))
    cache_rows = []
    for item in survivors:
        d = hi[(hi["itemid"] == item) & (hi["clock"] >= grid[0])
               & (hi["clock"] <= grid[-1])].sort_values("clock")
        if d.empty:
            continue
        vals = fit_to_grid_walk(grid, d["clock"].tolist(),
                                d["value"].astype(float).tolist())
        cache_rows += [(item, c, v) for c, v in zip(grid, vals)]
    cache = pd.DataFrame(cache_rows, columns=["itemid", "clock", "value"])
    cache = cache[(cache["clock"] >= h_start) & (cache["clock"] <= ENDEP)] \
        .sort_values(["itemid", "clock"])

    r = cache.groupby("itemid")["value"].agg(["min", "max", "first"]).reset_index()
    r["min"], r["max"] = r["min"] - r["first"], r["max"] - r["first"]

    tr = tr[tr["itemid"].isin(survivors)
            & (tr["clock"] >= t_start) & (tr["clock"] <= h_start)]

    out = set()
    for is_up, col in ((True, "value_max"), (False, "value_min")):
        frames = []
        for item in survivors:
            d = tr[tr["itemid"] == item].sort_values("clock").copy()
            d["diff"] = d[col].diff().fillna(0)
            d = d[d["diff"] != 0]
            if not d.empty:
                frames.append(d)
        if not frames:
            continue
        ds = pd.concat(frames).groupby("itemid")["diff"] \
               .agg(["mean", "std"]).reset_index()
        j = r.merge(ds, on="itemid")
        j = j[j["std"] > 0]
        ext = j["max"] if is_up else j["min"]
        j = j[abs(ext - j["mean"]) > 2.0 * j["std"]]
        ext = j["max"] if is_up else j["min"]
        j = j[abs(ext - j["mean"]) / j["mean"] > 0.2]
        out |= set(j["itemid"].tolist())
    return sorted(out)


@needs_fixture
def test_detect2_on_reference_fixture(spark):
    from pyanomalydetector_spark.operators.detect import detect2
    survivors = _pandas_detect1_oracle()
    assert survivors

    h_start = ENDEP - 600 * 18
    t_start = ENDEP - 86400 * 14
    cache_start = ENDEP - 86400

    raw = read_metrics_csv(
        spark, os.path.join(FIX, "history.csv.gz"), HISTORY_SCHEMA,
        item_ids=survivors)
    cache = resample_to_grid_exact(raw, cache_start, ENDEP, 600)
    h2 = cache.filter((F.col("clock") >= h_start) & (F.col("clock") <= ENDEP))

    trends = read_metrics_csv(
        spark, os.path.join(FIX, "trends.csv.gz"), TRENDS_SCHEMA,
        startep=t_start, endep=h_start, item_ids=survivors)

    cfg = DetectorConfig(detect2_lambda_threshold=2.0, ignore_diff_rate=0.2,
                         strict_reference_diff_guard=True)
    ours = sorted(r["itemid"] for r in detect2(h2, trends, cfg).collect())
    assert ours == _pandas_detect2_oracle(spark, survivors)


@needs_fixture
def test_two_stage_dbscan_reference_golden(spark):
    """The reference's dbscan golden test (tests/test_dbscan.py:31-43):
    11 items at endep=1739505598 must yield exactly 2 clusters of sizes
    3 and 2 plus 6 noise points. Pipeline replicated with OUR primitives
    (exact grid walk, jaccard matrix, deterministic DBSCAN) and pandas glue
    where the reference's driver-side shapes are inherently local
    (classifiers/dbscan.py:69-171)."""
    from pyanomalydetector_spark.operators.cluster import (
        dbscan_precomputed, jaccard_distance_matrix,
    )

    endep = 1739505598
    ts_end = endep - 600 * 18
    cache_start = endep - 86400
    trends_start = endep - 86400 * 14
    items = sorted(ITEM_IDS)

    with gzip.open(os.path.join(FIX, "trends.csv.gz"), "rt") as f:
        tr = pd.read_csv(f)

    # trends stats (the classifier's z-score baseline, models/stats.py:48-58)
    t = tr[tr["itemid"].isin(items)
           & (tr["clock"] >= ts_end - 86400 * 14) & (tr["clock"] <= ts_end)]
    g = t.groupby("itemid")["value_avg"]
    stats = {i: (float(m), float(s if s == s else 0.0))
             for i, m, s in zip(g.mean().index, g.mean(), g.std())}

    # grid-aligned history cache via OUR exact walk (update_history analog)
    raw = read_metrics_csv(spark, os.path.join(FIX, "history.csv.gz"),
                           HISTORY_SCHEMA, item_ids=items)
    cache = resample_to_grid_exact(raw, cache_start, endep, 600) \
        .orderBy("itemid", "clock").collect()
    hist_charts = {}
    for r in cache:
        hist_charts.setdefault(r["itemid"], []).append(r["value"])
    chart_ids = [i for i in items if i in hist_charts]

    # stage 1: jaccard DBSCAN on |z|>2 indicators vs the trends baseline
    ind = []
    for i in chart_ids:
        v = np.array(hist_charts[i])
        mean, std = stats[i]
        z = (v - mean) / std if std > 0 else np.zeros_like(v)
        ind.append((np.abs(z) > 2.0).astype(float))
    d1 = jaccard_distance_matrix(np.vstack(ind))
    labels1 = dbscan_precomputed(d1, eps=0.1, min_samples=2)

    clusters = {cid: int(l) for cid, l in zip(chart_ids, labels1)}
    max_id = int(labels1.max())

    # stage 2 charts: trends value_avg [trends_start, cache_start-1] ⧺ cache
    t2 = tr[tr["itemid"].isin(items)
            & (tr["clock"] >= trends_start) & (tr["clock"] <= cache_start - 1)]
    charts2 = {}
    for i in chart_ids:
        pre = t2[t2["itemid"] == i].sort_values("clock")["value_avg"].tolist()
        charts2[i] = pd.Series(pre + hist_charts[i])

    def corr_dist(a: pd.Series, b: pd.Series) -> float:
        if a.std() == 0 or b.std() == 0:
            return 1.0
        return 1 - abs(a.corr(b))

    for label in sorted(set(labels1)):
        if label == -1:
            continue
        group = [cid for cid in chart_ids if clusters[cid] == label]
        if len(group) < 2:
            continue
        n = len(group)
        m = np.zeros((n, n))
        for a in range(n):
            for b in range(a + 1, n):
                sa, sb = charts2[group[a]], charts2[group[b]]
                d = 0.5 * corr_dist(sa, sb) + \
                    0.5 * corr_dist(sa.diff().dropna(), sb.diff().dropna())
                m[a, b] = m[b, a] = d
        finite_max = np.nanmax(m) if np.isfinite(np.nanmax(m)) else 1.0
        m = np.where(np.isnan(m), finite_max, m)
        np.fill_diagonal(m, 0.0)
        labels2 = dbscan_precomputed(m, eps=0.2, min_samples=2)
        for k, cid in enumerate(group):
            clusters[cid] = -1 if labels2[k] == -1 \
                else max_id + int(labels2[k]) + 1
        max_id = max(clusters.values())

    sizes = {}
    for cid, l in clusters.items():
        if l >= 0:
            sizes[l] = sizes.get(l, 0) + 1
    # tests/test_dbscan.py:31-43 golden structure
    assert sorted(sizes.values()) == [2, 3]
    assert len(sizes) == 2
    assert sum(1 for l in clusters.values() if l == -1) == 6


def _ref_local_peak(df_item: pd.DataFrame, window: int, is_up: bool) -> float:
    """detector.py:435-457 anchored-stride walk (python max/min NaN quirk)."""
    epoch = int(df_item.iloc[-1]["clock"])
    start = int(df_item.iloc[0]["clock"])
    peak = -float("inf") if is_up else float("inf")
    while epoch >= start:
        val = df_item[(df_item["clock"] <= epoch)
                      & (df_item["clock"] > epoch - window)]["value"].mean()
        peak = max(peak, val) if is_up else min(peak, val)
        epoch -= window // 2
    return peak


def _pandas_detect3_oracle(cache: pd.DataFrame, env: pd.DataFrame,
                           base_clocks, startep2, lam1, lam2, rate,
                           density_window):
    """detector.py:498-584 (_detect3_batch) replicated faithfully."""
    def env_of(col):
        d = env[["itemid", "clock", col]].copy()
        d.columns = ["itemid", "clock", "value"]
        return d

    def stats_of(d):
        g = d.groupby("itemid")["value"]
        return pd.DataFrame({"itemid": g.mean().index,
                             "mean": g.mean().values, "std": g.std().values})

    def cnt_filter(hist, stats, hist_count, lam, is_up):
        out = []
        for row in stats.itertuples():
            part = hist[hist["itemid"] == row.itemid]
            sel = part[part["value"] > row.mean + lam * row.std] if is_up \
                else part[part["value"] < row.mean - lam * row.std]
            if len(sel) and len(sel) / hist_count > rate:
                out.append(row.itemid)
        return out

    def stage(hist, hist_count, lam):
        found = []
        for is_up, col in ((True, "value_max"), (False, "value_min")):
            e = env_of(col)
            ids = cnt_filter(hist, stats_of(e), hist_count, lam, is_up)
            means = hist.groupby("itemid")["value"].mean()
            for i in ids:
                d = e[e["itemid"] == i].sort_values("clock")
                if d.empty:
                    continue
                pk = _ref_local_peak(d, density_window, is_up)
                if (is_up and pk < means[i]) or (not is_up and pk > means[i]):
                    found.append(i)
        return found

    a = stage(cache, len(base_clocks), lam1)
    hist2 = cache[~cache["itemid"].isin(a) & (cache["clock"] >= startep2)]
    b = stage(hist2, len([c for c in base_clocks if c >= startep2]), lam2)
    return sorted(set(a + b))


def _load_detect3_fixture(spark, endep3, t_start, startep2):
    """Shared fixture prep for detect3/detect4 parity: the grid-aligned
    history cache and the [t_start, startep2] trends envelope."""
    items = sorted(ITEM_IDS)
    cache_start = endep3 - 86400
    raw = read_metrics_csv(spark, os.path.join(FIX, "history.csv.gz"),
                           HISTORY_SCHEMA, item_ids=items)
    cache_sdf = resample_to_grid_exact(raw, cache_start, endep3, 600)
    cache = cache_sdf.orderBy("itemid", "clock").toPandas()

    with gzip.open(os.path.join(FIX, "trends.csv.gz"), "rt") as f:
        tr = pd.read_csv(f)
    env = tr[tr["itemid"].isin(items)
             & (tr["clock"] >= t_start) & (tr["clock"] <= startep2)]
    env_sdf = spark.createDataFrame(
        env[["itemid", "clock", "value_min", "value_avg", "value_max"]])
    return cache_sdf, cache, env_sdf, env


@needs_fixture
def test_detect4_on_reference_fixture(spark):
    """detect4 ≡ detect3(is_long_trend=True) (detect_anomalies.py:109-113,
    detector.py:562-570): same cascade, long_trends_retention window and its
    base-clock denominators. Parity vs the faithful pandas oracle over the
    long window."""
    from pyanomalydetector_spark.operators.detect import detect3
    endep4 = ENDEP
    t_start = endep4 - 86400 * 60            # long_trends_retention = 60
    startep2 = endep4 - 600 * 6
    density_window = 600 * 18

    grid_lo = t_start - t_start % 600
    grid_hi = endep4 - endep4 % 600
    base_clocks = list(range(grid_lo, grid_hi + 600, 600))

    cache_sdf, cache, env_sdf, env = _load_detect3_fixture(
        spark, endep4, t_start, startep2)

    saw_nonempty = False
    # default-ish and sensitized configs — parity must hold for both
    for lam1, lam2, rate in [(1.0, 2.0, 0.8), (1.0, 1.0, 0.01)]:
        expected = _pandas_detect3_oracle(cache, env, base_clocks, startep2,
                                          lam1, lam2, rate, density_window)
        cfg = DetectorConfig(detect3_lambda_threshold1=lam1,
                             detect3_lambda_threshold2=lam2,
                             anomaly_valid_count_rate=rate,
                             history_interval=600, history_retention=18,
                             long_trends_retention=60,
                             strict_reference_peaks=True)
        ours = sorted(r["itemid"] for r in detect3(
            cache_sdf, env_sdf, len(base_clocks),
            len([c for c in base_clocks if c >= startep2]), startep2,
            cfg, is_long_trend=True).collect())
        assert ours == expected, (lam1, lam2, rate)
        saw_nonempty = saw_nonempty or bool(expected)
    assert saw_nonempty


@needs_fixture
def test_detect1_plus_detect4_cascade_reference(spark):
    """The reference's detect1+detect4 combo (tests/test_detector_all.py:10-12,
    detection_stages=[STAGE_DETECT1, STAGE_DETECT4]) through detect_cascade
    with stages=(1, 4): detect1 survivors feed detect4 directly, skipped
    stages pass through. detect1 runs with the strict reference guard
    (detector.py:218's literal precedence-bug semantics)."""
    from pyanomalydetector_spark.operators import detect_cascade

    endep4 = ENDEP
    t_start4 = endep4 - 86400 * 60
    startep2 = endep4 - 600 * 6
    grid_lo = t_start4 - t_start4 % 600
    grid_hi = endep4 - endep4 % 600
    base_clocks = list(range(grid_lo, grid_hi + 600, 600))
    hc4 = len(base_clocks)
    hc4_2 = len([c for c in base_clocks if c >= startep2])

    # detect1 inputs: raw recent history + the T0-built trends stats window
    history = read_metrics_csv(
        spark, os.path.join(FIX, "history.csv.gz"), HISTORY_SCHEMA,
        startep=ENDEP - 600 * 18, endep=ENDEP, item_ids=ITEM_IDS)
    trends1 = read_metrics_csv(
        spark, os.path.join(FIX, "trends.csv.gz"), TRENDS_SCHEMA,
        startep=T0 - 86400 * 14, endep=T0, item_ids=ITEM_IDS)

    cache_sdf, cache, env_sdf, env = _load_detect3_fixture(
        spark, endep4, t_start4, startep2)

    s1 = _pandas_detect1_oracle()
    assert s1
    expected = _pandas_detect3_oracle(
        cache[cache["itemid"].isin(s1)], env[env["itemid"].isin(s1)],
        base_clocks, startep2, 1.0, 1.0, 0.01, 600 * 18)

    cfg = DetectorConfig(detect1_lambda_threshold=3.0, trends_min_count=14,
                         strict_reference_detect1_guard=True,
                         detect3_lambda_threshold1=1.0,
                         detect3_lambda_threshold2=1.0,
                         anomaly_valid_count_rate=0.01,
                         history_interval=600, history_retention=18,
                         long_trends_retention=60,
                         strict_reference_peaks=True)
    ours = sorted(r["itemid"] for r in detect_cascade(
        history, trends1, cache_sdf, cfg,
        hist_count=0, hist_count2=0, startep2=startep2,
        long_trends_df=env_sdf, hist_count4=hc4, hist_count4_2=hc4_2,
        stages=(1, 4)).collect())
    assert ours == expected


@needs_fixture
def test_detect3_on_reference_fixture(spark):
    from pyanomalydetector_spark.operators.detect import detect3
    items = sorted(ITEM_IDS)
    endep3 = ENDEP                      # detect3 test runs at the same endep
    cache_start = endep3 - 86400
    t_start = endep3 - 86400 * 14
    startep2 = endep3 - 600 * 6
    density_window = 600 * 18
    # default.yml values (empty survivor set) AND a sensitized config that
    # yields a non-empty set — parity must hold for both
    configs = [(1.0, 2.0, 0.8), (1.0, 1.0, 0.05)]

    grid_lo = t_start - t_start % 600
    grid_hi = endep3 - endep3 % 600
    base_clocks = list(range(grid_lo, grid_hi + 600, 600))

    raw = read_metrics_csv(spark, os.path.join(FIX, "history.csv.gz"),
                           HISTORY_SCHEMA, item_ids=items)
    cache_sdf = resample_to_grid_exact(raw, cache_start, endep3, 600)
    cache = cache_sdf.orderBy("itemid", "clock").toPandas()

    with gzip.open(os.path.join(FIX, "trends.csv.gz"), "rt") as f:
        tr = pd.read_csv(f)
    env = tr[tr["itemid"].isin(items)
             & (tr["clock"] >= t_start) & (tr["clock"] <= startep2)]

    env_sdf = spark.createDataFrame(
        env[["itemid", "clock", "value_min", "value_avg", "value_max"]])
    saw_nonempty = False
    for lam1, lam2, rate in configs:
        expected = _pandas_detect3_oracle(cache, env, base_clocks, startep2,
                                          lam1, lam2, rate, density_window)
        cfg = DetectorConfig(detect3_lambda_threshold1=lam1,
                             detect3_lambda_threshold2=lam2,
                             anomaly_valid_count_rate=rate,
                             history_interval=600, history_retention=18,
                             strict_reference_peaks=True)
        ours = sorted(r["itemid"] for r in detect3(
            cache_sdf, env_sdf, len(base_clocks),
            len([c for c in base_clocks if c >= startep2]), startep2,
            cfg).collect())
        assert ours == expected, (lam1, lam2, rate)
        saw_nonempty = saw_nonempty or bool(expected)
    assert saw_nonempty
