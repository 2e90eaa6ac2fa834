"""Distribution-drift scoring: two-sample KS per partition, plus the one
baseline capture of every kind that scores against a pinned baseline.

Recasts the reference's detect2/detect3 "recent distribution vs historical
distribution" semantics (/root/reference/data_processing/detector.py:286-337,
382-432: envelope z-exceedance counts and diff-stats comparisons) as two
standard drift statistics of the per-partition ``n_tok`` distribution against a
pinned baseline (the whole-table distribution, or a supplied histogram).

KS is one exact, lazy plan for every baseline source
(:func:`ks_by_partition`): the input itself, or a ``(v, c_b)`` value-counts
frame — an explicit baseline reduced by :func:`ks_value_counts`, or counts
pinned by the checkpoint store. DataFrame aggregations + window cumulative
sums — no UDFs, no collect, no persist. PSI itself is scored inside the fused
suite pass (checks/fused.py); this module keeps its smoothing constant and
:func:`baseline_params`, every kind's one baseline capture from a frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyanomalydetector_spark.functions.stats import (
    finalize_mean_std, sufficient_stats,
)

PSI_SMOOTH = 0.5  # Laplace smoothing added to every bucket count


def psi_histogram(df: DataFrame, value_col: str, n_buckets: int) -> dict:
    """Capture ``value_col``'s PSI baseline histogram in the pinned form the
    fused builder scores against: ``{lo, hi, counts, n_base}``.

    Fixed-width buckets over [lo, hi] with edge clamping, the same bucket
    expression checks/fused.py applies to the scored rows; a NULL value
    lands in bucket 0 (GREATEST skips NULLs), so ``n_base`` counts every
    row. Two tiny collects: bounds + row count, then the bucket counts. A
    degenerate range needs only the first: with ``hi == lo`` every row is in
    bucket 0, and a frame with no non-NULL value (empty, or an all-NULL
    column) has ``lo = hi = None``, which the builder buckets the same way.
    """
    v = F.col(value_col).cast("double")
    b = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi"),
               F.count(F.lit(1)).alias("n")).collect()[0]
    lo, hi, n = b["lo"], b["hi"], b["n"]
    counts = [0] * n_buckets
    if hi == lo:
        counts[0] = n
    else:
        raw = F.floor((v - F.lit(lo)) / F.lit((hi - lo) / n_buckets))
        bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1))
        for r in df.groupBy(bucket.alias("b")) \
                   .agg(F.count(F.lit(1)).alias("c")).collect():
            counts[r["b"]] = r["c"]
    return {"lo": lo, "hi": hi, "counts": [float(c) for c in counts],
            "n_base": float(n)}


def ks_value_counts(df: DataFrame, value_col: str) -> DataFrame:
    """``value_col``'s baseline value counts ``(v, c_b)``: the form
    :func:`ks_by_partition` scores against and the checkpoint store pins.
    Lazy; the NULL-value group is kept (it carries no KS mass)."""
    return df.groupBy(F.col(value_col).cast("double").alias("v")) \
             .agg(F.count(F.lit(1)).alias("c_b"))


def baseline_params(check, df: DataFrame) -> dict:
    """``check``'s plain pinned params captured from ``df``: its explicit
    ``baseline`` frame (checks/fused.py ``plain_config``) or the input the
    checkpoint store pins. zscore → ``baseline_scalars`` (the frame's
    moments; an explicit zscore frame is one (mean, std) row, which
    ``plain_config`` reads), PSI → ``pinned_hist`` with THIS check's
    buckets, KS → lazy ``baseline_counts``; ``{}`` for other kinds. An input
    with no non-NULL value pins no zscore baseline, and an empty input no
    PSI histogram; a non-empty all-NULL column pins its degenerate
    histogram (every row in bucket 0), as an explicit PSI frame is pinned
    whatever it holds — unpinned, each resumed run or stream batch would
    score against only the rows it scans."""
    p = check.params
    vc = p.get("value_col", "n_tok")
    if check.kind == "zscore_threshold":
        rows = finalize_mean_std(sufficient_stats(
            df.select(F.lit("all").alias("_g"), vc), ["_g"], vc)) \
            .select("mean", "std").collect()
        return {"baseline_scalars": {"mean": float(rows[0]["mean"]),
                                     "std": float(rows[0]["std"])}} \
            if rows else {}
    if check.kind == "drift_psi":
        hist = psi_histogram(df, vc, int(p.get("buckets", 10)))
        own = p.get("baseline") is not None
        return {"pinned_hist": hist} if own or hist["n_base"] else {}
    if check.kind == "drift_ks":
        return {"baseline_counts": ks_value_counts(df, vc)}
    return {}


def ks_by_partition(df: DataFrame, partition_col: str, value_col: str,
                    base_counts: DataFrame | None = None) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D per partition vs a baseline; returns
    ``(partition_id, ks_d, rows_scanned)``.

    D = max over the real line of |CDF_partition − CDF_baseline|. The
    baseline is ``df`` itself (``base_counts=None``) or a ``(v, c_b)``
    value-counts frame (:func:`ks_value_counts`, or pinned counts).

    No dense (partitions × values) grid: between two consecutive values of
    partition *p*, CDF_p is constant and CDF_b is monotone, so |CDF_p −
    CDF_b| over the gap is maximized at one of its ends — both visible from
    p's own rows as left/right limits. Per (partition, value) row the plan
    evaluates TWO candidates:

    - at v:          |cum_p/n_p − cum_b/n_base|
    - just before v: |(cum_p−c_p)/n_p − (cum_b−c_b)/n_base|

    (the second also covers the head — base mass below p's first value —
    and the row at p's max value covers the tail, where CDF_p = 1). The max
    of both candidates over p's rows equals the dense-grid max exactly,
    candidate-for-candidate in the same long/long→double arithmetic.

    Plan shape: one groupBy shuffle over the raw scan for the partition
    side. The base-CDF side is one aggregation per distinct value, broadcast
    back onto the counts: it spans the baseline's values AND every value of
    ``df`` (``c_b = 0`` where the baseline has no mass), so each partition
    row finds its base CDF. For a self baseline that is a second,
    column-pruned scan of ``df``; for counts, the counts frame plus that
    scan. Windows + final agg then share one hash-partitioning by
    partition_id. No persist, no blocking driver job.

    NULL values carry no mass on either side. A side with no mass — an
    all-NULL partition, or a baseline with no non-NULL value — yields
    ``ks_d = NaN`` (divisions are ``try_divide``: plain ``/`` by a zero
    base mass fails under ANSI), so the verdict fails rather than reading
    ``NULL <= threshold``. ``rows_scanned`` counts NULL-value rows too.

    Trade: KS is exact on every input. The base-CDF window is global — one
    task over every distinct value — so on a continuous column (#distinct ≈
    #rows) that task dominates. Measured at local[4] on a 4-core host over
    a generated 16-partition double column (min of 3): 1M rows 4.46 s and
    4M rows 19.2 s, against 3.95 s / 6.33 s for the former 4096-bin
    histogram approximation. Token-length columns have few distinct values
    and do not see it. Through ``run_checks`` the per-partition windows
    also run in as many tasks as the verdicts are sized to
    (:func:`~pyanomalydetector_spark.checks.core.sized_to_input`): one task
    below 128 MB of input, the partitioned plan above.
    """
    v = F.col(value_col).cast("double").alias("v")
    pc = (
        df.select(F.col(partition_col).alias("partition_id"), v)
          .groupBy("partition_id", "v").agg(F.count(F.lit(1)).alias("c_p"))
    )

    if base_counts is None:
        mass = df.select(v, F.lit(1).cast("long").alias("c_b"))
    else:
        mass = base_counts.select("v", "c_b").unionByName(
            df.select(v, F.lit(0).cast("long").alias("c_b")))
    w_v = Window.orderBy("v") \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = (
        mass.filter(F.col("v").isNotNull())
            .groupBy("v").agg(F.sum("c_b").alias("c_b"))
            .select("v", "c_b", F.sum("c_b").over(w_v).alias("cum_b"))
            .withColumn("n_base", F.sum("c_b").over(Window.partitionBy()))
    )

    j = pc.join(F.broadcast(base), "v", "left")
    w_part = Window.partitionBy("partition_id")
    w_cum = Window.partitionBy("partition_id") \
                  .orderBy(F.col("v").asc_nulls_first()) \
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # NULL-value rows contribute 0 mass; sorting them first keeps the
    # cumulative sums at non-null rows untouched
    c_nn = F.when(F.col("v").isNotNull(), F.col("c_p")).otherwise(F.lit(0))
    cum_p = F.sum(c_nn).over(w_cum)
    n_p = F.sum(c_nn).over(w_part)

    cdf_p = F.try_divide(cum_p, n_p)
    cdf_b = F.try_divide(F.col("cum_b"), F.col("n_base"))
    pre_p = F.try_divide(cum_p - F.col("c_p"), n_p)
    pre_b = F.try_divide(F.col("cum_b") - F.col("c_b"), F.col("n_base"))
    d = F.when(F.col("v").isNotNull(),
               F.greatest(F.abs(cdf_p - cdf_b), F.abs(pre_p - pre_b)))

    no_mass = (F.sum("c_nn") == 0) | (F.max("n_base") == 0)
    return (
        j.withColumn("d", d).withColumn("c_nn", c_nn)
         .groupBy("partition_id")
         .agg(F.when(no_mass, F.lit(float("nan")))
               .otherwise(F.max("d")).alias("ks_d"),
              F.sum("c_p").alias("rows_scanned"))
    )
