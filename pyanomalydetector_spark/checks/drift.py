"""Distribution-drift scoring: two-sample KS per partition, plus the PSI
baseline-histogram capture.

Recasts the reference's detect2/detect3 "recent distribution vs historical
distribution" semantics (/root/reference/data_processing/detector.py:286-337,
382-432: envelope z-exceedance counts and diff-stats comparisons) as two
standard drift statistics of the per-partition ``n_tok`` distribution against a
pinned baseline (the whole-table distribution, or a supplied histogram).

KS is expressed as DataFrame aggregations + window cumulative sums — no
UDFs, fully whole-stage-codegen, one shuffle per statistic. The grid sizes are
#distinct-values × #partitions (tiny relative to row count), so this scales to
arbitrarily many input rows. PSI itself is scored inside the fused suite pass
(checks/fused.py); this module keeps its smoothing constant and
:func:`psi_histogram`, which pins a baseline histogram for that pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PSI_SMOOTH = 0.5  # Laplace smoothing added to every bucket count


def _pid_nullsafe_join(left: DataFrame, right: DataFrame, key2: str | None,
                       how: str = "left") -> DataFrame:
    """Join on ``partition_id`` NULL-SAFELY (plus a plain equality on
    ``key2`` when given), keeping ``left``'s columns first.

    A plain equi-join on partition_id never matches NULL = NULL, so a NULL
    partition key — exactly the dirty group key a quality engine must still
    score — would silently read as zero counts (grid joins) or drop its
    verdict row (result joins). ``key2`` (the value) stays plain: a NULL
    value carries no probability mass by design.
    """
    r = right.withColumnRenamed("partition_id", "_rp")
    cond = left["partition_id"].eqNullSafe(F.col("_rp"))
    if key2 is not None:
        r = r.withColumnRenamed(key2, "_rk")
        cond = cond & (left[key2] == F.col("_rk"))
    return left.join(r, cond, how).drop("_rp", *(["_rk"] if key2 else []))


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


def _ks_grid_tail(joined: DataFrame) -> DataFrame:
    """CDF comparison + per-partition KS-D over a dense ``(partition_id, v,
    c_p, c_b)`` grid — the ONE tail shared by :func:`ks_by_partition` and
    :func:`ks_by_partition_counts`, so the grid ≡ pinned-counts parity the
    fuzz layer pins can't drift out of lockstep.

    - ``try_divide``, NOT ``/``: a side whose values are ALL NULL has zero
      probability mass on the grid (its rows never match the value keys),
      so its CDF denominator is 0 — ANSI mode turns the plain division
      into a hard DIVIDE_BY_ZERO crash of the whole job (found by the
      cross-engine route fuzz; the bounded route was always safe because
      its divisions sit under a v-IS-NOT-NULL when-guard).
    - The NaN guard covers EITHER mass-less side: an all-NULL partition
      (sum c_p = 0) OR a baseline with zero grid mass (sum c_b = 0 — e.g.
      pinned counts captured from an all-NULL value column, whose only row
      is the NULL-v group the grid's equi-join skips). A one-sided guard
      would leave the baseline case at max(NULL d) = NULL, and a NULL ks_d
      makes the verdict ``NULL <= threshold`` = NULL — silently neither
      pass nor fail, where the documented semantics are NaN → fail. Self-
      baseline is unaffected (zero global mass implies zero partition
      mass, so the c_p disjunct already fires).
    """
    w_cum = Window.partitionBy("partition_id").orderBy("v") \
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_tot = Window.partitionBy("partition_id")
    cdf_p = F.try_divide(F.sum("c_p").over(w_cum), F.sum("c_p").over(w_tot))
    cdf_b = F.try_divide(F.sum("c_b").over(w_cum), F.sum("c_b").over(w_tot))
    no_mass = (F.sum("c_p") == 0) | (F.sum("c_b") == 0)
    return (
        joined.withColumn("d", F.abs(cdf_p - cdf_b))
              .groupBy("partition_id")
              .agg(F.when(no_mass, F.lit(float("nan")))
                    .otherwise(F.max("d")).alias("ks_d"))
    )


def ks_by_partition(df: DataFrame, partition_col: str, value_col: str,
                    baseline: DataFrame | None = None,
                    cache_registry: list | None = None,
                    max_grid_values: int = 65536,
                    n_fallback_bins: int = 4096,
                    bounded: bool = False,
                    include_rows: bool = False) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D per partition vs baseline.

    D = max over the combined support of |CDF_partition − CDF_baseline|.
    Computed on the (partition × distinct-value) grid with window cumulative
    sums — distributed, no collect. Returns ``(partition_id, ks_d)``.

    **Cardinality guard**: the grid is exact (and cheap) for bounded
    columns like token length, but a continuous double column would make
    #distinct ≈ #rows and the grid degenerate. If the COMBINED
    distinct-value count (df side + explicit-baseline side) exceeds
    ``max_grid_values``, values are re-binned into ``n_fallback_bins``
    fixed-width bins over the combined [min, max] *from the cached counts
    frames* (no raw re-scan; NULL values stay NULL and drop out exactly as
    in the unbinned path) and KS-D is computed on the binned
    distributions — the standard histogram approximation, whose error is
    bounded by the largest per-bin probability mass. The guard decision
    costs count(Distinct) over the already-persisted counts frames, never
    a second pass over the raw inputs.

    ``bounded=True`` skips the guard (and its blocking distinct-count job)
    entirely — the opt-in for *structurally* bounded columns, where the
    distinct-value count is capped by construction at any corpus scale
    (token length ≤ context size). Unbounded or unknown
    columns must keep the guard. With no explicit baseline this routes to
    :func:`_ks_bounded_self` — a fully-lazy single linear plan (no persist,
    no grid self-join, no blocking job at all).

    ``include_rows=True`` appends a ``rows_scanned`` column (total rows per
    partition, NULL values included) derived from the already-shuffled
    counts frame — saving callers that need it a second raw-input scan.

    ``cache_registry``: persisted intermediates are appended here so a
    long-lived caller can unpersist them after materializing the result.
    """
    if bounded and baseline is None:
        return _ks_bounded_self(df, partition_col, value_col, include_rows)

    v = F.col(value_col).cast("double").alias("v")

    part_counts = (
        df.select(F.col(partition_col).alias("partition_id"), v)
          .groupBy("partition_id", "v").agg(F.count(F.lit(1)).alias("c_p"))
    ).persist()
    if cache_registry is not None:
        cache_registry.append(part_counts)
    rows = part_counts.groupBy("partition_id") \
                      .agg(F.sum("c_p").alias("rows_scanned")) \
        if include_rows else None

    # explicit baseline: reduce it to its own value-counts frame up front —
    # the guard must see ITS cardinality too (a continuous baseline would
    # otherwise rebuild the degenerate distinct-per-row grid the guard
    # exists to prevent), and binning must re-aggregate counts, not rows
    base_vcounts = None
    if baseline is not None:
        base_vcounts = (
            baseline.select(v).groupBy("v")
                    .agg(F.count(F.lit(1)).alias("c_b"))
        ).persist()
        if cache_registry is not None:
            cache_registry.append(base_vcounts)

    # materialize the persisted frames EAGERLY even on the bounded path
    # (where no cardinality probe runs): values/parts/base_counts/rows all
    # branch off them inside ONE downstream job, and concurrent stages each
    # miss a lazy cache and re-run the raw-scan groupBy
    part_counts.count()
    if base_vcounts is not None:
        base_vcounts.count()
    ndv = 0 if bounded else part_counts.select("v").distinct().count()
    if not bounded and base_vcounts is not None:
        ndv += base_vcounts.count()
    bin_lo = bin_width = None
    if ndv > max_grid_values:
        sides = part_counts.select("v") if base_vcounts is None else \
            part_counts.select("v").union(base_vcounts.select("v"))
        row = sides.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).first()
        lo, hi = row["lo"], row["hi"]
        if lo is not None and hi > lo:
            bin_lo, bin_width = lo, (hi - lo) / n_fallback_bins

    def _binned(col: Column) -> Column:
        b = F.least(F.floor((col - F.lit(bin_lo)) / F.lit(bin_width)),
                    F.lit(n_fallback_bins - 1))
        b = F.greatest(b, F.lit(0))
        # NULL stays NULL (a when-guard, because least/greatest SKIP nulls
        # and would otherwise sweep null mass into the top bin): the exact
        # path drops null values too — they never match the grid join keys
        return F.when(col.isNotNull(),
                      (b * bin_width + bin_lo).cast("double"))

    if bin_lo is not None:
        part_counts = (
            part_counts
            .withColumn("v", _binned(F.col("v")))
            .groupBy("partition_id", "v")
            .agg(F.sum("c_p").alias("c_p"))
        )
        if base_vcounts is not None:
            base_vcounts = (
                base_vcounts
                .withColumn("v", _binned(F.col("v")))
                .groupBy("v").agg(F.sum("c_b").alias("c_b"))
            )

    if baseline is None:
        # self-baseline: the partition/value universe AND the baseline counts
        # are all derivable from the one part_counts shuffle — no raw
        # re-scans (three full passes saved vs the naive formulation)
        values = part_counts.select("v").distinct()
        parts = part_counts.select("partition_id").distinct()
        base_counts = part_counts.groupBy("v").agg(F.sum("c_p").alias("c_b"))
    else:
        values = base_vcounts.select("v").union(part_counts.select("v")) \
                             .distinct()
        parts = part_counts.select("partition_id").distinct()
        base_counts = base_vcounts
    grid = parts.crossJoin(values)

    joined = (
        _pid_nullsafe_join(grid, part_counts, "v")
            .join(F.broadcast(base_counts), ["v"], "left")
            .na.fill({"c_p": 0, "c_b": 0})
    )

    out = _ks_grid_tail(joined)
    if rows is not None:
        out = _pid_nullsafe_join(out, rows, None, "inner")
    return out


def _ks_bounded_self(df: DataFrame, partition_col: str, value_col: str,
                     include_rows: bool) -> DataFrame:
    """Self-baseline KS as ONE linear plan — the ``bounded=True`` route.

    The naive formulation joins a dense (partitions × values) grid back onto
    the counts so every partition's CDF is sampled at every global value.
    That grid is unnecessary: between two consecutive values of partition
    *p*, CDF_p is constant and CDF_b is monotone, so |CDF_p − CDF_b| over
    the gap is maximized at one of its ends — both of which are visible
    from p's own rows as left/right limits. Per (partition, value) row we
    therefore evaluate TWO candidates:

    - at v:          |cum_p/n_p − cum_b/n_base|
    - just before v: |(cum_p−c_p)/n_p − (cum_b−c_b)/n_base|

    (the second also covers the head — base mass below p's first value —
    and the row at p's max value covers the tail, where CDF_p = 1). The
    max over both candidates over p's rows equals the dense-grid max
    exactly, candidate-for-candidate in the same long/long→double
    arithmetic, so results are bit-identical to the guarded path.

    Plan shape: one groupBy shuffle over the raw scan for the partition
    side; the per-value base CDF is its own single-column aggregation of
    the raw input (a second, column-pruned scan — deliberately NOT a
    reuse of the partition-side shuffle, whose exchange AQE re-plans per
    branch; cheap pruned re-scans are this engine's documented trade) with
    its global cumulative window running over the tiny distinct-values
    frame only, broadcast back onto the counts; windows + final agg then
    share one hash-partitioning by partition_id. No persist, no blocking
    driver job, nothing for concurrent stages to race, no wide frame ever
    through a single-partition window. Shuffled state is O(partitions ×
    distinct values) — bounded by the caller's structural guarantee.

    NULL values carry no probability mass (identically to the grid path,
    where NULL keys never match the grid join); a partition whose values
    are ALL NULL yields ``ks_d = NaN``, matching the grid's 0/0. With
    ``include_rows``, ``rows_scanned`` counts NULL rows too.
    """
    v = F.col(value_col).cast("double").alias("v")
    pc = (
        df.select(F.col(partition_col).alias("partition_id"), v)
          .groupBy("partition_id", "v").agg(F.count(F.lit(1)).alias("c_p"))
    )

    w_v = Window.orderBy("v") \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = (
        df.select(v).filter(F.col("v").isNotNull())
          .groupBy("v").agg(F.count(F.lit(1)).alias("c_b"))
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

    cdf_p = cum_p / n_p
    cdf_b = F.col("cum_b") / F.col("n_base")
    pre_p = (cum_p - F.col("c_p")) / n_p
    pre_b = (F.col("cum_b") - F.col("c_b")) / F.col("n_base")
    d = F.when(F.col("v").isNotNull(),
               F.greatest(F.abs(cdf_p - cdf_b), F.abs(pre_p - pre_b)))

    scored = j.withColumn("d", d).withColumn("c_nn", c_nn)
    aggs = [F.when(F.sum("c_nn") == 0, F.lit(float("nan")))
             .otherwise(F.max("d")).alias("ks_d")]
    if include_rows:
        aggs.append(F.sum("c_p").alias("rows_scanned"))
    return scored.groupBy("partition_id").agg(*aggs)


def ks_by_partition_counts(df: DataFrame, partition_col: str, value_col: str,
                           base_counts: DataFrame) -> DataFrame:
    """KS-D against pinned baseline *value counts* ``(v, c_b)``.

    Same grid construction as :func:`ks_by_partition` but the baseline side is
    the stored count table (bounded by #distinct values), not raw rows —
    the checkpointable form.
    """
    v = F.col(value_col).cast("double").alias("v")
    values = base_counts.select("v").union(df.select(v)).distinct()
    parts = df.select(F.col(partition_col).alias("partition_id")).distinct()
    grid = parts.crossJoin(values)

    part_counts = (
        df.select(F.col(partition_col).alias("partition_id"), v)
          .groupBy("partition_id", "v").agg(F.count(F.lit(1)).alias("c_p"))
    )
    joined = (
        _pid_nullsafe_join(grid, part_counts, "v")
            .join(F.broadcast(base_counts), ["v"], "left")
            .na.fill({"c_p": 0, "c_b": 0})
    )
    return _ks_grid_tail(joined)
