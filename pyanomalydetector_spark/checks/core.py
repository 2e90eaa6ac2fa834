"""The declarative check suite: checks → per-partition verdicts + violations.

This is the Spark-native recast of the reference's detection cascade
(/root/reference/detect_anomalies.py:82-122): instead of imperative per-item
loops writing to Postgres, each check is a declarative DataFrame plan over the
sequence table, producing

- ``verdicts``:   one row per (partition_id, check_id) —
  ``(partition_id, check_id, passed, observed, expected, threshold,
  n_violations, rows_scanned)``
- ``violations``: one row per violating document —
  ``(partition_id, check_id, doc_id, observed, expected)``

mirroring the reference's ``anomalies`` verdict table
(/root/reference/db/sql/postgresql/create_table_anomalies.sql.j2) and per-item
filter survivors.

Check kinds and their reference lineage:

- ``column_stats``     — per-partition sufficient stats of a numeric column
  (stats.py:75-79, 130-135) with min-count gating (detector.py:192
  ``cnt > trends_min_count``).
- ``zscore_threshold`` — detect1 semantics (detector.py:211): partition mean
  deviates from baseline mean by more than λ·σ, guarded by the relative-diff
  filter (detector.py:218 — the reference has an operator-precedence bug
  there: ``mean_t > 0 & (...)`` binds as ``mean_t > (0 & (...))``; we
  implement the *intended* semantics ``mean_t > 0 AND reldiff > rate`` and
  pin that choice in tests).
- ``unique``           — doc_id uniqueness via one direct (partition, key)
  count aggregation (map-side combine absorbs hot keys; exact duplicate
  emission).
- ``referential``      — membership of ``source`` in an allowed dimension
  (models/anomalies.py:94-104 anti-join discipline).
- ``n_tok_consistency``— metadata invariant ``n_tok == size(tokens)``.
- ``token_range``      — token-id vocabulary bounds: every array element
  non-NULL and in ``[min_value, max_value)`` (detect1's absolute-limit
  predicate applied element-wise to the token payload).
- ``token_invariant``  — token-array byte-equality against a trusted snapshot:
  xxhash64+length prefilter, exact array compare on candidates.
- ``drift_psi`` / ``drift_ks`` — distribution drift vs pinned baseline
  (recasting detect2/3's recent-vs-historical comparisons; see drift.py).

``column_stats``, ``zscore_threshold``, ``referential``,
``n_tok_consistency``, ``token_range`` and ``drift_psi`` have one
implementation, the fused SQL builder in checks/fused.py; this module builds
the kinds that need their own shuffle (``unique``, ``token_invariant``,
``drift_ks``) and unions everything in :func:`run_checks`.

Scale posture: every check is a groupBy/join plan whose shuffled data is
O(#partitions) or O(#violations), never O(rows) beyond the initial scan; the
uniqueness check's map-side combine sends a hot key's reducer one partial
count per map task, not one row per copy.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

from pyanomalydetector_spark.checks.drift import ks_by_partition

VERDICT_SCHEMA = StructType([
    StructField("partition_id", StringType()),
    StructField("check_id", StringType()),
    StructField("passed", BooleanType()),
    StructField("observed", DoubleType()),
    StructField("expected", DoubleType()),
    StructField("threshold", DoubleType()),
    StructField("n_violations", LongType()),
    StructField("rows_scanned", LongType()),
])
VIOLATION_SCHEMA = StructType([
    StructField("partition_id", StringType()),
    StructField("check_id", StringType()),
    StructField("doc_id", StringType()),
    StructField("observed", StringType()),
    StructField("expected", StringType()),
])


def _sq(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + str(s).replace("'", "''") + "'"


def _bt(name: str) -> str:
    """Backtick-quoted identifier for user-supplied column names. Spark's
    identifier-escape convention is DOUBLING the backtick — stripping would
    silently resolve a column literally named ``a`b`` to ``ab``."""
    return "`" + str(name).replace("`", "``") + "`"


def _d(x: float) -> str:
    """Exact DOUBLE literal: repr() is shortest-round-trip, so the parsed
    double is bit-identical to the Python float F.lit() would have sent
    (bare decimal literals parse as DECIMAL in Spark SQL — never use them)."""
    return f"CAST('{repr(float(x))}' AS DOUBLE)"


def verdict_select(frame: DataFrame, check_id: str, passed: str,
                   observed: str, expected: str, threshold: str,
                   n_violations: str, rows_scanned: str) -> DataFrame:
    """The one projection to :data:`VERDICT_SCHEMA`: ``frame`` carries a
    ``partition_id`` column, every other argument but ``check_id`` (a plain
    check id) is a SQL expression over ``frame``. One ``selectExpr`` — one
    py4j round trip — per verdict frame."""
    return frame.selectExpr(
        "CAST(partition_id AS STRING) AS partition_id",
        f"{_sq(check_id)} AS check_id",
        f"CAST({passed} AS BOOLEAN) AS passed",
        f"CAST({observed} AS DOUBLE) AS observed",
        f"CAST({expected} AS DOUBLE) AS expected",
        f"CAST({threshold} AS DOUBLE) AS threshold",
        f"CAST({n_violations} AS BIGINT) AS n_violations",
        f"CAST({rows_scanned} AS BIGINT) AS rows_scanned",
    )


def violation_select(frame: DataFrame, check_id: str, doc_id: str,
                     observed: str, expected: str) -> DataFrame:
    """The one projection to :data:`VIOLATION_SCHEMA`: ``frame`` carries a
    ``partition_id`` column, every other argument is a SQL expression over
    ``frame`` (``check_id`` included — the fused pass reads it per row)."""
    return frame.selectExpr(
        "CAST(partition_id AS STRING) AS partition_id",
        f"CAST({check_id} AS STRING) AS check_id",
        f"CAST({doc_id} AS STRING) AS doc_id",
        f"CAST({observed} AS STRING) AS observed",
        f"CAST({expected} AS STRING) AS expected",
    )


@dataclass(frozen=True)
class Check:
    check_id: str
    kind: str
    params: dict = field(default_factory=dict)


@dataclass
class CheckResult:
    verdicts: DataFrame
    violations: DataFrame
    # frames persisted while building the plans (fused aggregates, unique's
    # per-partition rollup). Long-lived sessions (streaming micro-batches)
    # must call unpersist() once verdicts/violations are materialized, or
    # cached frames accumulate until LRU eviction.
    cached: tuple = ()

    def unpersist(self) -> None:
        for frame in self.cached:
            frame.unpersist()

    def materialize(self) -> tuple[int, int]:
        """Count verdicts and violations; returns ``(n_verdicts, n_viols)``.

        Persisted intermediates are materialized FIRST, so the two result
        counts can then run on concurrent threads without racing an
        unmaterialized cache: two actions hitting a lazy persist at once
        each recompute the whole subtree (the documented lazy-persist
        race), whereas after eager materialization both are cache hits.
        The cached frames themselves are INDEPENDENT plans (fused
        aggregates, unique's per-partition rollup), so their first counts
        run concurrently too — each frame is counted by exactly one
        thread, which is race-free, and the suite's heavy
        shuffles overlap instead of queueing (measured 53 s → ~44 s at
        local[4]/32M rows).
        """
        from concurrent.futures import ThreadPoolExecutor
        if self.cached:
            with ThreadPoolExecutor(max_workers=len(self.cached)) as ex:
                list(ex.map(lambda f: f.count(), self.cached))
        with ThreadPoolExecutor(max_workers=2) as ex:
            fv = ex.submit(self.verdicts.count)
            fw = ex.submit(self.violations.count)
            return fv.result(), fw.result()


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """A 0-row frame of ``schema`` that Catalyst sees is empty: typed NULLs
    filtered by FALSE optimize to an empty ``LocalRelation``
    (``LocalTableScan <empty>``), which every union drops. ``createDataFrame([], schema)`` is a Python-RDD scan instead:
    never pruned, it ran one Python-worker task per default-parallelism slot
    in every job it joined."""
    return spark.range(1).selectExpr(*(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS {_bt(f.name)}"
        for f in schema.fields)).where("FALSE")


def sized_to_input(frame: DataFrame, df: DataFrame) -> DataFrame:
    """``frame`` — a small result built from ``df`` — coalesced to one
    partition per ``spark.sql.files.maxPartitionBytes`` of the planner's
    size estimate of ``df``, or returned as is when that reaches
    ``spark.sql.shuffle.partitions``. The estimate is the optimized plan's
    statistics (file sizes for a file scan; no job runs); an input of
    unknown size, such as an RDD-backed frame, keeps the parallel plan.

    ``coalesce`` is narrow: it also sets the task count of the stage that
    produces ``frame``, up to the last shuffle. Tying it to the input size
    keeps that stage's work per task bounded by one input split's worth —
    a 5k-row micro-batch runs it as one task, a multi-GB input in parallel
    as before."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    size = size if isinstance(size, int) else int(size.toString())
    n = -(-size // conf.filesMaxPartitionBytes())
    return frame.coalesce(max(n, 1)) if n < conf.numShufflePartitions() \
        else frame


# ---------------------------------------------------------------- checks ----

def _unique_per_part(df: DataFrame, key: str, pcol: str,
                     max_dup_emit: int = 100_000) -> DataFrame:
    """Lazy per-partition uniqueness rollup: ``(partition_id, n_keys,
    n_dup_keys, rows_scanned, _dups)``.

    ``n_dup_keys`` (the verdict count) is always EXACT; ``_dups`` — the
    emitted duplicate list — is capped at ``max_dup_emit`` entries per
    partition (worst offenders first: highest copy-count, then key order).
    Web-scale corpora run 30-50 % duplicate keys, so an uncapped per-
    partition array would hold millions of structs in one aggregation
    buffer / checkpointed row; the cap bounds memory while the verdict
    still reports the true violation count.

    Kept as its own function so the plan gate in tests/test_explain_plans.py
    can assert the counts-exchange reuse on the LAZY plan (the check
    persists it, hiding the shared exchange behind an InMemoryTableScan
    from consumers).

    One direct ``(partition, key)`` count aggregation, with no salted or
    digest-prefiltered variant: the hash aggregate's map-side combine
    already neutralises a hot key, and an 8-byte digest shuffle with exact
    confirm lost to it at 32M rows of ~120-byte keys (local[4], medians of
    5 alternating pairs: 42.4 s vs 35.1 s; a salt on one key holding a
    quarter of the rows: 65.2 s vs 34.9 s).
    """
    counts = df.select(F.col(pcol).alias("partition_id"), F.col(key)) \
               .groupBy("partition_id", key) \
               .agg(F.count(F.lit(1)).alias("cnt"))

    # ONE pass over the (large) per-key counts: the scalar rollup and the
    # duplicate list are two branches of ONE plan over the same counts
    # exchange — ReuseExchange/AQE stage reuse executes the big shuffle
    # once, the scalar branch stays whole-stage-codegen HashAggregate, and
    # the collect_list object aggregate only ever sees the cnt>1 rows
    # (bounded by #violations). Folding the collect_list into the scalar
    # rollup instead forces the WHOLE counts frame through a non-codegen
    # ObjectHashAggregate — measured 2.3× slower at 32M rows.
    scalars = counts.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("n_dup_keys"),
        F.sum("cnt").alias("rows_scanned"),
    )
    # the capped duplicate list, worst first; (cnt desc, key) keeps it
    # deterministic
    w_rank = Window.partitionBy("partition_id") \
                   .orderBy(F.col("cnt").desc(), F.col(key))
    dup_rows = counts.filter(F.col("cnt") > 1) \
                     .withColumn("_rn", F.row_number().over(w_rank)) \
                     .filter(F.col("_rn") <= max_dup_emit).drop("_rn")
    dup_lists = dup_rows.groupBy(
        F.col("partition_id").alias("_dp")).agg(
        F.collect_list(F.struct(F.col(key).alias("k"),
                                F.col("cnt").alias("c"))).alias("_dups"))
    # left join: partitions without duplicates get _dups = NULL (explode()
    # of NULL emits no rows, same as the empty list). NULL-SAFE equality,
    # for two reasons: a NULL partition_id's duplicates must still attach
    # to its verdict row (groupBy keeps NULL as a group), and a plain
    # equi-join would let Catalyst infer isnotnull(partition_id) on the
    # dup branch only — making the two counts subtrees non-identical and
    # silently disabling the exchange reuse this split depends on.
    return scalars.join(
        dup_lists, scalars["partition_id"].eqNullSafe(dup_lists["_dp"]),
        "left").drop("_dp")


def _check_unique(df: DataFrame, check: Check, pcol: str) -> CheckResult:
    """Key-uniqueness check with exact duplicate emission.

    Skew analysis (north-rule): the groupBy key is (partition, doc_id) —
    high-cardinality by construction, so hash partitioning spreads it evenly,
    and a *hot duplicate key* (one doc_id with millions of copies) is
    neutralized by the hash aggregate's map-side combine: each map task emits
    one partial count per key, so the hot key's reducer receives #map-tasks
    rows, not #duplicates. Skewed *joins* elsewhere in the engine are
    covered by AQE (session.py: spark.sql.adaptive.skewJoin.enabled).
    """
    key = check.params.get("key", "doc_id")
    # ``max_dup_emit``: per-partition cap on EMITTED duplicate rows (the
    # verdict's n_violations stays exact; see _unique_per_part)
    max_dup_emit = int(check.params.get("max_dup_emit", 100_000))
    # tiny (O(partitions + min(violations, cap))); persisted for the two
    # consumers and registered in CheckResult.cached. NOT a localCheckpoint:
    # under AQE even ``localCheckpoint(eager=False)`` materializes every
    # shuffle stage at PLAN-BUILD time (toRdd finalizes the adaptive plan),
    # which ran the suite's biggest shuffle as a serial job inside
    # run_checks before any other suite job could start (measured 28 s of
    # the 53 s local[4]/32M total spent inside the builder). A lazy persist
    # defers it to materialize(), where every cached frame's first count
    # runs CONCURRENTLY with the others — the unique shuffle now overlaps
    # the fused aggregate pass (measured 53 s → ~44 s at local[4]/32M).
    # Sized to the input before the persist, like the fused aggregate: a
    # persisted frame keeps its shuffle's output partitioning, and the
    # verdict and violation frames built on it would inherit that fan-out
    # for a handful of rows. Trade: the coalesce also sets the task count
    # of the rollup's last stage (the duplicate ranking window and
    # collect_list over every key with cnt > 1), so a small input runs it
    # as one task; it stays parallel from one split of input per task up
    # (see sized_to_input). The (partition, key) count shuffle below it
    # always stays parallel.
    per_part = sized_to_input(_unique_per_part(df, key, pcol, max_dup_emit),
                              df).persist()

    verdicts = verdict_select(
        per_part, check.check_id, passed="(n_dup_keys = 0)",
        observed="n_dup_keys", expected=_d(0.0), threshold=_d(0.0),
        n_violations="n_dup_keys", rows_scanned="rows_scanned")
    viol = violation_select(
        per_part.selectExpr("partition_id", "EXPLODE(_dups) AS d"),
        _sq(check.check_id), doc_id="d.k", observed="d.c",
        expected=_sq("1"))
    return CheckResult(verdicts, viol, cached=(per_part,))


def _token_digest_join(df: DataFrame, expected_df: DataFrame,
                       pcol: str) -> tuple[DataFrame, Column]:
    """The token-invariant's shared lazy digest frame: one scan per side,
    digests-only shuffles, one row per (partition_id, doc_id) with both
    sides' (hash, length) digests. Returns ``(joined, mismatch)`` where
    ``mismatch`` is the violation predicate over the frame.

    A digest mismatch PROVES the arrays differ (unequal hashes / lengths ⇒
    unequal bytes) — no exact-confirm rescan is needed; xxhash64 collisions
    can only produce false *negatives* (a missed corruption), which no
    candidate rescan could recover either.
    """
    # snapshot side: ONE canonical variant per doc (a snapshot with
    # conflicting duplicate doc_ids is ill-defined; the min-hash variant is
    # stable). hash and len must come from the SAME variant — independent
    # mins could mix fields of two conflicting variants and flag an
    # observed row that byte-equals the canonical one (min_by keeps the
    # buffer primitive, unlike min-of-struct which would leave codegen).
    exp = expected_df.groupBy("doc_id").agg(
        F.min(F.xxhash64("tokens")).alias("_exp_hash"),
        F.min_by(F.size("tokens"), F.xxhash64("tokens")).alias("_exp_len"),
    )
    # observed side: group by (partition, doc_id) with mutable-typed (long)
    # aggregates — a dropDuplicates here would carry the string partition
    # column through a first() buffer and fall back to SortAggregate on the
    # full scan. min AND max digests: every copy of the doc matches the
    # snapshot ⟺ min = max = expected, so a corrupted DUPLICATE row can
    # never hide behind a clean copy.
    obs = df.groupBy(F.col(pcol).alias("partition_id"), "doc_id").agg(
        F.min(F.xxhash64("tokens")).alias("_obs_hash_min"),
        F.max(F.xxhash64("tokens")).alias("_obs_hash"),
        F.min(F.size("tokens")).alias("_obs_len_min"),
        F.max(F.size("tokens")).alias("_obs_len"),
    )
    mismatch = (
        F.col("_exp_hash").isNull()
        | (F.col("_obs_hash") != F.col("_exp_hash"))
        | (F.col("_obs_hash_min") != F.col("_exp_hash"))
        | (F.col("_obs_len") != F.col("_exp_len"))
        | (F.col("_obs_len_min") != F.col("_exp_len"))
    )
    return obs.join(exp, "doc_id", "left"), mismatch


def _token_digest_rollup(df: DataFrame, expected_df: DataFrame,
                         pcol: str) -> DataFrame:
    """Lazy scalar digest rollup: ``(partition_id, rows_scanned, n_bad)``.

    Kept as its own function so tests/test_explain_plans.py can gate the
    plan of the frame that actually shuffles (the check checkpoints it
    eagerly, which hides its Exchanges from the consumer frames' plans).
    """
    joined, mismatch = _token_digest_join(df, expected_df, pcol)
    return joined.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.when(mismatch, 1).otherwise(0)).alias("n_bad"),
    )


def _check_token_invariant(df: DataFrame, check: Check, pcol: str) -> CheckResult:
    """Token-array byte-equality vs a trusted snapshot DataFrame.

    Scale discipline (same as ``exact_duplicate_groups``, dedup.py:56-80):
    only scan-side digests ``(doc_id, xxhash64(tokens), size(tokens))`` —
    ~24 bytes/row — ever cross a shuffle; the token payload itself is NEVER
    shuffled (at 100 TB the old payload-carrying join moved ~2× the corpus
    over the wire to find a handful of mismatches). A digest mismatch is
    *proof* of a byte difference (see :func:`_token_digest_join`), so
    verdicts come straight from the scalar rollup.

    Scan budget and memory: the clean case (every deployment's steady
    state) is exactly one pruned scan per side — the scalar rollup — and
    the violations frame is provably empty without running anything (the
    probe reads the checkpointed O(#partitions) rollup). Only when some
    partition actually has mismatches is the digest join re-derived and
    filtered to emit violation ROWS — a lazy distributed frame, so a
    heavily divergent snapshot (millions of mismatches) streams through
    executors instead of materializing per-partition candidate arrays or
    driver-bounded broadcasts; nothing in the dirty path assumes the
    violation set is small.
    """
    expected_df: DataFrame = check.params["expected"]
    # (_token_digest_rollup is separate so the no-tokens-below-shuffle plan
    # gate can inspect the LAZY rollup plan — the checkpoint here executes
    # it before any consumer plan is built.)
    per_part = _token_digest_rollup(df, expected_df, pcol).localCheckpoint()
    verdicts = verdict_select(
        per_part, check.check_id, passed="(n_bad = 0)", observed="n_bad",
        expected=_d(0.0), threshold=_d(0.0), n_violations="n_bad",
        rows_scanned="rows_scanned")

    bad_pids = [r["partition_id"] for r in
                per_part.filter(F.col("n_bad") > 0)
                        .select("partition_id").collect()]
    if not bad_pids:
        # clean corpus: zero extra scans, provably no violations
        return CheckResult(verdicts,
                           empty_frame(df.sparkSession, VIOLATION_SCHEMA))

    # dirty path: re-derive the digest join, but push the (tiny, known from
    # the checkpointed rollup) failing-partition set into the observed-side
    # scan — one corrupted partition must not cost a full-corpus re-scan.
    # NULL-safe: a NULL partition key can be a failing partition too.
    nn = [p for p in bad_pids if p is not None]
    is_bad = F.coalesce(F.col(pcol).isin(nn), F.lit(False)) if nn \
        else F.lit(False)
    if any(p is None for p in bad_pids):
        is_bad = is_bad | F.col(pcol).isNull()
    joined, mismatch = _token_digest_join(df.filter(is_bad), expected_df,
                                          pcol)
    viol = violation_select(
        joined.filter(mismatch), _sq(check.check_id), doc_id="doc_id",
        observed="_obs_hash",
        expected=f"COALESCE(CAST(_exp_hash AS STRING), {_sq('<absent>')})")
    return CheckResult(verdicts, viol)


def _check_drift_ks(df: DataFrame, check: Check, pcol: str) -> CheckResult:
    value_col = check.params.get("value_col", "n_tok")
    threshold = float(check.params.get("threshold", 0.2))
    # pinned or explicit-frame counts (plain_config); None: the input itself
    verdicts = verdict_select(
        ks_by_partition(df, pcol, value_col,
                        check.params.get("baseline_counts")), check.check_id,
        passed=f"(ks_d <= {_d(threshold)})", observed="ks_d",
        expected=_d(threshold), threshold=_d(threshold), n_violations="0",
        rows_scanned="rows_scanned")
    return CheckResult(verdicts,
                       empty_frame(df.sparkSession, VIOLATION_SCHEMA))


# kinds with their own plans; the aggregate kinds are built by checks/fused.py
_DISPATCH = {
    "unique": _check_unique,
    "token_invariant": _check_token_invariant,
    "drift_ks": _check_drift_ks,
}


def run_checks(df: DataFrame, checks: Iterable[Check],
               partition_col: str = "source") -> CheckResult:
    """Run a suite of checks; union the per-check verdict/violation frames.

    Aggregate-style checks (``column_stats``, ``zscore_threshold``,
    ``referential``, ``n_tok_consistency``, ``token_range``, ``drift_psi``)
    execute on the fused two-scan path (checks/fused.py): one groupBy pass
    computes every per-partition aggregate, one filter pass emits every
    row-level violation — at 100 TB this is the difference between 2 and 7+
    full table scans. Checks whose semantics need their own shuffle
    (``unique``, ``drift_ks``, ``token_invariant``) keep their own plans.
    DataFrame-valued params are first turned into plain config
    (:func:`~pyanomalydetector_spark.checks.fused.plain_config`). Check ids
    must be unique: an id also keys the check's pinned baseline.

    The input is deliberately NOT cached: each pass re-scans the columnar
    source with column pruning (a pass that only needs ``n_tok`` reads only
    that column), which beats materializing the full token table in executor
    memory — at 10¹²-row scale the input never fits cache, so the engine is
    designed around cheap pruned re-scans instead.
    """
    from pyanomalydetector_spark.checks.fused import (
        FUSIBLE_KINDS, plain_config, run_fused,
    )

    checks = list(checks)
    seen: set[str] = set()
    for check in checks:
        if check.kind not in FUSIBLE_KINDS and check.kind not in _DISPATCH:
            raise ValueError(f"unknown check kind {check.kind!r}")
        if check.check_id in seen:
            raise ValueError(f"duplicate check_id {check.check_id!r}")
        seen.add(check.check_id)
    checks = [c for c in map(plain_config, checks) if c is not None]

    # built one kind after another: no builder but token_invariant's (an
    # eager rollup checkpoint) runs a Spark job, and the suite's jobs
    # overlap in CheckResult.materialize
    fused = [c for c in checks if c.kind in FUSIBLE_KINDS]
    results = [run_fused(df, fused, partition_col)] if fused else []
    results += [_DISPATCH[c.kind](df, c, partition_col)
                for c in checks if c.kind not in FUSIBLE_KINDS]
    if not results:
        return CheckResult(empty_frame(df.sparkSession, VERDICT_SCHEMA),
                           empty_frame(df.sparkSession, VIOLATION_SCHEMA))

    verdicts = reduce(DataFrame.unionByName, (r.verdicts for r in results))
    violations = reduce(DataFrame.unionByName,
                        (r.violations for r in results))
    # verdicts hold at most partitions × checks rows: sized to the input, so
    # a small run's writer lands one file. The coalesce also folds the
    # stages after the last shuffle of every verdict plan (KS's
    # per-partition windows included) into that many tasks — one task for
    # a small input, the parallel plan from spark.sql.shuffle.partitions
    # splits of input up. Violations can be as large as the input and stay
    # parallel; the stream writer rebalances them instead.
    return CheckResult(sized_to_input(verdicts, df), violations,
                       cached=tuple(f for r in results for f in r.cached))


def default_suite(allowed_sources: Iterable[str]) -> list[Check]:
    """The standard suite over the sequence table (north-rule check kinds)."""
    return [
        Check("column_stats_n_tok", "column_stats",
              {"value_col": "n_tok", "min_count": 1}),
        Check("zscore_n_tok", "zscore_threshold",
              {"value_col": "n_tok", "lambda": 2.0, "ignore_diff_rate": 0.1}),
        Check("unique_doc_id", "unique", {"key": "doc_id"}),
        Check("referential_source", "referential",
              {"column": "source", "allowed": list(allowed_sources)}),
        Check("n_tok_consistency", "n_tok_consistency", {}),
        Check("drift_psi_n_tok", "drift_psi",
              {"value_col": "n_tok", "buckets": 10, "threshold": 0.25}),
        Check("drift_ks_n_tok", "drift_ks",
              {"value_col": "n_tok", "threshold": 0.35}),
    ]
