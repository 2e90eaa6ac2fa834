"""Checkpoint/resume with per-partition lineage — the north-rule T1-T4 recast.

The reference checkpoints progress in watermark tables
(/root/reference/models/updates.py:10-28) so every run is resumable and
incremental, and truncates state when the gap is too large or config changed
(/root/reference/data_processing/detector.py:88-92). This module provides the
same guarantees for the check-suite engine:

- ``CheckpointStore``: a partition-keyed state table carrying per-partition
  lineage — ``(partition_id, suite_hash, snapshot_id, rows_scanned,
  stat_digest, n_failed, t_ms, run_id)``. In production this is an Iceberg
  table maintained with ``MERGE INTO``; in this sandbox it is an
  append-parquet directory with latest-run-wins read semantics (same
  idempotency contract: re-running a crashed run re-merges the same keys).
- **Pinned baselines**: global-baseline checks (z-score, PSI, KS) must
  compare against the baseline captured when the suite was first run,
  otherwise "incremental result ≡ from-scratch recompute" breaks. On first
  run the store captures global moments / histogram / value-counts; resumed
  runs re-pin the stored baseline into the suite.
- **Skip-done**: partitions already verdicted under the same
  ``(suite_hash, snapshot_id)`` are filtered out *before* the scan — an
  ``isin``/anti filter on the partition column that Catalyst pushes into
  partition pruning, so resumed runs do not touch completed partitions' data.
- **Gap reset**: a changed suite (different ``suite_hash``) or changed input
  (different ``snapshot_id``) invalidates all prior state, mirroring the
  reference's truncate-and-recompute rule.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyanomalydetector_spark.checks.core import (
    Check, CheckResult, run_checks, VERDICT_SCHEMA, VIOLATION_SCHEMA,
)
from pyanomalydetector_spark.checks.drift import (
    ks_value_counts, psi_histogram,
)
from pyanomalydetector_spark.functions.stats import (
    sufficient_stats, finalize_mean_std,
)

CKPT_SCHEMA = ("partition_id string, suite_hash string, snapshot_id string, "
               "rows_scanned long, stat_digest long, n_failed long, "
               "t_ms double, run_id long")


def suite_hash(checks: list[Check]) -> str:
    """Stable digest of the suite definition, INCLUDING the identity of
    DataFrame-valued params (a trusted snapshot for ``token_invariant``, an
    ``allowed`` dimension frame, a user baseline). Collapsing those to the
    bare type name would let a replaced snapshot keep the old hash, so
    ``done_partitions`` would serve stale verdicts instead of re-checking —
    violating the module's gap-reset contract. File-backed frames hash
    their sorted file listing (a parquet rewrite always lands new
    uniquely-named part files) PLUS the canonicalized analyzed plan —
    ``read.parquet(p).filter("source='s1'")`` and the same read filtered to
    ``'s2'`` list identical input files, so files alone would alias two
    different baselines onto one hash; the plan string captures every
    transformation (filter/projection/join) above the scan. Expression ids
    (``#123``) are session-assigned and stripped, else the SAME suite would
    hash differently on every run and spuriously gap-reset. ``file:`` URIs
    additionally carry (size, mtime) — a non-Spark writer rewriting a file
    IN PLACE under the same name must change the identity, matching
    :func:`snapshot_id_for_dir`'s discipline for the main input. In-memory
    frames hash their content (they are small, driver-created config
    frames)."""
    def df_identity(v: DataFrame):
        files = sorted(v.inputFiles())
        if files:
            plan = v._jdf.queryExecution().analyzed().toString()
            stats = []
            for u in files:
                if u.startswith("file:"):
                    p = re.sub(r"^file:/+", "/", u)
                    try:
                        st = os.stat(p)
                        stats.append((st.st_size, int(st.st_mtime)))
                    except OSError:
                        stats.append(None)
            return {"df_files": files, "df_stats": stats,
                    "df_plan": re.sub(r"#\d+", "#", plan)}
        row = v.select(
            # decimal sum: ANSI mode would throw on BIGINT sum overflow
            F.sum(F.xxhash64(*[F.col(c) for c in sorted(v.columns)])
                   .cast("decimal(38,0)")).alias("h"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        return {"df_hash": str(row["h"]), "df_rows": int(row["n"]),
                "df_cols": sorted(v.columns)}

    def scalarize(v):
        if isinstance(v, (str, int, float, bool)) or v is None:
            return v
        if isinstance(v, (list, tuple)):
            return [scalarize(x) for x in v]
        if isinstance(v, dict):
            return {k: scalarize(x) for k, x in sorted(v.items())}
        if isinstance(v, DataFrame):
            return df_identity(v)
        return f"<{type(v).__name__}>"
    payload = [(c.check_id, c.kind,
                {k: scalarize(v) for k, v in sorted(c.params.items())})
               for c in checks]
    return hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]


def snapshot_id_for_dir(path: str) -> str:
    """Input identity from file listing (name, size, mtime) — the sandbox
    stand-in for an Iceberg snapshot id."""
    entries = []
    for root, dirs, files in os.walk(path):
        dirs.sort()   # os.walk's subdir order is readdir-dependent; an
        # unsorted walk gives the SAME content a different id on another
        # filesystem → a spurious full gap-reset of an unchanged input
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            entries.append((os.path.relpath(os.path.join(root, f), path),
                            st.st_size, int(st.st_mtime)))
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()[:16]


@dataclass
class PinnedBaseline:
    """Engine-portable scalars + bounded count tables captured at first run."""
    moments: dict = field(default_factory=dict)   # value_col -> {mean, std}
    psi: dict = field(default_factory=dict)       # value_col -> {lo, hi, counts, n_base}
    ks_value_cols: list = field(default_factory=list)  # stored as parquet


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog whose classes are on the
    classpath, else None. This is the production/gated backend switch: with
    Iceberg present the state table is a real Iceberg table maintained with
    ``MERGE INTO`` and snapshot-id lineage; without it (this sandbox ships
    no Iceberg jars) the append-parquet emulation below provides the same
    latest-run-wins contract, pinned by the same tests."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return None
    for k, v in spark.sparkContext.getConf().getAll():
        parts = k.split(".")
        if (k.startswith("spark.sql.catalog.") and len(parts) == 4
                and "Catalog" in str(v)):
            return parts[3]
    return None


class CheckpointStore:
    def __init__(self, spark: SparkSession, path: str,
                 catalog: str | None = None):
        self.spark = spark
        self.path = path
        self.ckpt_dir = os.path.join(path, "checkpoint")
        self.verdicts_dir = os.path.join(path, "verdicts")
        self.violations_dir = os.path.join(path, "violations")
        self.baseline_json = os.path.join(path, "baseline.json")
        self.ks_dir = os.path.join(path, "ks_baseline")
        os.makedirs(path, exist_ok=True)
        # Iceberg backend: explicit catalog, or auto-detected; None = parquet
        self.catalog = catalog if catalog is not None else iceberg_catalog(spark)
        if self.catalog:
            tag = hashlib.sha256(path.encode()).hexdigest()[:12]
            self.ckpt_table = f"{self.catalog}.anomdec.ckpt_{tag}"
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.anomdec")
            spark.sql(f"CREATE TABLE IF NOT EXISTS {self.ckpt_table} "
                      f"({CKPT_SCHEMA}) USING iceberg")

    # -------------------------------------------------------- state table ---
    def read_checkpoint(self) -> DataFrame:
        if self.catalog:
            return self.spark.table(self.ckpt_table)
        if not os.path.isdir(self.ckpt_dir):
            return self.spark.createDataFrame([], CKPT_SCHEMA)
        df = self.spark.read.parquet(self.ckpt_dir)
        w = Window.partitionBy("partition_id").orderBy(F.desc("run_id"))
        return df.withColumn("_rn", F.row_number().over(w)) \
                 .filter(F.col("_rn") == 1).drop("_rn")

    def current_snapshot_id(self) -> str | None:
        """Iceberg table snapshot id of the state table (lineage column in
        production); None on the parquet backend (callers fall back to
        :func:`snapshot_id_for_dir` input identity)."""
        if not self.catalog:
            return None
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.ckpt_table}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").collect()
        return str(rows[0]["snapshot_id"]) if rows else None

    def expire_snapshots(self, older_than_ts: str) -> None:
        """T7 retention at production fidelity (Iceberg only):
        ``CALL <catalog>.system.expire_snapshots``. The parquet backend's
        analog is plans/retention.evict_older_than."""
        if not self.catalog:
            raise RuntimeError("expire_snapshots needs the Iceberg backend")
        self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.ckpt_table.split('.', 1)[1]}', "
            f"older_than => TIMESTAMP '{older_than_ts}')")

    def done_partitions(self, shash: str, snap: str) -> list[str]:
        return [r["partition_id"] for r in
                self.read_checkpoint()
                    .filter((F.col("suite_hash") == shash)
                            & (F.col("snapshot_id") == snap))
                    .select("partition_id").collect()]

    def merge(self, rows: DataFrame) -> None:
        """Upsert the per-partition state rows.

        Iceberg backend: a real ``MERGE INTO`` keyed on partition_id (one
        live row per partition — re-running a crashed run re-merges the same
        keys idempotently). Parquet backend: append + latest-run-wins read
        (read_checkpoint), the same contract without transactional DDL.
        """
        if self.catalog:
            rows.createOrReplaceTempView("_ckpt_incoming")
            self.spark.sql(f"""
                MERGE INTO {self.ckpt_table} t
                USING _ckpt_incoming s
                ON t.partition_id <=> s.partition_id
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *
            """)
            self.spark.catalog.dropTempView("_ckpt_incoming")
            return
        rows.write.mode("append").parquet(self.ckpt_dir)

    # ----------------------------------------------------------- baseline ---
    def save_baseline(self, shash: str, snap: str, bl: PinnedBaseline,
                      ks_counts: dict[str, DataFrame]) -> None:
        """KS parquet FIRST, the json commit marker LAST and atomically
        (tmp + os.replace): load_baseline treats the json as the commit
        record, so writing it before the parquet would make a crash in
        between unrecoverable — every later run would load the baseline,
        then raise on the missing ks_counts path until someone hand-deleted
        the json. A crash before the json simply recomputes; a torn json
        can never be observed through the rename.

        The count tables land in dirs VERSIONED by (suite_hash, snapshot):
        an unversioned ``ks/<vc>`` would be clobbered by the overwrite-write
        for a NEW (hash, snapshot) BEFORE the json swap, so a crash in that
        window would leave the old json validly pointing at the new run's
        (or a torn) parquet — silently wrong ks_d against a baseline that
        passes load_baseline's identity check. With versioned dirs the old
        pointer's data is never touched; superseded versions are pruned
        only AFTER the swap (keeping the previous version as the
        manual-recovery fallback, the streaming state store's discipline —
        a crash mid-prune just leaves extra dirs for the next save)."""
        prev_keep: set[str] = set()
        if os.path.exists(self.baseline_json):
            try:
                with open(self.baseline_json) as f:
                    prev_keep = set(json.load(f).get("ks_dirs", {}).values())
            except (OSError, ValueError):
                pass
        ver = f"{shash}_{snap}"
        ks_dirs = {}
        for vc, df in ks_counts.items():
            d = f"{vc}__{ver}"
            df.write.mode("overwrite").parquet(os.path.join(self.ks_dir, d))
            ks_dirs[vc] = d
        tmp = self.baseline_json + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"suite_hash": shash, "snapshot_id": snap,
                       "moments": bl.moments, "psi": bl.psi,
                       "ks_value_cols": bl.ks_value_cols,
                       "ks_dirs": ks_dirs}, f)
        os.replace(tmp, self.baseline_json)
        if os.path.isdir(self.ks_dir):
            keep = set(ks_dirs.values()) | prev_keep
            for d in os.listdir(self.ks_dir):
                if d not in keep:
                    shutil.rmtree(os.path.join(self.ks_dir, d),
                                  ignore_errors=True)

    def load_baseline(self, shash: str, snap: str) -> PinnedBaseline | None:
        if not os.path.exists(self.baseline_json):
            return None
        with open(self.baseline_json) as f:
            d = json.load(f)
        if d["suite_hash"] != shash or d["snapshot_id"] != snap:
            return None
        return PinnedBaseline(d["moments"], d["psi"], d["ks_value_cols"])

    def pinned_suite(self, df: DataFrame, checks: list[Check], shash: str,
                     snap: str) -> list[Check]:
        """``checks`` with their global baselines pinned: the stored
        baseline of ``(shash, snap)``, or — when there is none — one
        computed from ``df`` and saved first."""
        bl = self.load_baseline(shash, snap)
        if bl is None:
            bl, ks_counts = compute_baseline(df, checks)
            self.save_baseline(shash, snap, bl, ks_counts)
        return pin_suite(checks, bl, self)

    def ks_counts(self, value_col: str) -> DataFrame:
        d = value_col   # legacy layout: unversioned dir named by the column
        if os.path.exists(self.baseline_json):
            with open(self.baseline_json) as f:
                d = json.load(f).get("ks_dirs", {}).get(value_col, d)
        # the schema is drift.ks_value_counts'; giving it skips the
        # footer-inference job that every read of the counts would run
        # (once per stream batch)
        return self.spark.read.schema("v double, c_b long") \
                   .parquet(os.path.join(self.ks_dir, d))

    # ------------------------------------------------------------ results ---
    def _read_results(self, directory: str, schema, shash: str, snap: str) -> DataFrame:
        if not os.path.isdir(directory):
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.parquet(directory) \
                 .filter((F.col("suite_hash") == shash)
                         & (F.col("snapshot_id") == snap))
        # latest run wins per (partition, check) — but keep ALL of that run's
        # rows (duplicate violation rows are legitimate: one per physical row)
        w = Window.partitionBy("partition_id", "check_id")
        return (df.withColumn("_mx", F.max("run_id").over(w))
                  .filter(F.col("run_id") == F.col("_mx"))
                  .drop("_mx", "suite_hash", "snapshot_id", "run_id"))

    def read_verdicts(self, shash: str, snap: str) -> DataFrame:
        return self._read_results(self.verdicts_dir, VERDICT_SCHEMA, shash, snap)

    def read_violations(self, shash: str, snap: str) -> DataFrame:
        return self._read_results(self.violations_dir, VIOLATION_SCHEMA, shash, snap)


# ---------------------------------------------------------------- baseline ---

def compute_baseline(df: DataFrame, checks: list[Check]) -> tuple[PinnedBaseline, dict]:
    """Capture every global baseline the suite's checks need (one pass each,
    all tiny outputs).

    Checks carrying an explicit user ``baseline`` DataFrame are SKIPPED:
    the user's reference is already a run-stable external constant, and
    pinning an input-derived baseline over it would silently turn drift-
    vs-reference into self-comparison (PSI ≈ 0, drift never flagged) and
    z-scores against the wrong mean/std. Degenerate inputs (empty, or an
    all-NULL value column) are also skipped rather than crashed on — the
    unpinned check then degrades exactly like the plain ``run_checks``
    path (no verdict rows), preserving one-shot ≡ resumed parity."""
    bl = PinnedBaseline()
    ks_counts: dict[str, DataFrame] = {}
    for c in checks:
        vc = c.params.get("value_col", "n_tok")
        if c.params.get("baseline") is not None:
            continue
        if c.kind == "zscore_threshold" and vc not in bl.moments:
            rows = finalize_mean_std(sufficient_stats(
                df.select(F.lit("all").alias("_g"), vc), ["_g"], vc)) \
                .select("mean", "std").collect()
            if not rows:   # empty input / all-NULL column: cnt==0 filtered
                continue
            row = rows[0]
            bl.moments[vc] = {"mean": float(row["mean"]), "std": float(row["std"])}
        elif c.kind == "drift_psi" and vc not in bl.psi:
            hist = psi_histogram(df, vc, int(c.params.get("buckets", 10)))
            if hist["lo"] is None:   # empty input / all-NULL column
                continue
            bl.psi[vc] = hist
        elif c.kind == "drift_ks" and vc not in bl.ks_value_cols:
            bl.ks_value_cols.append(vc)
            ks_counts[vc] = ks_value_counts(df, vc)
    return bl, ks_counts


def pin_suite(checks: list[Check], bl: PinnedBaseline,
              store: CheckpointStore) -> list[Check]:
    """Rewrite baseline-dependent checks to use the pinned baseline. A
    check with an explicit user ``baseline`` keeps it (see
    :func:`compute_baseline`) — the guard is per CHECK, not per value_col,
    so a user-baselined check and an input-baselined one may share a
    value_col without the pin leaking onto the former."""
    pinned = []
    for c in checks:
        vc = c.params.get("value_col", "n_tok")
        if c.params.get("baseline") is not None:
            pinned.append(c)
        elif c.kind == "zscore_threshold" and vc in bl.moments:
            pinned.append(Check(c.check_id, c.kind,
                                {**c.params, "baseline_scalars": bl.moments[vc]}))
        elif c.kind == "drift_psi" and vc in bl.psi:
            pinned.append(Check(c.check_id, c.kind,
                                {**c.params, "pinned_hist": bl.psi[vc]}))
        elif c.kind == "drift_ks" and vc in bl.ks_value_cols:
            pinned.append(Check(c.check_id, c.kind,
                                {**c.params,
                                 "baseline_counts": store.ks_counts(vc)}))
        else:
            pinned.append(c)
    return pinned


# --------------------------------------------------------------- run loop ---

def run_with_checkpoint(df: DataFrame, checks: list[Check],
                        store: CheckpointStore, partition_col: str = "source",
                        snapshot_id: str = "static") -> CheckResult:
    """Resumable check-suite run: skip-done partitions, pinned baselines,
    per-partition lineage rows merged into the checkpoint.

    Returns the union of all verdicts/violations for the current
    ``(suite_hash, snapshot_id)`` — identical to a from-scratch run
    (asserted in tests/test_checkpoint.py).
    """
    shash = suite_hash(checks)
    run_id = time.time_ns()

    pinned = store.pinned_suite(df, checks, shash, snapshot_id)

    done = store.done_partitions(shash, snapshot_id)
    # NULL-SAFE skip-done: a checkpointed NULL partition must be skipped
    # without poisoning the filter — a plain ~isin(list-with-None) is NULL
    # for every row (three-valued logic) and silently empties pending_df,
    # and a pending NULL partition would evaluate NULL.isin(...) = NULL and
    # never be rescored.
    done_nn = [d for d in done if d is not None]
    is_done = (F.coalesce(F.col(partition_col).isin(done_nn), F.lit(False))
               if done_nn else F.lit(False))
    if any(d is None for d in done):
        is_done = is_done | F.col(partition_col).isNull()
    pending_df = df.filter(~is_done) if done else df

    # the null-safe is_done filter drops exactly the done partitions, so
    # "any partition left" is "any row left" — no distinct shuffle
    if not pending_df.isEmpty():
        t0 = time.perf_counter()
        res = run_checks(pending_df, pinned, partition_col)
        verdicts = res.verdicts.localCheckpoint()
        violations = res.violations.localCheckpoint()
        res.unpersist()   # checkpoints are materialized; drop suite caches
        t_ms = (time.perf_counter() - t0) * 1000.0

        meta = [F.lit(shash).alias("suite_hash"),
                F.lit(snapshot_id).alias("snapshot_id"),
                F.lit(run_id).alias("run_id")]
        verdicts.select("*", *meta).write.mode("append").parquet(store.verdicts_dir)
        violations.select("*", *meta).write.mode("append").parquet(store.violations_dir)

        # per-partition lineage: digest over the partition's sorted verdicts
        digest = verdicts.groupBy("partition_id").agg(
            F.xxhash64(F.concat_ws("|", F.array_sort(F.collect_list(
                F.concat_ws(":", "check_id", F.col("passed").cast("string"),
                            F.round("observed", 6).cast("string"),
                            F.col("n_violations").cast("string"))))))
             .alias("stat_digest"),
            F.max("rows_scanned").alias("rows_scanned"),
            F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("n_failed"),
        )
        ckpt_rows = digest.select(
            "partition_id",
            F.lit(shash).alias("suite_hash"),
            F.lit(snapshot_id).alias("snapshot_id"),
            F.col("rows_scanned").cast("long"),
            F.col("stat_digest").cast("long"),
            F.col("n_failed").cast("long"),
            F.lit(t_ms).alias("t_ms"),
            F.lit(run_id).alias("run_id"),
        )
        store.merge(ckpt_rows)

    return CheckResult(store.read_verdicts(shash, snapshot_id),
                       store.read_violations(shash, snapshot_id))
