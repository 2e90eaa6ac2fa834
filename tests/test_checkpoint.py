"""Checkpoint/resume: skip-done, pinned baselines, lineage, gap reset.

Replicates the reference's oracle pattern "incremental result ≡ from-scratch
recompute" (/root/reference/tests/test_trends_stats.py:32-58) for the
check-suite engine.
"""

import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.sources.sequences import SEQ_SCHEMA, load_sequences
from pyanomalydetector_spark.checks.core import Check, run_checks, default_suite
from pyanomalydetector_spark.plans.checkpoint import (
    CheckpointStore, run_with_checkpoint, suite_hash, snapshot_id_for_dir,
    compute_baseline, pin_suite, CKPT_SCHEMA,
)


@pytest.fixture(scope="module")
def seq(spark, sf_dir):
    return load_sequences(spark, sf_dir).persist()


@pytest.fixture(scope="module")
def suite(seq):
    allowed = sorted(r["source"] for r in seq.select("source").distinct()
                     .filter(F.col("source").rlike("^src[0-9]+$")).collect())
    return default_suite(allowed)


def _norm_verdicts(df):
    return sorted(
        (r["partition_id"], r["check_id"], r["passed"],
         round(r["observed"], 6) if r["observed"] is not None else None,
         r["n_violations"], r["rows_scanned"])
        for r in df.collect())


def _norm_violations(df):
    return sorted(tuple(r) for r in df.collect())


def _psi_pair(*buckets):
    """``drift_psi`` checks on ``n_tok``, one per bucket count, in order:
    two checks on one column, each with its own histogram."""
    return [Check(f"psi_b{nb}", "drift_psi",
                  {"value_col": "n_tok", "buckets": nb, "threshold": 0.25})
            for nb in buckets]


def _null_psi_probe(spark):
    """40 rows with NULL ``n_tok`` over sources p0..p3 of 4, 8, 12 and 16
    rows, and one 10-bucket ``drift_psi`` check on the column: its baseline
    is the degenerate histogram (every row in bucket 0), and the smoothed
    score depends on how many rows that histogram counts."""
    rows = [(f"p{s}_{i}", [1], None, f"p{s}")
            for s in range(4) for i in range(4 * (s + 1))]
    return spark.createDataFrame(rows, SEQ_SCHEMA), _psi_pair(10)


def test_checkpointed_run_equals_plain_run(spark, seq, suite, tmp_path):
    """Also for two PSI checks that share a column: each is pinned to its
    own histogram, in either order (when pins were keyed by column, the
    [10, 20] order raised IndexError and [20, 10] scored psi_b10 against
    the 20-bucket histogram). And for an all-NULL PSI column resumed from
    half its sources: the run ≡ a one-shot run under the stored pins (when
    such a column pinned nothing, each run scored against only the rows it
    scanned)."""
    probe, probe_checks = _null_psi_probe(spark)
    for name, df, checks, first in (
            ("default", seq, suite, None),
            ("psi_10_20", seq, _psi_pair(10, 20), None),
            ("psi_20_10", seq, _psi_pair(20, 10), None),
            ("null_psi", probe, probe_checks, ["p0", "p1"])):
        store = CheckpointStore(spark, str(tmp_path / name))
        if first:
            run_with_checkpoint(df.filter(F.col("source").isin(first)),
                                checks, store)
            checks_ref = pin_suite(checks, store.load_baseline(
                suite_hash(checks), "static"), store)
        else:
            checks_ref = checks
        res = run_with_checkpoint(df, checks, store)
        plain = run_checks(df, checks_ref)
        got = _norm_verdicts(res.verdicts)
        assert got and got == _norm_verdicts(plain.verdicts), name
        assert _norm_violations(res.violations) == \
            _norm_violations(plain.violations), name


def test_second_run_skips_everything(spark, seq, suite, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    r1 = run_with_checkpoint(seq, suite, store)
    runs1 = {r["run_id"] for r in store.read_checkpoint().collect()}
    r2 = run_with_checkpoint(seq, suite, store)
    runs2 = {r["run_id"] for r in store.read_checkpoint().collect()}
    assert runs1 == runs2            # no new work was done
    assert _norm_verdicts(r1.verdicts) == _norm_verdicts(r2.verdicts)


def test_resume_completes_only_pending_partitions(spark, seq, suite, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    parts = sorted(r["source"] for r in seq.select("source").distinct().collect())
    half = parts[: len(parts) // 2]

    run_with_checkpoint(seq.filter(F.col("source").isin(half)), suite, store)
    ck1 = {r["partition_id"]: r["run_id"] for r in store.read_checkpoint().collect()}
    assert set(ck1) == set(half)

    res = run_with_checkpoint(seq, suite, store)
    ck2 = {r["partition_id"]: r["run_id"] for r in store.read_checkpoint().collect()}
    assert set(ck2) == set(parts)
    # previously-done partitions were NOT recomputed
    assert all(ck2[p] == ck1[p] for p in half)

    # resumed union ≡ one-shot run under the SAME pinned baseline
    shash = suite_hash(suite)
    bl = store.load_baseline(shash, "static")
    expected = run_checks(seq, pin_suite(suite, bl, store))
    assert _norm_verdicts(res.verdicts) == _norm_verdicts(expected.verdicts)
    assert _norm_violations(res.violations) == _norm_violations(expected.violations)


def test_suite_change_resets_state(spark, seq, suite, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_with_checkpoint(seq, suite, store)
    changed = [Check(c.check_id, c.kind, {**c.params, "lambda": 9.9})
               if c.kind == "zscore_threshold" else c for c in suite]
    assert suite_hash(changed) != suite_hash(suite)
    assert store.done_partitions(suite_hash(changed), "static") == []
    res = run_with_checkpoint(seq, changed, store)
    # all partitions re-verdicted under the new hash
    n_parts = seq.select("source").distinct().count()
    assert res.verdicts.select("partition_id").distinct().count() == n_parts


def test_lineage_columns_populated(spark, seq, suite, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_with_checkpoint(seq, suite, store)
    rows = store.read_checkpoint().collect()
    assert rows
    for r in rows:
        assert r["rows_scanned"] > 0
        assert r["stat_digest"] is not None
        assert r["t_ms"] > 0
        assert r["suite_hash"] == suite_hash(suite)


def test_snapshot_id_changes_with_input(tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x" * 10)
    s1 = snapshot_id_for_dir(str(d))
    (d / "b.parquet").write_bytes(b"y" * 20)
    s2 = snapshot_id_for_dir(str(d))
    assert s1 != s2


def test_parquet_backend_selected_without_iceberg(spark, tmp_path):
    """Backend gate: with no Iceberg jars/catalog the store must run on the
    parquet emulation (catalog None) — the path every other test pins."""
    from pyanomalydetector_spark.plans.checkpoint import iceberg_catalog
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    assert store.catalog == iceberg_catalog(spark)
    if store.catalog is None:
        assert store.current_snapshot_id() is None


def test_iceberg_backend_merge_contract(spark, tmp_path):
    """Production-fidelity state table: MERGE INTO keyed on partition_id,
    snapshot-id lineage, expire_snapshots retention. Auto-skips when the
    Iceberg runtime jars are absent (as in this sandbox) — the parquet
    emulation is contract-equivalent and covered by the rest of this file."""
    from pyanomalydetector_spark.plans.checkpoint import iceberg_catalog
    cat = iceberg_catalog(spark)
    if cat is None:
        pytest.skip("no Iceberg catalog on the classpath")
    store = CheckpointStore(spark, str(tmp_path / "ckpt"), catalog=cat)
    rows = spark.createDataFrame(
        [("p1", "h", "s", 10, 1, 0, 1.0, 1), ("p2", "h", "s", 20, 2, 0, 1.0, 1)],
        CKPT_SCHEMA)
    store.merge(rows)
    updated = spark.createDataFrame(
        [("p1", "h", "s", 99, 9, 1, 2.0, 2)], rows.schema)
    store.merge(updated)
    got = {r["partition_id"]: r for r in store.read_checkpoint().collect()}
    assert set(got) == {"p1", "p2"}          # MERGE upserted, no duplicates
    assert got["p1"]["rows_scanned"] == 99   # matched row was updated
    assert store.current_snapshot_id() is not None


def test_checkpoint_resume_with_null_partition(spark, tmp_path):
    """A NULL partition key must checkpoint and resume cleanly: once done it
    is skipped, it must not poison the skip-done filter for pending
    partitions (~isin over a list containing None is NULL for EVERY row),
    and resumed ≡ one-shot still holds."""
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    first = spark.createDataFrame(
        [("a", [1], 1, "s1"), ("n", [2], 2, None), ("n", [2], 2, None)],
        schema)
    both = first.unionByName(
        spark.createDataFrame([("b", [3], 3, "s2")], schema))
    ck_suite = [Check("u", "unique", {"key": "doc_id"}),
                Check("stats", "column_stats", {"value_col": "n_tok"})]
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_with_checkpoint(first, ck_suite, store)       # s1 + NULL now done
    res = run_with_checkpoint(both, ck_suite, store)  # only s2 pending
    oneshot = run_checks(both, ck_suite)

    def norm(df):
        return sorted(
            ((r["partition_id"], r["check_id"], r["passed"],
              r["n_violations"], r["rows_scanned"])
             for r in df.collect()),
            key=lambda t: tuple("" if x is None else str(x) for x in t))

    assert norm(res.verdicts) == norm(oneshot.verdicts)
    assert {r["partition_id"] for r in res.verdicts.collect()} == \
        {"s1", "s2", None}


def test_user_baseline_not_overridden_by_pinning(spark, seq, tmp_path):
    """A check carrying an explicit user `baseline` DataFrame must run
    against THAT reference, not an input-derived pin (pre-fix, pin_suite
    silently replaced the user's golden baseline with the input's own
    moments/histogram — drift-vs-reference degenerated to self-comparison
    and was never flagged)."""
    golden = spark.createDataFrame([(0.0, 0.5)], "mean double, std double")
    checks = [Check("z-user", "zscore_threshold",
                    {"value_col": "n_tok", "lambda": 2.0, "baseline": golden,
                     "ignore_diff_rate": 0.0}),
              Check("z-auto", "zscore_threshold",
                    {"value_col": "n_tok", "lambda": 2.0,
                     "ignore_diff_rate": 0.0})]
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    res = run_with_checkpoint(seq, checks, store)
    plain = run_checks(seq, checks)
    assert _norm_verdicts(res.verdicts) == _norm_verdicts(plain.verdicts)
    # and the user-baselined verdicts really used mean=0: expected == 0.0
    exp = {r["check_id"]: r["expected"] for r in res.verdicts.collect()}
    assert exp["z-user"] == 0.0 and exp["z-auto"] != 0.0


def test_suite_hash_sees_dataframe_param_content(spark, tmp_path):
    """A DataFrame-valued param (trusted snapshot, allowed dim, user
    baseline) is part of the suite's identity: replacing its CONTENT must
    change the hash, or done_partitions would serve stale verdicts for the
    old snapshot (violating the gap-reset contract)."""
    snap1 = spark.createDataFrame([("d1", [1, 2])], "doc_id string, tokens array<int>")
    snap2 = spark.createDataFrame([("d1", [1, 3])], "doc_id string, tokens array<int>")
    h1 = suite_hash([Check("ti", "token_invariant", {"expected": snap1})])
    h2 = suite_hash([Check("ti", "token_invariant", {"expected": snap2})])
    assert h1 != h2
    # identical content → identical hash (determinism across builds)
    snap1b = spark.createDataFrame([("d1", [1, 2])], "doc_id string, tokens array<int>")
    assert suite_hash([Check("ti", "token_invariant", {"expected": snap1b})]) == h1
    # file-backed frames: a rewrite (new part files) changes the identity
    p = str(tmp_path / "snap.parquet")
    snap1.write.parquet(p)
    f1 = suite_hash([Check("ti", "token_invariant",
                           {"expected": spark.read.parquet(p)})])
    snap2.write.mode("overwrite").parquet(p)
    f2 = suite_hash([Check("ti", "token_invariant",
                           {"expected": spark.read.parquet(p)})])
    assert f1 != f2


def test_suite_hash_sees_transformations_over_same_files(spark, tmp_path):
    """File-backed frame identity is files + canonicalized analyzed plan:
    two different FILTERS over the same parquet list identical input files,
    so files alone would alias them onto one suite hash and done_partitions
    would serve the other baseline's verdicts. The plan's session-assigned
    expression ids (#123) must be stripped, or the SAME suite rebuilt in a
    fresh read (new exprIds) would hash differently and spuriously
    gap-reset on every run."""
    snap = spark.createDataFrame(
        [("d1", [1, 2]), ("d2", [3, 4])], "doc_id string, tokens array<int>")
    p = str(tmp_path / "snap.parquet")
    snap.write.parquet(p)

    def h(pred):
        frame = spark.read.parquet(p).filter(pred)
        return suite_hash([Check("ti", "token_invariant",
                                 {"expected": frame})])

    assert h("doc_id = 'd1'") != h("doc_id = 'd2'")
    # same transformation, rebuilt from scratch (fresh exprIds) → same hash
    assert h("doc_id = 'd1'") == h("doc_id = 'd1'")
    # a projection also changes the identity
    proj = suite_hash([Check("ti", "token_invariant",
                             {"expected": spark.read.parquet(p)
                                               .select("doc_id")})])
    plain = suite_hash([Check("ti", "token_invariant",
                              {"expected": spark.read.parquet(p)})])
    assert proj != plain


def test_ks_baseline_dirs_are_versioned_and_crash_safe(spark, tmp_path):
    """The pinned count tables land in a dir versioned by (suite_hash,
    snapshot), one subdir per check: a re-pin for a NEW snapshot that
    crashes before the json pointer swap must leave the OLD pointer's
    counts untouched — an unversioned dir would already be clobbered by
    the overwrite write, so the old json would validly point at the new
    run's (or torn) parquet: silently wrong ks_d. Superseded versions are
    pruned after the swap, keeping the previous one as the manual-recovery
    fallback. A baseline.json of the old layout, keyed by column, is a miss
    and gets recomputed."""
    import json
    import os
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    bl = {"ks": {"baseline_counts": None}}
    cnt_a = spark.createDataFrame([(10.0, 3)], "v double, c_b long")
    cnt_b = spark.createDataFrame([(99.0, 7)], "v double, c_b long")
    store.save_baseline("S", "snapA", bl, {"ks": cnt_a})
    assert os.listdir(os.path.join(store.ks_dir, "S_snapA")) == ["0"]

    # crashed re-pin for snapB: version dir written, json NOT swapped
    cnt_b.write.parquet(os.path.join(store.ks_dir, "S_snapB", "0"))
    assert store.load_baseline("S", "snapA") == bl
    assert [(r["v"], r["c_b"]) for r in store.ks_counts("ks").collect()] \
        == [(10.0, 3)]

    # completed re-pin: pointer moves, previous version kept as fallback
    store.save_baseline("S", "snapB", bl, {"ks": cnt_b})
    assert [(r["v"], r["c_b"]) for r in store.ks_counts("ks").collect()] \
        == [(99.0, 7)]
    assert os.path.isdir(os.path.join(store.ks_dir, "S_snapA"))
    # a third pin prunes the first version (current + previous kept)
    store.save_baseline("S", "snapC", bl, {"ks": cnt_a})
    assert sorted(os.listdir(store.ks_dir)) == ["S_snapB", "S_snapC"]

    # old layout: pins keyed by column, one unversioned dir per column
    df = spark.createDataFrame([("s1", 4), ("s1", 5)],
                               "source string, n_tok int")
    checks = [Check("ks", "drift_ks", {"value_col": "n_tok"})]
    shash = suite_hash(checks)
    legacy = CheckpointStore(spark, str(tmp_path / "ck_legacy"))
    cnt_a.write.parquet(os.path.join(legacy.ks_dir, "n_tok"))
    with open(legacy.baseline_json, "w") as f:
        json.dump({"suite_hash": shash, "snapshot_id": "snapA",
                   "moments": {}, "psi": {}, "ks_value_cols": ["n_tok"]}, f)
    assert legacy.load_baseline(shash, "snapA") is None
    pinned = legacy.pinned_suite(df, checks, shash, "snapA")
    assert legacy.load_baseline(shash, "snapA") == \
        {"ks": {"baseline_counts": None}}
    assert sorted((r["v"], r["c_b"]) for r in
                  pinned[0].params["baseline_counts"].collect()) == \
        [(4.0, 1), (5.0, 1)]


def test_compute_baseline_degrades_gracefully_on_degenerate_input(spark, tmp_path):
    """Empty input / all-NULL value column: the checkpoint wrapper must
    match run_checks' graceful behavior (no verdicts), not crash while
    pinning (pre-fix: IndexError on the empty moments collect, TypeError
    on float(None) PSI bounds)."""
    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    checks = [Check("z", "zscore_threshold", {"value_col": "n_tok"}),
              Check("psi", "drift_psi", {"value_col": "n_tok"})]
    store = CheckpointStore(spark, str(tmp_path / "ck_empty"))
    res = run_with_checkpoint(empty, checks, store)
    assert res.verdicts.count() == 0 and res.violations.count() == 0

    allnull = spark.createDataFrame(
        [("d1", [1], None, "s1"), ("d2", [2], None, "s1")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    store2 = CheckpointStore(spark, str(tmp_path / "ck_null"))
    res2 = run_with_checkpoint(allnull, checks, store2)
    plain = run_checks(allnull, checks)
    assert _norm_verdicts(res2.verdicts) == _norm_verdicts(plain.verdicts)
