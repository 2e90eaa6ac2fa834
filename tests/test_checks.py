"""Check-suite engine: verdicts + violations on the synthesized sequence table.

The fixture defects are injected deterministically (sources/sequences.py), so
expected violation sets are derivable independently — the reference's
golden-verdict test pattern (tests/test_detector_all.py:20-53).
"""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.sources.sequences import (
    synthesize_sequences, load_sequences,
    DUP_MOD, BAD_SOURCE_MOD, BAD_NTOK_MOD, BAD_SOURCE, SEQ_SCHEMA,
)
from pyanomalydetector_spark.checks.core import (
    VERDICT_SCHEMA, VIOLATION_SCHEMA, Check, run_checks, default_suite,
)

from check_oracle import assert_matches_oracle


@pytest.fixture(scope="module")
def seq(spark, sf_dir):
    return load_sequences(spark, sf_dir).persist()


@pytest.fixture(scope="module")
def doc_ids(sf_dir):
    path = synthesize_sequences(sf_dir)
    t = pq.read_table(path, columns=["doc_id"])
    ids = [int(d.split("-")[1]) for d in t.column("doc_id").to_pylist()]
    return sorted(set(ids))


def test_unique_check_finds_injected_dups(spark, seq, doc_ids):
    res = run_checks(seq, [Check("uniq", "unique", {"key": "doc_id"})])
    viols = {r["doc_id"] for r in res.violations.collect()}
    expected = {f"doc-{d:08d}" for d in doc_ids if d % DUP_MOD == 0}
    assert viols == expected
    verd = res.verdicts.collect()
    failed = {r["partition_id"] for r in verd if not r["passed"]}
    assert failed  # at least one partition has dups
    # every partition got exactly one verdict row
    assert len(verd) == len({r["partition_id"] for r in verd})


def test_referential_check(spark, seq, doc_ids):
    allowed = sorted({r["source"] for r in seq.select("source").distinct().collect()
                      if r["source"] != BAD_SOURCE})
    res = run_checks(seq, [Check("ref", "referential",
                                 {"column": "source", "allowed": allowed})])
    viols = {r["doc_id"] for r in res.violations.collect()}
    expected = {f"doc-{d:08d}" for d in doc_ids if d % BAD_SOURCE_MOD == 0}
    assert viols == expected
    bad_verdict = [r for r in res.verdicts.collect() if not r["passed"]]
    assert {r["partition_id"] for r in bad_verdict} == ({BAD_SOURCE} if expected else set())


def test_ntok_consistency_check(spark, seq, doc_ids):
    res = run_checks(seq, [Check("ntok", "n_tok_consistency", {})])
    viols = {r["doc_id"] for r in res.violations.collect()}
    expected = {f"doc-{d:08d}" for d in doc_ids if d % BAD_NTOK_MOD == 0}
    assert viols == expected


def test_token_invariant_detects_mutation(spark, seq):
    clean = run_checks(seq, [Check("tok", "token_invariant", {"expected": seq})])
    assert clean.violations.count() == 0
    assert all(r["passed"] for r in clean.verdicts.collect())

    # mutate one document's tokens → exactly that doc flagged
    mutated = seq.withColumn(
        "tokens",
        F.when(F.col("doc_id") == "doc-00000001",
               F.concat(F.col("tokens"), F.array(F.lit(999))))
         .otherwise(F.col("tokens")))
    res = run_checks(mutated, [Check("tok", "token_invariant", {"expected": seq})])
    viols = [r["doc_id"] for r in res.violations.collect()]
    assert viols == ["doc-00000001"]


def test_zscore_threshold_verdict_semantics(spark):
    # partition "hot" has mean shifted far beyond λ·σ of the pinned baseline
    rows = [("doc-%d" % i, [1, 2], 2, "calm") for i in range(50)]
    rows += [("doc-h%d" % i, [1] * 40, 40, "hot") for i in range(50)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    base = spark.createDataFrame([(2.0, 1.0)], "mean double, std double")
    res = run_checks(df, [Check("z", "zscore_threshold",
                                {"value_col": "n_tok", "lambda": 3.0,
                                 "ignore_diff_rate": 0.1, "baseline": base})])
    verd = {r["partition_id"]: r["passed"] for r in res.verdicts.collect()}
    assert verd == {"calm": True, "hot": False}
    # row-level violations only from the failing partition
    parts = {r["partition_id"] for r in res.violations.collect()}
    assert parts == {"hot"}


def test_default_suite_runs_end_to_end(spark, seq):
    allowed = sorted({r["source"] for r in seq.select("source").distinct().collect()
                      if r["source"] != BAD_SOURCE})
    res = run_checks(seq, default_suite(allowed))
    verd = res.verdicts.collect()
    check_ids = {r["check_id"] for r in verd}
    assert check_ids == {"column_stats_n_tok", "zscore_n_tok", "unique_doc_id",
                         "referential_source", "n_tok_consistency",
                         "drift_psi_n_tok", "drift_ks_n_tok"}
    assert res.violations.count() > 0


def test_suite_on_empty_input(spark, seq):
    """Robustness: all nine check kinds on a 0-row table must produce empty
    verdict/violation frames — not crash (a real failure mode when a
    partition filter matches nothing on resume). On the empty table and on
    the fixture both frames carry VERDICT_SCHEMA / VIOLATION_SCHEMA exactly
    (names, types, order): every kind goes through the one projection."""
    empty = spark.createDataFrame([], SEQ_SCHEMA)

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    for df in (empty, seq):
        suite = default_suite(["src0"]) + [
            Check("token_range_tokens", "token_range", {"max_value": 50_000}),
            Check("token_invariant_tokens", "token_invariant",
                  {"expected": df})]
        assert len({c.kind for c in suite}) == 9
        res = run_checks(df, suite)
        assert fields(res.verdicts.schema) == fields(VERDICT_SCHEMA)
        assert fields(res.violations.schema) == fields(VIOLATION_SCHEMA)
        verdicts = res.verdicts.collect()
        if df is empty:
            assert verdicts == [] and res.violations.count() == 0
        else:
            assert {r["check_id"] for r in verdicts} == \
                {c.check_id for c in suite}


def test_duplicate_check_id_rejected(spark, seq):
    """A check id names the check's verdict rows and keys its pinned
    baseline, so a suite that repeats one (a YAML ``checks:`` list can) is
    rejected before any plan is built, with the id in the message."""
    suite = [Check("psi'n", "drift_psi", {"value_col": "n_tok"}),
             Check("stats", "column_stats", {"value_col": "n_tok"}),
             Check("psi'n", "drift_psi", {"value_col": "n_tok",
                                          "buckets": 20})]
    with pytest.raises(ValueError, match="duplicate check_id \"psi'n\""):
        run_checks(seq, suite)


def test_jsonl_source_equals_parquet_source(spark, sf_dir):
    """The JSON-lines ingest path must be row-identical to the parquet path
    (explicit schema, no inference)."""
    from pyanomalydetector_spark.sources.sequences import load_sequences_jsonl
    a = sorted((r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
               for r in load_sequences(spark, sf_dir).collect())
    b = sorted((r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
               for r in load_sequences_jsonl(spark, sf_dir).collect())
    assert a == b


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_ks_bounded_matches_numpy_ecdf(spark, seed):
    """Semantic pin, independent of any grid implementation: KS equals the
    textbook two-sample KS-D — max over the combined support of
    |ECDF_partition − ECDF_baseline| — computed with numpy on deterministic
    hash-synthesized fixtures (varying partition counts, duplicated values,
    integer supports with gaps), for three inputs: the integer column
    against itself, a continuous double column (#distinct ≈ #rows) against
    itself, and the integer column against an explicit baseline whose
    support only partly overlaps it. NULL values carry no mass but count in
    ``rows_scanned``; a NULL partition key is scored like any other."""
    import hashlib
    import numpy as np
    from pyanomalydetector_spark.checks.drift import (
        ks_by_partition, ks_value_counts)

    def h(i: int, salt: str = "") -> int:
        return int.from_bytes(
            hashlib.md5(f"{salt}{seed}:{i}".encode()).digest()[:4], "big")

    n = 400 + seed * 137
    rows = [(f"p{h(i) % (2 + seed)}", (h(i) >> 8) % (5 + 7 * seed))
            for i in range(n)]
    rows += [("p0", None), ("p1", None), (None, 3), (None, None)]
    cont = [(p, None if x is None else x + (h(i, "c") % 100_000) / 100_000.0)
            for i, (p, x) in enumerate(rows)]
    base_rows = [(None, (h(i, "b") >> 8) % (9 + 5 * seed) + 2)
                 for i in range(150 + seed * 40)] + [(None, None)]

    def numpy_ks(data, baseline):
        pooled = np.sort(np.array([v for _, v in baseline if v is not None],
                                  dtype=float))
        out = {}
        for part in {p for p, _ in data}:
            xs = np.sort(np.array([v for p, v in data
                                   if p == part and v is not None],
                                  dtype=float))
            support = np.union1d(pooled, xs)
            cdf_b = np.searchsorted(pooled, support, side="right") / len(pooled)
            cdf_p = np.searchsorted(xs, support, side="right") / len(xs)
            out[part] = float(np.max(np.abs(cdf_p - cdf_b)))
        return out

    schema = "source string, n_tok {}"
    df = spark.createDataFrame(rows, schema.format("int"))
    cases = [
        ("int", rows, rows, df, None),
        ("continuous", cont, cont,
         spark.createDataFrame(cont, schema.format("double")), None),
        ("explicit", rows, base_rows, df, ks_value_counts(
            spark.createDataFrame(base_rows, schema.format("int")),
            "n_tok")),
    ]
    raw_rows = {}
    for p, _ in rows:
        raw_rows[p] = raw_rows.get(p, 0) + 1
    for label, data, baseline, frame, counts in cases:
        got = {r["partition_id"]: (r["ks_d"], r["rows_scanned"])
               for r in ks_by_partition(frame, "source", "n_tok",
                                        counts).collect()}
        want = numpy_ks(data, baseline)
        assert got.keys() == want.keys(), label
        for part, d in want.items():
            assert got[part][0] == pytest.approx(d, abs=1e-12), \
                (label, part, seed)
            assert got[part][1] == raw_rows[part], (label, part)


def test_ks_plan_build_submits_no_job(spark):
    """Building KS is lazy for every baseline source: no distinct-count
    guard, no eager persist, no collect of an explicit baseline. Counted in
    Spark's status store (jobs only ever get new, larger ids)."""
    from pyanomalydetector_spark.checks.drift import (
        ks_by_partition, ks_value_counts)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def n_jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return store.jobsList(sc._jvm.java.util.ArrayList()).size()

    df = spark.createDataFrame(
        [("s1", 10), ("s1", 12), ("s2", None), (None, 11)],
        "source string, n_tok int")
    base = spark.createDataFrame([("x", 11), ("x", 30)],
                                 "source string, n_tok int")
    before = n_jobs()
    ks_by_partition(df, "source", "n_tok")
    ks_by_partition(df, "source", "n_tok", ks_value_counts(base, "n_tok"))
    res = run_checks(df, [Check("ks", "drift_ks", {"baseline": base})])
    assert n_jobs() == before
    assert not res.cached


def test_materialize_counts_match_sequential(spark, seq):
    """CheckResult.materialize() (parallel counts after eager cache
    materialization) must agree with plain sequential counts."""
    allowed = sorted({r["source"] for r in seq.select("source").distinct()
                     .collect() if r["source"] != BAD_SOURCE})
    res = run_checks(seq, default_suite(allowed))
    n_v, n_viol = res.materialize()
    assert n_v == res.verdicts.count()
    assert n_viol == res.violations.count()
    res.unpersist()


def test_results_invariant_under_shuffle_partitioning(spark, seq):
    """Distributed-correctness property: verdicts must be identical at any
    shuffle-partition count (hash/order-sensitivity bugs surface here)."""
    suite = [Check("uniq", "unique", {"key": "doc_id"}),
             Check("z", "zscore_threshold",
                   {"value_col": "n_tok", "lambda": 2.0,
                    "ignore_diff_rate": 0.1}),
             Check("psi", "drift_psi", {"value_col": "n_tok"}),
             Check("ks", "drift_ks", {"value_col": "n_tok"})]

    def run_at(n):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            res = run_checks(seq, suite)
            return sorted(
                (r["partition_id"], r["check_id"], r["passed"],
                 round(r["observed"], 9), r["n_violations"])
                for r in res.verdicts.collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert run_at(3) == run_at(17)


def test_result_partitions_follow_input_size(spark, seq, tmp_path):
    """The verdicts and the persisted rollups behind them (the fused
    aggregate, unique's rollup) get one partition per
    spark.sql.files.maxPartitionBytes of the planner's size estimate of the
    input, and keep the parallel plan once that reaches
    spark.sql.shuffle.partitions: a coalesce also sets the task count of
    the stage behind it, so it must not be a constant one task."""
    path = str(tmp_path / "in")
    seq.write.parquet(path)
    df = spark.read.parquet(path)
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    size = size if isinstance(size, int) else int(size.toString())
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    suite = [Check("uniq", "unique", {"key": "doc_id"}),
             Check("z", "zscore_threshold",
                   {"value_col": "n_tok", "lambda": 2.0,
                    "ignore_diff_rate": 0.1}),
             Check("ks", "drift_ks", {"value_col": "n_tok"})]

    def partitions(split_bytes):
        """(verdict partitions, sorted partitions of each cached frame)"""
        key = "spark.sql.files.maxPartitionBytes"
        prev = spark.conf.get(key)
        spark.conf.set(key, str(split_bytes))
        try:
            res = run_checks(df, suite)
            got = (res.verdicts.rdd.getNumPartitions(),
                   sorted(f.rdd.getNumPartitions() for f in res.cached))
            res.unpersist()
            return got
        finally:
            spark.conf.set(key, prev)

    assert partitions(size) == (1, [1, 1])
    assert partitions(-(-size // 3)) == (3, [3, 3])
    n_verdicts, cached = partitions(size // (2 * shuffle))
    assert cached == [shuffle, shuffle] and n_verdicts > shuffle


def test_token_invariant_corrupted_duplicate_not_masked(spark):
    """A corrupted DUPLICATE row must be flagged even when a clean copy of
    the same doc_id exists in the partition (min+max digest comparison +
    all-copies exact confirm)."""
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    snapshot = spark.createDataFrame(
        [("d1", [5, 6, 7], 3, "s1"), ("d2", [9, 9], 2, "s1")], schema)
    observed = spark.createDataFrame(
        [("d1", [5, 6, 7], 3, "s1"),     # clean copy
         ("d1", [1], 1, "s1"),           # corrupted duplicate
         ("d2", [9, 9], 2, "s1")], schema)
    res = run_checks(observed,
                     [Check("tok", "token_invariant", {"expected": snapshot})])
    bad = {r["doc_id"] for r in res.violations.collect()}
    assert bad == {"d1"}
    v = res.verdicts.collect()[0]
    assert not v["passed"] and v["n_violations"] == 1


_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _null_partition_fixture(spark):
    """A NULL partition key carrying one violation of every row-level kind:
    exactly the dirty group key a quality engine must still score."""
    return spark.createDataFrame(
        [
            ("a1", [1, 2], 2, "s1"),
            ("a2", [3], 1, "s1"),
            ("n1", [1, 2, 3], 3, None),
            ("n1", [1, 2, 3], 3, None),      # duplicate doc_id
            ("n2", [4, 5], 99, None),        # n_tok mismatch
            ("n3", [6], 1, None),
        ],
        _SCHEMA)


def test_null_partition_scored_not_dropped(spark, tmp_path):
    """Every check must emit a verdict row for the NULL partition with
    correct counts, and attribute its row-level violations to it — and the
    whole suite must agree with the DuckDB oracle on that fixture."""
    df = _null_partition_fixture(spark)
    suite = [
        Check("uniq", "unique", {"key": "doc_id"}),
        Check("ref", "referential", {"column": "source", "allowed": ["s1"]}),
        Check("ntok", "n_tok_consistency", {}),
        Check("z", "zscore_threshold",
              {"value_col": "n_tok", "lambda": 0.5, "ignore_diff_rate": 0.0,
               "baseline_scalars": {"mean": 2.0, "std": 1.0}}),
        Check("psi", "drift_psi", {"value_col": "n_tok"}),
        Check("ks", "drift_ks", {"value_col": "n_tok"}),
    ]

    def _key(t):
        return tuple("" if x is None else str(x) for x in t)

    verdict_rows, violation_rows = assert_matches_oracle(
        spark, df, suite, tmp_path, "nullpart")
    verdicts = {(r["partition_id"], r["check_id"]):
                (r["partition_id"], r["check_id"], r["passed"],
                 round(r["observed"], 9), r["n_violations"],
                 r["rows_scanned"])
                for r in verdict_rows}
    # a verdict row exists for the NULL partition under every check
    for cid in ("uniq", "ref", "ntok", "z", "psi", "ks"):
        assert (None, cid) in verdicts, cid
    # exact counts: 1 duplicate key, 4 referentially-bad rows, 1 n_tok bad
    assert verdicts[(None, "uniq")][4] == 1
    assert verdicts[(None, "ref")][4] == 4 and not verdicts[(None, "ref")][2]
    assert verdicts[(None, "ntok")][4] == 1
    # drift statistics are REAL numbers for the NULL partition (a plain
    # equi-join in the grid would zero its counts into NaN/garbage)
    import math
    assert math.isfinite(verdicts[(None, "psi")][3])
    assert math.isfinite(verdicts[(None, "ks")][3])
    assert verdicts[(None, "ks")][5] == 4      # rows_scanned incl. NULL pid
    # row-level violations attribute to the NULL partition
    viols = sorted(((r["partition_id"], r["check_id"], r["doc_id"])
                    for r in violation_rows), key=_key)
    assert (None, "uniq", "n1") in viols
    assert (None, "ntok", "n2") in viols
    assert {d for p, c, d in viols if c == "ref" and p is None} == \
        {"n1", "n2", "n3"}
    # zscore: every NULL-partition row deviates >0.5 from the pinned mean 2
    assert {d for p, c, d in viols if c == "z" and p is None} == \
        {"n1", "n2", "n3"}


def test_ks_massless_sides_score_nan_not_null(spark):
    """Either mass-less KS side must score NaN (→ fail), never NULL.

    A NULL ks_d would make the verdict ``NULL <= threshold`` = NULL —
    silently neither pass nor fail, dropped by any passed/~passed filter.
    Three shapes, all hit in real pipelines via the checkpoint store
    (compute_baseline pins the NULL-v group of an all-NULL column):
    (a) pinned counts, all-NULL-value partition next to healthy ones;
    (b) pinned counts captured from an all-NULL column (only the NULL-v
        group → zero baseline mass) over healthy data;
    (c) an explicit all-NULL baseline frame over healthy data — plain
        ``/`` by its zero mass would fail the job under ANSI.
    """
    import math
    from pyanomalydetector_spark.checks.drift import ks_by_partition

    healthy = spark.createDataFrame(
        [("s1", 10), ("s1", 12), ("s2", 11), ("s2", 14)],
        "source string, n_tok int")
    island = healthy.union(spark.createDataFrame(
        [("s3", None), ("s3", None)], "source string, n_tok int"))

    def assert_nan(x, label):
        assert x is not None and math.isnan(x), (label, x)

    # (a) healthy pinned baseline, one all-NULL partition
    pinned = healthy.select(F.col("n_tok").cast("double").alias("v")) \
                    .groupBy("v").agg(F.count(F.lit(1)).alias("c_b"))
    out_a = {r["partition_id"]: r["ks_d"]
             for r in ks_by_partition(
                 island, "source", "n_tok", pinned).collect()}
    assert_nan(out_a["s3"], "a:s3")
    assert not math.isnan(out_a["s1"]) and not math.isnan(out_a["s2"])

    # (b) pinned counts from an all-NULL column: only the NULL-v group,
    # which carries no mass → zero baseline mass everywhere
    null_pin = spark.createDataFrame(
        [(None, 7)], "v double, c_b bigint")
    out_b = {r["partition_id"]: r["ks_d"]
             for r in ks_by_partition(
                 healthy, "source", "n_tok", null_pin).collect()}
    for pid, v in out_b.items():
        assert_nan(v, f"b:{pid}")

    # (c) explicit all-NULL baseline frame, through the check's reduction
    all_null = spark.createDataFrame(
        [("s1", None), ("s2", None)], "source string, n_tok int")
    res = run_checks(healthy, [Check("ks", "drift_ks",
                                     {"baseline": all_null})])
    out_c = {r["partition_id"]: r for r in res.verdicts.collect()}
    assert out_c.keys() == {"s1", "s2"}
    for pid, r in out_c.items():
        assert_nan(r["observed"], f"c:{pid}")
        assert r["passed"] is False, pid


def test_token_invariant_null_partition(spark):
    df = _null_partition_fixture(spark)
    snapshot = df.dropDuplicates(["doc_id"]).withColumn(
        "tokens",
        F.when(F.col("doc_id") == "n2", F.array(F.lit(-1)))
         .otherwise(F.col("tokens")))
    res = run_checks(df, [Check("tok", "token_invariant",
                                {"expected": snapshot})])
    verd = {r["partition_id"]: r for r in res.verdicts.collect()}
    assert None in verd and not verd[None]["passed"]
    assert verd[None]["n_violations"] == 1
    assert verd["s1"]["passed"]
    viols = [(r["partition_id"], r["doc_id"])
             for r in res.violations.collect()]
    assert viols == [(None, "n2")]


def test_unique_max_dup_emit_caps_rows_not_verdict(spark):
    """n_violations stays EXACT while the emitted duplicate rows are capped
    at max_dup_emit per partition, worst (highest copy-count) first."""
    rows = [(f"d{i}", [1], 1, "s") for i in range(5) for _ in range(i + 2)]
    df = spark.createDataFrame(rows, _SCHEMA)
    res = run_checks(df, [Check("u", "unique",
                                {"key": "doc_id", "max_dup_emit": 2})])
    v = res.verdicts.collect()[0]
    assert not v["passed"] and v["n_violations"] == 5
    viols = res.violations.collect()
    assert len(viols) == 2
    # d4 has 6 copies, d3 has 5 — the worst offenders are the ones emitted
    assert {r["doc_id"] for r in viols} == {"d4", "d3"}


def test_token_invariant_heavy_divergence_exact_counts(spark):
    """A wildly divergent snapshot (EVERY doc mismatching) must produce
    exact per-partition counts and stream every violation row — the dirty
    path may not assume the candidate set is small."""
    obs = spark.createDataFrame(
        [(f"d{i:03d}", [i], 1, f"s{i % 2}") for i in range(50)], _SCHEMA)
    snap = obs.withColumn("tokens", F.array(F.lit(-1)))
    res = run_checks(obs, [Check("tok", "token_invariant",
                                 {"expected": snap})])
    verd = {r["partition_id"]: r for r in res.verdicts.collect()}
    assert verd["s0"]["n_violations"] == 25 and not verd["s0"]["passed"]
    assert verd["s1"]["n_violations"] == 25
    assert res.violations.count() == 50


def test_token_invariant_conflicting_snapshot_duplicates_canonical(spark):
    """When the snapshot holds CONFLICTING duplicates of one doc_id, the
    canonical (min-hash) variant is the truth: an observed row that
    byte-equals it must pass — independent min(hash)/min(len) aggregates
    could mix fields of two variants and fabricate a mismatch."""
    t1, t2 = [5, 6, 7], [9, 9]
    h = {r["k"]: r["h"] for r in
         spark.createDataFrame([("t1", t1), ("t2", t2)],
                               "k string, v array<int>")
              .select("k", F.xxhash64("v").alias("h")).collect()}
    canon = t1 if h["t1"] < h["t2"] else t2
    other = t2 if canon is t1 else t1
    snapshot = spark.createDataFrame(
        [("d", t1, len(t1), "s"), ("d", t2, len(t2), "s")], _SCHEMA)
    observed = spark.createDataFrame(
        [("d", canon, len(canon), "s")], _SCHEMA)
    res = run_checks(observed, [Check("tok", "token_invariant",
                                      {"expected": snapshot})])
    assert res.violations.count() == 0
    assert all(r["passed"] for r in res.verdicts.collect())
    # and the non-canonical variant IS flagged
    res2 = run_checks(
        spark.createDataFrame([("d", other, len(other), "s")], _SCHEMA),
        [Check("tok", "token_invariant", {"expected": snapshot})])
    assert res2.violations.count() == 1


def test_ntok_consistency_null_metadata_is_a_violation(spark, tmp_path):
    """NULL-safety of the metadata invariant: a row where one side is NULL
    and the other isn't CONTRADICTS n_tok == size(tokens) and must count
    (pre-fix, `!=` evaluated to NULL and the row silently PASSED). NULL on
    both sides is consistent. Pinned by hand and against the DuckDB
    oracle."""
    df = spark.createDataFrame(
        [("a", [1, 2], 2, "s1"),       # consistent
         ("b", [1, 2], None, "s1"),    # NULL declared count → violation
         ("c", None, 5, "s1"),         # NULL tokens, declared 5 → violation
         ("d", None, None, "s1"),      # both absent → consistent
         ("e", [1], 9, "s2")],         # plain mismatch → violation
        "doc_id string, tokens array<int>, n_tok int, source string")
    verdicts, violations = assert_matches_oracle(
        spark, df, [Check("ntok", "n_tok_consistency", {})], tmp_path, "ntok")
    viols = {r["doc_id"] for r in violations if r["check_id"] == "ntok"}
    assert viols == {"b", "c", "e"}, viols
    verd = {r["partition_id"]: r for r in verdicts if r["check_id"] == "ntok"}
    assert verd["s1"]["n_violations"] == 2 and not verd["s1"]["passed"]
    assert verd["s2"]["n_violations"] == 1 and not verd["s2"]["passed"]


def test_unique_is_key_generic(spark):
    """The uniqueness check works on ANY frame with the named key — here
    ``event_id`` on a frame with no ``doc_id`` and no ``n_tok`` column."""
    df = spark.createDataFrame(
        [("e1", "s1"), ("e1", "s1"), ("e2", "s1"), ("e3", "s2"), ("e3", "s2")],
        "event_id string, source string")
    res = run_checks(df, [Check("u", "unique", {"key": "event_id"})])
    assert sorted(
        (r["partition_id"], r["passed"], r["observed"], r["n_violations"])
        for r in res.verdicts.collect()) == [
        ("s1", False, 1.0, 1), ("s2", False, 1.0, 1)]
    assert sorted((r["doc_id"], r["observed"])
                  for r in res.violations.collect()) == [("e1", "2"),
                                                         ("e3", "2")]
    res.unpersist()


def test_token_range_semantics_both_routes(spark, tmp_path):
    """token_range: NULL array passes, NULL element violates, out-of-range
    (either side) violates; the violation row carries the FIRST offending
    element ('NULL' for a NULL element). Pinned by hand on the Spark run,
    which must also match the DuckDB oracle."""
    df = spark.createDataFrame(
        [("a", [1, 2, 3], 3, "s1"),      # in range → pass
         ("b", [1, None, 3], 3, "s1"),   # NULL element → violation ('NULL')
         ("c", [1, 900, 3], 3, "s2"),    # above max → violation ('900')
         ("d", None, None, "s2"),        # NULL array → pass
         ("e", [], 0, "s2"),             # empty array → pass
         ("f", [-5, 900], 2, None)],     # NULL partition; first bad is -5
        "doc_id string, tokens array<int>, n_tok int, source string")
    verdicts, violations = assert_matches_oracle(
        spark, df, [Check("tr", "token_range", {"max_value": 800})],
        tmp_path, "tr")
    viols = {(r["doc_id"], r["observed"], r["expected"])
             for r in violations if r["check_id"] == "tr"}
    assert viols == {("b", "NULL", "token id in [0, 800)"),
                     ("c", "900", "token id in [0, 800)"),
                     ("f", "-5", "token id in [0, 800)")}, viols
    verd = {r["partition_id"]: r for r in verdicts if r["check_id"] == "tr"}
    assert verd["s1"]["n_violations"] == 1 and not verd["s1"]["passed"]
    assert verd["s2"]["n_violations"] == 1 and verd["s2"]["rows_scanned"] == 3
    assert verd[None]["n_violations"] == 1      # NULL partition kept


def test_token_range_min_bound_and_all_pass(spark):
    """min_value cuts the low end; a fully in-range table passes with zero
    violation rows and per-partition rows_scanned intact."""
    df = spark.createDataFrame(
        [("a", [10, 20], 2, "s1"), ("b", [5, 30], 2, "s1"),
         ("c", [10], 1, "s2")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    res = run_checks(df, [Check("tr", "token_range",
                                {"min_value": 8, "max_value": 100})])
    viols = {(r["doc_id"], r["observed"]) for r in res.violations.collect()}
    assert viols == {("b", "5")}
    res.unpersist()
    ok = run_checks(df, [Check("tr", "token_range",
                               {"min_value": 0, "max_value": 100})])
    assert ok.violations.count() == 0
    verd = {r["partition_id"]: r for r in ok.verdicts.collect()}
    assert verd["s1"]["passed"] and verd["s1"]["rows_scanned"] == 2
    assert verd["s2"]["passed"] and verd["s2"]["rows_scanned"] == 1
    ok.unpersist()
