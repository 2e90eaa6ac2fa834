"""Fused check execution ≡ the independent DuckDB oracle (checks/fused.py
contract) on the curated fixtures: the default suite, failing z-scores,
all-NULL value partitions and hostile identifiers."""

import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.sources.sequences import load_sequences
from pyanomalydetector_spark.checks.core import Check, run_checks, default_suite

from check_oracle import assert_matches_oracle


@pytest.fixture(scope="module")
def seq(spark, sf_dir):
    return load_sequences(spark, sf_dir).persist()


def _allowed(seq):
    return sorted(r["source"] for r in seq.select("source").distinct()
                  .filter(F.col("source").rlike("^src[0-9]+$")).collect())


def test_fused_equals_per_check(spark, seq, tmp_path):
    assert_matches_oracle(spark, seq, default_suite(_allowed(seq)),
                          tmp_path, "default")


def test_fused_zscore_failing_partition_emits_row_violations(spark, seq,
                                                             tmp_path):
    # force a failure: tiny lambda so every partition's mean deviates
    suite = [Check("z", "zscore_threshold",
                   {"value_col": "n_tok", "lambda": 0.01,
                    "ignore_diff_rate": 0.0}),
             Check("stats", "column_stats", {"value_col": "n_tok"})]
    _, violations = assert_matches_oracle(spark, seq, suite, tmp_path, "zfail")
    assert len(violations) > 0


def test_fused_eq_per_check_all_null_value_partition(spark, tmp_path):
    """A partition whose value column is entirely NULL gets NO column_stats/
    zscore verdict row (there is no value to judge), instead of a
    scrubbed-to-0 row."""
    df = spark.createDataFrame(
        [("a", [1], 1, "s1"), ("b", [2], 2, "s1"),
         ("c", [3], None, "s2"), ("d", [4], None, "s2")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    suite = [Check("stats", "column_stats", {"value_col": "n_tok"}),
             Check("z", "zscore_threshold",
                   {"value_col": "n_tok", "lambda": 0.5,
                    "ignore_diff_rate": 0.0})]
    verdicts, _ = assert_matches_oracle(spark, df, suite, tmp_path, "nullv")
    assert {r["partition_id"] for r in verdicts} == {"s1"}


def test_fused_sql_strings_survive_quoted_identifiers(spark, seq, tmp_path):
    """The fused builder emits SQL STRINGS, so quote-bearing check ids and
    allowed-set members are an injection surface: a check_id like
    "o'brien", an allowed value with a quote, and a float literal that must
    round-trip exactly."""
    allowed = _allowed(seq) + ["it's-a-source", "x''y"]
    suite = [
        Check("o'brien \"stats\"", "column_stats",
              {"value_col": "n_tok", "min_count": 2}),
        Check("z; DROP TABLE--", "zscore_threshold",
              {"value_col": "n_tok", "lambda": 0.7300000000000001,
               "ignore_diff_rate": 0.1}),
        Check("ref'd", "referential", {"column": "source", "allowed": allowed}),
        Check("psi ± π", "drift_psi",
              {"value_col": "n_tok", "buckets": 7, "threshold": 0.25}),
        Check("n't", "n_tok_consistency", {}),
    ]
    assert_matches_oracle(spark, seq, suite, tmp_path, "quoted")


def test_fused_hostile_value_col_names(spark, seq, tmp_path):
    """Generated aliases used to embed the raw value_col name
    (``m_{vc}_sum``, ``_lo_{vc}``) — a name with spaces/dashes failed to
    parse. Now tags come from _ctag(); also pin that two names with the SAME
    word-character skeleton ("v 1" vs "v-1" → both "v1") do not collide on
    one moment tag."""
    df = (seq.withColumnRenamed("n_tok", "n tok ±")
             .withColumn("v 1", F.expr("`n tok ±` + 1"))
             .withColumn("v-1", F.expr("`n tok ±` * 2")))
    suite = [
        Check("stats-sp", "column_stats", {"value_col": "n tok ±",
                                           "min_count": 2}),
        Check("z-sp", "zscore_threshold",
              {"value_col": "n tok ±", "lambda": 0.7,
               "ignore_diff_rate": 0.0}),
        Check("psi-sp", "drift_psi",
              {"value_col": "n tok ±", "buckets": 5, "threshold": 0.25}),
        Check("stats-v1a", "column_stats", {"value_col": "v 1"}),
        Check("stats-v1b", "column_stats", {"value_col": "v-1"}),
        Check("z-v1a", "zscore_threshold",
              {"value_col": "v 1", "lambda": 0.5, "ignore_diff_rate": 0.0}),
        Check("z-v1b", "zscore_threshold",
              {"value_col": "v-1", "lambda": 0.5, "ignore_diff_rate": 0.0}),
    ]
    verdicts, _ = assert_matches_oracle(spark, df, suite, tmp_path, "hostile")
    # the two skeleton-colliding columns must have produced DIFFERENT stats
    obs = {r["check_id"]: r["observed"]
           for r in verdicts if r["check_id"].startswith("z-v1")}
    assert obs["z-v1a"] != obs["z-v1b"]


def test_fused_constructed_tag_collision(spark, seq, tmp_path):
    """The deterministic _ctag collision: a pure-word-char column literally
    named '<skel>_<md5prefix>' OF another hostile column produces _ctag's
    exact output for that column. Pre-_tag_map, both checks silently shared
    ONE set of moment aggregates (the second read the first's mean/std —
    wrong verdicts, no error). The per-suite injective map must keep them
    apart."""
    import hashlib
    evil = "v1_" + hashlib.md5(b"v 1").hexdigest()[:8]   # == _ctag("v 1")
    df = (seq.withColumn("v 1", F.expr("n_tok + 1"))
             .withColumn(evil, F.expr("CAST(n_tok * 100 AS DOUBLE)")))
    suite = [
        Check("s-sp", "column_stats", {"value_col": "v 1"}),
        Check("s-ev", "column_stats", {"value_col": evil}),
        Check("z-sp", "zscore_threshold",
              {"value_col": "v 1", "lambda": 0.5, "ignore_diff_rate": 0.0}),
        Check("z-ev", "zscore_threshold",
              {"value_col": evil, "lambda": 0.5, "ignore_diff_rate": 0.0}),
    ]
    verdicts, _ = assert_matches_oracle(spark, df, suite, tmp_path, "tagcoll")
    obs = {r["check_id"]: r["observed"] for r in verdicts
           if r["check_id"].startswith("z-")}
    assert obs["z-sp"] != obs["z-ev"]   # distinct columns, distinct stats


def test_fused_backtick_column_name(spark):
    """A column literally named with a backtick must resolve to ITSELF:
    _bt escapes by doubling (stripping would rewrite a`b → ab, silently
    reading the wrong column). Expectations are computed from the input
    rows in Python."""
    rows = [("a", [1], 1, "s1", 10.0, 99.0), ("b", [2], 2, "s1", 20.0, 99.0),
            ("c", [3], 3, "s2", 30.0, 99.0), ("d", [4], 4, "s2", 40.0, 99.0)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
        "`x``tick` double, ab double")
    res = run_checks(df, [Check("bt", "column_stats",
                                {"value_col": "x`tick", "min_count": 1}),
                          Check("nt", "n_tok_consistency", {})])
    got = {r["partition_id"]: r for r in res.verdicts.collect()
           if r["check_id"] == "bt"}
    # the decoy column `ab` (what backtick-STRIPPING would resolve to) has
    # value 99.0 everywhere; x`tick has 2 non-null values per partition
    want = {}
    for r in rows:
        if r[4] is not None:
            want[r[3]] = want.get(r[3], 0) + 1
    assert {p: r["rows_scanned"] for p, r in got.items()} == want == \
        {"s1": 2, "s2": 2}
    assert all(r["passed"] for r in got.values())
    res.unpersist()


# ------------------------------------------------- DataFrame-valued params --
# run_checks collects these into plain config before the fused build
# (fused.plain_config); each case is checked against the DuckDB oracle,
# which reads the frame as its own relation.

_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _small(spark):
    return spark.createDataFrame(
        [("a", [1, 2], 2, "s1"), ("b", [1], 1, "s1"), ("c", [1] * 9, 9, "s2"),
         ("d", [1] * 8, 8, "s2"), ("e", None, None, "s2"),
         ("f", [1] * 3, 3, None), ("g", [1] * 30, 30, "s3")], _SCHEMA)


def test_zscore_baseline_frame(spark, tmp_path):
    base = spark.createDataFrame([(3.0, 1.5)], "mean double, std double")
    suite = [Check("z", "zscore_threshold",
                   {"value_col": "n_tok", "lambda": 1.0,
                    "ignore_diff_rate": 0.1, "baseline": base})]
    verdicts, violations = assert_matches_oracle(
        spark, _small(spark), suite, tmp_path, "zbase")
    assert {r["expected"] for r in verdicts} == {3.0}
    assert {r["partition_id"] for r in verdicts if not r["passed"]} == \
        {"s2", "s3"}
    assert {r["doc_id"] for r in violations} == {"c", "d", "g"}
    # a frame that is not ONE (mean, std) row has no single baseline
    two = spark.createDataFrame([(3.0, 1.5), (4.0, 1.0)],
                                "mean double, std double")
    with pytest.raises(ValueError, match="one \\(mean, std\\) row"):
        run_checks(_small(spark), [Check("z", "zscore_threshold",
                                         {"baseline": two})])


def test_zscore_empty_baseline_frame_scores_nothing(spark, tmp_path):
    """A 0-row baseline frame: the partition × baseline product is empty, so
    the check emits no verdict and no violation; the rest of the suite is
    unaffected."""
    base = spark.createDataFrame([], "mean double, std double")
    suite = [Check("z", "zscore_threshold",
                   {"value_col": "n_tok", "baseline": base}),
             Check("stats", "column_stats", {"value_col": "n_tok"})]
    verdicts, violations = assert_matches_oracle(
        spark, _small(spark), suite, tmp_path, "zempty")
    assert {r["check_id"] for r in verdicts} == {"stats"}
    assert violations == []
    res = run_checks(_small(spark), suite[:1])
    assert res.verdicts.count() == 0 and res.violations.count() == 0


def test_referential_allowed_frame_with_null_member(spark, tmp_path):
    """A NULL member of the allowed frame matches nothing: NULL-source rows
    still violate, like the anti-join the frame stands for. An empty
    allowed set flags every row."""
    dim = spark.createDataFrame([("s1",), (None,), ("s1",)], "source string")
    suite = [Check("ref", "referential", {"column": "source",
                                          "allowed": dim}),
             Check("ref0", "referential", {"column": "source",
                                           "allowed": []})]
    verdicts, violations = assert_matches_oracle(
        spark, _small(spark), suite, tmp_path, "refnull")
    bad = {r["doc_id"] for r in violations if r["check_id"] == "ref"}
    assert bad == {"c", "d", "e", "f", "g"}
    assert {r["doc_id"] for r in violations if r["check_id"] == "ref0"} == \
        set("abcdefg")
    verd = {r["partition_id"]: r for r in verdicts if r["check_id"] == "ref"}
    assert verd["s1"]["passed"] and verd[None]["n_violations"] == 1


@pytest.mark.parametrize("baseline", ["shifted", "all_null", "empty"])
def test_psi_baseline_frame(spark, tmp_path, baseline):
    """PSI against a baseline frame: buckets over the BASELINE's [min, max]
    (scored values outside it clamp to the edge buckets); a frame with no
    non-NULL value puts every row in bucket 0."""
    rows = {"shifted": [(v,) for v in (1.0, 2.0, 2.0, 4.0, 5.0, 5.0, 6.0,
                                       None)],
            "all_null": [(None,), (None,)],
            "empty": []}[baseline]
    base = spark.createDataFrame(rows, "n_tok double")
    suite = [Check("psi", "drift_psi",
                   {"value_col": "n_tok", "buckets": 4, "threshold": 0.25,
                    "baseline": base})]
    verdicts, _ = assert_matches_oracle(
        spark, _small(spark), suite, tmp_path, f"psi_{baseline}")
    assert {r["partition_id"] for r in verdicts} == {"s1", "s2", "s3", None}
