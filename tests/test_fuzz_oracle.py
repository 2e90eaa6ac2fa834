"""Cross-ENGINE fuzz: run_checks (Spark) vs an independent DuckDB oracle on
hostile random tables.

Every default-suite verdict and violation is re-derived in DuckDB SQL
(tests/check_oracle.py) straight from the documented semantics, so a
Spark-side bug must be independently re-invented in SQL to slip through.
The registered queries' oracle comparison (__spark_entry__.oracle_sql)
only ever sees the well-formed sf fixtures; this runs the same idea over
the hostile corpus — NULL doc_ids / sources / tokens / n_tok, contradicting
metadata, forced key collisions — plus targeted degenerate frames (all-NULL
value column, single distinct value, single partition, empty).

Suite parameters: partition = source, value = n_tok, allowed = {s1, s2},
λ = 2.0, ignore_diff_rate = 0.1, PSI 10 buckets/thr 0.25, KS thr 0.35.
"""

import pytest

from pyanomalydetector_spark.checks.core import Check, run_checks, default_suite

from check_oracle import assert_matches_oracle
from test_fuzz_checks import SCHEMA, _random_rows

ALLOWED = ["s1", "s2"]


def _compare(spark, rows, tmp_path, label, suite=None):
    assert_matches_oracle(
        spark, spark.createDataFrame(rows, SCHEMA),
        suite if suite is not None else default_suite(ALLOWED),
        tmp_path, label)


@pytest.mark.parametrize("seed", [7, 19, 1031, 40961])
def test_suite_matches_duckdb_on_random_tables(spark, tmp_path, seed):
    _compare(spark, _random_rows(seed), tmp_path, f"seed{seed}")


DEGENERATE = {
    # all-NULL value column: no column_stats/zscore verdicts anywhere, PSI
    # degenerates to the bucket-0 histogram, KS is NaN (fails) per source
    "all_null_ntok": [("d1", [1], None, "s1"), ("d2", None, None, "s1"),
                      ("d3", [2, 3], None, "s2"), ("d4", [], None, None)],
    # single distinct value: degenerate PSI range (hi == lo), zero-width KS
    "single_value": [(f"d{i}", [1, 2, 3], 3, src)
                     for i, src in enumerate(["s1", "s1", "s2", "s3", None])],
    # one partition holds every row (its own verdict must still be judged
    # against the global baseline, which it IS)
    "one_partition": [(f"d{i % 4}", [1] * i, i, "s1") for i in range(9)],
    # a partition whose values are ALL NULL next to healthy ones: it gets
    # unique/referential/ntok/psi/ks verdicts (KS = NaN → fail) but no
    # column_stats/zscore row
    "null_island": [("a", [1, 2], 2, "s1"), ("b", [9], 1, "s1"),
                    ("c", None, None, "s3"), ("d", [4], None, "s3"),
                    ("e", [5, 6], 2, "s2")],
}


@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_suite_matches_duckdb_on_degenerate_tables(spark, tmp_path, case):
    _compare(spark, DEGENERATE[case], tmp_path, case)


def test_suite_matches_duckdb_on_empty_table(spark, tmp_path):
    _compare(spark, [], tmp_path, "empty")


# Alternate execution routes must hit the SAME oracle: route ≡ route
# equivalences (salted ≡ unsalted, digest ≡ direct) are satisfied trivially
# by a shared semantic bug.
ROUTE_OVERRIDES = {
    "salted_unique": ("unique", {"salt_buckets": 4}),
    "digest_unique": ("unique", {"digest_prefilter": True}),
}


def _suite_with(kind: str, extra: dict):
    suite = default_suite(ALLOWED)
    out = []
    for c in suite:
        if c.kind == kind:
            params = dict(c.params)
            params.update(extra)
            c = type(c)(c.check_id, c.kind, params)
        out.append(c)
    return out


@pytest.mark.parametrize("route", sorted(ROUTE_OVERRIDES))
def test_route_variants_match_duckdb(spark, tmp_path, route):
    kind, extra = ROUTE_OVERRIDES[route]
    suite = _suite_with(kind, extra)
    _compare(spark, _random_rows(19), tmp_path, f"{route}_r", suite=suite)
    _compare(spark, DEGENERATE["null_island"], tmp_path, f"{route}_n",
             suite=suite)


@pytest.mark.parametrize("source", ["explicit", "pinned"])
def test_ks_baseline_sources_match_duckdb(spark, tmp_path, source):
    """KS against a baseline other than the input: an explicit ``baseline``
    frame, or the ``baseline_counts`` the checkpoint store pins. Baselines:
    a different random table (values the input lacks and vice versa) and an
    all-NULL column (no mass → every partition NaN → fail)."""
    from pyanomalydetector_spark.checks.drift import ks_value_counts
    for b_label, b_rows in [("other", _random_rows(7)),
                            ("all_null", DEGENERATE["all_null_ntok"])]:
        frame = spark.createDataFrame(b_rows, SCHEMA)
        extra = ({"baseline": frame} if source == "explicit" else
                 {"baseline_counts": ks_value_counts(frame, "n_tok")})
        suite = _suite_with("drift_ks", extra)
        for d_label, rows in [("r", _random_rows(19)),
                              ("n", DEGENERATE["null_island"])]:
            _compare(spark, rows, tmp_path,
                     f"ks_{source}_{b_label}_{d_label}", suite=suite)


def test_null_metadata_contradiction_counts(spark, tmp_path):
    """The regression the equivalence fuzz COULDN'T catch: a one-sided NULL
    metadata row must be flagged by n_tok_consistency (both engines agree
    here by construction; this pins the cross-engine fuzz actually covering
    the case an in-engine route ≡ route fuzz once let through)."""
    rows = [("a", [1, 2], None, "s1"), ("b", None, 5, "s1"),
            ("c", None, None, "s2"), ("d", [1], 1, "s2")]
    _compare(spark, rows, tmp_path, "null_meta")
    res = run_checks(spark.createDataFrame(rows, SCHEMA),
                     default_suite(ALLOWED))
    try:
        bad = {r["doc_id"] for r in res.violations.collect()
               if r["check_id"] == "n_tok_consistency"}
        assert bad == {"a", "b"}
    finally:
        res.unpersist()


# --------------------------------------------------------------- token_range

_TR_CHECK = Check("token_range_ids", "token_range",
                  {"min_value": 50, "max_value": 800})


@pytest.mark.parametrize("seed", [7, 1031])
def test_token_range_matches_duckdb(spark, tmp_path, seed):
    """Cross-engine oracle for token_range on the hostile corpus (NULL
    arrays, NULL elements, out-of-window ids): the fused SQL-string
    predicate must agree with DuckDB's list_filter derivation."""
    _compare(spark, _random_rows(seed), tmp_path, f"tr_{seed}",
             suite=[_TR_CHECK])
