"""Adversarial randomized inputs: the check suite ≡ the DuckDB oracle on
arbitrary tables.

test_fused.py pins the invariant on the curated fixtures; this module throws
seeded-random garbage at the same contract — NULL doc_ids, NULL sources (a
NULL partition_id), NULL/empty token arrays, n_tok that contradicts
size(tokens), sources outside the allowed set, single-row partitions, and the
empty table. Seeds are fixed so failures reproduce; the generator is numpy,
not hypothesis, because every example costs a handful of Spark jobs and we
want a small, deterministic corpus rather than shrinking.
"""

import numpy as np
import pytest

from pyanomalydetector_spark.checks.core import Check, run_checks, default_suite

from check_oracle import assert_matches_oracle

SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
ALLOWED = ["s1", "s2"]                     # s3 / "weird src" / NULL violate


def _random_rows(seed: int) -> list[tuple]:
    rng = np.random.default_rng(seed)
    n = int(rng.integers(5, 120))
    rows = []
    for _ in range(n):
        doc_id = None if rng.random() < 0.08 \
            else f"d{int(rng.integers(0, max(2, n // 2)))}"   # forced collisions
        if rng.random() < 0.1:
            tokens = None
        else:
            tokens = [int(t) for t in
                      rng.integers(0, 1000, size=int(rng.integers(0, 9)))]
            # hostile element content: NULL elements + ids outside any
            # realistic vocab window (exercises token_range's element
            # predicate; no other check reads element values)
            if tokens and rng.random() < 0.08:
                tokens[int(rng.integers(0, len(tokens)))] = None
            if tokens and rng.random() < 0.08:
                tokens[int(rng.integers(0, len(tokens)))] = \
                    int(rng.choice([-7, 100000]))
        r = rng.random()
        if r < 0.1:
            n_tok = None
        elif r < 0.3:
            n_tok = int(rng.integers(0, 50))   # often contradicts size(tokens)
        else:
            n_tok = len(tokens) if tokens is not None else None
        source = None if rng.random() < 0.05 else str(
            rng.choice(["s1", "s2", "s3", "weird src"],
                       p=[0.42, 0.32, 0.16, 0.10]))
        rows.append((doc_id, tokens, n_tok, source))
    return rows


# NULL-safe total order: rows may carry None in any slot (NULL partition_id,
# NULL observed), which plain tuple sort can't compare against str/float
def _null_safe_key(t):
    return tuple((x is None, x) for x in t)


def _norm_verdicts(rows):
    return sorted((
        (r["partition_id"], r["check_id"], r["passed"],
         round(r["observed"], 6) if r["observed"] is not None else None,
         round(r["expected"], 6) if r["expected"] is not None else None,
         round(r["threshold"], 6) if r["threshold"] is not None else None,
         r["n_violations"], r["rows_scanned"])
        for r in rows), key=_null_safe_key)


@pytest.mark.parametrize("seed", [7, 19, 1031])
def test_fused_eq_per_check_on_random_tables(spark, tmp_path, seed):
    df = spark.createDataFrame(_random_rows(seed), SCHEMA)
    # default suite + token_range: the bounds slice the generator's
    # [0, 1000) id range on both ends, and the injected NULL /
    # out-of-window elements violate
    suite = default_suite(ALLOWED) + [
        Check("token_range_ids", "token_range",
              {"min_value": 50, "max_value": 800})]
    verdicts, _ = assert_matches_oracle(spark, df, suite, tmp_path,
                                        f"rand{seed}")
    # the run is also self-deterministic: a second pass agrees
    again = run_checks(
        spark.read.parquet(str(tmp_path / f"rand{seed}.parquet")), suite)
    try:
        assert _norm_verdicts(again.verdicts.collect()) == \
            _norm_verdicts(verdicts)
    finally:
        again.unpersist()


def test_checks_on_empty_table(spark, tmp_path):
    df = spark.createDataFrame([], SCHEMA)
    verdicts, violations = assert_matches_oracle(
        spark, df, default_suite(ALLOWED), tmp_path, "empty")
    assert verdicts == [] and violations == []
