"""Scan-fused, fully-lazy execution of the check suite — the one
implementation of every aggregate-style check kind.

The naive execution of a suite runs one plan per check — at 100 TB that is one
full table scan per check (7+ scans). But most check kinds only need
*per-partition aggregates* of the same scan:

- ``column_stats`` / ``zscore_threshold`` → moments (sum, Σx², cnt) of a value
  column per partition;
- ``n_tok_consistency`` / ``referential`` / ``token_range`` → conditional
  counts per partition;
- ``drift_psi``                            → fixed-width bucket histogram per
  partition.

The fused plan therefore has exactly two passes over the data:

1. ONE ``groupBy(partition).agg(...)`` computing every aggregate every
   fusible check needs (Spark's hash aggregate does the map-side combine;
   only #partitions × #agg-columns crosses the shuffle);
2. ONE filter scan emitting ALL row-level violations via an
   array-of-structs → ``filter`` → ``explode`` (each row evaluates every
   violation predicate in a single whole-stage-codegen pass).

Crucially, the whole suite is ONE declarative plan — there are no driver
round-trips inside it. Global inputs that earlier versions collected to the
driver are folded in as broadcast 1-row frames:

- PSI bucket bounds: a lazy ``df.agg(min, max)`` crossJoined onto the scan
  (executes as a tiny subquery stage inside the same job);
- global baselines (mean/std, bucket totals): a lazy re-aggregation of the
  tiny per-partition frame, crossJoined onto the verdict selects;
- z-score failing partitions: a broadcast left-join onto the violations
  scan instead of a collected id list.

So the fused kinds' job count does not grow with the number of fused
checks. It is not small either: under AQE every shuffle or broadcast stage
runs as its own job, and a warm 5k-row micro-batch of the default suite
(``StreamingSuiteRunner.apply_batch``, writes included) runs 21 jobs.
:meth:`CheckResult.materialize` fills the per-partition aggregate cache
before the verdict and violation passes read it.

Expressions are built as SQL STRINGS and handed to Spark via ``selectExpr``/
``F.expr`` — one py4j round trip per SELECT instead of one per sub-expression.
The pyspark Column DSL costs a socket round trip per operator application
(plus ~4 more each with call-site capture on, which session.py disables);
a fused suite plan is a several-thousand-node expression tree, and building
it node-by-node measured 0.65–1.5 s of pure driver latency — string
construction is O(1) round trips per frame and parses JVM-side. Float
literals are embedded via ``repr`` and round-trip exactly (:func:`_d`).

Non-fusible kinds (``unique`` needs a groupBy on the key, ``drift_ks`` needs
per-value cumulative windows, ``token_invariant`` needs a snapshot join) keep
their own plans — those shuffles are inherent to their semantics.

DataFrame-valued params (a z-score or PSI ``baseline`` frame, a referential
``allowed`` frame) never reach the builder: :func:`plain_config` collects
them into the plain config first (a KS ``baseline`` frame too). The
reference for every kind is an independent DuckDB derivation (tests/check_oracle.py and
``__spark_entry__.oracle_sql()``); integer aggregates match exactly, float
aggregates within the 6-decimal rounding every consumer applies.

Reference lineage: this is the Spark answer to the reference recomputing its
stats per detection stage (/root/reference/data_processing/detector.py:149-230
re-reads stats tables per batch); a columnar engine fuses the passes instead.
"""

from __future__ import annotations

import hashlib
import re
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyanomalydetector_spark.checks.core import (
    VIOLATION_SCHEMA, CheckResult, _bt, _d, _sq, empty_frame,
    sized_to_input, verdict_select, violation_select,
)
from pyanomalydetector_spark.checks.drift import PSI_SMOOTH, baseline_params

FUSIBLE_KINDS = frozenset({"column_stats", "zscore_threshold", "referential",
                           "n_tok_consistency", "token_range", "drift_psi"})


# the DataFrame-valued param of each kind that accepts one
_FRAME_PARAM = {"zscore_threshold": "baseline", "drift_psi": "baseline",
                "drift_ks": "baseline", "referential": "allowed"}
_PINNED_PARAM = {"zscore_threshold": "baseline_scalars",
                 "drift_psi": "pinned_hist", "drift_ks": "baseline_counts"}


def plain_config(check):
    """``check`` with its DataFrame-valued param turned into the plain
    config its builder reads, or ``None`` when the check has nothing to
    score. Checks without such a param pass through untouched (no job).

    - zscore ``baseline`` frame (one ``(mean, std)`` row) → ``baseline_
      scalars``. A 0-row frame scores nothing (the partition × baseline
      product is empty), so the check is dropped.
    - referential ``allowed`` frame → its sorted non-NULL members. A NULL
      member matches no row (``NULL = NULL`` is not true), so dropping it
      keeps the anti-join semantics: a NULL value still violates.
    - psi / KS ``baseline`` frame → ``drift.baseline_params``.

    An explicit pinned param (``_PINNED_PARAM``) wins over a frame.
    """
    key = _FRAME_PARAM.get(check.kind)
    frame = check.params.get(key)
    if not isinstance(frame, DataFrame):
        return check
    p = {k: v for k, v in check.params.items() if k != "baseline"}
    if check.kind == "referential":
        col = p.get("column", "source")
        members = {r[0] for r in frame.select(col).distinct().collect()}
        p["allowed"] = sorted(members - {None})
    elif _PINNED_PARAM[check.kind] in p:
        pass    # the explicit pinned param wins; the frame is dropped
    elif check.kind == "zscore_threshold":
        rows = frame.select("mean", "std").limit(2).collect()
        if not rows:
            return None
        if len(rows) > 1 or None in (rows[0]["mean"], rows[0]["std"]):
            raise ValueError(f"zscore check {check.check_id!r}: baseline must "
                             f"be one (mean, std) row without NULLs")
        p["baseline_scalars"] = {"mean": float(rows[0]["mean"]),
                                 "std": float(rows[0]["std"])}
    else:
        p.update(baseline_params(check, frame))
    return type(check)(check.check_id, check.kind, p)


# ------------------------------------------------- SQL-string construction ----

def _ctag(name: str) -> str:
    """Deterministic identifier-safe tag for a user column name, for use
    inside GENERATED aliases (``m_<tag>_sum``, ``_lo_<tag>``...). The alias
    grammar needs a bare identifier, so non-word characters (spaces, dashes,
    backticks) can't be embedded raw; keep the word-character skeleton and,
    whenever anything was dropped, append a short md5 of the full name so two
    distinct user names can never collide on the same tag."""
    s = str(name)
    skel = re.sub(r"\W", "", s, flags=re.ASCII)
    if skel == s:
        return skel
    return f"{skel}_{hashlib.md5(s.encode('utf-8')).hexdigest()[:8]}"


def _tag_map(names) -> dict[str, str]:
    """Injective name→tag map for ONE fused-suite build. :func:`_ctag`
    alone is not airtight: a column literally named ``<skel>_<md5prefix>``
    OF ANOTHER hostile column name reproduces that name's tag verbatim
    (never accidental, but deterministic and constructible — the two
    checks would then silently share one set of moment aggregates).
    Resolve per suite: first appearance keeps _ctag's tag (so every
    common-case alias is unchanged), a clash extends the latecomer's md5
    suffix until the tags separate."""
    out: dict[str, str] = {}
    taken: set[str] = set()
    for name in names:
        s = str(name)
        if s in out:
            continue
        skel = re.sub(r"\W", "", s, flags=re.ASCII)
        full = hashlib.md5(s.encode("utf-8")).hexdigest()
        t, k = _ctag(s), 8
        while t in taken:
            k += 8
            if k > 32:   # full md5 collision between two live column names
                raise ValueError(f"fused: cannot derive a unique internal "
                                 f"tag for column {s!r}")
            t = f"{skel}_{full[:k]}"
        taken.add(t)
        out[s] = t
    return out


def _lit(v) -> str:
    """SQL literal for a referential allowed-set member."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int,)):
        return str(v)
    if isinstance(v, float):
        return _d(v)
    return _sq(v)


def _dcast(vc: str) -> str:
    return f"CAST({_bt(vc)} AS DOUBLE)"


def _token_range_elem_pred(lo: int, hi: int) -> str:
    """Element-level predicate for ``token_range`` — the ONE spelling both
    the row predicate (EXISTS) and the violations' first-offender FILTER
    embed, so a bound-semantics change can never leave the two disagreeing
    (a row flagged bad whose FILTER finds no element)."""
    return f"(t IS NULL OR t < {lo} OR t >= {hi})"


def _token_range_bad(p: dict) -> str:
    """Row-level predicate SQL for ``token_range`` — the ONE definition the
    aggregate and the violations scan both embed (NULL array → FALSE; the
    element predicate absorbs NULL elements, so EXISTS is never NULL)."""
    col = p.get("value_col", "tokens")
    lo, hi = int(p.get("min_value", 0)), int(p["max_value"])
    return (f"(CASE WHEN {_bt(col)} IS NULL THEN FALSE ELSE "
            f"EXISTS({_bt(col)}, t -> "
            f"{_token_range_elem_pred(lo, hi)}) END)")


def _ref_member(p: dict) -> str:
    """Membership predicate for ``referential``: TRUE for an allowed value,
    NULL (never TRUE) for a NULL value, so ``CASE WHEN .. THEN`` sends NULL
    to the violating ELSE branch. An empty allowed set (``IN ()`` does not
    parse) is FALSE for every row."""
    allowed = sorted(p["allowed"])
    if not allowed:
        return "FALSE"
    col = _bt(p.get("column", "source"))
    return f"({col} IN ({', '.join(_lit(a) for a in allowed)}))"


def _moment_aggs(vc: str, tag: str) -> list[str]:
    v = _dcast(vc)
    return [
        f"SUM({v}) AS {tag}_sum",
        f"SUM({v} * {v}) AS {tag}_sqr",
        f"COUNT({v}) AS {tag}_cnt",
    ]


def _scrub(col: str) -> str:
    """NULL/NaN/±inf → 0.0 (the reference's finalize scrub, stats.py:130-135)."""
    return (f"CASE WHEN (({col}) IS NULL OR ISNAN({col}) OR "
            f"({col}) IN (CAST('Infinity' AS DOUBLE), "
            f"CAST('-Infinity' AS DOUBLE))) THEN {_d(0.0)} "
            f"ELSE ({col}) END")


def _finalized(tag: str, prefix: str = "") -> tuple[str, str]:
    """mean/std expr strings from fused moments with the reference's exact
    finalize semantics (Bessel, inf/NaN→0, cnt==1 → std 0)."""
    s, q, c = (f"{prefix}{tag}_sum", f"{prefix}{tag}_sqr", f"{prefix}{tag}_cnt")
    mean = f"TRY_DIVIDE({s}, CAST({c} AS DOUBLE))"
    var = (f"TRY_DIVIDE({q} - TRY_DIVIDE({s} * {s}, CAST({c} AS DOUBLE)), "
           f"CAST(({c} - 1) AS DOUBLE))")
    std = f"CASE WHEN ({c} > 1) THEN SQRT({var}) ELSE {_d(0.0)} END"
    return _scrub(mean), _scrub(std)


def _global_mean_std(mtag: str) -> tuple[str, str]:
    """Global baseline mean/std as expr strings over the summed moments —
    the same arithmetic (and op order) the finalize formulas use."""
    gs = f"COALESCE(g_{mtag}_sum, {_d(0.0)})"
    gq = f"COALESCE(g_{mtag}_sqr, {_d(0.0)})"
    gc = f"CAST(COALESCE(g_{mtag}_cnt, 0) AS DOUBLE)"
    mean_t = f"CASE WHEN ({gc} > 0) THEN ({gs}) / ({gc}) ELSE {_d(0.0)} END"
    var = (f"CASE WHEN ({gc} > 1) THEN "
           f"(({gq}) - ({gs}) * ({gs}) / ({gc})) / (({gc}) - 1) "
           f"ELSE {_d(0.0)} END")
    std_t = f"CASE WHEN ({var}) > 0 THEN SQRT({var}) ELSE {_d(0.0)} END"
    return mean_t, std_t


def run_fused(df: DataFrame, checks: Sequence, pcol: str) -> CheckResult:
    """Build the fused two-pass plan: *lazy* verdicts (in the order of
    ``checks``) and violations, with the persisted per-partition aggregate
    in ``cached`` — no job runs here."""
    # ---- per-suite injective tags for every value_col (see _tag_map) ----
    ctag = _tag_map(
        c.params.get("value_col", "n_tok") for c in checks
        if c.kind in ("column_stats", "zscore_threshold", "drift_psi"))

    # ---- PSI bucket bounds: pinned → python lits (per check); else a lazy
    # 1-row agg per value column ----
    scan_vcs = list(dict.fromkeys(
        c.params.get("value_col", "n_tok") for c in checks
        if c.kind == "drift_psi" and c.params.get("pinned_hist") is None))

    part_src = df
    if scan_vcs:
        exprs = []
        for vc in scan_vcs:
            exprs += [F.expr(f"MIN({_dcast(vc)}) AS _lo_{ctag[vc]}"),
                      F.expr(f"MAX({_dcast(vc)}) AS _hi_{ctag[vc]}")]
        part_src = df.crossJoin(F.broadcast(df.agg(*exprs)))

    # ---- pass 1 plan: the single fused per-partition aggregate -------------
    aggs: list[str] = ["COUNT(1) AS _rows"]
    moment_tags: set[str] = set()
    for i, c in enumerate(checks):
        tag, p = f"c{i}", c.params
        if c.kind in ("column_stats", "zscore_threshold"):
            vc = p.get("value_col", "n_tok")
            mtag = f"m_{ctag[vc]}"
            if mtag not in moment_tags:
                moment_tags.add(mtag)
                aggs += _moment_aggs(vc, mtag)
        elif c.kind == "n_tok_consistency":
            aggs.append("SUM(CASE WHEN (NOT (n_tok <=> SIZE(tokens))) THEN 1 "
                        f"ELSE 0 END) AS {tag}_bad")
        elif c.kind == "token_range":
            aggs.append(f"SUM(CASE WHEN {_token_range_bad(p)} THEN 1 "
                        f"ELSE 0 END) AS {tag}_bad")
        elif c.kind == "referential":
            # NULL→bad: CASE WHEN col IN (...) THEN 0 ELSE 1 (NULL falls to 1)
            aggs.append(f"SUM(CASE WHEN {_ref_member(p)} THEN 0 "
                        f"ELSE 1 END) AS {tag}_bad")
        elif c.kind == "drift_psi":
            vc = p.get("value_col", "n_tok")
            nb = int(p.get("buckets", 10))
            v = _dcast(vc)
            pinned = p.get("pinned_hist")
            if pinned is not None:
                # lo = hi = None (no non-NULL baseline value): every row in
                # bucket 0
                lo, hi = pinned["lo"], pinned["hi"]
                if hi == lo:
                    bucket = "0"
                else:
                    raw = f"FLOOR(({v} - {_d(lo)}) / {_d((hi - lo) / nb)})"
                    bucket = f"LEAST(GREATEST({raw}, 0), {nb - 1})"
            else:
                lo, hi = f"_lo_{ctag[vc]}", f"_hi_{ctag[vc]}"
                raw = f"FLOOR(({v} - {lo}) / (({hi} - {lo}) / {nb}))"
                bucket = (f"CASE WHEN ({hi} = {lo}) THEN 0 ELSE "
                          f"LEAST(GREATEST({raw}, 0), {nb - 1}) END")
            for b in range(nb):
                aggs.append(f"SUM(CASE WHEN (({bucket}) = {b}) THEN 1 "
                            f"ELSE 0 END) AS {tag}_b{b}")

    # persisted LAZILY on purpose: materialize() runs the verdicts and
    # violations jobs on concurrent threads, and the violations pass needs a
    # second raw scan regardless — an eager count() here serializes the two
    # full scans (measured +12% wall at 32M rows / local[4]) while the lazy
    # race costs nothing measurable (interleaved A/B at sf0.1: 3.17 s lazy
    # vs 3.19 s eager). This is the opposite call from the minhash/simhash
    # banding caches, where the duplicated work is a whole extra
    # explode+aggregate pass and eager wins — measure before changing.
    # Sized to the input before the persist: the frame holds one row per
    # partition, but a persisted plan keeps its shuffle's output
    # partitioning (canChangeCachedPlanOutputPartitioning=false), so
    # without the coalesce every verdict frame built on it ran
    # spark.sql.shuffle.partitions tasks per stage (a 5k-row micro-batch:
    # 475 tasks, 140 verdict files). Trade: the coalesce also sets the task
    # count of the final merge, which reads the map-side partial aggregates
    # (#map tasks × #partitions rows); sized_to_input keeps that one task
    # for a small input and parallel from one split of input per task up.
    part_aggs = sized_to_input(
        part_src.groupBy(F.col(pcol).alias("partition_id"))
                .agg(*[F.expr(a) for a in aggs]), df).persist()

    # ---- global baselines: lazy 1-row re-agg of the tiny frame -------------
    need_globals = any(
        (c.kind == "zscore_threshold" and c.params.get("baseline_scalars") is None)
        or (c.kind == "drift_psi" and c.params.get("pinned_hist") is None)
        for c in checks)
    pa = part_aggs
    if need_globals:
        gl_exprs: list[str] = ["SUM(_rows) AS g_rows"]
        for mtag in moment_tags:
            gl_exprs += [f"SUM({mtag}_sum) AS g_{mtag}_sum",
                         f"SUM({mtag}_sqr) AS g_{mtag}_sqr",
                         f"SUM({mtag}_cnt) AS g_{mtag}_cnt"]
        for i, c in enumerate(checks):
            if c.kind == "drift_psi" and c.params.get("pinned_hist") is None:
                nb = int(c.params.get("buckets", 10))
                gl_exprs += [f"SUM(c{i}_b{b}) AS g_c{i}_b{b}"
                             for b in range(nb)]
        pa = part_aggs.crossJoin(F.broadcast(
            part_aggs.agg(*[F.expr(a) for a in gl_exprs])))

    # ---- verdict plans from the aggregate frame ----------------------------
    # Each verdict frame is ONE filter + ONE verdict_select.
    verdicts: list[DataFrame] = []
    viol_entries = []   # (check_id, cond_sql, observed_sql, expected_sql)
    viol_joins = []     # broadcast frames joined onto the violations scan

    for i, c in enumerate(checks):
        tag, p = f"c{i}", c.params
        if c.kind == "column_stats":
            vc = p.get("value_col", "n_tok")
            min_count = int(p.get("min_count", 1))
            cnt = f"m_{ctag[vc]}_cnt"
            # cnt==0 (an all-NULL-value partition) emits NO verdict row:
            # there is no value to count (finalize_mean_std drops cnt==0)
            verdicts.append(verdict_select(
                pa.filter(f"{cnt} > 0"), c.check_id,
                passed=f"({cnt} >= {min_count})",
                observed=cnt, expected=_d(min_count), threshold=_d(min_count),
                n_violations="0", rows_scanned=cnt))
        elif c.kind == "zscore_threshold":
            vc = p.get("value_col", "n_tok")
            lam = float(p.get("lambda", 2.0))
            rate = float(p.get("ignore_diff_rate", 0.0))
            mtag = f"m_{ctag[vc]}"
            scalars = p.get("baseline_scalars")
            if scalars is not None:          # pinned baseline (resume path)
                mean_t, std_t = _d(scalars["mean"]), _d(scalars["std"])
            else:
                mean_t, std_t = _global_mean_std(mtag)
            mean_h, _ = _finalized(mtag)
            dev = f"ABS(({mean_h}) - ({mean_t}))"
            fail = (f"((({dev}) > {_d(lam)} * ({std_t})) AND (({mean_t}) > 0) "
                    f"AND (TRY_DIVIDE({dev}, {mean_t}) > {_d(rate)}))")
            # cnt==0 partitions emit no verdict: no mean to judge
            pa_z = pa.filter(f"{mtag}_cnt > 0")
            verdicts.append(verdict_select(
                pa_z, c.check_id,
                passed=f"(NOT {fail})",
                observed=mean_h, expected=mean_t,
                threshold=f"({_d(lam)} * ({std_t}))",
                n_violations="0", rows_scanned=f"{mtag}_cnt"))
            # failing partitions flow into the violations scan as a
            # broadcast left-join — no driver collect
            zfail = pa_z.where(fail).selectExpr(
                f"partition_id AS _zp_{i}",
                f"({mean_t}) AS _zm_{i}",
                f"({_d(lam)} * ({std_t})) AS _zt_{i}")
            viol_joins.append((zfail, f"_zp_{i}"))
            cond = (f"(_zm_{i} IS NOT NULL AND "
                    f"(ABS({_dcast(vc)} - _zm_{i}) > _zt_{i}))")
            exp = (f"CONCAT('within ', CAST(ROUND(_zm_{i}, 6) AS STRING), "
                   f"' ± ', CAST(ROUND(_zt_{i}, 6) AS STRING))")
            viol_entries.append((c.check_id, cond,
                                 f"CAST({_bt(vc)} AS STRING)", exp))
        elif c.kind == "n_tok_consistency":
            bad_n = f"{tag}_bad"
            verdicts.append(verdict_select(
                pa, c.check_id,
                passed=f"({bad_n} = 0)",
                observed=bad_n, expected=_d(0.0), threshold=_d(0.0),
                n_violations=bad_n, rows_scanned="_rows"))
            viol_entries.append((
                c.check_id, "(NOT (n_tok <=> SIZE(tokens)))",
                "CAST(n_tok AS STRING)", "CAST(SIZE(tokens) AS STRING)"))
        elif c.kind == "token_range":
            col = p.get("value_col", "tokens")
            lo, hi = int(p.get("min_value", 0)), int(p["max_value"])
            bad_n = f"{tag}_bad"
            verdicts.append(verdict_select(
                pa, c.check_id,
                passed=f"({bad_n} = 0)",
                observed=bad_n, expected=_d(0.0), threshold=_d(0.0),
                n_violations=bad_n, rows_scanned="_rows"))
            bad = _token_range_bad(p)
            # TRY_ELEMENT_AT: ANSI-safe on the (unreachable) empty-filter
            # case — the violation cond guarantees a surviving element
            obs = (f"COALESCE(CAST(TRY_ELEMENT_AT(FILTER({_bt(col)}, "
                   f"t -> {_token_range_elem_pred(lo, hi)}), 1) "
                   f"AS STRING), 'NULL')")
            viol_entries.append((c.check_id, bad, obs,
                                 _sq(f"token id in [{lo}, {hi})")))
        elif c.kind == "referential":
            col = p.get("column", "source")
            bad_n = f"{tag}_bad"
            verdicts.append(verdict_select(
                pa, c.check_id,
                passed=f"({bad_n} = 0)",
                observed=bad_n, expected=_d(0.0), threshold=_d(0.0),
                n_violations=bad_n, rows_scanned="_rows"))
            viol_entries.append((
                c.check_id,
                # NULL→violation, like the aggregate: IN(...)=NULL falls ELSE
                f"(CASE WHEN {_ref_member(p)} THEN FALSE ELSE TRUE END)",
                f"CAST({_bt(col)} AS STRING)",
                _sq("member of allowed source set")))
        elif c.kind == "drift_psi":
            nb = int(p.get("buckets", 10))
            threshold = float(p.get("threshold", 0.2))
            pinned = p.get("pinned_hist")
            n_p = " + ".join(f"{tag}_b{b}" for b in range(nb))
            sm, sm_nb = _d(PSI_SMOOTH), _d(PSI_SMOOTH * nb)
            terms = []
            for b in range(nb):
                if pinned is not None:
                    qq = _d((float(pinned["counts"][b]) + PSI_SMOOTH)
                            / (float(pinned["n_base"]) + PSI_SMOOTH * nb))
                else:
                    c_b = f"CAST(COALESCE(g_{tag}_b{b}, 0) AS DOUBLE)"
                    qq = (f"(({c_b} + {sm}) / "
                          f"(CAST(g_rows AS DOUBLE) + {sm_nb}))")
                pp = f"(({tag}_b{b} + {sm}) / (({n_p}) + {sm_nb}))"
                terms.append(f"(({pp} - {qq}) * LN({pp} / {qq}))")
            psi = " + ".join(terms)
            verdicts.append(verdict_select(
                pa, c.check_id,
                passed=f"(({psi}) <= {_d(threshold)})",
                observed=f"({psi})", expected=_d(threshold),
                threshold=_d(threshold),
                n_violations="0", rows_scanned="_rows"))
        else:  # pragma: no cover — run_checks passes FUSIBLE_KINDS only
            raise ValueError(f"not fusible: {c.kind}")

    # ---- pass 2 plan: one scan emitting every row-level violation ----------
    violations = empty_frame(df.sparkSession, VIOLATION_SCHEMA)
    if viol_entries:
        viol_src = df
        for frame, keycol in viol_joins:
            # NULL-SAFE: a failing NULL partition's rows must still pick up
            # their z-thresholds (plain equality would drop its violations)
            viol_src = viol_src.join(
                F.broadcast(frame),
                F.col(pcol).eqNullSafe(F.col(keycol)), "left").drop(keycol)
        structs = ", ".join(
            f"CASE WHEN ({cond}) THEN NAMED_STRUCT("
            f"'check_id', {_sq(cid)}, 'observed', {obs}, 'expected', {exp}) "
            f"END"
            for cid, cond, obs, exp in viol_entries)
        violations = violation_select(
            viol_src.selectExpr(
                f"{_bt(pcol)} AS partition_id", "doc_id",
                f"EXPLODE(FILTER(ARRAY({structs}), x -> x IS NOT NULL)) AS v"),
            "v.check_id", doc_id="doc_id", observed="v.observed",
            expected="v.expected")

    return CheckResult(reduce(DataFrame.unionByName, verdicts), violations,
                       cached=(part_aggs,))
