"""Independent DuckDB reference for run_checks: every verdict and violation
re-derived in SQL straight from the documented check semantics, so a Spark-
side bug must be re-invented in SQL to slip through.

:func:`assert_matches_oracle` writes the input to parquet, runs the suite in
Spark on the read-back, derives the same suite in DuckDB over the SAME
parquet bytes and asserts both engines agree (order-insensitive, floats to
6 decimals, booleans as 0/1). DataFrame-valued params (a z-score or PSI
``baseline`` frame, a referential ``allowed`` frame) are written to parquet
too and read by the SQL as their own relation.

Modeled semantics (partition = ``partition_col``):

- column_stats / zscore run on valid values (cnt = COUNT(value));
  partitions with zero valid values emit NO verdict row, and a globally
  empty/all-NULL value column emits no self-baseline zscore verdicts at all.
  A baseline frame is a cross product: a 0-row frame scores nothing.
- zscore baseline std: Bessel, cnt==1 → 0.0 (stats.py finalize). Violation
  rows: within failing partitions, rows outside mean ± λ·σ; their
  human-facing ``expected`` string is float-formatted and engine-specific,
  so it is compared blanked.
- unique groups NULL keys together (a duplicated NULL key is a violation);
  rows_scanned is the total row count.
- referential: a NULL value violates. A list is an ``IN`` test; a frame is
  an anti-join (``NOT EXISTS``), so a NULL member of the frame matches
  nothing.
- n_tok_consistency: NULL-safe equality (one-sided NULL violates, two-sided
  NULL passes).
- token_range: a NULL array passes; a NULL or out-of-window element
  violates; the violation carries the first offending element.
- PSI: fixed-width buckets over the baseline's [min, max] (the input itself,
  or a baseline frame); a NULL value lands in bucket 0 (null-skipping
  greatest); degenerate range (hi == lo, or no non-NULL baseline value) →
  everything in bucket 0.
- KS: the baseline is the input itself, a baseline frame, or pinned
  ``(v, c_b)`` counts. Derived with the dense-grid formula over the union
  of baseline and input values (``c_b = 0`` where the baseline has no
  mass). NULL values carry no mass on either side; an all-NULL partition
  or a baseline without a non-NULL value scores NaN, and NaN <= threshold
  is false (Spark NaN orders greater than any double), so it FAILS.
  rows_scanned counts every row, NULL values included.
"""

import math

import duckdb
from pyspark.sql import DataFrame

from pyanomalydetector_spark.checks.core import run_checks


def _qi(name) -> str:
    return '"' + str(name).replace('"', '""') + '"'


def _sq(s) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _d(x) -> str:
    # explicit DOUBLE: a bare 0.25 literal is DECIMAL in DuckDB
    return f"CAST('{repr(float(x))}' AS DOUBLE)"


def _lit(v) -> str:
    return str(v) if isinstance(v, int) else _sq(v)


def _verdict(pid, cid, passed, observed, expected, threshold, n_viol, rows,
             src) -> str:
    return (f"SELECT CAST({pid} AS VARCHAR) AS partition_id, "
            f"{_sq(cid)} AS check_id, CAST({passed} AS BOOLEAN) AS passed, "
            f"CAST({observed} AS DOUBLE) AS observed, "
            f"CAST({expected} AS DOUBLE) AS expected, "
            f"CAST({threshold} AS DOUBLE) AS threshold, "
            f"CAST({n_viol} AS BIGINT) AS n_violations, "
            f"CAST({rows} AS BIGINT) AS rows_scanned {src}")


def _violation(pid, cid, doc_id, observed, expected, src) -> str:
    return (f"SELECT CAST({pid} AS VARCHAR) AS partition_id, "
            f"{_sq(cid)} AS check_id, CAST({doc_id} AS VARCHAR) AS doc_id, "
            f"CAST({observed} AS VARCHAR) AS observed, "
            f"CAST({expected} AS VARCHAR) AS expected {src}")


def _zscore(seq, p, c, rels) -> tuple[str, str]:
    v = _qi(c.params.get("value_col", "n_tok"))
    lam = _d(c.params.get("lambda", 2.0))
    rate = _d(c.params.get("ignore_diff_rate", 0.0))
    scalars, base = c.params.get("baseline_scalars"), c.params.get("baseline")
    if scalars is not None:
        zb = f"SELECT {_d(scalars['mean'])} AS m, {_d(scalars['std'])} AS s"
    elif base is not None:
        zb = (f"SELECT CAST(mean AS DOUBLE) AS m, CAST(std AS DOUBLE) AS s "
              f"FROM {rels[id(base)]}")
    else:
        zb = (f"SELECT AVG(CAST({v} AS DOUBLE)) AS m, "
              f"CASE WHEN COUNT({v}) > 1 THEN COALESCE(STDDEV_SAMP("
              f"CAST({v} AS DOUBLE)), 0.0) ELSE 0.0 END AS s "
              f"FROM {seq} HAVING COUNT({v}) > 0")
    fail = f"ABS(mh - m) > {lam} * s AND m > 0 AND ABS(mh - m) / m > {rate}"
    ctes = (f"WITH pstat AS (SELECT {p} AS pid, COUNT({v}) AS cnt, "
            f"AVG(CAST({v} AS DOUBLE)) AS mh FROM {seq} GROUP BY 1), "
            f"zb AS ({zb}), "
            f"zfail AS (SELECT pid, m, s FROM pstat, zb "
            f"WHERE cnt > 0 AND {fail}) ")
    return (ctes + _verdict("pid", c.check_id, f"NOT ({fail})", "mh", "m",
                            f"{lam} * s", 0, "cnt",
                            "FROM pstat, zb WHERE cnt > 0"),
            ctes + _violation(
                f"t.{p}", c.check_id, "t.doc_id", f"t.{v}", "''",
                f"FROM {seq} t JOIN zfail f "
                f"ON t.{p} IS NOT DISTINCT FROM f.pid "
                f"WHERE ABS(CAST(t.{v} AS DOUBLE) - f.m) > {lam} * f.s"))


def _ref_bad(c, rels, alias: str) -> str:
    col = f"{alias}.{_qi(c.params.get('column', 'source'))}"
    allowed = c.params["allowed"]
    if isinstance(allowed, DataFrame):
        member = _qi(c.params.get("column", "source"))
        return (f"NOT EXISTS (SELECT 1 FROM {rels[id(allowed)]} a "
                f"WHERE a.{member} = {col})")
    if not allowed:
        return "TRUE"
    return (f"NOT COALESCE({col} IN "
            f"({', '.join(_lit(a) for a in sorted(allowed))}), FALSE)")


def _token_range_pred(c) -> str:
    lo, hi = int(c.params.get("min_value", 0)), int(c.params["max_value"])
    return f"t IS NULL OR t < {lo} OR t >= {hi}"


def _psi(seq, p, c, rels) -> str:
    v = _qi(c.params.get("value_col", "n_tok"))
    nb = int(c.params.get("buckets", 10))
    thr = float(c.params.get("threshold", 0.2))
    base = c.params.get("baseline")
    src = rels[id(base)] if base is not None else seq

    def bucket(rel):
        return (f"CASE WHEN lo IS NULL OR hi = lo THEN 0 "
                f"WHEN {rel}.{v} IS NULL THEN 0 "
                f"ELSE LEAST(GREATEST(CAST(FLOOR((CAST({rel}.{v} AS DOUBLE) "
                f"- lo) / ((hi - lo) / {nb})) AS BIGINT), 0), {nb - 1}) END")

    if base is not None:
        base_ctes = (
            f"bbk AS (SELECT {bucket('r')} AS b FROM {src} r, pb), "
            f"pbc AS (SELECT g.b, (SELECT COUNT(*) FROM bbk "
            f"WHERE bbk.b = g.b) AS c_b FROM g), "
            f"pnb AS (SELECT COUNT(*) AS n_base FROM {src})")
    else:
        base_ctes = ("pbc AS (SELECT b, SUM(c_p) AS c_b FROM pj GROUP BY b), "
                     "pnb AS (SELECT SUM(c_p) AS n_base FROM pj)")
    sm, sm_nb = _d(0.5), _d(0.5 * nb)
    pp = f"((c_p + {sm}) / (n_p + {sm_nb}))"
    qq = f"((c_b + {sm}) / (n_base + {sm_nb}))"
    body = (
        f"WITH pb AS (SELECT MIN(CAST({v} AS DOUBLE)) AS lo, "
        f"MAX(CAST({v} AS DOUBLE)) AS hi FROM {src}), "
        f"g AS (SELECT UNNEST(generate_series(0, {nb - 1})) AS b), "
        f"pbk AS (SELECT s.{p} AS pid, {bucket('s')} AS b "
        f"FROM {seq} s, pb), "
        f"ppc AS (SELECT pid, b, COUNT(*) AS c_p FROM pbk GROUP BY 1, 2), "
        f"pj AS (SELECT ps.pid, g.b, COALESCE(c_p, 0) AS c_p "
        f"FROM (SELECT DISTINCT {p} AS pid FROM {seq}) ps CROSS JOIN g "
        f"LEFT JOIN ppc ON ps.pid IS NOT DISTINCT FROM ppc.pid "
        f"AND g.b = ppc.b), "
        f"pnp AS (SELECT pid, SUM(c_p) AS n_p FROM pj GROUP BY pid), "
        f"{base_ctes}, "
        f"sc AS (SELECT pj.pid, n_p, SUM(({pp} - {qq}) * LN({pp} / {qq})) "
        f"AS psi FROM pj JOIN pnp ON pj.pid IS NOT DISTINCT FROM pnp.pid "
        f"JOIN pbc ON pj.b = pbc.b, pnb GROUP BY pj.pid, n_p) ")
    return body + _verdict("pid", c.check_id, f"psi <= {_d(thr)}", "psi",
                           _d(thr), _d(thr), 0, "n_p", "FROM sc")


def _ks(seq, p, c, rels) -> str:
    v = _qi(c.params.get("value_col", "n_tok"))
    thr = float(c.params.get("threshold", 0.2))
    counts, base = c.params.get("baseline_counts"), c.params.get("baseline")
    if counts is not None:
        kb = (f"SELECT CAST(v AS DOUBLE) AS v, SUM(c_b) AS c_b "
              f"FROM {rels[id(counts)]} WHERE v IS NOT NULL GROUP BY 1")
    else:
        src = rels[id(base)] if base is not None else seq
        kb = (f"SELECT CAST({v} AS DOUBLE) AS v, COUNT(*) AS c_b "
              f"FROM {src} WHERE {v} IS NOT NULL GROUP BY 1")
    body = (
        f"WITH kb AS ({kb}), "
        f"kvals AS (SELECT v FROM kb UNION SELECT CAST({v} AS DOUBLE) "
        f"FROM {seq} WHERE {v} IS NOT NULL), "
        f"kpc AS (SELECT {p} AS pid, CAST({v} AS DOUBLE) AS v, "
        f"COUNT(*) AS c_p FROM {seq} WHERE {v} IS NOT NULL GROUP BY 1, 2), "
        f"knb AS (SELECT COALESCE(SUM(c_b), 0) AS n_base FROM kb), "
        f"kj AS (SELECT g.pid, g.v, COALESCE(kpc.c_p, 0) AS c_p, "
        f"COALESCE(kb.c_b, 0) AS c_b "
        f"FROM (SELECT s.pid, k.v FROM (SELECT DISTINCT {p} AS pid "
        f"FROM {seq}) s, kvals k) g "
        f"LEFT JOIN kpc ON g.pid IS NOT DISTINCT FROM kpc.pid "
        f"AND g.v = kpc.v LEFT JOIN kb ON g.v = kb.v), "
        f"kd AS (SELECT pid, MAX(ABS(CAST(cum_p AS DOUBLE) / n_p "
        f"- CAST(cum_b AS DOUBLE) / n_base)) AS d "
        f"FROM (SELECT kj.pid, kj.v, "
        f"SUM(c_p) OVER (PARTITION BY kj.pid ORDER BY kj.v) AS cum_p, "
        f"SUM(c_p) OVER (PARTITION BY kj.pid) AS n_p, "
        f"SUM(c_b) OVER (PARTITION BY kj.pid ORDER BY kj.v) AS cum_b, "
        f"n_base FROM kj, knb) WHERE n_p > 0 AND n_base > 0 GROUP BY pid), "
        f"rows_pp AS (SELECT {p} AS pid, COUNT(*) AS nrows "
        f"FROM {seq} GROUP BY 1) ")
    return body + _verdict(
        "r.pid", c.check_id,
        f"CASE WHEN kd.d IS NULL THEN FALSE ELSE kd.d <= {_d(thr)} END",
        "COALESCE(kd.d, CAST('NaN' AS DOUBLE))", _d(thr), _d(thr), 0,
        "r.nrows",
        "FROM rows_pp r LEFT JOIN kd ON r.pid IS NOT DISTINCT FROM kd.pid")


def _check_sql(seq: str, p: str, c, rels: dict) -> tuple[str, str | None]:
    """``(verdicts_sql, violations_sql or None)`` for one check."""
    k, prm = c.kind, c.params
    cid = c.check_id
    if k == "column_stats":
        v = _qi(prm.get("value_col", "n_tok"))
        mc = int(prm.get("min_count", 1))
        return _verdict(
            "pid", cid, f"cnt >= {mc}", "cnt", _d(mc), _d(mc), 0, "cnt",
            f"FROM (SELECT {p} AS pid, COUNT({v}) AS cnt FROM {seq} "
            f"GROUP BY 1) WHERE cnt > 0"), None
    if k == "zscore_threshold":
        return _zscore(seq, p, c, rels)
    if k == "unique":
        key = _qi(prm.get("key", "doc_id"))
        counts = (f"(SELECT {p} AS pid, {key} AS k, COUNT(*) AS c "
                  f"FROM {seq} GROUP BY 1, 2)")
        return (_verdict(
                    "pid", cid, "nd = 0", "nd", 0, 0, "nd", "nr",
                    f"FROM (SELECT pid, SUM(CASE WHEN c > 1 THEN 1 ELSE 0 "
                    f"END) AS nd, SUM(c) AS nr FROM {counts} GROUP BY pid)"),
                _violation("pid", cid, "k", "c", "'1'",
                           f"FROM {counts} WHERE c > 1"))
    if k == "referential":
        col = _qi(prm.get("column", "source"))
        bad = _ref_bad(c, rels, "t")
        return (_verdict(
                    "pid", cid, "nb = 0", "nb", 0, 0, "nb", "nr",
                    f"FROM (SELECT t.{p} AS pid, COUNT(*) AS nr, "
                    f"SUM(CASE WHEN {bad} THEN 1 ELSE 0 END) AS nb "
                    f"FROM {seq} t GROUP BY 1)"),
                _violation(f"t.{p}", cid, "t.doc_id", f"t.{col}",
                           "'member of allowed source set'",
                           f"FROM {seq} t WHERE {bad}"))
    if k == "n_tok_consistency":
        bad = "n_tok IS DISTINCT FROM len(tokens)"
        return (_verdict(
                    "pid", cid, "nb = 0", "nb", 0, 0, "nb", "nr",
                    f"FROM (SELECT {p} AS pid, COUNT(*) AS nr, "
                    f"SUM(CASE WHEN {bad} THEN 1 ELSE 0 END) AS nb "
                    f"FROM {seq} GROUP BY 1)"),
                _violation(p, cid, "doc_id", "n_tok", "len(tokens)",
                           f"FROM {seq} WHERE {bad}"))
    if k == "token_range":
        arr = _qi(prm.get("value_col", "tokens"))
        offenders = f"list_filter({arr}, t -> {_token_range_pred(c)})"
        bad = f"{arr} IS NOT NULL AND len({offenders}) > 0"
        lo, hi = int(prm.get("min_value", 0)), int(prm["max_value"])
        return (_verdict(
                    "pid", cid, "nb = 0", "nb", 0, 0, "nb", "nr",
                    f"FROM (SELECT {p} AS pid, COUNT(*) AS nr, "
                    f"SUM(CASE WHEN {bad} THEN 1 ELSE 0 END) AS nb "
                    f"FROM {seq} GROUP BY 1)"),
                _violation(p, cid, "doc_id",
                           f"COALESCE(CAST(({offenders})[1] AS VARCHAR), "
                           f"'NULL')",
                           _sq(f"token id in [{lo}, {hi})"),
                           f"FROM {seq} WHERE {bad}"))
    if k == "drift_psi":
        return _psi(seq, p, c, rels), None
    if k == "drift_ks":
        return _ks(seq, p, c, rels), None
    raise NotImplementedError(k)


def _union(parts: list[str]) -> str:
    return " UNION ALL ".join(f"SELECT * FROM ({q})" for q in parts)


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".") or "0"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _blank_zscore_expected(rows, cols, zscore_ids):
    ic, ie = cols.index("check_id"), cols.index("expected")
    return [tuple("" if (i == ie and r[ic] in zscore_ids) else x
                  for i, x in enumerate(r))
            for r in (tuple(r) for r in rows)]


def _frame_params(suite):
    for c in suite:
        for v in c.params.values():
            if isinstance(v, DataFrame):
                yield v


def assert_matches_oracle(spark, df: DataFrame, suite, tmp_path, label: str,
                          partition_col: str = "source"):
    """Run ``suite`` over ``df`` (round-tripped through parquet) in Spark
    and assert its verdicts and violations equal the DuckDB derivation.
    Returns the Spark ``(verdict_rows, violation_rows)`` for extra
    assertions."""
    path = str(tmp_path / f"{label}.parquet")
    df.write.mode("overwrite").parquet(path)
    rels = {}
    for i, frame in enumerate(_frame_params(suite)):
        rels[id(frame)] = f"rel{i}"
        frame.write.mode("overwrite").parquet(
            str(tmp_path / f"{label}_rel{i}.parquet"))

    res = run_checks(spark.read.parquet(path), suite, partition_col)
    try:
        verdict_rows = res.verdicts.collect()
        violation_rows = res.violations.collect()
    finally:
        res.unpersist()
    zscore_ids = {c.check_id for c in suite if c.kind == "zscore_threshold"}
    v_cols, w_cols = res.verdicts.columns, res.violations.columns
    s_verd = _canon([tuple(r) for r in verdict_rows], v_cols)
    s_viol = _canon(_blank_zscore_expected(
        [tuple(r) for r in violation_rows], w_cols, zscore_ids), w_cols)

    p = _qi(partition_col)
    sqls = [_check_sql("seq", p, c, rels) for c in suite]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW seq AS "
                    f"SELECT * FROM read_parquet('{path}/*.parquet')")
        for i in range(len(rels)):
            con.execute(f"CREATE VIEW rel{i} AS SELECT * FROM read_parquet("
                        f"'{tmp_path}/{label}_rel{i}.parquet/*.parquet')")
        vr = con.execute(_union([v for v, _ in sqls]))
        o_verd = _canon(vr.fetchall(), [d[0] for d in vr.description])
        viols = [w for _, w in sqls if w is not None]
        o_viol = []
        if viols:
            wr = con.execute(_union(viols))
            w_ocols = [d[0] for d in wr.description]
            o_viol = _canon(_blank_zscore_expected(
                wr.fetchall(), w_ocols, zscore_ids), w_ocols)
    finally:
        con.close()

    assert s_verd == o_verd, (
        f"{label}: verdicts diverge\n spark-only: "
        f"{[r for r in s_verd if r not in o_verd][:5]}\n oracle-only: "
        f"{[r for r in o_verd if r not in s_verd][:5]}")
    assert s_viol == o_viol, (
        f"{label}: violations diverge\n spark-only: "
        f"{[r for r in s_viol if r not in o_viol][:5]}\n oracle-only: "
        f"{[r for r in o_viol if r not in s_viol][:5]}")
    return verdict_rows, violation_rows
