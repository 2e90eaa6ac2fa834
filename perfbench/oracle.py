"""Expected outputs, computed by DuckDB over the same parquet the engine reads.

- Per-partition violation counts of the baseline-free checks (``unique``,
  ``referential``, ``n_tok_consistency``), written the way the engine
  defines them: duplicated keys per partition, rows whose source is not an
  allowed member (NULL counts as bad), rows with ``n_tok`` not equal to the
  token count.
- The ``ev_cascade`` survivor set from ``__spark_entry__.oracle_sql()``,
  run over an ``events`` view the way ``tools/verify_contract.py`` runs it.

Results are cached as JSON beside the fixture, so each is computed once per
fixture and never inside a timed op.
"""

from __future__ import annotations

import json
import os

CHECK_IDS = ("unique_doc_id", "referential_source", "n_tok_consistency")


def _cached(path: str, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _key(check_id: str, partition_id) -> str:
    return f"{check_id}|{partition_id}"


def verdict_key(row) -> str:
    return _key(row["check_id"], row["partition_id"])


def violation_counts(paths: list[str], allowed: list[str]) -> dict[str, int]:
    """``{"<check_id>|<partition>": n_violations}`` over the union of
    ``paths``. A NULL partition is keyed ``None``."""
    import duckdb

    def compute():
        files = ", ".join(f"'{p}'" for p in paths)
        members = ", ".join(f"'{a}'" for a in allowed)
        sql = f"""
            WITH t AS (SELECT * FROM read_parquet([{files}])),
            k AS (SELECT source, doc_id, COUNT(*) AS cnt FROM t GROUP BY 1, 2)
            SELECT 'unique_doc_id', source,
                   SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) FROM k GROUP BY 2
            UNION ALL
            SELECT 'referential_source', source,
                   SUM(CASE WHEN source IN ({members}) THEN 0 ELSE 1 END)
            FROM t GROUP BY 2
            UNION ALL
            SELECT 'n_tok_consistency', source,
                   SUM(CASE WHEN n_tok IS NOT DISTINCT FROM len(tokens)
                            THEN 0 ELSE 1 END)
            FROM t GROUP BY 2
        """
        with duckdb.connect() as con:
            return {_key(c, p): int(n) for c, p, n in con.execute(sql).fetchall()}

    name = "+".join(os.path.basename(p) for p in paths)
    return _cached(os.path.join(os.path.dirname(paths[0]),
                                f"expected_{name}.json"), compute)


def cascade_survivors(events_dir: str) -> list[int]:
    """Sorted ``itemid`` set of the registered ``ev_cascade`` oracle."""
    import duckdb

    def compute():
        import __spark_entry__ as e
        # oracle_sql() formats every registered oracle, and three of them
        # name fixtures it would synthesize on first use; the cascade oracle
        # reads only ``events``, so hand those three a placeholder instead
        e._SEQ_CACHE = e._MEDIA_CACHE = e._EMBC_CACHE = "read_parquet('-')"
        sql = e.oracle_sql()["ev_cascade"]
        with duckdb.connect() as con:
            con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                        f"'{os.path.join(events_dir, 'events.parquet')}')")
            return sorted(int(r[0]) for r in con.execute(sql).fetchall())

    return _cached(os.path.join(events_dir, "expected.json"), compute)


def verdict_mismatches(rows, expected: dict[str, int]) -> list[str]:
    """Differences between engine verdict rows and the expected counts,
    restricted to the baseline-free checks."""
    got = {verdict_key(r): int(r["n_violations"]) for r in rows
           if r["check_id"] in CHECK_IDS}
    bad = [f"{k}: engine={got.get(k)} duckdb={v}"
           for k, v in expected.items() if got.get(k) != v]
    bad += [f"{k}: engine={v} duckdb=None" for k, v in got.items()
            if k not in expected]
    return bad
