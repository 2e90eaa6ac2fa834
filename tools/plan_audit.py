#!/usr/bin/env python
"""Physical-plan audit: dump the properties that matter at 100 TB for every
headline query into PLAN_AUDIT.md.

For each query: shuffle/broadcast exchange counts, join strategies, scan
column pruning (ReadSchema) and predicate pushdown (PushedFilters), and
whole-stage-codegen span count. This is the ".explain and iterate" loop as
a committed artifact — regressions in plan shape show up as diffs.

Run: python tools/plan_audit.py  (sf0.01 by default)
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# queries whose plan shape is the scale story (cheap to build at sf0.01)
AUDIT = [
    "seq_column_stats", "seq_unique_violations", "seq_token_invariant",
    "seq_token_range", "seq_drift_psi", "seq_drift_ks",
    "ev_rollup", "jdbc_rollup", "ev_detect1", "ev_detect3_counts",
    "ev_grid_resample", "ev_topn",
    "tpch_pricing_summary", "tpch_q3_shipping", "tpch_q5_local_supplier",
    "orders_semi_anti",
    "doc_dedup_exact", "doc_dedup_minhash", "doc_simhash_pairs",
    "doc_quality", "emb_ann_topk", "emb_cosine_pairs",
    # round-4 scale paths with an inspectable returned plan (the LSH and
    # incremental-minhash queries return a localCheckpoint scan — their
    # pipeline plans are gated in tests instead)
    "seq_length_percentiles_sketch", "emb_ann_ivf_indexed", "ev_cascade",
]

JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin")


def walk(jplan, counts):
    name = jplan.nodeName()
    counts[name] = counts.get(name, 0) + 1
    if "QueryStage" in name:       # AQE stage wrappers hide their subplan
        try:
            walk(jplan.plan(), counts)
        except Exception:
            pass
    for i in range(jplan.children().size()):
        walk(jplan.children().apply(i), counts)


def audit_one(spark, name, fn):
    df = fn(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    jplan = qe.executedPlan()
    if jplan.nodeName().startswith("AdaptiveSparkPlan"):
        # shuffle/join structure from the initial physical plan (before AQE
        # rewrites Exchanges into QueryStages); codegen spans from the FINAL
        # plan (codegen wrapping happens at stage execution)
        df.collect()     # materialize THIS queryExecution so AQE finalizes
        final_counts: dict[str, int] = {}
        walk(jplan.executedPlan(), final_counts)
        jplan = jplan.initialPlan()
    else:
        final_counts = None
    counts: dict[str, int] = {}
    walk(jplan, counts)
    if final_counts is not None:
        for k, v in final_counts.items():
            if k.startswith("WholeStageCodegen"):
                counts[k] = v

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "300")
    try:
        text = jplan.toString()

        # Collect scans from the TREE, not the full plan string: an
        # InMemoryTableScan prints its cached child plan (including the
        # FileScan that built the cache) as inner children, which the old
        # text regex miscounted as live scans — execution reads the cache,
        # not the file. Leaf-node toString only describes the node itself.
        scans = []

        def collect_scans(p):
            name = p.nodeName()
            if name == "InMemoryTableScan":
                cols = [p.output().apply(i).name()
                        for i in range(p.output().size())]
                scans.append((cols, "CACHED"))
                return          # cached child plan does not execute
            if name.startswith("Scan"):
                s = p.toString().splitlines()[0]
                m = re.search(r"ReadSchema: struct<([^>]*)", s)
                cols = ([c.split(":")[0] for c in m.group(1).split(",") if c]
                        if m else [p.output().apply(i).name()
                                   for i in range(p.output().size())])
                pf = re.search(r"PushedFilters: \[([^\]]*)", s)
                scans.append((cols, pf.group(1) if pf else ""))
            if "QueryStage" in name:
                try:
                    collect_scans(p.plan())
                except Exception:
                    pass
            for i in range(p.children().size()):
                collect_scans(p.children().apply(i))

        collect_scans(jplan)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)

    joins = {k: v for k, v in counts.items() if k in JOIN_NODES}
    codegen = sum(v for k, v in counts.items()
                  if k.startswith("WholeStageCodegen"))
    codegen = codegen or len(re.findall(r"^\s*[+:\-\s]*\*\(\d+\)", text, re.M))
    return {
        "shuffles": counts.get("Exchange", 0),
        "broadcasts": counts.get("BroadcastExchange", 0),
        "joins": joins,
        "scans": scans,
        "codegen_ops": codegen,
        "sort_aggregate": counts.get("SortAggregate", 0),
    }


def main() -> None:
    import __spark_entry__ as e
    from pyanomalydetector_spark.session import get_spark

    spark = get_spark("plan-audit")
    qs = e.queries()

    lines = [
        "# PLAN_AUDIT — physical-plan properties of the headline queries",
        "",
        f"Generated by tools/plan_audit.py at {os.path.basename(SF_DIR)} "
        "(plan shape is scale-independent; AQE's initial physical plan).",
        "",
        "Columns: shuffle Exchanges / BroadcastExchanges / join strategies /",
        "ops inside whole-stage codegen / SortAggregate fallbacks (0 = all",
        "hash-aggregated). Scans list (pruned columns | pushed filters).",
        "",
        "| query | shuffles | bcasts | joins | codegen ops | sortAgg |",
        "|---|---|---|---|---|---|",
    ]
    remarks = [
        "",
        "## Reading notes (intentional non-defaults)",
        "",
        "- BroadcastNestedLoopJoin appears only for broadcast-side frames of",
        "  O(1) or O(queries) rows (PSI/KS totals and bucket grids, ANN query",
        "  sets, cosine block grid) — the right physical op for a tiny cross",
        "  join.",
        "- 'cached scan' rows are InMemoryTableScans of a persisted",
        "  aggregate (e.g. PSI's partition histogram, minhash's candidate",
        "  shingle frame): the underlying file is read ONCE when the cache",
        "  builds; downstream branches replay the cache, not the scan.",
        "- seq_unique_violations lists no shuffle: its counts rollup is a",
        "  lazily persisted frame (counted first by CheckResult.materialize), so",
        "  the audited plan reads it through an InMemoryTableScan and every",
        "  consumer replays the one cache. seq_token_invariant's digest rollup",
        "  materializes at plan-build time (localCheckpoint); its shuffles are",
        "  the violation path's digest join, re-derived over the failing",
        "  partitions only. Each rollup's own plan (one pruned scan per side,",
        "  pure HashAggregate, digests-only shuffles for token_invariant) is",
        "  gated in tests/test_explain_plans.py.",
        "- jdbc_rollup's scan is a JDBCRelation with the clock range pushed",
        "  into the database (see tests/test_jdbc_source.py for the starred",
        "  PushedFilters assertions).",
    ]
    details = ["", "## Scan details (pruning + pushdown)", ""]
    for name in AUDIT:
        a = audit_one(spark, name, qs[name])
        joins = ", ".join(f"{k}×{v}" for k, v in sorted(a["joins"].items())) or "—"
        lines.append(f"| {name} | {a['shuffles']} | {a['broadcasts']} | "
                     f"{joins} | {a['codegen_ops']} | {a['sort_aggregate']} |")
        details.append(f"### {name}")
        for cols, pf in a["scans"]:
            pf = pf.strip().rstrip(",")
            if pf == "CACHED":
                details.append(f"- cached scan [{', '.join(cols)}] "
                               "(InMemoryTableScan — no file read)")
            else:
                details.append(f"- scan [{', '.join(cols)}]"
                               + (f" — pushed: {pf}" if pf else ""))
        details.append("")
        print(name, "ok", file=sys.stderr)

    out = os.path.join(_REPO, "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write("\n".join(lines + remarks + details) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
