"""Physical-plan quality gates: the plans we'd want at 100 TB, asserted.

These tests pin the optimizer behavior the engine's scale posture depends
on: predicate pushdown into parquet scans, column pruning (a pass that only
needs n_tok must not read tokens), broadcast of dimension tables, and
whole-stage codegen in the hot paths.
"""

import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.sources.sequences import load_sequences
from pyanomalydetector_spark.sources.tables import load_table
from pyanomalydetector_spark.functions.stats import sufficient_stats


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    # other test modules persist the same sequence plan; a structural cache
    # hit would swap the parquet scan for InMemoryTableScan and hide the
    # pruning/pushdown behavior these tests pin
    spark.catalog.clearCache()
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_into_parquet_scan(spark, sf_dir):
    seq = load_sequences(spark, sf_dir)
    df = seq.filter(F.col("source") == "src1").select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src1)]" in plan \
        or "PushedFilters: [" in plan and "source" in plan


def test_column_pruning_in_stats_pass(spark, sf_dir):
    """The n_tok stats aggregation must not read the tokens column."""
    seq = load_sequences(spark, sf_dir)
    df = sufficient_stats(seq, ["source"], "n_tok")
    plan = _plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines
    assert all("tokens" not in ln for ln in scan_lines), scan_lines
    assert any("n_tok" in ln for ln in scan_lines)


def test_dimension_join_is_broadcast(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    df = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    assert "BroadcastHashJoin" in _plan(df)


def test_stats_agg_is_whole_stage_codegen(spark, sf_dir):
    seq = load_sequences(spark, sf_dir)
    df = sufficient_stats(seq, ["source"], "n_tok")
    df.collect()          # finalize the AQE plan so codegen spans materialize
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # Spark 4 marks codegen stages as "[codegen id : N]" / "*" prefixes
    assert "[codegen id :" in buf.getvalue()


def test_hash_aggregate_not_sort_aggregate(spark, sf_dir):
    """Moments must go through HashAggregate (map-side partials), never a
    sort-based fallback."""
    seq = load_sequences(spark, sf_dir)
    df = sufficient_stats(seq, ["source"], "n_tok")
    plan = _plan(df)
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_token_invariant_no_payload_below_shuffle(spark, sf_dir):
    """The snapshot-equality check must shuffle digests only (24 B/row):
    no tokens attribute may appear in the output of any shuffle Exchange.
    Broadcast exchanges (the tiny exact-confirm candidate set) are exempt —
    that's the point of the digest-then-confirm design."""
    from pyanomalydetector_spark.checks.core import (
        Check, run_checks, _token_digest_rollup)
    seq = load_sequences(spark, sf_dir)

    def shuffle_outputs(jplan, out):
        if jplan.nodeName() == "Exchange":        # ShuffleExchangeExec
            out.append([jplan.output().apply(i).name()
                        for i in range(jplan.output().size())])
        for i in range(jplan.children().size()):
            shuffle_outputs(jplan.children().apply(i), out)
        return out

    def exchanges_of(df):
        # executedPlan has the Exchanges (EnsureRequirements has run); unwrap
        # the AQE node to its initial physical plan
        jplan = df._jdf.queryExecution().executedPlan()
        if jplan.nodeName().startswith("AdaptiveSparkPlan"):
            jplan = jplan.initialPlan()
        return shuffle_outputs(jplan, [])

    # the digest rollup is where the full-table shuffles live (the check
    # localCheckpoints it, hiding its Exchanges from the consumer frames) —
    # gate its LAZY plan: shuffles exist and none carries the token payload
    rollup = _token_digest_rollup(seq, seq, "source")
    exchanges = exchanges_of(rollup)
    assert exchanges
    for cols in exchanges:
        assert not any("tokens" in c.lower() for c in cols), cols

    # consumer frames read the checkpointed rollup; whatever residual
    # shuffles they have must be payload-free too
    res = run_checks(seq, [Check("tok", "token_invariant", {"expected": seq})])
    for df in (res.verdicts, res.violations):
        for cols in exchanges_of(df):
            assert not any("tokens" in c.lower() for c in cols), cols

    # DIRTY branch: with real mismatches the violations frame re-derives
    # the digest join — its shuffles must be payload-free too (the clean
    # branch above returns an empty local frame and gates nothing)
    from pyspark.sql import functions as F
    mutated = seq.withColumn(
        "tokens",
        F.when(F.col("doc_id") == "doc-00000001",
               F.concat(F.col("tokens"), F.array(F.lit(999))))
         .otherwise(F.col("tokens")))
    dirty = run_checks(mutated,
                       [Check("tok", "token_invariant", {"expected": seq})])
    dirty_ex = exchanges_of(dirty.violations)
    assert dirty_ex      # the re-derived join does shuffle
    for cols in dirty_ex:
        assert not any("tokens" in c.lower() for c in cols), cols


def test_minhash_verify_shuffles_candidates_only(spark, sf_dir):
    """The minhash exact-verify stage must (a) build shingle sets only for
    candidate docs — the collect_set aggregate sits ABOVE a left-semi join
    against the candidate doc-id set, so non-candidate shingles never
    shuffle — and (b) carry no static broadcast hint on the candidate
    frame (duplicate-heavy corpora make it unbounded; AQE may still choose
    a broadcast at runtime when it fits)."""
    from pyanomalydetector_spark.operators.dedup import minhash_dedup_pairs
    docs = load_table(spark, sf_dir, "documents")
    reg = []
    pairs = minhash_dedup_pairs(docs, cache_registry=reg)

    qe = pairs._jdf.queryExecution()
    # (b): a static hint would survive into the optimized logical plan as
    # strategy=broadcast on the verify join
    assert "strategy=broadcast" not in qe.optimizedPlan().toString()

    # (a): some ObjectHashAggregate computing collect_set must have a
    # LeftSemi join somewhere beneath it
    jplan = qe.executedPlan()
    if jplan.nodeName().startswith("AdaptiveSparkPlan"):
        jplan = jplan.initialPlan()

    def subtree_str(node):
        return node.toString()

    def walk(node, found):
        s = node.nodeName()
        if "Aggregate" in s and "collect_set" in node.verboseString(10_000):
            found.append("LeftSemi" in subtree_str(node))
        for i in range(node.children().size()):
            walk(node.children().apply(i), found)
        return found

    flags = walk(jplan, [])
    assert flags, "no collect_set aggregate found in the verify plan"
    assert any(flags), "collect_set aggregate has no candidate semi-join below"
    for df in reg:
        df.unpersist()


def test_semi_join_stays_semi(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    df = s.join(li, s["s_suppkey"] == li["l_suppkey"], "left_semi")
    assert "LeftSemi" in _plan(df)


def test_merged_doc_profiles_are_single_scan_no_shuffle(spark, sf_dir):
    """The merged per-doc profiles (quality+tokens+langid; fingerprint+
    repetition) must stay sibling expressions in ONE scan stage — no
    Exchange may appear (a doc_id join formulation would shuffle)."""
    from pyanomalydetector_spark.operators.text import (
        quality_language_profile, text_profile,
    )
    docs = load_table(spark, sf_dir, "documents")
    for df in (quality_language_profile(docs), text_profile(docs)):
        plan = _plan(df)
        assert "Exchange" not in plan, plan[:2000]
        assert "Scan parquet" in plan or "FileScan" in plan


def test_semi_anti_union_keeps_both_join_types(spark, sf_dir):
    """The tagged semi∪anti frame must plan a LeftSemi AND a LeftAnti —
    the union must not force either side through a different strategy."""
    import __spark_entry__ as e
    df = e.queries()["orders_semi_anti"](spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Two tables bucketed on the same key must equi-join with ZERO shuffle
    Exchanges (bucket-to-bucket), and a groupBy on the bucket key must also
    plan shuffle-free — the write-once-join-forever layout for hot join
    keys (doc_id/itemid) at corpus scale."""
    from pyanomalydetector_spark.sources.bucketing import (
        bucketed_join, read_bucketed, write_bucketed,
    )
    seq = load_sequences(spark, sf_dir).select("doc_id", "n_tok", "source")
    write_bucketed(seq, "seq_b1", "doc_id", n_buckets=8)
    write_bucketed(seq.withColumnRenamed("n_tok", "n_tok2")
                      .select("doc_id", "n_tok2"),
                   "seq_b2", "doc_id", n_buckets=8)
    # disable auto-broadcast: at test scale the join would otherwise plan
    # as BroadcastHashJoin and the zero-Exchange assertion would pass with
    # or without bucketing — the point is a SortMergeJoin with NO shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "seq_b1", "seq_b2", "doc_id")
        jplan = j._jdf.queryExecution().executedPlan()
        if jplan.nodeName().startswith("AdaptiveSparkPlan"):
            jplan = jplan.initialPlan()

        def count_nodes(p, name):
            n = int(p.nodeName() == name)
            for i in range(p.children().size()):
                n += count_nodes(p.children().apply(i), name)
            return n

        assert count_nodes(jplan, "SortMergeJoin") == 1, \
            jplan.toString()[:2000]
        assert count_nodes(jplan, "Exchange") == 0, jplan.toString()[:2000]
        # result sanity: same multiset as the path-parquet join
        assert j.count() == seq.join(seq.select("doc_id"), "doc_id").count()

        g = read_bucketed(spark, "seq_b1").groupBy("doc_id").count()
        gplan = g._jdf.queryExecution().executedPlan()
        if gplan.nodeName().startswith("AdaptiveSparkPlan"):
            gplan = gplan.initialPlan()
        assert count_nodes(gplan, "Exchange") == 0, gplan.toString()[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS seq_b1")
        spark.sql("DROP TABLE IF EXISTS seq_b2")


def test_bounded_ks_plan_two_pruned_scans_no_grid(spark, sf_dir):
    """KS keeps its audited linear shape for every baseline source: no
    dense-grid nested-loop join. Self baseline: exactly two parquet scans,
    the base-CDF side pruned to the value column only. Pinned counts: the
    counts frame joins the value-only scan on the base side. A regression
    back to a grid formulation (extra scans, BroadcastNestedLoopJoin) fails
    here."""
    from pyanomalydetector_spark.checks.drift import (
        ks_by_partition, ks_value_counts)
    seq = load_sequences(spark, sf_dir)
    plan = _plan(ks_by_partition(seq, "source", "n_tok")) \
        .split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 2, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # base side reads only the value column
    assert "struct<n_tok:int>" in plan, plan[:3000]

    counts = ks_value_counts(seq, "n_tok")
    plan = _plan(ks_by_partition(seq, "source", "n_tok", counts)) \
        .split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "struct<n_tok:int>" in plan, plan[:3000]


def test_unique_rollup_reuses_counts_exchange(spark, sf_dir):
    """The unique check's scalar rollup and duplicate-list branches must
    share ONE counts exchange (ReusedExchange after execution): the split
    keeps the big per-key pass whole-stage-codegen while the collect_list
    object aggregate only sees cnt>1 rows. The join must stay NULL-SAFE —
    a plain equi-join lets Catalyst infer isnotnull(partition_id) on the
    dup branch only, silently de-duplicating nothing and re-running the
    corpus-sized shuffle twice."""
    from pyanomalydetector_spark.checks.core import _unique_per_part
    seq = load_sequences(spark, sf_dir)
    pp = _unique_per_part(seq, "doc_id", "source")
    pp.collect()            # reuse materializes via AQE stage dedup
    plan = _plan(pp)
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:3000]
    # the wide (partition, key) exchange must appear as ONE live stage:
    # scan count proves it — one parquet read for both branches
    assert plan.split("== Initial Plan ==")[0].count("Scan parquet") == 1, \
        plan[:3000]
    # scalar branch must not fall back to object/sort aggregation
    head = plan.split("== Initial Plan ==")[0]
    for line in head.splitlines():
        if "ObjectHashAggregate" in line:
            assert "collect_list" in line, line


def test_session_disables_call_site_capture(spark):
    """Plan-construction fast path: pyspark 4's _with_origin decorator costs
    ~4 py4j round trips on EVERY DataFrame/Column API call when
    dataFrameDebugging is on (measured 1.5 s -> 0.65 s to BUILD the fused
    suite plan with it off — session.py). The flag is read once per process
    and cached, so a silent default flip would tax every plan build; pin it."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    from pyspark.errors.utils import is_debugging_enabled
    assert not is_debugging_enabled()


def test_session_sizes_codegen_cache_to_the_suite(spark):
    """The default suite's first 5k-row micro-batch generates 141 classes
    and a warm one touches them in the same order; Spark's default
    100-entry class cache evicted each before its next use and recompiled
    94-107 every batch (session.py). A static conf, read once per JVM;
    pin it."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_check_plans_have_no_empty_rdd_scan(spark, sf_dir, tmp_path):
    """Empty result frames are a LocalRelation Catalyst drops from every
    union (``checks.core.empty_frame``): no plan carries the Python-RDD
    scan of ``createDataFrame([])``, which ran as Python-worker tasks in
    every write it joined."""
    from pyanomalydetector_spark.checks.core import (
        Check, default_suite, run_checks,
    )
    from pyanomalydetector_spark.plans.checkpoint import CheckpointStore
    seq = load_sequences(spark, sf_dir)
    ks = Check("ks", "drift_ks", {"value_col": "n_tok"})
    stats = Check("stats", "column_stats", {"value_col": "n_tok"})
    psi = Check("psi", "drift_psi", {"value_col": "n_tok"})
    default = run_checks(seq, default_suite(["src0", "src1"]))
    no_rows = run_checks(seq, [stats, psi])
    frames = {"default verdicts": default.verdicts,
              "default violations": default.violations,
              "ks violations": run_checks(seq, [ks]).violations,
              "fused verdicts": no_rows.verdicts,
              "fused violations": no_rows.violations,
              "fresh checkpoint": CheckpointStore(
                  spark, str(tmp_path / "ck")).read_checkpoint()}
    for name, df in frames.items():
        df.collect()          # the final AQE plan
        assert "ExistingRDD" not in _plan(df), name
    default.unpersist()
    no_rows.unpersist()


def _count_shuffle_exchanges(df) -> int:
    """ShuffleExchangeExec nodes ABOVE any InMemoryTableScan (walking the
    physical tree never descends into a cached relation's stored plan, so
    the cache-fill exchange is not counted — that is the point: it ran
    once, at persist time)."""
    jplan = df._jdf.queryExecution().executedPlan()
    if jplan.nodeName().startswith("AdaptiveSparkPlan"):
        jplan = jplan.initialPlan()

    def walk(node):
        n = 1 if node.nodeName() == "Exchange" else 0
        for i in range(node.children().size()):
            n += walk(node.children().apply(i))
        return n

    return walk(jplan)


def test_band_stack_cache_partitioning_elides_consumer_shuffles(spark, sf_dir):
    """The banded-LSH stack is cached pre-partitioned by (band, bucket); its
    three consumers — both self-join arms and the candidate-id window —
    must all reuse that distribution: ZERO shuffle exchanges above the
    InMemoryTableScans (one exchange at cache-fill replaces three after
    it). Regression here = Spark stopped honoring cached-plan output
    partitioning (canChangeCachedPlanOutputPartitioning flipped) or the
    repartition was dropped."""
    from pyanomalydetector_spark.operators.dedup import (
        _band_stack, hashed_shingles, minhash_signatures,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    stacked = _band_stack(
        minhash_signatures(hashed_shingles(docs), 30), 10, 3) \
        .repartition("band", "bucket").persist()
    try:
        stacked.count()
        a = stacked.select(F.col("doc_id").alias("d1"), "band", "bucket")
        b = stacked.select(F.col("doc_id").alias("d2"), "band", "bucket")
        cand = (a.join(b, ["band", "bucket"])
                 .filter(F.col("d1") < F.col("d2")).select("d1", "d2"))
        # no .distinct() here — its pair-keyed exchange is semantic; this
        # gate is about the (band, bucket) joins/window only
        assert _count_shuffle_exchanges(cand) == 0, \
            cand._jdf.queryExecution().executedPlan().toString()[:3000]

        w = Window.partitionBy("band", "bucket")
        cand_ids = (stacked.withColumn("_n", F.count(F.lit(1)).over(w))
                           .filter(F.col("_n") > 1).select("doc_id"))
        assert _count_shuffle_exchanges(cand_ids) == 0, \
            cand_ids._jdf.queryExecution().executedPlan().toString()[:3000]
    finally:
        stacked.unpersist()


def test_lsh_candidates_reuses_band_stack_exchange(spark, sf_dir):
    """Uncached lsh_candidates: the explicit repartition below the arm
    aliases makes both arms' Exchanges identical, so the stack is computed
    and shuffled ONCE (ReusedExchange / AQE stage dedup) instead of once
    per arm."""
    from pyanomalydetector_spark.operators.dedup import (
        hashed_shingles, lsh_candidates, minhash_signatures,
    )
    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_candidates(minhash_signatures(hashed_shingles(docs), 30),
                          bands=10, rows=3)
    cand.collect()          # reuse materializes via AQE stage dedup — and
    # collect() (not count()) so THIS df's own QueryExecution is the one
    # that runs (count() executes a different plan)
    plan = _plan(cand)
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:3000]
    # one pass over the corpus: a single parquet scan feeds the shared stack
    assert plan.split("== Initial Plan ==")[0].count("Scan parquet") == 1, \
        plan[:3000]
