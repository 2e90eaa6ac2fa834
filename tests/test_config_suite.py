"""YAML-declarative suites (reference utils/config_loader.py:15-97):
merge + cascade semantics, rule/suite/detector-config parsing, and the
config-hash invalidation path through CheckpointStore.suite_hash."""

import os

import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.plans.config import (
    load_config, suite_from_config, conditions_from_config,
    detector_config_from_source,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT = os.path.join(REPO, "samples", "default.yml")
OVERRIDE = os.path.join(REPO, "samples", "override.yml")


def test_load_merge_cascade_and_templating(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    conf = load_config(DEFAULT, OVERRIDE)
    # per-key merge: override replaces the scalar
    assert conf["detect1_lambda_threshold"] == 1.0
    src = conf["data_sources"]["events"]
    # cascade: top-level keys copied into the source unless it overrides them
    assert src["detect1_lambda_threshold"] == 1.0        # cascaded override
    assert src["detect3_lambda_threshold1"] == 1.5       # source's own value
    assert src["trends_retention"] == 27                 # cascaded default
    # item_conds cascade into data_sources (config_loader.py:91-93)
    assert len(src["item_conds"]) == 2
    # {{ ENV }} templating (the jinja subset the reference configs use)
    assert src["data_dir"] == "/root/testdata/sf0.01"


def test_suite_and_conditions_and_detector_config():
    conf = load_config(DEFAULT)
    suite = suite_from_config(conf, "events")
    assert [c.check_id for c in suite] == [
        "column_stats_n_tok", "zscore_n_tok", "unique_doc_id",
        "n_tok_consistency", "drift_psi_n_tok", "drift_ks_n_tok"]
    assert suite[1].params["lambda"] == 2.0

    conds = conditions_from_config(conf, "events")
    assert conds[0].filter_expr == "n_events > 66"
    assert (conds[0].metric, conds[0].operator, conds[0].value) == \
        ("mean", ">", 48.0)

    cfg = detector_config_from_source(conf["data_sources"]["events"])
    assert cfg.trends_retention == 27
    assert cfg.detect3_lambda_threshold1 == 3.0


def test_sample_checks_match_default_suite():
    """samples/default.yml and ``default_suite()`` declare the same check
    ids with the same params, so one column never runs two configurations
    (the referential check needs the caller's allowed set and lives in
    ``default_suite`` only)."""
    from pyanomalydetector_spark.checks.core import default_suite
    code = {c.check_id: c for c in default_suite(["s1"])}
    for c in suite_from_config(load_config(DEFAULT)):
        assert c.check_id in code, c.check_id
        assert (c.kind, c.params) == \
            (code[c.check_id].kind, code[c.check_id].params), c.check_id


def test_ignore_rule_without_condition(spark, tmp_path):
    """A rule with no ``condition`` removes every matching item
    (detector.py:168-169)."""
    from pyanomalydetector_spark.operators.conditions import apply_conditions
    y = tmp_path / "c.yml"
    y.write_text(
        "item_conds:\n"
        "  - name: ignore noisy\n"
        "    filter: \"kind = 'noisy'\"\n"
        "  - name: big items need big means\n"
        "    filter: \"kind = 'big'\"\n"
        "    metric: mean\n"
        "    condition: {operator: '>', value: 10.0}\n")
    conds = conditions_from_config(load_config(str(y)))
    assert conds[0].operator is None

    catalog = spark.createDataFrame(
        [(1, "noisy"), (2, "big"), (3, "big"), (4, "other")],
        "itemid long, kind string")
    stats = spark.createDataFrame(
        [(1, 99.0), (2, 5.0), (3, 20.0), (4, 1.0)],
        "itemid long, mean double")
    got = sorted(r["itemid"] for r in
                 apply_conditions(stats, catalog, conds).collect())
    # 1 removed by the ignore rule, 2 fails the mean condition, 3/4 survive
    assert got == [3, 4]


def test_yaml_edit_invalidates_suite_hash(tmp_path):
    """Editing a threshold in YAML must change suite_hash — the checkpoint
    gap-reset trigger (CheckpointStore pins state per suite_hash)."""
    from pyanomalydetector_spark.plans.checkpoint import suite_hash
    base = suite_from_config(load_config(DEFAULT))
    assert suite_hash(base) == suite_hash(suite_from_config(load_config(DEFAULT)))

    y = tmp_path / "edit.yml"
    y.write_text("checks:\n"
                 "  - id: zscore_n_tok\n"
                 "    kind: zscore_threshold\n"
                 "    params: {value_col: n_tok, lambda: 3.5}\n")
    edited = suite_from_config(load_config(DEFAULT, str(y)))
    assert suite_hash(edited) != suite_hash(base)


def test_run_detection_from_yaml(spark, sf_dir, tmp_path):
    """detect_anomalies.run analog: YAML data_sources → cascade runs →
    {source: itemids}, equal to calling detect_pipeline directly with the
    same thresholds; stage selection mirrors detection_stages."""
    from pyanomalydetector_spark.plans.run import (
        run_detection, STAGE_DETECT1,
    )
    from pyanomalydetector_spark.plans.pipeline import detect_pipeline
    from pyanomalydetector_spark.operators.detect import DetectorConfig

    y = tmp_path / "run.yml"
    y.write_text(
        "detect1_lambda_threshold: 1.0\n"
        "detect2_lambda_threshold: 1.0\n"
        "detect3_lambda_threshold1: 1.5\n"
        "detect3_lambda_threshold2: 1.0\n"
        "ignore_diff_rate: 0.01\n"
        "anomaly_valid_count_rate: 0.001\n"
        "data_sources:\n"
        "  events:\n"
        f"    data_dir: \"{sf_dir}\"\n")
    conf = load_config(str(y))
    got = run_detection(spark, conf)
    assert set(got) == {"events"}

    cfg = DetectorConfig(detect1_lambda_threshold=1.0,
                         detect2_lambda_threshold=1.0,
                         detect3_lambda_threshold1=1.5,
                         detect3_lambda_threshold2=1.0,
                         ignore_diff_rate=0.01,
                         anomaly_valid_count_rate=0.001)
    direct = sorted(r["itemid"] for r in
                    detect_pipeline(spark, sf_dir, cfg).collect())
    assert got["events"] == direct

    # stage selection: detect1-only must reproduce the detect1 survivor set
    only1 = run_detection(spark, conf, detection_stages=(STAGE_DETECT1,))
    d1 = sorted(r["itemid"] for r in
                detect_pipeline(spark, sf_dir, cfg,
                                stages=(1,)).collect())
    assert only1["events"] == d1
    assert d1   # non-trivial run (later stages may legitimately empty it)
    assert set(got["events"]) <= set(d1)


def test_yaml_edit_resets_checkpoint_state(spark, sf_dir, tmp_path):
    """End-to-end: a YAML threshold edit makes done-partitions invisible
    (new suite_hash ⇒ full recompute), unchanged YAML resumes skip-done."""
    from pyanomalydetector_spark.plans.checkpoint import (
        CheckpointStore, run_with_checkpoint, suite_hash,
    )
    from pyanomalydetector_spark.sources.sequences import load_sequences
    seq = load_sequences(spark, sf_dir)
    suite = suite_from_config(load_config(DEFAULT))
    store = CheckpointStore(spark, str(tmp_path / "store"))
    run_with_checkpoint(seq, suite, store)
    assert store.done_partitions(suite_hash(suite), "static")

    y = tmp_path / "edit.yml"
    y.write_text("checks:\n"
                 "  - id: zscore_n_tok\n"
                 "    kind: zscore_threshold\n"
                 "    params: {value_col: n_tok, lambda: 3.5}\n")
    edited = suite_from_config(load_config(DEFAULT, str(y)))
    assert not store.done_partitions(suite_hash(edited), "static")


def test_run_detection_multiple_sources(spark, sf_dir, tmp_path):
    """Two data sources with different thresholds run independently and
    land in the reference-shaped anomalies map."""
    from pyanomalydetector_spark.plans.run import run_detection
    y = tmp_path / "multi.yml"
    y.write_text(
        "ignore_diff_rate: 0.01\n"
        "anomaly_valid_count_rate: 0.001\n"
        "data_sources:\n"
        "  loose:\n"
        f"    data_dir: \"{sf_dir}\"\n"
        "    detect1_lambda_threshold: 1.0\n"
        "    detect2_lambda_threshold: 1.0\n"
        "    detect3_lambda_threshold1: 1.5\n"
        "    detect3_lambda_threshold2: 1.0\n"
        "  strict:\n"
        f"    data_dir: \"{sf_dir}\"\n"
        "    detect1_lambda_threshold: 50.0\n")
    got = run_detection(spark, load_config(str(y)),
                        detection_stages=(1,))
    assert set(got) == {"loose", "strict"}
    assert got["strict"] == []          # λ=50 kills everything
    assert set(got["strict"]) <= set(got["loose"])
