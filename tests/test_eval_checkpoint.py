"""Evaluation metrics + checkpoint/resume behavior."""

import json
import os

import pytest

from name_matching_spark.datagen import labeled_pairs, person_records
from name_matching_spark.operators.blocking import BlockingConfig
from name_matching_spark.operators.evaluation import pairwise_metrics
from name_matching_spark.operators.normalize import LinkageSchema
from name_matching_spark.operators.score_pairs import MatcherConfig
from name_matching_spark.plans.checkpoint import CheckpointedLinkage
from name_matching_spark.plans.linkage import dedup_table

SCHEMA = LinkageSchema(id_col="record_id")


def test_metrics_counts(spark):
    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "c", 0.8), ("b", "c", 0.2), ("c", "d", 0.9)],
        ["id1", "id2", "score"],
    )
    labeled = spark.createDataFrame(
        [("a", "b", "match"), ("a", "c", "non-match"), ("b", "c", "match"),
         ("c", "d", "match"), ("d", "e", "match")],
        ["id1", "id2", "true_label"],
    )
    m = pairwise_metrics(scored, labeled, match_threshold=0.75)
    # restricted to blocked pairs: (d,e) excluded
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (2, 1, 1, 0)
    assert m["precision"] == pytest.approx(2 / 3)
    assert m["recall"] == pytest.approx(2 / 3)

    m2 = pairwise_metrics(scored, labeled, match_threshold=0.75, restrict_to_blocked=False)
    assert m2["fn"] == 2  # (d,e) now counts as a miss


def test_f1_gate_on_synthetic_corpus(spark):
    """The BASELINE gate: pairwise F1 >= 0.99 on labeled pairs at shared
    blocking keys, default thresholds."""
    recs = person_records(n_entities=120, dup_rate=0.5, seed=21)
    df = spark.createDataFrame(recs.drop(columns=["entity_id"]))
    scored = dedup_table(df, SCHEMA, keep_non_match=True)
    labeled = spark.createDataFrame(labeled_pairs(recs))
    m = pairwise_metrics(scored, labeled)
    assert m["f1"] >= 0.99, m


def test_f1_gate_on_source_repo_table(spark):
    """The north-rule gate VERBATIM: pairwise F1 >= 0.99 on labeled pairs
    at shared blocking keys over the source-repo table shape
    (BASELINE.json input_hint: repo/path/commit/lang/content), via the
    SURVEY §7.0 field derivation."""
    from pyspark.sql import functions as F

    from name_matching_spark.datagen import source_files

    pdf = source_files(n_repos=150, files_per_repo=1, dup_rate=0.5, seed=11)
    df = spark.createDataFrame(pdf)
    person = df.select(
        F.concat_ws("|", "repo", "path").alias("record_id"),
        F.split_part(F.col("repo"), F.lit("/"), F.lit(1)).alias("first_name"),
        F.concat_ws(
            " ",
            F.regexp_extract(F.col("path"), r"([A-Za-z]+)_\d", 1),
            F.regexp_replace(
                F.split_part(F.col("repo"), F.lit("/"), F.lit(2)), "-", " "
            ),
        ).alias("middle_name_last_name"),
        F.col("lang").alias("province_name"),
        F.col("entity_id"),
    )
    schema = LinkageSchema(
        id_col="record_id", birthdate=None, geo_fields=["province_name"]
    )
    cfg = MatcherConfig(
        use_birthdate=False,
        geo_fields=["province_name"],
        additional_weights={"geography": 0.3},
    )
    scored = dedup_table(
        person.drop("entity_id"), schema, matcher=cfg, keep_non_match=True
    )
    labeled = spark.createDataFrame(
        labeled_pairs(person.select("record_id", "entity_id").toPandas())
    )
    m = pairwise_metrics(scored, labeled)
    assert m["f1"] >= 0.99, m


def test_checkpoint_resume(spark, tmp_path):
    recs = person_records(n_entities=50, dup_rate=0.5, seed=31)
    df = spark.createDataFrame(recs.drop(columns=["entity_id"]))
    out = str(tmp_path / "ckpt")

    runner = CheckpointedLinkage(out, num_ranges=4, schema=SCHEMA)
    executed = runner.run(df)
    assert sorted(executed) == [0, 1, 2, 3]

    # every range has a manifest with counters
    for i in range(4):
        with open(os.path.join(out, "_manifest", f"range_{i}.json")) as f:
            m = json.load(f)
        assert m["status"] == "complete"
        assert "rows_written" in m["counters"]

    # resume: nothing left to do
    assert runner.run(df) == []

    # simulate a crashed range: delete one manifest -> only that range reruns
    os.remove(os.path.join(out, "_manifest", "range_2.json"))
    assert runner.run(df) == [2]

    # checkpointed union == single-shot plan
    single = dedup_table(df, SCHEMA).select("id1", "id2", "score")
    chk = runner.results(spark).select("id1", "id2", "score")
    a = {(r["id1"], r["id2"], round(r["score"], 9)) for r in single.collect()}
    b = {(r["id1"], r["id2"], round(r["score"], 9)) for r in chk.collect()}
    assert a == b


def test_checkpoint_config_mismatch_refuses(spark, tmp_path):
    """Resume under a changed configuration must raise, not mix results."""
    from name_matching_spark.operators.score_pairs import MatcherConfig

    recs = person_records(n_entities=20, dup_rate=0.5, seed=41)
    df = spark.createDataFrame(recs.drop(columns=["entity_id"]))
    out = str(tmp_path / "ckpt_cfg")

    CheckpointedLinkage(out, num_ranges=2, schema=SCHEMA).run(df)

    changed = CheckpointedLinkage(
        out, num_ranges=2, schema=SCHEMA,
        matcher=MatcherConfig(match_threshold=0.9),
    )
    with pytest.raises(ValueError, match="different configuration"):
        changed.run(df)

    # unchanged config still resumes cleanly
    assert CheckpointedLinkage(out, num_ranges=2, schema=SCHEMA).run(df) == []


def test_checkpoint_resume_of_complete_dir_launches_no_job(spark, tmp_path):
    """A resume with every range complete reads the manifests and returns
    before building a plan: no normalize pass, no dictionary probe."""
    df = spark.createDataFrame(person_records(n_entities=20, seed=43).drop(columns=["entity_id"]))
    runner = CheckpointedLinkage(str(tmp_path / "ckpt_done"), num_ranges=2, schema=SCHEMA)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("ckpt-first-run", "first run")
        assert runner.run(df) == [0, 1]
        sc.setJobGroup("ckpt-resume", "resume over a complete dir")
        assert runner.run(df) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("ckpt-first-run")  # the count sees jobs
    assert tracker.getJobIdsForGroup("ckpt-resume") == []


@pytest.mark.parametrize("dict_encode", [True, False])
def test_checkpoint_run_unpersists_what_it_persisted(spark, tmp_path, monkeypatch, dict_encode):
    """run() persists the normalized frame once and releases that same
    frame, also when dictionary encoding replaces the work frame."""
    df = spark.createDataFrame(person_records(n_entities=20, seed=47).drop(columns=["entity_id"]))
    persisted = []
    persist = type(df).persist

    def recording_persist(self, *a, **kw):
        persisted.append(self)
        return persist(self, *a, **kw)

    monkeypatch.setattr(type(df), "persist", recording_persist)
    CheckpointedLinkage(
        str(tmp_path / "ckpt_persist"), num_ranges=2, schema=SCHEMA, dict_encode=dict_encode
    ).run(df)
    assert len(persisted) == 1
    level = persisted[0].storageLevel
    assert not (level.useMemory or level.useDisk), level


def test_threshold_sweep_matches_single_threshold_counts(spark):
    """The sweep at one threshold equals confusion_counts at that threshold;
    ppm metrics are the exact integer forms of P/R/F1."""
    from name_matching_spark.operators.evaluation import (
        confusion_counts,
        threshold_sweep,
    )

    rows = [
        (0.9, "match"), (0.8, "match"), (0.6, "non-match"),
        (0.5, "match"), (0.4, "non-match"), (0.1, "match"),
    ]
    df = spark.createDataFrame(rows, "score double, true_label string")
    sweep = {
        r["threshold"]: r
        for r in threshold_sweep(df, [0.3, 0.5, 0.7]).collect()
    }
    assert set(sweep) == {0.3, 0.5, 0.7}
    for t in (0.3, 0.5, 0.7):
        single = confusion_counts(df, match_threshold=t).collect()[0]
        row = sweep[t]
        assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (
            single["tp"], single["fp"], single["fn"], single["tn"]
        )
        assert row["precision_ppm"] == row["tp"] * 1_000_000 // max(row["tp"] + row["fp"], 1)
        assert row["recall_ppm"] == row["tp"] * 1_000_000 // max(row["tp"] + row["fn"], 1)
        assert row["f1_ppm"] == 2 * row["tp"] * 1_000_000 // max(2 * row["tp"] + row["fp"] + row["fn"], 1)
    # boundary row (score == threshold) is predicted-positive: at 0.5 the
    # 0.5/match row is a TP
    assert sweep[0.5]["tp"] == 3 and sweep[0.5]["fn"] == 1


def test_checkpointed_dict_encode_matches_direct(spark, tmp_path):
    """Checkpointed ranges with dictionary-encoded scoring produce the
    exact same written results as the direct payload path, and resume
    works across the knob (it is excluded from the config fingerprint)."""
    df = spark.createDataFrame(person_records(n_entities=30, seed=6).drop(columns=["entity_id"]))
    out_a = str(tmp_path / "direct")
    out_b = str(tmp_path / "encoded")
    CheckpointedLinkage(out_a, num_ranges=3, schema=SCHEMA, dict_encode=False).run(df)
    CheckpointedLinkage(out_b, num_ranges=3, schema=SCHEMA, dict_encode=True).run(df)
    a = {
        (r["id1"], r["id2"]): (r["score"], r["classification"])
        for r in spark.read.parquet(out_a + "/matches").collect()
    }
    b = {
        (r["id1"], r["id2"]): (r["score"], r["classification"])
        for r in spark.read.parquet(out_b + "/matches").collect()
    }
    assert a == b and len(a) > 0
    # knob change does NOT invalidate manifests: nothing reruns
    assert CheckpointedLinkage(out_b, num_ranges=3, schema=SCHEMA, dict_encode=False).run(df) == []


def test_roc_auc_single_class_yields_null_not_error(spark):
    """AUC over a single-class labeled set (all positive / all negative /
    empty) is undefined: auc_ppm must come back NULL, never DIVIDE_BY_ZERO
    (ANSI mode)."""
    from name_matching_spark.operators.evaluation import roc_auc

    all_pos = spark.createDataFrame(
        [(10, True), (20, True)], "score_q30 long, is_match boolean"
    )
    row = roc_auc(all_pos, "score_q30").collect()[0]
    assert row["n_pos"] == 2 and row["n_neg"] == 0 and row["auc_ppm"] is None

    empty = all_pos.limit(0)
    row = roc_auc(empty, "score_q30").collect()[0]
    assert row["auc_ppm"] is None


def test_cohens_kappa_empty_frame_yields_zero_not_error(spark):
    """An empty review batch produces defined zeros (threshold_sweep's
    greatest(...,1) idiom), not a runtime error."""
    from name_matching_spark.operators.evaluation import cohens_kappa

    empty = spark.createDataFrame([], "pred string, truth string")
    row = cohens_kappa(empty, "pred", "truth").collect()[0]
    assert row["n_pairs"] == 0 and row["po_ppm"] == 0 and row["pe_ppm"] == 0


def test_adjusted_rand_index_matches_reference_values(spark):
    """ARI vs hand-checkable cases: identical clusterings = 1, a known
    sklearn-documented example, and the trivial-denominator convention."""
    from name_matching_spark.operators.evaluation import adjusted_rand_index

    def ari_of(pred, true):
        p = spark.createDataFrame(
            [(i, c) for i, c in enumerate(pred)], "record_id long, cluster_id long"
        )
        t = spark.createDataFrame(
            [(i, c) for i, c in enumerate(true)], "record_id long, class_id long"
        )
        return adjusted_rand_index(p, t).collect()[0]

    # identical partitions -> 1.0
    row = ari_of([0, 0, 1, 1, 2], [5, 5, 6, 6, 7])
    assert row.ari == 1.0 and row.n_records == 5

    # sklearn docs example: ARI([0,0,1,1],[0,0,1,2]) = 0.5714285714...
    row = ari_of([0, 0, 1, 1], [0, 0, 1, 2])
    assert abs(row.ari - 0.5714285714285714) < 1e-12
    assert (row.total_pairs, row.sum_cell_pairs) == (6, 1)

    # brute-force cross-check on a random pairing
    import numpy as np

    rng = np.random.default_rng(5)
    pred = rng.integers(0, 4, 30).tolist()
    true = rng.integers(0, 3, 30).tolist()
    n = 30
    a = b = c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            sp, st = pred[i] == pred[j], true[i] == true[j]
            a += sp and st
            b += sp and not st
            c += (not sp) and st
            d += (not sp) and (not st)
    expect = 2 * (a * d - b * c) / ((a + b) * (b + d) + (a + c) * (c + d))
    row = ari_of(pred, true)
    assert abs(row.ari - expect) < 1e-12

    # all-singletons on both sides: zero denominator -> 1.0 by convention
    row = ari_of(list(range(6)), list(range(6)))
    assert row.ari == 1.0
