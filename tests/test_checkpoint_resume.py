"""North-rule resumability: kill between stages → rerun resumes
idempotently from the last complete checkpoint, with per-partition lineage
rows recorded."""

import shutil

import pytest
from pyspark.sql import functions as F

from kg_microbe_spark.plans.checkpoint import CheckpointManager
from kg_microbe_spark.plans.pipeline import run_pipeline
from kg_microbe_spark.sources import synthetic

N = 120


def test_stage_idempotent_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    cm = CheckpointManager(spark, root, run_id="r1")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(10).withColumn("v", F.col("id") * 2)

    a = cm.run_stage("stage_a", compute)
    assert a.count() == 10 and calls["n"] == 1
    # rerun: must read, not recompute
    b = cm.run_stage("stage_a", compute)
    assert b.count() == 10 and calls["n"] == 1

    lineage = cm.lineage().collect()
    assert {r.stage for r in lineage} == {"stage_a"}
    assert sum(r.row_count for r in lineage) == 10
    assert all(r.run_id == "r1" for r in lineage)


def test_lineage_partitions_are_write_tasks(spark, tmp_path):
    """One lineage row per write task: partition_id is the task's part
    number and row_count its rows, read from the parquet footers."""
    cm = CheckpointManager(spark, str(tmp_path / "ckparts"), run_id="r1")
    cm.run_stage("four", lambda: spark.range(0, 100, numPartitions=4))
    rows = sorted((r.partition_id, r.row_count) for r in cm.lineage().collect())
    assert rows == [(0, 25), (1, 25), (2, 25), (3, 25)]


def test_pipeline_lineage_counts_match_stages(spark, tmp_path):
    """Each stage's lineage rows sum to the rows its checkpoint holds."""
    pages = synthetic.pages_df(spark, 40, num_partitions=2)
    cm = CheckpointManager(spark, str(tmp_path / "cklin"), run_id="r1")
    run_pipeline(spark, pages, synthetic.lexicon_df(spark), checkpoint=cm).triples.count()
    per_stage = {}
    for r in cm.lineage().collect():
        per_stage.setdefault(r.stage, []).append(r)
    assert set(per_stage) == {"s1_extract", "s3_mentions", "s5_entities", "s6_edges", "s7_edges_merged", "s7_nodes_merged"}
    for stage, rows in per_stage.items():
        assert len({r.partition_id for r in rows}) == len(rows)
        assert sum(r.row_count for r in rows) == cm.read(stage).count(), stage


def test_stale_checkpoint_invalidated_by_fingerprint(spark, tmp_path):
    """A checkpoint published under one input fingerprint must NOT satisfy
    a resume under a different one (input/config/code changed) — round-1
    advice: _SUCCESS alone silently served stale data."""
    root = str(tmp_path / "ckfp")
    cm = CheckpointManager(spark, root, run_id="r1")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(5)

    cm.run_stage("s", compute, input_fingerprint="fp-v1")
    assert calls["n"] == 1
    # same fingerprint → read
    cm.run_stage("s", compute, input_fingerprint="fp-v1")
    assert calls["n"] == 1
    # changed fingerprint → recompute (and re-record)
    cm.run_stage("s", compute, input_fingerprint="fp-v2")
    assert calls["n"] == 2
    cm.run_stage("s", compute, input_fingerprint="fp-v2")
    assert calls["n"] == 2
    # no-fingerprint callers keep the marker-only contract
    cm.run_stage("s", compute)
    assert calls["n"] == 2


def test_pipeline_resume_recomputes_on_tau_change(spark, tmp_path):
    """run_pipeline folds tau/stopwords/version into the stage fingerprint:
    rerunning with a different tau must not read tau-stale stages."""
    pages = synthetic.pages_df(spark, 40, num_partitions=2)
    lexicon = synthetic.lexicon_df(spark)
    root = str(tmp_path / "cktau")
    run_pipeline(spark, pages, lexicon, tau=0.0, checkpoint=CheckpointManager(spark, root, run_id="a")).triples.count()
    cm = CheckpointManager(spark, root, run_id="b")
    # stages exist with the tau=0 fingerprint...
    assert cm.is_complete("s1_extract")
    # ...but a tau=3.5 run must not treat the scored/edge stages as complete
    from kg_microbe_spark.plans.pipeline import PIPELINE_VERSION

    fp35 = f"v{PIPELINE_VERSION}|tau=3.5|stop={','.join(sorted(synthetic.STOPWORDS))}|in="
    assert not cm.is_complete("s6_edges", fp35)


def test_pipeline_kill_and_resume_same_output(spark, tmp_path):
    pages = synthetic.pages_df(spark, N, num_partitions=4)
    lexicon = synthetic.lexicon_df(spark)

    # full run without checkpoints = ground truth
    full = run_pipeline(spark, pages, lexicon)
    want = {(r.subject, r.predicate, r.object) for r in full.triples.collect()}

    # run 1 with checkpoints, then simulate a crash by deleting LATER stages
    root = str(tmp_path / "ck2")
    cm1 = CheckpointManager(spark, root, run_id="run1")
    res1 = run_pipeline(spark, pages, lexicon, checkpoint=cm1)
    res1.triples.count()  # materialize all stages
    for stage in ("s6_edges", "s7_edges_merged", "s7_nodes_merged"):
        shutil.rmtree(cm1.stage_path(stage), ignore_errors=True)

    # run 2 resumes: s1/s3/s5 read from checkpoint, later stages recompute
    cm2 = CheckpointManager(spark, root, run_id="run2")
    assert cm2.is_complete("s1_extract") and cm2.is_complete("s5_entities")
    assert not cm2.is_complete("s7_edges_merged")
    res2 = run_pipeline(spark, pages, lexicon, checkpoint=cm2)
    got = {(r.subject, r.predicate, r.object) for r in res2.triples.collect()}
    assert got == want

    # running a third time over a complete checkpoint set changes nothing
    cm3 = CheckpointManager(spark, root, run_id="run3")
    res3 = run_pipeline(spark, pages, lexicon, checkpoint=cm3)
    got3 = {(r.subject, r.predicate, r.object) for r in res3.triples.collect()}
    assert got3 == want
