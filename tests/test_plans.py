"""Physical-plan shape regression tests (SURVEY §4.2 checklist).

PLANS.md documents the plans; these assertions keep the load-bearing
properties from silently regressing: no cartesian products anywhere,
column-pruned parquet scans, small dims broadcast."""
from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from sparkharvester.registry import all_queries


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", [
    "j1_left_outer", "dedup_lsh_verified", "dedup_phash_hamming",
    "img_curate", "img_hamming_knn", "crawl_priority_order",
    "dedup_minhash_lsh", "rel_nation_revenue", "curate_shards",
    "crawl_robots_gate", "text_repetition", "curate_decontaminate",
    "curate_sample", "crawl_three_rounds", "rel_asof_join",
    "rel_range_join",
])
def test_no_cartesian_product(spark, sf_dir, name):
    df = all_queries()[name].build(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_img_curate_scan_pruned(spark, sf_dir):
    """The curation gates read only (doc_id, text) — a scan that pulls
    all document columns for a 2-source-column query is wrong."""
    plan = _plan(all_queries()["img_curate"].build(spark, sf_dir))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans
    for line in scans:
        assert "lang" not in line and "n_chars" not in line, line


def test_rel_join_broadcasts_small_dim(spark, sf_dir):
    """TPC-H-ish rollup: the nation/region dims must broadcast, not
    shuffle (SURVEY §4.2: broadcast small sides)."""
    plan = _plan(all_queries()["rel_nation_revenue"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_robots_gate_broadcasts_robots_table(spark, sf_dir):
    """The robots membership join must broadcast the tiny robots side —
    candidates never shuffle (frontier.py runtime shape)."""
    plan = _plan(all_queries()["crawl_robots_gate"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-gram side is small by nature (benchmark suites) and must
    broadcast — the train side never shuffles before the join."""
    plan = _plan(all_queries()["curate_decontaminate"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_cdc_passages_single_scan(spark, sf_dir):
    """First-occurrence selection is ONE window over chunk (mirroring
    the oracle's row_number), not the round-5 groupBy + join-back pair
    that shuffled the chunk table twice behind a persisted subplan —
    so the plan must show a single parquet scan, a single Arrow
    chunker eval, a Window, and no join."""
    plan = _plan(all_queries()["dedup_cdc_passages"].build(spark, sf_dir))
    scans = [l for l in plan.splitlines()
             if l.strip().startswith("(") and "Scan parquet" in l]
    assert len(scans) <= 1, scans
    evals = [l for l in plan.splitlines()
             if l.strip().startswith("(") and "ArrowEvalPython" in l]
    assert len(evals) == 1, evals
    assert "Window" in plan
    assert "Join" not in plan


def test_asof_join_is_one_shuffle_no_join(spark, sf_dir):
    """The distributed as-of device is union-tag + per-key window: the
    plan must contain exactly one hash exchange (on user_id) and a
    Window — and NO join operator of any kind."""
    plan = _plan(all_queries()["rel_asof_join"].build(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" in plan
    exchanges = [l for l in plan.splitlines()
                 if "hashpartitioning(" in l]
    assert len(exchanges) == 1, exchanges


def test_range_join_is_hash_join_on_buckets(spark, sf_dir):
    """The bucketized range join must execute as a HASH join on the
    (user, bucket) equi pair with the time bounds as the join filter —
    a plain inequality join would fall back to
    BroadcastNestedLoopJoin, the plan that never finishes at scale."""
    plan = _plan(all_queries()["rel_range_join"].build(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
            or "SortMergeJoin" in plan)


def test_quality_buckets_no_rescan_and_no_lang_window(spark, sf_dir,
                                                      monkeypatch):
    """Above the adaptive threshold: ranks and language sizes come from
    the grouped-prefix localCheckpoint and the driver's per-language
    totals (no second parquet scan of documents, no join) and ranking
    never uses a per-language Window (the dominant language would land
    in one task).  Below it: the oracle's own two-window shape over a
    single scan, no join."""
    import sparkharvester.seq as seq

    monkeypatch.setattr(seq, "SEQ_WINDOW_THRESHOLD", 0)   # force scale path
    plan = _plan(all_queries()["text_quality_buckets"].build(spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    assert "Join" not in plan               # sizes are driver-side totals
    monkeypatch.undo()
    plan = _plan(all_queries()["text_quality_buckets"].build(spark, sf_dir))
    assert "Window" in plan                 # adaptive small path
    assert "Join" not in plan               # rank+count ride one shuffle


def test_row_count_reads_footers_without_a_job(spark, sf_dir):
    """session.row_count, the size bound the numbering callers pass as
    known_count, equals Spark's count() for every table and starts no
    Spark job."""
    import glob
    import os

    from sparkharvester.session import load, row_count

    sc = spark.sparkContext
    for path in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        group = f"row_count_{name}"
        sc.setJobGroup(group, group)
        try:
            n = row_count(sf_dir, name)
            assert sc.statusTracker().getJobIdsForGroup(group) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert n == load(spark, sf_dir, name).count(), name
