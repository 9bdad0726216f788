"""Reliable-checkpoint mode (functions/plan_tools.stage_checkpoint):
every lineage-truncation site in the engine routes through one helper
that defaults to localCheckpoint (executor-local, fast) and switches to
fault-tolerant ``df.checkpoint()`` when the session opts in with
``spark.graft.checkpoint.reliable=true`` + ``sc.setCheckpointDir``.
One test per iterative loop family proves the reliable path produces
identical results AND actually writes to the checkpoint directory."""

from __future__ import annotations

import contextlib
import os
import random

import pytest
from pyspark.sql import functions as F


@contextlib.contextmanager
def reliable(spark, tmp_path):
    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    sc.setCheckpointDir(ckdir)
    try:
        yield ckdir
    finally:
        spark.conf.set("spark.graft.checkpoint.reliable", "false")


def _tree_files(root):
    return [
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
    ]


def test_reliable_requires_checkpoint_dir(spark, monkeypatch):
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint

    # a sibling test may already have set a dir on the shared context;
    # shadow the probe on THIS instance so the RuntimeError contract is
    # asserted deterministically under any suite ordering (the patch
    # only affects the unset-dir branch stage_checkpoint reads)
    monkeypatch.setattr(
        spark.sparkContext, "getCheckpointDir", lambda: None
    )
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try:
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            stage_checkpoint(spark.range(5))
    finally:
        spark.conf.set("spark.graft.checkpoint.reliable", "false")


def test_rank_family_reliable_identical(spark, tmp_path):
    from the_framework_for_clustering_time_series_data_spark.operators.rank import with_global_ntiles

    rng = random.Random(3)
    df = spark.createDataFrame(
        [(i, rng.random() * 100) for i in range(1500)], "id long, v double"
    )
    spec = [("t", ["v", "id"], None)]
    base = {r["id"]: r["t"] for r in with_global_ntiles(df, 7, spec).collect()}
    with reliable(spark, tmp_path) as ck:
        rel = {r["id"]: r["t"] for r in with_global_ntiles(df, 7, spec).collect()}
        assert _tree_files(ck), "reliable mode wrote nothing to the checkpoint dir"
    assert base == rel


def test_dedup_star_loop_reliable_identical(spark, tmp_path):
    # force the distributed star-contraction loop (not the driver
    # union-find fast path) with a tiny small_graph_threshold
    from the_framework_for_clustering_time_series_data_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 120, 2)]  # 60 two-node components
        + [(j, j + 1) for j in range(200, 230)],  # one 31-node chain
        "id_a long, id_b long",
    )
    base = {
        r["node"]: r["component"]
        for r in connected_components(edges, small_graph_threshold=1).collect()
    }
    with reliable(spark, tmp_path) as ck:
        rel = {
            r["node"]: r["component"]
            for r in connected_components(edges, small_graph_threshold=1).collect()
        }
        assert _tree_files(ck)
    assert base == rel


def test_bpe_loop_reliable_identical(spark, tmp_path):
    from the_framework_for_clustering_time_series_data_spark.operators.text import bpe_learn_merges

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3) for i in range(40)],
        "doc_id long, text string",
    )
    base = [tuple(r) for r in bpe_learn_merges(docs, n_merges=4).collect()]
    with reliable(spark, tmp_path) as ck:
        rel = [tuple(r) for r in bpe_learn_merges(docs, n_merges=4).collect()]
        assert _tree_files(ck)
    assert base == rel


def test_pam_loop_reliable_identical(spark, tmp_path):
    # the cluster-family loop (PAM assignment/update iterations)
    import random

    from the_framework_for_clustering_time_series_data_spark.operators.cluster import kmedoids

    rng = random.Random(5)
    pts = spark.createDataFrame(
        [
            (i, rng.gauss(cx, 0.4), rng.gauss(cy, 0.4))
            for i, (cx, cy) in enumerate(
                [(0, 0)] * 40 + [(5, 5)] * 40 + [(0, 5)] * 40
            )
        ],
        "series_id long, x double, y double",
    )
    base = sorted(map(tuple, kmedoids(pts, k=3, max_iter=4).collect()))
    with reliable(spark, tmp_path) as ck:
        rel = sorted(map(tuple, kmedoids(pts, k=3, max_iter=4).collect()))
        assert _tree_files(ck)
    assert base == rel


def test_r12_sites_reliable_identical(spark, tmp_path):
    """The round-12 checkpoint sites (SBD pair frame + SAX words +
    z-scored frame; capped shingle postings; the md5-Lloyd kernel's
    per-round centroid tables, keyed in c4b and per split in c6b) must
    produce identical values under the fault-tolerant
    ``df.checkpoint()`` path — the 100 TB posture for unbounded frames
    where executor-local blocks are not acceptable."""
    from tests.conftest import SF_ORACLE
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES

    spark.catalog.clearCache()
    for name, key in (
        ("ts_sbd_topk", lambda r: (r["series_id"], r["rank"])),
        ("dedup_ngram_jaccard_capped", None),
        ("c4b_selection_md5lloyd", None),
        ("c6b_bisecting_md5lloyd", None),
    ):
        df = QUERIES[name](spark, SF_ORACLE)
        base = sorted(map(tuple, df.collect()))
        with reliable(spark, tmp_path) as ck:
            rel = sorted(map(tuple, QUERIES[name](spark, SF_ORACLE).collect()))
            assert _tree_files(ck), f"{name}: reliable mode wrote no checkpoint"
        assert base == rel, f"{name}: reliable-mode values differ"


def test_checkpoint_disabled_seam_identical_values(spark, tmp_path):
    """``spark.graft.checkpoint.disabled=true`` (the plan-inspection
    seam) must be a pure pass-through: same values, full un-truncated
    lineage (no `Scan ExistingRDD` scar in the plan)."""
    from tests.conftest import SF_ORACLE
    from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import (
        formatted_plan,
    )
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES

    spark.catalog.clearCache()
    base = sorted(map(tuple, QUERIES["ts_sbd_topk"](spark, SF_ORACLE).collect()))
    spark.conf.set("spark.graft.checkpoint.disabled", "true")
    try:
        df = QUERIES["ts_sbd_topk"](spark, SF_ORACLE)
        # the pair kernel (hidden behind `Scan ExistingRDD` in the
        # production plan) must be visible again — that is the seam's
        # whole purpose. (`Scan ExistingRDD` itself still appears for
        # the parallelized lags table, which is not a checkpoint.)
        plan = formatted_plan(df)
        assert "t_shift" in plan and (
            "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        )
        nock = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.unset("spark.graft.checkpoint.disabled")
    assert base == nock


def test_release_unpersists_checkpoint_blocks(spark):
    """clearCache() and gc.collect() leave localCheckpoint blocks
    registered; runstats.release is the step that frees them."""
    import gc

    from tests.conftest import SF_SMALL
    from the_framework_for_clustering_time_series_data_spark.functions.runstats import noop_write, release
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES

    release(spark)  # start from a session no earlier test left blocks in
    # dedup_minhash_lsh stages two eager checkpoints
    noop_write(QUERIES["dedup_minhash_lsh"](spark, SF_SMALL))
    spark.catalog.clearCache()
    gc.collect()
    left = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert left >= 1
    assert release(spark) == left
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
