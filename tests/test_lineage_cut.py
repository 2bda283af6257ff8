"""The cluster-scale lineage-cut escape hatch (VERDICT r12 item 3 / r13
brief item 6): every cut site routes through lineage.lineage_cut, and
``spark.graft.lineage_cut`` swaps the mechanism without touching call
sites. Default stays localCheckpoint (local-mode cheapest); `checkpoint`
is the reliable path a 100 TB cluster needs (executor loss survivable).
``lineage.release`` frees a superseded loop round under either mode, and
``lineage.iterate`` runs every round-cutting loop on one cadence."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest

from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.lineage import (
    EAGER_EVERY,
    iterate,
    lineage_cut,
    lineage_cut_eager,
)

MODE_CONF = "spark.graft.lineage_cut"
DIR_CONF = "spark.graft.checkpoint_dir"


@pytest.fixture
def df(spark):
    return spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )


def _with_mode(spark, mode):
    prev = spark.conf.get(MODE_CONF, None)
    spark.conf.set(MODE_CONF, mode)
    return prev


def _restore(spark, prev):
    if prev is None:
        spark.conf.unset(MODE_CONF)
    else:
        spark.conf.set(MODE_CONF, prev)


def test_default_mode_is_local_checkpoint(spark, df):
    cut = df.transform(lineage_cut)
    cut.count()
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # lineage truncated
    assert sorted(r["id"] for r in cut.collect()) == list(range(100))


def test_checkpoint_mode_is_reliable_and_equal(spark, df):
    prev = _with_mode(spark, "checkpoint")
    try:
        cut = df.transform(lineage_cut_eager)
        # reliable checkpoint: a checkpoint dir exists and the plan is a
        # truncated RDD scan backed by files, not executor-local blocks
        assert spark.sparkContext.getCheckpointDir() is not None
        plan = cut._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        assert sorted(r["id"] for r in cut.collect()) == list(range(100))
    finally:
        _restore(spark, prev)


@pytest.mark.parametrize("mode", ["nonsense", "persist"])
def test_invalid_mode_rejected(spark, df, mode):
    prev = _with_mode(spark, mode)
    try:
        with pytest.raises(ValueError, match="spark.graft.lineage_cut"):
            df.transform(lineage_cut)
    finally:
        _restore(spark, prev)


def test_operator_respects_checkpoint_mode(spark):
    """End-to-end through a real cut site: the market-basket operator's
    internal cut must follow the session conf (i.e. the call sites really
    route through lineage_cut, not a hard-coded localCheckpoint)."""
    from telecom_dataengineering_pipeline_spark.operators.market import (
        item_item_cosine_topk,
    )

    rows = [(u, i) for u in range(30) for i in range(u % 5, u % 5 + 4)]
    df = spark.createDataFrame(rows, "u long, item long")
    base = item_item_cosine_topk(df, "u", "item", k=3, min_count=2).collect()
    prev = _with_mode(spark, "checkpoint")
    try:
        rel = item_item_cosine_topk(df, "u", "item", k=3, min_count=2)
        got = rel.collect()
    finally:
        _restore(spark, prev)
    assert sorted(map(tuple, got)) == sorted(map(tuple, base))


def test_checkpoint_mode_refuses_node_local_dir_off_local_master(
    spark, df, monkeypatch, tmp_path
):
    """On a non-local master a reliable checkpoint needs storage every node
    shares: with ``spark.graft.checkpoint_dir`` unset the cut must raise,
    never fall back to the driver's local tmp."""
    assert spark.conf.get(DIR_CONF, None) is None
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    prev = _with_mode(spark, "checkpoint")
    try:
        with pytest.raises(ValueError, match=DIR_CONF):
            df.transform(lineage_cut)
        spark.conf.set(DIR_CONF, str(tmp_path))
        df.transform(lineage_cut)  # an explicit dir is accepted
    finally:
        spark.conf.unset(DIR_CONF)
        _restore(spark, prev)


def _round_artifacts(spark, mode) -> set:
    """What a cut leaves behind: pinned RDD ids (localCheckpoint) or
    ``rdd-*`` dirs under the checkpoint dir (checkpoint)."""
    sc = spark.sparkContext
    if mode == "localCheckpoint":
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    d = urlparse(sc.getCheckpointDir()).path
    return {n for n in os.listdir(d) if n.startswith("rdd-")} if os.path.isdir(d) else set()


@pytest.mark.parametrize("mode", ["localCheckpoint", "checkpoint"])
def test_connected_groups_releases_superseded_rounds(spark, mode):
    """A 64-link chain takes ~7 star rounds, each cut eagerly. Every
    superseded round is released, so what stays behind is the returned
    relation's own cuts — a constant, not one per round."""
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        connected_dup_groups,
    )

    prev = _with_mode(spark, mode)
    try:
        spark.range(1).transform(lineage_cut)  # sets the checkpoint dir
        before = _round_artifacts(spark, mode)
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], "doc1 long, doc2 long"
        )
        rows = connected_dup_groups(chain).collect()
        left = _round_artifacts(spark, mode) - before
    finally:
        _restore(spark, prev)
    assert len(rows) == 65 and {r["group_id"] for r in rows} == {0}
    assert len(left) <= 2, f"{mode}: superseded rounds left behind: {left}"


@pytest.mark.parametrize("mode", ["localCheckpoint", "checkpoint"])
def test_iterate_cadence_and_release(spark, mode):
    """Lazy cuts, an eager cut every EAGER_EVERY rounds that releases every
    earlier cut of the loop, so at most EAGER_EVERY + 1 rounds are ever
    pinned or on disk, and 2 (the last eager round and the lazy one after
    it) once 2·EAGER_EVERY + 1 rounds are done. With ``until`` every round
    is cut eagerly, the loop stops at the first true probe, and only the
    last round stays: a cut ``start`` is released too."""
    prev = _with_mode(spark, mode)
    try:
        spark.range(1).transform(lineage_cut)  # sets the checkpoint dir
        before = _round_artifacts(spark, mode)
        held = []

        def inc(df):
            held.append(len(_round_artifacts(spark, mode) - before))
            return df.select((F.col("id") + 1).alias("id"))

        rounds = 2 * EAGER_EVERY + 1
        out = iterate(spark.range(8), inc, rounds)
        assert sorted(r["id"] for r in out.collect()) == list(range(rounds, rounds + 8))
        assert len(held) == rounds
        assert max(held) <= EAGER_EVERY, held  # + the round being built
        assert len(_round_artifacts(spark, mode) - before) <= 2

        before = _round_artifacts(spark, mode)
        probes = []

        def reached(prev_state, state):
            probes.append(state.agg(F.min("id")).first()[0])
            return probes[-1] >= 5

        out = iterate(spark.range(8).transform(lineage_cut), inc, rounds, reached)
        assert sorted(r["id"] for r in out.collect()) == list(range(5, 13))
        assert probes == [1, 2, 3, 4, 5]
        left = _round_artifacts(spark, mode) - before
    finally:
        _restore(spark, prev)
    assert len(left) <= 1, f"{mode}: probed rounds or the cut start left behind: {left}"
