"""Merge-on-read deletion vectors for the txnlog format: a selective
DELETE records (file, position) sidecars instead of rewriting files;
reads anti-apply them exactly; COW rewrites materialize them away. The
Delta DV / Iceberg positional-delete semantics re-derived from scratch
(reference parity slot: the reference delegates row-level deletes to
Iceberg, ``processing/bronze/bronze_compaction.py``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.sources.txnlog import (
    CommitConflict,
    TxnLogTable,
)


def _table(spark, path, n_files=3, rows=60):
    """rows ids 0..rows-1 range-clustered into n_files files (so per-file
    k stats are tight and stats pruning is observable)."""
    t = TxnLogTable(str(path), stat_cols=("k",))
    df = spark.range(0, rows).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("long").alias("v")
    )
    t.create_or_replace(
        df.repartitionByRange(n_files, "k").sortWithinPartitions("k")
    )
    return t


def test_mor_delete_equals_cow_delete_without_rewrites(spark, tmp_path):
    mor = _table(spark, tmp_path / "mor")
    cow = _table(spark, tmp_path / "cow")
    files_before = set(mor.snapshot_files())
    mor.delete_where_mor(spark, [("k", ">=", 10), ("k", "<", 15)])
    cow.delete_where(spark, [("k", ">=", 10), ("k", "<", 15)])
    assert sorted(r["k"] for r in mor.read(spark).collect()) == sorted(
        r["k"] for r in cow.read(spark).collect()
    )
    # The MOR table's DATA file set is untouched; the COW table rewrote.
    assert set(mor.snapshot_files()) == files_before
    assert set(cow.snapshot_files()) != files_before
    d = mor.detail()
    assert d["num_deleted_rows"] == 5
    assert d["num_rows"] == 55


@pytest.mark.slow
def test_dvs_are_cumulative_per_file(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.delete_where_mor(spark, [("k", "=", 3)])
    t.delete_where_mor(spark, [("k", "=", 4)])  # same file re-vectored
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert 3 not in got and 4 not in got and len(got) == 58
    # One assignment per file, pointing at the NEWEST vector.
    assert len(t._state()["dvs"]) == 1


def test_stats_prune_limits_position_scan_and_mor_read_is_exact(spark, tmp_path):
    t = _table(spark, tmp_path / "t", n_files=3, rows=60)
    # Only the file covering k<20 can match: the other two are never read.
    assert t.scan_file_count(where=[("k", "<", 5)]) == 1
    t.delete_where_mor(spark, [("k", "<", 5)])
    assert len(t._state()["dvs"]) == 1  # only the candidate file vectored
    got = t.read(spark, where=[("k", "<", 25)])
    assert sorted(r["k"] for r in got.collect()) == list(range(5, 25))


def test_time_travel_and_restore_roll_vectors_back(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    v0 = t.version()
    t.delete_where_mor(spark, [("k", "<", 10)])
    v1 = t.version()
    t.delete_where_mor(spark, [("k", ">=", 50)])
    assert t.read(spark, version=v0).count() == 60
    assert t.read(spark, version=v1).count() == 50
    assert t.read(spark).count() == 40
    t.restore(v1)  # file set identical; only the DV assignment rolls back
    assert t.read(spark).count() == 50
    t.restore(v0)
    assert t.read(spark).count() == 60


def test_optimize_materializes_vectors(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.delete_where_mor(spark, [("k", "<", 7)])
    v = t.optimize(spark, target_files=1)
    assert v == t.version()
    state = t._state()
    assert state["dvs"] == {} and len(state["active"]) == 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(7, 60))
    # Optimize on an already-single-file table WITH a vector still runs.
    t.delete_where_mor(spark, [("k", "=", 30)])
    assert t._state()["dvs"]
    t.optimize(spark, target_files=1)
    assert t._state()["dvs"] == {}
    assert t.read(spark).count() == 52


def test_cow_delete_and_merge_do_not_resurrect_vectored_rows(spark, tmp_path):
    t = _table(spark, tmp_path / "t", n_files=1)
    t.delete_where_mor(spark, [("k", "=", 10)])
    # COW delete rewrites the (only) file: must apply the DV while doing so.
    t.delete_where(spark, [("k", "=", 20)])
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert 10 not in got and 20 not in got and len(got) == 58
    assert t._state()["dvs"] == {}  # rewrite materialized the vector
    # Same through MERGE: upsert a row into a vectored file.
    t2 = _table(spark, tmp_path / "t2", n_files=1)
    t2.delete_where_mor(spark, [("k", "=", 5)])
    src = spark.createDataFrame([(6, 99)], "k long, v long")
    t2.merge_keep_latest(spark, src, keys=("k",), order_by=[F.col("v").desc()])
    got = {r["k"]: r["v"] for r in t2.read(spark).collect()}
    assert 5 not in got and got[6] == 99 and len(got) == 59


def test_table_changes_surface_dv_deletes_row_level(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    v0 = t.version()
    t.delete_where_mor(spark, [("k", "<", 3)])
    ch = t.table_changes(spark, v0, t.version())
    rows = sorted((r["_change_type"], r["k"]) for r in ch.collect())
    assert rows == [("delete", 0), ("delete", 1), ("delete", 2)]


def test_concurrent_rules_dv_vs_merge_and_compaction(spark, tmp_path):
    t = _table(spark, tmp_path / "t", n_files=2)
    rv = t.version()
    # A DV lands after a MERGE snapshotted: merge must conflict.
    t.delete_where_mor(spark, [("k", "=", 1)])
    with pytest.raises(CommitConflict):
        t.commit(
            adds=[], removes=[t.snapshot_files()[0]], operation="merge",
            read_version=rv,
        )
    # Compaction that read files pre-DV conflicts when one was re-vectored.
    rv2 = t.version()
    files = t.snapshot_files()
    t.delete_where_mor(spark, [("k", "=", 2)])
    with pytest.raises(CommitConflict):
        t.commit(
            adds=[], removes=files, operation="optimize", read_version=rv2
        )
    # ...but a compaction of files nobody re-vectored carries through: the
    # DV'd file keeps its vector, so rewriting OTHER files is safe.


def test_exactly_once_and_noop_delete(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    v = t.delete_where_mor(spark, [("k", "=", 7)], app_txn_id="del-7")
    again = t.delete_where_mor(spark, [("k", "=", 8)], app_txn_id="del-7")
    assert again == v  # duplicate delivery: no-op, 8 still present
    assert t.read(spark).count() == 59
    # A provably-empty delete commits nothing at all.
    v2 = t.delete_where_mor(spark, [("k", ">", 10_000)])
    assert v2 == t.version() == v


def test_checkpoint_roundtrip_preserves_vectors(spark, tmp_path):
    t = TxnLogTable(str(tmp_path / "t"), stat_cols=("k",), checkpoint_interval=2)
    df = spark.range(0, 30).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    t.create_or_replace(df.coalesce(1))
    t.delete_where_mor(spark, [("k", "<", 5)])
    t.append(df.filter(F.col("k") < 0))  # pushes a checkpoint boundary
    t.delete_where_mor(spark, [("k", "=", 29)])
    assert t._checkpoint_info() is not None
    # A fresh instance reconstructing from checkpoint + tail sees the DVs.
    t2 = TxnLogTable(str(tmp_path / "t"), stat_cols=("k",))
    assert sorted(r["k"] for r in t2.read(spark).collect()) == list(range(5, 29))
    t.expire_log()
    t3 = TxnLogTable(str(tmp_path / "t"), stat_cols=("k",))
    assert t3.read(spark).count() == 24


def test_clone_carries_vectors_and_vacuum_keeps_referenced(spark, tmp_path):
    src = _table(spark, tmp_path / "src")
    src.delete_where_mor(spark, [("k", "<", 10)])
    clone = src.clone_shallow(str(tmp_path / "dst"))
    assert clone.read(spark).count() == 50  # clone sees the vectored snapshot
    # Vacuum keeps every referenced DV dir; an unreferenced one sweeps.
    dv_root = tmp_path / "src" / "_dv"
    os.makedirs(dv_root / "deadbeef")
    with open(dv_root / "deadbeef" / "junk.parquet", "w") as f:
        f.write("")
    removed = src.vacuum(retention_seconds=0)
    assert os.path.join("_dv", "deadbeef") in removed
    assert src.read(spark).count() == 50  # referenced vectors survived
    assert clone.read(spark).count() == 50


def test_update_mor_single_commit_no_rewrites(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    files_before = set(t.snapshot_files())
    v = t.update_where_mor(
        spark, [("k", "<", 5)], {"v": F.col("v") + 100}
    )
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 60  # update, not delete+lost rows
    assert all(got[k] == k % 7 + 100 for k in range(5))
    assert all(got[k] == k % 7 for k in range(5, 60))
    # Old files untouched; exactly one new file (the updated images).
    assert files_before < set(t.snapshot_files())
    assert len(set(t.snapshot_files()) - files_before) == 1
    # Atomicity: the pre-update version still reads the old values.
    assert {r["k"]: r["v"] for r in t.read(spark, version=v - 1).collect()}[0] == 0
    # An update must never resurrect a previously deleted row.
    t.delete_where_mor(spark, [("k", "=", 30)])
    t.update_where_mor(spark, [("k", ">=", 30), ("k", "<", 32)], {"v": F.lit(7)})
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert 30 not in got and got[31] == 7
    with pytest.raises(ValueError):
        t.update_where_mor(spark, [("k", "=", 1)], {"nope": F.lit(1)})


@pytest.mark.slow
def test_merge_mor_vectors_matches_and_appends_winners(spark, tmp_path):
    mor = _table(spark, tmp_path / "mor")
    cow = _table(spark, tmp_path / "cow")
    src = spark.createDataFrame(
        [(3, 500), (58, 500), (1000, 500)], "k long, v long"
    )
    files_before = set(mor.snapshot_files())
    mor.merge_keep_latest_mor(spark, src, keys=("k",), order_by=[F.col("v").desc()])
    cow.merge_keep_latest(spark, src, keys=("k",), order_by=[F.col("v").desc()])
    assert sorted(map(tuple, mor.read(spark).collect())) == sorted(
        map(tuple, cow.read(spark).collect())
    )
    # MOR: every pre-merge file still active (matches vectored, not rewritten).
    assert files_before < set(mor.snapshot_files())
    assert mor.detail()["num_deleted_rows"] == 2  # k=3 and k=58 old images
    # COW rewrote the hit files out of its snapshot.
    assert not set(cow.snapshot_files()) >= files_before
    # Exactly-once replay.
    v = mor.version()
    assert (
        mor.merge_keep_latest_mor(
            spark, src, keys=("k",), order_by=[F.col("v").desc()], app_txn_id="m1"
        )
        > v
    )
    assert (
        mor.merge_keep_latest_mor(
            spark, src, keys=("k",), order_by=[F.col("v").desc()], app_txn_id="m1"
        )
        == mor.version()
    )
    assert mor.read(spark).count() == 61


@pytest.mark.slow
def test_merge_mor_then_optimize_converges_layout(spark, tmp_path):
    t = _table(spark, tmp_path / "t", n_files=3)
    for i in range(3):
        src = spark.createDataFrame([(10 * i, 900 + i)], "k long, v long")
        t.merge_keep_latest_mor(spark, src, keys=("k",), order_by=[F.col("v").desc()])
    assert t.detail()["num_dv_files"] >= 1
    t.optimize(spark, target_files=2, cluster_by=("k",))
    d = t.detail()
    assert d["num_dv_files"] == 0 and d["num_files"] == 2
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 60 and got[0] == 900 and got[10] == 901 and got[20] == 902


@pytest.mark.slow
def test_streaming_cdc_upserts_through_mor_merge(spark, tmp_path):
    """The streaming-upsert loop the MOR merge exists for: foreachBatch
    applies each micro-batch of change rows via merge_keep_latest_mor
    under an epoch txn id (redeliveries no-op), data files only accumulate
    — never rewrite — while the stream runs, and one OPTIMIZE converges
    the layout afterwards."""
    src = str(tmp_path / "src")
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    b0 = spark.createDataFrame([(3, 101), (7, 101)], "k long, v long")
    b1 = spark.createDataFrame([(3, 202), (40, 202)], "k long, v long")
    b0.coalesce(1).write.parquet(src + "/b0")
    b1.coalesce(1).write.parquet(src + "/b1")

    t = TxnLogTable(str(tmp_path / "t"), stat_cols=("k",))
    t.create_or_replace(base.repartitionByRange(2, "k"))
    files0 = set(t.snapshot_files())

    def apply_batch(bdf, bid):
        t.merge_keep_latest_mor(
            spark,
            bdf,
            keys=("k",),
            order_by=[F.col("v").desc()],
            app_txn_id=f"cdc-{bid}",
        )
        # At-least-once upstream: the redelivered batch must be a no-op.
        t.merge_keep_latest_mor(
            spark,
            bdf,
            keys=("k",),
            order_by=[F.col("v").desc()],
            app_txn_id=f"cdc-{bid}",
        )

    q = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 41  # 40 base + inserted k=40
    assert got[3] == 202 and got[7] == 101 and got[40] == 202 and got[0] == 0
    # The base files were never rewritten mid-stream — only appends + DVs.
    assert files0 <= set(t.snapshot_files())
    ops = [h["operation"] for h in t.history()]
    assert ops.count("merge_mor") == 2  # redeliveries did not commit
    t.optimize(spark, target_files=1, cluster_by=("k",))
    d = t.detail()
    assert d["num_dv_files"] == 0 and d["num_files"] == 1 and d["num_rows"] == 41


def test_review_fixes_schema_guard_noop_deletes_and_conflicts(spark, tmp_path):
    """Regression pins for the review findings: (1) a MOR merge cannot
    silently retype a column; (2) a delete matching only already-vectored
    positions publishes NO commit; (3) constraint-only commits are visible
    to concurrent key-resolving writers."""
    from telecom_dataengineering_pipeline_spark.sources.txnlog import (
        CommitConflict,
    )

    t = _table(spark, tmp_path / "t", n_files=1)
    # (2) re-deleting the same key is a version no-op.
    t.delete_where_mor(spark, [("k", "=", 5)])
    v = t.version()
    assert t.delete_where_mor(spark, [("k", "=", 5)]) == v
    assert t.version() == v
    # (1) schema evolution guard covers merge_mor: retyping v long→double
    # (a coercion the union would silently perform) must raise, exactly
    # like the COW merge path.
    bad = spark.createDataFrame([(1, 1.5)], "k long, v double")
    with pytest.raises(ValueError):
        t.merge_keep_latest_mor(spark, bad, keys=("k",), order_by=[F.col("v").desc()])
    # (3) a constraint added after a merge's snapshot conflicts the merge.
    rv = t.version()
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    with pytest.raises(CommitConflict):
        t.commit(adds=[], removes=[], operation="merge", read_version=rv)


def test_bloom_probe_abstains_on_type_mismatch(spark, tmp_path):
    """A float/bool probe against an int-built bloom must NOT prune (it
    would hash differently and 'prove' absence of present keys)."""
    from telecom_dataengineering_pipeline_spark.sources.txnlog import TxnLogTable

    t = TxnLogTable(str(tmp_path / "t"), stat_cols=("k",), bloom_cols=("k",))
    df = spark.range(0, 60).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    t.create_or_replace(df.repartition(3, "k"))
    # int probe: bloom prunes to the holding file; float probe: abstains
    # (all in-range files kept) but the residual filter still matches.
    assert t.scan_file_count(where=[("k", "=", 57)]) == 1
    assert t.scan_file_count(where=[("k", "=", 57.0)]) == 3
    assert t.read(spark, where=[("k", "=", 57.0)]).count() == 1
    with pytest.raises(ValueError):
        TxnLogTable(str(tmp_path / "t2"), bloom_cols=("k",), bloom_m_bits=4000)


def test_mor_read_plan_is_broadcast_anti_no_data_shuffle(spark, tmp_path):
    """The DV read is a direct parquet scan plus ONE broadcast anti-join
    on (file basename, row index): the data side must never hash-shuffle
    just to subtract deleted positions, and a table with no vectors must
    not pay the join at all."""
    import re

    t = _table(spark, tmp_path / "t")
    plain = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plain  # vector-free read: no anti-join inserted
    t.delete_where_mor(spark, [("k", "<", 5)])
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
    assert "row_index" in plan  # identity comes from _metadata, not a window


def test_mor_operations_release_their_cuts(spark, tmp_path):
    """Each merge-on-read operation cuts its matched scan once and frees
    the cut before it returns: nothing reads it after the commit, so the
    pinned-RDD set is what it was before the call."""
    sc = spark.sparkContext

    def pinned():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    t = _table(spark, tmp_path / "t")
    src = spark.createDataFrame([(3, 9), (100, 1)], "k long, v long")
    keys = spark.createDataFrame([(5,), (6,)], "k long")
    ops = {
        "delete_where_mor": lambda: t.delete_where_mor(spark, [("k", "<", 3)]),
        "update_where_mor": lambda: t.update_where_mor(
            spark, [("k", "=", 10)], {"v": F.lit(0)}
        ),
        "merge_keep_latest_mor": lambda: t.merge_keep_latest_mor(
            spark, src, keys=("k",), order_by=[F.col("v").desc()]
        ),
        "merge_delete_mor": lambda: t.merge_delete_mor(spark, keys, ["k"]),
    }
    for name, op in ops.items():
        before = pinned()
        op()
        assert pinned() - before == set(), f"{name} left its cut pinned"
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert set(got) == (set(range(3, 60)) - {5, 6}) | {100}
    assert got[3] == 9 and got[10] == 0 and got[100] == 1
