"""S7 table-format sink contract: the parquet implementation end-to-end,
and the exact call sequence a Delta/Iceberg implementation must honor."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.sources.table_format import ParquetDirSink, TableSink


def test_parquet_sink_create_merge_read(spark, tmp_path):
    table = str(tmp_path / "orders_t")
    sink = ParquetDirSink(partition_by=("bucket",))
    base = spark.createDataFrame(
        [(1, "a", 1, 10), (2, "b", 1, 20), (3, "c", 2, 30)],
        "id long, payload string, version int, bucket int",
    )
    sink.create_or_replace(base, table)
    assert sorted(r["id"] for r in sink.read(spark, table).collect()) == [1, 2, 3]

    updates = spark.createDataFrame(
        [(2, "b2", 2, 1), (4, "d", 1, 2)],
        "id long, payload string, version int, bucket int",
    )
    sink.merge_keep_latest(
        spark, table, updates, keys=["id"], order_by=[F.col("version").desc()]
    )
    got = {r["id"]: r["payload"] for r in sink.read(spark, table).collect()}
    # matched key updated to the winning version, unmatched inserted
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}
    # partitioned layout survives the merge rewrite
    assert any(d.startswith("bucket=") for d in os.listdir(table))
    # no staging/retired residue (the swap completed cleanly)
    assert not os.path.exists(table + "__staging")
    assert not os.path.exists(table + "__retired")


def test_parquet_sink_merge_rejects_misaligned_source(spark, tmp_path):
    """A source missing a table column, or carrying one the table lacks,
    raises before any rewrite, and the table keeps its rows and columns."""
    table = str(tmp_path / "orders_t")
    sink = ParquetDirSink(partition_by=("bucket",))
    sink.create_or_replace(
        spark.createDataFrame([(1, "a", 1, 10), (2, "b", 1, 20)], "id long, payload string, version int, bucket int"),
        table,
    )

    def snapshot():
        df = spark.read.parquet(table)
        return sorted(df.columns), sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    before = snapshot()
    for ddl, row in (
        ("id long, version int, bucket int", (2, 2, 20)),
        ("id long, payload string, version int, bucket int, note string", (2, "b2", 2, 20, "x")),
    ):
        src = spark.createDataFrame([row], ddl)
        with pytest.raises(ValueError, match="not aligned"):
            sink.merge_keep_latest(spark, table, src, keys=["id"], order_by=[F.col("version").desc()])
        assert snapshot() == before


def test_sink_contract_call_sequence(spark, tmp_path):
    """The medallion incremental refresh must drive ANY TableSink through
    the documented contract: schema-aligned source (partition columns
    derived) + keys + ordering. A recording fake stands in for
    Delta/Iceberg."""
    calls = []

    class RecordingSink(TableSink):
        def create_or_replace(self, df, table, partition_by=()):
            calls.append(("create", table, tuple(partition_by)))

        def merge_keep_latest(self, spark_, table, source, keys, order_by):
            calls.append(("merge", table, tuple(keys), source.columns))

        def read(self, spark_, table):
            calls.append(("read", table))
            return spark_.createDataFrame([], "id long")

    sink = RecordingSink()
    src = spark.createDataFrame(
        [(1, "2024-01-01", 2024, 1)], "call_id long, call_date string, year int, month int"
    )
    sink.merge_keep_latest(spark, "silver/calls", src, ["call_id"], [F.col("call_id").desc()])
    kind, table, keys, cols = calls[0]
    assert kind == "merge" and keys == ("call_id",)
    # partition columns present in the source — the MERGE INTO alignment rule
    assert "year" in cols and "month" in cols


def test_txnlog_sink_mor_strategy_contract(spark, tmp_path):
    """The sink contract under merge_strategy='mor': same observable
    results as COW, but the merge vectors matches instead of rewriting."""
    from pyspark.sql import functions as F

    from telecom_dataengineering_pipeline_spark.sources.txnlog import (
        TxnLogSink,
        TxnLogTable,
    )

    table = str(tmp_path / "t_mor")
    sink = TxnLogSink(merge_strategy="mor")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 2)], "id long, payload string, version int"
    )
    sink.create_or_replace(base, table)
    files0 = set(TxnLogTable(table).snapshot_files())
    updates = spark.createDataFrame(
        [(2, "b2", 2), (4, "d", 1)], "id long, payload string, version int"
    )
    sink.merge_keep_latest(
        spark, table, updates, keys=["id"], order_by=[F.col("version").desc()]
    )
    got = {r["id"]: r["payload"] for r in sink.read(spark, table).collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}
    t = TxnLogTable(table)
    assert files0 <= set(t.snapshot_files())  # nothing rewritten
    assert t.history()[-1]["operation"] == "merge_mor"
