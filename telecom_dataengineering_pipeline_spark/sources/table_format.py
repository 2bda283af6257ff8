"""Table-format sink abstraction (SURVEY.md §2.1 S7, §2.10 M1).

The reference MERGEs into Iceberg (``bronze_compaction.py:125-136``
``writeTo(...).createOrReplace()``; dbt ``incremental_strategy: merge``).
This environment has neither Delta nor Iceberg runtimes, so the claim
"a table format slots in behind the same signature" is made TESTABLE here
instead of asserted in prose: every write-side consumer talks to the
``TableSink`` contract below, the plain-parquet implementation is the
production path in this repo, and the contract test
(``tests/test_table_format.py``) pins the exact call sequence a format
implementation must honor.

A Delta implementation is ~10 lines against the same contract::

    class DeltaSink(TableSink):
        def create_or_replace(self, df, table, partition_by=()):
            df.write.format("delta").mode("overwrite") \
              .partitionBy(*partition_by).saveAsTable(table)
        def merge_keep_latest(self, spark, table, source, keys, order_by):
            DeltaTable.forName(spark, table).alias("t").merge(
                source.alias("s"), " AND ".join(f"t.{k}=s.{k}" for k in keys)
            ).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()

(Iceberg: same shape via ``writeTo(table).createOrReplace()`` and
``MERGE INTO`` SQL.)
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession

from ..operators.merge import merge_upsert
from .writers import write_partitioned


def _check_aligned(table: str, columns: Sequence[str]) -> None:
    """Raise ``ValueError`` unless ``table``'s columns are ``columns``: the
    names in one data file's footer plus the partition directories above
    it, read with pyarrow (no Spark job). A table with no data file holds no
    rows a misaligned rewrite could lose."""
    for root, dirs, files in os.walk(table):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            rel = os.path.relpath(root, table).split(os.sep)
            found = set(pq.read_schema(os.path.join(root, data[0])).names)
            found |= {d.split("=", 1)[0] for d in rel if "=" in d}
            break
    else:
        return
    missing, extra = sorted(found - set(columns)), sorted(set(columns) - found)
    if missing or extra:
        raise ValueError(
            f"{table}: MERGE source is not aligned with the table: "
            f"missing columns {missing}, extra columns {extra}"
        )


class TableSink:
    """Write-side contract shared by parquet-dir and table-format sinks."""

    def create_or_replace(
        self, df: DataFrame, table: str, partition_by: Sequence[str] = ()
    ) -> None:
        raise NotImplementedError

    def merge_keep_latest(
        self,
        spark: SparkSession,
        table: str,
        source: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[Column],
    ) -> None:
        """MERGE: update matched keys to the winning row under ``order_by``,
        insert unmatched — i.e. upsert with keep-latest resolution."""
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError


class ParquetDirSink(TableSink):
    """Plain-parquet implementation: ``table`` is a directory path.

    MERGE is union + keep-latest + rewrite (the same resolution the
    reference's silver model applies to at-least-once data,
    ``silver_calls.sql:40-55``); the rewrite lands in a staging directory
    and swaps in via rename-aside, so no failure window loses the table
    (old data is deleted only after the new copy is in place).
    """

    def __init__(self, partition_by: Sequence[str] = ()) -> None:
        self.partition_by = tuple(partition_by)

    def create_or_replace(
        self, df: DataFrame, table: str, partition_by: Sequence[str] = ()
    ) -> None:
        cols = tuple(partition_by) or self.partition_by
        if cols:
            write_partitioned(df, table, cols)
        else:
            df.write.mode("overwrite").option("compression", "snappy").parquet(table)

    def merge_keep_latest(
        self,
        spark: SparkSession,
        table: str,
        source: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[Column],
    ) -> None:
        # Like MERGE INTO, the source must be schema-aligned with the target
        # (partition columns included — derive them before calling). Once a
        # data file's footer shows the columns match, the target is read
        # with the source's schema: no inference job.
        _check_aligned(table, source.columns)
        target = spark.read.schema(source.schema).parquet(table)
        merged = merge_upsert(target, source, keys=keys, order_by=order_by)
        staging = table.rstrip("/") + "__staging"
        self.create_or_replace(merged, staging)
        self._swap(staging, table)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(table)

    @staticmethod
    def _swap(staging: str, final: str) -> None:
        retired = final.rstrip("/") + "__retired"
        if os.path.exists(retired):
            shutil.rmtree(retired)
        shutil.move(final, retired)
        try:
            shutil.move(staging, final)
        except BaseException:
            shutil.move(retired, final)  # roll back; staging left for inspection
            raise
        shutil.rmtree(retired)
