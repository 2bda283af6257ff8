"""Write-side operators: partitioned layout, compaction, clustering.

Reproduces the reference's physical-layout policies (SURVEY.md §2.6, §2.10):

- S5 Hive-style partitioned parquet (``kafka_to_bronze.py:63-67``:
  ``year=/month=/day=``) → ``partitionBy`` — static+dynamic partition
  pruning downstream. The write carries AQE's ``REBALANCE`` hint on the
  partition columns, so the rows of one partition value go to one write
  task. Without it every write task opens a file in every partition
  directory it holds rows for. The hint costs one shuffle per write; it
  pays off while each partition value holds few rows per write task (a
  few hundred in the medallion pass, which then lands one file per
  value). How partition values far larger than AQE's advisory partition
  size are split has not been measured.
- O3 compaction to ~target-file-size (``bronze_compaction.py:54,115-122``:
  256 MB files, row-size estimate) → ``repartition(n)`` +
  ``maxRecordsPerFile`` belt-and-braces, for callers that size files
  from a row count.
- ``written_schema`` is the schema a read of such a write returns, so a
  caller that wrote the table reads it back with no schema-inference job.
- O2 partition-local sort for compression/scan locality
  (``bronze_compaction.py:112-113``) → ``sortWithinPartitions``.
- O4 z-order approximation (``bronze_compaction.py:141-151``; vanilla Spark
  has no z-order) → ``repartitionByRange`` on the leading cluster key +
  in-partition sort on the full key — linear clustering, which captures most
  of the scan-pruning benefit for a 2-key cluster; a table format (Delta
  OPTIMIZE ZORDER / Iceberg rewrite) slots in here when available.
- M4 schema evolution on append (``dbt_project.yml:32``) → ``mergeSchema``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

TARGET_FILE_BYTES = 256 * 1024 * 1024  # reference bronze_compaction.py:54
DEFAULT_ROW_BYTES = 500  # reference's estimate, bronze_compaction.py:117


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("year", "month", "day"),
    mode: str = "overwrite",
) -> None:
    """Hive-layout snappy parquet (S4+S5), each partition value's rows
    rebalanced into one write task."""
    (
        df.hint("rebalance", *partition_cols)
        .write.mode(mode)
        .option("compression", "snappy")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def written_schema(schema: StructType, partition_cols: Sequence[str] = ()) -> StructType:
    """The schema a parquet read of ``schema`` written with ``partitionBy(
    *partition_cols)`` returns: the data columns, then the partition
    columns, every field nullable (Spark writes parquet columns nullable).
    Passing it to ``spark.read.schema`` skips the inference job."""
    data = [f for f in schema.fields if f.name not in partition_cols]
    parts = [schema[c] for c in partition_cols]
    return StructType([StructField(f.name, f.dataType, True) for f in data + parts])


def compact_to_target_size(
    df: DataFrame,
    sort_cols: Sequence[str],
    row_count: int | None = None,
    avg_row_bytes: int = DEFAULT_ROW_BYTES,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> DataFrame:
    """O2+O3: size-aware repartition + in-partition sort.

    ``row_count`` lets callers reuse a count they already have; otherwise one
    count job runs (same as the reference, bronze_compaction.py:96).
    """
    n_rows = row_count if row_count is not None else df.count()
    rows_per_file = max(1, target_file_bytes // max(1, avg_row_bytes))
    n_files = max(1, math.ceil(n_rows / rows_per_file))
    return df.repartition(n_files).sortWithinPartitions(*sort_cols)


def cluster_approx_zorder(df: DataFrame, cluster_cols: Sequence[str]) -> DataFrame:
    """O4 approximation: range-partition on the leading key, sort by all keys
    within partitions. Layout-only (no query-semantics impact)."""
    return df.repartitionByRange(*cluster_cols).sortWithinPartitions(*cluster_cols)


_MORTON_BITS = 16  # per-dimension resolution; 2 dims fit a signed 64-bit key


def morton_key(
    cols: Sequence[str], bounds: dict[str, tuple[float, float]]
) -> "Column":
    """True z-order key: quantize each column to ``_MORTON_BITS`` bits over
    its [min, max] range, then interleave the bits across dimensions —
    pure JVM bit arithmetic (shiftleft / AND / OR), whole-stage-codegen
    friendly, no UDF.

    Unlike the linear ``cluster_approx_zorder`` (which only localizes the
    LEADING key), the Morton curve localizes EVERY dimension: rows close in
    any clustered column land in nearby key ranges, so per-file min/max
    stats stay tight on all of them and a single-dimension probe prunes
    files regardless of which dimension it hits — the property Delta's
    OPTIMIZE ZORDER / Iceberg's rewrite sort(zorder) buy at 100 TB.
    """
    from pyspark.sql import functions as F

    ndim = len(cols)
    quantized = []
    for c in cols:
        lo, hi = bounds[c]
        # None bounds (empty input or all-null column) degrade to a
        # constant key — clustering a nothing is a no-op, not a crash
        span = 0.0 if lo is None or hi is None else float(hi) - float(lo)
        if span <= 0:
            q = F.lit(0).cast("long")
        else:
            scaled = (
                (F.col(c).cast("double") - F.lit(float(lo)))
                * F.lit((2**_MORTON_BITS - 1) / span)
            ).cast("long")
            # clamp against float rounding at the upper edge
            q = F.least(F.greatest(scaled, F.lit(0)), F.lit(2**_MORTON_BITS - 1))
        quantized.append(q)
    key = F.lit(0).cast("long")
    for bit in range(_MORTON_BITS):
        for d, q in enumerate(quantized):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, bit).bitwiseAND(F.lit(1)), bit * ndim + d
                ).cast("long")
            )
    return key


def column_bounds(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[float, float]]:
    """One scalar aggregate for the quantization ranges (a bounded driver
    fetch — ndim numbers, not data)."""
    from pyspark.sql import functions as F

    row = df.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in cols],
        *[F.max(c).alias(f"_hi_{c}") for c in cols],
    ).first()
    return {c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in cols}


def cluster_zorder_morton(
    df: DataFrame,
    cluster_cols: Sequence[str],
    target_files: int,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """O4, exact form: range-partition + sort on the interleaved Morton key
    so every output file covers a compact tile of the multi-dimensional key
    space. Layout-only; pair with per-file min/max stats for pruning."""
    if bounds is None:
        bounds = column_bounds(df, cluster_cols)
    key = morton_key(cluster_cols, bounds).alias("_zkey")
    return (
        df.withColumn("_zkey", key)
        .repartitionByRange(target_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )


def read_with_schema_merge(spark: SparkSession, path: str) -> DataFrame:
    """M4: tolerate appended columns across files."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def append_with_new_columns(df: DataFrame, path: str) -> None:
    """Append-side of M4 (on_schema_change: append_new_columns)."""
    df.write.mode("append").option("mergeSchema", "true").parquet(path)


def expire_old_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    cutoff_value: str,
    dry_run: bool = False,
) -> list[str]:
    """Retention maintenance for partitioned parquet tables — the
    plain-parquet analog of the reference's Iceberg snapshot expiry
    (``bronze_compaction.py:134,153-160``: 7-day retention +
    ``expire_snapshots``; SURVEY §2.6 O5).

    Drops Hive partition directories whose value sorts strictly below
    ``cutoff_value`` (ISO dates compare lexicographically, so a date string
    cutoff expires everything older). Goes through the Hadoop FileSystem
    API, so the same call works on HDFS/S3A/local URIs, and deletes whole
    partition directories — an O(|partitions|) metadata operation that never
    reads data. Returns the expired partition directory names.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    expired = []
    prefix = partition_col + "="
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix) and name[len(prefix):] < cutoff_value:
            expired.append(name)
            if not dry_run:
                fs.delete(st.getPath(), True)
    return sorted(expired)
