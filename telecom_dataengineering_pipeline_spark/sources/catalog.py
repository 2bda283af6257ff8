"""Catalog over the driver's deterministic parquet tables.

Mirrors the reference's "Bronze view" idea (pass-through projections over
immutable landed data — dbt bronze models, reference
``dbt_project/models/bronze/bronze_call_events.sql:1-37``): every query in the
engine starts from these loaders, and ``register_views`` exposes them under
their table names for ``spark.sql`` entry points.

Declared schemas: a bronze view's columns are fixed, so ``SCHEMAS`` states
each table's Spark schema once and ``load_table`` hands it to the reader.
Spark then runs no schema-inference job (one job per call, on every query
build) before a query starts its own work. A declared schema alone would let
Spark fill a missing column with nulls, so each file's parquet footer is
compared with the declared schema by pyarrow, without a Spark job, once
per file identity (path, size, mtime); any missing, extra or retyped column
raises ``ValueError``. The footer also picks how a timestamp is read: one
stored as TIMESTAMP(NANOS) (``events.ts`` in the contract's test data) as
raw nanos converted to microseconds, any other as TIMESTAMP directly.

Scale note: these are plain parquet scans — Catalyst gets predicate pushdown,
column pruning and (for partitioned layouts written by our writers) partition
pruning for free. Nothing here collects to the driver.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

# Column name -> Spark type, in file order; the types the reader produced by
# inference under RUNTIME_CONFS (naive parquet timestamps read as TIMESTAMP).
SCHEMAS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double", "l_extendedprice": "double",
        "l_discount": "double", "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}

TABLES = tuple(SCHEMAS)

_ARROW_TYPES = {
    pa.int32(): "int",
    pa.int64(): "bigint",
    pa.float32(): "float",
    pa.float64(): "double",
    pa.string(): "string",
}

# (path, size, mtime_ns) -> (reader DDL, columns stored as TIMESTAMP(NANOS)).
# An entry depends only on the file's bytes and SCHEMAS, so every session in
# the process may share it; a rewritten file gets a new key and a new check.
_CHECKED: dict[tuple[str, int, int], tuple[str, tuple[str, ...]]] = {}


def _spark_type(t: pa.DataType) -> str:
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t):
        return f"array<{_spark_type(t.value_type)}>"
    return _ARROW_TYPES.get(t, str(t))


def _read_plan(path: str, name: str) -> tuple[str, tuple[str, ...]]:
    """Check ``path``'s footer against ``SCHEMAS[name]``; return the reader
    DDL and the nanosecond timestamp columns (read as BIGINT, converted)."""
    fs, fpath = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    info = fs.get_file_info(fpath)
    key = (path, info.size, info.mtime_ns)
    if key not in _CHECKED:
        footer = pq.read_schema(fpath, filesystem=fs)
        found = {f.name: f.type for f in footer}
        declared = SCHEMAS[name]
        bad = [
            f"missing column {c!r}" for c in declared if c not in found
        ] + [
            f"extra column {c!r} ({_spark_type(t)})" for c, t in found.items() if c not in declared
        ] + [
            f"column {c!r} is {_spark_type(found[c])}, declared {t}"
            for c, t in declared.items()
            if c in found and _spark_type(found[c]) != t
        ]
        if bad:
            raise ValueError(f"{path}: footer does not match the declared {name} schema: " + "; ".join(bad))
        nanos = tuple(
            c for c, t in found.items() if pa.types.is_timestamp(t) and t.unit == "ns"
        )
        ddl = ", ".join(
            f"`{c}` {'bigint' if c in nanos else t}" for c, t in declared.items()
        )
        _CHECKED[key] = (ddl, nanos)
    return _CHECKED[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one input table with its declared schema (no Spark job).

    The footer check (``_read_plan``) raises ``ValueError`` naming the path
    and the column on any missing, extra or retyped column; there is no
    fallback to inference. It also decides how timestamps are read: a
    column stored as INT64 TIMESTAMP(NANOS) (``events.ts`` in the contract's
    test data) is read as raw nanos under
    ``spark.sql.legacy.parquet.nanosAsLong`` and converted via *integer*
    division (``div``) — a double division would lose precision on
    1.7e18-scale epochs. The resulting TimestampType is microsecond-truncated;
    the DuckDB oracle truncates to microseconds on its side to match. Micro-
    and millisecond timestamps, naive or not, are read as TIMESTAMP directly
    (session tz is UTC, so values match DuckDB's epoch_us).
    """
    apply_runtime_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    ddl, nanos = _read_plan(path, name)
    df = spark.read.schema(ddl).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Temp view per table (reference bronze models are exactly such views)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
