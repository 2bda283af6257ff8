"""Declared input schemas (``sources/catalog.py``): the ten tables read
with no schema-inference job, the declared types equal the ones inference
produced, and a footer that disagrees with the declaration fails at load
instead of surfacing as null columns."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import job_ids
from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY
from telecom_dataengineering_pipeline_spark.sources.catalog import TABLES, load_table

SCALES = ("sf0.001", "sf0.01", "sf0.1")


def _inferred(spark, sf_dir, name):
    """The catalog's read before schemas were declared: inference plus the
    nanos-as-long ``events.ts`` rule and the NTZ -> TIMESTAMP cast."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for c in [c for c, t in df.dtypes if t == "timestamp_ntz"]:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


@pytest.mark.parametrize("scale", SCALES)
def test_declared_schema_equals_inferred(spark, sf_smoke, scale):
    sf_dir = os.path.join(os.path.dirname(sf_smoke), scale)
    for name in TABLES:
        assert load_table(spark, sf_dir, name).schema == _inferred(spark, sf_dir, name).schema, name


def _region_copy(sf_smoke, tmp_path, sub, transform=None):
    d = tmp_path / sub
    d.mkdir()
    t = pq.read_table(f"{sf_smoke}/region.parquet")
    pq.write_table(transform(t) if transform else t, d / "region.parquet")
    return str(d)


@pytest.mark.parametrize(
    "transform, column",
    [
        (lambda t: t.set_column(0, "r_regionkey", t["r_regionkey"].cast(pa.int64())), "r_regionkey"),
        (lambda t: t.drop_columns(["r_name"]), "r_name"),
        (lambda t: t.append_column("r_comment", pa.array(["x"] * t.num_rows)), "r_comment"),
        (lambda t: t.rename_columns(["r_regionkey", "r_title"]), "r_title"),
    ],
    ids=["retyped", "missing", "extra", "renamed"],
)
def test_footer_mismatch_raises_at_load(spark, sf_smoke, tmp_path, transform, column):
    d = _region_copy(sf_smoke, tmp_path, "bad", transform)
    with pytest.raises(ValueError, match=column) as e:
        load_table(spark, d, "region")
    assert f"{d}/region.parquet" in str(e.value)


def test_footer_rechecked_when_the_file_changes(spark, sf_smoke, tmp_path):
    d = _region_copy(sf_smoke, tmp_path, "t")
    assert load_table(spark, d, "region").count() == 5
    path = f"{d}/region.parquet"
    t = pq.read_table(path)
    pq.write_table(t.set_column(0, "r_regionkey", t["r_regionkey"].cast(pa.int64())), path)
    with pytest.raises(ValueError, match="r_regionkey"):
        load_table(spark, d, "region")
    shutil.copyfile(f"{sf_smoke}/region.parquet", path)
    assert load_table(spark, d, "region").count() == 5


def test_nanosecond_ts_read_as_micros(spark, sf_smoke, tmp_path):
    """A footer storing ``events.ts`` as TIMESTAMP(NANOS) is read as raw
    nanos and truncated to the same microsecond TIMESTAMP values."""
    t = pq.read_table(f"{sf_smoke}/events.parquet")
    i = t.schema.get_field_index("ts")
    ns = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ns, tmp_path / "events.parquet", version="2.6", coerce_timestamps=None)
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    got = load_table(spark, str(tmp_path), "events")
    want = load_table(spark, sf_smoke, "events")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.parametrize(
    "name",
    [
        "star_join_enriched_orders",
        "latest_event_per_user_type",
        "pricing_summary_rollup",
        "knn_cosine_bruteforce",
    ],
)
def test_query_build_runs_no_spark_job(spark, sf_smoke, name):
    """Building a bench query plans it and nothing else: the input tables
    need no schema-inference job."""
    jobs = job_ids(spark, lambda: REGISTRY[name].fn(spark, sf_smoke))
    assert jobs == [], f"{name} ran {len(jobs)} job(s) while being built"
