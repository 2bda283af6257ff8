"""Write-path semantics: partitioned layout, compaction sizing, schema-merge
append; fixture generators (duplicate/version injection invariants)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.sources.catalog import load_table
from telecom_dataengineering_pipeline_spark.sources.generators import call_events, crm_customers, towers_dim
from telecom_dataengineering_pipeline_spark.sources.writers import (
    append_with_new_columns,
    cluster_approx_zorder,
    compact_to_target_size,
    read_with_schema_merge,
    write_partitioned,
)


def test_partitioned_write_layout_and_pruning(spark, sf_smoke):
    ev = call_events(spark, n=2000)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "bronze_calls")
        write_partitioned(ev, path)
        days = [p for p in os.listdir(path) if p.startswith("year=")]
        assert days, "expected hive-style year= partitions"
        # one parquet file in each partition directory (the rebalance hint)
        leaves = [(r, [n for n in ns if n.endswith(".parquet")]) for r, sub, ns in os.walk(path) if not sub]
        assert len(leaves) > 1 and all(os.path.basename(r).startswith("day=") for r, _ in leaves)
        assert {r: len(fs) for r, fs in leaves if len(fs) != 1} == {}
        back = spark.read.parquet(path)
        # partition filter must prune: read one day and check the plan scans
        # only matching partitions (PartitionFilters present)
        one = back.filter((F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 2))
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert one.count() > 0


def test_compaction_file_count(spark):
    ev = call_events(spark, n=5000)
    n = ev.count()
    compacted = compact_to_target_size(ev, ["call_start_timestamp", "tower_id"], row_count=n, avg_row_bytes=500, target_file_bytes=500 * 1000)
    # 1000 rows per file target → ceil(n/1000) partitions
    assert compacted.rdd.getNumPartitions() == -(-n // 1000)


def test_zorder_approx_clusters(spark):
    ev = call_events(spark, n=2000)
    clustered = cluster_approx_zorder(ev, ["tower_id", "call_start_timestamp"])
    # partition-local sortedness on the leading key
    def _sorted_partition(it):
        vals = [r[0] for r in it]
        return [all(a <= b for a, b in zip(vals, vals[1:]))]

    part_ok = clustered.select("tower_id").rdd.mapPartitions(_sorted_partition).collect()
    assert all(part_ok)


def test_schema_merge_append(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        spark.range(5).select(F.col("id"), F.lit("x").alias("a")).write.parquet(path)
        append_with_new_columns(
            spark.range(5, 10).select(F.col("id"), F.lit("x").alias("a"), F.lit(1).alias("b")), path
        )
        merged = read_with_schema_merge(spark, path)
        assert set(merged.columns) == {"id", "a", "b"}
        assert merged.count() == 10
        assert merged.filter(F.col("b").isNull()).count() == 5


def test_call_events_duplicate_injection(spark):
    ev = call_events(spark, n=1000, dup_fraction_mod=10)
    total = ev.count()
    distinct_ids = ev.select("event_id").distinct().count()
    assert total == 1100 and distinct_ids == 1000
    # duplicates carry a LATER _bronze_ingested_at (keep-latest is meaningful)
    dup_spread = (
        ev.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("_bronze_ingested_at").alias("d"))
        .filter(F.col("n") > 1)
    )
    assert dup_spread.filter(F.col("d") != 2).count() == 0


def test_crm_versions(spark):
    crm = crm_customers(spark, n=400, versions_mod=4)
    assert crm.count() == 500
    assert crm.select("customer_id").distinct().count() == 400


def test_towers_dim(spark):
    t = towers_dim(spark)
    assert t.count() == 15
    assert t.select("tower_id").distinct().count() == 15


def test_jdbc_roundtrip_partitioned_pushdown(spark, sf_smoke, tmp_path):
    """S13: real JDBC (embedded Derby) — partitioned parallel read, filter
    pushed into the remote WHERE clause, overwrite re-runnable."""
    from pyspark.sql import functions as F

    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table
    from telecom_dataengineering_pipeline_spark.sources.jdbc import (
        derby_url,
        read_jdbc,
        write_jdbc,
    )

    nation = load_table(spark, sf_smoke, "nation")
    url = derby_url(str(tmp_path / "nation_db"))
    write_jdbc(nation, url, "nation_t", column_types="n_name VARCHAR(64)")
    df = read_jdbc(
        spark, url, "nation_t",
        partition_column="n_nationkey", lower_bound=0, upper_bound=25, num_partitions=4,
    )
    out = df.filter(F.col("n_nationkey") >= 10).select("n_nationkey", "n_name")
    assert out.rdd.getNumPartitions() == 4
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan and "PushedFilters" in plan
    assert "GreaterThanOrEqual(n_nationkey,10)" in plan
    expected = {
        (r["n_nationkey"], r["n_name"])
        for r in nation.filter("n_nationkey >= 10").collect()
    }
    assert {(r["n_nationkey"], r["n_name"]) for r in out.collect()} == expected
    # idempotent overwrite (the contract MERGE-style refresh relies on)
    write_jdbc(nation, url, "nation_t", column_types="n_name VARCHAR(64)")
    assert read_jdbc(spark, url, "nation_t").count() == nation.count()
