"""The medallion write path runs only the Spark jobs its output needs:
fixture tables built in the JVM, one parquet file per partition value,
reads with the writer's schema, and one action per quality suite."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from conftest import job_ids
from telecom_dataengineering_pipeline_spark.plans.medallion import MedallionPipeline
from telecom_dataengineering_pipeline_spark.quality.checks import (
    CheckResult,
    expect_relationships,
    expect_unique,
    run_checks,
)
from telecom_dataengineering_pipeline_spark.sources.generators import (
    PLAN_TYPES,
    TOWERS,
    _hash_mod,
    call_events,
    towers_dim,
)


def _old_towers_dim(spark):
    return spark.createDataFrame(
        TOWERS, ["tower_id", "tower_city", "tower_state", "tower_lat", "tower_lon"]
    )


def _old_call_events(spark, n, dup_fraction_mod=10, start_ts="2024-01-01 00:00:00"):
    """``generators.call_events`` as it was: chained ``withColumn`` calls
    and a tower index parallelized from a Python list."""
    base = (
        spark.range(n)
        .withColumnRenamed("id", "seq")
        .withColumn("event_id", F.concat(F.lit("EVT-"), F.lpad(F.col("seq").cast("string"), 10, "0")))
        .withColumn("customer_num", _hash_mod(F.col("seq"), max(1, n // 20)))
        .withColumn(
            "caller_customer_id",
            F.concat(F.lit("CUST-"), F.lpad(F.col("customer_num").cast("string"), 8, "0")),
        )
        .withColumn(
            "caller_msisdn",
            F.concat(F.lit("+1"), F.lpad((_hash_mod(F.col("seq") + 1, 9_999_999_999)).cast("string"), 10, "0")),
        )
        .withColumn(
            "called_msisdn",
            F.concat(F.lit("+1"), F.lpad((_hash_mod(F.col("seq") + 7, 9_999_999_999)).cast("string"), 10, "0")),
        )
        .withColumn("tower_idx", _hash_mod(F.col("seq") + 3, len(TOWERS)).cast("int"))
        .withColumn(
            "call_start_timestamp",
            F.lit(start_ts).cast("timestamp") + (F.col("seq") * 104729 % 2_592_000) * F.expr("INTERVAL 1 SECOND"),
        )
        .withColumn("result_idx", _hash_mod(F.col("seq") + 11, 100))
        .withColumn(
            "call_result_code",
            F.when(F.col("result_idx") < 85, "0")
            .when(F.col("result_idx") < 90, "17")
            .when(F.col("result_idx") < 93, "21")
            .when(F.col("result_idx") < 96, "31")
            .when(F.col("result_idx") < 98, "38")
            .otherwise("41"),
        )
        .withColumn(
            "duration_seconds",
            F.when(F.col("call_result_code") == "0", 5 + _hash_mod(F.col("seq") + 13, 3596)).otherwise(F.lit(0)),
        )
        .withColumn(
            "call_end_timestamp",
            F.when(
                F.col("call_result_code") == "0",
                F.col("call_start_timestamp") + F.col("duration_seconds") * F.expr("INTERVAL 1 SECOND"),
            ),
        )
        .withColumn("plan_type", F.element_at(F.array(*[F.lit(p) for p in PLAN_TYPES]), (_hash_mod(F.col("seq") + 17, 5) + 1).cast("int")))
        .withColumn("roaming", _hash_mod(F.col("seq") + 19, 100) < 8)
        .withColumn(
            "revenue_usd",
            F.when(F.col("call_result_code") == "0", F.round(F.col("duration_seconds") * 0.02, 2)).otherwise(F.lit(0.0)),
        )
    )
    towers_idx = spark.createDataFrame(
        [(i, *t) for i, t in enumerate(TOWERS)],
        ["tower_idx", "tower_id", "tower_city", "tower_state", "tower_lat", "tower_lon"],
    )
    ev = base.join(F.broadcast(towers_idx), "tower_idx").drop("tower_idx", "result_idx", "customer_num")
    ev = ev.withColumn("event_type", F.lit("CALL")).withColumn(
        "_bronze_ingested_at", F.col("call_start_timestamp") + F.expr("INTERVAL 5 MINUTE")
    )
    dups = (
        ev.filter(F.col("seq") % dup_fraction_mod == 0)
        .withColumn("_bronze_ingested_at", F.col("_bronze_ingested_at") + F.expr("INTERVAL 30 MINUTE"))
    )
    out = ev.unionByName(dups)
    return (
        out.withColumn("year", F.year("call_start_timestamp"))
        .withColumn("month", F.month("call_start_timestamp"))
        .withColumn("day", F.dayofmonth("call_start_timestamp"))
        .drop("seq")
    )


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows_sha256(df) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in df.collect())).encode()).hexdigest()


def test_fixture_tables_built_in_jvm(spark):
    """No ``ExistingRDD`` scan (the Python-parallelized list) in either
    plan, and the schemas the old ``createDataFrame`` path produced."""
    for new, old in ((towers_dim(spark), _old_towers_dim(spark)),
                     (call_events(spark, n=100), _old_call_events(spark, n=100))):
        assert "ExistingRDD" in _physical(old)
        assert "ExistingRDD" not in _physical(new)
        assert new.schema == old.schema


def test_call_events_rows_match_old_path(spark):
    assert _rows_sha256(call_events(spark, n=20000)) == _rows_sha256(_old_call_events(spark, n=20000))


def _count_per_check(checks, severities) -> list[CheckResult]:
    """``run_checks`` as it was: one ``count()`` per check."""
    out = []
    for name, viol in checks.items():
        n = viol.count()
        sev = severities.get(name, "error")
        out.append(CheckResult(name, n == 0 or sev == "warn", n, sev))
    return out


def test_run_checks_matches_count_per_check(spark):
    dirty = spark.createDataFrame(
        [(1, "a", 10.0), (1, "z", -5.0), (None, "b", 20.0)], ["id", "cat", "amt"]
    )
    clean = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "cat"])
    parent = spark.createDataFrame([(1,), (2,)], ["pid"])
    child = spark.createDataFrame([(1,), (3,)], ["fk"])
    suites = [
        (  # tests/test_quality.py's suite, its FK check at warn
            {
                "unique_id": expect_unique(dirty, ["id"]),
                "fk_ok": expect_relationships(child, parent, {"fk": "pid"}),
            },
            {"fk_ok": "warn"},
        ),
        (  # every check passes
            {
                "unique_id": expect_unique(clean, ["id"]),
                "fk_ok": expect_relationships(clean, parent, {"id": "pid"}),
            },
            {},
        ),
    ]
    for checks, sev in suites:
        assert run_checks(checks, sev) == _count_per_check(checks, sev)
    assert [r.passed for r in run_checks(*suites[1])] == [True, True]
    assert run_checks({}) == []


def test_read_of_unwritten_table_raises(spark, tmp_path):
    pipe = MedallionPipeline(spark, str(tmp_path))
    with pytest.raises(ValueError, match="silver.calls"):
        pipe.read("silver", "calls")


# Jobs per stage at 2,000 events and 200 customers (31 in all). A stage that
# gains a job, such as a schema-inference read or a count per quality check,
# fails here.
STAGE_JOBS = {
    "ingest_bronze": 4,
    "dim_towers": 1,
    "dim_date": 1,
    "silver_calls": 3,
    "silver_customers": 2,
    "agg_tower_hourly": 2,
    "dim_customers": 1,
    "fact_calls": 5,
    "agg_customer_monthly": 3,
    "quality_gate": 3,
    "incremental_silver_calls": 6,
}


def test_medallion_stage_job_counts(spark, tmp_path):
    """The incremental refresh runs from a second pipeline over the same
    base directory, as a later run would: the schemas are recorded on disk,
    not in the instance that wrote the tables."""
    pipe = MedallionPipeline(spark, str(tmp_path), n_events=2000, n_customers=200)
    later = MedallionPipeline(spark, str(tmp_path), n_events=2000, n_customers=200)
    steps = [(s.name, s.run) for s in pipe.dag().topological_order()]
    steps.append(("incremental_silver_calls", later.incremental_silver_calls))
    assert {name: len(job_ids(spark, fn)) for name, fn in steps} == STAGE_JOBS
    # the MERGE rewrite keeps the recorded silver schema valid
    assert all(r.passed for r in later.quality_gate())
