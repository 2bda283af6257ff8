"""Round-12 registrations: the composed medallion pipeline through the
VALUE gate (VERDICT r8 item 3).

``plans/medallion.py`` — the engine's actual end-to-end shape, mirroring the
reference dbt chain (``/root/reference/dbt_project/models/gold/facts/
fact_calls.sql:15-98``, ``agg_tower_hourly_utilization.sql:13-137``,
``silver_calls.sql:40-119``) — was test-verified but never driver-gated as a
COMPOSITION: every stage was individually oracled, the composed artifact
wasn't. This module maps the driver's ``events``/``customer`` tables into the
bronze call-events/CRM shapes deterministically (duplicate redelivery and
invalid-duration rows INJECTED so the silver dedup and validity filter are
non-vacuous), runs the REAL pipeline stage methods (real partitioned parquet
between layers, the quality gate included), and returns one tall relation
spanning all three gold surfaces — the hourly tower rollup, the monthly
customer rollup, and the fact-grain star-join reconciliation (UNKNOWN
sentinel exercised via ghost caller ids). The DuckDB oracle re-derives the
same composition analytically: the keep-latest survivor is computed in
closed form, so a dedup/merge/join/sentinel break anywhere in the chain
changes counts or sums and reddens the row.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.medallion import REGION_MAP, MedallionPipeline
from ..sources.catalog import load_table
from ..sources.generators import TOWERS
from ..streaming.staging import pin_staging_mtimes
from .scratch import scratch_dir
from .registry import register

# state -> region CASE arms, shared by the oracle builder below.
_REGION_CASE = "CASE t.tower_state " + " ".join(
    f"WHEN '{st}' THEN '{rg}'" for st, rg in REGION_MAP.items()
) + " ELSE 'OTHER' END"

_TOWER_VALUES = ", ".join(
    f"({i}, '{tid}', '{st}')" for i, (tid, _city, st, _lat, _lon) in enumerate(TOWERS)
)


def _bronze_call_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``events`` table into the bronze call-events shape.

    Deterministic, SQL-mirrorable transforms only:

    - duplicate injection: every 7th event re-appears with a 1-hour-later
      ``_bronze_ingested_at`` and ``duration + 1000`` — keep-latest dedup
      must elect the redelivery, so the +1000 shows in every downstream sum;
    - validity injection: every 11th event gets duration -1 (filtered in
      silver unless its redelivery rescued it to 999);
    - ghost callers: every 13th event's customer id matches no CRM row, so
      the fact star join must emit the UNKNOWN sentinel.
    """
    e = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    tower = F.element_at(
        F.array(*[F.lit(t[0]) for t in TOWERS]), (eid % 15 + 1).cast("int")
    )
    r = eid % 100
    code = (
        F.when(r < 85, "0")
        .when(r < 90, "17")
        .when(r < 93, "21")
        .when(r < 96, "31")
        .when(r < 98, "38")
        .otherwise("41")
    )
    base = e.select(
        F.concat(F.lit("EVT-"), eid.cast("string")).alias("event_id"),
        F.when(eid % 13 == 0, "CUST-GHOST")
        .otherwise(F.concat(F.lit("CUST-"), F.lpad(F.col("user_id").cast("string"), 8, "0")))
        .alias("caller_customer_id"),
        F.concat(F.lit("+1"), eid.cast("string")).alias("caller_msisdn"),
        F.concat(F.lit("+2"), eid.cast("string")).alias("called_msisdn"),
        tower.alias("tower_id"),
        F.col("ts").alias("call_start_timestamp"),
        F.col("ts").alias("call_end_timestamp"),
        F.when(eid % 11 == 0, F.lit(-1).cast("long")).otherwise(eid % 3600).alias("duration_seconds"),
        code.alias("call_result_code"),
        F.col("event_type").alias("plan_type"),
        (eid % 5 == 0).alias("roaming"),
        (eid % 10000).cast("decimal(12,4)").alias("revenue_usd"),
        F.col("ts").alias("_bronze_ingested_at"),
    )
    dup = (
        base.filter(F.substring("event_id", 5, 100).cast("long") % 7 == 0)
        .withColumn("duration_seconds", F.col("duration_seconds") + 1000)
        .withColumn("_bronze_ingested_at", F.col("_bronze_ingested_at") + F.expr("INTERVAL 1 HOUR"))
    )
    return base.unionByName(dup)


def _bronze_crm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map ``customer`` into the CRM batch shape, with every 4th customer
    carrying a second, later version (keep-latest fodder for
    ``build_silver_customers``)."""
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    base = c.select(
        F.concat(F.lit("CUST-"), F.lpad(key.cast("string"), 8, "0")).alias("customer_id"),
        F.col("c_name").alias("first_name"),
        F.col("c_name").alias("last_name"),
        F.concat(F.lit("u"), key.cast("string"), F.lit("@example.com")).alias("email"),
        F.concat(F.lit("+1206"), F.lpad((key % 10000).cast("string"), 4, "0")).alias("phone_number"),
        F.concat(F.col("c_mktsegment"), F.lit("_"), ((key % 5 + 1) * 30).cast("string")).alias("plan_code"),
        (F.col("c_acctbal") >= 0).alias("is_active"),
        (key % 201 - 100).cast("int").alias("nps_score"),
        F.when(F.col("c_acctbal") < 0, "HIGH")
        .when(F.col("c_acctbal") < 5000, "MEDIUM")
        .otherwise("LOW")
        .alias("churn_risk"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + (key % 86400) * F.expr("INTERVAL 1 SECOND")).alias("updated_at"),
    ).withColumn("_ingested_at", F.col("updated_at") + F.expr("INTERVAL 1 HOUR"))
    v2 = (
        base.filter(F.substring("customer_id", 6, 100).cast("long") % 4 == 0)
        .withColumn("updated_at", F.col("updated_at") + F.expr("INTERVAL 2 DAY"))
        .withColumn("_ingested_at", F.col("_ingested_at") + F.expr("INTERVAL 2 DAY"))
        .withColumn("churn_risk", F.lit("HIGH"))
    )
    return base.unionByName(v2)


_MEDALLION_ORACLE = f"""
WITH towers(idx, tower_id, tower_state) AS (
  VALUES {_TOWER_VALUES}
),
-- the analytic mirror of bronze->silver: the keep-latest survivor of the
-- injected redelivery is the +1000-duration row, computed in closed form
silver AS (
  SELECT e.event_id,
         CASE WHEN e.event_id % 13 = 0 THEN 'CUST-GHOST'
              ELSE 'CUST-' || lpad(CAST(e.user_id AS VARCHAR), 8, '0') END AS customer_id,
         t.tower_id,
         {_REGION_CASE} AS region,
         date_trunc('hour', e.ts) AS call_hour,
         CAST(e.ts AS DATE) AS call_date,
         (CASE WHEN e.event_id % 11 = 0 THEN -1 ELSE e.event_id % 3600 END
          + CASE WHEN e.event_id % 7 = 0 THEN 1000 ELSE 0 END) AS duration_seconds,
         (e.event_id % 100 < 85) AS is_successful,
         (e.event_id % 5 = 0) AS roaming,
         CAST(e.event_id % 10000 AS DECIMAL(12,4)) AS revenue_usd
  FROM events e JOIN towers t ON t.idx = e.event_id % 15
),
valid AS (SELECT * FROM silver WHERE duration_seconds >= 0)
SELECT 'tower_hour' AS grain,
       tower_id AS k1,
       strftime(call_hour, '%Y-%m-%d %H:00') AS k2,
       region AS k3,
       COUNT(*) AS calls,
       CAST(SUM(CASE WHEN is_successful THEN 1 ELSE 0 END) AS BIGINT) AS successes,
       CAST(SUM(duration_seconds) AS BIGINT) AS aux_long,
       CAST(SUM(revenue_usd) AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(CASE WHEN is_successful THEN 1 ELSE 0 END) AS DOUBLE) * 100 / COUNT(*), 2) AS ratio_pct
FROM valid GROUP BY tower_id, call_hour, region
UNION ALL
SELECT 'customer_month',
       v.customer_id,
       strftime(v.call_date, '%Y-%m'),
       c.c_mktsegment,
       COUNT(*),
       CAST(SUM(CASE WHEN v.is_successful THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN v.roaming THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(v.revenue_usd) AS DOUBLE),
       CAST(NULL AS DOUBLE)
FROM valid v
JOIN customer c ON v.customer_id = 'CUST-' || lpad(CAST(c.c_custkey AS VARCHAR), 8, '0')
GROUP BY v.customer_id, strftime(v.call_date, '%Y-%m'), c.c_mktsegment
UNION ALL
SELECT 'fact_recon',
       CASE WHEN customer_id = 'CUST-GHOST' THEN 'UNKNOWN' ELSE 'KNOWN' END,
       'KNOWN',
       CASE WHEN call_date BETWEEN DATE '2024-01-01' AND DATE '2024-12-31'
            THEN 'KNOWN' ELSE 'UNKNOWN' END,
       COUNT(*),
       CAST(SUM(CASE WHEN is_successful THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(duration_seconds) AS BIGINT),
       CAST(SUM(revenue_usd) AS DOUBLE),
       CAST(NULL AS DOUBLE)
FROM valid
GROUP BY 2, 4
"""


@register("medallion_fact_build", oracle=_MEDALLION_ORACLE, tags=("M2", "J1", "A2", "A4", "W1", "P3"))
def medallion_fact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL composed pipeline: mapped bronze -> ``plans/medallion.py``
    silver/gold stage methods (real parquet between layers, quality gate
    raised on red) -> one tall relation over all three gold surfaces."""
    base_dir = scratch_dir("medallion_gate", sf_dir)
    pipe = MedallionPipeline(spark, base_dir)
    ts = F.col("call_start_timestamp")
    pipe.write(
        _bronze_call_events(spark, sf_dir).withColumns({"year": F.year(ts), "month": F.month(ts)}),
        "bronze",
        "call_events",
        ("year", "month"),
    )
    pipe.write(_bronze_crm(spark, sf_dir), "bronze", "crm_customers")
    pipe.build_silver_calls()
    pipe.build_silver_customers()
    pipe.build_dim_customers()
    pipe.build_dim_towers()
    pipe.build_dim_date()
    pipe.build_fact_calls()
    pipe.build_agg_tower_hourly()
    pipe.build_agg_customer_monthly()
    pipe.quality_gate()

    hourly = pipe.read("gold", "agg_tower_hourly")
    dim_t = pipe.read("gold", "dim_towers")
    tower_hour = hourly.join(F.broadcast(dim_t.select("tower_id", "region")), "tower_id").select(
        F.lit("tower_hour").alias("grain"),
        F.col("tower_id").alias("k1"),
        F.date_format("measurement_hour", "yyyy-MM-dd HH:00").alias("k2"),
        F.col("region").alias("k3"),
        F.col("total_call_attempts").cast("long").alias("calls"),
        F.col("successful_calls").alias("successes"),
        F.col("total_duration_seconds").cast("long").alias("aux_long"),
        F.col("total_revenue_usd").cast("double").alias("revenue"),
        F.col("success_rate_pct").alias("ratio_pct"),
    )
    monthly = pipe.read("gold", "agg_customer_monthly").select(
        F.lit("customer_month").alias("grain"),
        F.col("customer_id").alias("k1"),
        F.col("year_month").alias("k2"),
        F.col("plan_tier").alias("k3"),
        F.col("total_calls").cast("long").alias("calls"),
        F.col("successful_calls").alias("successes"),
        F.col("roaming_calls").alias("aux_long"),
        F.col("total_revenue_usd").cast("double").alias("revenue"),
        F.lit(None).cast("double").alias("ratio_pct"),
    )
    fact = pipe.read("gold", "fact_calls")
    recon = (
        fact.groupBy(
            F.when(F.col("customer_key") == "UNKNOWN", "UNKNOWN").otherwise("KNOWN").alias("k1"),
            F.when(F.col("tower_key") == "UNKNOWN", "UNKNOWN").otherwise("KNOWN").alias("k2"),
            F.when(F.col("date_key") == -1, "UNKNOWN").otherwise("KNOWN").alias("k3"),
        )
        .agg(
            F.sum("call_count").alias("calls"),
            F.sum(F.when(F.col("is_successful"), 1).otherwise(0)).cast("long").alias("successes"),
            F.sum("duration_seconds").cast("long").alias("aux_long"),
            F.sum("revenue_usd").cast("double").alias("revenue"),
        )
        .select(
            F.lit("fact_recon").alias("grain"),
            "k1",
            "k2",
            "k3",
            "calls",
            "successes",
            "aux_long",
            "revenue",
            F.lit(None).cast("double").alias("ratio_pct"),
        )
    )
    return tower_hour.unionByName(monthly).unionByName(recon)


# ---------------------------------------------------------------------------
# Iceberg v2 MOR DELETE round-trip (VERDICT r8 item 4): the export ->
# append -> POSITION-DELETE snapshot chain, written as real spec metadata
# (delete manifest + position-delete parquet with reserved field-ids
# 2147483546/2147483545), validated byte-level, and replayed — the rows
# back through the format must equal the surviving set computed directly.
# The reference's Iceberg bronze tables are MOR
# (/root/reference/processing/bronze/bronze_compaction.py:125-136); this
# exercises the v2 delete format they rely on.
# ---------------------------------------------------------------------------

_ICEBERG_DEL_ORACLE = """
SELECT o_orderkey AS orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
       o_orderstatus AS status
FROM orders
WHERE (o_orderkey % 5 != 0 OR o_orderkey % 10 = 0)
  AND o_orderkey % 3 != 0
"""


@register("iceberg_positional_delete_roundtrip", oracle=_ICEBERG_DEL_ORACLE, tags=("S7", "interop"))
def iceberg_positional_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg_export import (
        append_iceberg_snapshot,
        delete_iceberg_rows,
        export_iceberg_snapshot,
        read_iceberg_snapshot,
        validate_iceberg_metadata,
    )
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    base = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", price.alias("price"), F.col("o_orderstatus").alias("status")
    )
    extra = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", price.alias("price"), F.col("o_orderstatus").alias("status")
    )
    scratch = scratch_dir("iceberg_posdel", sf_dir)
    t = TxnLogTable(os.path.join(scratch, "src"), stat_cols=("o_orderkey",))
    t.create_or_replace(base)
    dest = os.path.join(scratch, "ice")
    export_iceberg_snapshot(t, spark, dest)          # snapshot 1
    append_iceberg_snapshot(extra, spark, dest)      # snapshot 2
    delete_iceberg_rows(spark, dest, "o_orderkey % 3 = 0")  # snapshot 3 (MOR)
    summary = validate_iceberg_metadata(dest, spark)
    assert summary["n_delete_files"] >= 1 and summary["n_position_deletes"] > 0
    return read_iceberg_snapshot(spark, dest).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("price").cast("double").alias("price"),
        "status",
    )


# ---------------------------------------------------------------------------
# Streaming dwell-time profile (VERDICT r8 item 9): the time-in-state
# family's streaming twin (streaming/dwell.py) through the VALUE gate.
# Per-user keyed state holds ONE pending event (µs, tie-break, state);
# each arrival closes the held event's dwell and emits it; a user's final
# event never closes — exactly the batch operator's censoring. The
# state-grain rollup over the emitted rows must equal the batch window
# query, checked against the batch query's own DuckDB oracle:
# stream ≡ batch ≡ oracle in one row set. Same staging recipe as
# attribution_stream_purchases: day-split parquet, one file per trigger,
# availableNow.
# ---------------------------------------------------------------------------


@register(
    "dwell_stream_by_event_type",
    oracle=None,  # replaced below with the batch query's oracle
    tags=("T2", "T4", "W3", "stream", "sequence"),
)
def dwell_stream_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dwell import dwell_stream

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("string").alias("tb"),
        F.col("event_type").alias("state"),
        F.date_format("ts", "dd").cast("int").alias("_d"),
    )
    sink = "dwell_stream_by_event_type_sink"
    spark.catalog.dropTempView(sink)
    staging = tempfile.mkdtemp(prefix="dwell_stream_src_")
    try:
        cols = ["user_id", "us", "tb", "state"]
        # day-split micro-batches: cross-batch event-time order holds
        ev.filter(F.col("_d") <= 15).select(*cols).coalesce(1).write.parquet(
            os.path.join(staging, "b0")
        )
        ev.filter(F.col("_d") > 15).select(*cols).coalesce(1).write.parquet(
            os.path.join(staging, "b1")
        )
        pin_staging_mtimes(staging, 2)  # deterministic trigger order
        stream = (
            spark.readStream.schema("user_id long, us long, tb string, state string")
            .option("maxFilesPerTrigger", 1)
            .parquet(staging + "/b*")
        )
        q = (
            dwell_stream(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    # state-grain rollup — the batch profile's exact expression shapes
    us_per_s = F.lit(1_000_000.0)
    return spark.table(sink).groupBy("state").agg(
        F.count(F.lit(1)).cast("long").alias("n_dwells"),
        F.round(
            F.sum("dwell_us").cast("double")
            / F.count(F.lit(1)).cast("double")
            / us_per_s,
            6,
        ).alias("mean_dwell_s"),
        F.round(F.max("dwell_us").cast("double") / us_per_s, 6).alias("max_dwell_s"),
        F.round(F.sum("dwell_us").cast("double") / us_per_s, 6).alias("total_dwell_s"),
    )


# late-bind the batch dwell query's oracle: stream ≡ batch ≡ oracle is one
# contract, not two strings that can drift
from .registry import REGISTRY as _REG  # noqa: E402
from .round11 import _DWELL_ORACLE as _DWELL_ORACLE_SHARED  # noqa: E402

_REG["dwell_stream_by_event_type"].oracle = _DWELL_ORACLE_SHARED
