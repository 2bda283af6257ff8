"""The telecom medallion pipeline: Bronze → Silver → Gold on fixture data.

Reproduces the reference's dbt model chain end-to-end as Spark stages
(SURVEY.md §1.4 catalog):

- Bronze: generated call events + CRM batch, landed as hive-partitioned
  parquet (kafka_to_bronze.py layout).
- Silver: keep-latest dedup (W1), validity filters (P3), type pins, derived
  flags and decodes (silver_calls.sql:40-119; silver_customers.sql:7-91).
- Gold: masked SCD2-shaped dim_customers (dim_customers.sql), dim_towers
  with region mapping + capacity tier (dim_towers.sql), date spine dim
  (dim_date.sql), fact_calls star join with surrogate keys + UNKNOWN
  sentinels (fact_calls.sql), hourly tower rollup and monthly customer
  rollup (agg_*.sql).
- Quality gate: dbt-style checks that must pass before "publish".

All dimension joins broadcast; fact-side transforms are shuffle-free except
the dedup exchange; aggregates are single hash-agg shuffles. The pipeline
writes real partitioned parquet between layers, so partition pruning and
schema behavior are exercised, not simulated. Every table goes through one
``write`` (one file per partition value) and comes back through one
``read`` with the schema recorded at write time, so no stage runs a
schema-inference job.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.keys import record_hash, surrogate_key
from ..functions.masking import mask_email, mask_name, mask_phone
from ..operators.dedup import dedup_keep_latest
from ..operators.joins import broadcast_star_join
from ..quality.checks import (
    expect_accepted_values,
    expect_expression,
    expect_not_null,
    expect_relationships,
    expect_unique,
    run_checks,
)
from ..sources.generators import call_events, crm_customers, towers_dim
from ..sources.table_format import ParquetDirSink
from ..sources.writers import written_schema
from .pipeline import PipelineDAG, Stage

# Kept in a pipeline's base directory: the schema of every table ``write`` wrote.
SCHEMAS_FILE = "_schemas.json"

RESULT_DESC = {
    "0": "SUCCESS",
    "17": "BUSY",
    "21": "REJECTED",
    "31": "NETWORK_FAILURE",
    "38": "NETWORK_OUT_OF_ORDER",
    "41": "TEMPORARY_FAILURE",
}

REGION_MAP = {
    "WA": "WEST", "OR": "WEST", "CA": "WEST", "AZ": "WEST",
    "CO": "CENTRAL", "TX": "CENTRAL", "IL": "CENTRAL",
    "FL": "EAST", "NY": "EAST", "GA": "EAST", "MA": "EAST",
}


def _silver_calls(bronze: DataFrame) -> DataFrame:
    """Bronze call events -> silver calls (silver_calls.sql:40-119):
    keep-latest dedup on ``event_id``, the validity filter, the result-code
    decode and the typed projection, with the ``year``/``month`` partition
    columns derived from the call date."""
    deduped = dedup_keep_latest(
        bronze,
        keys=["event_id"],
        order_by=[F.col("_bronze_ingested_at").desc(), F.col("call_start_timestamp").desc()],
    )
    valid = deduped.filter(
        F.col("event_id").isNotNull()
        & F.col("caller_msisdn").isNotNull()
        & F.col("tower_id").isNotNull()
        & (F.col("duration_seconds") >= 0)
    )
    desc_expr = F.coalesce(
        *[F.when(F.col("call_result_code") == k, v) for k, v in RESULT_DESC.items()],
        F.concat(F.lit("UNKNOWN_"), F.col("call_result_code")),
    )
    silver = valid.select(
        F.col("event_id").alias("call_id"),
        F.col("caller_customer_id").alias("customer_id"),
        "caller_msisdn",
        "called_msisdn",
        "tower_id",
        F.col("call_start_timestamp").alias("call_start_ts"),
        F.col("call_end_timestamp").alias("call_end_ts"),
        F.col("call_start_timestamp").cast("date").alias("call_date"),
        F.col("duration_seconds").cast("bigint").alias("duration_seconds"),
        F.round(F.col("duration_seconds") / 60.0, 2).alias("duration_minutes"),
        "call_result_code",
        desc_expr.alias("call_result_desc"),
        (F.col("call_result_code") == "0").alias("is_successful"),
        (F.col("duration_seconds") == 0).alias("is_zero_duration"),
        "plan_type",
        F.col("roaming").cast("boolean").alias("roaming"),
        F.col("revenue_usd").cast("decimal(12,4)").alias("revenue_usd"),
        "_bronze_ingested_at",
    )
    return silver.withColumns({"year": F.year("call_date"), "month": F.month("call_date")})


class MedallionPipeline:
    """Bronze→Silver→Gold over a base directory; each layer is real parquet."""

    def __init__(self, spark: SparkSession, base_dir: str, n_events: int = 10_000, n_customers: int = 500):
        self.spark = spark
        self.base = base_dir
        self.n_events = n_events
        self.n_customers = n_customers

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.base, layer, table)

    def _schemas(self) -> dict[str, str]:
        """``"layer.table"`` -> the JSON schema a read of that table returns,
        as recorded in ``SCHEMAS_FILE`` under the base directory."""
        try:
            with open(os.path.join(self.base, SCHEMAS_FILE)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def write(self, df: DataFrame, layer: str, table: str, partition_cols: Sequence[str] = ()) -> None:
        """Every table is written here, through the parquet sink, and the
        schema a read of it returns is recorded in the base directory, so
        any later pipeline over that directory reads it back without
        inference."""
        ParquetDirSink().create_or_replace(df, self.path(layer, table), partition_cols)
        schemas = self._schemas()
        schemas[f"{layer}.{table}"] = written_schema(df.schema, partition_cols).json()
        tmp = os.path.join(self.base, SCHEMAS_FILE + ".tmp")
        with open(tmp, "w") as f:
            json.dump(schemas, f)
        os.replace(tmp, os.path.join(self.base, SCHEMAS_FILE))

    def read(self, layer: str, table: str) -> DataFrame:
        """Read a table written by ``write`` with the schema recorded then:
        no schema-inference job, and no fallback to one."""
        key = f"{layer}.{table}"
        schema = self._schemas().get(key)
        if schema is None:
            raise ValueError(f"{key} was not written by a pipeline over {self.base}: its schema is unknown")
        return self.spark.read.schema(StructType.fromJson(json.loads(schema))).parquet(self.path(layer, table))

    # -- Bronze ----------------------------------------------------------
    def ingest_bronze(self) -> None:
        ev = call_events(self.spark, n=self.n_events)
        self.write(ev, "bronze", "call_events", ("year", "month", "day"))
        self.write(crm_customers(self.spark, n=self.n_customers), "bronze", "crm_customers")

    # -- Silver ----------------------------------------------------------
    def build_silver_calls(self) -> None:
        self.write(_silver_calls(self.read("bronze", "call_events")), "silver", "calls", ("year", "month"))

    def build_silver_customers(self) -> None:
        crm = self.read("bronze", "crm_customers")
        latest = dedup_keep_latest(
            crm, keys=["customer_id"], order_by=[F.col("updated_at").desc(), F.col("_ingested_at").desc()]
        )
        silver = latest.select(
            "customer_id",
            "first_name",
            "last_name",
            "email",
            "phone_number",
            "plan_code",
            F.split_part(F.col("plan_code"), F.lit("_"), F.lit(1)).alias("plan_tier"),
            F.split_part(F.col("plan_code"), F.lit("_"), F.lit(2)).cast("decimal(10,2)").alias("plan_monthly_fee_usd"),
            F.col("is_active").cast("boolean").alias("is_active"),
            F.col("nps_score").cast("int").alias("nps_score"),
            "churn_risk",
            F.col("updated_at").cast("timestamp").alias("crm_updated_at"),
        )
        self.write(silver, "silver", "customers")

    # -- Gold ------------------------------------------------------------
    def build_dim_customers(self) -> None:
        s = self.read("silver", "customers")
        dim = s.select(
            surrogate_key("customer_id").alias("customer_key"),
            "customer_id",
            mask_name("first_name").alias("first_name_masked"),
            mask_name("last_name").alias("last_name_masked"),
            mask_email("email").alias("email_masked"),
            mask_phone("phone_number").alias("phone_masked"),
            "plan_code",
            "plan_tier",
            "plan_monthly_fee_usd",
            "is_active",
            "churn_risk",
            F.when(F.col("nps_score") >= 9 * 10, "PROMOTER")
            .when(F.col("nps_score") >= 7 * 10, "PASSIVE")
            .otherwise("DETRACTOR")
            .alias("nps_segment"),
            record_hash("plan_code", "is_active", "churn_risk").alias("_record_hash"),
            F.col("crm_updated_at").alias("effective_start_date"),
            F.lit(None).cast("timestamp").alias("effective_end_date"),
            F.lit(True).alias("is_current"),
        )
        self.write(dim, "gold", "dim_customers")

    def build_dim_towers(self) -> None:
        t = towers_dim(self.spark)
        region = F.coalesce(
            *[F.when(F.col("tower_state") == k, v) for k, v in REGION_MAP.items()],
            F.lit("OTHER"),
        )
        dim = t.select(
            surrogate_key("tower_id").alias("tower_key"),
            "tower_id",
            "tower_city",
            "tower_state",
            region.alias("region"),
            F.col("tower_lat").cast("decimal(9,6)").alias("latitude"),
            F.col("tower_lon").cast("decimal(9,6)").alias("longitude"),
        )
        self.write(dim, "gold", "dim_towers")

    def build_dim_date(self) -> None:
        spine = self.spark.sql(
            "SELECT explode(sequence(to_date('2024-01-01'), to_date('2024-12-31'), interval 1 day)) AS full_date"
        )
        d = F.col("full_date")
        dim = spine.select(
            F.date_format(d, "yyyyMMdd").cast("int").alias("date_key"),
            d,
            F.year(d).alias("year"),
            F.quarter(d).alias("quarter"),
            F.month(d).alias("month"),
            F.date_format(d, "MMMM").alias("month_name"),
            F.dayofweek(d).alias("day_of_week"),
            F.date_format(d, "EEEE").alias("day_name"),
            F.dayofweek(d).isin(1, 7).alias("is_weekend"),
            F.date_format(d, "yyyy-MM").alias("year_month"),
        )
        self.write(dim, "gold", "dim_date")

    def build_fact_calls(self) -> None:
        calls = self.read("silver", "calls")
        dim_c = self.read("gold", "dim_customers").filter("is_current").select(
            "customer_key", "customer_id"
        )
        dim_t = self.read("gold", "dim_towers").select("tower_key", "tower_id")
        dim_d = self.read("gold", "dim_date").select("date_key", "full_date")
        joined = broadcast_star_join(
            calls,
            [
                (dim_c, "customer_id", "left"),
                (dim_t, "tower_id", "left"),
                (dim_d, calls["call_date"] == dim_d["full_date"], "left"),
            ],
        )
        fact = joined.select(
            surrogate_key("call_id", "customer_id").alias("call_fact_key"),
            "call_id",
            F.coalesce("customer_key", F.lit("UNKNOWN")).alias("customer_key"),
            F.coalesce("tower_key", F.lit("UNKNOWN")).alias("tower_key"),
            F.coalesce("date_key", F.lit(-1)).alias("date_key"),
            "call_start_ts",
            "call_date",
            "duration_seconds",
            F.col("duration_minutes").cast("decimal(12,4)").alias("duration_minutes"),
            "is_successful",
            "roaming",
            F.col("revenue_usd").cast("decimal(12,4)").alias("revenue_usd"),
            F.lit(1).cast("bigint").alias("call_count"),
        )
        self.write(
            fact.withColumns({"year": F.year("call_date"), "month": F.month("call_date")}),
            "gold",
            "fact_calls",
            ("year", "month"),
        )

    def build_agg_tower_hourly(self) -> None:
        calls = self.read("silver", "calls")
        agg = (
            calls.groupBy(
                "tower_id", F.date_trunc("hour", "call_start_ts").alias("measurement_hour")
            )
            .agg(
                F.count(F.lit(1)).alias("total_call_attempts"),
                F.sum(F.when(F.col("is_successful"), 1).otherwise(0)).cast("long").alias("successful_calls"),
                F.sum(F.when(~F.col("is_successful"), 1).otherwise(0)).cast("long").alias("failed_calls"),
                F.sum("duration_seconds").alias("total_duration_seconds"),
                F.sum("revenue_usd").cast("decimal(18,4)").alias("total_revenue_usd"),
            )
            .withColumn(
                "success_rate_pct",
                F.round(
                    F.when(
                        F.col("total_call_attempts") > 0,
                        F.col("successful_calls").cast("double") * 100 / F.col("total_call_attempts"),
                    ),
                    2,
                ),
            )
        )
        self.write(agg, "gold", "agg_tower_hourly")

    def build_agg_customer_monthly(self) -> None:
        calls = self.read("silver", "calls")
        dim_c = self.read("gold", "dim_customers").filter("is_current")
        monthly = (
            calls.groupBy("customer_id", F.date_format("call_date", "yyyy-MM").alias("year_month"))
            .agg(
                F.count(F.lit(1)).alias("total_calls"),
                F.sum(F.when(F.col("is_successful"), 1).otherwise(0)).cast("long").alias("successful_calls"),
                F.sum(F.when(F.col("roaming"), 1).otherwise(0)).cast("long").alias("roaming_calls"),
                F.sum("revenue_usd").cast("decimal(18,4)").alias("total_revenue_usd"),
            )
        )
        joined = dim_c.select("customer_key", "customer_id", "plan_tier").join(
            monthly, "customer_id", "left"
        ).filter(F.col("year_month").isNotNull())
        self.write(joined, "gold", "agg_customer_monthly")

    # -- Incremental refresh (M1 + P4 + S12 composed) --------------------
    def incremental_silver_calls(self, lookback_days: int = 3) -> None:
        """Refresh silver from bronze incrementally: only bronze rows newer
        than silver's high-water mark (minus the late-data lookback,
        dbt_project.yml:53) are re-processed, then MERGEd on call_id with
        keep-latest semantics — the dbt incremental model's exact shape."""
        bronze = self.read("bronze", "call_events")
        existing = self.read("silver", "calls")
        hwm = existing.agg(F.max("_bronze_ingested_at")).collect()[0][0]
        fresh = bronze.filter(
            F.col("_bronze_ingested_at") > F.lit(hwm) - F.expr(f"INTERVAL {lookback_days} DAYS")
        )
        # MERGE through the table-format contract (S7): the parquet sink
        # resolves keep-latest and swaps via rename-aside; a Delta/Iceberg
        # sink executes a real MERGE INTO behind the same call.
        sink = ParquetDirSink(partition_by=("year", "month"))
        sink.merge_keep_latest(
            self.spark,
            self.path("silver", "calls"),
            _silver_calls(fresh),
            keys=["call_id"],
            order_by=[F.col("_bronze_ingested_at").desc()],
        )

    # -- Quality gate ----------------------------------------------------
    def quality_gate(self) -> list:
        calls = self.read("silver", "calls")
        fact = self.read("gold", "fact_calls")
        dim_c = self.read("gold", "dim_customers")
        results = run_checks(
            {
                "silver_calls_call_id_unique": expect_unique(calls, ["call_id"]),
                "silver_calls_not_null": expect_not_null(calls, ["call_id", "caller_msisdn", "tower_id"]),
                "silver_calls_result_desc_accepted": expect_accepted_values(
                    calls, "call_result_desc", list(RESULT_DESC.values())
                ),
                "silver_calls_duration_non_negative": expect_expression(calls, "duration_seconds >= 0"),
                "no_negative_revenue": expect_expression(fact, "revenue_usd >= 0"),
                "fact_customer_fk": expect_relationships(
                    fact.filter(F.col("customer_key") != "UNKNOWN"),
                    dim_c,
                    {"customer_key": "customer_key"},
                ),
            },
            severities={"fact_customer_fk": "warn"},
        )
        failed = [r for r in results if not r.passed]
        if failed:
            raise AssertionError(f"quality gate failed: {failed}")
        return results

    # -- DAG -------------------------------------------------------------
    def dag(self) -> PipelineDAG:
        return (
            PipelineDAG()
            .add(Stage("ingest_bronze", [], ["bronze.call_events", "bronze.crm_customers"], self.ingest_bronze, "ingest"))
            .add(Stage("silver_calls", ["bronze.call_events"], ["silver.calls"], self.build_silver_calls))
            .add(Stage("silver_customers", ["bronze.crm_customers"], ["silver.customers"], self.build_silver_customers))
            .add(Stage("dim_customers", ["silver.customers"], ["gold.dim_customers"], self.build_dim_customers))
            .add(Stage("dim_towers", [], ["gold.dim_towers"], self.build_dim_towers))
            .add(Stage("dim_date", [], ["gold.dim_date"], self.build_dim_date))
            .add(
                Stage(
                    "fact_calls",
                    ["silver.calls", "gold.dim_customers", "gold.dim_towers", "gold.dim_date"],
                    ["gold.fact_calls"],
                    self.build_fact_calls,
                )
            )
            .add(Stage("agg_tower_hourly", ["silver.calls"], ["gold.agg_tower_hourly"], self.build_agg_tower_hourly))
            .add(
                Stage(
                    "agg_customer_monthly",
                    ["silver.calls", "gold.dim_customers"],
                    ["gold.agg_customer_monthly"],
                    self.build_agg_customer_monthly,
                )
            )
            .add(
                Stage(
                    "quality_gate",
                    ["silver.calls", "gold.fact_calls", "gold.dim_customers"],
                    ["published"],
                    lambda: self.quality_gate(),
                    "quality_gate",
                )
            )
        )

    def run(self) -> list[str]:
        return self.dag().run()
