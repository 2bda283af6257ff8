"""Deterministic telecom fixture generators (S10/S11 analogs).

The reference's producers (``cdr_producer.py:79-158``,
``network_probe_producer.py:35-80``, ``crm_batch_ingestor.py:77-106``)
synthesize weighted random events; here the same shapes are generated
*deterministically* from ``spark.range`` + column expressions (FIXTURES.md
schemas), including the quirks that matter to downstream operators:

- at-least-once duplicate injection (repeated event_ids with later
  ``_bronze_ingested_at``) — exercises W1 keep-latest dedup;
- multi-version CRM customers (same id, several ``updated_at``) — exercises
  keep-latest + SCD;
- tower dimension (15 rows) — the broadcast-join fixture.

Being pure column expressions over ``spark.range``, generation is itself
distributed — generating a 10⁹-row fixture is the same code path. No row
is built in Python: the tower rows are one literal array of structs
expanded by ``inline`` in the JVM, so no generator starts a Python worker
(``createDataFrame`` over a list starts them to ``parallelize`` it).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RESULT_CODES = ["0", "17", "21", "31", "38", "41"]  # cdr_producer.py:56-63
PLAN_TYPES = ["Basic", "Standard", "Premium", "Unlimited", "Business"]

TOWERS = [
    # tower_id, city, state, lat, lon (reference seeds/towers_seed.csv shape)
    ("SEA-001", "Seattle", "WA", 47.6062, -122.3321),
    ("SEA-012", "Seattle", "WA", 47.6205, -122.3493),
    ("PDX-021", "Portland", "OR", 45.5152, -122.6784),
    ("SFO-031", "San Francisco", "CA", 37.7749, -122.4194),
    ("SFO-044", "San Francisco", "CA", 37.7849, -122.4094),
    ("LAX-051", "Los Angeles", "CA", 34.0522, -118.2437),
    ("LAX-052", "Los Angeles", "CA", 34.0622, -118.2537),
    ("PHX-061", "Phoenix", "AZ", 33.4484, -112.0740),
    ("DEN-071", "Denver", "CO", 39.7392, -104.9903),
    ("MIA-077", "Miami", "FL", 25.7617, -80.1918),
    ("NYC-081", "New York", "NY", 40.7128, -74.0060),
    ("ATL-082", "Atlanta", "GA", 33.7490, -84.3880),
    ("CHI-091", "Chicago", "IL", 41.8781, -87.6298),
    ("DFW-095", "Dallas", "TX", 32.7767, -96.7970),
    ("BOS-099", "Boston", "MA", 42.3601, -71.0589),
]


_TOWER_FIELDS = "tower_id:string,tower_city:string,tower_state:string,tower_lat:double,tower_lon:double"


def _literal_rows(spark: SparkSession, rows: Sequence[tuple], fields: str) -> DataFrame:
    """``rows`` as a DataFrame built in the JVM: ``inline`` over one literal
    array of structs, cast to ``array<struct<fields>>`` for the column
    names, types and (nullable) fields ``createDataFrame`` would infer,
    without the Python workers its ``parallelize`` starts."""
    structs = F.array(*[F.struct(*[F.lit(v) for v in r]) for r in rows])
    return spark.range(0, 1, 1, 1).select(F.inline(structs.cast(f"array<struct<{fields}>>")))


def towers_dim(spark: SparkSession) -> DataFrame:
    """The static tower dimension (S8 seed analog)."""
    return _literal_rows(spark, TOWERS, _TOWER_FIELDS)


def _hash_mod(col, m: int):
    return F.pmod(F.xxhash64(col), F.lit(m))


def call_events(
    spark: SparkSession,
    n: int = 10_000,
    dup_fraction_mod: int = 10,
    start_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Bronze ``call_events`` fixture (FIXTURES.md §1) with duplicate
    injection: every ``dup_fraction_mod``-th event re-appears with a later
    ``_bronze_ingested_at`` (at-least-once redelivery).

    One ``withColumns`` per dependency level; ``plan_type`` and ``roaming``
    ride in the last one so the columns keep the bronze order."""
    seq = F.col("seq")
    result = F.col("result_idx")
    ok = F.col("call_result_code") == "0"
    base = (
        spark.range(n)
        .withColumnRenamed("id", "seq")
        .withColumns({
            "event_id": F.concat(F.lit("EVT-"), F.lpad(seq.cast("string"), 10, "0")),
            "caller_customer_id": F.concat(
                F.lit("CUST-"), F.lpad(_hash_mod(seq, max(1, n // 20)).cast("string"), 8, "0")
            ),
            "caller_msisdn": F.concat(F.lit("+1"), F.lpad((_hash_mod(seq + 1, 9_999_999_999)).cast("string"), 10, "0")),
            "called_msisdn": F.concat(F.lit("+1"), F.lpad((_hash_mod(seq + 7, 9_999_999_999)).cast("string"), 10, "0")),
            "tower_idx": _hash_mod(seq + 3, len(TOWERS)).cast("int"),
            "call_start_timestamp": F.lit(start_ts).cast("timestamp")
            + (seq * 104729 % 2_592_000) * F.expr("INTERVAL 1 SECOND"),
            "result_idx": _hash_mod(seq + 11, 100),
        })
        .withColumns({
            "call_result_code": F.when(result < 85, "0")
            .when(result < 90, "17")
            .when(result < 93, "21")
            .when(result < 96, "31")
            .when(result < 98, "38")
            .otherwise("41"),
        })
        .withColumns({"duration_seconds": F.when(ok, 5 + _hash_mod(seq + 13, 3596)).otherwise(F.lit(0))})
        .withColumns({
            "call_end_timestamp": F.when(
                ok, F.col("call_start_timestamp") + F.col("duration_seconds") * F.expr("INTERVAL 1 SECOND")
            ),
            "plan_type": F.element_at(F.array(*[F.lit(p) for p in PLAN_TYPES]), (_hash_mod(seq + 17, 5) + 1).cast("int")),
            "roaming": _hash_mod(seq + 19, 100) < 8,
            "revenue_usd": F.when(ok, F.round(F.col("duration_seconds") * 0.02, 2)).otherwise(F.lit(0.0)),
        })
    )
    # deterministic tower join: index by row order of the static seed
    towers_idx = _literal_rows(
        spark, [(i, *t) for i, t in enumerate(TOWERS)], "tower_idx:bigint," + _TOWER_FIELDS
    )
    ev = base.join(F.broadcast(towers_idx), "tower_idx").drop("tower_idx", "result_idx").withColumns({
        "event_type": F.lit("CALL"),
        "_bronze_ingested_at": F.col("call_start_timestamp") + F.expr("INTERVAL 5 MINUTE"),
    })
    dups = (
        ev.filter(seq % dup_fraction_mod == 0)
        .withColumn("_bronze_ingested_at", F.col("_bronze_ingested_at") + F.expr("INTERVAL 30 MINUTE"))
    )
    ts = F.col("call_start_timestamp")
    return (
        ev.unionByName(dups)
        .withColumns({"year": F.year(ts), "month": F.month(ts), "day": F.dayofmonth(ts)})
        .drop("seq")
    )


def crm_customers(
    spark: SparkSession, n: int = 1_000, versions_mod: int = 4
) -> DataFrame:
    """CRM batch fixture (FIXTURES.md §5): every ``versions_mod``-th customer
    has two versions with different ``updated_at`` (keep-latest fodder).
    One ``withColumns`` per dependency level, placed as in ``call_events``
    to keep the column order."""
    seq = F.col("seq")
    s = seq.cast("string")
    churn = _hash_mod(seq + 41, 100)
    base = (
        spark.range(n)
        .withColumnRenamed("id", "seq")
        .withColumns({
            "customer_id": F.concat(F.lit("CUST-"), F.lpad(s, 8, "0")),
            "first_name": F.concat(F.lit("First"), s),
            "last_name": F.concat(F.lit("Last"), s),
            "email": F.concat(F.lit("user"), s, F.lit("@example.com")),
            "phone_number": F.concat(F.lit("+1206555"), F.lpad((seq % 10000).cast("string"), 4, "0")),
            "plan_tier": F.element_at(F.array(F.lit("Basic"), F.lit("Standard"), F.lit("Premium"), F.lit("Unlimited"), F.lit("BusinessPro")), (_hash_mod(seq + 23, 5) + 1).cast("int")),
            "plan_fee": (F.pmod(_hash_mod(seq + 29, 5), F.lit(5)) * 30 + 30).cast("int"),
        })
        .withColumns({
            "plan_code": F.concat(F.col("plan_tier"), F.lit("_"), F.col("plan_fee").cast("string")),
            "is_active": _hash_mod(seq + 31, 100) < 92,
            "nps_score": (_hash_mod(seq + 37, 201) - 100).cast("int"),
            "churn_risk": F.when(churn < 60, "LOW").when(churn < 85, "MEDIUM").otherwise("HIGH"),
            "updated_at": F.lit("2024-01-01 00:00:00").cast("timestamp") + (seq % 86400) * F.expr("INTERVAL 1 SECOND"),
        })
        .withColumns({"_ingested_at": F.col("updated_at") + F.expr("INTERVAL 1 HOUR")})
    )
    v2 = base.filter(seq % versions_mod == 0).withColumns({
        "updated_at": F.col("updated_at") + F.expr("INTERVAL 2 DAY"),
        "_ingested_at": F.col("_ingested_at") + F.expr("INTERVAL 2 DAY"),
        "churn_risk": F.lit("HIGH"),
    })
    return base.unionByName(v2).drop("seq")
