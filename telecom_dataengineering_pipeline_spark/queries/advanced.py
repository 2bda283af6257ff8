"""Advanced relational coverage: as-of/range joins (J5), exact quantile
distribution checks (A11), regex validation (F21), CSV seed source (S8).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.decimals import dec
from ..operators.asof import asof_join, range_join
from ..operators.dedup import dedup_keep_latest
from ..sources.catalog import load_table
from .registry import register
from ..lineage import lineage_cut

# ---------------------------------------------------------------------------
# J5a: as-of join — each event picks up the customer's latest "price change"
# at or before the event time. Change stream is derived deterministically
# from orders, remapped into the events' month so matches actually vary over
# time. Oracle uses DuckDB's native ASOF JOIN against our union+window
# implementation (operators/asof.py) — two independent algorithms.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH changes AS (
  SELECT o_custkey AS user_id,
         TIMESTAMP '2024-01-01' + INTERVAL (datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 30) DAY AS change_ts,
         max(o_orderkey) AS ref_orderkey,
         max_by(o_totalprice, o_orderkey) AS ref_price
  FROM orders WHERE o_orderkey % 7 = 0
  GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       strftime(date_trunc('second', e.ts), '%Y-%m-%d %H:%M:%S') AS event_second,
       c.ref_orderkey, c.ref_price
FROM events e ASOF LEFT JOIN changes c
  ON e.user_id = c.user_id AND e.ts >= c.change_ts
"""


@register("asof_join_price_changes", oracle=_ASOF_ORACLE, tags=("J5",), bench=True)
def asof_join_price_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    changes = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            (
                F.lit("2024-01-01").cast("timestamp")
                + F.expr(
                    "make_interval(0, 0, 0, datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') % 30, 0, 0, 0)"
                )
            ).alias("change_ts"),
        )
        .agg(
            F.max("o_orderkey").alias("ref_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("ref_price"),
        )
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        changes,
        key="user_id",
        left_ts="ts",
        right_ts="change_ts",
        value_cols=["ref_orderkey", "ref_price"],
        tie_break="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format(F.date_trunc("second", "ts"), "yyyy-MM-dd HH:mm:ss").alias("event_second"),
        "ref_orderkey",
        "ref_price",
    )


# ---------------------------------------------------------------------------
# J5b: the literal SCD2 range-join pattern (dim_customers.sql:11-15):
# point BETWEEN start AND COALESCE(end, far-future). Two synthetic versions
# per customer split at 2024-01-16.
# ---------------------------------------------------------------------------

_RANGE_ORACLE = """
WITH versions AS (
  SELECT c_custkey AS user_id, 1 AS version,
         TIMESTAMP '2024-01-01' AS eff_start, TIMESTAMP '2024-01-16' AS eff_end,
         c_mktsegment AS segment
  FROM customer
  UNION ALL
  SELECT c_custkey, 2, TIMESTAMP '2024-01-16', NULL, concat(c_mktsegment, '_V2')
  FROM customer
)
SELECT e.event_id, e.user_id, v.version, v.segment
FROM events e
LEFT JOIN versions v
  ON e.user_id = v.user_id
 AND e.ts >= v.eff_start
 AND e.ts < coalesce(v.eff_end, TIMESTAMP '9999-12-31')
"""


@register("range_join_scd_versions", oracle=_RANGE_ORACLE, tags=("J5", "P7"))
def range_join_scd_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        F.col("c_custkey").alias("user_id"),
        F.lit(1).alias("version"),
        F.lit("2024-01-01").cast("timestamp").alias("eff_start"),
        F.lit("2024-01-16").cast("timestamp").alias("eff_end"),
        F.col("c_mktsegment").alias("segment"),
    )
    v2 = c.select(
        F.col("c_custkey").alias("user_id"),
        F.lit(2).alias("version"),
        F.lit("2024-01-16").cast("timestamp").alias("eff_start"),
        F.lit(None).cast("timestamp").alias("eff_end"),
        F.concat(F.col("c_mktsegment"), F.lit("_V2")).alias("segment"),
    )
    versions = v1.unionByName(v2)
    left = ev.select("event_id", F.col("user_id").alias("e_user"), "ts")
    cond = (
        (left["e_user"] == versions["user_id"])
        & (left["ts"] >= versions["eff_start"])
        & (left["ts"] < F.coalesce(versions["eff_end"], F.lit("9999-12-31").cast("timestamp")))
    )
    return left.join(versions, cond, "left").select(
        "event_id", F.col("e_user").alias("user_id"), "version", "segment"
    )


# ---------------------------------------------------------------------------
# A11: distribution checks — exact median / p90 / mean per group (GX
# ExpectColumnMedianToBeBetween etc., great_expectations_suite.py:126-138).
# Exact percentile (not approx) so the DuckDB quantile_cont oracle matches.
# ---------------------------------------------------------------------------

_DIST_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 4) AS median_value,
       round(quantile_cont(value, 0.9), 4) AS p90_value,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS mean_value,
       (quantile_cont(value, 0.5) BETWEEN 30 AND 600) AS median_in_expected_range
FROM events GROUP BY event_type
"""


@register("value_distribution_check", oracle=_DIST_ORACLE, tags=("A11", "DQ"))
def value_distribution_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = F.percentile("value", F.lit(0.5))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(med, 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
        (F.sum(dec("value")).cast("double") / F.count("value")).alias("mean_value"),
        med.between(30, 600).alias("median_in_expected_range"),
    )


# ---------------------------------------------------------------------------
# F21: regex format validation (GX MSISDN regex ^\+1\d{10}$,
# great_expectations_suite.py:70-75) on synthesized phone numbers with a
# deterministic 5% invalid slice.
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
WITH phones AS (
  SELECT c_custkey AS custkey,
         CASE WHEN c_custkey % 20 = 0
              THEN concat('+1', lpad(CAST(c_custkey * 7919 % 999999999 AS VARCHAR), 9, '0'))
              ELSE concat('+1', lpad(CAST(c_custkey * 7919 % 9999999999 AS VARCHAR), 10, '0'))
         END AS msisdn
  FROM customer
)
SELECT custkey, msisdn,
       regexp_matches(msisdn, '^\\+1[0-9]{10}$') AS is_valid_format
FROM phones
"""


@register("msisdn_format_validation", oracle=_REGEX_ORACLE, tags=("F21", "DQ"))
def msisdn_format_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    ten = F.lpad((F.col("c_custkey") * 7919 % 9999999999).cast("string"), 10, "0")
    nine = F.lpad((F.col("c_custkey") * 7919 % 999999999).cast("string"), 9, "0")
    msisdn = F.when(F.col("c_custkey") % 20 == 0, F.concat(F.lit("+1"), nine)).otherwise(
        F.concat(F.lit("+1"), ten)
    )
    return c.select(
        F.col("c_custkey").alias("custkey"),
        msisdn.alias("msisdn"),
        msisdn.rlike(r"^\+1[0-9]{10}$").alias("is_valid_format"),
    )


# ---------------------------------------------------------------------------
# S8: CSV seed source (dbt seed; towers_seed.csv) with an explicit pinned
# schema — no inference — plus the dim_towers region/tier derivations
# (dim_towers.sql:27-47).
# ---------------------------------------------------------------------------

SEED_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "towers_seed.csv")

TOWER_SEED_SCHEMA = StructType(
    [
        StructField("tower_id", StringType()),
        StructField("city", StringType()),
        StructField("state", StringType()),
        StructField("latitude", DecimalType(9, 6)),
        StructField("longitude", DecimalType(9, 6)),
        StructField("tower_type", StringType()),
        StructField("capacity_erlangs", IntegerType()),
        StructField("is_active", BooleanType()),
    ]
)

_CSV_ORACLE = f"""
SELECT tower_id, city, state,
       CAST(latitude AS DOUBLE) AS latitude,
       CAST(longitude AS DOUBLE) AS longitude,
       tower_type,
       capacity_erlangs,
       CASE
         WHEN state IN ('WA', 'OR', 'CA', 'AZ') THEN 'WEST'
         WHEN state IN ('CO', 'TX', 'IL') THEN 'CENTRAL'
         ELSE 'EAST'
       END AS region,
       CASE
         WHEN capacity_erlangs >= 1000 THEN 'HIGH_CAPACITY'
         WHEN capacity_erlangs >= 600 THEN 'MEDIUM_CAPACITY'
         ELSE 'STANDARD'
       END AS capacity_tier,
       is_active
FROM read_csv('{SEED_PATH}', header=true, columns={{
  'tower_id': 'VARCHAR', 'city': 'VARCHAR', 'state': 'VARCHAR',
  'latitude': 'DECIMAL(9,6)', 'longitude': 'DECIMAL(9,6)',
  'tower_type': 'VARCHAR', 'capacity_erlangs': 'INTEGER', 'is_active': 'BOOLEAN'
}})
"""


@register("csv_seed_dim_towers", oracle=_CSV_ORACLE, tags=("S8", "F2"))
def csv_seed_dim_towers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = spark.read.option("header", True).schema(TOWER_SEED_SCHEMA).csv(SEED_PATH)
    return t.select(
        "tower_id",
        "city",
        "state",
        F.col("latitude").cast("double").alias("latitude"),
        F.col("longitude").cast("double").alias("longitude"),
        "tower_type",
        "capacity_erlangs",
        F.when(F.col("state").isin("WA", "OR", "CA", "AZ"), "WEST")
        .when(F.col("state").isin("CO", "TX", "IL"), "CENTRAL")
        .otherwise("EAST")
        .alias("region"),
        F.when(F.col("capacity_erlangs") >= 1000, "HIGH_CAPACITY")
        .when(F.col("capacity_erlangs") >= 600, "MEDIUM_CAPACITY")
        .otherwise("STANDARD")
        .alias("capacity_tier"),
        "is_active",
    )


# ---------------------------------------------------------------------------
# CUBE grouping (beyond the reference, which has no grouping sets): all
# (returnflag × linestatus) subtotal combinations with 'ALL' labels — the
# pre-aggregated dashboard cube pattern.
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("lineitem_cube_rollup", oracle=_CUBE_ORACLE, tags=("cube",))
def lineitem_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_extendedprice", 12, 2)).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_price",
        )
    )


# ---------------------------------------------------------------------------
# Funnel analysis: strict-order view → click → purchase per user. Chained
# earliest-after-previous-stage aggregations, every one keyed on user_id —
# the exchanges reuse one partitioning. Timestamps compare as epoch
# microseconds on both engines (events.ts is nanos parquet; Spark floors).
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN us END) AS t1 FROM e GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.us) AS t2
  FROM e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL AND e.us > s1.t1
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.us) AS t3
  FROM e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us > s2.t2
  GROUP BY 1
)
SELECT s1.user_id,
       CASE WHEN s3.t3 IS NOT NULL THEN 3
            WHEN s2.t2 IS NOT NULL THEN 2
            WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage,
       s1.t1 AS view_us, s2.t2 AS click_us, s3.t3 AS purchase_us
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id
"""


@register("user_funnel_stages", oracle=_FUNNEL_ORACLE, tags=("W3", "funnel"))
def user_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t1")
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1.filter(F.col("t1").isNotNull()), "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            stage.cast("int").alias("funnel_stage"),
            F.col("t1").alias("view_us"),
            F.col("t2").alias("click_us"),
            F.col("t3").alias("purchase_us"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, distinct-user
# counts per week offset — the standard retention triangle.
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH f AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
), a AS (
  SELECT e.user_id,
         strftime(date_trunc('week', f.first_day), '%Y-%m-%d') AS cohort_week,
         CAST(floor(date_diff('day', f.first_day, CAST(e.ts AS DATE)) / 7) AS INTEGER) AS week_offset
  FROM events e JOIN f ON f.user_id = e.user_id
)
SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
FROM a GROUP BY 1, 2
"""


@register("cohort_retention_triangle", oracle=_COHORT_ORACLE, tags=("A4", "cohort"))
def cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("day"))
    f = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    a = e.join(f, "user_id").select(
        "user_id",
        F.date_format(F.date_trunc("week", "first_day"), "yyyy-MM-dd").alias("cohort_week"),
        F.floor(F.datediff("day", "first_day") / 7).cast("int").alias("week_offset"),
    )
    return a.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# S13: JDBC source — a REAL JDBC engine (embedded Derby, which ships on
# Spark's own classpath) stands in for the reference's Postgres catalog
# (infrastructure/docker/trino/etc/catalog/postgresql.properties:1-4).
# The query round-trips the region dim through JDBC and reads it back as a
# partitioned scan with the filter pushed into the remote WHERE clause.
# ---------------------------------------------------------------------------

_JDBC_ORACLE = """
SELECT r_regionkey, r_name FROM region WHERE r_regionkey >= 1
"""


@register("jdbc_source_contract", oracle=_JDBC_ORACLE, tags=("S13",))
def jdbc_source_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.jdbc import derby_url, read_jdbc, write_jdbc

    region = load_table(spark, sf_dir, "region")
    # Embedded Derby allows ONE booting JVM per database directory — key the
    # path by pid so concurrent harness processes (oracle_check alongside
    # pytest, parallel CI shards) don't collide on a machine-global path.
    url = derby_url(
        os.path.join(tempfile.gettempdir(), f"spark_graft_jdbc_{os.getpid()}", "region_db")
    )
    write_jdbc(region, url, "region_t", column_types="r_name VARCHAR(64)")
    df = read_jdbc(
        spark,
        url,
        "region_t",
        partition_column="r_regionkey",
        lower_bound=0,
        upper_bound=5,
        num_partitions=2,
    )
    return df.filter(F.col("r_regionkey") >= 1).select("r_regionkey", "r_name")


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction (operators/bloom.py): the dim side's key
# set compresses to 64 literal longs; the fact side is pre-filtered by pure
# bit-test expressions (no join, no shuffle) before the exact join. The
# query measures the filter itself: per priority, orders scanned, orders
# passing the bloom, and true matches — so no-false-negatives and the
# false-positive margin are value-checked, with the oracle rebuilding the
# identical filter from the position-set side.
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = """
WITH bkeys AS (SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
idx AS (SELECT unnest(range(0, 4)) AS i),
pos AS (
  SELECT DISTINCT ('0x'||substr(md5('bloom_' || CAST(i AS VARCHAR) || '_' || CAST(c_custkey AS VARCHAR)),1,8))::BIGINT % 4096 AS p
  FROM bkeys CROSS JOIN idx
),
opos AS (
  SELECT o_orderkey, ('0x'||substr(md5('bloom_' || CAST(i AS VARCHAR) || '_' || CAST(o_custkey AS VARCHAR)),1,8))::BIGINT % 4096 AS p
  FROM orders CROSS JOIN idx
),
hits AS (
  SELECT o_orderkey, count(pos.p) AS nhit
  FROM opos LEFT JOIN pos ON pos.p = opos.p
  GROUP BY 1
)
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN h.nhit = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(sum(CASE WHEN b.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match
FROM orders o
JOIN hits h ON h.o_orderkey = o.o_orderkey
LEFT JOIN bkeys b ON b.c_custkey = o.o_custkey
GROUP BY 1
"""


@register("bloom_semi_join_stats", oracle=_BLOOM_ORACLE, tags=("J1", "J6", "sketch"), bench=True)
def bloom_semi_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_build, bloom_might_contain

    dim = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    words = bloom_build(dim, "c_custkey", m_bits=4096, k=4)
    keys = dim.select("c_custkey").distinct()
    flagged = o.withColumn(
        "_bloom", bloom_might_contain(F.col("o_custkey"), words, m_bits=4096, k=4)
    ).join(F.broadcast(keys), o["o_custkey"] == keys["c_custkey"], "left")
    return flagged.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("_bloom"), 1).otherwise(0)).cast("long").alias("n_bloom_pass"),
        F.sum(F.when(F.col("c_custkey").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_true_match"),
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics (operators/graph.py): fixed-point PageRank on
# the bipartite customer<->supplier purchase graph. Integer fixed-point
# arithmetic keeps every iteration exact and engine-neutral, so 3 unrolled
# iterations match the oracle's unrolled CTEs hash-exact — no float drift.
# ---------------------------------------------------------------------------


def _pagerank_oracle(iters: int = 3) -> str:
    parts = [
        """WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        prev = "r0" if i == 1 else f"i{i - 1}"
        parts.append(
            f""",
i{i} AS (
  SELECT n.node,
         CAST(150000000000 + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank_fp // d.outdeg) AS s
    FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY 1
  ) s ON s.node = n.node
)"""
        )
    parts.append(
        f"""
SELECT node, rank_fp FROM i{iters} ORDER BY rank_fp DESC, node ASC LIMIT 20"""
    )
    return "".join(parts)


@register("pagerank_purchase_graph", oracle=_pagerank_oracle(), tags=("LLM", "iterative", "graph"), bench=True)
def pagerank_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most central parties in the purchase graph after 3 PageRank
    iterations. Scale shape: per iteration one shuffle of edges on src (the
    rank join) + one map-side-combined sum on dst; ranks never collect, the
    iteration count is fixed, and the final top-k is TakeOrderedAndProject
    — the Pregel cost model, not an adjacency-matrix one."""
    from ..operators.graph import pagerank_fixed_point

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # Node ids ride the whole fixed-point as LONGS (customer 2k, supplier
    # 2k+1 — disjoint by parity) and decode to the "c<id>"/"s<id>" labels
    # only on the 20 output rows: ranks are id-value-independent, so the
    # narrow encoding changes nothing downstream while every shuffle,
    # sort, and join key in the iteration spine drops from a string to 8
    # bytes (decomposed at sf0.1: the spine, not the iterations, was ~90%
    # of the query). The final ORDER BY uses the DECODED label, so the
    # rank/tie-break contract vs the oracle is unchanged.
    from ..operators.graph import parity_decode, parity_encode

    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            parity_encode("o_custkey", odd=False).alias("src"),
            parity_encode("l_suppkey", odd=True).alias("dst"),
        )
        .distinct()
    )
    # Both directions via map-side explode (a union of a swapped projection
    # would re-execute the distinct aggregate for the second branch).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    ranks = pagerank_fixed_point(edges, iters=3)
    decoded = ranks.select(
        parity_decode("node", "c", "s").alias("node"),
        "rank_fp",
    )
    return decoded.orderBy(F.col("rank_fp").desc(), F.col("node").asc()).limit(20)


# ---------------------------------------------------------------------------
# Triangle counting (operators/graph.py::triangle_counts) on the part
# co-purchase graph. The Spark side uses degree-ordered orientation (each
# triangle found exactly once at its lowest-degree vertex — the skew-proof
# formulation); the oracle enumerates by ID order (a<b<c) instead. Two
# independent single-count formulations hashing identically is the check.
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT l_orderkey FROM baskets GROUP BY 1 HAVING count(*) <= 25
), pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (SELECT l_orderkey FROM sized)
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.v = e2.u
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY node
ORDER BY triangles DESC, node
LIMIT 20
"""


@register("triangle_count_copurchase", oracle=_TRIANGLE_ORACLE, tags=("LLM", "graph", "A1"))
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the co-purchase graph
    (parts are adjacent when some order contains both). Market-basket
    clustering structure: a part on many triangles sits in a tightly
    co-bought cluster.

    Scale shape: per-order pair expansion is quadratic in basket size, so
    baskets over 25 distinct parts are EXCLUDED up front (the max_df-style
    guard every pairwise stage in this engine uses; TPC-H baskets are ≤7,
    production baskets get the documented cap). The triangle join itself
    is degree-ordered — wedges enumerate at the lowest-degree endpoint
    only, so hub parts never expand their full neighborhood — and the
    closure test is a LEFT SEMI equi-join on the undirected edge key.
    """
    from ..operators.graph import triangle_counts

    edges = copurchase_edges(spark, sf_dir)
    return (
        triangle_counts(edges)
        .orderBy(F.col("triangles").desc(), F.col("node").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Community detection (operators/graph.py::label_propagation) on the part
# co-purchase graph. Fully deterministic LPA: per round every node adopts
# the most-frequent neighbor label (ties → smallest label), with a
# self-vote damping synchronous oscillation — so a fixed iteration count
# unrolls into CTEs the oracle replays exactly, like the PageRank loop.
# ---------------------------------------------------------------------------


def lpa_label_cte(iters: int = 2) -> str:
    """The unrolled deterministic-LPA label derivation as a WITH-chain
    fragment (ends after ``l{iters}``) — shared by the community-size
    oracle below and the modularity oracle in ``round14.py``."""
    parts = [
        """WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT l_orderkey FROM baskets GROUP BY 1 HAVING count(*) <= 25
), pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (SELECT l_orderkey FROM sized)
), edges AS (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
), nodes AS (
  SELECT DISTINCT u AS node FROM edges
), l0 AS (SELECT node, node AS label FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        prev = f"l{i - 1}"
        parts.append(
            f""",
v{i} AS (
  SELECT n, label, count(*) AS c FROM (
    SELECT e.u AS n, l.label FROM edges e JOIN {prev} l ON l.node = e.v
    UNION ALL SELECT node AS n, label FROM {prev}
  ) GROUP BY 1, 2
),
w{i} AS (
  SELECT n, label FROM (
    SELECT n, label,
           row_number() OVER (PARTITION BY n ORDER BY c DESC, label ASC) AS rn
    FROM v{i}
  ) WHERE rn = 1
),
l{i} AS (
  SELECT nodes.node, coalesce(w{i}.label, nodes.node) AS label
  FROM nodes LEFT JOIN w{i} ON w{i}.n = nodes.node
)"""
        )
    return "".join(parts)


def _lpa_oracle(iters: int = 2) -> str:
    return (
        lpa_label_cte(iters)
        + f"""
SELECT label, CAST(count(*) AS BIGINT) AS n_members
FROM l{iters} GROUP BY 1"""
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(u, v)`` part pairs ``u < v`` bought together in an order
    of at most 25 distinct parts: the co-occurrence core over the distinct
    (order, part) rows. Without ``n_co`` the pair aggregate is a
    DISTINCT."""
    from ..operators.pairs import _cooccur

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    return _cooccur(li, "l_orderkey", "l_partkey", max_group=25).select(
        F.col("i").alias("u"), F.col("j").alias("v")
    )


def sampled_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`copurchase_edges` thinned to a deterministic 1-in-20 sample
    by md5 of ``"<u>_<v>"`` (the round7 jaccard/k-core construction,
    ``round8._COPURCHASE_CTE`` on the oracle side)."""
    from ..llmprep.text import token_hash32

    key = F.concat(F.col("u").cast("string"), F.lit("_"), F.col("v").cast("string"))
    return copurchase_edges(spark, sf_dir).filter(token_hash32(key) % 20 == 0)


def capped_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`copurchase_edges` — the exact edge set behind
    :func:`lpa_label_cte` (shared by the LPA and modularity queries).

    Returned lazily checkpointed: consumers fan the edge set out (both
    union directions, modularity's three references) and the basket
    fan-out + distinct would otherwise re-execute per reference."""
    return copurchase_edges(spark, sf_dir).transform(lineage_cut)


@register("lpa_copurchase_communities", oracle=_lpa_oracle(), tags=("LLM", "iterative", "graph"))
def lpa_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community size distribution after 2 LPA rounds on the co-purchase
    graph (same capped-basket edge construction as the triangle query).
    Scale shape per round: one edge⋈label shuffle + one map-side-combined
    (node, label) count + one per-node argmax; label state is one row per
    node, never adjacency-sized."""
    from ..operators.graph import label_propagation

    labels = label_propagation(capped_copurchase_pairs(spark, sf_dir), iters=2)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


# ---------------------------------------------------------------------------
# Holt's linear trend forecast (operators/trend.py::holt_linear) on monthly
# revenue per nation: the classic double-exponential smoother, unrolled
# over the fixed 1995 month spine so the recurrence is a per-row column
# chain both engines evaluate with identical expression shapes.
# ---------------------------------------------------------------------------

_HOLT_MONTHS = [f"1995-{m:02d}" for m in range(1, 13)]


def _holt_oracle() -> str:
    from ..operators.trend import holt_linear_oracle_sql

    inner = holt_linear_oracle_sql(
        base_cte=(
            "SELECT n_name, strftime(o_orderdate, '%Y-%m') AS m, "
            "CAST(o_totalprice AS DECIMAL(12,2)) AS rev "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey"
        ),
        key_expr="n_name",
        step_expr="m",
        value_expr="rev",
        steps=_HOLT_MONTHS,
    )
    return f"SELECT k AS nation, h, level, trend, forecast FROM ({inner})"


@register("holt_forecast_nation_revenue", oracle=_holt_oracle(), tags=("A11", "trend", "forecast"), bench=True)
def holt_forecast_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-month-ahead revenue forecast per nation off a 12-month fitted
    Holt (level+trend) state. One conditional-aggregate pivot (map-side,
    |nations| result rows) + a scalar recurrence chain — no time window,
    no sequential scan, no UDF."""
    from ..operators.trend import holt_linear

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("rev"),
        )
    )
    hl = holt_linear(base, ["n_name"], "m", "rev", _HOLT_MONTHS)
    return hl.select(
        F.col("n_name").alias("nation"),
        "h",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("forecast", 4).alias("forecast"),
    )


# ---------------------------------------------------------------------------
# Event-sequence transition matrix: P(next event type | current) per user
# journey — the Markov view of product analytics funnels. One window lag
# per user (shuffle on user_id, the partitioning every sessionization
# query here already uses) + one count aggregate.
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events
), pairs AS (
  SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT src, CAST(sum(n) AS BIGINT) AS t FROM pairs GROUP BY 1
)
SELECT p.src, p.dst, p.n,
       round(CAST(p.n AS DOUBLE) / t.t, 6) AS p_transition
FROM pairs p JOIN tot t ON p.src = t.src
"""


@register("event_transition_matrix", oracle=_TRANSITION_ORACLE, tags=("W3", "A4", "sequence"))
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    pairs = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # Row normalization as a window sum over the (src,dst)-grain pairs —
    # NOT a groupBy+self-join, which would recompute the whole
    # scan+window+aggregate pipeline for the totals side (Spark does not
    # dedupe the shared subtree). One scan, three exchanges total.
    t = F.sum("n").over(Window.partitionBy("src")).cast("long")
    return pairs.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / t, 6).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quartiles): the
# workhorse customer-scoring rollup of every CRM mart. One aggregate to
# the customer grain, three ntile windows over that (already tiny) grain
# with full deterministic orderings, one concat.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH agg AS (
  SELECT o_custkey AS custkey,
         CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
), scored AS (
  SELECT custkey, last_us, frequency, monetary,
         CAST(ntile(4) OVER (ORDER BY last_us DESC, custkey ASC) AS INTEGER) AS r_score,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey ASC) AS INTEGER) AS f_score,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey ASC) AS INTEGER) AS m_score
  FROM agg
)
SELECT custkey, frequency, round(monetary, 2) AS monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS rfm_segment
FROM scored
"""


@register("customer_rfm_segments", oracle=_RFM_ORACLE, tags=("A4", "W1", "segmentation"))
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile RFM scores per ordering customer. The ntile windows run
    over the CUSTOMER grain (post-aggregate — orders of magnitude smaller
    than the fact table); each ordering carries the custkey tie-break so
    quartile boundaries are deterministic in both engines.

    Scale note: a global ntile is a single-partition window — fine for
    the dimension-sized grain here, the wrong tool past ~10M keys. The
    100 TB swap (same output contract, approximate boundaries): compute
    the three quartile cut values per metric with approx_percentile (one
    scalar aggregate), broadcast them, and score by comparison — zero
    global windows, boundaries off by at most the sketch error instead
    of exact equal-count buckets."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.unix_micros(F.col("o_orderdate"))).cast("long").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("monetary"),
    )
    r = Window.orderBy(F.col("last_us").desc(), F.col("custkey").asc())
    f_ = Window.orderBy(F.col("frequency").desc(), F.col("custkey").asc())
    m = Window.orderBy(F.col("monetary").desc(), F.col("custkey").asc())
    scored = agg.select(
        "custkey",
        "frequency",
        "monetary",
        F.ntile(4).over(r).cast("int").alias("r_score"),
        F.ntile(4).over(f_).cast("int").alias("f_score"),
        F.ntile(4).over(m).cast("int").alias("m_score"),
    )
    return scored.select(
        "custkey",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_segment"),
    )
