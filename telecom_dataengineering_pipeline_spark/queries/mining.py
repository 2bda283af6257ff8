"""Round-6 registrations: the graph/trend/reshape/linkage/sampling operators
built in round 5 promoted from tests-only to oracle-checked queries, plus the
approx-cutoff RFM variant and the composed record-linkage pipeline.

Reference parity: these extend the reference's mart/monitoring tier
(``dbt_project/models/marts``, ``monitoring/pipeline_observability.py``) with
the standard analytics shapes its BI layer computes downstream — seasonal
profiles, digit-distribution screens, funnel depths, segmentation — each
re-expressed as distributed DataFrame plans with a DuckDB oracle.

Cross-engine determinism: every query follows the registry conventions
(decimal-exact sums, µs epochs, tie-broken windows, matching column names).
Iterative operators (k-core, connected components) are monotone/convergent on
the checked fixtures, so the oracle unrolls a FIXED number of rounds past
convergence and matches the operator's fixpoint exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..streaming.staging import pin_staging_mtimes
from .registry import register
from ..lineage import lineage_cut

# ---------------------------------------------------------------------------
# k-core (operators/graph.py::k_core) on the hash-sparsified co-purchase
# graph. The uniform fixture makes the raw co-purchase graph near-complete
# (median degree >100 — every node is in every core), so the query keeps a
# deterministic 1-in-20 edge sample chosen by the engine-neutral 32-bit hash:
# a sparse Poisson-degree graph with a real peeling cascade (4 synchronous
# rounds to the fixpoint at both checked SFs). The operator runs 8 rounds,
# the oracle unrolls 6 with MATERIALIZED per-round CTEs (DuckDB
# otherwise re-inlines the whole pairs derivation into every round —
# the r8 Bellman-Ford lesson; this is what makes the sf0.1 oracle
# affordable); peeling is monotone, so both sit at the fixpoint.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS_ORACLE = 6


def _kcore_oracle() -> str:
    parts = [
        """WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS MATERIALIZED (
  SELECT l_orderkey FROM baskets GROUP BY 1 HAVING count(*) <= 25
), pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (SELECT l_orderkey FROM sized)
), sampled AS MATERIALIZED (
  SELECT u, v FROM pairs
  WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
), s0 AS MATERIALIZED (
  SELECT u, v FROM sampled UNION ALL SELECT v AS u, u AS v FROM sampled
)"""
    ]
    for i in range(1, _KCORE_ROUNDS_ORACLE + 1):
        prev = f"s{i - 1}"
        parts.append(
            f""",
d{i} AS MATERIALIZED (SELECT u FROM {prev} GROUP BY u HAVING count(*) >= {_KCORE_K}),
s{i} AS MATERIALIZED (
  SELECT s.u, s.v FROM {prev} s
  JOIN d{i} du ON s.u = du.u
  JOIN d{i} dv ON s.v = dv.u
)"""
        )
    parts.append(
        f"""
SELECT DISTINCT u AS node FROM s{_KCORE_ROUNDS_ORACLE}"""
    )
    return "".join(parts)


@register("k_core_copurchase", oracle=_kcore_oracle(), tags=("LLM", "iterative", "graph"))
def k_core_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts in the 3-core of the sampled co-purchase graph. Per round:
    one map-side-combined degree count + two semi-joins; the survivor set
    only shrinks and nothing collects (plan growth kept linear by the
    operator's per-round lazy localCheckpoint)."""
    from ..llmprep.text import token_hash32
    from ..operators.graph import k_core

    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= 25)
    )
    pairs = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(parts, (x, i) -> "
                        "transform(slice(parts, i + 2, size(parts)), "
                        "y -> struct(x AS u, y AS v)))"
                    )
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )
    sampled = pairs.filter(
        token_hash32(
            F.concat(F.col("u").cast("string"), F.lit("_"), F.col("v").cast("string"))
        )
        % 20
        == 0
    )
    return k_core(sampled, k=_KCORE_K, rounds=8)


# ---------------------------------------------------------------------------
# Seasonal index (operators/trend.py::seasonal_index): per-nation monthly
# order-revenue seasonality. Two map-side-combined aggregates; the index is
# a ratio of means derived from exact DECIMAL sums with the identical
# double expression shape in both engines.
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH base AS (
  SELECT n_name, CAST(month(o_orderdate) AS INTEGER) AS season_m,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(38,6)) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
), per AS (
  SELECT n_name, season_m AS season, sum(rev) AS s_sum, count(rev) AS s_n
  FROM base GROUP BY 1, 2
), tot AS (
  SELECT n_name, sum(rev) AS t_sum, count(rev) AS t_n FROM base GROUP BY 1
)
SELECT p.n_name, p.season, CAST(p.s_n AS BIGINT) AS n,
       round((CAST(p.s_sum AS DOUBLE) / p.s_n) / (CAST(t.t_sum AS DOUBLE) / t.t_n), 6)
         AS seasonal_index
FROM per p JOIN tot t ON p.n_name = t.n_name
"""


@register("seasonal_index_nation_revenue", oracle=_SEASONAL_ORACLE, tags=("A11", "trend"))
def seasonal_index_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import seasonal_index

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.month("o_orderdate").cast("int").alias("season_m"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("rev"),
        )
    )
    return seasonal_index(base, ["n_name"], "season_m", "rev")


# ---------------------------------------------------------------------------
# Benford first-digit screen (quality/monitors.py::benford_profile) over
# order totals. The expected shares log10(1 + 1/d) are Python-computed
# literals embedded in BOTH engines' expressions, so the comparison runs
# against bit-identical doubles.
# ---------------------------------------------------------------------------


def _benford_oracle() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {math.log10(1 + 1 / d)!r}" for d in range(1, 10)
    )
    return f"""
WITH pos AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
  WHERE CAST(o_totalprice AS DOUBLE) > 0
), counts AS (
  SELECT CAST(floor(v / power(10.0, floor(log10(v)))) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM pos GROUP BY 1
), total AS (
  SELECT CAST(sum(n) AS BIGINT) AS t FROM counts
), spine AS (
  SELECT CAST(unnest(generate_series(1, 9)) AS INTEGER) AS digit
)
SELECT s.digit,
       coalesce(c.n, 0) AS n,
       round(CAST(coalesce(c.n, 0) AS DOUBLE) / t.t, 6) AS share,
       round(CASE s.digit {cases} END, 6) AS expected_share,
       round(CAST(coalesce(c.n, 0) AS DOUBLE) / t.t - (CASE s.digit {cases} END), 6)
         AS deviation
FROM spine s LEFT JOIN counts c ON s.digit = c.digit CROSS JOIN total t
"""


@register("benford_order_prices", oracle=_benford_oracle(), tags=("DQ", "A11"))
def benford_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import benford_profile

    return benford_profile(load_table(spark, sf_dir, "orders"), "o_totalprice")


# ---------------------------------------------------------------------------
# Melt / UNPIVOT (operators/reshape.py::melt): per-nation order KPIs melted
# wide→long — pure stack() projection, no shuffle beyond the aggregate.
# ---------------------------------------------------------------------------

_MELT_ORACLE = """
WITH agg AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS order_count,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
         max(CAST(o_totalprice AS DECIMAL(12,2))) AS mx
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
), wide AS (
  SELECT n_name,
         CAST(order_count AS DOUBLE) AS order_count,
         round(CAST(s AS DOUBLE), 2) AS total_revenue,
         round(CAST(s AS DOUBLE) / order_count, 6) AS avg_revenue,
         CAST(mx AS DOUBLE) AS max_revenue
  FROM agg
)
SELECT n_name, 'order_count' AS metric, order_count AS value FROM wide
UNION ALL SELECT n_name, 'total_revenue', total_revenue FROM wide
UNION ALL SELECT n_name, 'avg_revenue', avg_revenue FROM wide
UNION ALL SELECT n_name, 'max_revenue', max_revenue FROM wide
"""


@register("melt_nation_order_metrics", oracle=_MELT_ORACLE, tags=("A2", "reshape"))
def melt_nation_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.reshape import melt

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    agg = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("order_count"),
            F.sum(dec).alias("s"),
            F.max(dec).alias("mx"),
        )
    )
    wide = agg.select(
        "n_name",
        F.col("order_count").cast("double").alias("order_count"),
        F.round(F.col("s").cast("double"), 2).alias("total_revenue"),
        F.round(F.col("s").cast("double") / F.col("order_count"), 6).alias("avg_revenue"),
        F.col("mx").cast("double").alias("max_revenue"),
    )
    return melt(
        wide,
        id_cols=["n_name"],
        value_cols=["order_count", "total_revenue", "avg_revenue", "max_revenue"],
        var_name="metric",
        value_name="value",
    )


# ---------------------------------------------------------------------------
# windowFunnel (operators/windows.py::sequence_funnel): deepest
# signup→click→purchase step per user inside a 1-hour window opened by the
# FIRST signup (greedy). The oracle replays the greedy state machine as
# rank algebra: with events ranked per user by (µs, event_id-string), each
# step's match is the MINIMUM rank of the expected event after the previous
# step's rank that still fits the window — identical to the sequential scan
# because ranks are processed in timestamp order.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("signup", "click", "purchase")
_FUNNEL_W_SECONDS = 3600

_FUNNEL_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, CAST(event_id AS VARCHAR) AS tb
  FROM events WHERE event_type IN ('signup', 'click', 'purchase')
), o AS (
  SELECT user_id, event_type, us,
         row_number() OVER (PARTITION BY user_id ORDER BY us, tb) AS rn
  FROM ev
), s1 AS (
  SELECT user_id, min(rn) AS rn1 FROM o WHERE event_type = 'signup' GROUP BY 1
), t0 AS (
  SELECT o.user_id, o.us AS us0, s1.rn1
  FROM o JOIN s1 ON o.user_id = s1.user_id AND o.rn = s1.rn1
), s2 AS (
  SELECT o.user_id, min(o.rn) AS rn2
  FROM o JOIN t0 ON o.user_id = t0.user_id
  WHERE o.event_type = 'click' AND o.rn > t0.rn1
    AND o.us - t0.us0 <= {_FUNNEL_W_SECONDS * 1_000_000}
  GROUP BY 1
), s3 AS (
  SELECT o.user_id, min(o.rn) AS rn3
  FROM o JOIN s2 ON o.user_id = s2.user_id JOIN t0 ON o.user_id = t0.user_id
  WHERE o.event_type = 'purchase' AND o.rn > s2.rn2
    AND o.us - t0.us0 <= {_FUNNEL_W_SECONDS * 1_000_000}
  GROUP BY 1
), users AS (
  SELECT DISTINCT user_id FROM ev
)
SELECT u.user_id,
       CAST(CASE WHEN s3.rn3 IS NOT NULL THEN 3
                 WHEN s2.rn2 IS NOT NULL THEN 2
                 WHEN t0.rn1 IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_depth,
       CASE WHEN t0.rn1 IS NOT NULL THEN CAST(t0.us0 AS BIGINT) END AS window_start_us
FROM users u
LEFT JOIN t0 ON u.user_id = t0.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
"""


@register("sequence_funnel_stream", oracle=_FUNNEL_ORACLE, tags=("T2", "W3", "sequence"))
def sequence_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL keyed-state funnel stream (streaming/funnel.py) run to
    completion under availableNow and value-checked against the SAME
    rank-algebra oracle as the batch twin: events stage to two
    time-split parquet files read one per micro-batch, so the per-user
    (depth, window-start) state must survive the batch boundary for the
    gate to pass. Depth is monotone and the window start fixes once
    opened, so the max-depth snapshot per user IS the final state."""
    import os
    import shutil
    import tempfile

    from ..streaming.funnel import funnel_stream

    ev = load_table(spark, sf_dir, "events")
    projected = ev.filter(F.col("event_type").isin(list(_FUNNEL_STEPS))).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("string").alias("tb"),
        F.col("event_type").alias("ev"),
    )
    sink = "sequence_funnel_stream_sink"
    spark.catalog.dropTempView(sink)
    staging = tempfile.mkdtemp(prefix="funnel_stream_src_")
    try:
        split = F.unix_micros(F.lit("2024-01-16").cast("timestamp"))
        projected.filter(F.col("us") < split).coalesce(1).write.parquet(
            os.path.join(staging, "b0")
        )
        projected.filter(F.col("us") >= split).coalesce(1).write.parquet(
            os.path.join(staging, "b1")
        )
        pin_staging_mtimes(staging, 2)  # deterministic trigger order
        stream = (
            spark.readStream.schema(projected.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staging + "/b*")
        )
        out = funnel_stream(
            stream, list(_FUNNEL_STEPS), within_seconds=_FUNNEL_W_SECONDS
        )
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max("funnel_depth").cast("int").alias("funnel_depth"),
            F.max("window_start_us").alias("window_start_us"),
        )
    )


@register("sequence_funnel_purchase", oracle=_FUNNEL_ORACLE, tags=("W3", "sequence"), bench=True)
def sequence_funnel_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on the user key: step-filtered events collapse to a
    sorted per-user array and the greedy state machine runs as a
    higher-order ``aggregate`` — no window function, no UDF."""
    from ..operators.windows import sequence_funnel

    ev = load_table(spark, sf_dir, "events")
    return sequence_funnel(
        ev,
        user_col="user_id",
        ts_col="ts",
        event_col="event_type",
        steps=list(_FUNNEL_STEPS),
        within_seconds=_FUNNEL_W_SECONDS,
        tiebreak_col="event_id",
    )


# ---------------------------------------------------------------------------
# Approx-cutoff RFM segmentation (operators/windows.py::quantile_bucket_scores)
# — the 100 TB replacement for customer_rfm_segments' exact global ntile
# windows: one scalar aggregate computes the quartile cutoffs per metric
# (percentile_approx sketch) and scores by comparison — ZERO
# single-partition exchanges. Since r11 the cutoffs are RANK-EXACT at any
# scale (exact=True: sketch proposes, a conditional-count check + tiny
# TakeOrdered correction bounded by the sketch's rank error disposes), so
# the oracle's row_number definition — cutoff = value at rank ceil(p·n) —
# holds at every SF, not just where accuracy ≫ n. This closed the last
# sf0.1 sweep drift (one m_score rank boundary at n=15,000).
# ---------------------------------------------------------------------------

_RFM_APPROX_ORACLE = """
WITH agg AS (
  SELECT o_custkey AS custkey,
         CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
), rk AS (
  SELECT last_us, frequency, monetary,
         row_number() OVER (ORDER BY last_us) AS rl,
         row_number() OVER (ORDER BY frequency) AS rf,
         row_number() OVER (ORDER BY monetary) AS rm,
         count(*) OVER () AS cnt
  FROM agg
), cuts AS (
  SELECT
    max(CASE WHEN rl = CAST(ceil(0.25 * cnt) AS BIGINT) THEN last_us END) AS l1,
    max(CASE WHEN rl = CAST(ceil(0.50 * cnt) AS BIGINT) THEN last_us END) AS l2,
    max(CASE WHEN rl = CAST(ceil(0.75 * cnt) AS BIGINT) THEN last_us END) AS l3,
    max(CASE WHEN rf = CAST(ceil(0.25 * cnt) AS BIGINT) THEN frequency END) AS f1,
    max(CASE WHEN rf = CAST(ceil(0.50 * cnt) AS BIGINT) THEN frequency END) AS f2,
    max(CASE WHEN rf = CAST(ceil(0.75 * cnt) AS BIGINT) THEN frequency END) AS f3,
    max(CASE WHEN rm = CAST(ceil(0.25 * cnt) AS BIGINT) THEN monetary END) AS m1,
    max(CASE WHEN rm = CAST(ceil(0.50 * cnt) AS BIGINT) THEN monetary END) AS m2,
    max(CASE WHEN rm = CAST(ceil(0.75 * cnt) AS BIGINT) THEN monetary END) AS m3
  FROM rk
), scored AS (
  SELECT a.custkey, a.frequency, a.monetary,
         CAST(5 - (1 + (a.last_us > c.l1)::INT + (a.last_us > c.l2)::INT + (a.last_us > c.l3)::INT) AS INTEGER) AS r_score,
         CAST(5 - (1 + (a.frequency > c.f1)::INT + (a.frequency > c.f2)::INT + (a.frequency > c.f3)::INT) AS INTEGER) AS f_score,
         CAST(5 - (1 + (a.monetary > c.m1)::INT + (a.monetary > c.m2)::INT + (a.monetary > c.m3)::INT) AS INTEGER) AS m_score
  FROM agg a CROSS JOIN cuts c
)
SELECT custkey, frequency, round(monetary, 2) AS monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR)
         AS rfm_segment
FROM scored
"""


@register("customer_rfm_segments_approx", oracle=_RFM_APPROX_ORACLE, tags=("A4", "segmentation"))
def customer_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile scores with comparison-bucketing against rank-exact
    cutoffs (sketch-proposed, order-statistic-refined — no global window
    at any step). Buckets are ascending (1 = smallest), so the RFM
    convention (1 = best = most recent / most frequent / highest spend)
    is ``5 - bucket``. Ties land in one bucket together — the stated
    trade vs the exact-ntile variant, whose populations split ties."""
    from ..operators.windows import quantile_bucket_scores

    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.unix_micros(F.col("o_orderdate"))).cast("long").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("monetary"),
    )
    # The grain feeds the cutoff sketch, the refinement counts, and the
    # scoring pass; the lineage cut materializes it once instead of
    # re-running the fact scan + aggregate per job (Spark does not dedupe
    # shared subtrees).
    agg = agg.transform(lineage_cut)
    scored = quantile_bucket_scores(
        agg, ["last_us", "frequency", "monetary"], k=4, accuracy=10000,
        exact=True,
    )
    r = (F.lit(5) - F.col("last_us_bucket")).cast("int")
    f_ = (F.lit(5) - F.col("frequency_bucket")).cast("int")
    m = (F.lit(5) - F.col("monetary_bucket")).cast("int")
    return scored.select(
        "custkey",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        r.alias("r_score"),
        f_.alias("f_score"),
        m.alias("m_score"),
        F.concat(
            r.cast("string"), f_.cast("string"), m.cast("string")
        ).alias("rfm_segment"),
    )


# ---------------------------------------------------------------------------
# Record linkage (llmprep/fuzzy.py): blocked fuzzy pairs → transitive
# closure → cluster ids; then survivorship picks one golden record per
# cluster. The oracle replays the blocking + Levenshtein verify directly
# and unrolls 3 min-label rounds — the fixture's components are shallow
# (diameter ≤ 2), so both engines sit at the canonical min-id fixpoint.
# ---------------------------------------------------------------------------

_ER_MAX_DIST = 12
_ER_CTES = f"""WITH k AS (
  SELECT doc_id, substr(text, 1, 40) AS pfx, split_part(text, ' ', 1) AS tok0,
         CAST(floor(length(text) / 100) AS INTEGER) AS band
  FROM documents
), p AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM k a JOIN k b ON a.tok0 = b.tok0 AND a.band = b.band AND a.doc_id < b.doc_id
  WHERE levenshtein(a.pfx, b.pfx) <= {_ER_MAX_DIST}
), e AS (
  SELECT pa AS a, pb AS b FROM p UNION ALL SELECT pb AS a, pa AS b FROM p
), n0 AS (
  SELECT DISTINCT a AS node FROM e
), l0 AS (
  SELECT node, node AS label FROM n0
), l1 AS (
  SELECT l.node, least(l.label, coalesce(nb.mn, l.label)) AS label
  FROM l0 l LEFT JOIN (
    SELECT e.a AS node, min(x.label) AS mn FROM e JOIN l0 x ON x.node = e.b GROUP BY 1
  ) nb ON nb.node = l.node
), l2 AS (
  SELECT l.node, least(l.label, coalesce(nb.mn, l.label)) AS label
  FROM l1 l LEFT JOIN (
    SELECT e.a AS node, min(x.label) AS mn FROM e JOIN l1 x ON x.node = e.b GROUP BY 1
  ) nb ON nb.node = l.node
), l3 AS (
  SELECT l.node, least(l.label, coalesce(nb.mn, l.label)) AS label
  FROM l2 l LEFT JOIN (
    SELECT e.a AS node, min(x.label) AS mn FROM e JOIN l2 x ON x.node = e.b GROUP BY 1
  ) nb ON nb.node = l.node
), clusters AS (
  SELECT d.doc_id, coalesce(l3.label, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN l3 ON l3.node = d.doc_id
)"""

_ER_ORACLE = _ER_CTES + "\nSELECT doc_id, cluster_id FROM clusters"


@register("entity_resolution_clusters", oracle=_ER_ORACLE, tags=("LLM", "dedup", "iterative"))
def entity_resolution_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One cluster id per document: (first-token × length-band) blocked
    candidates, JVM Levenshtein verify on candidates only, large-star/
    small-star connected components. No all-pairs step anywhere; labels are
    node-sized and never collect."""
    from ..llmprep.fuzzy import entity_resolution_clusters

    docs = load_table(spark, sf_dir, "documents")
    return entity_resolution_clusters(docs, max_dist=_ER_MAX_DIST)


# Survivorship on synthetic CRM-shaped records: nullable contact fields and
# a recency rank derived DETERMINISTICALLY from doc_id so both engines build
# the identical fixture, clustered by a simple modulus (the composed query
# below exercises the real ER clustering).

_SURVIVOR_ORACLE = """
WITH recs AS (
  SELECT doc_id, doc_id % 50 AS cluster_id,
         CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS contact_lang,
         CASE WHEN doc_id % 4 = 0 THEN NULL ELSE source END AS contact_source,
         doc_id % 7 AS updated_rank
  FROM documents
), scored AS (
  SELECT *, CAST((contact_lang IS NOT NULL)::INT + (contact_source IS NOT NULL)::INT AS INTEGER)
            AS completeness
  FROM recs
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id
    ORDER BY completeness DESC, updated_rank DESC, doc_id ASC
  ) AS rn
  FROM scored
)
SELECT cluster_id, doc_id AS survivor_id, completeness, updated_rank
FROM r WHERE rn = 1
"""


@register("survivorship_golden_records", oracle=_SURVIVOR_ORACLE, tags=("LLM", "dedup"))
def survivorship_golden_records_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden record per cluster by (completeness desc, recency desc,
    id asc) — a cluster-partitioned window, never global."""
    from ..llmprep.fuzzy import survivorship_golden_records

    docs = load_table(spark, sf_dir, "documents")
    recs = docs.select(
        "doc_id",
        (F.col("doc_id") % 50).alias("cluster_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(F.col("lang")).alias("contact_lang"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(None)).otherwise(F.col("source")).alias("contact_source"),
        (F.col("doc_id") % 7).alias("updated_rank"),
    )
    golden = survivorship_golden_records(
        recs,
        cluster_col="cluster_id",
        completeness_cols=("contact_lang", "contact_source"),
        recency_col="updated_rank",
    )
    return golden.select(
        "cluster_id",
        F.col("doc_id").alias("survivor_id"),
        F.col("_completeness").cast("int").alias("completeness"),
        "updated_rank",
    )


# The composed pipeline: ER cluster ids feed survivorship directly — the
# product feature (the pieces passing separately doesn't prove the ids
# flow through correctly). Cluster sizes ride along so the closure is
# observable in the output.

_LINKAGE_ORACLE = _ER_CTES + """
, recs AS (
  SELECT d.doc_id, c.cluster_id,
         CASE WHEN d.doc_id % 3 = 0 THEN NULL ELSE d.lang END AS contact_lang,
         CASE WHEN d.doc_id % 4 = 0 THEN NULL ELSE d.source END AS contact_source,
         d.doc_id % 7 AS updated_rank
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
), scored AS (
  SELECT *, CAST((contact_lang IS NOT NULL)::INT + (contact_source IS NOT NULL)::INT AS INTEGER)
            AS completeness
  FROM recs
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id
    ORDER BY completeness DESC, updated_rank DESC, doc_id ASC
  ) AS rn
  FROM scored
), sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM clusters GROUP BY 1
)
SELECT r.cluster_id, r.doc_id AS survivor_id, r.completeness, s.n_members
FROM r JOIN sizes s ON r.cluster_id = s.cluster_id
WHERE r.rn = 1
"""


@register("record_linkage_golden_records", oracle=_LINKAGE_ORACLE, tags=("LLM", "dedup", "iterative"))
def record_linkage_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.fuzzy import entity_resolution_clusters, survivorship_golden_records

    docs = load_table(spark, sf_dir, "documents")
    clusters = entity_resolution_clusters(docs, max_dist=_ER_MAX_DIST)
    recs = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(F.col("lang")).alias("contact_lang"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(None)).otherwise(F.col("source")).alias("contact_source"),
        (F.col("doc_id") % 7).alias("updated_rank"),
    ).join(clusters, "doc_id")
    golden = survivorship_golden_records(
        recs,
        cluster_col="cluster_id",
        completeness_cols=("contact_lang", "contact_source"),
        recency_col="updated_rank",
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return golden.join(sizes, "cluster_id").select(
        "cluster_id",
        F.col("doc_id").alias("survivor_id"),
        F.col("_completeness").cast("int").alias("completeness"),
        "n_members",
    )


# ---------------------------------------------------------------------------
# Per-key cap sampling (llmprep/sampling.py::capped_sample_per_key): the
# domain-cap guard, engine-neutral hash mode so the oracle replays the
# identical priority (md5-derived 32-bit, same spine as the shuffle/split
# manifests).
# ---------------------------------------------------------------------------

_CAP_N = 10
_CAP_ORACLE = f"""
WITH pri AS (
  SELECT doc_id, source, lang, n_chars,
         ('0x' || substr(md5('cap_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS p
  FROM documents
), r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY p ASC, doc_id ASC) AS rn
  FROM pri
)
SELECT doc_id, source, lang, n_chars FROM r WHERE rn <= {_CAP_N}
"""


@register("capped_sample_per_source", oracle=_CAP_ORACLE, tags=("LLM", "sampling"))
def capped_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most 10 documents per source, chosen by salted hash priority —
    deterministic under reruns and repartitioning; WindowGroupLimit pushes
    the cap map-side before the per-key shuffle."""
    from ..llmprep.sampling import capped_sample_per_key

    docs = load_table(spark, sf_dir, "documents")
    return capped_sample_per_key(
        docs, "source", _CAP_N, engine_neutral_hash=True
    ).select("doc_id", "source", "lang", "n_chars")


# ---------------------------------------------------------------------------
# Boilerplate line filter (llmprep/text.py::boilerplate_line_filter): the
# fixture corpus is single-line, so the query assembles a deterministic
# multi-line "page" per document (nav bar, ALL-CAPS heading — terminal-
# punctuated for even doc_ids so the keep decision varies, body sentence,
# symbol-heavy separator, too-short footer) and strips it. Higher-order
# array filter inside codegen — no explode/regroup shuffle, no UDF.
# ---------------------------------------------------------------------------

_BOILER_ORACLE = """
WITH pages AS (
  SELECT doc_id, source,
         'HOME | ABOUT | CONTACT' || chr(10) ||
         upper(substr(text, 1, 24)) || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) || chr(10) ||
         text || '.' || chr(10) ||
         '#### menu #### nav ####' || chr(10) ||
         'copyright 2024' AS page
  FROM documents
), split AS (
  SELECT doc_id, source, str_split(page, chr(10)) AS lines FROM pages
), filt AS (
  SELECT doc_id, source, lines,
         list_filter(lines, l ->
           len(regexp_split_to_array(trim(l), '\\s+')) >= 3
           AND (CAST(length(regexp_replace(l, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                / greatest(length(l), 1)) <= 0.4
           AND NOT (upper(l) = l AND NOT regexp_matches(trim(l), '[.!?]$'))
         ) AS kept
  FROM split
)
SELECT doc_id, source,
       array_to_string(kept, chr(10)) AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept
FROM filt
"""


@register("boilerplate_line_filter", oracle=_BOILER_ORACLE, tags=("LLM", "text"))
def boilerplate_line_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import boilerplate_line_filter

    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.lit("HOME | ABOUT | CONTACT"),
            F.concat(
                F.upper(F.substring("text", 1, 24)),
                F.when(F.col("doc_id") % 2 == 0, F.lit(".")).otherwise(F.lit("")),
            ),
            F.concat(F.col("text"), F.lit(".")),
            F.lit("#### menu #### nav ####"),
            F.lit("copyright 2024"),
        ).alias("page"),
    )
    out = boilerplate_line_filter(pages, "page", min_words=3, max_symbol_ratio=0.4)
    return out.select("doc_id", "source", "clean_text", "n_lines", "n_kept")
