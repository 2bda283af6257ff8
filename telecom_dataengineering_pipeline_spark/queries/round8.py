"""Round-7 session-2 registrations: the operators built this session
promoted straight to oracle-checked driver queries (no tests-only lag) —
categorical drift, privacy audit, entropy, feature encoding, ranking
evaluation, market-basket rules, collocations, retention, mobility,
burstiness, fusion, graph centralities, and the join pre-flight.

Reference parity: these extend the reference's monitoring/campaign tier
(``monitoring/pipeline_observability.py``, ``dbt_project/models/marts``)
with the drift/privacy/eval statistics its BI layer computes downstream,
re-expressed as distributed plans under the registry determinism
conventions (decimal-exact sums, round-then-decimal log/ratio terms, µs
epochs, tie-broken windows, matching column names)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..streaming.staging import pin_staging_mtimes
from .registry import register
from ..lineage import lineage_cut

# ---------------------------------------------------------------------------
# Chi-squared categorical drift (quality/monitors.py::chi_squared_drift):
# did the event-type MIX shift between the first and second half of the
# month? Counts-only shuffle; per-cell terms round-then-decimal.
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH ref AS (
  SELECT coalesce(event_type, '__null__') AS cat, CAST(count(*) AS BIGINT) AS n_ref
  FROM events WHERE CAST(strftime(ts, '%d') AS INT) <= 15 GROUP BY 1
), cur AS (
  SELECT coalesce(event_type, '__null__') AS cat, CAST(count(*) AS BIGINT) AS n_cur
  FROM events WHERE CAST(strftime(ts, '%d') AS INT) > 15 GROUP BY 1
), cells AS (
  SELECT coalesce(r.cat, c.cat) AS cat,
         coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
  FROM ref r FULL JOIN cur c ON r.cat = c.cat
), t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM cells),
terms AS (
  SELECT n_ref, n_cur, t_ref, t_cur,
    CAST(round(
      CASE WHEN t_ref * (n_ref + n_cur) > 0 THEN
        pow(n_ref - t_ref * (n_ref + n_cur) / CAST(t_ref + t_cur AS DOUBLE), 2)
          / (t_ref * (n_ref + n_cur) / CAST(t_ref + t_cur AS DOUBLE)) ELSE 0 END
      + CASE WHEN t_cur * (n_ref + n_cur) > 0 THEN
        pow(n_cur - t_cur * (n_ref + n_cur) / CAST(t_ref + t_cur AS DOUBLE), 2)
          / (t_cur * (n_ref + n_cur) / CAST(t_ref + t_cur AS DOUBLE)) ELSE 0 END,
      9) AS DECIMAL(28,9)) AS term
  FROM cells, t
), agg AS (
  SELECT round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
         CAST(count(*) - 1 AS BIGINT) AS dof,
         CAST(any_value(t_ref) AS BIGINT) AS n_ref,
         CAST(any_value(t_cur) AS BIGINT) AS n_cur,
         CAST(count(*) AS BIGINT) AS n_categories
  FROM terms
)
SELECT chi2, dof, n_ref, n_cur, n_categories,
       round(sqrt(chi2 / (n_ref + n_cur)), 6) AS cramers_v,
       CASE WHEN coalesce(n_ref, 0) = 0 OR coalesce(n_cur, 0) = 0 OR dof < 1
              THEN 'no_reference'
            WHEN round(sqrt(chi2 / (n_ref + n_cur)), 6) < 0.1 THEN 'stable'
            WHEN round(sqrt(chi2 / (n_ref + n_cur)), 6) < 0.3 THEN 'moderate_shift'
            ELSE 'major_shift' END AS status
FROM agg
"""


@register("dq_chi_squared_event_mix", oracle=_CHI2_ORACLE, tags=("DQ", "A11"))
def dq_chi_squared_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import chi_squared_drift

    ev = load_table(spark, sf_dir, "events").withColumn(
        "_dom", F.date_format("ts", "dd").cast("int")
    )
    return chi_squared_drift(
        ev.filter(F.col("_dom") <= 15),
        ev.filter(F.col("_dom") > 15),
        "event_type",
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (quality/monitors.py::k_anonymity_profile) over the
# customer dim with a deliberately fine quasi-identifier set (nation ×
# segment × acctbal-thousand band) — the release-safety check behind the
# masking tier, on real fixture skew.
# ---------------------------------------------------------------------------

_KANON_ORACLE = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS band,
         CAST(count(*) AS BIGINT) AS sz
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(sz) AS BIGINT) AS min_class_size,
       CAST(5 AS BIGINT) AS k_threshold,
       CAST(coalesce(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS violating_classes,
       CAST(coalesce(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END), 0) AS BIGINT)
         AS violating_rows,
       CASE WHEN sum(sz) > 0 THEN
         round(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) / CAST(sum(sz) AS DOUBLE), 6)
       END AS at_risk_pct,
       (coalesce(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END), 0) = 0) AS is_k_anonymous
FROM classes
"""


@register("pii_k_anonymity_customers", oracle=_KANON_ORACLE, tags=("DQ", "privacy"))
def pii_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import k_anonymity_profile

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "band", F.floor(F.col("c_acctbal") / 1000)
    )
    return k_anonymity_profile(
        cust, ["c_nationkey", "c_mktsegment", "band"], k=5
    )


# ---------------------------------------------------------------------------
# Entropy profile (quality/monitors.py::entropy_profile): per-day Shannon
# entropy + evenness of the event-type mix — the dispersion monitor over
# the calendar grain (bounded rows at every SF).
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH cells AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, coalesce(event_type, '__null__') AS cat,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), t AS (
  SELECT day, cat, n, CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS tot
  FROM cells
), a AS (
  SELECT day, CAST(any_value(tot) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_categories,
         round(CAST(sum(CAST(round(-(n / CAST(tot AS DOUBLE))
               * ln(n / CAST(tot AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
           AS entropy
  FROM t GROUP BY day
)
SELECT day, n_rows, n_categories, entropy,
       CASE WHEN n_categories > 1
            THEN round(entropy / ln(CAST(n_categories AS DOUBLE)), 6) END AS evenness
FROM a
"""


@register("dq_event_type_entropy_daily", oracle=_ENTROPY_ORACLE, tags=("DQ", "A11"))
def dq_event_type_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import entropy_profile

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return entropy_profile(ev, ["day"], "event_type")


# ---------------------------------------------------------------------------
# ECDF normalization (operators/features.py::ecdf_normalize): per-priority
# percentile position of each order's total — tie-safe cume_dist /
# percent_rank, one sort-window exchange.
# ---------------------------------------------------------------------------

_ECDF_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       round(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 6)
         AS ecdf,
       round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 6)
         AS pct_rank
FROM orders
"""


@register("ecdf_order_totals_by_priority", oracle=_ECDF_ORACLE, tags=("feature",))
def ecdf_order_totals_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import ecdf_normalize

    orders = load_table(spark, sf_dir, "orders")
    return ecdf_normalize(orders, ["o_orderpriority"], "o_totalprice").select(
        "o_orderkey", "o_orderpriority", "ecdf", "pct_rank"
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (operators/features.py::target_encode_loo):
# encode the customer's market segment against order totals without
# leaking the row's own label; smoothing 10 pseudo-counts toward the
# global mean.
# ---------------------------------------------------------------------------

_TE_ORACLE = """
WITH joined AS (
  SELECT o.o_orderkey, c.c_mktsegment, o.o_totalprice
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), g AS (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
           / count(o_totalprice) AS gmean
  FROM joined
), w AS (
  SELECT o_orderkey, c_mktsegment, o_totalprice,
         CAST(sum(CAST(o_totalprice AS DECIMAL(24,6)))
              OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS sy,
         count(o_totalprice) OVER (PARTITION BY c_mktsegment) AS ny
  FROM joined
)
SELECT o_orderkey, c_mktsegment,
       CASE WHEN (ny - CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) + 10.0 > 0
       THEN round((coalesce(sy, 0) - coalesce(o_totalprice, 0) + 10.0 * g.gmean)
            / ((ny - CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) + 10.0), 6)
       END AS te_loo
FROM w, g
"""


@register("te_loo_segment_order_totals", oracle=_TE_ORACLE, tags=("feature",))
def te_loo_segment_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import target_encode_loo

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "c_mktsegment", "o_totalprice")
    return target_encode_loo(
        joined, "c_mktsegment", "o_totalprice", smoothing=10.0
    ).select("o_orderkey", "c_mktsegment", "te_loo")


# ---------------------------------------------------------------------------
# Binary AUC (operators/features.py::binary_auc): does the discount level
# predict returned lineitems? Mann-Whitney with tie-averaged ranks —
# heavy ties here (discounts are cents-quantized), exactly the regime the
# integral 2·avg_rank form exists for.
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH base AS (
  SELECT l_linestatus, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         l_discount AS s
  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_discount IS NOT NULL
), r AS (
  SELECT l_linestatus, y,
         CAST(2 * rank() OVER (PARTITION BY l_linestatus ORDER BY s)
              + count(*) OVER (PARTITION BY l_linestatus ORDER BY s
                               RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
              - 1 AS BIGINT) AS r2
  FROM base
), a AS (
  SELECT l_linestatus, CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT) AS s2r
  FROM r GROUP BY 1
)
SELECT l_linestatus, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round((s2r - CAST(n_pos AS DOUBLE) * (n_pos + 1))
                 / (2.0 * n_pos * n_neg), 6) END AS auc
FROM a
"""


@register("auc_discount_predicts_returns", oracle=_AUC_ORACLE, tags=("eval",))
def auc_discount_predicts_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import binary_auc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        F.col("l_discount").alias("s"),
    ).filter(F.col("l_returnflag").isNotNull())
    return binary_auc(li, "y", "s", ["l_linestatus"])


# ---------------------------------------------------------------------------
# Join-cardinality pre-flight (operators/joins.py::join_cardinality_estimate):
# forecast |orders ⋈ lineitem| exactly from the two count relations plus
# the top-5 hot keys — the expensive join itself never executes.
# ---------------------------------------------------------------------------

_PREFLIGHT_ORACLE = """
WITH cl AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS nl FROM orders GROUP BY 1),
cr AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nr FROM lineitem GROUP BY 1),
cells AS (
  SELECT CAST(cl.k AS VARCHAR) AS key, nl, nr, CAST(nl * nr AS BIGINT) AS pr
  FROM cl JOIN cr ON cl.k = cr.k
),
tot AS (
  SELECT CAST(coalesce(sum(nl), 0) AS BIGINT) AS lr,
         CAST(coalesce(sum(nr), 0) AS BIGINT) AS rr,
         CAST(coalesce(sum(pr), 0) AS BIGINT) AS pr
  FROM cells
),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY pr DESC, key ASC) AS INT) AS rank,
         key, nl, nr, pr,
         round(pr / CAST((SELECT pr FROM tot) AS DOUBLE), 6) AS share
  FROM cells ORDER BY pr DESC, key ASC LIMIT 5
)
SELECT CAST(0 AS INT) AS rank, CAST(NULL AS VARCHAR) AS key,
       lr AS left_rows, rr AS right_rows, pr AS pair_rows, 1.0 AS share FROM tot
UNION ALL
SELECT rank, key, nl AS left_rows, nr AS right_rows, pr AS pair_rows, share FROM top
"""


@register("join_preflight_orders_lineitem", oracle=_PREFLIGHT_ORACLE, tags=("plan",))
def join_preflight_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import join_cardinality_estimate

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    return join_cardinality_estimate(orders, li, ["k"], top_k=5)


# ---------------------------------------------------------------------------
# Cohort retention triangle (operators/windows.py::cohort_retention):
# weekly user cohorts over the events stream. Cell grain is calendar-sized
# at every SF; the denominator is a window over the post-agg grain.
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH peruser AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS p FROM events GROUP BY 1, 2
), cohorted AS (
  SELECT user_id, p, min(p) OVER (PARTITION BY user_id) AS cohort FROM peruser
), cells AS (
  SELECT cohort, (p - cohort) // 7 AS period_offset,
         CAST(count(*) AS BIGINT) AS active_users
  FROM cohorted GROUP BY 1, 2
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
       CAST(period_offset AS BIGINT) AS period_offset, active_users,
       CAST(max(CASE WHEN period_offset = 0 THEN active_users END)
            OVER (PARTITION BY cohort) AS BIGINT) AS cohort_size,
       round(active_users / CAST(max(CASE WHEN period_offset = 0 THEN active_users END)
            OVER (PARTITION BY cohort) AS DOUBLE), 6) AS retention_rate
FROM cells
"""


@register("cohort_retention_weekly_users", oracle=_COHORT_ORACLE, tags=("A4", "sequence"))
def cohort_retention_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", period="week")


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (operators/windows.py::interarrival_profile):
# per-event-type gap statistics in integer seconds. Ordering ties are
# gap-invariant (equal timestamps produce the same second-level gap
# multiset in either order, in either engine).
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) // 1000000
           - lag(epoch_us(ts) // 1000000)
             OVER (PARTITION BY event_type ORDER BY ts) AS gap
  FROM events
), a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(gap) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS s, CAST(sum(gap * gap) AS BIGINT) AS ss,
         CAST(min(gap) AS BIGINT) AS min_gap_s, CAST(max(gap) AS BIGINT) AS max_gap_s
  FROM g GROUP BY 1
), d AS (
  SELECT *,
         CASE WHEN n_gaps > 1 THEN sqrt(greatest(
           (n_gaps * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
           / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1.0)), 0.0)) END AS sd,
         CASE WHEN n_gaps > 0 THEN s / CAST(n_gaps AS DOUBLE) END AS mu
  FROM a
)
SELECT event_type, n_events, n_gaps,
       CASE WHEN n_gaps > 0 THEN round(mu, 6) END AS mean_gap_s,
       min_gap_s, max_gap_s,
       CASE WHEN n_gaps > 1 THEN round(sd, 6) END AS std_gap_s,
       CASE WHEN n_gaps > 1 AND (sd + mu) > 0
            THEN round((sd - mu) / (sd + mu), 6) END AS burstiness
FROM d
"""


@register(
    "interarrival_burstiness_event_types", oracle=_BURST_ORACLE, tags=("sequence",)
)
def interarrival_burstiness_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.windows import interarrival_profile

    ev = load_table(spark, sf_dir, "events")
    return interarrival_profile(ev, ["event_type"], "ts").withColumnRenamed(
        "k", "event_type"
    )


# ---------------------------------------------------------------------------
# Association rules (operators/market.py::association_rules) over
# co-purchase baskets: Apriori item prune before the per-basket pair
# fan-out, canonical a<b election, exact integer counts.
# ---------------------------------------------------------------------------

_RULES_ORACLE = """
WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
tot AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM bi),
sup AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY 1),
freq AS (SELECT * FROM sup WHERE c >= 2),
pruned AS (SELECT bi.basket, bi.item FROM bi JOIN freq ON freq.item = bi.item),
pairs AS (
  SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS pc
  FROM pruned a JOIN pruned b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= 2
),
directed AS (
  SELECT ia AS ant, ib AS cons, pc FROM pairs
  UNION ALL SELECT ib, ia, pc FROM pairs
)
SELECT ant AS antecedent, cons AS consequent, pc AS pair_count,
       fa.c AS antecedent_count, fc.c AS consequent_count, tot.n AS n_baskets,
       round(pc / CAST(tot.n AS DOUBLE), 6) AS support,
       round(pc / CAST(fa.c AS DOUBLE), 6) AS confidence,
       round((pc / CAST(fa.c AS DOUBLE)) / (fc.c / CAST(tot.n AS DOUBLE)), 6) AS lift
FROM directed JOIN freq fa ON fa.item = directed.ant
JOIN freq fc ON fc.item = directed.cons, tot
"""


@register(
    "association_rules_copurchase", oracle=_RULES_ORACLE, tags=("LLM", "mining"), bench=True
)
def association_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.market import association_rules

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    return association_rules(li, "basket", "item", min_support=2)


# ---------------------------------------------------------------------------
# PMI collocations (llmprep/text.py::pmi_collocations) over the documents
# corpus: one tokenizer pass behind a lineage cut, min_count prune before
# the unigram joins, per-row deterministic ln.
# ---------------------------------------------------------------------------

_PMI_ORACLE = r"""
WITH toks AS (
  SELECT string_split_regex(lower(trim(text)), '\s+') AS a FROM documents
), t AS (SELECT a FROM toks WHERE len(a) > 0),
tot AS (
  SELECT CAST(sum(len(a)) AS BIGINT) AS n_tokens,
         CAST(sum(len(a) - 1) AS BIGINT) AS n_bigrams FROM t
),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(a) AS tok FROM t) GROUP BY 1
),
bi AS (
  SELECT a[i] AS token_a, a[i+1] AS token_b, CAST(count(*) AS BIGINT) AS pair_count
  FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i FROM t)
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT token_a, token_b, pair_count, ua.cnt AS count_a, ub.cnt AS count_b,
       tot.n_bigrams, tot.n_tokens,
       round(ln((pair_count / CAST(tot.n_bigrams AS DOUBLE))
             / ((ua.cnt / CAST(tot.n_tokens AS DOUBLE))
                * (ub.cnt / CAST(tot.n_tokens AS DOUBLE)))), 6) AS pmi
FROM bi JOIN uni ua ON ua.tok = bi.token_a
JOIN uni ub ON ub.tok = bi.token_b, tot
"""


@register("pmi_document_collocations", oracle=_PMI_ORACLE, tags=("LLM", "text"))
def pmi_document_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (llmprep/similarity.py::rrf_fuse): fuse two
# deterministic document rankings (by char length and by token count) —
# the operator under test is the fusion, not the rankers; both rank
# streams are top-k-sized projections.
# ---------------------------------------------------------------------------

_RRF_ORACLE = r"""
WITH s1 AS (SELECT doc_id, n_chars AS score FROM documents),
s2 AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS score
  FROM documents
),
r1 AS (
  SELECT doc_id, CAST(round(1.0 / (60 + row_number()
         OVER (ORDER BY score DESC, doc_id ASC)), 9) AS DECIMAL(28,9)) AS rr
  FROM s1
), r2 AS (
  SELECT doc_id, CAST(round(1.0 / (60 + row_number()
         OVER (ORDER BY score DESC, doc_id ASC)), 9) AS DECIMAL(28,9)) AS rr
  FROM s2
), u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
       round(CAST(sum(rr) AS DOUBLE), 6) AS rrf_score
FROM u GROUP BY 1
"""


@register("rrf_hybrid_doc_ranking", oracle=_RRF_ORACLE, tags=("LLM", "retrieval"))
def rrf_hybrid_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import rrf_fuse
    from ..llmprep.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    by_chars = docs.select("doc_id", F.col("n_chars").alias("score"))
    by_tokens = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("score")
    )
    return rrf_fuse([by_chars, by_tokens], rrf_k=60)


# ---------------------------------------------------------------------------
# Autocorrelation profile (operators/trend.py::acf_profile): lag-1..3 ACF
# of the daily per-event-type value series (decimal-exact daily sums; the
# date string is a unique order key per series).
# ---------------------------------------------------------------------------

_ACF_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         sum(CAST(round(value, 2) AS DECIMAL(12,2))) AS v
  FROM events GROUP BY 1, 2
), base AS (
  SELECT event_type, CAST(v AS DECIMAL(24,6)) AS v,
         count(*) OVER (PARTITION BY event_type) AS n,
         CAST(sum(CAST(v AS DECIMAL(24,6))) OVER (PARTITION BY event_type) AS DOUBLE)
           / count(*) OVER (PARTITION BY event_type) AS m,
         lag(CAST(v AS DECIMAL(24,6)), 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
         lag(CAST(v AS DECIMAL(24,6)), 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
         lag(CAST(v AS DECIMAL(24,6)), 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
  FROM daily
),
agg AS (
  SELECT event_type, max(n) AS n,
         sum(CAST(round((CAST(v AS DOUBLE) - m) * (CAST(v AS DOUBLE) - m), 9) AS DECIMAL(28,9))) AS den,
         sum(CASE WHEN l1 IS NOT NULL THEN CAST(round((CAST(v AS DOUBLE) - m) * (CAST(l1 AS DOUBLE) - m), 9) AS DECIMAL(28,9)) END) AS num1,
         sum(CASE WHEN l2 IS NOT NULL THEN CAST(round((CAST(v AS DOUBLE) - m) * (CAST(l2 AS DOUBLE) - m), 9) AS DECIMAL(28,9)) END) AS num2,
         sum(CASE WHEN l3 IS NOT NULL THEN CAST(round((CAST(v AS DOUBLE) - m) * (CAST(l3 AS DOUBLE) - m), 9) AS DECIMAL(28,9)) END) AS num3,
         count(l1) AS np1, count(l2) AS np2, count(l3) AS np3
  FROM base GROUP BY event_type
)
SELECT event_type, lag, CAST(n AS BIGINT) AS n, CAST(n_pairs AS BIGINT) AS n_pairs,
       CASE WHEN den > 0 AND n_pairs > 0
            THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS acf
FROM (
  SELECT event_type, CAST(1 AS BIGINT) AS lag, n, np1 AS n_pairs, num1 AS num, den FROM agg
  UNION ALL
  SELECT event_type, CAST(2 AS BIGINT), n, np2, num2, den FROM agg
  UNION ALL
  SELECT event_type, CAST(3 AS BIGINT), n, np3, num3, den FROM agg
)
"""


@register("acf_daily_event_value", oracle=_ACF_ORACLE, tags=("A11", "trend"))
def acf_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import acf_profile

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.sum(F.round("value", 2).cast("decimal(12,2)")).alias("v"))
    )
    return acf_profile(daily, ["event_type"], "day", "v", max_lag=3).withColumnRenamed(
        "k", "event_type"
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities (operators/graph.py::hits_scores) on the
# supplier→part bipartite supply graph ('s'/'p'-prefixed node ids keep
# the two keyspaces disjoint). The 2-iteration fixed-point unrolls
# verbatim into the oracle — integer sums, max, floor division only.
# ---------------------------------------------------------------------------

_HITS_NORM = (
    "SELECT node, x // ((SELECT (max(x) + 999999999999) // 1000000000000"
    " FROM {t})) AS x FROM {t}"
)

_HITS_ORACLE = f"""
WITH e AS (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                  'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem
),
hub0 AS (SELECT DISTINCT src AS node, CAST(1000000000000 AS BIGINT) AS x FROM e),
a1r AS (SELECT dst AS node, CAST(sum(h.x) AS BIGINT) AS x
        FROM e JOIN hub0 h ON h.node = e.src GROUP BY 1),
a1 AS ({_HITS_NORM.format(t='a1r')}),
h1r AS (SELECT src AS node, CAST(sum(a.x) AS BIGINT) AS x
        FROM e JOIN a1 a ON a.node = e.dst GROUP BY 1),
h1 AS ({_HITS_NORM.format(t='h1r')}),
a2r AS (SELECT dst AS node, CAST(sum(h.x) AS BIGINT) AS x
        FROM e JOIN h1 h ON h.node = e.src GROUP BY 1),
a2 AS ({_HITS_NORM.format(t='a2r')}),
h2r AS (SELECT src AS node, CAST(sum(a.x) AS BIGINT) AS x
        FROM e JOIN a2 a ON a.node = e.dst GROUP BY 1),
h2 AS ({_HITS_NORM.format(t='h2r')})
SELECT coalesce(h.node, a.node) AS node,
       CAST(coalesce(h.x, 0) AS BIGINT) AS hub_fp,
       CAST(coalesce(a.x, 0) AS BIGINT) AS auth_fp
FROM h2 h FULL JOIN a2 a ON h.node = a.node
"""


@register("hits_supply_graph", oracle=_HITS_ORACLE, tags=("LLM", "graph"))
def hits_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits_scores

    # Long-encoded node ids through the iterations (supplier 2k, part
    # 2k+1 — disjoint by parity), decoded to the "s<id>"/"p<id>" labels on
    # the output rows only: scores are id-value-independent and every
    # shuffle/join key in the spine drops from a string to 8 bytes (the
    # pagerank_purchase_graph recipe).
    from ..operators.graph import parity_decode, parity_encode

    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            parity_encode("l_suppkey", odd=False).alias("src"),
            parity_encode("l_partkey", odd=True).alias("dst"),
        )
        .distinct()
    )
    return hits_scores(edges, iters=2).select(
        parity_decode("node", "s", "p").alias("node"),
        "hub_fp",
        "auth_fp",
    )


# ---------------------------------------------------------------------------
# Radius of gyration (functions/geo.py::radius_of_gyration): per-user
# mobility over deterministic synthetic ping coordinates derived from
# event ids by integer arithmetic (exact in both engines).
# ---------------------------------------------------------------------------

_RG_ORACLE = """
WITH pings AS (
  SELECT user_id,
         CAST(-60 + (event_id % 120) AS DOUBLE) AS lat,
         CAST(-150 + ((event_id * 7) % 300) AS DOUBLE) AS lon
  FROM events
), c AS (
  SELECT user_id, lat, lon,
         CAST(sum(CAST(lat AS DECIMAL(24,8))) OVER (PARTITION BY user_id) AS DOUBLE)
           / count(*) OVER (PARTITION BY user_id) AS clat,
         CAST(sum(CAST(lon AS DECIMAL(24,8))) OVER (PARTITION BY user_id) AS DOUBLE)
           / count(*) OVER (PARTITION BY user_id) AS clon
  FROM pings
), d AS (
  SELECT user_id, clat, clon,
         CAST(round(pow(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(clat - lat) / 2), 2)
           + cos(radians(lat)) * cos(radians(clat))
             * pow(sin(radians(clon - lon) / 2), 2))), 2), 9)
           AS DECIMAL(28,9)) AS d2
  FROM c
)
SELECT user_id AS user, CAST(count(*) AS BIGINT) AS n_pings,
       round(any_value(clat), 6) AS centroid_lat,
       round(any_value(clon), 6) AS centroid_lon,
       round(sqrt(CAST(sum(d2) AS DOUBLE) / count(*)), 6) AS rg_km
FROM d GROUP BY user_id
"""


@register("mobility_radius_of_gyration", oracle=_RG_ORACLE, tags=("geo",))
def mobility_radius_of_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geo import radius_of_gyration

    pings = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.lit(-60) + (F.col("event_id") % 120)).cast("double").alias("lat"),
        (F.lit(-150) + ((F.col("event_id") * 7) % 300)).cast("double").alias("lon"),
    )
    return radius_of_gyration(pings, "user_id", "lat", "lon")


# ---------------------------------------------------------------------------
# Interval-overlap join (operators/interval.py::interval_overlap_join):
# which shipments fall inside each part's launch window (first shipment
# ± 3 days)? Keyed on the part, bucketized single-shuffle plan; the
# oracle is the PLAIN keyed overlap join.
# ---------------------------------------------------------------------------

_INTERVAL_ORACLE = """
WITH days AS (
  SELECT l_partkey, l_orderkey, l_linenumber,
         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ship_day
  FROM lineitem
), win AS (
  SELECT l_partkey AS pk_l, min(ship_day) - 3 AS win_lo, min(ship_day) + 3 AS win_hi
  FROM days GROUP BY 1
)
SELECT w.pk_l AS l_partkey, w.win_lo, w.win_hi,
       d.l_orderkey, d.l_linenumber, d.ship_day
FROM win w JOIN days d
  ON d.l_partkey = w.pk_l AND w.win_lo <= d.ship_day AND d.ship_day <= w.win_hi
"""


@register(
    "interval_overlap_part_launch_window", oracle=_INTERVAL_ORACLE, tags=("J5", "interval")
)
def interval_overlap_part_launch_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.interval import interval_overlap_join

    days = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("ship_day"),
    )
    win = days.groupBy(F.col("l_partkey").alias("pk_l")).agg(
        (F.min("ship_day") - 3).alias("win_lo"),
        (F.min("ship_day") + 3).alias("win_hi"),
    )
    right = days.select(
        F.col("l_partkey").alias("pk_r"),
        "l_orderkey",
        "l_linenumber",
        "ship_day",
        F.col("ship_day").alias("ship_day_end"),
    )
    out = interval_overlap_join(
        win,
        right,
        ("win_lo", "win_hi"),
        ("ship_day", "ship_day_end"),
        bucket_width=7,
        keys=("pk_l", "pk_r"),
    )
    return out.select(
        F.col("pk_l").alias("l_partkey"),
        "win_lo",
        "win_hi",
        "l_orderkey",
        "l_linenumber",
        "ship_day",
    )


# ---------------------------------------------------------------------------
# Two-sample KS drift (quality/monitors.py::ks_two_sample): do urgent and
# low-priority orders draw their totals from the same distribution?
# Bucketized D — the only ordered pass runs over the bucket relation.
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH rb AS (
  SELECT CAST(floor(o_totalprice / 5000.0) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_ref
  FROM orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice IS NOT NULL
  GROUP BY 1
), cb AS (
  SELECT CAST(floor(o_totalprice / 5000.0) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_cur
  FROM orders WHERE o_orderpriority = '5-LOW' AND o_totalprice IS NOT NULL
  GROUP BY 1
), mrg AS (
  SELECT coalesce(rb.bucket, cb.bucket) AS bucket,
         coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
  FROM rb FULL JOIN cb ON rb.bucket = cb.bucket
), stepped AS (
  SELECT bucket,
         sum(n_ref) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ref,
         sum(n_cur) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_cur
  FROM mrg
), scored AS (
  SELECT bucket,
         max(c_ref) OVER () AS t_ref, max(c_cur) OVER () AS t_cur,
         abs(CAST(c_ref AS DOUBLE) / max(c_ref) OVER ()
             - CAST(c_cur AS DOUBLE) / max(c_cur) OVER ()) AS diff
  FROM stepped
), best AS (
  SELECT round(max(struct_pack(d := diff, nb := -bucket)).d, 6) AS d_stat,
         -(max(struct_pack(d := diff, nb := -bucket)).nb) AS at_bucket,
         CAST(any_value(t_ref) AS BIGINT) AS n_ref,
         CAST(any_value(t_cur) AS BIGINT) AS n_cur
  FROM scored
)
SELECT d_stat, at_bucket, n_ref, n_cur,
       round(1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE)), 6) AS threshold,
       d_stat > round(1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE)), 6) AS drifted
FROM best
"""


@register("ks_drift_priority_totals", oracle=_KS_ORACLE, tags=("DQ", "A11"))
def ks_drift_priority_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import ks_two_sample

    orders = load_table(spark, sf_dir, "orders")
    return ks_two_sample(
        orders.filter(F.col("o_orderpriority") == "1-URGENT"),
        orders.filter(F.col("o_orderpriority") == "5-LOW"),
        "o_totalprice",
        bucket_width=5000.0,
    )


# ---------------------------------------------------------------------------
# Batch sessionization (operators/windows.py::sessionize_events): 30-min
# gap sessions over the events stream, half-up integer-cents value
# accumulation, event_id tie-break for same-µs events.
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(event_id AS VARCHAR) AS tb,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), marked AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, tb)
), seqd AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM marked
), sess AS (
  SELECT user_id, session_seq, min(us) AS start_us, max(us) AS last_us,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
  FROM seqd GROUP BY 1, 2
)
SELECT user_id, session_seq, start_us, last_us, n_events, sum_value,
       session_seq = max(session_seq) OVER (PARTITION BY user_id) AS is_open
FROM sess
"""


@register("sessionize_user_events", oracle=_SESSION_ORACLE, tags=("sequence", "W4"))
def sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import sessionize_events

    ev = load_table(spark, sf_dir, "events")
    return sessionize_events(
        ev, "user_id", "ts", "value", gap_seconds=1800, tiebreak_col="event_id"
    )


# ---------------------------------------------------------------------------
# OLS trend fit (operators/trend.py::ols_trend): per-nation revenue trend
# over the day index — closed-form slope/intercept/r² from exact decimal
# sums, one aggregate.
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH daily AS (
  SELECT n.n_name,
         CAST(CAST(o.o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS x,
         sum(CAST(round(o.o_totalprice, 0) AS DECIMAL(18,0))) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), s AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(20,0))) AS sx,
         sum(CAST(y AS DECIMAL(24,6))) AS sy,
         sum(CAST(x AS DECIMAL(20,0)) * CAST(x AS DECIMAL(20,0))) AS sxx,
         sum(CAST(CAST(x AS DECIMAL(20,0)) * CAST(y AS DECIMAL(24,6)) AS DECIMAL(38,6))) AS sxy,
         sum(CAST(CAST(y AS DECIMAL(24,6)) * CAST(y AS DECIMAL(24,6)) AS DECIMAL(38,6))) AS syy
  FROM daily GROUP BY 1
), d AS (
  SELECT n_name, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
  FROM s
)
SELECT n_name, n,
  round(CASE WHEN n >= 2 AND nd*sxxd - sxd*sxd > 0
        THEN (nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) END, 6) AS slope,
  round(CASE WHEN n >= 2 AND nd*sxxd - sxd*sxd > 0
        THEN (syd - ((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd)) * sxd) / nd END, 6) AS intercept,
  round(CASE WHEN n >= 2 AND nd*sxxd - sxd*sxd > 0 AND nd*syyd - syd*syd > 0
        THEN ((nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd))
             / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)) END, 6) AS r2
FROM d
"""


@register("ols_trend_nation_revenue", oracle=_OLS_ORACLE, tags=("trend", "A11"))
def ols_trend_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import ols_trend

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name",
            # Small day index + whole-dollar y keep every unscaled sum
            # (incl. Σy², Σxy) under 2^53 at sf0.1, so the decimal→double
            # casts agree bit-for-bit across engines (the registry's
            # narrow-scale-first rule; epoch-day x overflowed Σxy's
            # mantissa and flipped one 6-dp rounding at sf0.001).
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
            )
            .cast("long")
            .alias("x"),
        )
        .agg(F.sum(F.round("o_totalprice", 0).cast("decimal(18,0)")).alias("y"))
    )
    return ols_trend(daily, ["n_name"], "x", "y")


# ---------------------------------------------------------------------------
# Gini concentration (quality/monitors.py::gini_concentration): how
# concentrated is order revenue across each nation's customers? Tie-safe
# rank form over per-customer revenue.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH percust AS (
  SELECT n.n_name, c.c_custkey,
         sum(CAST(round(o.o_totalprice, 2) AS DECIMAL(18,2))) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), rk AS (
  SELECT n_name, CAST(rev AS DECIMAL(24,6)) AS v,
         CAST(row_number() OVER (PARTITION BY n_name ORDER BY rev ASC, c_custkey ASC) AS BIGINT) AS i
  FROM percust
), s AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n, sum(v) AS sv,
         sum(CAST(i * v AS DECIMAL(38,6))) AS siv
  FROM rk GROUP BY 1
)
SELECT n_name, n, round(CAST(sv AS DOUBLE), 6) AS total,
  round(CASE WHEN CAST(sv AS DOUBLE) > 0
        THEN (2.0 * CAST(siv AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(sv AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE)) END, 6) AS gini
FROM s
"""


@register("gini_revenue_by_nation", oracle=_GINI_ORACLE, tags=("DQ", "A11"))
def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import gini_concentration

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    percust = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev"))
    )
    return gini_concentration(percust, ["n_name"], "rev")


# ---------------------------------------------------------------------------
# Shared hash-sparsified co-purchase graph (the k_core/jaccard fixture
# family from round7.py): distinct same-order part pairs from baskets of
# ≤ 25 parts, 1-in-20 deterministic hash sample.
# ---------------------------------------------------------------------------

_COPURCHASE_CTE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT l_orderkey FROM baskets GROUP BY 1 HAVING count(*) <= 25
), rawpairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (SELECT l_orderkey FROM sized)
), sampled AS (
  SELECT u, v FROM rawpairs
  WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
)"""


def _sampled_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_COPURCHASE_CTE`` (the round7 jaccard/k-core
    construction: basket cap 25, md5-hash 1-in-20 sample).

    Returned lazily checkpointed: every caller fans the relation out
    (direction unions, seed discovery, degree counts), and without the cut
    each reference re-executes the basket fan-out + distinct."""
    from .advanced import sampled_copurchase_edges

    return sampled_copurchase_edges(spark, sf_dir).transform(lineage_cut)


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction (operators/graph.py::adamic_adar_scores) on
# the sampled co-purchase graph — 1/ln(deg) weighted common neighbors
# with the same hub guard as the jaccard query; round-then-decimal
# per-wedge partials keep the per-pair sums engine-exact.
# ---------------------------------------------------------------------------

_AA_ORACLE = _COPURCHASE_CTE + """, bidir AS (
  SELECT u, v FROM sampled UNION ALL SELECT v AS u, u AS v FROM sampled
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM bidir GROUP BY 1
), hubs AS (
  SELECT u FROM deg WHERE deg > 12
), wedge AS (
  SELECT b.u, b.v,
         CAST(CASE WHEN d.deg >= 2
              THEN round(1.0 / ln(CAST(d.deg AS DOUBLE)), 9) END
              AS DECIMAL(22,9)) AS aw
  FROM bidir b JOIN deg d ON d.u = b.v
  WHERE b.v NOT IN (SELECT u FROM hubs)
)
SELECT a.u AS u, b.u AS v, CAST(count(*) AS BIGINT) AS common,
       round(CAST(sum(a.aw) AS DOUBLE), 6) AS aa_score
FROM wedge a JOIN wedge b ON a.v = b.v AND a.u < b.u
GROUP BY 1, 2 HAVING count(*) >= 1
"""


@register("adamic_adar_copurchase", oracle=_AA_ORACLE, tags=("LLM", "graph"), bench=True)
def adamic_adar_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import adamic_adar_scores

    return adamic_adar_scores(
        _sampled_copurchase_pairs(spark, sf_dir), max_hub_degree=12
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (operators/graph.py::personalized_pagerank) from
# the two smallest part ids of the sampled co-purchase graph — seed
# discovery is deterministic in both engines; the 3-iteration integer
# fixed point unrolls verbatim (rank stays sparse: only seed-reachable
# nodes carry rows).
# ---------------------------------------------------------------------------


def _ppr_oracle() -> str:
    iters, teleport = 3, 10**12 * 15 // 100
    parts = [
        _COPURCHASE_CTE
        + """, fixture AS (
  SELECT u AS src, v AS dst FROM sampled
  UNION ALL SELECT v AS src, u AS dst FROM sampled
), seeds AS (
  SELECT DISTINCT src AS node FROM fixture ORDER BY src ASC LIMIT 2
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM fixture GROUP BY 1
), r0 AS (
  SELECT node, CAST(%d AS BIGINT) AS rank_fp FROM seeds
)"""
        % teleport
    ]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts.append(
            f""",
s{i} AS (
  SELECT e.dst AS node, CAST(sum((85 * (r.rank_fp // d.outdeg)) // 100) AS BIGINT) AS s
  FROM fixture e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
), r{i} AS (
  SELECT coalesce(s.node, t.node) AS node,
         CAST(coalesce(t.t, 0) + coalesce(s.s, 0) AS BIGINT) AS rank_fp
  FROM s{i} s
  FULL JOIN (SELECT node, CAST({teleport} AS BIGINT) AS t FROM r0) t
    ON t.node = s.node
  WHERE coalesce(t.t, 0) + coalesce(s.s, 0) > 0
)"""
        )
    parts.append(f"\nSELECT node, rank_fp FROM r{iters}")
    return "".join(parts)


@register("ppr_copurchase_seeds", oracle=_ppr_oracle(), tags=("LLM", "graph"))
def ppr_copurchase_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import personalized_pagerank

    sampled = _sampled_copurchase_pairs(spark, sf_dir)
    edges = sampled.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(sampled.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # Deterministic seed discovery: the two smallest source ids (bounded
    # 2-row collect — the seed set is a query parameter by contract).
    seeds = [
        r["src"]
        for r in edges.select("src").distinct().orderBy(F.col("src").asc()).limit(2).collect()
    ]
    return personalized_pagerank(edges, seeds, iters=3)


# ---------------------------------------------------------------------------
# EWMA control chart (operators/trend.py::ewma_control_chart) over the
# daily per-event-type value series — the oracle is GENERATED by the
# operator's paired ewma_oracle_sql (identical left-fold chains,
# recurrence shapes, and Python-computed limit-factor literals), the
# cusum_event_value_shifts pattern.
# ---------------------------------------------------------------------------

_EWMA_STEPS = [f"{d:02d}" for d in range(1, 31)]


def _ewma_oracle() -> str:
    from ..operators.trend import ewma_oracle_sql

    inner = ewma_oracle_sql(
        "SELECT event_type, strftime(ts, '%d') AS step, "
        "CAST(round(value, 2) AS DECIMAL(12,2)) AS val FROM events",
        "event_type",
        "step",
        "val",
        _EWMA_STEPS,
        lam=0.3,
        L=3.0,
    )
    return (
        "SELECT k AS event_type, step, x, ewma, ucl, lcl, is_out "
        f"FROM ({inner}) AS gen"
    )


@register("ewma_event_value_chart", oracle=_ewma_oracle(), tags=("A11", "trend"))
def ewma_event_value_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import ewma_control_chart

    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "dd").alias("step"),
        F.round("value", 2).cast("decimal(12,2)").alias("val"),
    )
    return ewma_control_chart(
        base, ["event_type"], "step", "val", _EWMA_STEPS, lam=0.3, L=3.0
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (llmprep/chunking.py::cdc_chunk_documents):
# insertion-stable chunk boundaries from the engine-neutral md5-prefix
# token hash — the whole chunker is SQL-expressible.
# ---------------------------------------------------------------------------

_CDC_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS a
  FROM documents
), idx AS (
  SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i
  FROM d WHERE len(a) > 0
), bnd AS (
  SELECT doc_id, any_value(a) AS a,
         list(i ORDER BY i)
           FILTER (WHERE ('0x' || substr(md5(a[i]), 1, 8))::BIGINT % 8 = 0) AS e0,
         max(i) AS n
  FROM idx GROUP BY doc_id
), bnd2 AS (
  SELECT doc_id, a,
         CASE WHEN e0 IS NULL OR len(e0) = 0 OR e0[-1] <> n
              THEN list_append(coalesce(e0, []), n) ELSE e0 END AS ends
  FROM bnd
), spans AS (
  SELECT doc_id, a, ends, unnest(generate_series(1, len(ends))) AS ci
  FROM bnd2
)
SELECT doc_id,
       CAST(ci - 1 AS INTEGER) AS chunk_idx,
       CAST(CASE WHEN ci = 1 THEN 1 ELSE ends[ci - 1] + 1 END AS INTEGER) AS start_tok,
       CAST(ends[ci] - (CASE WHEN ci = 1 THEN 1 ELSE ends[ci - 1] + 1 END) + 1 AS INTEGER) AS n_tokens,
       md5(array_to_string(
         list_slice(a, CASE WHEN ci = 1 THEN 1 ELSE ends[ci - 1] + 1 END, ends[ci]), ' '
       )) AS chunk_md5
FROM spans
"""


@register("cdc_chunk_boundaries", oracle=_CDC_ORACLE, tags=("LLM", "text"))
def cdc_chunk_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.chunking import cdc_chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_documents(docs, divisor=8)


# ---------------------------------------------------------------------------
# Jaro–Winkler verification (llmprep/fuzzy.py::jaro_winkler_pairs) over
# first-token-blocked document prefix candidates — the Arrow pandas_udf
# scorer vs DuckDB's NATIVE jaro_winkler_similarity on the same candidate
# SQL: a true cross-engine check of the only Python-side scorer in the
# fuzzy tier.
# ---------------------------------------------------------------------------

_JW_ORACLE = r"""
WITH keys AS (
  SELECT doc_id, substr(text, 1, 40) AS pfx,
         string_split(text, ' ')[1] AS tok0,
         CAST(floor(length(text) / 100) AS INTEGER) AS band
  FROM documents
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pfx AS pfx_a, b.pfx AS pfx_b
  FROM keys a JOIN keys b ON a.tok0 = b.tok0 AND a.band = b.band
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(jaro_winkler_similarity(pfx_a, pfx_b), 6) AS jw_sim
FROM cand
WHERE round(jaro_winkler_similarity(pfx_a, pfx_b), 6) >= 0.8
"""


@register("jw_fuzzy_doc_prefixes", oracle=_JW_ORACLE, tags=("LLM", "fuzzy"))
def jw_fuzzy_doc_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.fuzzy import fuzzy_block_keys, jaro_winkler_pairs

    keys = fuzzy_block_keys(load_table(spark, sf_dir, "documents"))
    a = keys.select(
        F.col("doc_id").alias("id_a"), F.col("pfx").alias("pfx_a"), "tok0", "band"
    )
    b = keys.select(
        F.col("doc_id").alias("id_b"), F.col("pfx").alias("pfx_b"), "tok0", "band"
    )
    cand = a.join(b, ["tok0", "band"]).filter(F.col("id_a") < F.col("id_b"))
    return jaro_winkler_pairs(cand, "pfx_a", "pfx_b", threshold=0.8).select(
        "id_a", "id_b", "jw_sim"
    )


# ---------------------------------------------------------------------------
# WAV header profile (llmprep/multimodal.py::wav_header_profile): the
# audio analog of media_header_dimensions — per-row canonical RIFF/WAVE
# containers constructed from doc_id by fixed formulas (varying channel/
# rate/depth/frame combinations), parsed back by the pure-codegen
# little-endian pass; every fifth id keeps its 44-byte header but DROPS
# the declared payload, driving the truncation screen (header_ok=False,
# NULL duration) through the value gate. The oracle recomputes every
# field from the same generating formulas — parse ∘ construct = identity
# cross-engine.
# ---------------------------------------------------------------------------

_WAV_ORACLE = """
WITH g AS (
  SELECT doc_id AS media_id,
         doc_id % 2 + 1 AS ch,
         8000 * (doc_id % 3 + 1) AS rate,
         CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 24 ELSE 32 END AS bits,
         50 * (doc_id % 5 + 1) AS n_frames,
         doc_id % 5 = 4 AS corrupt
  FROM documents
), d AS (
  SELECT media_id, ch, rate, bits, n_frames, corrupt,
         ch * (bits // 8) AS frame
  FROM g
)
SELECT media_id,
       TRUE AS is_wav,
       CAST(1 AS BIGINT) AS audio_format,
       CAST(ch AS BIGINT) AS channels,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(bits AS BIGINT) AS bits_per_sample,
       CAST(n_frames * frame AS BIGINT) AS data_bytes,
       CASE WHEN NOT corrupt
            THEN CAST((n_frames * frame * 1000) // (rate * frame) AS BIGINT)
       END AS duration_ms,
       NOT corrupt AS header_ok
FROM d
"""


@register("wav_header_roundtrip", oracle=_WAV_ORACLE, tags=("LLM", "multimodal"))
def wav_header_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.multimodal import wav_header_profile

    d = F.col("media_id")
    ch = (d % 2 + 1).cast("long")
    rate = ((d % 3 + 1) * 8000).cast("long")
    bits = (
        F.when(d % 4 == 0, 8)
        .when(d % 4 == 1, 16)
        .when(d % 4 == 2, 24)
        .otherwise(32)
        .cast("long")
    )
    n_frames = ((d % 5 + 1) * 50).cast("long")
    frame = ch * (bits / 8).cast("long")
    data = n_frames * frame
    byte_rate = rate * frame

    def le(c, width_hex):
        b = F.lpad(F.hex(c), width_hex, "0")
        # byte-swap big-endian hex to little-endian
        pairs = [F.substring(b, i, 2) for i in range(width_hex - 1, 0, -2)]
        return F.concat(*pairs)

    le16 = lambda c: le(c, 4)  # noqa: E731
    le32 = lambda c: le(c, 8)  # noqa: E731
    riff_size = F.lit(36).cast("long") + data
    header_hex = F.concat(
        F.lit("52494646"),             # RIFF
        le32(riff_size),
        F.lit("57415645"),             # WAVE
        F.lit("666D7420"),             # 'fmt '
        le32(F.lit(16).cast("long")),  # fmt chunk size
        le16(F.lit(1).cast("long")),   # PCM
        le16(ch),
        le32(rate),
        le32(byte_rate),
        le16(frame),
        le16(bits),
        F.lit("64617461"),             # 'data'
        le32(data),
    )
    corrupt = d % 5 == 4
    payload_hex = F.when(corrupt, header_hex).otherwise(
        F.concat(header_hex, F.repeat(F.lit("00"), data.cast("int")))
    )
    media = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .select("media_id", F.unhex(payload_hex).alias("payload"))
    )
    return wav_header_profile(media).select(
        "media_id",
        "is_wav",
        "audio_format",
        "channels",
        "sample_rate",
        "bits_per_sample",
        "data_bytes",
        "duration_ms",
        "header_ok",
    )


# ---------------------------------------------------------------------------
# Streaming EWMA monitor (streaming/monitors.py::ewma_stream): the keyed-
# state twin run to completion under availableNow with the daily series
# split across two micro-batches, so the (ewma, n) state must survive the
# batch boundary. Series grain: per-event-type daily MEAN value (scale-
# free, so the control band is SF-independent). The oracle unrolls the
# identical IEEE fold (z₀ = x₀, z_t = λx_t + (1−λ)z_{t−1}, λ printed via
# repr) over the full 30-day spine — both engines' doubles match
# bit-for-bit because the op sequence is identical. Assumes the full
# (type × day) spine is populated, like the batch chart's pivot.
# ---------------------------------------------------------------------------

_SEWMA_LAM = 0.3
_SEWMA_CENTER = 50.0
_SEWMA_HALF = 2.0


def _stream_ewma_oracle() -> str:
    lam = float(_SEWMA_LAM)
    onem = 1.0 - lam
    days = [f"{d:02d}" for d in range(1, 31)]
    xs = [
        (
            "CAST(sum(CASE WHEN strftime(ts, '%d') = '{d}' THEN "
            "CAST(round(value, 2) AS DECIMAL(12,2)) END) AS DOUBLE)"
            " / count(CASE WHEN strftime(ts, '%d') = '{d}' THEN 1 END)"
        ).format(d=d)
        for d in days
    ]
    z = f"({xs[0]})"
    for x in xs[1:]:
        z = f"({lam!r} * ({x}) + {onem!r} * {z})"
    return f"""
WITH agg AS (
  SELECT event_type AS key,
         {z} AS ewma,
         CAST(count(DISTINCT strftime(ts, '%d')) AS BIGINT) AS n_points,
         CAST(max(epoch_us(date_trunc('day', ts))) AS BIGINT) AS last_us
  FROM events GROUP BY event_type
)
SELECT key, ewma, n_points, last_us,
       (ewma > {_SEWMA_CENTER!r} + {_SEWMA_HALF!r}
        OR ewma < {_SEWMA_CENTER!r} - {_SEWMA_HALF!r}) AS is_out
FROM agg
"""


@register("ewma_stream_daily_means", oracle=_stream_ewma_oracle(), tags=("T2", "stream"))
def ewma_stream_daily_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.monitors import ewma_stream

    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            (
                F.sum(F.round("value", 2).cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("x")
        )
        .select(
            "key",
            F.unix_micros("day").alias("us"),
            F.date_format("day", "dd").alias("tb"),
            "x",
        )
    )
    sink = "ewma_stream_daily_means_sink"
    spark.catalog.dropTempView(sink)
    staging = tempfile.mkdtemp(prefix="ewma_stream_src_")
    try:
        split = F.unix_micros(
            F.to_timestamp(F.lit("2024-01-16 00:00:00"))
        )
        series.filter(F.col("us") < split).coalesce(1).write.parquet(
            os.path.join(staging, "b0")
        )
        series.filter(F.col("us") >= split).coalesce(1).write.parquet(
            os.path.join(staging, "b1")
        )
        pin_staging_mtimes(staging, 2)  # deterministic trigger order
        stream = (
            spark.readStream.schema(series.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staging + "/b*")
        )
        out = ewma_stream(
            stream, lam=_SEWMA_LAM, center=_SEWMA_CENTER, halfwidth=_SEWMA_HALF
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
    snaps = spark.table(sink)
    final = snaps.groupBy("key").agg(
        F.max_by("ewma", "n_points").alias("ewma"),
        F.max("n_points").alias("n_points"),
        F.max("last_us").alias("last_us"),
        F.max_by("is_out", "n_points").alias("is_out"),
    )
    return final


# ---------------------------------------------------------------------------
# Distributed PCA projection (llmprep/projections.py), VALUE-ORACLED since
# r10 (VERDICT r9 item 3 — this was the registry's only rows-only check).
# The projected scores come from the closed-form block-diagonal model
# (pairwise_pca_project: each 2-D marginal pair onto its leading 2×2
# eigenvector — the PQ-style per-subspace rotation), which a DuckDB oracle
# recomputes exactly through the pairwise_pca_variance DECIMAL discipline.
# The d×d eigh path (pca_fit) STILL runs at the driver and is value-gated
# through a true invariant: the top-4 eigh subspace maximizes captured
# variance over ALL orthonormal 4-frames, and the 4 best block eigenvectors
# form one such frame (they live in disjoint coordinate blocks), so
#   Σ top-4 eigh eigenvalues ≥ Σ top-4 block λ₁  (up to 9-dp rounding).
# A numpy/eigh failure flips the emitted eigh_dominates column and the
# hash gate catches it; numpy parity/orthonormality proofs stay in
# tests/test_projections.py.
# ---------------------------------------------------------------------------


def _pca_projection_oracle() -> str:
    from ..llmprep.projections import pairwise_pca_project_oracle_sql

    inner = pairwise_pca_project_oracle_sql(
        table="embeddings", vec_col="embedding", dims=64, id_cols=("vec_id", "label")
    )
    return f"SELECT *, TRUE AS eigh_dominates FROM ({inner})"


@register("pca_embedding_projection", oracle=_pca_projection_oracle(), tags=("LLM", "ann"))
def pca_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.projections import (
        pairwise_pca_project,
        pairwise_pca_variance,
        pca_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    proj = pairwise_pca_project(emb, dims=64, id_cols=("vec_id", "label"))
    # d×d eigh dominance check (driver-side, d²/metadata-sized inputs only)
    model = pca_fit(emb, k=4)
    eigh_top4 = float(sum(model["explained_variance"][:4]))
    block_rows = pairwise_pca_variance(emb, dims=64).select("lambda1").collect()
    block_top4 = float(sum(sorted((r["lambda1"] for r in block_rows), reverse=True)[:4]))
    dominates = eigh_top4 >= block_top4 - 1e-6 * max(1.0, abs(block_top4))
    return proj.withColumn("eigh_dominates", F.lit(bool(dominates)))
