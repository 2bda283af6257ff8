"""Round-8 registrations.

Registered OUTSIDE the round-8 driver window by design (VERDICT r7 item 1:
the window head belongs to the round-7 session-4 catch-up plus the 20-slot
r3-stale rotation; pinned in tests/test_probe_outliers_merges.py). Every
query here carries three-SF local oracle evidence on registration day and
heads the round-9 window.

Reference parity: these extend the engine beyond the reference's own
operator inventory (training-data-pipeline tier), same as rounds 3-7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..streaming.staging import pin_staging_mtimes
from .scratch import scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# Closed-form 2-D-marginal PCA (llmprep/projections.py::pairwise_pca_variance)
# — the PCA family's first VALUE-checkable driver query (VERDICT r7 item 3):
# real eigenvalues + explained-variance ratios through the rows+schema+hash
# gate. The d×d eigh (pca_embedding_projection) stays rows-only; a pinned
# test ties these closed forms to numpy.linalg.eigvalsh on the same sums.
# ---------------------------------------------------------------------------

_PCA_VAR_ORACLE = """
WITH px AS (
  SELECT t.p AS pair,
         CAST(embedding[CAST(t.p * 2 + 1 AS INT)] AS DOUBLE) AS xa,
         CAST(embedding[CAST(t.p * 2 + 2 AS INT)] AS DOUBLE) AS xb
  FROM embeddings, range(0, 32) t(p)
), agg AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(round(xa, 12) AS DECIMAL(38,12))) AS sa,
         sum(CAST(round(xb, 12) AS DECIMAL(38,12))) AS sb,
         sum(CAST(round(xa * xa, 12) AS DECIMAL(38,12))) AS saa,
         sum(CAST(round(xb * xb, 12) AS DECIMAL(38,12))) AS sbb,
         sum(CAST(round(xa * xb, 12) AS DECIMAL(38,12))) AS sab
  FROM px GROUP BY 1
), stats AS (
  SELECT pair, n,
    round((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(n AS DOUBLE) - 1.0), 9) AS var_a,
    round((CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(n AS DOUBLE) - 1.0), 9) AS var_b,
    round((CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(n AS DOUBLE) - 1.0), 9) AS cov_ab
  FROM agg
), eig AS (
  SELECT *,
    round((var_a + var_b) / 2.0
          + sqrt(((var_a - var_b) / 2.0) * ((var_a - var_b) / 2.0) + cov_ab * cov_ab), 9) AS lambda1,
    round((var_a + var_b) / 2.0
          - sqrt(((var_a - var_b) / 2.0) * ((var_a - var_b) / 2.0) + cov_ab * cov_ab), 9) AS lambda2
  FROM stats
)
SELECT CAST(pair AS INT) AS pair, CAST(pair * 2 AS INT) AS dim_a,
       CAST(pair * 2 + 1 AS INT) AS dim_b, n, var_a, var_b, cov_ab,
       lambda1, lambda2,
       CASE WHEN var_a + var_b <> 0 THEN round(lambda1 / (var_a + var_b), 6) END AS evr1
FROM eig
"""


@register("pca_variance_explained", oracle=_PCA_VAR_ORACLE, tags=("LLM", "ann"))
def pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.projections import pairwise_pca_variance

    emb = load_table(spark, sf_dir, "embeddings")
    return pairwise_pca_variance(emb, dims=64)


# ---------------------------------------------------------------------------
# Violation-injected twins (VERDICT r7 item 5): the two referential/DQ
# violation queries (`orphan_lineitems_check`, `dq_accepted_values_
# violations`) pass on EMPTY results by design, so their driver greens
# were vacuous. These twins corrupt a copy IN-QUERY (deterministic key
# mapping, no rand()) and run the SAME operator path — non-empty,
# value-gated output proving the anti-join and accepted-values checks
# actually fire at the driver, not just in unit tests.
# ---------------------------------------------------------------------------

_ORPHAN_INJECTED_ORACLE = """
WITH corrupt AS (
  SELECT -l_orderkey - 1 AS l_orderkey, l_linenumber
  FROM lineitem WHERE l_orderkey % 131 = 0
), stacked AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  UNION ALL SELECT l_orderkey, l_linenumber FROM corrupt
)
SELECT s.l_orderkey AS orderkey, s.l_linenumber AS linenumber
FROM stacked s LEFT JOIN orders o ON s.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
"""


@register("orphan_lineitems_injected", oracle=_ORPHAN_INJECTED_ORACLE, tags=("J6", "DQ"))
def orphan_lineitems_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import anti_join_violations

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    # deterministic corruption: remap every 131st orderkey to a key that
    # cannot exist in orders (orderkeys are non-negative)
    corrupt = li.filter(F.col("l_orderkey") % 131 == 0).withColumn(
        "l_orderkey", -F.col("l_orderkey") - 1
    )
    # lineage cut: the anti-join probes the stacked relation once, not
    # one lineitem scan per union branch (plan-audit finding)
    stacked = li.unionByName(corrupt).transform(lineage_cut)
    o = load_table(spark, sf_dir, "orders")
    return anti_join_violations(stacked, o, {"l_orderkey": "o_orderkey"}).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
    )


_ACCEPTED_INJECTED_ORACLE = """
WITH corrupt_type AS (
  SELECT event_id, concat('zz_', coalesce(event_type, 'null')) AS event_type, value
  FROM events WHERE event_id % 97 = 0
), corrupt_range AS (
  SELECT event_id, event_type, value + 1000000.0 AS value
  FROM events WHERE event_id % 101 = 0
), stacked AS (
  SELECT event_id, event_type, value FROM events
  UNION ALL SELECT event_id, event_type, value FROM corrupt_type
  UNION ALL SELECT event_id, event_type, value FROM corrupt_range
)
SELECT event_id, 'event_type not in accepted set' AS reason FROM stacked
WHERE event_type NOT IN ('signup', 'click', 'purchase', 'error', 'view')
   OR event_type IS NULL
UNION ALL
SELECT event_id, 'value out of range [0, 100000]' AS reason FROM stacked
WHERE value < 0 OR value > 100000
"""


@register("dq_accepted_values_injected", oracle=_ACCEPTED_INJECTED_ORACLE, tags=("DQ", "U1"))
def dq_accepted_values_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality import accepted_values_violations

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    corrupt_type = ev.filter(F.col("event_id") % 97 == 0).withColumn(
        "event_type", F.concat(F.lit("zz_"), F.coalesce("event_type", F.lit("null")))
    )
    corrupt_range = ev.filter(F.col("event_id") % 101 == 0).withColumn(
        "value", F.col("value") + F.lit(1000000.0)
    )
    # lineage cut: accepted_values_violations filters the stack TWICE
    # (type + range branches) — without the cut each branch re-scans
    # events per union arm (6 scans; plan-audit finding)
    stacked = (
        ev.unionByName(corrupt_type)
        .unionByName(corrupt_range)
        .transform(lineage_cut)
    )
    # offending_value is dropped from the gated output: stringified raw
    # doubles are not format-stable cross-engine; (event_id, reason) is.
    return accepted_values_violations(stacked).select("event_id", "reason")


# ---------------------------------------------------------------------------
# Streaming last-touch attribution (VERDICT r7 item 9): the batch
# operator's streaming twin (streaming/attribution.py) driven through the
# VALUE gate — the appended conversion rows across micro-batches must
# equal the batch window query, checked against the batch query's own
# DuckDB oracle: stream ≡ batch ≡ oracle in one row set. Same staging
# recipe as jsd_stream_event_mix: day-split parquet files, one file per
# trigger, availableNow.
# ---------------------------------------------------------------------------


def _last_touch_stream_oracle() -> str:
    from .round7 import _LAST_TOUCH_ORACLE

    return _LAST_TOUCH_ORACLE


@register(
    "attribution_stream_purchases",
    oracle=None,  # replaced below with the batch query's oracle
    tags=("T2", "T4", "stream", "attribution"),
)
def attribution_stream_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.attribution import attribution_stream

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view", "click"))
        .select(
            F.col("user_id"),
            F.unix_micros("ts").alias("us"),
            F.col("event_id").cast("string").alias("tb"),
            F.col("event_type").alias("ev"),
            F.date_format("ts", "dd").cast("int").alias("_d"),
        )
    )
    sink = "attribution_stream_purchases_sink"
    spark.catalog.dropTempView(sink)
    staging = tempfile.mkdtemp(prefix="attr_stream_src_")
    try:
        cols = ["user_id", "us", "tb", "ev"]
        # day-split micro-batches: cross-batch event-time order holds
        ev.filter(F.col("_d") <= 15).select(*cols).coalesce(1).write.parquet(
            os.path.join(staging, "b0")
        )
        ev.filter(F.col("_d") > 15).select(*cols).coalesce(1).write.parquet(
            os.path.join(staging, "b1")
        )
        pin_staging_mtimes(staging, 2)  # deterministic trigger order
        stream = (
            spark.readStream.schema("user_id long, us long, tb string, ev string")
            .option("maxFilesPerTrigger", 1)
            .parquet(staging + "/b*")
        )
        q = (
            attribution_stream(
                stream,
                conversion="purchase",
                touch_events=["view", "click"],
                within_seconds=21_600,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return spark.table(sink).select(
        "user_id", "conversion_us", "tb", "touch_event", "touch_us"
    )


# late-bind the batch query's oracle so stream ≡ batch ≡ oracle is one
# contract, not two strings that can drift
from .registry import REGISTRY as _REG  # noqa: E402
from ..lineage import lineage_cut

_REG["attribution_stream_purchases"].oracle = _last_touch_stream_oracle()


# ---------------------------------------------------------------------------
# Binary-quantized Hamming ANN (llmprep/similarity.py::hamming_topk): the
# 1-bit tier below SQ8/PQ — sign codes pack 32x, candidates come from
# xor+popcount over two LONG words per vector. Exact integer arithmetic,
# so unlike cosine ANN this stage takes a value-exact oracle with no
# rounding recipe at all.
# ---------------------------------------------------------------------------


def _hamming_oracle(n_queries: int = 10, k: int = 5) -> str:
    def word(w: int) -> str:
        terms = " + ".join(
            f"CASE WHEN embedding[{w * 32 + j + 1}] > 0 THEN {1 << j} ELSE 0 END"
            for j in range(32)
        )
        return f"CAST({terms} AS BIGINT) AS w{w}"

    return f"""
WITH codes AS (
  SELECT vec_id, {word(0)}, {word(1)} FROM embeddings
), q AS (
  SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM codes
  WHERE vec_id < {n_queries}
), s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(c.w0, q.q0)) + bit_count(xor(c.w1, q.q1)) AS INTEGER) AS hamming
  FROM codes c JOIN q ON c.vec_id <> q.query_id
), r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, neighbor_id, hamming, rank FROM r WHERE rank <= {k}
"""


@register("ann_hamming_topk", oracle=_hamming_oracle(), tags=("LLM", "similarity"))
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hamming_topk(emb, query_ids=list(range(10)), k=5)


# ---------------------------------------------------------------------------
# Two-feature closed-form OLS (operators/trend.py::ols_two_feature): per
# return-flag regression of extended price on quantity and discount —
# the 3x3 normal equations by Cramer's rule from exact decimal sums; the
# determinants/coefficients are the only doubles, one expression shape
# in both engines.
# ---------------------------------------------------------------------------

_OLS2_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS k,
         CAST(l_quantity AS DECIMAL(19,4)) AS x1,
         CAST(l_discount AS DECIMAL(19,4)) AS x2,
         CAST(l_extendedprice AS DECIMAL(19,4)) AS y
  FROM lineitem
), agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n,
    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
    sum(CAST(x1 * x1 AS DECIMAL(38,8))) AS s11,
    sum(CAST(x2 * x2 AS DECIMAL(38,8))) AS s22,
    sum(CAST(x1 * x2 AS DECIMAL(38,8))) AS s12,
    sum(CAST(x1 * y AS DECIMAL(38,8))) AS s1y,
    sum(CAST(x2 * y AS DECIMAL(38,8))) AS s2y,
    sum(CAST(y * y AS DECIMAL(38,8))) AS syy
  FROM base GROUP BY 1
), d AS (
  SELECT k, n,
    CAST(n AS DOUBLE) AS nd,
    CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
    CAST(s11 AS DOUBLE) AS s11, CAST(s22 AS DOUBLE) AS s22, CAST(s12 AS DOUBLE) AS s12,
    CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy
  FROM agg
), c AS (
  SELECT *,
    nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det,
    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y) AS det0,
    nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2) AS det1,
    nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2) AS det2
  FROM d
), f AS (
  SELECT k, n, nd, sy, s1y, s2y, syy, det, det0, det1, det2,
    (n >= 3 AND det <> 0) AS ok,
    syy - ((det0 / det) * sy + (det1 / det) * s1y + (det2 / det) * s2y) AS sse,
    syy - sy * sy / nd AS sst
  FROM c
)
SELECT k AS l_returnflag, n,
  round(CASE WHEN ok THEN det0 / det END, 6) AS b0,
  round(CASE WHEN ok THEN det1 / det END, 6) AS b1,
  round(CASE WHEN ok THEN det2 / det END, 6) AS b2,
  round(CASE WHEN ok AND sst > 0 THEN 1.0 - sse / sst END, 6) AS r2,
  round(CASE WHEN ok AND sst > 0 AND n > 3
        THEN 1.0 - (1.0 - (1.0 - sse / sst)) * (nd - 1) / (nd - 3) END, 6) AS adj_r2
FROM f
"""


@register("ols2_price_on_qty_discount", oracle=_OLS2_ORACLE, tags=("trend", "A11"))
def ols2_price_on_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import ols_two_feature

    li = load_table(spark, sf_dir, "lineitem")
    return ols_two_feature(
        li, ["l_returnflag"], "l_quantity", "l_discount", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM scoring (llmprep/curation.py::kn_bigram_logprob_
# scores): absolute-discount KN trained on the corpus itself — the
# LM-quality filter above add-1 smoothing. Counts exact; p is one
# fixed-shape double; per-pair ln rounds to 9dp and decimal-sums.
# ---------------------------------------------------------------------------

_KN_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS t
  FROM documents
), prs AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM base)
), big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM prs GROUP BY 1, 2
), hist AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS ch, CAST(count(*) AS BIGINT) AS n1f
  FROM big GROUP BY 1
), cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM big GROUP BY 1
), nbb AS (SELECT CAST(count(*) AS BIGINT) AS B FROM big),
scored AS (
  SELECT prs.doc_id,
    CAST(round(ln(
      greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(ch AS DOUBLE)
      + (0.75 * CAST(n1f AS DOUBLE) / CAST(ch AS DOUBLE))
        * (CAST(n1b AS DOUBLE) / CAST(B AS DOUBLE))
    ), 9) AS DECIMAL(18,9)) AS logp
  FROM prs JOIN big USING (w1, w2) JOIN hist USING (w1) JOIN cont USING (w2), nbb
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, sum(logp) AS slp
  FROM scored GROUP BY 1
)
SELECT b.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
  round(CAST(p.slp AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE), 6) AS mean_kn_logprob,
  round(exp(-(CAST(p.slp AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE))), 6) AS kn_perplexity
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


@register("kn_bigram_doc_scores", oracle=_KN_ORACLE, tags=("LLM", "text"))
def kn_bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.curation import kn_bigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    return kn_bigram_logprob_scores(docs)


# ---------------------------------------------------------------------------
# Local clustering coefficient (operators/graph.py::local_clustering_
# coefficient) on the capped part co-purchase graph — the per-node
# refinement of triangle_count_copurchase. The Spark side counts each
# triangle once at its lowest-degree vertex; the oracle enumerates by id
# order — two independent single-count formulations hashing identically.
# ---------------------------------------------------------------------------

_CC_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT l_orderkey FROM baskets GROUP BY 1 HAVING count(*) <= 25
), pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (SELECT l_orderkey FROM sized)
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
  ) GROUP BY 1
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.v = e2.u
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
), tcount AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT deg.node, deg.degree, coalesce(tcount.triangles, 0) AS triangles,
  CASE WHEN deg.degree >= 2 THEN
    round(2.0 * CAST(coalesce(tcount.triangles, 0) AS DOUBLE)
          / (CAST(deg.degree AS DOUBLE) * (CAST(deg.degree AS DOUBLE) - 1.0)), 6)
  END AS cc
FROM deg LEFT JOIN tcount ON tcount.node = deg.node
"""


@register("clustering_coeff_copurchase", oracle=_CC_ORACLE, tags=("LLM", "graph"))
def clustering_coeff_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import local_clustering_coefficient
    from .advanced import copurchase_edges

    return local_clustering_coefficient(copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# CUPED variance reduction (operators/features.py::cuped_adjusted_means):
# synthetic A/B over events — arm = user parity, covariate = each user's
# first-half-of-month spend, metric = second-half spend. Pooled theta from
# exact decimal sums; per-arm adjusted means and variances are fixed-shape
# doubles.
# ---------------------------------------------------------------------------

_CUPED_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(strftime(ts, '%d') AS BIGINT) AS d,
         CAST(round(value, 2) AS DECIMAL(14,2)) AS v
  FROM events
), units AS (
  SELECT user_id,
    CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm,
    CAST(coalesce(sum(CASE WHEN d <= 15 THEN v END), 0) AS DECIMAL(19,4)) AS x,
    CAST(coalesce(sum(CASE WHEN d > 15 THEN v END), 0) AS DECIMAL(19,4)) AS y
  FROM ev GROUP BY 1, 2
), pooled AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x * x AS DECIMAL(38,8))) AS sxx,
         sum(CAST(x * y AS DECIMAL(38,8))) AS sxy
  FROM units
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
         sum(x) AS ax, sum(y) AS ay,
         sum(CAST(x * x AS DECIMAL(38,8))) AS axx,
         sum(CAST(y * y AS DECIMAL(38,8))) AS ayy,
         sum(CAST(x * y AS DECIMAL(38,8))) AS axy
  FROM units GROUP BY 1
), d AS (
  SELECT arm, n_units,
    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
    CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
    CAST(n_units AS DOUBLE) AS an, CAST(ax AS DOUBLE) AS ax, CAST(ay AS DOUBLE) AS ay,
    CAST(axx AS DOUBLE) AS axx, CAST(ayy AS DOUBLE) AS ayy, CAST(axy AS DOUBLE) AS axy
  FROM arms, pooled
), c AS (
  SELECT *,
    (sxx - sx * sx / nd) AS pvx,
    (sxy - sx * sy / nd) / (sxx - sx * sx / nd) AS theta,
    ay / an AS mean_post,
    (ayy - ay * ay / an) / (an - 1.0) AS var_y,
    (axx - ax * ax / an) / (an - 1.0) AS var_x,
    (axy - ax * ay / an) / (an - 1.0) AS cov_a
  FROM d
)
SELECT arm, n_units,
  round(CASE WHEN pvx <> 0 THEN theta END, 6) AS theta,
  round(mean_post, 6) AS mean_post,
  round(CASE WHEN pvx <> 0 THEN mean_post - theta * (ax / an - sx / nd)
        ELSE mean_post END, 6) AS adj_mean_post,
  round(CASE WHEN n_units >= 2 THEN var_y END, 6) AS var_post,
  round(CASE WHEN n_units >= 2 AND pvx <> 0
        THEN var_y - 2.0 * theta * cov_a + theta * theta * var_x END, 6) AS var_adj,
  round(CASE WHEN n_units >= 2 AND pvx <> 0 AND var_y <> 0
        THEN 1.0 - (var_y - 2.0 * theta * cov_a + theta * theta * var_x) / var_y
        END, 6) AS var_reduction
FROM c
"""


@register("cuped_event_value_experiment", oracle=_CUPED_ORACLE, tags=("eval", "A11"))
def cuped_event_value_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import cuped_adjusted_means

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_format("ts", "dd").cast("long").alias("d"),
        F.round("value", 2).cast("decimal(14,2)").alias("v"),
    )
    units = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("d") <= 15, F.col("v"))), F.lit(0))
        .cast("decimal(19,4)")
        .alias("x"),
        F.coalesce(F.sum(F.when(F.col("d") > 15, F.col("v"))), F.lit(0))
        .cast("decimal(19,4)")
        .alias("y"),
    ).select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "x",
        "y",
    )
    return cuped_adjusted_means(units, "arm", "x", "y")


# ---------------------------------------------------------------------------
# Readability scoring (llmprep/text.py::readability_scores): Flesch ease
# + FK grade from exact regex counts (vowel-group syllables with the
# per-word floor, terminal-punctuation sentence runs).
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS t,
         CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS raw_sent
  FROM documents
), words AS (
  SELECT doc_id, unnest(t) AS w FROM base
), per_doc AS (
  SELECT doc_id,
         CAST(sum(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)) AS BIGINT)
           AS n_syllables
  FROM words GROUP BY 1
), grain AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
         CASE WHEN len(t) > 0 THEN greatest(raw_sent, 1) ELSE 0 END AS n_sentences
  FROM base
)
SELECT g.doc_id, g.n_words, CAST(g.n_sentences AS BIGINT) AS n_sentences,
  coalesce(p.n_syllables, 0) AS n_syllables,
  round(CASE WHEN g.n_words > 0 THEN
    206.835 - 1.015 * (CAST(g.n_words AS DOUBLE) / CAST(g.n_sentences AS DOUBLE))
    - 84.6 * (CAST(p.n_syllables AS DOUBLE) / CAST(g.n_words AS DOUBLE)) END, 6)
    AS flesch_ease,
  round(CASE WHEN g.n_words > 0 THEN
    0.39 * (CAST(g.n_words AS DOUBLE) / CAST(g.n_sentences AS DOUBLE))
    + 11.8 * (CAST(p.n_syllables AS DOUBLE) / CAST(g.n_words AS DOUBLE)) - 15.59 END, 6)
    AS fk_grade
FROM grain g LEFT JOIN per_doc p USING (doc_id)
"""


@register("readability_doc_scores", oracle=_READABILITY_ORACLE, tags=("LLM", "text"))
def readability_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import readability_scores

    return readability_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Iceberg export round-trip (sources/iceberg_export.py): a txnlog orders
# slice (with a MOR deletion vector forcing logical/physical divergence)
# exports as REAL Iceberg v2 metadata — avro manifest + manifest list via
# the JVM's bundled avro — and the reader replays it; the rows that come
# back through the format must equal the slice computed directly. Same
# S7 discipline as merge_upsert_orders_txnlog: the storage format must
# not change semantics.
# ---------------------------------------------------------------------------

_ICEBERG_RT_ORACLE = """
SELECT o_orderkey AS orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
       o_orderstatus AS status
FROM orders WHERE o_orderkey % 5 != 0 AND o_orderkey >= 1000
"""


@register("iceberg_export_roundtrip", oracle=_ICEBERG_RT_ORACLE, tags=("S7", "interop"))
def iceberg_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.iceberg_export import (
        export_iceberg_snapshot,
        read_iceberg_snapshot,
        validate_iceberg_metadata,
    )
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    scratch = scratch_dir("iceberg_rt", sf_dir)
    t = TxnLogTable(os.path.join(scratch, "src"), stat_cols=("o_orderkey",))
    t.create_or_replace(target)
    # MOR deletion vector so the LOGICAL snapshot diverges from the
    # physical files: the exporter must apply DVs, not copy bytes
    t.delete_where_mor(spark, [("o_orderkey", "<", 1000)])
    dest = os.path.join(scratch, "ice")
    export_iceberg_snapshot(t, spark, dest)
    validate_iceberg_metadata(dest, spark)
    return read_iceberg_snapshot(spark, dest).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("price").cast("double").alias("price"),
        "status",
    )


# ---------------------------------------------------------------------------
# Croston's intermittent-demand method (operators/trend.py::croston_
# method): sparse daily error-event demand per user cohort — the
# zero-heavy series shape Holt mishandles. The oracle is generated by the
# SAME unrolling loop (croston_oracle_sql), the holt/cusum discipline.
# ---------------------------------------------------------------------------

_CROSTON_STEPS = [f"{d:02d}" for d in range(1, 29)]


def _croston_oracle() -> str:
    from ..operators.trend import croston_oracle_sql

    return croston_oracle_sql(
        base_cte=(
            "SELECT CAST(user_id % 5 AS BIGINT) AS cohort, "
            "strftime(ts, '%d') AS d, "
            "CAST(round(value, 2) AS DECIMAL(14,2)) AS v "
            "FROM events WHERE event_type = 'error' AND user_id % 23 = 0"
        ),
        key_expr="cohort",
        step_expr="d",
        value_expr="v",
        steps=_CROSTON_STEPS,
        alpha=0.1,
        key_name="cohort",
    )


@register("croston_error_demand", oracle=_croston_oracle(), tags=("trend", "A11"))
def croston_error_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import croston_method

    ev = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "error") & (F.col("user_id") % 23 == 0))
        .select(
            (F.col("user_id") % 5).cast("long").alias("cohort"),
            F.date_format("ts", "dd").alias("d"),
            F.round("value", 2).cast("decimal(14,2)").alias("v"),
        )
    )
    return croston_method(ev, ["cohort"], "d", "v", _CROSTON_STEPS, alpha=0.1)


# ---------------------------------------------------------------------------
# Exact rolling median (operators/windows.py::rolling_median): 7-day
# trailing median of daily event value per type — the robust smoother
# next to WMA/EWMA; integer order-statistic election keeps both engines
# on identical elements.
# ---------------------------------------------------------------------------

_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT event_type AS k, CAST(strftime(ts, '%d') AS BIGINT) AS d,
         sum(CAST(round(value, 2) AS DECIMAL(14,2))) AS v
  FROM events GROUP BY 1, 2
), win AS (
  SELECT k, d, v,
    list_sort(list(v) OVER (PARTITION BY k ORDER BY d ASC
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
  FROM daily
), sized AS (
  SELECT k, d, v, arr, CAST(len(arr) AS BIGINT) AS n FROM win
)
SELECT k AS event_type, d, CAST(v AS DOUBLE) AS v,
       n AS n_in_window,
       round((CAST(arr[CAST((n + 1) // 2 AS INT)] AS DOUBLE)
            + CAST(arr[CAST(n // 2 + 1 AS INT)] AS DOUBLE)) / 2.0, 6)
         AS rolling_median
FROM sized
"""


@register("rolling_median_event_values", oracle=_ROLLMED_ORACLE, tags=("W4", "trend"))
def rolling_median_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import rolling_median

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.date_format("ts", "dd").cast("long").alias("d"),
        )
        .agg(F.sum(F.round("value", 2).cast("decimal(14,2)")).alias("v"))
    )
    return rolling_median(daily, ["k"], "d", "v", window=7).select(
        F.col("k").alias("event_type"),
        "d",
        F.col("v").cast("double").alias("v"),
        "n_in_window",
        "rolling_median",
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification (operators/windows.py::abc_classification):
# parts banded by revenue contribution (A to 80%, B to 95%, C beyond) —
# class CASE compares the ROUNDED cumulative share so band edges are not
# ulp-fragile.
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH items AS (
  SELECT l_partkey AS item,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l_discount AS DECIMAL(8,4))) AS tv
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT item, tv,
    CAST(row_number() OVER (ORDER BY tv DESC, item ASC) AS BIGINT) AS rank,
    sum(tv) OVER (ORDER BY tv DESC, item ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(tv) OVER () AS total
  FROM items
)
SELECT item, CAST(tv AS DOUBLE) AS total_value, rank,
  round(CAST(tv AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
  CASE WHEN round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) <= 0.8 THEN 'A'
       WHEN round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) <= 0.95 THEN 'B'
       ELSE 'C' END AS abc_class
FROM ranked
"""


@register("abc_parts_by_revenue", oracle=_ABC_ORACLE, tags=("O6", "A5"))
def abc_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import abc_classification

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("item"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
        ).alias("rev"),
    )
    return abc_classification(li, "item", "rev")


# ---------------------------------------------------------------------------
# Group-wise median imputation (operators/features.py::impute_group_
# stats): NULLs injected deterministically (event_id % 13 — the injected-
# twin pattern, since the synthetic tables carry no NULLs), filled with
# the group's EXACT rank-elected median.
# ---------------------------------------------------------------------------

_IMPUTE_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN NULL
              ELSE CAST(round(value, 2) AS DECIMAL(14,2)) END AS v
  FROM events
), nn AS (
  SELECT event_type, v,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS BIGINT) AS rk,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM base WHERE v IS NOT NULL
), fill AS (
  SELECT event_type,
    round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS f
  FROM nn WHERE rk = (n + 1) // 2 OR rk = n // 2 + 1
  GROUP BY 1
)
SELECT b.event_id, b.event_type,
  CASE WHEN b.v IS NULL THEN fill.f ELSE round(CAST(b.v AS DOUBLE), 6) END
    AS value_imputed,
  (b.v IS NULL AND fill.f IS NOT NULL) AS was_imputed
FROM base b LEFT JOIN fill USING (event_type)
"""


@register("impute_event_values_median", oracle=_IMPUTE_ORACLE, tags=("eval", "DQ"))
def impute_event_values_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import impute_group_stats

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 13 == 0, F.lit(None)
        ).otherwise(F.round("value", 2).cast("decimal(14,2)")).alias("v"),
    )
    return impute_group_stats(ev, ["event_type"], "v", strategy="median").select(
        "event_id", "event_type", "value_imputed", "was_imputed"
    )


# ---------------------------------------------------------------------------
# Weighted shortest paths (operators/graph.py::bellman_ford_distance) on
# the capped co-purchase graph with integer affinity costs
# w = 1000 // pair_count + 1 (strong co-purchase = cheap edge). Seeds =
# the 3 smallest node ids (bounded seed discovery, the ppr/closeness
# discipline); 6 relaxation rounds pinned on BOTH sides — the oracle is
# unrolled by bellman_ford_oracle_sql, converged or not.
# ---------------------------------------------------------------------------

_BF_EDGES_CTE = """
SELECT u AS src, v AS dst, CAST(1000 // pc + 1 AS BIGINT) AS w FROM (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS pc
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (
    SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    GROUP BY 1 HAVING count(*) <= 25)
  GROUP BY 1, 2
)
UNION ALL
SELECT v, u, CAST(1000 // pc + 1 AS BIGINT) FROM (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS pc
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (
    SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    GROUP BY 1 HAVING count(*) <= 25)
  GROUP BY 1, 2
)
"""


def _bf_oracle() -> str:
    from ..operators.graph import bellman_ford_oracle_sql

    return bellman_ford_oracle_sql(
        edges_cte=_BF_EDGES_CTE,
        seeds_sql=(
            "SELECT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) "
            "ORDER BY node LIMIT 3"
        ),
        rounds=6,
    )


@register(
    "sssp_copurchase_costs",
    oracle=_bf_oracle(),
    tags=("LLM", "iterative", "graph"),
    bench=True,  # VERDICT r8 item 6: the frontier-SSSP family's headliner
)
def sssp_copurchase_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bellman_ford_distance
    from ..operators.pairs import _cooccur

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    pairs = _cooccur(li, "l_orderkey", "l_partkey", max_group=25).select(
        F.col("i").alias("u"), F.col("j").alias("v"), F.col("n_co").alias("pc")
    )
    w = (F.lit(1000) / F.col("pc")).cast("long") + 1  # 1000 // pc + 1
    # Both edge directions via a map-side explode instead of a union of a
    # swapped projection: the union's second branch re-executes the whole
    # pair-count aggregate (shared subtrees are not deduped); the explode
    # doubles rows inside the same stage for free.
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("src"), F.col("v").alias("dst"), w.alias("w")
                ),
                F.struct(
                    F.col("v").alias("src"), F.col("u").alias("dst"), w.alias("w")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    # lineage cut: the basket pair fan-out is the expensive subtree and is
    # consumed TWICE (seed discovery collect + the BF relaxation spine) —
    # checkpoint it once so the seeds scan doesn't recompute it
    directed = directed.transform(lineage_cut)
    # bounded seed discovery: the 3 smallest node ids (same rule as the
    # oracle's ORDER BY node LIMIT 3)
    nodes = directed.select(F.col("src").alias("node")).unionAll(
        directed.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = [r["node"] for r in nodes.orderBy("node").limit(3).collect()]
    return bellman_ford_distance(directed, seeds, rounds=6)


# ---------------------------------------------------------------------------
# Additive seasonal decomposition (operators/trend.py::seasonal_
# decompose_additive): daily event value per type, weekly period —
# centered-MA trend, re-centered phase-mean seasonal, residual. Phase
# means fold detrended doubles round-then-decimal (order-independent).
# ---------------------------------------------------------------------------

_DECOMP_ORACLE = """
WITH daily AS (
  SELECT event_type AS k, CAST(strftime(ts, '%d') AS BIGINT) AS t,
         sum(CAST(round(value, 2) AS DECIMAL(14,2))) AS v
  FROM events GROUP BY 1, 2
), w AS (
  SELECT k, t, v,
    CAST(count(*) OVER win AS BIGINT) AS wn,
    sum(v) OVER win AS ws,
    CAST(t % 7 AS INT) AS phase
  FROM daily
  WINDOW win AS (PARTITION BY k ORDER BY t ASC ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), tr AS (
  SELECT *, CASE WHEN wn = 7 THEN CAST(ws AS DOUBLE) / 7.0 END AS trend FROM w
), det AS (
  SELECT *, CASE WHEN trend IS NOT NULL
    THEN CAST(round(CAST(v AS DOUBLE) - trend, 9) AS DECIMAL(28,9)) END AS d
  FROM tr
), pm AS (
  SELECT k, phase, CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pm
  FROM det WHERE d IS NOT NULL GROUP BY 1, 2
), ctr AS (
  SELECT k, phase,
    round(pm - CAST(sum(CAST(round(pm, 9) AS DECIMAL(28,9))) OVER (PARTITION BY k) AS DOUBLE)
               / CAST(count(*) OVER (PARTITION BY k) AS DOUBLE), 9) AS seasonal
  FROM pm
)
SELECT det.k AS event_type, det.t, CAST(det.v AS DOUBLE) AS x, det.phase,
  round(det.trend, 6) AS trend,
  round(ctr.seasonal, 6) AS seasonal,
  CASE WHEN det.trend IS NOT NULL AND ctr.seasonal IS NOT NULL
    THEN round(CAST(det.v AS DOUBLE) - det.trend - ctr.seasonal, 6) END AS residual
FROM det LEFT JOIN ctr ON ctr.k = det.k AND ctr.phase = det.phase
"""


@register("seasonal_decompose_event_values", oracle=_DECOMP_ORACLE, tags=("trend", "A11"))
def seasonal_decompose_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import seasonal_decompose_additive

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.date_format("ts", "dd").cast("long").alias("t"),
        )
        .agg(F.sum(F.round("value", 2).cast("decimal(14,2)")).alias("v"))
    )
    return seasonal_decompose_additive(daily, ["k"], "t", "v", period=7).select(
        F.col("k").alias("event_type"), "t", "x", "phase", "trend", "seasonal", "residual"
    )


# ---------------------------------------------------------------------------
# Growth accounting (operators/windows.py::growth_accounting): daily
# new/retained/resurrected/churned user decomposition over events.
# ---------------------------------------------------------------------------

_GROWTH_ORACLE = """
WITH ua AS (
  SELECT DISTINCT user_id AS u, CAST(strftime(ts, '%d') AS BIGINT) AS t FROM events
), flagged AS (
  SELECT t,
    CASE WHEN lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS is_new,
    CASE WHEN lag(t) OVER w = t - 1 THEN 1 ELSE 0 END AS is_ret,
    CASE WHEN lag(t) OVER w IS NOT NULL AND lag(t) OVER w < t - 1 THEN 1 ELSE 0 END AS is_res
  FROM ua WINDOW w AS (PARTITION BY u ORDER BY t ASC)
), active AS (
  SELECT t, CAST(count(*) AS BIGINT) AS active,
         CAST(sum(is_new) AS BIGINT) AS new_users,
         CAST(sum(is_ret) AS BIGINT) AS retained,
         CAST(sum(is_res) AS BIGINT) AS resurrected
  FROM flagged GROUP BY 1
), nxt AS (
  SELECT t, lead(t) OVER (PARTITION BY u ORDER BY t ASC) AS nt FROM ua
), churn AS (
  SELECT t + 1 AS t, CAST(count(*) AS BIGINT) AS churned
  FROM nxt WHERE nt IS NULL OR nt > t + 1 GROUP BY 1
)
SELECT active.t AS step, active.active, active.new_users, active.retained,
       active.resurrected, coalesce(churn.churned, 0) AS churned_from_prev
FROM active LEFT JOIN churn ON churn.t = active.t
"""


@register("growth_accounting_daily_users", oracle=_GROWTH_ORACLE, tags=("W3", "cohort"))
def growth_accounting_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import growth_accounting

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "dd").cast("long").alias("d")
    )
    return growth_accounting(ev, "user_id", "d")


# ---------------------------------------------------------------------------
# Winsorization (operators/features.py::winsorize): event values clipped
# into each type's exact [P5, P95] band — integer ceiling-division order
# statistics, no float percentile.
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, CAST(round(value, 2) AS DECIMAL(14,2)) AS v
  FROM events
), ranked AS (
  SELECT event_type, v,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS BIGINT) AS rk,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM base WHERE v IS NOT NULL
), bounds AS (
  SELECT event_type, CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
  FROM ranked
  WHERE rk = greatest(1, (n * 5 + 99) // 100) OR rk = (n * 95 + 99) // 100
  GROUP BY 1
)
SELECT b.event_id, b.event_type,
  CASE WHEN b.v IS NOT NULL
    THEN round(least(greatest(CAST(b.v AS DOUBLE), bounds.lo), bounds.hi), 6)
  END AS value_winsorized,
  (b.v IS NOT NULL AND CAST(b.v AS DOUBLE) < bounds.lo) AS clipped_low,
  (b.v IS NOT NULL AND CAST(b.v AS DOUBLE) > bounds.hi) AS clipped_high
FROM base b LEFT JOIN bounds USING (event_type)
"""


@register("winsorize_event_values", oracle=_WINSOR_ORACLE, tags=("eval", "DQ"))
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import winsorize

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 2).cast("decimal(14,2)").alias("v")
    )
    return winsorize(ev, ["event_type"], "v", 5, 95).select(
        "event_id", "event_type", "value_winsorized", "clipped_low", "clipped_high"
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (operators/survival.py::nelson_aalen):
# the hazard-side twin of km_survival_customer_churn on the SAME
# churn-duration cohort.
# ---------------------------------------------------------------------------

_NA_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(CAST(max(o_orderdate) AS DATE) - CAST(min(o_orderdate) AS DATE) AS BIGINT) AS dur,
         CASE WHEN max(o_orderdate) <= TIMESTAMP '2000-10-01 00:00:00' THEN 1 ELSE 0 END AS ev
  FROM orders GROUP BY 1
), j AS (
  SELECT c.c_mktsegment, cust.dur, cust.ev
  FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey
), g AS (
  SELECT c_mktsegment, dur AS duration,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(ev) AS BIGINT) AS d
  FROM j GROUP BY 1, 2
), r AS (
  SELECT c_mktsegment, duration, d, n - d AS c,
    CAST(sum(n) OVER (PARTITION BY c_mktsegment)
         - coalesce(sum(n) OVER (PARTITION BY c_mktsegment ORDER BY duration
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM g
), s AS (
  SELECT c_mktsegment, duration, n_risk, d, c,
    sum(CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 9) AS DECIMAL(28,9)))
      OVER (PARTITION BY c_mktsegment ORDER BY duration
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
  FROM r
)
SELECT c_mktsegment, duration, n_risk, d AS n_event, c AS n_censored,
       round(CAST(h AS DOUBLE), 6) AS cum_hazard,
       round(exp(-(CAST(h AS DOUBLE))), 6) AS fh_survival
FROM s
"""


@register("na_hazard_customer_churn", oracle=_NA_ORACLE, tags=("survival", "A11"))
def na_hazard_customer_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.survival import nelson_aalen

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    obs = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max("o_orderdate").cast("date"), F.min("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("dur"),
        (F.max("o_orderdate") <= F.lit("2000-10-01 00:00:00").cast("timestamp"))
        .cast("int")
        .alias("ev"),
    )
    j = obs.join(F.broadcast(cust), obs["o_custkey"] == cust["c_custkey"])
    return nelson_aalen(j, "dur", "ev", ["c_mktsegment"])


# ---------------------------------------------------------------------------
# Difference-in-differences (operators/features.py::diff_in_differences):
# synthetic quasi-experiment over events — treat = user parity, post =
# second half of the month, outcome = each user-period's total value.
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH units AS (
  SELECT user_id,
    CAST(user_id % 2 AS INT) AS treat,
    CAST(CASE WHEN CAST(strftime(ts, '%d') AS BIGINT) > 15 THEN 1 ELSE 0 END AS INT) AS post,
    CAST(sum(CAST(round(value, 2) AS DECIMAL(14,2))) AS DECIMAL(19,4)) AS y
  FROM events GROUP BY 1, 2, 3
), agg AS (
  SELECT
    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre,
    sum(CASE WHEN treat = 1 AND post = 0 THEN y END) AS s_tp0,
    sum(CASE WHEN treat = 1 AND post = 0 THEN CAST(y * y AS DECIMAL(38,8)) END) AS ss_tp0,
    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post,
    sum(CASE WHEN treat = 1 AND post = 1 THEN y END) AS s_tp1,
    sum(CASE WHEN treat = 1 AND post = 1 THEN CAST(y * y AS DECIMAL(38,8)) END) AS ss_tp1,
    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control_pre,
    sum(CASE WHEN treat = 0 AND post = 0 THEN y END) AS s_cp0,
    sum(CASE WHEN treat = 0 AND post = 0 THEN CAST(y * y AS DECIMAL(38,8)) END) AS ss_cp0,
    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_control_post,
    sum(CASE WHEN treat = 0 AND post = 1 THEN y END) AS s_cp1,
    sum(CASE WHEN treat = 0 AND post = 1 THEN CAST(y * y AS DECIMAL(38,8)) END) AS ss_cp1
  FROM units
), d AS (
  SELECT *,
    CAST(s_tp0 AS DOUBLE) / CAST(n_treat_pre AS DOUBLE) AS m_tp0,
    CAST(s_tp1 AS DOUBLE) / CAST(n_treat_post AS DOUBLE) AS m_tp1,
    CAST(s_cp0 AS DOUBLE) / CAST(n_control_pre AS DOUBLE) AS m_cp0,
    CAST(s_cp1 AS DOUBLE) / CAST(n_control_post AS DOUBLE) AS m_cp1,
    (CAST(ss_tp0 AS DOUBLE) - CAST(s_tp0 AS DOUBLE) * CAST(s_tp0 AS DOUBLE) / CAST(n_treat_pre AS DOUBLE)) / (CAST(n_treat_pre AS DOUBLE) - 1.0) AS v_tp0,
    (CAST(ss_tp1 AS DOUBLE) - CAST(s_tp1 AS DOUBLE) * CAST(s_tp1 AS DOUBLE) / CAST(n_treat_post AS DOUBLE)) / (CAST(n_treat_post AS DOUBLE) - 1.0) AS v_tp1,
    (CAST(ss_cp0 AS DOUBLE) - CAST(s_cp0 AS DOUBLE) * CAST(s_cp0 AS DOUBLE) / CAST(n_control_pre AS DOUBLE)) / (CAST(n_control_pre AS DOUBLE) - 1.0) AS v_cp0,
    (CAST(ss_cp1 AS DOUBLE) - CAST(s_cp1 AS DOUBLE) * CAST(s_cp1 AS DOUBLE) / CAST(n_control_post AS DOUBLE)) / (CAST(n_control_post AS DOUBLE) - 1.0) AS v_cp1
  FROM agg
), f AS (
  SELECT *,
    (m_tp1 - m_tp0) - (m_cp1 - m_cp0) AS did,
    v_tp0 / CAST(n_treat_pre AS DOUBLE) + v_tp1 / CAST(n_treat_post AS DOUBLE)
      + v_cp0 / CAST(n_control_pre AS DOUBLE) + v_cp1 / CAST(n_control_post AS DOUBLE) AS vs,
    (n_treat_pre >= 2 AND n_treat_post >= 2 AND n_control_pre >= 2 AND n_control_post >= 2) AS ok
  FROM d
)
SELECT n_treat_pre, n_treat_post, n_control_pre, n_control_post,
  round(m_tp0, 6) AS mean_treat_pre, round(m_tp1, 6) AS mean_treat_post,
  round(m_cp0, 6) AS mean_control_pre, round(m_cp1, 6) AS mean_control_post,
  round(did, 6) AS did,
  round(CASE WHEN ok THEN sqrt(vs) END, 6) AS se,
  round(CASE WHEN ok AND sqrt(vs) <> 0 THEN did / sqrt(vs) END, 6) AS t_stat
FROM f
"""


@register("did_event_value_quasi_experiment", oracle=_DID_ORACLE, tags=("eval", "A11"))
def did_event_value_quasi_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import diff_in_differences

    units = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            (F.col("user_id") % 2).cast("int").alias("treat"),
            (F.date_format("ts", "dd").cast("long") > 15).cast("int").alias("post"),
        )
        .agg(
            F.sum(F.round("value", 2).cast("decimal(14,2)"))
            .cast("decimal(19,4)")
            .alias("y")
        )
    )
    return diff_in_differences(units, "treat", "post", "y")


# ---------------------------------------------------------------------------
# Streaming growth accounting (streaming/growth.py): the stream twin of
# growth_accounting_daily_users for the stream-computable states — churn
# needs future knowledge of absence and stays batch-only (documented in
# the module). Stream ≡ batch ≡ oracle on (active, new, retained,
# resurrected) per step; same day-split availableNow staging as the
# other stream gate queries.
# ---------------------------------------------------------------------------

_GROWTH_STREAM_ORACLE = """
WITH ua AS (
  SELECT DISTINCT user_id AS u, CAST(strftime(ts, '%d') AS BIGINT) AS t FROM events
), flagged AS (
  SELECT t,
    CASE WHEN lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS is_new,
    CASE WHEN lag(t) OVER w = t - 1 THEN 1 ELSE 0 END AS is_ret,
    CASE WHEN lag(t) OVER w IS NOT NULL AND lag(t) OVER w < t - 1 THEN 1 ELSE 0 END AS is_res
  FROM ua WINDOW w AS (PARTITION BY u ORDER BY t ASC)
)
SELECT t AS step, CAST(count(*) AS BIGINT) AS active,
       CAST(sum(is_new) AS BIGINT) AS new_users,
       CAST(sum(is_ret) AS BIGINT) AS retained,
       CAST(sum(is_res) AS BIGINT) AS resurrected
FROM flagged GROUP BY 1
"""


@register("growth_stream_daily_users", oracle=_GROWTH_STREAM_ORACLE, tags=("T2", "stream", "cohort"))
def growth_stream_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.growth import growth_stream

    ua = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.date_format("ts", "dd").cast("long").alias("t"),
    ).distinct()
    sink = "growth_stream_daily_users_sink"
    spark.catalog.dropTempView(sink)
    staging = tempfile.mkdtemp(prefix="growth_stream_src_")
    try:
        ua.filter(F.col("t") <= 15).coalesce(1).write.parquet(
            os.path.join(staging, "b0")
        )
        ua.filter(F.col("t") > 15).coalesce(1).write.parquet(
            os.path.join(staging, "b1")
        )
        pin_staging_mtimes(staging, 2)  # deterministic trigger order
        stream = (
            spark.readStream.schema("u long, t long")
            .option("maxFilesPerTrigger", 1)
            .parquet(staging + "/b*")
        )
        q = (
            growth_stream(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(F.col("t").alias("step"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("active"),
            F.sum((F.col("cls") == "new").cast("int")).cast("long").alias("new_users"),
            F.sum((F.col("cls") == "retained").cast("int")).cast("long").alias("retained"),
            F.sum((F.col("cls") == "resurrected").cast("int")).cast("long").alias("resurrected"),
        )
    )


# ---------------------------------------------------------------------------
# Audience overlap matrix (operators/market.py::cohort_overlap_matrix):
# event-type audiences over users — |A∩B|, Jaccard, lift vs independence.
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH m AS (
  SELECT DISTINCT user_id AS u, event_type AS l FROM events
), totals AS (
  SELECT l, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1
), nu AS (
  SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_units FROM m
), pairs AS (
  SELECT a.l AS label_a, b.l AS label_b, CAST(count(*) AS BIGINT) AS n_both
  FROM m a JOIN m b ON a.u = b.u AND a.l < b.l
  GROUP BY 1, 2
)
SELECT p.label_a, p.label_b, p.n_both, ta.n AS n_a, tb.n AS n_b, nu.n_units,
  round(CAST(p.n_both AS DOUBLE)
        / (CAST(ta.n AS DOUBLE) + CAST(tb.n AS DOUBLE) - CAST(p.n_both AS DOUBLE)), 6) AS jaccard,
  round(CAST(p.n_both AS DOUBLE) * CAST(nu.n_units AS DOUBLE)
        / (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE)), 6) AS lift
FROM pairs p JOIN totals ta ON ta.l = p.label_a
JOIN totals tb ON tb.l = p.label_b, nu
"""


@register("event_type_overlap_matrix", oracle=_OVERLAP_ORACLE, tags=("mining", "A1"))
def event_type_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.market import cohort_overlap_matrix

    ev = load_table(spark, sf_dir, "events")
    return cohort_overlap_matrix(ev, "user_id", "event_type")


# ---------------------------------------------------------------------------
# dbt-style expectations profile: the reference's schema.yml test pack
# (not_null / unique / accepted_values / relationships / bounds) as ONE
# check-grain relation — each check emits (check_name, metric, passed)
# whether it passes or fails, so the driver green is never vacuous
# (unlike the raw violation queries, which pass empty).
# ---------------------------------------------------------------------------

_EXPECT_ORACLE = """
SELECT 'orders_custkey_not_null' AS check_name,
       CAST(sum((o_custkey IS NULL)::INT) AS BIGINT) AS metric,
       sum((o_custkey IS NULL)::INT) = 0 AS passed
FROM orders
UNION ALL
SELECT 'orders_orderkey_unique',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       count(*) = count(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'orders_status_accepted',
       CAST(sum((o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL)::INT) AS BIGINT),
       sum((o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL)::INT) = 0
FROM orders
UNION ALL
SELECT 'orders_totalprice_positive',
       CAST(sum((o_totalprice <= 0)::INT) AS BIGINT),
       sum((o_totalprice <= 0)::INT) = 0
FROM orders
UNION ALL
SELECT 'lineitem_orderkey_relationship',
       CAST(count(*) AS BIGINT), count(*) = 0
FROM (SELECT l.l_orderkey FROM lineitem l
      LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL)
UNION ALL
SELECT 'orders_row_count_nonzero', CAST(count(*) AS BIGINT), count(*) > 0
FROM orders
"""


@register("dq_expectations_orders_profile", oracle=_EXPECT_ORACLE, tags=("DQ", "U1", "A7"))
def dq_expectations_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import anti_join_violations

    o = load_table(spark, sf_dir, "orders").transform(lineage_cut)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")

    def row(name: str, metric, passed):
        return [F.lit(name).alias("check_name"), metric.alias("metric"), passed.alias("passed")]

    nn = o.agg(
        *row(
            "orders_custkey_not_null",
            F.sum(F.col("o_custkey").isNull().cast("int")).cast("long"),
            F.sum(F.col("o_custkey").isNull().cast("int")) == 0,
        )
    )
    uq = o.agg(
        *row(
            "orders_orderkey_unique",
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("long"),
            F.count(F.lit(1)) == F.countDistinct("o_orderkey"),
        )
    )
    acc = o.agg(
        *row(
            "orders_status_accepted",
            F.sum(
                (~F.col("o_orderstatus").isin("O", "F", "P")
                 | F.col("o_orderstatus").isNull()).cast("int")
            ).cast("long"),
            F.sum(
                (~F.col("o_orderstatus").isin("O", "F", "P")
                 | F.col("o_orderstatus").isNull()).cast("int")
            ) == 0,
        )
    )
    pos = o.agg(
        *row(
            "orders_totalprice_positive",
            F.sum((F.col("o_totalprice") <= 0).cast("int")).cast("long"),
            F.sum((F.col("o_totalprice") <= 0).cast("int")) == 0,
        )
    )
    rel = anti_join_violations(li, o, {"l_orderkey": "o_orderkey"}).agg(
        *row(
            "lineitem_orderkey_relationship",
            F.count(F.lit(1)).cast("long"),
            F.count(F.lit(1)) == 0,
        )
    )
    rc = o.agg(
        *row(
            "orders_row_count_nonzero",
            F.count(F.lit(1)).cast("long"),
            F.count(F.lit(1)) > 0,
        )
    )
    return nn.unionByName(uq).unionByName(acc).unionByName(pos).unionByName(rel).unionByName(rc)


# ---------------------------------------------------------------------------
# Multiplicative Holt-Winters (operators/trend.py::holt_winters_
# multiplicative): the percentage-seasonality twin of hw_forecast_event_
# values, on daily event value (strictly positive at every SF, the
# multiplicative precondition). Oracle generated by the SAME unrolling
# loop.
# ---------------------------------------------------------------------------

_HWM_DAYS = [f"{d:02d}" for d in range(1, 29)]


def _hwm_oracle() -> str:
    from ..operators.trend import holt_winters_mult_oracle_sql

    inner = holt_winters_mult_oracle_sql(
        "SELECT event_type, strftime(ts, '%d') AS step, "
        "CAST(round(value, 2) AS DECIMAL(12,2)) AS val FROM events "
        "WHERE CAST(strftime(ts, '%d') AS INT) <= 28",
        "event_type",
        "step",
        "val",
        _HWM_DAYS,
        period=7,
    )
    return inner.replace("SELECT k,", "SELECT k AS event_type,", 1)


@register("hwm_forecast_event_values", oracle=_hwm_oracle(), tags=("trend", "forecast"))
def hwm_forecast_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import holt_winters_multiplicative

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("step", F.date_format("ts", "dd"))
        .filter(F.col("step") <= "28")
        .select(
            "event_type", "step", F.round("value", 2).cast("decimal(12,2)").alias("val")
        )
    )
    hw = holt_winters_multiplicative(
        ev, ["event_type"], "step", "val", _HWM_DAYS, period=7
    )
    return hw.select(
        "event_type",
        "h",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("seasonal", 4).alias("seasonal"),
        F.round("forecast", 4).alias("forecast"),
    )


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (operators/gapfill.py::gap_fill_
# interpolate) over the sparse error-demand series (the croston base —
# real gaps at every SF).
# ---------------------------------------------------------------------------

_INTERP_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id % 5 AS BIGINT) AS cohort,
         CAST(strftime(ts, '%d') AS BIGINT) AS t,
         sum(CAST(round(value, 2) AS DECIMAL(14,2))) AS v
  FROM events WHERE event_type = 'error' AND user_id % 23 = 0
  GROUP BY 1, 2
), bounds AS (
  SELECT cohort, min(t) AS lo, max(t) AS hi FROM obs GROUP BY 1
), spine AS (
  SELECT cohort, unnest(generate_series(lo, hi)) AS t FROM bounds
), j AS (
  SELECT s.cohort, s.t, o.v FROM spine s
  LEFT JOIN obs o ON o.cohort = s.cohort AND o.t = s.t
), c AS (
  SELECT cohort, t, v,
    last_value(v IGNORE NULLS) OVER (PARTITION BY cohort ORDER BY t ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
      OVER (PARTITION BY cohort ORDER BY t ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(v IGNORE NULLS) OVER (PARTITION BY cohort ORDER BY t ASC
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
      OVER (PARTITION BY cohort ORDER BY t ASC
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j
)
SELECT cohort, t,
  CASE WHEN v IS NOT NULL THEN round(CAST(v AS DOUBLE), 6)
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         round(CAST(pv AS DOUBLE)
               + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                 * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)), 6)
  END AS value,
  v IS NULL AS is_gap
FROM c
"""


@register("interpolate_error_demand_series", oracle=_INTERP_ORACLE, tags=("trend", "gapfill"))
def interpolate_error_demand_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gapfill import gap_fill_interpolate

    obs = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "error") & (F.col("user_id") % 23 == 0))
        .groupBy(
            (F.col("user_id") % 5).cast("long").alias("cohort"),
            F.date_format("ts", "dd").cast("long").alias("t"),
        )
        .agg(F.sum(F.round("value", 2).cast("decimal(14,2)")).alias("v"))
    )
    return gap_fill_interpolate(obs, ["cohort"], "t", "v")


# ---------------------------------------------------------------------------
# Pivot (the DataFrame pivot() API surface — melt's inverse, reshape.py):
# order counts and exact revenue by priority x status, literal column
# set so both engines emit identical schemas.
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT o_orderpriority AS priority,
  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F,
  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_P,
  CAST(sum(CASE WHEN o_orderstatus = 'O'
       THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_O,
  CAST(sum(CASE WHEN o_orderstatus = 'F'
       THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_F,
  CAST(sum(CASE WHEN o_orderstatus = 'P'
       THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_P
FROM orders GROUP BY 1
"""


@register("pivot_status_by_priority", oracle=_PIVOT_ORACLE, tags=("reshape", "A1"))
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    piv = (
        o.groupBy("priority")
        .pivot("o_orderstatus", ["O", "F", "P"])  # literal set: no discovery job
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p").alias("rev"),
        )
    )
    return piv.select(
        "priority",
        F.coalesce(F.col("O_n"), F.lit(0)).cast("long").alias("n_O"),
        F.coalesce(F.col("F_n"), F.lit(0)).cast("long").alias("n_F"),
        F.coalesce(F.col("P_n"), F.lit(0)).cast("long").alias("n_P"),
        F.col("O_rev").cast("double").alias("rev_O"),
        F.col("F_rev").cast("double").alias("rev_F"),
        F.col("P_rev").cast("double").alias("rev_P"),
    )


# ---------------------------------------------------------------------------
# Order-of-magnitude profile: distribution of integer digit counts of
# order totals — the log-histogram data-profiling staple, but INTEGER-
# exact (digit count of the truncated value), dodging floor(log10(x))'s
# ulp fragility at exact powers of ten.
# ---------------------------------------------------------------------------

_MAGNITUDE_ORACLE = """
WITH d AS (
  SELECT length(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR)) AS digits
  FROM orders WHERE o_totalprice >= 1
)
SELECT CAST(digits AS INT) AS digits, CAST(count(*) AS BIGINT) AS n,
  round(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
FROM d GROUP BY 1
"""


@register("magnitude_profile_order_totals", oracle=_MAGNITUDE_ORACLE, tags=("DQ", "A11"))
def magnitude_profile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.length(
            F.floor(F.col("o_totalprice")).cast("long").cast("string")
        ).cast("int").alias("digits")
    )
    w = Window.partitionBy()
    return (
        d.groupBy("digits")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "share",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
            ),
        )
    )


# ---------------------------------------------------------------------------
# Truncation recall (llmprep/similarity.py::truncation_recall_profile):
# recall@10 of prefix-truncated cosine search (8/16/32 dims) vs the
# 64-dim ground truth — the Matryoshka storage-vs-quality audit.
# ---------------------------------------------------------------------------


def _trunc_oracle(dims=(8, 16, 32), k=10, nq=10) -> str:
    def knn(width_expr: str, name: str) -> str:
        return f"""
{name}_n AS (
  SELECT vec_id, {width_expr} AS v FROM emb
), {name}_nn AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM {name}_n
), {name}_q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM {name}_nn WHERE vec_id < {nq}
), {name}_r AS (
  SELECT q.query_id, n.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY q.query_id
      ORDER BY list_dot_product(q.qv, n.v) / (q.qn * n.nrm) DESC, n.vec_id ASC) AS rk
  FROM {name}_q q JOIN {name}_nn n ON n.vec_id <> q.query_id
), {name}_top AS (
  SELECT query_id, neighbor_id FROM {name}_r WHERE rk <= {k}
)"""

    parts = ["WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS full_v FROM embeddings)"]
    parts.append("," + knn("full_v", "truth").lstrip())
    selects = []
    for d in dims:
        parts.append("," + knn(f"full_v[1:{d}]", f"d{d}").lstrip())
        selects.append(f"""
SELECT CAST({d} AS INT) AS dims, CAST({k} AS INT) AS k,
  CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries,
  round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS mean_recall
FROM truth_top t LEFT JOIN d{d}_top a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id""")
    return "\n".join(parts) + "\nSELECT * FROM (" + "\nUNION ALL".join(selects) + ")"


@register("mrl_truncation_recall", oracle=_trunc_oracle(), tags=("LLM", "similarity"))
def mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import truncation_recall_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return truncation_recall_profile(emb, list(range(10)), [8, 16, 32], k=10)


# ---------------------------------------------------------------------------
# Wilson score intervals (quality/monitors.py::wilson_proportion_ci):
# per-nation fulfilled-order proportion with a 95% CI — sqrt-only closed
# form, z embedded as a literal in both engines.
# ---------------------------------------------------------------------------

_WILSON_Z = 1.959963984540054

_WILSON_ORACLE = f"""
WITH base AS (
  SELECT n.n_name AS nation,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS s
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
), agg AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS n_success
  FROM base GROUP BY 1
)
SELECT nation, n, n_success,
  round(CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
  round((CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE)
         + {_WILSON_Z * _WILSON_Z} / (2.0 * CAST(n AS DOUBLE))
         - {_WILSON_Z} * sqrt(CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE)
             * (1.0 - CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
             + {_WILSON_Z * _WILSON_Z} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        / (1.0 + {_WILSON_Z * _WILSON_Z} / CAST(n AS DOUBLE)), 6) AS ci_lo,
  round((CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE)
         + {_WILSON_Z * _WILSON_Z} / (2.0 * CAST(n AS DOUBLE))
         + {_WILSON_Z} * sqrt(CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE)
             * (1.0 - CAST(n_success AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
             + {_WILSON_Z * _WILSON_Z} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        / (1.0 + {_WILSON_Z * _WILSON_Z} / CAST(n AS DOUBLE)), 6) AS ci_hi
FROM agg
"""


@register("wilson_ci_fulfilled_by_nation", oracle=_WILSON_ORACLE, tags=("DQ", "A11"))
def wilson_ci_fulfilled_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import wilson_proportion_ci

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nt), c["c_nationkey"] == nt["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            (F.col("o_orderstatus") == "F").cast("int").alias("s"),
        )
    )
    return wilson_proportion_ci(base, ["nation"], "s", z=_WILSON_Z)


# ---------------------------------------------------------------------------
# Dwell-time profile (operators/windows.py::dwell_time_profile): how long
# users sit in each event state before their next event — the duration-
# weighted companion of the transition matrix. Exact integer microsecond
# durations (the unix_micros/epoch_us floor convention).
# ---------------------------------------------------------------------------

_DWELL_ORACLE = """
WITH ev AS (
  SELECT user_id AS u, epoch_us(ts) AS us, CAST(event_id AS VARCHAR) AS tb,
         event_type AS state
  FROM events
), d AS (
  SELECT state,
    lead(us) OVER (PARTITION BY u ORDER BY us ASC, tb ASC) - us AS dwell
  FROM ev
)
SELECT state, CAST(count(*) AS BIGINT) AS n_dwells,
  round(CAST(sum(dwell) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6)
    AS mean_dwell_s,
  round(CAST(max(dwell) AS DOUBLE) / 1000000.0, 6) AS max_dwell_s,
  round(CAST(sum(dwell) AS DOUBLE) / 1000000.0, 6) AS total_dwell_s
FROM d WHERE dwell IS NOT NULL
GROUP BY 1
"""


@register("dwell_time_by_event_type", oracle=_DWELL_ORACLE, tags=("W3", "sequence"))
def dwell_time_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import dwell_time_profile

    ev = load_table(spark, sf_dir, "events")
    return dwell_time_profile(ev, "user_id", "ts", "event_type", tiebreak_col="event_id")


# ---------------------------------------------------------------------------
# Contingency drill-down (quality/monitors.py::contingency_profile):
# priority x status — per-cell standardized residuals plus table-level
# chi2 and Cramér's V on every row.
# ---------------------------------------------------------------------------

_CONTINGENCY_ORACLE = """
WITH cells AS (
  SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '__null__') AS row_level,
         coalesce(CAST(o_orderstatus AS VARCHAR), '__null__') AS col_level,
         CAST(count(*) AS BIGINT) AS observed
  FROM orders GROUP BY 1, 2
), m AS (
  SELECT *, CAST(sum(observed) OVER () AS BIGINT) AS n,
    CAST(sum(observed) OVER (PARTITION BY row_level) AS BIGINT) AS rt,
    CAST(sum(observed) OVER (PARTITION BY col_level) AS BIGINT) AS ct,
    CAST(count(DISTINCT row_level) OVER () AS BIGINT) AS r,
    CAST(count(DISTINCT col_level) OVER () AS BIGINT) AS c
  FROM cells
), e AS (
  SELECT *, CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS exp
  FROM m
), x AS (
  SELECT *, CAST(sum(CAST(round((CAST(observed AS DOUBLE) - exp)
    * (CAST(observed AS DOUBLE) - exp) / exp, 9) AS DECIMAL(28,9))) OVER ()
    AS DOUBLE) AS chi2_raw
  FROM e
)
SELECT row_level, col_level, observed, round(exp, 6) AS expected,
  round((CAST(observed AS DOUBLE) - exp) / sqrt(exp), 6) AS std_residual,
  round(CASE WHEN (r - 1) * (c - 1) > 0 THEN chi2_raw END, 6) AS chi2,
  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
  round(CASE WHEN (r - 1) * (c - 1) > 0 THEN
    sqrt((chi2_raw / CAST(n AS DOUBLE)) / CAST(least(r - 1, c - 1) AS DOUBLE)) END, 6)
    AS cramers_v
FROM x
"""


@register("contingency_priority_status", oracle=_CONTINGENCY_ORACLE, tags=("DQ", "A11"))
def contingency_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import contingency_profile

    o = load_table(spark, sf_dir, "orders")
    return contingency_profile(o, "o_orderpriority", "o_orderstatus")


# ---------------------------------------------------------------------------
# Character-class profile (llmprep/text.py::char_class_profile): the
# OCR-noise/code-dump detector — length-difference counting, identical
# POSIX class sets in both engines.
# ---------------------------------------------------------------------------

_CHARCLASS_ORACLE = r"""
WITH c AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_letter,
    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
    CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS BIGINT) AS n_space,
    CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
)
SELECT doc_id, n_chars, n_letter, n_digit, n_space, n_punct,
  n_chars - n_letter - n_digit - n_space - n_punct AS n_other,
  CASE WHEN n_chars > 0 THEN round(CAST(n_letter AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) END AS letter_share,
  CASE WHEN n_chars > 0 THEN round(CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) END AS digit_share,
  CASE WHEN n_chars > 0 THEN round(CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) END AS space_share,
  CASE WHEN n_chars > 0 THEN round(CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) END AS punct_share
FROM c
"""


@register("char_class_doc_profile", oracle=_CHARCLASS_ORACLE, tags=("LLM", "text"))
def char_class_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import char_class_profile

    return char_class_profile(load_table(spark, sf_dir, "documents"))
