"""Round-13 registrations (round 9, session continuation): five new
operator families, each Spark-first and value-gated.

- gaps-and-islands activity streaks (``operators/windows.py::
  activity_streaks``) — the consecutive-day run kernel;
- Theil–Sen robust trend (``operators/trend.py::theil_sen_slope``) —
  median-of-pairwise-slopes, the outlier-immune companion of
  ``ols_trend``;
- Page–Hinkley drift (``operators/trend.py::page_hinkley``) — the
  sequential running-mean drift detector next to CUSUM/Pettitt;
- single binary-segmentation changepoint (``operators/trend.py::
  binseg_mean_shift``) — the mean-shift SSE-gain split, rank-free
  companion of the Pettitt test;
- position-based (U-shaped) multi-touch attribution
  (``operators/windows.py::position_based_attribution``) — fractional
  credit over ALL qualifying touches, extending last-touch (reference
  parity: the campaign rollups over
  ``/root/reference/dbt_project/models/gold/facts/fact_calls.sql``-style
  ordered per-caller sequences).

Registry conventions apply: exact DECIMAL folds everywhere a sum crosses
engines, Python-computed float constants interpolated into BOTH engines'
expressions, round-then-decimal for float terms, unique window
tie-breaks, matching column names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .scratch import scratch_dir
from .registry import register
from ..lineage import lineage_cut

# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks. The query grain is
# the streak-length distribution (streak rows carry DATEs, which are not
# fetchdf-stable; the distribution is all BIGINTs).
# ---------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT u, d,
         d - CAST(row_number() OVER (PARTITION BY u ORDER BY d) AS INTEGER) AS anchor
  FROM days
), s AS (
  SELECT u, anchor, CAST(count(*) AS BIGINT) AS len FROM isl GROUP BY 1, 2
)
SELECT len AS streak_len, CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(count(DISTINCT u) AS BIGINT) AS n_users
FROM s GROUP BY 1
"""


@register("user_activity_streaks", oracle=_STREAKS_ORACLE, tags=("W1", "sequence"))
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import activity_streaks

    ev = load_table(spark, sf_dir, "events")
    streaks = activity_streaks(ev, "user_id", "ts")
    return streaks.groupBy(F.col("streak_len")).agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend: monthly revenue per nation (month index =
# year*12+month, an integral unique time key; revenue = exact decimal sum
# cast double with ONE expression shape on both engines).
# ---------------------------------------------------------------------------


def _theil_sen_oracle() -> str:
    from ..operators.trend import theil_sen_oracle_sql

    base = """
SELECT n.n_name AS k,
       CAST(date_part('year', o.o_orderdate) * 12 + date_part('month', o.o_orderdate) AS BIGINT) AS t,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS y
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1, 2
"""
    return theil_sen_oracle_sql(base, key_name="nation")


@register("theil_sen_nation_revenue_trend", oracle=_theil_sen_oracle(), tags=("trend", "A11"))
def theil_sen_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import theil_sen_slope

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("t"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("y")
        )
    )
    return theil_sen_slope(monthly, "nation", "t", "y")


# ---------------------------------------------------------------------------
# Page–Hinkley drift + binary-segmentation changepoint share one base:
# daily event-value sums per event type (exact decimal via the
# round-then-decimal fold, day key a string).
# ---------------------------------------------------------------------------

_DAILY_VALUE_CTE = """
SELECT event_type AS k, strftime(ts, '%Y-%m-%d') AS t,
       sum(CAST(round(value, 2) AS DECIMAL(14,2))) AS x
FROM events GROUP BY 1, 2
"""


def _daily_value_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type"), F.date_format("ts", "yyyy-MM-dd").alias("t")
    ).agg(F.sum(F.round("value", 2).cast("decimal(14,2)")).alias("x"))


def _ph_oracle() -> str:
    from ..operators.trend import page_hinkley_oracle_sql

    return page_hinkley_oracle_sql(
        _DAILY_VALUE_CTE, delta=0.0, lam=500.0, key_name="event_type"
    )


@register("page_hinkley_daily_event_value", oracle=_ph_oracle(), tags=("trend", "A11", "DQ"))
def page_hinkley_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import page_hinkley

    base = _daily_value_base(spark, sf_dir)
    return page_hinkley(base, "event_type", "t", "x", delta=0.0, lam=500.0)


def _binseg_oracle() -> str:
    from ..operators.trend import binseg_oracle_sql

    return binseg_oracle_sql(_DAILY_VALUE_CTE, key_name="event_type")


@register("binseg_split_daily_event_value", oracle=_binseg_oracle(), tags=("trend", "A11"))
def binseg_split_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import binseg_mean_shift

    base = _daily_value_base(spark, sf_dir)
    return binseg_mean_shift(base, "event_type", "t", "x")


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution: per touch type, the
# fractional credit mass over purchase conversions. Credit constants are
# Python floats interpolated into BOTH engines (the operator computes the
# same expressions from fw/lw); per-touch credits round to 9 and fold as
# DECIMAL(20,9) so the rollup is order-independent.
# ---------------------------------------------------------------------------

_FW, _LW = 0.4, 0.4
_MID = 1.0 - _FW - _LW
_K2F = _FW + _MID / 2.0
_K2L = _LW + _MID / 2.0
_ATTR_WITHIN_S = 21_600

_POSITION_ATTR_ORACLE = f"""
WITH ev AS (
  SELECT user_id AS u, epoch_us(ts) AS us, CAST(event_id AS VARCHAR) AS tb,
         event_type AS ev
  FROM events WHERE event_type IN ('purchase', 'view', 'click')
), tagged AS (
  SELECT *, min(CASE WHEN ev = 'purchase'
                     THEN lpad(CAST(us AS VARCHAR), 20, '0') || '|' || tb END)
    OVER (PARTITION BY u ORDER BY us DESC, tb DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
  FROM ev
), touches AS (
  SELECT u, us, tb, ev, ck, CAST(substr(ck, 1, 20) AS BIGINT) AS conv_us
  FROM tagged WHERE ev <> 'purchase' AND ck IS NOT NULL
), fit AS (
  SELECT * FROM touches WHERE conv_us - us <= {_ATTR_WITHIN_S * 1_000_000}
), ranked AS (
  SELECT ev,
    CAST(row_number() OVER (PARTITION BY u, ck ORDER BY us ASC, tb ASC) AS BIGINT) AS position,
    CAST(count(*) OVER (PARTITION BY u, ck) AS BIGINT) AS k
  FROM fit
), credit AS (
  SELECT ev, CAST(round(CASE
      WHEN k = 1 THEN 1.0
      WHEN k = 2 AND position = 1 THEN {_K2F!r}
      WHEN k = 2 AND position = 2 THEN {_K2L!r}
      WHEN position = 1 THEN {_FW!r}
      WHEN position = k THEN {_LW!r}
      ELSE {_MID!r} / CAST(k - 2 AS DOUBLE) END, 9) AS DECIMAL(20,9)) AS c
  FROM ranked
)
SELECT ev AS touch_event, CAST(count(*) AS BIGINT) AS n_touches,
       round(CAST(sum(c) AS DOUBLE), 6) AS total_credit
FROM credit GROUP BY 1
"""


@register(
    "attribution_position_based_purchases",
    oracle=_POSITION_ATTR_ORACLE,
    tags=("attribution", "W3", "sequence"),
)
def attribution_position_based_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import position_based_attribution

    ev = load_table(spark, sf_dir, "events")
    rows = position_based_attribution(
        ev,
        "user_id",
        "ts",
        "event_type",
        conversion="purchase",
        touch_events=["view", "click"],
        within_seconds=_ATTR_WITHIN_S,
        tiebreak_col="event_id",
        first_weight=_FW,
        last_weight=_LW,
    )
    return rows.groupBy("touch_event").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.round(
            F.sum(F.col("credit").cast("decimal(20,9)")).cast("double"), 6
        ).alias("total_credit"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (llmprep/text.py::rake_keywords): corpus-tuned
# stoplist (articles + the adjective fillers — ~20% stop density gives
# natural phrase lengths in the synthetic corpus), classic phrase-length
# cap 4, global top-50 phrases by summed word degree/frequency scores.
# ---------------------------------------------------------------------------

_RAKE_STOP = ("the", "a", "big", "small", "fast", "slow", "data")
_RAKE_CAP = 4
_RAKE_K = 50

_RAKE_ORACLE = f"""
WITH toks0 AS (
  SELECT doc_id AS doc, u.pos AS pos, u.tok AS tok
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
        FROM documents),
       unnest(list_transform(l, (x, i) -> {{'pos': i, 'tok': x}})) AS t(u)
), g AS (
  SELECT doc, pos, tok,
         CASE WHEN tok IN {_RAKE_STOP!r} THEN 1 ELSE 0 END AS stop,
         sum(CASE WHEN tok IN {_RAKE_STOP!r} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc ORDER BY pos) AS grp
  FROM toks0
), wrds AS (
  SELECT doc, grp, pos, tok,
         CAST(count(*) OVER (PARTITION BY doc, grp) AS BIGINT) AS plen
  FROM g WHERE stop = 0 AND tok <> ''
), capped AS (
  SELECT * FROM wrds WHERE plen <= {_RAKE_CAP}
), wordstats AS (
  SELECT tok,
         round(CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS wscore
  FROM capped GROUP BY 1
), phrases AS (
  SELECT doc, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM capped GROUP BY 1, 2
), pscore AS (
  SELECT c.doc, c.grp, sum(CAST(w.wscore AS DECIMAL(20,9))) AS s
  FROM capped c JOIN wordstats w USING (tok) GROUP BY 1, 2
)
SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
       round(CAST(max(s.s) AS DOUBLE), 6) AS rake_score
FROM phrases p JOIN pscore s ON p.doc = s.doc AND p.grp = s.grp
GROUP BY 1
ORDER BY rake_score DESC, phrase ASC
LIMIT {_RAKE_K}
"""


@register("rake_keywords_topk", oracle=_RAKE_ORACLE, tags=("LLM", "text"))
def rake_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import rake_keywords

    docs = load_table(spark, sf_dir, "documents")
    return rake_keywords(
        docs, "doc_id", "text",
        stopwords=_RAKE_STOP, max_phrase_len=_RAKE_CAP, k=_RAKE_K,
    )


# ---------------------------------------------------------------------------
# Iceberg v2 EQUALITY-delete roundtrip: the CDC writer's delete shape
# (content=2, the last undecoded spec surface) through the VALUE gate.
# export -> equality DELETE on the key column -> append rows REUSING
# deleted keys (they must survive: the spec's strictly-less sequence
# rule) -> validate -> replay. The oracle re-derives the surviving
# multiset analytically, so a wrong seq rule, a missed key, or an
# over-applied delete all redden the row.
# ---------------------------------------------------------------------------

_ICEBERG_EQ_ORACLE = """
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 5 <> 0
), extra AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) + 1000 AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 21 = 0 AND o_orderkey % 5 <> 0
)
SELECT o_orderkey AS orderkey, CAST(price AS DOUBLE) AS price, status
FROM base WHERE o_orderkey % 7 <> 0
UNION ALL
SELECT o_orderkey AS orderkey, CAST(price AS DOUBLE) AS price, status
FROM extra
"""


@register(
    "iceberg_equality_delete_roundtrip",
    oracle=_ICEBERG_EQ_ORACLE,
    tags=("S7", "interop"),
)
def iceberg_equality_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.iceberg_export import (
        append_iceberg_snapshot,
        delete_iceberg_rows_equality,
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
    # appended AFTER the delete, reusing deleted keys (%21=0 implies %7=0)
    extra = o.filter(
        (F.col("o_orderkey") % 21 == 0) & (F.col("o_orderkey") % 5 != 0)
    ).select(
        "o_orderkey",
        (price + 1000).cast("decimal(12,2)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    scratch = scratch_dir("iceberg_eqdel", sf_dir)
    t = TxnLogTable(os.path.join(scratch, "src"), stat_cols=("o_orderkey",))
    t.create_or_replace(base)
    dest = os.path.join(scratch, "ice")
    export_iceberg_snapshot(t, spark, dest)                      # snapshot 1
    delete_iceberg_rows_equality(
        spark, dest, "o_orderkey % 7 = 0", ["o_orderkey"]
    )                                                            # snapshot 2 (MOR)
    append_iceberg_snapshot(extra, spark, dest)                  # snapshot 3
    summary = validate_iceberg_metadata(dest, spark)
    assert summary["n_equality_delete_files"] >= 1
    assert summary["n_equality_keys"] > 0
    return read_iceberg_snapshot(spark, dest).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("price").cast("double").alias("price"),
        "status",
    )


# ---------------------------------------------------------------------------
# Candidate-key / uniqueness profiling (quality/monitors.py::
# candidate_key_profile): distinctness of column combos counted as
# STRUCTS (nulls participate — Spark countDistinct(struct) ≡ DuckDB
# count(DISTINCT ROW(...))), one exact distinct-agg per combo.
# ---------------------------------------------------------------------------

_CK_COMBOS = [
    ["o_orderkey"],
    ["o_custkey"],
    ["o_custkey", "o_orderdate"],
    ["o_orderstatus", "o_orderpriority"],
]


def _ck_oracle() -> str:
    parts = []
    for cols in _CK_COMBOS:
        row = ", ".join(cols)
        parts.append(f"""
SELECT '{",".join(cols)}' AS combo, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT ROW({row})) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT ROW({row})) AS BIGINT) AS dup_rows,
       CAST(count(*) = count(DISTINCT ROW({row})) AS INTEGER) AS is_unique
FROM orders""")
    return "\nUNION ALL\n".join(parts)


@register("dq_candidate_keys_orders", oracle=_ck_oracle(), tags=("DQ", "A12"))
def dq_candidate_keys_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import candidate_key_profile

    o = load_table(spark, sf_dir, "orders")
    return candidate_key_profile(o, _CK_COMBOS)


# ---------------------------------------------------------------------------
# Funnel time-to-convert (operators/windows.py::time_to_convert): first
# view -> first purchase at-or-after it, per user; out-of-funnel
# purchases BEFORE the first view neither qualify nor block.
# ---------------------------------------------------------------------------

_TTC_ORACLE = """
WITH ev AS (
  SELECT user_id AS u, epoch_us(ts) AS us, CAST(event_id AS VARCHAR) AS tb,
         event_type AS ev
  FROM events WHERE event_type IN ('view', 'purchase')
), keyed AS (
  SELECT *, lpad(CAST(us AS VARCHAR), 20, '0') || '|' || tb AS k FROM ev
), t1 AS (
  SELECT *, min(CASE WHEN ev = 'view' THEN k END) OVER (PARTITION BY u) AS sk
  FROM keyed
), t2 AS (
  SELECT *, min(CASE WHEN ev = 'purchase' AND k >= sk THEN k END)
              OVER (PARTITION BY u) AS ek
  FROM t1
), per_user AS (
  SELECT u, max(sk) AS sk, max(ek) AS ek FROM t2 GROUP BY 1
)
SELECT u AS user_id,
       CAST(substr(sk, 1, 20) AS BIGINT) AS start_us,
       CAST(substr(ek, 1, 20) AS BIGINT) AS convert_us,
       CAST(CAST(substr(ek, 1, 20) AS BIGINT)
            - CAST(substr(sk, 1, 20) AS BIGINT) AS DOUBLE) / 1000000.0 AS lag_s
FROM per_user WHERE sk IS NOT NULL AND ek IS NOT NULL
"""


@register("funnel_time_to_convert", oracle=_TTC_ORACLE, tags=("sequence", "W3"))
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import time_to_convert

    ev = load_table(spark, sf_dir, "events")
    return time_to_convert(
        ev, "user_id", "ts", "event_type",
        start_event="view", end_event="purchase", tiebreak_col="event_id",
    )


# ---------------------------------------------------------------------------
# OHLC bars (operators/windows.py::ohlc_bars): daily open/high/low/close
# per event type — pure MIN/MAX election on a zero-padded event-order
# key, one exchange at the bar grain, no window, no sort.
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH base AS (
  SELECT event_type AS k, strftime(ts, '%Y-%m-%d') AS bar, epoch_us(ts) AS us,
         CAST(event_id AS VARCHAR) AS tb,
         CAST(round(value, 2) AS DECIMAL(14,2)) AS v
  FROM events
), keyed AS (
  SELECT *, lpad(CAST(us AS VARCHAR), 20, '0') || '|'
            || lpad(tb, 24, '0') || '|' || CAST(v AS VARCHAR) AS ekey
  FROM base
)
SELECT k AS event_type, bar,
       CAST(CAST(split_part(min(ekey), '|', 3) AS DECIMAL(14,2)) AS DOUBLE) AS open,
       CAST(max(v) AS DOUBLE) AS high,
       CAST(min(v) AS DOUBLE) AS low,
       CAST(CAST(split_part(max(ekey), '|', 3) AS DECIMAL(14,2)) AS DOUBLE) AS close,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v) AS DOUBLE) AS total
FROM keyed GROUP BY 1, 2
"""


@register("ohlc_daily_event_value", oracle=_OHLC_ORACLE, tags=("A2", "trend"))
def ohlc_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import ohlc_bars

    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(ev, "event_type", "ts", "value", tiebreak_col="event_id")


# ---------------------------------------------------------------------------
# Seed-sampled Brandes betweenness (operators/graph.py::
# betweenness_from_seeds) on the sampled co-purchase graph — the classic
# "who sits on shortest paths" centrality, truncated at 4 hops from the
# 3 smallest nodes (the BFS/SSSP seed rule). Oracle = the same forward-σ
# / backward-δ recursion unrolled in SQL.
# ---------------------------------------------------------------------------

_BETW_SAMPLED_SUBQ = """
SELECT u, v FROM (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (
    SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    GROUP BY 1 HAVING count(*) <= 25)
)
WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
"""


def _betweenness_oracle() -> str:
    from ..operators.graph import betweenness_oracle_sql

    return betweenness_oracle_sql(
        edges_cte=(
            f"SELECT src, dst FROM (SELECT u AS src, v AS dst FROM ({_BETW_SAMPLED_SUBQ}) "
            f"UNION ALL SELECT v AS src, u AS dst FROM ({_BETW_SAMPLED_SUBQ}))"
        ),
        seeds_sql=(
            "SELECT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) "
            "ORDER BY node LIMIT 3"
        ),
        rounds=4,
    )


@register(
    "betweenness_copurchase_seeds",
    oracle=_betweenness_oracle(),
    tags=("LLM", "iterative", "graph"),
)
def betweenness_copurchase_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import betweenness_from_seeds
    from .round8 import _sampled_copurchase_pairs

    pairs = _sampled_copurchase_pairs(spark, sf_dir)  # checkpointed inside
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # lineage cut: the pair fan-out feeds seed discovery AND the BFS spine
    edges = edges.transform(lineage_cut)
    nodes = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = [r["node"] for r in nodes.orderBy("node").limit(3).collect()]
    return betweenness_from_seeds(edges, seeds, max_hops=4)


# ---------------------------------------------------------------------------
# TextRank keywords (llmprep/text.py::textrank_keywords): integer
# fixed-point PageRank over the stopword-filtered word co-occurrence
# graph (window 2, lead-based pair construction — linear in tokens).
# Ranks are exact LONGs: hash-exact cross-engine, no rounding recipe.
# ---------------------------------------------------------------------------


def _textrank_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    stop = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    edges = f"""
WITH toks0 AS (
  SELECT doc_id AS doc, u.pos AS pos, u.tok AS tok
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
        FROM documents),
       unnest(list_transform(l, (x, i) -> {{'pos': i, 'tok': x}})) AS t(u)
), toks AS (
  SELECT doc, pos, tok FROM toks0 WHERE tok <> '' AND tok NOT IN ({stop})
), leads AS (
  SELECT tok,
         lead(tok, 1) OVER (PARTITION BY doc ORDER BY pos) AS l1,
         lead(tok, 2) OVER (PARTITION BY doc ORDER BY pos) AS l2
  FROM toks
), und AS (
  SELECT DISTINCT least(tok, l) AS a, greatest(tok, l) AS b FROM (
    SELECT tok, l1 AS l FROM leads WHERE l1 IS NOT NULL AND tok <> l1
    UNION ALL
    SELECT tok, l2 AS l FROM leads WHERE l2 IS NOT NULL AND tok <> l2
  )
)
SELECT a AS src, b AS dst FROM und
UNION ALL SELECT b AS src, a AS dst FROM und
"""
    inner = pagerank_oracle_sql(edges_cte=edges, iters=3, topk=20)
    return inner.replace("SELECT node, rank_fp FROM i3",
                         "SELECT node AS word, rank_fp FROM i3")


@register("textrank_word_graph", oracle=_textrank_oracle(), tags=("LLM", "text", "iterative"))
def textrank_word_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import textrank_keywords

    docs = load_table(spark, sf_dir, "documents")
    return textrank_keywords(
        docs, "doc_id", "text", stopwords=_RAKE_STOP, window=2, iters=3, k=20
    )


# ---------------------------------------------------------------------------
# Sequential testing + empirical-Bayes shrinkage (quality/monitors.py):
# SPRT over daily purchase share per user-parity cohort, and
# beta-binomial shrunk purchase rates per user.
# ---------------------------------------------------------------------------

_SPRT_P0, _SPRT_P1 = 0.18, 0.22

_SPRT_BASE_CTE = """
SELECT CAST(user_id % 2 AS BIGINT) AS k, strftime(ts, '%Y-%m-%d') AS t,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS s,
       CAST(count(*) AS BIGINT) AS n
FROM events WHERE event_type IN ('purchase', 'view')
GROUP BY 1, 2
"""


def _sprt_oracle() -> str:
    from ..quality.monitors import sprt_oracle_sql

    return sprt_oracle_sql(
        _SPRT_BASE_CTE, p0=_SPRT_P0, p1=_SPRT_P1, key_name="cohort"
    )


@register("sprt_daily_purchase_share", oracle=_sprt_oracle(), tags=("DQ", "A11"))
def sprt_daily_purchase_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import sprt_bernoulli

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    base = ev.groupBy(
        (F.col("user_id") % 2).cast("long").alias("cohort"),
        F.date_format("ts", "yyyy-MM-dd").alias("t"),
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return sprt_bernoulli(
        base, "cohort", "t", "s", "n", p0=_SPRT_P0, p1=_SPRT_P1
    )


def _eb_oracle() -> str:
    from ..quality.monitors import empirical_bayes_oracle_sql

    base = """
SELECT user_id AS k,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""
    return empirical_bayes_oracle_sql(base, key_name="user_id")


@register("eb_shrunk_user_purchase_rates", oracle=_eb_oracle(), tags=("DQ", "A11"))
def eb_shrunk_user_purchase_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import empirical_bayes_rates

    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy(F.col("user_id")).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return empirical_bayes_rates(base, "user_id", "x", "n")


# ---------------------------------------------------------------------------
# Exact weighted median (quality/monitors.py::weighted_median): the
# quantity-weighted typical line price per supplier nation. RANGE-frame
# cumulative weights make tied values share one cumulative sum, so the
# crossing value needs no tie-break and is deterministic cross-engine.
# ---------------------------------------------------------------------------


def _wmedian_oracle() -> str:
    from ..quality.monitors import weighted_median_oracle_sql

    base = """
SELECT n.n_name AS nation,
       CAST(l.l_extendedprice AS DECIMAL(12,2)) AS v,
       CAST(l.l_quantity AS BIGINT) AS wt
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
"""
    return weighted_median_oracle_sql(base, ["nation"])


@register("weighted_median_price_by_nation", oracle=_wmedian_oracle(), tags=("A11", "DQ"))
def weighted_median_price_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import weighted_median

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_quantity"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("l_extendedprice").cast("decimal(12,2)").alias("v"),
            F.col("l_quantity").cast("long").alias("wt"),
        )
    )
    return weighted_median(base, ["nation"], "v", "wt")


# ---------------------------------------------------------------------------
# Skew-salted join (operators/joins.py::salted_join): semantics
# IDENTICAL to the plain equi-join — the oracle IS the plain join — with
# the hot-key fan-out spread over salt_factor shuffle partitions. The
# manual form of AQE skew splitting, kept explicit for skew known a
# priori; plan pin asserts the salt participates in the join keys.
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT o.o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


@register("salted_join_order_revenue", oracle=_SALTED_ORACLE, tags=("J1", "J2"))
def salted_join_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").cast("decimal(12,2)").alias("price")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", salt_factor=8)
    return joined.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("price").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves (operators/windows.py::cohort_ltv): customers cohort
# by first order month; revenue accumulates over cohort age and
# normalizes per member — the revenue companion of cohort_retention.
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH base AS (
  SELECT o_custkey AS u,
         CAST(date_part('year', o_orderdate) * 12 + date_part('month', o_orderdate) AS BIGINT) AS m,
         CAST(o_totalprice AS DECIMAL(16,2)) AS v
  FROM orders
), firsts AS (
  SELECT u, min(m) AS cohort_m FROM base GROUP BY 1
), sizes AS (
  SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_users FROM firsts GROUP BY 1
), aged AS (
  SELECT f.cohort_m, CAST(b.m - f.cohort_m AS BIGINT) AS age, b.u, b.v
  FROM base b JOIN firsts f ON f.u = b.u
), grain AS (
  SELECT cohort_m, age, CAST(count(DISTINCT u) AS BIGINT) AS n_buyers,
         sum(v) AS rev
  FROM aged GROUP BY 1, 2
), cum AS (
  SELECT *, sum(rev) OVER (PARTITION BY cohort_m ORDER BY age) AS cumrev
  FROM grain
)
SELECT c.cohort_m AS cohort_month, c.age AS age_months, s.cohort_users,
       c.n_buyers,
       round(CAST(c.rev AS DOUBLE), 6) AS period_revenue,
       round(CAST(c.cumrev AS DOUBLE), 6) AS cum_revenue,
       round(CAST(c.cumrev AS DOUBLE) / CAST(s.cohort_users AS DOUBLE), 6) AS ltv_per_user
FROM cum c JOIN sizes s ON s.cohort_m = c.cohort_m
"""


@register("cohort_ltv_curves", oracle=_LTV_ORACLE, tags=("A4", "sequence"))
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import cohort_ltv

    o = load_table(spark, sf_dir, "orders")
    return cohort_ltv(o, "o_custkey", "o_orderdate", "o_totalprice")


# ---------------------------------------------------------------------------
# Pareto concentration (quality/monitors.py::pareto_concentration): how
# many customers cover 80% of each nation's revenue. The threshold
# decision is exact decimal arithmetic (100·cum_before < 80·total) —
# no float share on the cut line.
# ---------------------------------------------------------------------------


def _pareto_oracle() -> str:
    from ..quality.monitors import pareto_oracle_sql

    base = """
SELECT n.n_name AS nation, o.o_custkey AS m,
       sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS v
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1, 2
"""
    return pareto_oracle_sql(base, ["nation"], threshold_pct=80)


@register("pareto_revenue_concentration", oracle=_pareto_oracle(), tags=("A11", "DQ"))
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import pareto_concentration

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("o_custkey").alias("m"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("v"))
    )
    return pareto_concentration(base, ["nation"], "m", "v", threshold_pct=80)
