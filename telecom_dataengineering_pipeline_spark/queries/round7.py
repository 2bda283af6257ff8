"""Round-7 registrations: the eight round-6 tests-only operators promoted to
oracle-checked driver queries (BM25 retrieval, CUSUM change points, robust
MAD outliers, grouped quantile bands, last-touch attribution, hub-guarded
neighborhood Jaccard, grid density, txnlog column defaults), plus the media
header-parse round-trip and the BPE train→encode composition closing the
tokenizer loop.

Reference parity: these extend the reference's mart/monitoring tier
(``dbt_project/models/marts``, ``monitoring/pipeline_observability.py``) with
the retrieval/attribution/robust-statistics shapes its BI and campaign layers
compute downstream, re-expressed as distributed DataFrame plans with DuckDB
oracles (registry determinism conventions throughout: decimal-exact sums, µs
epochs, tie-broken windows, matching column names).

Rank-exact sketch regime: the median/MAD and grouped-quantile oracles mirror
``percentile_approx(·, p, 10000)`` with ``row_number`` rank selection, valid
while accuracy ≫ n. Both inputs here are DATE-grain post-aggregates whose
cardinality is bounded by the calendar (≤ ~2,400 days / ≤ 31 days per group)
at EVERY scale factor — unlike a per-customer grain, the regime cannot drift
out from under the oracle at sf0.1+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .scratch import scratch_dir
from .registry import register
from ..lineage import lineage_cut

# ---------------------------------------------------------------------------
# BM25 keyword retrieval (llmprep/text.py::bm25_scores) over the documents
# corpus. 'dup' is the fixture's one rare term (df ~26/500) — real idf
# contrast against the ubiquitous 'spark'/'sort'. Explode filtered to the
# query terms (the token stream never shuffles), broadcast document
# frequencies, round-then-decimal per-term partials (ln() can differ by an
# ulp across engines; double addition is partition-order-dependent).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["dup", "sort", "spark"]
_BM25_TOPK = 25

_BM25_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
         len(string_split_regex(lower(trim(text)), '\s+')) AS dl
  FROM documents
), lengths AS (
  SELECT doc_id, CAST(any_value(dl) AS DOUBLE) AS dl FROM toks GROUP BY 1
), corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lengths
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM toks
  WHERE tok IN ('dup', 'sort', 'spark') GROUP BY 1, 2
), dfreq AS (
  SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
), parts AS (
  SELECT t.doc_id,
         CAST(round(
           ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (t.tf * (1.2 + 1.0) / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / c.avgdl))),
           9) AS DECIMAL(22,9)) AS s
  FROM tf t JOIN dfreq d ON t.tok = d.tok
  JOIN lengths l ON t.doc_id = l.doc_id CROSS JOIN corpus c
)
SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score,
       CAST(count(*) AS INTEGER) AS n_terms_matched
FROM parts GROUP BY 1
ORDER BY score DESC, doc_id ASC LIMIT {_BM25_TOPK}
"""


@register("bm25_keyword_retrieval", oracle=_BM25_ORACLE, tags=("LLM", "text", "retrieval"))
def bm25_keyword_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_TERMS, top_k=_BM25_TOPK)


# ---------------------------------------------------------------------------
# Robust median/MAD outlier screen (quality/monitors.py::robust_outlier_
# profile) over DAILY order revenue — a calendar-bounded post-aggregate
# (≤ ~2,400 rows at every SF), so the rank-exact sketch regime holds at
# sf0.1 and beyond. Revenue sums are DECIMAL-exact, cast to double once.
# ---------------------------------------------------------------------------

_ROBUST_ORACLE = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS x
  FROM orders GROUP BY 1
), rk AS (
  SELECT x, row_number() OVER (ORDER BY x) AS r, count(*) OVER () AS cnt FROM daily
), med AS (
  SELECT max(CASE WHEN r = CAST(ceil(0.5 * cnt) AS BIGINT) THEN x END) AS m FROM rk
), dev AS (
  SELECT abs(f.x - med.m) AS dv FROM daily f CROSS JOIN med
), rk2 AS (
  SELECT dv, row_number() OVER (ORDER BY dv) AS r, count(*) OVER () AS cnt FROM dev
), mad AS (
  SELECT max(CASE WHEN r = CAST(ceil(0.5 * cnt) AS BIGINT) THEN dv END) AS md FROM rk2
)
SELECT CAST(count(f.x) AS BIGINT) AS n,
       round(any_value(med.m), 6) AS median,
       round(any_value(mad.md), 6) AS mad,
       CAST(sum(CASE WHEN mad.md > 0
                THEN ((0.6745 * abs(f.x - med.m) / mad.md) > 3.5)::INT END) AS BIGINT)
         AS n_outliers,
       round(CAST(sum(CASE WHEN mad.md > 0
                     THEN ((0.6745 * abs(f.x - med.m) / mad.md) > 3.5)::INT END) AS DOUBLE)
             / count(f.x), 6) AS outlier_rate
FROM daily f CROSS JOIN med CROSS JOIN mad
"""


@register("robust_outlier_daily_revenue", oracle=_ROBUST_ORACLE, tags=("A11", "DQ"))
def robust_outlier_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import robust_outlier_profile

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"))
        .select(F.col("rev").cast("double").alias("x"))
        # nested medians are three passes over the input by construction —
        # materialize the (calendar-bounded) aggregate once instead of
        # re-running the orders scan+shuffle per pass, exactly the
        # operator's documented 100 TB-tier contract
        .transform(lineage_cut)
    )
    return robust_outlier_profile(daily, "x")


# ---------------------------------------------------------------------------
# Per-group quantile bands (quality/monitors.py::grouped_quantile_profile)
# over daily per-event-type value sums: 5 groups × ≤ 31 calendar days at
# every SF — rank-exact forever. One map-side-combined sketch aggregate.
# ---------------------------------------------------------------------------

_GROUPED_Q_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
         CAST(sum(CAST(round(value, 2) AS DECIMAL(14,2))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), rk AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM daily
)
SELECT event_type, CAST(any_value(cnt) AS BIGINT) AS n,
       max(CASE WHEN r = CAST(ceil(0.25 * cnt) AS BIGINT) THEN v END) AS q_25,
       max(CASE WHEN r = CAST(ceil(0.50 * cnt) AS BIGINT) THEN v END) AS q_50,
       max(CASE WHEN r = CAST(ceil(0.75 * cnt) AS BIGINT) THEN v END) AS q_75,
       max(CASE WHEN r = CAST(ceil(0.90 * cnt) AS BIGINT) THEN v END) AS q_90
FROM rk GROUP BY 1
"""


@register("grouped_quantile_event_values", oracle=_GROUPED_Q_ORACLE, tags=("A11", "DQ"))
def grouped_quantile_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.monitors import grouped_quantile_profile

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(F.round("value", 2).cast("decimal(14,2)")).alias("dv"))
        .select("event_type", F.col("dv").cast("double").alias("v"))
    )
    return grouped_quantile_profile(daily, ["event_type"], "v")


# ---------------------------------------------------------------------------
# Grid-density spatial rollup (functions/geo.py::grid_density) on positions
# synthesized from event_id (same fixed-formula trick as the fraud tower
# grid — the fixture carries no coordinates). Integer-derived doubles are
# identical across engines; centroid/value sums are DECIMAL-exact.
# ---------------------------------------------------------------------------

_GRID_ORACLE = """
WITH pts AS (
  SELECT (event_id % 1800) / 10.0 - 90.0 AS lat,
         ((event_id * 31) % 3600) / 10.0 - 180.0 AS lon,
         value AS v
  FROM events
)
SELECT CAST(floor(lat / 10.0) AS BIGINT) AS cell_lat,
       CAST(floor(lon / 10.0) AS BIGINT) AS cell_lon,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(lat, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS centroid_lat,
       round(CAST(sum(CAST(round(lon, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS centroid_lon,
       round(CAST(sum(CAST(v AS DECIMAL(20,4))) AS DOUBLE), 4) AS total
FROM pts GROUP BY 1, 2
"""


@register("grid_density_event_cells", oracle=_GRID_ORACLE, tags=("A1", "geo"))
def grid_density_event_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geo import grid_density

    ev = load_table(spark, sf_dir, "events").select(
        ((F.col("event_id") % 1800) / F.lit(10.0) - F.lit(90.0)).alias("lat"),
        (((F.col("event_id") * 31) % 3600) / F.lit(10.0) - F.lit(180.0)).alias("lon"),
        F.col("value").alias("v"),
    )
    return grid_density(ev, "lat", "lon", 10.0, value_col="v")


# ---------------------------------------------------------------------------
# Last-touch attribution (operators/windows.py::last_touch_attribution):
# every purchase credited to the user's most recent strictly-preceding
# view/click within 6 hours. ONE user-keyed exchange; event_id tie-break
# (string-ordered identically in both engines).
# ---------------------------------------------------------------------------

_LAST_TOUCH_WITHIN_S = 21_600

_LAST_TOUCH_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(event_id AS VARCHAR) AS tb,
         event_type AS ev
  FROM events WHERE event_type IN ('purchase', 'view', 'click')
), carried AS (
  SELECT *,
    last_value(CASE WHEN ev IN ('view', 'click') THEN ev END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY us, tb
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_ev,
    last_value(CASE WHEN ev IN ('view', 'click') THEN us END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY us, tb
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_us
  FROM ev
)
SELECT user_id, us AS conversion_us, tb,
       CASE WHEN us - t_us <= {_LAST_TOUCH_WITHIN_S * 1_000_000} THEN t_ev END
         AS touch_event,
       CASE WHEN us - t_us <= {_LAST_TOUCH_WITHIN_S * 1_000_000} THEN t_us END
         AS touch_us
FROM carried WHERE ev = 'purchase'
"""


@register(
    "last_touch_attribution_purchases",
    oracle=_LAST_TOUCH_ORACLE,
    tags=("W3", "sequence", "attribution"),
)
def last_touch_attribution_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import last_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    return last_touch_attribution(
        ev,
        "user_id",
        "ts",
        "event_type",
        conversion="purchase",
        touch_events=["view", "click"],
        within_seconds=_LAST_TOUCH_WITHIN_S,
        tiebreak_col="event_id",
    )


# ---------------------------------------------------------------------------
# Neighborhood-Jaccard link prediction (operators/graph.py::neighborhood_
# jaccard) on the SAME hash-sparsified co-purchase graph as k_core_copurchase
# (avg degree ~6, max 18 at sf0.01). max_hub_degree=12 exercises the wedge
# guard on real data: hubs stop generating wedges but keep their own degree.
# ---------------------------------------------------------------------------

_JACCARD_HUB_CAP = 12

_JACCARD_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT l_orderkey FROM baskets GROUP BY 1 HAVING count(*) <= 25
), pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (SELECT l_orderkey FROM sized)
), sampled AS (
  SELECT u, v FROM pairs
  WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
), bidir AS (
  SELECT u, v FROM sampled UNION ALL SELECT v AS u, u AS v FROM sampled
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM bidir GROUP BY 1
), hubs AS (
  SELECT u FROM deg WHERE deg > {_JACCARD_HUB_CAP}
), wedge AS (
  SELECT b.u, b.v FROM bidir b WHERE b.v NOT IN (SELECT u FROM hubs)
), common AS (
  SELECT a.u AS ua, b.u AS ub, CAST(count(*) AS BIGINT) AS common
  FROM wedge a JOIN wedge b ON a.v = b.v AND a.u < b.u
  GROUP BY 1, 2
)
SELECT c.ua AS u, c.ub AS v, c.common,
       round(CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common), 6) AS jaccard
FROM common c JOIN deg da ON da.u = c.ua JOIN deg db ON db.u = c.ub
WHERE c.common >= 1
"""


@register(
    "copurchase_neighborhood_jaccard",
    oracle=_JACCARD_ORACLE,
    tags=("LLM", "graph"),
)
def copurchase_neighborhood_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import neighborhood_jaccard
    from .advanced import sampled_copurchase_edges

    sampled = sampled_copurchase_edges(spark, sf_dir)
    return neighborhood_jaccard(sampled, max_hub_degree=_JACCARD_HUB_CAP)


# ---------------------------------------------------------------------------
# CUSUM change points (operators/trend.py::cusum_change_points) over the
# daily per-event-type value series (30 calendar steps). value is cast to
# DECIMAL BEFORE the pivoting conditional sum — the operator's documented
# exact-input requirement (double sums are partition-order-dependent).
# The oracle is GENERATED by the operator's own paired generator (identical
# left-fold chains and max(0,·) recurrence shapes), wrapped to rename the
# generator's key column.
# ---------------------------------------------------------------------------

_CUSUM_STEPS = [f"{d:02d}" for d in range(1, 31)]


def _cusum_oracle() -> str:
    from ..operators.trend import cusum_oracle_sql

    inner = cusum_oracle_sql(
        "SELECT event_type, strftime(ts, '%d') AS step, "
        "CAST(round(value, 2) AS DECIMAL(12,2)) AS val FROM events",
        "event_type",
        "step",
        "val",
        _CUSUM_STEPS,
        k=0.5,
        h=4.0,
    )
    return (
        "SELECT k AS event_type, step, x, z, cusum_pos, cusum_neg, is_change "
        f"FROM ({inner}) AS gen"
    )


@register("cusum_event_value_shifts", oracle=_cusum_oracle(), tags=("A11", "trend"))
def cusum_event_value_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import cusum_change_points

    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "dd").alias("step"),
        F.round("value", 2).cast("decimal(12,2)").alias("val"),
    )
    return cusum_change_points(
        base, ["event_type"], "step", "val", _CUSUM_STEPS, k=0.5, h=4.0
    )


# ---------------------------------------------------------------------------
# txnlog column defaults through the value gate (sources/txnlog.py::
# add_column): slice 1 creates the table WITHOUT the column (existsDefault
# backfills it), slice 2 appends omitting it (fill-on-omit), slice 3 appends
# it explicitly with NULLs for half its rows (DEFAULT-on-NULL). One read
# answers for all three write paths.
# ---------------------------------------------------------------------------

_DEFAULTS_ORACLE = """
SELECT o_orderkey AS orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
       CASE WHEN o_orderkey % 4 = 2 AND o_orderkey % 8 = 2 THEN 'priority'
            ELSE 'unassigned' END AS segment
FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
"""


@register("txnlog_column_defaults", oracle=_DEFAULTS_ORACLE, tags=("S7", "M4"))
def txnlog_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    base_cols = [
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("price"),
    ]
    path = scratch_dir("txnlog_defaults", sf_dir)
    t = TxnLogTable(path, stat_cols=("orderkey",))
    t.create_or_replace(o.filter(F.col("o_orderkey") % 4 == 0).select(*base_cols))
    t.add_column(spark, "segment", "string", "'unassigned'")  # existsDefault
    t.append(o.filter(F.col("o_orderkey") % 4 == 1).select(*base_cols))  # omit
    t.append(  # explicit value on half the rows, NULL (→ DEFAULT) on the rest
        o.filter(F.col("o_orderkey") % 4 == 2).select(
            *base_cols,
            F.when(F.col("o_orderkey") % 8 == 2, F.lit("priority")).alias("segment"),
        )
    )
    return t.read(spark)


# ---------------------------------------------------------------------------
# Media header round-trip through the value gate: per-document PNG/GIF/JPEG
# container bytes are CONSTRUCTED from doc_id (pure column expressions —
# hex-assembled headers with per-row varying dimensions, JPEG with a
# variable-length APP0 and 0xFF fill padding), then PARSED back by
# media_header_profile (fixed-offset PNG/GIF, codegen) and
# jpeg_dimensions_scan (bounded Arrow-batched SOF walk). The oracle
# recomputes the expected (format, width, height, n_bytes) from the same
# generating formulas — cross-engine equality proves parse ∘ construct =
# identity on real container layouts.
# ---------------------------------------------------------------------------

_MEDIA_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 3 AS f,
         doc_id % 500 + 1 AS w, (doc_id * 7) % 300 + 1 AS h,
         doc_id % 13 AS pad,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS fill,
         doc_id % 5 = 4 AS corrupt
  FROM documents
)
SELECT media_id,
       CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS fmt,
       CASE WHEN corrupt THEN NULL ELSE CAST(w AS BIGINT) END AS width,
       CASE WHEN corrupt THEN NULL ELSE CAST(h AS BIGINT) END AS height,
       CAST(CASE WHEN corrupt THEN (CASE f WHEN 0 THEN 8 WHEN 1 THEN 7
                                         ELSE 14 + pad END)
                 ELSE (CASE f WHEN 0 THEN 29 WHEN 1 THEN 13
                             ELSE 35 + pad + fill END) END AS BIGINT) AS n_bytes,
       NOT corrupt AS header_ok
FROM m
"""


@register("media_header_dimensions", oracle=_MEDIA_ORACLE, tags=("LLM", "multimodal"))
def media_header_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.multimodal import jpeg_dimensions_scan, media_header_profile

    d = F.col("media_id")
    w = (d % 500 + 1).cast("int")
    h = ((d * 7) % 300 + 1).cast("int")
    pad = (d % 13).cast("int")

    def be32(c):
        return F.lpad(F.hex(c), 8, "0")

    def be16(c):
        return F.lpad(F.hex(c), 4, "0")

    def le16(c):
        b = be16(c)
        return F.concat(F.substring(b, 3, 2), F.substring(b, 1, 2))

    png_hex = F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D49484452"),  # magic + IHDR head
        be32(w),
        be32(h),
        F.lit("0806000000"),  # bit depth / color type / tail
    )
    gif_hex = F.concat(F.lit("474946383961"), le16(w), le16(h), F.lit("000000"))
    fill = F.when(d % 2 == 0, F.lit("FF")).otherwise(F.lit(""))  # spec-legal pad
    jpeg_hex = F.concat(
        F.lit("FFD8FFE0"),  # SOI + APP0 marker
        be16(pad + F.lit(10)),  # APP0 length (varies: SOF floats)
        F.repeat(F.lit("00"), pad + F.lit(8)),
        fill,
        F.lit("FFC0" + "0011" + "08"),  # SOF0, len 17, precision 8
        be16(h),
        be16(w),
        F.lit("03" + "00" * 9 + "FFD9"),  # 3 components + EOI
    )
    # every fifth id is CORRUPT — sniffable magic, truncated before the
    # dimension bytes (png/gif) or before the SOF segment (jpeg): the
    # header_ok verdict and the NULL-dim paths go through the value gate
    # instead of riding along as constants
    corrupt = d % 5 == 4
    png_full = F.when(corrupt, F.lit("89504E470D0A1A0A")).otherwise(png_hex)
    gif_full = F.when(corrupt, F.lit("47494638396114")).otherwise(gif_hex)
    jpeg_trunc = F.concat(
        F.lit("FFD8FFE0"), be16(pad + F.lit(10)), F.repeat(F.lit("00"), pad + F.lit(8))
    )
    jpeg_full = F.when(corrupt, jpeg_trunc).otherwise(jpeg_hex)
    media = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .select(
            "media_id",
            F.unhex(
                F.when(d % 3 == 0, png_full).when(d % 3 == 1, gif_full).otherwise(jpeg_full)
            ).alias("payload"),
        )
    )
    prof = media_header_profile(media)
    jdims = jpeg_dimensions_scan(media.filter(d % 3 == 2)).select(
        "media_id", F.col("width").alias("jw"), F.col("height").alias("jh")
    )
    return prof.join(jdims, "media_id", "left").select(
        "media_id",
        F.col("sniffed_format").alias("fmt"),
        F.coalesce(F.col("width"), F.col("jw").cast("long")).alias("width"),
        F.coalesce(F.col("height"), F.col("jh").cast("long")).alias("height"),
        "n_bytes",
        F.coalesce(F.col("header_ok"), F.col("jw").isNotNull()).alias("header_ok"),
    )


# ---------------------------------------------------------------------------
# BPE train→encode composition (llmprep/bpe.py): learn 3 merges on the
# corpus (one bounded 1-row collect per round), then ENCODE the same corpus
# through the JVM replace-chain regime — the tokens every downstream packing
# plan and context-length filter consumes. The oracle replays the SAME
# training unroll (identical winner selection + sentinel replace — see
# queries/llmprep.py::_bpe_oracle) and reads the encoded state directly:
# encode(train(corpus)) must equal training's final corpus state.
# ---------------------------------------------------------------------------

_BPE_ENCODE_ROUNDS = 3
_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


def _bpe_encode_oracle(rounds: int = _BPE_ENCODE_ROUNDS) -> str:
    parts = [
        f"""WITH d0 AS (
  SELECT doc_id,
         CHR(31) || array_to_string(list_filter({_TOKS}, x -> x <> ''), CHR(31)) || CHR(31) AS s
  FROM documents
  WHERE len(list_filter({_TOKS}, x -> x <> '')) > 0
)"""
    ]
    prev = "d0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
a{r} AS (
  SELECT doc_id, s,
         list_slice(string_split(s, CHR(31)), 2, len(string_split(s, CHR(31))) - 1) AS a
  FROM {prev}
), i{r} AS (
  SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM a{r} WHERE len(a) >= 2
), c{r} AS (
  SELECT a[i] AS w1, a[i+1] AS w2, CAST(count(*) AS BIGINT) AS tf
  FROM i{r} GROUP BY 1, 2
), win{r} AS (
  SELECT w1, w2 FROM c{r} ORDER BY tf DESC, w1 ASC, w2 ASC LIMIT 1
), d{r} AS (
  SELECT t.doc_id,
         replace(t.s, CHR(31) || w.w1 || CHR(31) || w.w2 || CHR(31),
                      CHR(31) || w.w1 || ' ' || w.w2 || CHR(31)) AS s
  FROM a{r} t CROSS JOIN win{r} w
)"""
        )
        prev = f"d{r}"
    parts.append(
        f""",
enc AS (
  SELECT doc_id,
         list_slice(string_split(s, CHR(31)), 2, len(string_split(s, CHR(31))) - 1) AS a
  FROM d{rounds}
)
SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens, array_to_string(a, '|') AS toks
FROM enc"""
    )
    return "".join(parts)


@register(
    "bpe_encode_corpus", oracle=_bpe_encode_oracle(), tags=("LLM", "curation", "iterative")
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.bpe import bpe_encode, bpe_learn_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_learn_merges(docs, rounds=_BPE_ENCODE_ROUNDS)
    enc = bpe_encode(docs, merges)  # 3 merges → JVM replace-chain regime
    return enc.select(
        "doc_id", "n_tokens", F.array_join("tokens", "|").alias("toks")
    )
