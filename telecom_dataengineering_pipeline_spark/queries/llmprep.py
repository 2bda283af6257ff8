"""Training-data pipeline queries over ``documents`` / ``embeddings``
(BASELINE.json north-star operators): text analysis, dedup family,
similarity search. Backed by ``telecom_dataengineering_pipeline_spark/llmprep/``.

Oracle notes: DuckDB regexp_replace needs the 'g' flag to match Spark's
global-by-default behavior; shingling/hashing uses the engine-neutral
md5-derived 32-bit hash (see llmprep/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llmprep.dedup import (
    exact_dup_groups,
    jaccard_pairs,
    minhash_near_dup_pairs,
    simhash_fingerprints,
)
from ..llmprep.similarity import bucketed_ann_topk, cosine_topk, sign_lsh_buckets
from ..llmprep.text import LANG_MARKERS, langid_votes, quality_metrics, tokens
from ..sources.catalog import load_table
from .registry import register

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# ---------------------------------------------------------------------------
# Text quality scoring (length / stopword / repetition features).
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents
)
SELECT doc_id, lang,
  CAST(length(text) AS BIGINT) AS char_count,
  CAST(len(toks) AS BIGINT)    AS token_count,
  round(CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) AS DOUBLE) / len(toks), 4) AS avg_word_len,
  round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        / greatest(len(toks), 1), 4) AS stopword_ratio,
  round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 4) AS distinct_token_ratio,
  round((
    (CASE WHEN len(toks) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
    + (CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
            / greatest(len(toks), 1) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END)
    + (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) >= 0.3 THEN 1.0 ELSE 0.0 END)
  ) / 3.0, 4) AS quality_score
FROM t
"""


@register("text_quality_scores", oracle=_QUALITY_ORACLE, tags=("LLM", "text"), bench=True)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = quality_metrics("text")
    return docs.select(
        "doc_id",
        "lang",
        m["char_count"].alias("char_count"),
        m["token_count"].alias("token_count"),
        m["avg_word_len"].alias("avg_word_len"),
        m["stopword_ratio"].alias("stopword_ratio"),
        m["distinct_token_ratio"].alias("distinct_token_ratio"),
        m["quality_score"].alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: marker-token votes, argmax with fixed preference
# order. (The driver's synthetic docs share one vocabulary, so votes are a
# real exercise even when labels are arbitrary.)
# ---------------------------------------------------------------------------


def _langid_oracle() -> str:
    vote_cols = []
    for lang, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        vote_cols.append(
            f"CAST(len(list_filter(toks, x -> x IN ({inlist}))) AS BIGINT) AS v_{lang}"
        )
    votes = ",\n  ".join(vote_cols)
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
v AS (SELECT doc_id, lang,
  {votes}
FROM t)
SELECT doc_id, lang AS labeled_lang, v_en, v_es, v_de, v_fr, v_zh,
  CASE
    WHEN v_en >= greatest(v_es, v_de, v_fr, v_zh) THEN 'en'
    WHEN v_es >= greatest(v_de, v_fr, v_zh) THEN 'es'
    WHEN v_de >= greatest(v_fr, v_zh) THEN 'de'
    WHEN v_fr >= v_zh THEN 'fr'
    ELSE 'zh'
  END AS predicted_lang,
  (CASE
    WHEN v_en >= greatest(v_es, v_de, v_fr, v_zh) THEN 'en'
    WHEN v_es >= greatest(v_de, v_fr, v_zh) THEN 'es'
    WHEN v_de >= greatest(v_fr, v_zh) THEN 'de'
    WHEN v_fr >= v_zh THEN 'fr'
    ELSE 'zh'
  END = lang) AS is_match
FROM v
"""


@register("text_langid_heuristic", oracle=_langid_oracle(), tags=("LLM", "text"))
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.text import predicted_lang

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    votes = langid_votes(toks)
    predicted = predicted_lang(toks)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[v.cast("long").alias(f"v_{lang}") for lang, v in votes.items()],
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("is_match"),
    )


# ---------------------------------------------------------------------------
# Exact dedup: normalized-fingerprint groups (pass-through check; the driver
# corpus has no exact dups, so an empty result is the correct answer).
# ---------------------------------------------------------------------------

_EXACT_DUP_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM fp GROUP BY 1 HAVING count(*) > 1
"""


@register("dedup_exact_groups", oracle=_EXACT_DUP_ORACLE, tags=("LLM", "dedup"))
def dedup_exact_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Near-dup #1: exact 3-gram Jaccard (the ground-truth oracle).
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents
), ex AS (SELECT doc_id, unnest(s) AS g FROM sets),
sz AS (SELECT doc_id, len(s) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
"""

# Same semantics as jaccard_pairs(max_df=1000): shingles with document
# frequency above the cap leave the universe entirely (numerator AND
# denominator), so both engines compute the identical capped similarity.
_JACCARD_CAPPED_ORACLE = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents
), ex0 AS (SELECT doc_id, unnest(s) AS g FROM sets),
kept AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 1000),
ex AS (SELECT doc_id, g FROM ex0 WHERE g IN (SELECT g FROM kept)),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
"""


@register("dedup_jaccard_pairs", oracle=_JACCARD_CAPPED_ORACLE, tags=("LLM", "dedup"), bench=True)
def dedup_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5, max_df=1000)


# ---------------------------------------------------------------------------
# Near-dup #2: MinHash + LSH (the 100 TB path). Oracle = exact Jaccard —
# valid because every true pair in this corpus sits far above the threshold,
# where 64-perm/16-band LSH recall is ~1; candidates are exact-verified.
# ---------------------------------------------------------------------------


@register("dedup_minhash_lsh_pairs", oracle=_JACCARD_ORACLE, tags=("LLM", "dedup"), bench=True)
def dedup_minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash mode is a session conf: engine-neutral md5 by default (what the
    # DuckDB oracle reproduces — correctness runs never change it);
    # production/bench runs may set it false for the xxhash64 fast spine.
    neutral = (
        spark.conf.get("spark.graft.engine_neutral_hash", "true").lower() != "false"
    )
    return minhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"),
        num_perm=64,
        bands=16,
        threshold=0.5,
        engine_neutral_hash=neutral,
    )


# ---------------------------------------------------------------------------
# Near-dup #3: SimHash fingerprints (32-bit, engine-neutral md5-derived).
# ---------------------------------------------------------------------------


def _simhash_oracle(bits: int = 32) -> str:
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS bit_{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN bit_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM ex
), bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       CAST({fp} AS BIGINT) AS simhash,
       CAST(({fp}) % 4096 AS BIGINT) AS bucket
FROM bits
"""


@register("dedup_simhash_fingerprints", oracle=_simhash_oracle(), tags=("LLM", "dedup"))
def dedup_simhash_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search: brute-force exact cosine top-k (baseline) and
# sign-LSH-bucketed approximate variant (scale path).
# ---------------------------------------------------------------------------

_KNN_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10
), s AS (
  SELECT q.query_id, n.vec_id,
         round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS cosine
  FROM q JOIN n ON n.vec_id <> q.query_id
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, vec_id AS neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("knn_cosine_bruteforce", oracle=_KNN_ORACLE, tags=("LLM", "similarity"), bench=True)
def knn_cosine_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_ids=list(range(10)), k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


_BUCKET_ORACLE = """
SELECT list_aggregate(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                      'string_agg', '') AS bucket,
       count(*) AS n_vectors,
       min(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
"""


@register("embedding_lsh_bucket_profile", oracle=_BUCKET_ORACLE, tags=("LLM", "similarity"))
def embedding_lsh_bucket_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        sign_lsh_buckets(emb, bits=8)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


_ANN_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_aggregate(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                        'string_agg', '') AS bucket
  FROM embeddings
), n AS (
  SELECT vec_id, v, bucket, sqrt(list_dot_product(v, v)) AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket FROM n WHERE vec_id < 10
), s AS (
  SELECT q.query_id, n.vec_id,
         round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS cosine
  FROM q JOIN n ON n.bucket = q.qbucket AND n.vec_id <> q.query_id
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, vec_id AS neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_bucketed_topk", oracle=_ANN_ORACLE, tags=("LLM", "similarity"))
def ann_bucketed_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return bucketed_ann_topk(emb, query_ids=list(range(10)), k=5, bits=8).withColumn(
        "rank", F.col("rank").cast("int")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload + metadata struct + mapInPandas
# feature extraction (llmprep/multimodal.py). The payload is synthesized
# deterministically from document text, so byte-level features are
# oracle-checkable (DuckDB computes them from the text directly). crc32 has
# no DuckDB equivalent — covered by tests/test_multimodal.py instead.
# ---------------------------------------------------------------------------

_MEDIA_ORACLE = """
SELECT doc_id AS media_id,
       'image' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum_md5,
       CAST(octet_length(encode(text)) % 64 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) % 48 AS INTEGER) AS height
FROM documents
"""


@register("multimodal_feature_extract", oracle=_MEDIA_ORACLE, tags=("LLM", "multimodal"))
def multimodal_feature_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.multimodal import extract_features, synthesize_media_table

    media = synthesize_media_table(load_table(spark, sf_dir, "documents"))
    return extract_features(media, fake_decode=True).drop("crc32")


# ---------------------------------------------------------------------------
# IVF-style ANN: deterministic coarse centroids (every 100th vector), assign
# to max-cosine cell, rank within the query's cell (nprobe=1).
# ---------------------------------------------------------------------------

_IVF_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id % 100 = 0
), scored AS (
  SELECT n.vec_id, n.v, n.nrm, cent.cid,
         list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn) AS c_cos
  FROM n CROSS JOIN cent
), assigned AS (
  SELECT vec_id, v, nrm, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cid ASC) AS _rn
    FROM scored
  ) WHERE _rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell AS qcell
  FROM assigned WHERE vec_id < 10
), s AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(q.qv, a.v) / (q.qn * a.nrm), 6) AS cosine
  FROM q JOIN assigned a ON a.cell = q.qcell AND a.vec_id <> q.query_id
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, vec_id AS neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_ivf_topk", oracle=_IVF_ORACLE, tags=("LLM", "similarity"))
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_ids=list(range(10)), k=5, centroid_mod=100).withColumn(
        "rank", F.col("rank").cast("int")
    )


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex classes) and a polynomial
# rolling-hash document fingerprint — both as pure fold/regex expressions,
# exact in both engines (mod 2^31-1 keeps the fold in safe int64 range).
# ---------------------------------------------------------------------------

_TOKEN_COUNT_ORACLE = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', '', 'g') AS norm
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_token_count,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_token_count,
  round(CAST(length(text) AS DOUBLE) / greatest(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')), 1), 4) AS chars_per_bpeish_token,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT) AS rolling_fingerprint
FROM t
"""


@register("text_token_counts", oracle=_TOKEN_COUNT_ORACLE, tags=("LLM", "text"))
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", ""
    )
    bpeish = F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)")
    rolling = F.aggregate(
        F.split(norm, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(2147483647),
    )
    return docs.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).cast("long").alias("ws_token_count"),
        F.size(bpeish).cast("long").alias("bpeish_token_count"),
        F.round(F.length("text").cast("double") / F.greatest(F.size(bpeish), F.lit(1)), 4).alias(
            "chars_per_bpeish_token"
        ),
        rolling.cast("long").alias("rolling_fingerprint"),
    )


# ---------------------------------------------------------------------------
# Near-dup #5: embedding-cosine over hashed-TF vectors. Spark runs the
# LSH-bucketed pipeline (random-hyperplane bands → candidate equi-join →
# exact cosine on candidates); the oracle computes EXACT all-pairs cosine —
# valid for the same reason as MinHash: true pairs sit at cosine ≈ 1 where
# 24-plane/6-band recall is ~1, and candidates are exact-verified.
# ---------------------------------------------------------------------------

_COS_DUP_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents
), dims AS (
  SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8))::BIGINT % 64 AS INTEGER) AS dim,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM toks WHERE tok <> '' GROUP BY 1, 2
), maps AS (
  SELECT doc_id, map_from_entries(list(struct_pack(k := dim, v := cnt))) AS m
  FROM dims GROUP BY doc_id
), vecs AS (
  SELECT doc_id, list_transform(range(0, 64), d -> coalesce(map_extract(m, d)[1], 0.0)) AS v
  FROM maps
), n AS (
  SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vecs
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.doc_id < b.doc_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.98
"""


@register("dedup_embedding_cosine", oracle=_COS_DUP_ORACLE, tags=("LLM", "dedup"), bench=True)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.dedup import cosine_dup_pairs

    return cosine_dup_pairs(load_table(spark, sf_dir, "documents"), threshold=0.98)


# ---------------------------------------------------------------------------
# Document chunking: fixed-size token windows with overlap (chunk 100,
# stride 80) — a pure map stage (no shuffle anywhere in the plan).
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(list_filter(toks, x -> x <> '')) AS n_tok FROM base
), starts AS (
  SELECT doc_id, toks, n_tok, unnest(range(0, n_tok, 80)) AS start
  FROM sized WHERE n_tok > 0
)
SELECT doc_id,
       CAST(start / 80 AS INTEGER) AS chunk_idx,
       least(100, n_tok - start) AS n_tokens,
       md5(array_to_string(list_slice(toks, start + 1, least(start + 100, n_tok)), ' ')) AS chunk_md5
FROM starts
"""


@register("doc_chunking", oracle=_CHUNK_ORACLE, tags=("LLM", "chunking"))
def doc_chunking_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.chunking import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=100, stride=80
    ).withColumn("n_tokens", F.col("n_tokens").cast("long"))


# ---------------------------------------------------------------------------
# Deterministic dataset split + per-language stratified sample: membership
# is a pure function of md5(salt || id) — stable across runs, engines, and
# cluster sizes (rand() is none of those).
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id, lang,
         CAST(('0x'||substr(md5('split_v1_' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS INTEGER) AS split_bucket,
         ('0x'||substr(md5('sample_v1_' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS sh
  FROM documents
), r AS (
  SELECT doc_id, lang, split_bucket,
         CASE WHEN split_bucket < 90 THEN 'train'
              WHEN split_bucket < 95 THEN 'val' ELSE 'test' END AS split,
         row_number() OVER (PARTITION BY lang ORDER BY sh ASC, doc_id ASC) AS rn
  FROM b
)
SELECT doc_id, lang, split_bucket, split, rn <= 25 AS sampled FROM r
"""


@register("dataset_split_assignments", oracle=_SPLIT_ORACLE, tags=("LLM", "sampling"))
def dataset_split_assignments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.sampling import split_assign, stratified_sample_flag

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample_flag(split_assign(docs), stratum_col="lang", k=25)


# ---------------------------------------------------------------------------
# The whole llmprep layer composed: exact dedup → near-dup removal (MinHash
# on the Spark side, ground-truth exact Jaccard in the oracle — equivalence
# separately gate-proven) → quality floor → chunking → deterministic split →
# per-(split, language) corpus stats. One query = the full training-set
# build at 100 TB shape: two keyed exchanges (fingerprint window, final
# rollup) + the MinHash banded joins; every other stage is a pure map.
# ---------------------------------------------------------------------------

_TRAINING_SET_ORACLE = f"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS f
  FROM documents
), canon AS (
  SELECT doc_id FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS c FROM fp) WHERE doc_id = c
), sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents
), ex AS (SELECT doc_id, unnest(s) AS g FROM sets),
sz AS (SELECT doc_id, len(s) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), drop2 AS (
  SELECT DISTINCT doc2 AS doc_id
  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
), t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), q AS (
  SELECT doc_id,
    round((
      (CASE WHEN len(toks) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
              / greatest(len(toks), 1) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) >= 0.3 THEN 1.0 ELSE 0.0 END)
    ) / 3.0, 4) AS quality_score
  FROM t
), votes AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS v_en,
    len(list_filter(toks, x -> x IN ('el','la','de','que','y'))) AS v_es,
    len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS v_de,
    len(list_filter(toks, x -> x IN ('le','la','de','et','est'))) AS v_fr,
    len(list_filter(toks, x -> x IN ('的','是','了','在','我'))) AS v_zh
  FROM t
), lp AS (
  SELECT doc_id,
    CASE WHEN v_en >= greatest(v_es, v_de, v_fr, v_zh) THEN 'en'
         WHEN v_es >= greatest(v_de, v_fr, v_zh) THEN 'es'
         WHEN v_de >= greatest(v_fr, v_zh) THEN 'de'
         WHEN v_fr >= v_zh THEN 'fr' ELSE 'zh' END AS pred_lang
  FROM votes
), surv AS (
  SELECT c.doc_id, lp.pred_lang
  FROM canon c
  JOIN q ON q.doc_id = c.doc_id
  JOIN lp ON lp.doc_id = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM drop2) AND q.quality_score >= 0.6
), nt AS (
  SELECT s.doc_id, s.pred_lang, len(list_filter(t.toks, x -> x <> '')) AS n_tok
  FROM surv s JOIN t ON t.doc_id = s.doc_id
), chunks AS (
  SELECT doc_id, pred_lang, n_tok, unnest(range(0, n_tok, 80)) AS start
  FROM nt WHERE n_tok > 0
), cd AS (
  SELECT doc_id, pred_lang,
         count(*) AS n_chunks,
         sum(least(100, n_tok - start)) AS n_tokens
  FROM chunks GROUP BY 1, 2
), sp AS (
  SELECT doc_id,
    CASE WHEN CAST(('0x'||substr(md5('split_v1_' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS INTEGER) < 90 THEN 'train'
         WHEN CAST(('0x'||substr(md5('split_v1_' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS INTEGER) < 95 THEN 'val'
         ELSE 'test' END AS split
  FROM surv
)
SELECT sp.split, cd.pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(cd.n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(cd.n_tokens) AS BIGINT) AS n_tokens
FROM cd JOIN sp ON sp.doc_id = cd.doc_id
GROUP BY 1, 2
"""


@register("training_set_summary", oracle=_TRAINING_SET_ORACLE, tags=("LLM", "pipeline"), bench=True)
def training_set_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.pipeline import training_set_summary

    neutral = (
        spark.conf.get("spark.graft.engine_neutral_hash", "true").lower() != "false"
    )
    return training_set_summary(
        load_table(spark, sf_dir, "documents"), engine_neutral_hash=neutral
    )


# ---------------------------------------------------------------------------
# Multi-probe IVF (nprobe=2): the standard recall knob — candidates come
# from the query's two nearest cells; the equi-join shape is unchanged.
# ---------------------------------------------------------------------------

_IVF_NPROBE_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id % 100 = 0
), scored AS (
  SELECT n.vec_id, n.v, n.nrm, cent.cid,
         list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn) AS c_cos
  FROM n CROSS JOIN cent
), assigned AS (
  SELECT vec_id, v, nrm, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cid ASC) AS _rn
    FROM scored
  ) WHERE _rn = 1
), probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid AS probe_cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cid ASC) AS _rn
    FROM scored WHERE vec_id < 10
  ) WHERE _rn <= 2
), s AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(p.qv, a.v) / (p.qn * a.nrm), 6) AS cosine
  FROM probes p JOIN assigned a ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, vec_id AS neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_ivf_nprobe_topk", oracle=_IVF_NPROBE_ORACLE, tags=("LLM", "similarity"))
def ann_ivf_nprobe_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import ivf_topk_multiprobe

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_multiprobe(
        emb, query_ids=list(range(10)), k=5, centroid_mod=100, nprobe=2
    ).withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# Transitive dup groups: connected components over the near-dup pair graph.
# Spark runs large-star/small-star rounds (O(log n) rounds, labels never
# collect); the oracle computes the same closure with a recursive CTE over
# the ground-truth exact-Jaccard pairs.
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents
), ex AS (SELECT doc_id, unnest(s) AS g FROM sets),
sz AS (SELECT doc_id, len(s) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc1, doc2
  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
), edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs
), walk AS (
  WITH RECURSIVE w(doc_id, label) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, w.label FROM w JOIN edges e ON e.a = w.doc_id
  )
  SELECT doc_id, label FROM w
)
SELECT doc_id, min(label) AS group_id FROM walk GROUP BY doc_id
"""


@register("dedup_connected_groups", oracle=_CC_ORACLE, tags=("LLM", "dedup", "iterative"))
def dedup_connected_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.dedup import connected_dup_groups

    pairs = minhash_near_dup_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)
    return connected_dup_groups(pairs)


@register("dedup_connected_groups_star", oracle=_CC_ORACLE, tags=("LLM", "dedup", "iterative"))
def dedup_connected_groups_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same transitive dup groups as ``dedup_connected_groups``: both
    names run ``connected_dup_groups`` and share one oracle."""
    from ..llmprep.dedup import connected_dup_groups

    pairs = minhash_near_dup_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)
    return connected_dup_groups(pairs)


# ---------------------------------------------------------------------------
# Curation tier: decontamination, sequence packing, repetition quality,
# vocabulary stats (llmprep/curation.py).
# ---------------------------------------------------------------------------

_SPLIT_BUCKET = "('0x'||substr(md5('split_v1_'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100"

_DECON_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, text,
         CASE WHEN {_SPLIT_BUCKET} < 90 THEN 'train'
              WHEN {_SPLIT_BUCKET} < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), sets AS (
  SELECT doc_id, split,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM assigned
), ex AS (SELECT doc_id, split, unnest(s) AS g FROM sets),
train_set AS (SELECT DISTINCT g FROM ex WHERE split = 'train'),
ev AS (SELECT doc_id, split, g FROM ex WHERE split <> 'train')
SELECT ev.doc_id, ev.split,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(t.g) AS BIGINT) AS n_contaminated,
       round(CAST(count(t.g) AS DOUBLE) / count(*), 6) AS contamination_ratio
FROM ev LEFT JOIN train_set t ON ev.g = t.g
GROUP BY 1, 2
"""


@register("decontamination_check", oracle=_DECON_ORACLE, tags=("LLM", "curation"))
def decontamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-split documents whose n-grams leak from the train split —
    the pre-release benchmark-contamination audit."""
    from ..llmprep.curation import decontamination_overlap

    out = decontamination_overlap(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "split",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        "contamination_ratio",
    )


_PACK_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sized AS (
  SELECT doc_id, len(list_filter(toks, x -> x <> '')) AS n_tok FROM base
), starts AS (
  SELECT doc_id, unnest(range(0, n_tok, 80)) AS start, n_tok
  FROM sized WHERE n_tok > 0
), chunks AS (
  SELECT doc_id,
         CAST(start / 80 AS INTEGER) AS chunk_idx,
         least(100, n_tok - start) AS n_tokens,
         ('0x'||substr(md5('pack_v1_'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 16 AS pack_group
  FROM starts
), cum AS (
  SELECT pack_group, doc_id, chunk_idx, n_tokens,
         sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id, chunk_idx
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM chunks
)
SELECT CAST(pack_group AS INTEGER) AS pack_group,
       CAST(floor((c - n_tokens) / 512.0) AS INTEGER) AS seq_idx,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc_id,
       max(doc_id) AS last_doc_id
FROM cum GROUP BY 1, 2
"""


@register("sequence_packing_stats", oracle=_PACK_ORACLE, tags=("LLM", "curation"))
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunks → fixed-token context windows (the batch-building step),
    packed in parallel salted groups; per-sequence fill statistics."""
    from ..llmprep.chunking import chunk_documents
    from ..llmprep.curation import pack_sequences

    chunks = chunk_documents(load_table(spark, sf_dir, "documents"))
    return pack_sequences(chunks.drop("chunk_md5"), context_len=512, n_groups=16)


_REP_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS g
  FROM documents
), per AS (
  SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_shingles,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round((CAST(sum(cnt) AS DOUBLE) - count(*)) / sum(cnt), 6) AS dup_ngram_ratio,
       round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_ngram_share
FROM per GROUP BY doc_id
"""


@register("text_repetition_metrics", oracle=_REP_ORACLE, tags=("LLM", "curation"))
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals."""
    from ..llmprep.curation import repetition_metrics

    return repetition_metrics(load_table(spark, sf_dir, "documents"))


_VOCAB_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
)
SELECT tok, CAST(count(*) AS BIGINT) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM ex WHERE tok <> ''
GROUP BY tok ORDER BY tf DESC, tok ASC LIMIT 100
"""


@register("vocab_topk", oracle=_VOCAB_ORACLE, tags=("LLM", "curation"))
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by frequency with document
    frequency (IDF feed / stopword discovery)."""
    from ..llmprep.curation import vocab_stats

    return vocab_stats(load_table(spark, sf_dir, "documents"), k=100)


_TFIDF_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM ex WHERE tok <> '' GROUP BY 1, 2
), df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)), 6) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, tf, df, tfidf
FROM ranked WHERE rank <= 5
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("LLM", "curation"))
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed tf-idf."""
    from ..llmprep.curation import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


_MIX_ORACLE = f"""
WITH per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
  round(sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER (), 6) AS mix_weight,
  round(1000000 * (sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER ()) / n_tokens, 6)
    AS epochs_at_budget
FROM per_source
"""


@register("source_mixing_weights", oracle=_MIX_ORACLE, tags=("LLM", "curation"))
def source_mixing_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled (α=0.5) per-source mixing weights + implied
    epochs at a 1M-token budget."""
    from ..llmprep.curation import source_mixing_weights

    return source_mixing_weights(load_table(spark, sf_dir, "documents"))


def _funnel_oracle() -> str:
    langid_case = """CASE
      WHEN v_en >= greatest(v_es, v_de, v_fr, v_zh) THEN 'en'
      WHEN v_es >= greatest(v_de, v_fr, v_zh) THEN 'es'
      WHEN v_de >= greatest(v_fr, v_zh) THEN 'de'
      WHEN v_fr >= v_zh THEN 'fr'
      ELSE 'zh'
    END"""
    vote_cols = ",\n  ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)}))) AS v_{lang}"
        for lang, markers in LANG_MARKERS.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, n_chars, {_TOKS} AS toks FROM documents
), v AS (
  SELECT doc_id, lang, n_chars, toks,
  {vote_cols}
  FROM t
), ff AS (
  SELECT CASE
    WHEN NOT (n_chars BETWEEN 100 AND 500) THEN 0
    WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 1
    WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) < 0.3 THEN 2
    WHEN ({langid_case}) <> lang THEN 3
    ELSE 4 END AS stage_idx
  FROM v
), drops AS (
  SELECT stage_idx, CAST(count(*) AS BIGINT) AS n_dropped
  FROM ff WHERE stage_idx < 4 GROUP BY stage_idx
), stages(stage_idx, stage) AS (
  VALUES (0, 'length'), (1, 'lang_allowed'), (2, 'repetition'), (3, 'langid_agree')
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
SELECT CAST(s.stage_idx AS INTEGER) AS stage_idx, s.stage,
  CAST(n_total - coalesce(sum(coalesce(d.n_dropped, 0)) OVER (
    ORDER BY s.stage_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    AS BIGINT) AS n_in,
  CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
  CAST(n_total - coalesce(sum(coalesce(d.n_dropped, 0)) OVER (
    ORDER BY s.stage_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    - coalesce(d.n_dropped, 0) AS BIGINT) AS n_out
FROM stages s LEFT JOIN drops d USING (stage_idx) CROSS JOIN tot
"""


@register("curation_filter_funnel", oracle=_funnel_oracle(), tags=("LLM", "curation"))
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-gate funnel (length → allowed lang → repetition →
    lang-ID agreement) with first-fail drop attribution."""
    from ..llmprep.curation import filter_funnel

    return filter_funnel(load_table(spark, sf_dir, "documents"))


_KEEPBEST_ORACLE = f"""
WITH groups AS ({_CC_ORACLE}),
labeled AS (
  SELECT d.doc_id, d.n_chars, coalesce(g.group_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY group_id ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM labeled
), stats AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS n_members
  FROM labeled GROUP BY group_id
)
SELECT r.group_id, CAST(r.doc_id AS BIGINT) AS rep_doc_id,
       CAST(r.n_chars AS BIGINT) AS rep_chars, s.n_members
FROM ranked r JOIN stats s USING (group_id) WHERE rnk = 1
"""


@register("dedup_keep_best", oracle=_KEEPBEST_ORACLE, tags=("LLM", "dedup", "curation"))
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One surviving representative per transitive near-dup cluster
    (longest text, doc_id tie-break) — the keep-best step after grouping."""
    from ..llmprep.curation import cluster_representatives
    from ..llmprep.dedup import connected_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    groups = connected_dup_groups(minhash_near_dup_pairs(docs, threshold=0.5))
    return cluster_representatives(docs, groups)


_SRC_OVERLAP_ORACLE = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents
), ex AS (SELECT doc_id, unnest(s) AS g FROM sets),
sz AS (SELECT doc_id, len(s) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc1, doc2
  FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_dup_pairs
FROM pairs
JOIN documents da ON pairs.doc1 = da.doc_id
JOIN documents db ON pairs.doc2 = db.doc_id
GROUP BY 1, 2
"""


@register("dedup_source_overlap", oracle=_SRC_OVERLAP_ORACLE, tags=("LLM", "dedup", "curation"))
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pair counts per unordered
    source pair — the which-feeds-rehost-each-other curation signal."""
    from ..llmprep.curation import source_overlap_matrix

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_matrix(docs, minhash_near_dup_pairs(docs, threshold=0.5))


_LOGPROB_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), fex AS (SELECT doc_id, tok FROM ex WHERE tok <> ''),
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM fex GROUP BY tok),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM tf),
scored AS (
  SELECT doc_id,
         CAST(round(ln(CAST(tf AS DOUBLE) / n_total), 9) AS DECIMAL(18,9)) AS logp
  FROM fex JOIN tf USING (tok) CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(sum(logp) / count(*) AS DOUBLE), 6) AS mean_logprob
FROM scored GROUP BY doc_id
"""


@register("text_unigram_logprob", oracle=_LOGPROB_ORACLE, tags=("LLM", "curation"))
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document (perplexity proxy);
    decimal-summed so the score is engine- and partitioning-exact."""
    from ..llmprep.curation import unigram_logprob_scores

    return unigram_logprob_scores(load_table(spark, sf_dir, "documents"))


def _kmeans_oracle(iters: int = 2, mod: int = 100, dims: int = 64) -> str:
    """Unrolled spherical-k-means oracle: assignment uses the proven
    list_dot_product fold; centroid means sum 7-dp DECIMALs (exact,
    order-independent) exactly like the Spark side."""
    assign = """
s{i} AS (
  SELECT n.vec_id, n.v, n.nrm, c.cid,
         list_dot_product(n.v, c.cv) / (n.nrm * c.cn) AS c_cos
  FROM n CROSS JOIN {cents} c
), a{i} AS (
  SELECT vec_id, v, nrm, cid AS cell, c_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cid ASC) AS _rn
    FROM s{i}
  ) WHERE _rn = 1
)"""
    update = """
x{i} AS (
  SELECT cell, t.i AS dim, v[t.i] AS val FROM a{i} CROSS JOIN generate_series(1, {dims}) t(i)
), u{i} AS (
  SELECT cell, dim,
         CAST(sum(CAST(round(val, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS c
  FROM x{i} GROUP BY cell, dim
), c{i} AS (
  SELECT cell AS cid, array_agg(c ORDER BY dim) AS cv FROM u{i} GROUP BY cell
), cn{i} AS (
  SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c{i}
)"""
    parts = [
        f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), c0 AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id % {mod} = 0
)"""
    ]
    cents = "c0"
    for i in range(1, iters + 1):
        parts.append(assign.format(i=i, cents=cents))
        parts.append(update.format(i=i, dims=dims))
        cents = f"cn{i}"
    final = iters + 1
    parts.append(assign.format(i=final, cents=cents))
    return (
        ",".join(parts)
        + f"\nSELECT vec_id, cell, round(c_cos, 6) AS centroid_cos FROM a{final}"
    )


@register("ann_ivf_kmeans_cells", oracle=_kmeans_oracle(), tags=("LLM", "similarity", "iterative"))
def ann_ivf_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cells from LEARNED centroids: 2 Lloyd rounds of spherical
    k-means over the embedding table (deterministic seeds, decimal-exact
    mean updates), emitting each vector's cell and centroid cosine."""
    from ..llmprep.similarity import ivf_kmeans_assign

    out = ivf_kmeans_assign(load_table(spark, sf_dir, "embeddings"), centroid_mod=100, iters=2)
    return out.select("vec_id", "cell", F.round(F.col("c_cos"), 6).alias("centroid_cos"))


_KMEANS_TOPK_ORACLE = (
    _kmeans_oracle().rsplit("SELECT", 1)[0]
    + """, q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell AS qcell
  FROM a3 WHERE vec_id < 10
), s AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(q.qv, a.v) / (q.qn * a.nrm), 6) AS cosine
  FROM q JOIN a3 a ON a.cell = q.qcell AND a.vec_id <> q.query_id
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, vec_id AS neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""
)


@register(
    "ann_ivf_kmeans_topk", oracle=_KMEANS_TOPK_ORACLE, tags=("LLM", "similarity", "iterative")
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 within the trained (2-round spherical-k-means) cells for
    query vectors 0-9 — the train-once / search-many quantizer path."""
    from ..llmprep.similarity import ivf_kmeans_topk

    return ivf_kmeans_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


_MANIFEST_BUCKET = "('0x'||substr(md5('sample_v1_'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 1000000"

_MANIFEST_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tok, {_MANIFEST_BUCKET} AS bucket
  FROM documents
), per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY source
), rates AS (
  SELECT source, n_docs,
         least(1.0, 10000 * (sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER ()) / n_tokens) AS rate
  FROM per_source
)
SELECT r.source, r.n_docs, round(r.rate, 6) AS rate,
       CAST(count(CASE WHEN d.bucket < r.rate * 1000000 THEN 1 END) AS BIGINT) AS n_sampled,
       CAST(coalesce(sum(CASE WHEN d.bucket < r.rate * 1000000 THEN d.n_tok END), 0) AS BIGINT)
         AS n_tokens_sampled
FROM per_doc d JOIN rates r USING (source)
GROUP BY r.source, r.n_docs, r.rate
"""


@register("corpus_sampling_manifest", oracle=_MANIFEST_ORACLE, tags=("LLM", "curation", "sampling"))
def corpus_sampling_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampled-corpus manifest: temperature mixing weights →
    per-source acceptance rates → salted-hash doc membership (re-run and
    engine stable, unlike rand()); per-source fill stats."""
    from ..llmprep.curation import sampling_manifest

    return sampling_manifest(load_table(spark, sf_dir, "documents"), token_budget=10_000)


_EFFECTIVE_ORACLE = f"""
WITH groups AS ({_CC_ORACLE}),
labeled AS (
  SELECT d.doc_id, d.n_chars, coalesce(g.group_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY group_id ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM labeled
), reps AS (SELECT doc_id FROM ranked WHERE rnk = 1)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(r.doc_id) AS BIGINT) AS n_kept,
  CAST(count(*) - count(r.doc_id) AS BIGINT) AS n_dropped,
  CAST(coalesce(sum(CASE WHEN r.doc_id IS NOT NULL THEN d.n_chars END), 0) AS BIGINT)
    AS chars_kept,
  CAST(coalesce(sum(CASE WHEN r.doc_id IS NULL THEN d.n_chars END), 0) AS BIGINT)
    AS chars_dropped
FROM documents d LEFT JOIN reps r ON d.doc_id = r.doc_id
GROUP BY d.source
"""


@register("dedup_effective_stats", oracle=_EFFECTIVE_ORACLE, tags=("LLM", "dedup", "curation"))
def dedup_effective_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc/char contribution after keep-best dedup — what
    near-dup collapse cost each feed."""
    from ..llmprep.curation import dedup_effective_stats
    from ..llmprep.dedup import connected_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    groups = connected_dup_groups(minhash_near_dup_pairs(docs, threshold=0.5))
    return dedup_effective_stats(docs, groups)


# ---------------------------------------------------------------------------
# PII detection + redaction. The synthetic corpus has no organic PII, so the
# query injects deterministic synthetic PII (emails/phones/IPs/SSN-shapes
# derived from doc_id) with identical expressions in BOTH engines, then
# detects and redacts — making the oracle exercise real matches, not just
# all-zeros. Patterns are RE2-compatible so Spark (Java regex) and DuckDB
# (RE2) agree; DuckDB regexp_replace needs the 'g' flag to match Spark's
# global default.
# ---------------------------------------------------------------------------

_PII_ORACLE = r"""
WITH inj AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    || CASE WHEN doc_id % 5 = 0
         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    AS t
  FROM documents
), red AS (
  SELECT doc_id, t,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
  FROM inj
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS INTEGER) AS n_ssn,
  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phone,
  md5(redacted) AS redacted_md5,
  CAST(length(redacted) AS BIGINT) AS redacted_chars
FROM red
"""


@register("pii_redaction_stats", oracle=_PII_ORACLE, tags=("LLM", "pii"))
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub pass over the corpus: per-type PII counts + md5/length of the
    redacted text. Pure map (regexp_count / chained regexp_replace), zero
    shuffle — runs at scan speed at any corpus size."""
    from ..llmprep.pii import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                (did % 254 + 1).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    t = docs.select("doc_id", injected.alias("t"))
    counts = pii_counts(F.col("t"))
    redacted = redact_pii(F.col("t"))
    return t.select(
        "doc_id",
        counts["email"].cast("int").alias("n_email"),
        counts["ipv4"].cast("int").alias("n_ipv4"),
        counts["ssn"].cast("int").alias("n_ssn"),
        counts["phone"].cast("int").alias("n_phone"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_chars"),
    )


# ---------------------------------------------------------------------------
# Duplicated-n-gram coverage (C4/substring-dedup signal): fraction of each
# document's 3-gram positions whose gram occurs >= 2 times corpus-wide.
# ---------------------------------------------------------------------------

_DUP_NGRAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(len(toks) - 2, 0)),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
  )) AS g
  FROM toks
),
hs AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h FROM grams),
cnt AS (SELECT h, count(*) AS c FROM hs GROUP BY 1),
tot AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY 1),
dup AS (
  SELECT hs.doc_id, count(*) AS nd
  FROM hs JOIN cnt ON hs.h = cnt.h
  WHERE cnt.c >= 2
  GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(t.n, 0) AS BIGINT) AS n_ngrams,
  CAST(coalesce(u.nd, 0) AS BIGINT) AS n_dup_ngrams,
  CASE WHEN coalesce(t.n, 0) > 0
       THEN round(CAST(coalesce(u.nd, 0) AS DOUBLE) / t.n, 6)
       ELSE 0.0 END AS dup_ngram_ratio
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN dup u ON d.doc_id = u.doc_id
"""


@register("duplicate_ngram_coverage", oracle=_DUP_NGRAM_ORACLE, tags=("LLM", "dedup"))
def duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-3-gram coverage — positioned shingle stream, one
    corpus-wide occurrence count, hash-join back; both shuffles linear in
    token count (see llmprep.dedup.dup_ngram_stats)."""
    from ..llmprep.dedup import dup_ngram_stats

    return dup_ngram_stats(load_table(spark, sf_dir, "documents"), n=3, min_count=2)


# ---------------------------------------------------------------------------
# Per-document quality rule battery (row-level twin of curation_filter_funnel).
# ---------------------------------------------------------------------------

_VERDICT_ORACLE = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
    len(toks) AS n_tok,
    CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) AS DOUBLE)
      / greatest(len(toks), 1) AS avg_word,
    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
      / greatest(len(toks), 1) AS sw,
    CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS dtr,
    CAST(length(regexp_replace(lower(trim(text)), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
      / greatest(length(text), 1) AS sym
  FROM t
)
SELECT doc_id,
  (n_tok BETWEEN 10 AND 1000) AS r_token_count,
  (avg_word >= 2.0 AND avg_word <= 12.0) AS r_avg_word_len,
  (sw >= 0.02) AS r_stopword,
  (dtr >= 0.3) AS r_distinct_tokens,
  (sym <= 0.1) AS r_symbol_ratio,
  ((n_tok BETWEEN 10 AND 1000) AND (avg_word >= 2.0 AND avg_word <= 12.0)
   AND (sw >= 0.02) AND (dtr >= 0.3) AND (sym <= 0.1)) AS keep
FROM m
"""


@register("quality_filter_verdicts", oracle=_VERDICT_ORACLE, tags=("LLM", "curation"))
def quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-doc boolean rule battery + keep verdict. Pure map,
    one tokenizer pass, no shuffle (see llmprep.curation.quality_verdicts)."""
    from ..llmprep.curation import quality_verdicts

    return quality_verdicts(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle manifest (sharded; no global window).
# ---------------------------------------------------------------------------

_SHUFFLE_ORACLE = """
WITH k AS (
  SELECT doc_id,
    ('0x' || substr(md5('shuffle_v1_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents
), s AS (SELECT doc_id, h, CAST(h % 8 AS INTEGER) AS shard FROM k)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC) AS BIGINT)
    AS pos_in_shard
FROM s
"""


@register("corpus_shuffle_manifest", oracle=_SHUFFLE_ORACLE, tags=("LLM", "sampling"))
def corpus_shuffle_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded pseudo-random training order as (shard, pos_in_shard) — hash
    shards bound every window partition; no corpus-wide row_number
    (see llmprep.sampling.shuffle_manifest)."""
    from ..llmprep.sampling import shuffle_manifest

    return shuffle_manifest(load_table(spark, sf_dir, "documents"), n_shards=8)


# ---------------------------------------------------------------------------
# Embedding-norm drift profile per label.
# ---------------------------------------------------------------------------

_NORM_ORACLE = """
WITH e AS (
  SELECT label, len(embedding) AS dims,
    round(sqrt(list_dot_product(
      list_transform(embedding, x -> CAST(x AS DOUBLE)),
      list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS nrm
  FROM embeddings
)
SELECT label,
  CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(min(dims) AS INTEGER) AS min_dims,
  CAST(max(dims) AS INTEGER) AS max_dims,
  min(nrm) AS min_norm,
  max(nrm) AS max_norm,
  round(CAST(sum(CAST(nrm AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_norm
FROM e GROUP BY label
"""


@register("embedding_norm_profile", oracle=_NORM_ORACLE, tags=("LLM", "similarity"))
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm distribution of the embedding corpus (encoder-drift
    monitor): one map pass + one hash agg, decimal-exact mean
    (see llmprep.similarity.norm_profile)."""
    from ..llmprep.similarity import norm_profile

    return norm_profile(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Incremental near-dup probe: a NEW ingest batch vs the EXISTING corpus
# index — the per-batch dedup shape a production pipeline runs instead of
# re-deduplicating the whole corpus. Oracle = exact cross-side Jaccard,
# valid on the same grounds as dedup_minhash_lsh_pairs (64-perm/16-band
# recall ~1 at threshold 0.5; candidates are exact-verified).
# ---------------------------------------------------------------------------

_INCR_PROBE_ORACLE = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents
), ex AS (SELECT doc_id, unnest(s) AS g FROM sets),
sz AS (SELECT doc_id, len(s) AS n FROM sets),
inter AS (
  SELECT b.doc_id AS batch_doc, a.doc_id AS index_doc, count(*) AS i
  FROM ex b JOIN ex a ON b.g = a.g
  WHERE b.doc_id % 2 = 1 AND a.doc_id % 2 = 0
  GROUP BY 1, 2
)
SELECT batch_doc, index_doc,
       round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
FROM inter JOIN sz x ON batch_doc = x.doc_id JOIN sz y ON index_doc = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
"""


@register("dedup_incremental_lsh_probe", oracle=_INCR_PROBE_ORACLE, tags=("LLM", "dedup"), bench=True)
def dedup_incremental_lsh_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the corpus by doc_id parity into index (even) / batch (odd)
    halves and probe the batch against the index's banded buckets (see
    llmprep.dedup.incremental_lsh_probe — at scale the index side is a
    precomputed, persisted table that only appends per committed batch).
    Both sides are slices of one table here, so the one-pass form applies:
    a single tokenize + signature pass over the corpus, split afterward."""
    from ..llmprep.dedup import incremental_lsh_probe_onepass

    docs = load_table(spark, sf_dir, "documents")
    neutral = (
        spark.conf.get("spark.graft.engine_neutral_hash", "true").lower() != "false"
    )
    return incremental_lsh_probe_onepass(
        docs,
        F.col("doc_id") % 2 == 1,
        num_perm=64,
        bands=16,
        threshold=0.5,
        engine_neutral_hash=neutral,
    )


# ---------------------------------------------------------------------------
# Per-label centroid outliers: the mislabeled-example sweep over embedded
# training data. Centroid means sum 7-dp DECIMALs (order-independent,
# engine-exact), same convention as ann_ivf_kmeans_cells.
# ---------------------------------------------------------------------------

_CENTROID_OUTLIER_ORACLE = """
WITH e AS (
  SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), x AS (
  SELECT label, vec_id, t.i AS dim, v[t.i] AS val
  FROM e CROSS JOIN generate_series(1, 64) t(i)
), u AS (
  SELECT label, dim,
         CAST(sum(CAST(round(val, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS c
  FROM x GROUP BY label, dim
), c AS (
  SELECT label, array_agg(c ORDER BY dim) AS cv FROM u GROUP BY label
), cn AS (
  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c
), s AS (
  SELECT e.label, e.vec_id,
         round(list_dot_product(e.v, cn.cv)
               / nullif(sqrt(list_dot_product(e.v, e.v)) * cn.cn, 0), 6)
           AS cosine_to_centroid
  FROM e JOIN cn ON e.label = cn.label
), r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY label ORDER BY cosine_to_centroid ASC NULLS FIRST, vec_id ASC
    ) AS INTEGER) AS rank
  FROM s
)
SELECT label, rank, vec_id, cosine_to_centroid FROM r WHERE rank <= 5
"""


@register(
    "embedding_centroid_outliers",
    oracle=_CENTROID_OUTLIER_ORACLE,
    tags=("LLM", "similarity", "curation"),
)
def embedding_centroid_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-5 least-central vectors per label by cosine to the label
    centroid (see llmprep.similarity.centroid_outliers — vectors never
    shuffle; only labels×dims partial sums do)."""
    from ..llmprep.similarity import centroid_outliers

    return centroid_outliers(load_table(spark, sf_dir, "embeddings"), bottom_k=5)


# ---------------------------------------------------------------------------
# BPE-style pair-merge counting: top-k adjacent token pairs with document
# frequency — the counting step of one tokenizer-training merge round.
# ---------------------------------------------------------------------------

_PAIR_MERGE_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(toks) - 1, 0)),
           i -> toks[i] || ' ' || toks[i+1]
         )) AS pair
  FROM t
)
SELECT pair,
       CAST(count(*) AS BIGINT) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM p GROUP BY pair
ORDER BY tf DESC, pair ASC
LIMIT 100
"""


@register("tokenizer_pair_merge_stats", oracle=_PAIR_MERGE_ORACLE, tags=("LLM", "curation"))
def tokenizer_pair_merge_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 adjacent token pairs by corpus frequency (see
    llmprep.curation.pair_merge_stats — bigram shingle stream with
    multiplicity, one map-side-combined agg, TakeOrderedAndProject top-k)."""
    from ..llmprep.curation import pair_merge_stats

    return pair_merge_stats(load_table(spark, sf_dir, "documents"), k=100)


# ---------------------------------------------------------------------------
# Product-quantization ADC top-k: the memory-bound ANN path (codes ≈ 32×
# smaller than raw vectors; query time touches only codes + a tiny distance
# table). Oracle unrolls one L2 Lloyd round per subspace with the same
# decimal-exact means as the k-means oracle.
# ---------------------------------------------------------------------------

_PQ_ADC_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), sv AS (
  SELECT vec_id, s.s AS sub, v[s.s*8+1 : s.s*8+8] AS sv
  FROM e CROSS JOIN generate_series(0, 7) s(s)
), c0 AS (
  SELECT sub, vec_id AS cid, sv AS cw FROM sv WHERE vec_id % 25 = 0 AND vec_id < 400
), a1 AS (
  SELECT vec_id, sub, cid, sv FROM (
    SELECT sv.vec_id, sv.sub, c0.cid, sv.sv,
           list_dot_product(sv.sv, sv.sv) - 2*list_dot_product(sv.sv, c0.cw)
             + list_dot_product(c0.cw, c0.cw) AS d2,
           row_number() OVER (
             PARTITION BY sv.vec_id, sv.sub
             ORDER BY list_dot_product(sv.sv, sv.sv) - 2*list_dot_product(sv.sv, c0.cw)
                      + list_dot_product(c0.cw, c0.cw) ASC, c0.cid ASC
           ) AS rn
    FROM sv JOIN c0 ON sv.sub = c0.sub
  ) WHERE rn = 1
), x1 AS (
  SELECT sub, cid, t.i AS dim, sv[t.i] AS val
  FROM a1 CROSS JOIN generate_series(1, 8) t(i)
), u1 AS (
  SELECT sub, cid, dim,
         CAST(sum(CAST(round(val, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS c
  FROM x1 GROUP BY sub, cid, dim
), c1 AS (
  SELECT sub, cid, array_agg(c ORDER BY dim) AS cw FROM u1 GROUP BY sub, cid
), enc AS (
  SELECT vec_id, sub, cid FROM (
    SELECT sv.vec_id, sv.sub, c1.cid,
           row_number() OVER (
             PARTITION BY sv.vec_id, sv.sub
             ORDER BY list_dot_product(sv.sv, sv.sv) - 2*list_dot_product(sv.sv, c1.cw)
                      + list_dot_product(c1.cw, c1.cw) ASC, c1.cid ASC
           ) AS rn
    FROM sv JOIN c1 ON sv.sub = c1.sub
  ) WHERE rn = 1
), dt AS (
  SELECT q.vec_id AS query_id, c1.sub, c1.cid,
         list_dot_product(q.sv, q.sv) - 2*list_dot_product(q.sv, c1.cw)
           + list_dot_product(c1.cw, c1.cw) AS d2
  FROM sv q JOIN c1 ON q.sub = c1.sub
  WHERE q.vec_id < 10
), adc AS (
  SELECT dt.query_id, enc.vec_id,
         CAST(sum(CAST(round(dt.d2, 7) AS DECIMAL(20,7))) AS DOUBLE) AS dist2
  FROM enc JOIN dt ON enc.sub = dt.sub AND enc.cid = dt.cid
  WHERE enc.vec_id <> dt.query_id
  GROUP BY 1, 2
), r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC
    ) AS INTEGER) AS rank
  FROM adc
)
SELECT query_id, vec_id AS neighbor_id, round(dist2, 6) AS adc_dist2, rank
FROM r WHERE rank <= 5
"""


@register("ann_pq_adc_topk", oracle=_PQ_ADC_ORACLE, tags=("LLM", "similarity", "iterative"), bench=True)
def ann_pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: 8 subspaces × learned codebooks (1 Lloyd round),
    ADC ranking over codes only (see llmprep.similarity.pq_adc_topk)."""
    from ..llmprep.similarity import pq_adc_topk

    return pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        m=8,
        dims=64,
        codeword_mod=25,
        iters=1,
    )


# ---------------------------------------------------------------------------
# IVF + PQ composed (the production FAISS-style index layout): coarse cell
# pruning, then ADC over codes within the cell.
# ---------------------------------------------------------------------------

_IVF_PQ_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), sv AS (
  SELECT vec_id, s.s AS sub, v[s.s*8+1 : s.s*8+8] AS sv
  FROM e CROSS JOIN generate_series(0, 7) s(s)
), c0 AS (
  SELECT sub, vec_id AS cid, sv AS cw FROM sv WHERE vec_id % 25 = 0 AND vec_id < 400
), a1 AS (
  SELECT vec_id, sub, cid, sv FROM (
    SELECT sv.vec_id, sv.sub, c0.cid, sv.sv,
           row_number() OVER (
             PARTITION BY sv.vec_id, sv.sub
             ORDER BY list_dot_product(sv.sv, sv.sv) - 2*list_dot_product(sv.sv, c0.cw)
                      + list_dot_product(c0.cw, c0.cw) ASC, c0.cid ASC
           ) AS rn
    FROM sv JOIN c0 ON sv.sub = c0.sub
  ) WHERE rn = 1
), x1 AS (
  SELECT sub, cid, t.i AS dim, sv[t.i] AS val
  FROM a1 CROSS JOIN generate_series(1, 8) t(i)
), u1 AS (
  SELECT sub, cid, dim,
         CAST(sum(CAST(round(val, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS c
  FROM x1 GROUP BY sub, cid, dim
), c1 AS (
  SELECT sub, cid, array_agg(c ORDER BY dim) AS cw FROM u1 GROUP BY sub, cid
), enc AS (
  SELECT vec_id, sub, cid FROM (
    SELECT sv.vec_id, sv.sub, c1.cid,
           row_number() OVER (
             PARTITION BY sv.vec_id, sv.sub
             ORDER BY list_dot_product(sv.sv, sv.sv) - 2*list_dot_product(sv.sv, c1.cw)
                      + list_dot_product(c1.cw, c1.cw) ASC, c1.cid ASC
           ) AS rn
    FROM sv JOIN c1 ON sv.sub = c1.sub
  ) WHERE rn = 1
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), cent AS (
  SELECT vec_id AS ccid, v AS ccv, nrm AS ccn FROM n WHERE vec_id % 100 = 0
), cells AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT n.vec_id, cent.ccid,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, cent.ccv) / (n.nrm * cent.ccn) DESC,
                      cent.ccid ASC
           ) AS rn
    FROM n CROSS JOIN cent
  ) WHERE rn = 1
), dt AS (
  SELECT q.vec_id AS query_id, c1.sub, c1.cid,
         list_dot_product(q.sv, q.sv) - 2*list_dot_product(q.sv, c1.cw)
           + list_dot_product(c1.cw, c1.cw) AS d2
  FROM sv q JOIN c1 ON q.sub = c1.sub
  WHERE q.vec_id < 10
), adc AS (
  SELECT dt.query_id, enc.vec_id,
         CAST(sum(CAST(round(dt.d2, 7) AS DECIMAL(20,7))) AS DOUBLE) AS dist2
  FROM enc
  JOIN dt ON enc.sub = dt.sub AND enc.cid = dt.cid
  JOIN cells ca ON ca.vec_id = enc.vec_id
  JOIN cells qa ON qa.vec_id = dt.query_id AND qa.cell = ca.cell
  WHERE enc.vec_id <> dt.query_id
  GROUP BY 1, 2
), r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY dist2 ASC, vec_id ASC
    ) AS INTEGER) AS rank
  FROM adc
)
SELECT query_id, vec_id AS neighbor_id, round(dist2, 6) AS adc_dist2, rank
FROM r WHERE rank <= 5
"""


@register("ann_ivf_pq_topk", oracle=_IVF_PQ_ORACLE, tags=("LLM", "similarity", "iterative"))
def ann_ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell pruning + PQ-ADC ranking — the composed production index
    shape (see llmprep.similarity.ivf_pq_topk)."""
    from ..llmprep.similarity import ivf_pq_topk

    return ivf_pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        centroid_mod=100,
        m=8,
        dims=64,
        codeword_mod=25,
        iters=1,
    )


# ---------------------------------------------------------------------------
# Sub-document exact dedup: non-overlapping 10-token chunks duplicated
# across the corpus (boilerplate/repeated-snippet sweep below document
# granularity).
# ---------------------------------------------------------------------------

_DUP_CHUNK_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(list_filter(toks, x -> x <> '')) AS n_tok FROM base
), starts AS (
  SELECT doc_id, toks, n_tok, unnest(range(0, n_tok, 10)) AS start
  FROM sized WHERE n_tok > 0
), ch AS (
  SELECT doc_id,
         CAST(start / 10 AS INTEGER) AS chunk_idx,
         md5(array_to_string(list_slice(toks, start + 1, least(start + 10, n_tok)), ' ')) AS chunk_md5
  FROM starts
), grouped AS (
  SELECT chunk_md5,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM ch GROUP BY chunk_md5 HAVING count(*) > 1
), canon AS (
  SELECT chunk_md5, doc_id AS canonical_doc, chunk_idx AS canonical_idx FROM (
    SELECT *, row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn
    FROM ch
  ) WHERE rn = 1
)
SELECT g.chunk_md5, g.n_occurrences, g.n_docs, c.canonical_doc, c.canonical_idx
FROM grouped g JOIN canon c ON g.chunk_md5 = c.chunk_md5
"""


@register("dedup_chunk_groups", oracle=_DUP_CHUNK_ORACLE, tags=("LLM", "dedup", "chunking"))
def dedup_chunk_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated 10-token chunks with occurrence/doc counts and a
    deterministic canonical occurrence (see
    llmprep.chunking.duplicate_chunk_groups)."""
    from ..llmprep.chunking import duplicate_chunk_groups

    return duplicate_chunk_groups(load_table(spark, sf_dir, "documents"), chunk_size=10)


# ---------------------------------------------------------------------------
# Scalar (int8) quantization profile: per-dim min/max grid, reconstruction
# error stats per label — the 4x embedding compression step.
# ---------------------------------------------------------------------------

_SQ8_ORACLE = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), x AS (
  SELECT vec_id, label, t.i AS dim, v[t.i] AS val
  FROM e CROSS JOIN generate_series(1, 64) t(i)
), b AS (
  SELECT dim, min(val) AS lo, max(val) AS hi FROM x GROUP BY dim
), r AS (
  SELECT x.label, x.vec_id,
         abs(x.val - (b.lo + coalesce(round((x.val - b.lo) / nullif((b.hi - b.lo)/255, 0)), 0)
                      * ((b.hi - b.lo)/255))) AS err
  FROM x JOIN b ON x.dim = b.dim
)
SELECT label,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       round(max(err), 9) AS max_abs_err,
       round(CAST(sum(CAST(round(err, 12) AS DECIMAL(24,12))) AS DOUBLE) / count(*), 9) AS mean_abs_err
FROM r GROUP BY label
"""


@register("embedding_sq8_profile", oracle=_SQ8_ORACLE, tags=("LLM", "similarity"))
def embedding_sq8_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization reconstruction profile (see
    llmprep.similarity.sq8_reconstruction_profile)."""
    from ..llmprep.similarity import sq8_reconstruction_profile

    return sq8_reconstruction_profile(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# SimHash near-dup PAIRS via banded hamming blocking. Oracle = plain
# all-pairs hamming filter: pigeonhole guarantees the banded equi-join has
# recall 1 for max_hamming < bands, so the two agree exactly.
# ---------------------------------------------------------------------------

def _simhash_pairs_oracle(bits: int = 32, max_hamming: int = 3) -> str:
    fp = " + ".join(
        f"(CASE WHEN bit_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    prefix = _simhash_oracle(bits).rsplit("SELECT doc_id,", 1)[0].rstrip()
    return f"""{prefix}, fp AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


_SIMHASH_PAIRS_ORACLE = _simhash_pairs_oracle()


@register("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE, tags=("LLM", "dedup"))
def dedup_simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤3 SimHash pairs via 4-band blocking (see
    llmprep.dedup.simhash_near_dup_pairs)."""
    from ..llmprep.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(load_table(spark, sf_dir, "documents"))


_CHUNK_COVERAGE_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(list_filter(toks, x -> x <> '')) AS n_tok FROM base
), starts AS (
  SELECT doc_id, toks, n_tok, unnest(range(0, n_tok, 10)) AS start
  FROM sized WHERE n_tok > 0
), ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, start + 1, least(start + 10, n_tok)), ' ')) AS chunk_md5
  FROM starts
), w AS (
  SELECT doc_id, count(*) OVER (PARTITION BY chunk_md5) AS n FROM ch
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_chunk_ratio
FROM w GROUP BY doc_id
"""


@register("chunk_dup_coverage", oracle=_CHUNK_COVERAGE_ORACLE, tags=("LLM", "dedup", "chunking"))
def chunk_dup_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate-chunk coverage ratio (see
    llmprep.chunking.chunk_dup_coverage)."""
    from ..llmprep.chunking import chunk_dup_coverage

    return chunk_dup_coverage(load_table(spark, sf_dir, "documents"), chunk_size=10)


# ---------------------------------------------------------------------------
# Count-min sketch (llmprep/sketches.py): the mergeable frequency sketch —
# fixed depth×width counter grid, one pass, additive across shards. Hashes
# are the md5-derived 32-bit family, so DuckDB rebuilds the EXACT sketch
# and the estimates (not just the true counts) are oracle-checked.
# ---------------------------------------------------------------------------

_CMS_ORACLE = f"""
WITH tk AS (
  SELECT tok FROM (SELECT unnest({_TOKS}) AS tok FROM documents) WHERE tok <> ''
), J AS (SELECT unnest(generate_series(0, 3)) AS j),
cells AS (
  SELECT j AS rw,
         ('0x'||substr(md5('cms_' || CAST(j AS VARCHAR) || '_' || tok), 1, 8))::BIGINT % 256 AS cl,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tk CROSS JOIN J GROUP BY 1, 2
),
cd AS (
  SELECT DISTINCT tok
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents WHERE doc_id % 50 = 0)
  WHERE tok <> ''
),
probe AS (
  SELECT cd.tok, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS cms_count
  FROM cd CROSS JOIN J
  LEFT JOIN cells ON cells.rw = J.j
    AND cells.cl = ('0x'||substr(md5('cms_' || CAST(J.j AS VARCHAR) || '_' || cd.tok), 1, 8))::BIGINT % 256
  GROUP BY cd.tok
)
SELECT tok, cms_count FROM probe ORDER BY cms_count DESC, tok ASC LIMIT 20
"""


@register("cms_heavy_hitters", oracle=_CMS_ORACLE, tags=("LLM", "sketch"))
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-estimated hottest tokens among a candidate set: the corpus
    token stream is seen ONCE into a 4×256 count-min grid; candidates (the
    distinct tokens of a doc sample) are estimated by broadcast-probing the
    grid (see llmprep.sketches — at 100 TB the grid is still 1024 rows)."""
    from ..llmprep.sketches import cms_heavy_hitters
    from ..llmprep.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(F.explode(tokens("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    cands = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    return cms_heavy_hitters(items, cands, "tok", k=20, depth=4, width=256)


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (llmprep/sampling.py): Efraimidis-
# Spirakis priorities u^(1/w) from hash-derived uniforms — a true
# weight-proportional sample with no rand(), reproducible cross-engine.
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, len(list_filter({_TOKS}, x -> x <> '')) AS weight FROM documents
), p AS (
  SELECT doc_id, CAST(weight AS BIGINT) AS weight,
         pow((('0x'||substr(md5('wsample_v1_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1) / 4294967297.0,
             1.0 / weight) AS pri
  FROM t WHERE weight > 0
)
SELECT doc_id, weight, round(pri, 6) AS priority
FROM p ORDER BY pri DESC, doc_id ASC LIMIT 50
"""


@register("weighted_sample_manifest", oracle=_WSAMPLE_ORACLE, tags=("LLM", "sampling"))
def weighted_sample_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional doc sample (weight = token count, k = 50): the
    deterministic weighted-reservoir form — top-k by hash-derived priority
    runs as TakeOrderedAndProject, one scan at any corpus size (see
    llmprep.sampling.weighted_sample_topk)."""
    from ..llmprep.sampling import weighted_sample_topk
    from ..llmprep.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda t: t != ""))
        .cast("bigint")
        .alias("weight"),
    )
    return weighted_sample_topk(weighted, weight_col="weight", k=50).select(
        "doc_id", "weight", F.round("priority", 6).alias("priority")
    )


# ---------------------------------------------------------------------------
# Bitext mining (llmprep/similarity.py bitext_mutual_nn): mutual cross-
# label nearest neighbors — the parallel-corpus pair filter. Ranks run on
# the ROUNDED cosine with id tie-breaks, so both engines agree exactly.
# ---------------------------------------------------------------------------

_BITEXT_ORACLE = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), a AS (SELECT vec_id AS src_id, v AS av, nrm AS an FROM n WHERE label = 0),
b AS (SELECT vec_id AS tgt_id, v AS bv, nrm AS bn FROM n WHERE label = 1),
s AS (
  SELECT src_id, tgt_id,
         round(list_dot_product(av, bv) / (an * bn), 6) AS cosine
  FROM a CROSS JOIN b
), f AS (
  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, tgt_id ASC) AS rf FROM s
), r AS (
  SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY cosine DESC, src_id ASC) AS rr FROM s
)
SELECT f.src_id, f.tgt_id, f.cosine
FROM f JOIN r ON f.src_id = r.src_id AND f.tgt_id = r.tgt_id
WHERE f.rf = 1 AND r.rr = 1
"""


@register("bitext_mining_mutual_nn", oracle=_BITEXT_ORACLE, tags=("LLM", "similarity"))
def bitext_mining_mutual_nn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs between label-0 and label-1 embedding
    slices (see llmprep.similarity.bitext_mutual_nn)."""
    from ..llmprep.similarity import bitext_mutual_nn

    return bitext_mutual_nn(load_table(spark, sf_dir, "embeddings"), 0, 1)


# ---------------------------------------------------------------------------
# ANN recall profile: the quality metric production vector indexes are
# graded by — recall@k of each approximate family against the exact
# brute-force top-k, per query. The oracle COMPOSES the already-verified
# family oracles as subqueries (DuckDB allows WITH inside a derived table),
# so the recall arithmetic is checked end-to-end, not re-derived.
# Deterministic across engines because every family ranks on round(cos, 6)
# with a vec_id tie-break — the neighbor SETS match exactly, hence so do
# the intersection counts.
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_KNN_ORACLE}) x),
lsh AS (SELECT query_id, neighbor_id FROM ({_ANN_ORACLE}) x),
ivf AS (SELECT query_id, neighbor_id FROM ({_IVF_ORACLE}) x),
nprobe AS (SELECT query_id, neighbor_id FROM ({_IVF_NPROBE_ORACLE}) x),
ann AS (
  SELECT 'lsh_bucket' AS family, query_id, neighbor_id FROM lsh
  UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ivf
  UNION ALL SELECT 'ivf_nprobe2', query_id, neighbor_id FROM nprobe
),
spine AS (
  SELECT f.family, CAST(q.query_id AS BIGINT) AS query_id
  FROM (VALUES ('lsh_bucket'), ('ivf'), ('ivf_nprobe2')) f(family)
  CROSS JOIN (SELECT unnest(range(0, 10)) AS query_id) q
),
hits AS (
  SELECT a.family, a.query_id, count(e.neighbor_id) AS n_hits
  FROM ann a
  LEFT JOIN exact e ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1, 2
)
SELECT s.family, s.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 4) AS recall_at_k
FROM spine s LEFT JOIN hits h ON s.family = h.family AND s.query_id = h.query_id
"""


@register("ann_recall_profile", oracle=_RECALL_ORACLE, tags=("LLM", "similarity"))
def ann_recall_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 per (family, query) for the three comparable ANN families
    vs exact brute force. Scale story: the exact side is the expensive leg
    and runs ONCE for all families; the per-family legs are the same
    cell/bucket-pruned scans the individual queries use, and the recall
    join is over 3 × 10 × 5 rows — negligible. On a cluster this is the
    recurring index-quality audit you run on a sampled query set."""
    from ..llmprep.similarity import ivf_topk, ivf_topk_multiprobe

    emb = load_table(spark, sf_dir, "embeddings")
    qids, k = list(range(10)), 5
    exact = cosine_topk(emb, query_ids=qids, k=k).select("query_id", "neighbor_id")
    fams = [
        ("lsh_bucket", bucketed_ann_topk(emb, query_ids=qids, k=k, bits=8)),
        ("ivf", ivf_topk(emb, query_ids=qids, k=k, centroid_mod=100)),
        (
            "ivf_nprobe2",
            ivf_topk_multiprobe(emb, query_ids=qids, k=k, centroid_mod=100, nprobe=2),
        ),
    ]
    ann = None
    for name, df in fams:
        part = df.select(
            F.lit(name).alias("family"),
            F.col("query_id").cast("long").alias("query_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
        )
        ann = part if ann is None else ann.unionAll(part)
    flagged = ann.join(
        F.broadcast(exact.withColumn("_hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    per = flagged.groupBy("family", "query_id").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits")
    )
    spine = spark.createDataFrame(
        [(f, q) for f, _ in fams for q in qids], "family STRING, query_id LONG"
    )
    return spine.join(F.broadcast(per), ["family", "query_id"], "left").select(
        "family",
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / 5, 4).alias(
            "recall_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): learned-cluster blocking + within-cell
# cosine pairs. The oracle reuses the proven unrolled-k-means CTEs, so the
# cluster assignment AND the pair verification are both value-checked.
# Threshold tuned to the synthetic embeddings' cosine range (max pairwise
# ≈0.48) so the path is exercised; production corpora use ~0.95+.
# ---------------------------------------------------------------------------

_SEMANTIC_DEDUP_ORACLE = (
    _kmeans_oracle().rsplit("SELECT", 1)[0]
    + """
SELECT a.cell, a.vec_id AS vec1, b.vec_id AS vec2,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM a3 a JOIN a3 b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35
"""
)


@register("semantic_dedup_pairs", oracle=_SEMANTIC_DEDUP_ORACLE, tags=("LLM", "dedup", "iterative"))
def semantic_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import semantic_dedup_pairs

    return semantic_dedup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


# ---------------------------------------------------------------------------
# Bigram LM scoring (llmprep/curation.py): the stronger perplexity proxy —
# flags rare SEQUENCES whose individual tokens are common (shuffled text,
# keyword stuffing). Same decimal-summed determinism contract as the
# unigram scorer.
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = f"""
WITH base AS (
  SELECT doc_id, list_filter({_TOKS}, x -> x <> '') AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM base WHERE len(t) >= 2
), prs AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM idx
), big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM prs GROUP BY 1, 2
), toks AS (
  SELECT unnest(t) AS tok FROM base
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY 1
), voc AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS V FROM toks
), scored AS (
  SELECT p.doc_id,
         CAST(round(ln(CAST(b.c12 + 1 AS DOUBLE) / (u.c1 + v.V)), 9) AS DECIMAL(18,9)) AS logp
  FROM prs p
  JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
  JOIN uni u ON u.tok = p.w1
  CROSS JOIN voc v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(logp) / count(*) AS DOUBLE), 6) AS mean_bigram_logprob
FROM scored GROUP BY doc_id
"""


@register("text_bigram_logprob", oracle=_BIGRAM_ORACLE, tags=("LLM", "curation"))
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.curation import bigram_logprob_scores

    return bigram_logprob_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Hard-negative mining (llmprep/similarity.py): top-k most-similar
# CROSS-label vectors under a similarity ceiling — the retrieval-training
# negative sampler, with the standard false-negative filter.
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn FROM n WHERE vec_id < 10
), s AS (
  SELECT q.query_id, n.vec_id AS negative_id,
         round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS cosine
  FROM q JOIN n ON n.label <> q.q_label
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, negative_id ASC) AS INTEGER) AS rank
  FROM s WHERE cosine < 0.95
)
SELECT query_id, negative_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("hard_negative_mining", oracle=_HARDNEG_ORACLE, tags=("LLM", "similarity"))
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import hard_negative_mining

    return hard_negative_mining(
        load_table(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


# ---------------------------------------------------------------------------
# Ensemble dedup verdicts: text evidence (MinHash-LSH exact-Jaccard ≥0.5)
# FULL-OUTER embedding evidence (cluster-blocked cosine ≥0.35 on the
# aligned vector table) per id pair — the multi-detector agreement view a
# production dedup pipeline reviews before destructive removal (agreement
# raises confidence; single-detector hits get a second look). The oracle
# composes the two already-verified family oracles.
# ---------------------------------------------------------------------------

_ENSEMBLE_ORACLE = f"""
WITH text_pairs AS (SELECT doc1, doc2, jaccard FROM ({_JACCARD_ORACLE}) t),
emb_pairs AS (SELECT vec1, vec2, cosine FROM ({_SEMANTIC_DEDUP_ORACLE}) e)
SELECT coalesce(t.doc1, e.vec1) AS id1,
       coalesce(t.doc2, e.vec2) AS id2,
       t.jaccard, e.cosine,
       CASE WHEN t.doc1 IS NOT NULL AND e.vec1 IS NOT NULL THEN 'both'
            WHEN t.doc1 IS NOT NULL THEN 'text_only'
            ELSE 'embedding_only' END AS verdict
FROM text_pairs t
FULL JOIN emb_pairs e ON t.doc1 = e.vec1 AND t.doc2 = e.vec2
"""


@register("ensemble_dedup_verdicts", oracle=_ENSEMBLE_ORACLE, tags=("LLM", "dedup", "iterative"))
def ensemble_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import semantic_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    text = minhash_near_dup_pairs(docs, threshold=0.5).select(
        F.col("doc1").alias("t1"), F.col("doc2").alias("t2"), "jaccard"
    )
    vec = semantic_dedup_pairs(emb, threshold=0.35).select(
        F.col("vec1").alias("v1"), F.col("vec2").alias("v2"), "cosine"
    )
    j = text.join(
        vec, (F.col("t1") == F.col("v1")) & (F.col("t2") == F.col("v2")), "full"
    )
    return j.select(
        F.coalesce(F.col("t1"), F.col("v1")).alias("id1"),
        F.coalesce(F.col("t2"), F.col("v2")).alias("id2"),
        "jaccard",
        "cosine",
        F.when(F.col("t1").isNotNull() & F.col("v1").isNotNull(), "both")
        .when(F.col("t1").isNotNull(), "text_only")
        .otherwise("embedding_only")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (llmprep/bpe.py): real merge rounds, not just
# candidate counting — count pairs, pick the winner, greedily merge every
# occurrence corpus-wide, repeat on the re-tokenized corpus. The greedy
# merge IS replace() on a sentinel-joined token string (identical scan-left
# semantics in both engines), so the whole training loop is value-checked.
# ---------------------------------------------------------------------------


def _bpe_oracle(rounds: int = 2) -> str:
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
  SELECT w1, w2, tf FROM c{r} ORDER BY tf DESC, w1 ASC, w2 ASC LIMIT 1
), d{r} AS (
  SELECT t.doc_id,
         replace(t.s, CHR(31) || w.w1 || CHR(31) || w.w2 || CHR(31),
                      CHR(31) || w.w1 || ' ' || w.w2 || CHR(31)) AS s
  FROM a{r} t CROSS JOIN win{r} w
), e{r} AS (
  SELECT doc_id,
         list_slice(string_split(s, CHR(31)), 2, len(string_split(s, CHR(31))) - 1) AS a
  FROM d{r}
), s{r} AS (
  SELECT {r} AS round,
         (SELECT w1 || ' ' || w2 FROM win{r}) AS merged_pair,
         (SELECT tf FROM win{r}) AS tf,
         CAST(sum(len(a)) AS BIGINT) AS tokens_after,
         (SELECT CAST(count(DISTINCT tok) AS BIGINT)
          FROM (SELECT unnest(a) AS tok FROM e{r})) AS vocab_after
  FROM e{r}
)"""
        )
        prev = f"d{r}"
    parts.append(
        "\n" + " UNION ALL ".join(f"SELECT * FROM s{r}" for r in range(1, rounds + 1))
    )
    return "".join(parts)


@register("bpe_training_rounds", oracle=_bpe_oracle(), tags=("LLM", "curation", "iterative"))
def bpe_training_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.bpe import bpe_train_rounds

    return bpe_train_rounds(load_table(spark, sf_dir, "documents"), rounds=2)


# ---------------------------------------------------------------------------
# Blocked fuzzy matching (llmprep/fuzzy.py): character-level near-dups the
# token/bit/embedding dedup families miss (OCR noise, mojibake). Blocking
# (first token × length band) bounds the candidate set; Levenshtein — a
# JVM built-in in Spark, a native function in DuckDB — verifies candidates
# only, never all pairs.
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH d AS (
  SELECT doc_id,
         substr(text, 1, 40) AS pfx,
         split_part(text, ' ', 1) AS tok0,
         CAST(floor(length(text) / 100) AS INT) AS band
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
FROM d a JOIN d b ON a.tok0 = b.tok0 AND a.band = b.band AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= 12
"""


@register("fuzzy_prefix_matches", oracle=_FUZZY_ORACLE, tags=("LLM", "dedup", "fuzzy"))
def fuzzy_prefix_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.fuzzy import fuzzy_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = fuzzy_prefix_pairs(
        docs, prefix_len=40, band_width=100, max_dist=12
    )
    return pairs.select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (llmprep/dedup.py::containment_pairs): the
# quote/excerpt case Jaccard structurally misses.
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents
), ex0 AS (SELECT doc_id, unnest(s) AS g FROM sets),
kept AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 1000),
ex AS (SELECT doc_id, g FROM ex0 WHERE g IN (SELECT g FROM kept)),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(CAST(i AS DOUBLE) / least(x.n, y.n), 6) AS containment
FROM inter JOIN sz x ON doc1 = x.doc_id JOIN sz y ON doc2 = y.doc_id
WHERE CAST(i AS DOUBLE) / least(x.n, y.n) >= 0.8
"""


@register("dedup_containment_pairs", oracle=_CONTAINMENT_ORACLE, tags=("LLM", "dedup"))
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8, max_df=1000
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (llmprep/similarity.py::mmr_rerank): the greedy
# trajectory is engine-exact because rel/sim round to 6 dp before use, every
# argmax tie-breaks on cand_id, and the λ·rel − (1−λ)·max_sim score is EXACT
# DECIMAL(3,2)×DECIMAL(8,6) arithmetic — a double formulation lands on
# half-points at 6 dp (0.7×0.371485 = 0.2600395) where Spark's HALF_UP on
# the decimal repr and DuckDB's rounding of the binary value disagree; the
# decimal score never rounds at all.
# ---------------------------------------------------------------------------

_MMR_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5
), s AS (
  SELECT q.query_id, n.vec_id,
         round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS cosine
  FROM q JOIN n ON n.vec_id <> q.query_id
), pool AS (
  SELECT query_id, cand_id, rel, rnk FROM (
    SELECT query_id, vec_id AS cand_id, cosine AS rel,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rnk
    FROM s
  ) WHERE rnk <= 10
), pv AS (
  SELECT p.query_id, p.cand_id, n.v, n.nrm FROM pool p JOIN n ON n.vec_id = p.cand_id
), pairs AS (
  SELECT a.query_id, a.cand_id AS c1, b.cand_id AS c2,
         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
  FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
), s1 AS (
  SELECT query_id, cand_id AS selected_id, 1 AS round,
         CAST(CAST(0.70 AS DECIMAL(3,2)) * CAST(rel AS DECIMAL(8,6)) AS DOUBLE) AS mmr_score
  FROM pool WHERE rnk = 1
), r2c AS (
  SELECT p.query_id, p.cand_id, p.rel, max(pr.sim) AS max_sim
  FROM pool p
  JOIN s1 ON s1.query_id = p.query_id AND p.cand_id <> s1.selected_id
  JOIN pairs pr ON pr.query_id = p.query_id AND pr.c1 = p.cand_id
                AND pr.c2 = s1.selected_id
  GROUP BY 1, 2, 3
), s2 AS (
  SELECT query_id, cand_id AS selected_id, 2 AS round,
         CAST(score AS DOUBLE) AS mmr_score FROM (
    SELECT query_id, cand_id,
           CAST(0.70 AS DECIMAL(3,2)) * CAST(rel AS DECIMAL(8,6))
             - CAST(0.30 AS DECIMAL(3,2)) * CAST(max_sim AS DECIMAL(8,6)) AS score,
           row_number() OVER (PARTITION BY query_id ORDER BY
             CAST(0.70 AS DECIMAL(3,2)) * CAST(rel AS DECIMAL(8,6))
               - CAST(0.30 AS DECIMAL(3,2)) * CAST(max_sim AS DECIMAL(8,6)) DESC,
             cand_id ASC) AS rn
    FROM r2c
  ) WHERE rn = 1
), sel12 AS (
  SELECT query_id, selected_id FROM s1
  UNION ALL SELECT query_id, selected_id FROM s2
), r3c AS (
  SELECT p.query_id, p.cand_id, p.rel, max(pr.sim) AS max_sim
  FROM pool p
  ANTI JOIN sel12 x ON x.query_id = p.query_id AND x.selected_id = p.cand_id
  JOIN pairs pr ON pr.query_id = p.query_id AND pr.c1 = p.cand_id
  JOIN sel12 sl ON sl.query_id = pr.query_id AND sl.selected_id = pr.c2
  GROUP BY 1, 2, 3
), s3 AS (
  SELECT query_id, cand_id AS selected_id, 3 AS round,
         CAST(score AS DOUBLE) AS mmr_score FROM (
    SELECT query_id, cand_id,
           CAST(0.70 AS DECIMAL(3,2)) * CAST(rel AS DECIMAL(8,6))
             - CAST(0.30 AS DECIMAL(3,2)) * CAST(max_sim AS DECIMAL(8,6)) AS score,
           row_number() OVER (PARTITION BY query_id ORDER BY
             CAST(0.70 AS DECIMAL(3,2)) * CAST(rel AS DECIMAL(8,6))
               - CAST(0.30 AS DECIMAL(3,2)) * CAST(max_sim AS DECIMAL(8,6)) DESC,
             cand_id ASC) AS rn
    FROM r3c
  ) WHERE rn = 1
)
SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
"""


@register("ann_mmr_rerank", oracle=_MMR_ORACLE, tags=("LLM", "similarity"))
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmprep.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb, query_ids=list(range(5)), pool_k=10, select_k=3, lam=0.7
    ).withColumn("round", F.col("round").cast("int"))
