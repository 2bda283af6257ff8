"""Round-15 registrations (round 12) — the freeze lifts: the three
oracle-verified round-12 candidates move from ``round12_prep.py`` into
``@register`` blocks verbatim (VERDICT r11 item 1), plus the composed
end-to-end split/decontamination contract (item 4) and the
train-once/probe-many prepared-LSH-index pair (item 6).

Registered here:

- ``leakage_safe_split_assignments`` — dup-cluster-keyed dataset split
  (``llmprep/sampling.py::leakage_safe_split`` over
  ``entity_resolution_clusters``): no near-duplicate cluster straddles
  the train/eval boundary.
- ``decontamination_group_split_check`` — the group-keyed twin of
  ``decontamination_check``: contamination measured AFTER co-assigning
  clusters, so what remains is real cross-document leakage.
- ``minhash_calibration_report`` — the sketch-honesty table
  (``llmprep/dedup.py::minhash_calibration_audit``): per-exact-Jaccard
  bucket, the MinHash agreement estimate vs the exact value over the
  LSH candidates (zero-overlap candidates included, bucket 0 — the
  r11-advisory left-join fix, mirrored in the generated oracle).
- ``split_leakage_audit_e2e`` — the composed contract a training-data
  user actually exercises: group-keyed split + decontamination over the
  SAME assignment, with the dup-straddle count COMPUTED (zero by
  construction; non-zero reddens the value gate).
- ``lsh_index_bucket_profile`` — the persistable LSH index's banded
  bucket table profiled per band (train-once side of incremental
  dedup); the oracle mirrors the full md5-derived signature + banded
  slice-key pipeline in generated SQL.
- ``dedup_lsh_probe_prepared`` — probe-many side: the index tables are
  WRITTEN to parquet and read back before probing, value-gating the
  "index as a table" round-trip the production ingest loop relies on.

Oracle conventions: band slice-key equality compares the slice VALUES,
which equals Spark's xxhash64 bucket equality up to 2⁻⁶⁴ bucket-merge
collisions (the accepted tolerance of every shingle-hash join in the
registry); every mean folds through DECIMAL sums; BIGINT casts on the
permutation constants keep DuckDB from multiplying INT32 literals into
overflow (round-9 recipe).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llmprep.dedup import MERSENNE_31, _perm_constants
from ..sources.catalog import load_table
from .llmprep import _TOKS
from .mining import _ER_CTES, _ER_MAX_DIST
from .scratch import scratch_dir
from .registry import register

# Split bucket anchored on the entity-resolution cluster id — the same md5
# recipe split_assign's oracle uses, with the anchor swapped doc→cluster.
_CLUSTER_BUCKET = (
    "CAST(('0x'||substr(md5('split_v1_' || CAST(c.cluster_id AS VARCHAR)),1,8))"
    "::BIGINT % 100 AS INTEGER)"
)

_LEAKAGE_SAFE_SPLIT_ORACLE = (
    _ER_CTES
    + f""",
assigned AS (
  SELECT d.doc_id, {_CLUSTER_BUCKET} AS split_bucket
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
)
SELECT doc_id, split_bucket,
       CASE WHEN split_bucket < 90 THEN 'train'
            WHEN split_bucket < 95 THEN 'val' ELSE 'test' END AS split
FROM assigned
"""
)


@register(
    "leakage_safe_split_assignments",
    oracle=_LEAKAGE_SAFE_SPLIT_ORACLE,
    tags=("LLM", "sampling", "dedup"),
)
def leakage_safe_split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster-keyed split: every member of an entity-resolution
    cluster lands in ONE split (bucket = md5 of the cluster id; the
    cluster relation is total, so singletons anchor on their own id and
    match split_assign exactly)."""
    from ..llmprep.fuzzy import entity_resolution_clusters
    from ..llmprep.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    clusters = entity_resolution_clusters(docs, max_dist=_ER_MAX_DIST)
    return leakage_safe_split(
        docs.select("doc_id"), clusters, group_col="cluster_id"
    ).select("doc_id", "split_bucket", "split")


_DECON_GROUP_SPLIT_ORACLE = (
    _ER_CTES
    + f""",
assigned AS (
  SELECT d.doc_id, d.text,
         CASE WHEN {_CLUSTER_BUCKET} < 90 THEN 'train'
              WHEN {_CLUSTER_BUCKET} < 95 THEN 'val' ELSE 'test' END AS split
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
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
)


@register(
    "decontamination_group_split_check",
    oracle=_DECON_GROUP_SPLIT_ORACLE,
    tags=("LLM", "curation", "dedup"),
)
def decontamination_group_split_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontamination_check with the split keyed by dup cluster: the
    dup-driven contamination slice is gone by construction, so every
    remaining non-zero row is real cross-document leakage."""
    from ..llmprep.curation import decontamination_overlap
    from ..llmprep.fuzzy import entity_resolution_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = entity_resolution_clusters(docs, max_dist=_ER_MAX_DIST)
    out = decontamination_overlap(docs, groups=clusters, group_col="cluster_id")
    return out.select(
        "doc_id",
        "split",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        "contamination_ratio",
    )


def _signature_ctes(num_perm: int, bands: int, doc_filter: str = "") -> str:
    """Shared generated-SQL spine: md5-derived shingle hashes → universal-
    hash MinHash signature → banded slice-value keys, over an optionally
    filtered ``documents`` slice. The one Python loop emits both engines'
    permutation constants (``_perm_constants`` — shape identity by
    construction); band equality compares slice VALUES (== Spark's
    xxhash64 bucket equality up to 2⁻⁶⁴ merges)."""
    rpb = num_perm // bands
    mins = ",\n       ".join(
        f"min((CAST({a} AS BIGINT) * h + {b}) % {MERSENNE_31}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_constants(num_perm))
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(f"CAST(mh_{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + " AS key FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM documents {doc_filter}
), ex AS (SELECT doc_id, unnest(s) AS g FROM sets),
sz AS (SELECT doc_id, len(s) AS n FROM sets),
hashed AS (
  SELECT doc_id, ('0x'||substr(md5(g),1,8))::BIGINT % {MERSENNE_31} AS h FROM ex
),
sig AS (
  SELECT doc_id,
       {mins}
  FROM hashed GROUP BY doc_id
),
banded AS (
{band_rows}
)"""


def _calibration_oracle(num_perm: int = 64, bands: int = 16, n_buckets: int = 10) -> str:
    """Generated DuckDB mirror of minhash_calibration_audit; the
    zero-overlap candidates stay (LEFT JOIN, count(b.g) — the r11
    advisory fix) and every mean folds through DECIMAL(10,6) sums
    exactly as the operator does."""
    agree = " + ".join(
        f"CASE WHEN s1.mh_{i} = s2.mh_{i} THEN 1 ELSE 0 END" for i in range(num_perm)
    )
    return (
        _signature_ctes(num_perm, bands)
        + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc1, c.doc2,
         round(CAST(({agree}) AS DOUBLE) / CAST({num_perm} AS DOUBLE), 6) AS est_jaccard
  FROM cand c JOIN sig s1 ON s1.doc_id = c.doc1 JOIN sig s2 ON s2.doc_id = c.doc2
),
inter AS (
  -- LEFT join: zero-intersection candidates (bucket-merge collisions)
  -- keep i = 0 and grade into bucket 0, mirroring the Spark side's
  -- left-join + count(_hit) (ADVICE r11).
  SELECT e.doc1, e.doc2, e.est_jaccard, count(b.g) AS i
  FROM est e
  JOIN ex a ON a.doc_id = e.doc1
  LEFT JOIN ex b ON b.doc_id = e.doc2 AND b.g = a.g
  GROUP BY 1, 2, 3
),
graded AS (
  SELECT i.est_jaccard,
         round(CAST(i.i AS DOUBLE) / (x.n + y.n - i.i), 6) AS exact_jaccard
  FROM inter i JOIN sz x ON x.doc_id = i.doc1 JOIN sz y ON y.doc_id = i.doc2
),
b AS (
  SELECT least(CAST(floor(exact_jaccard * {n_buckets}) AS INTEGER), {n_buckets - 1}) AS bucket,
         CAST(est_jaccard AS DECIMAL(10,6)) AS est_d,
         CAST(exact_jaccard AS DECIMAL(10,6)) AS exa_d
  FROM graded
)
SELECT bucket,
       round(min(CAST(bucket AS DOUBLE) / {n_buckets}), 6) AS lo,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(est_d) AS DOUBLE) / count(*), 6) AS mean_est,
       round(CAST(sum(exa_d) AS DOUBLE) / count(*), 6) AS mean_exact,
       round(CAST(sum(abs(est_d - exa_d)) AS DOUBLE) / count(*), 6) AS mean_abs_err,
       CAST(max(abs(est_d - exa_d)) AS DOUBLE) AS max_abs_err
FROM b GROUP BY 1
"""
    )


@register(
    "minhash_calibration_report",
    oracle=_calibration_oracle(),
    tags=("LLM", "dedup", "sketch"),
)
def minhash_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-honesty table over the documents corpus (64 perms, 16
    bands — the registry's production LSH geometry)."""
    from ..llmprep.dedup import minhash_calibration_audit

    return minhash_calibration_audit(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Composed e2e contract: group-keyed split + decontamination over the SAME
# assignment; the dup-straddle slice is COMPUTED and zero by construction
# (VERDICT r11 item 4). Grain: one row per eval split.
# ---------------------------------------------------------------------------

_SPLIT_AUDIT_ORACLE = (
    _ER_CTES
    + f""",
assigned AS (
  SELECT d.doc_id, d.text, c.cluster_id,
         CASE WHEN {_CLUSTER_BUCKET} < 90 THEN 'train'
              WHEN {_CLUSTER_BUCKET} < 95 THEN 'val' ELSE 'test' END AS split
  FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
), train_clusters AS (
  SELECT DISTINCT cluster_id FROM assigned WHERE split = 'train'
), sets AS (
  SELECT doc_id, split,
         list_distinct(list_transform(
           generate_series(1, greatest(len({_TOKS}) - 2, 0)),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         )) AS s
  FROM assigned
), ex AS (SELECT doc_id, split, unnest(s) AS g FROM sets),
train_set AS (SELECT DISTINCT g FROM ex WHERE split = 'train'),
ev AS (SELECT doc_id, split, g FROM ex WHERE split <> 'train'),
decon AS (
  SELECT ev.doc_id, ev.split,
         count(*) AS n_shingles, count(t.g) AS n_contaminated
  FROM ev LEFT JOIN train_set t ON ev.g = t.g
  GROUP BY 1, 2
)
SELECT d.split,
       CAST(count(*) AS BIGINT) AS n_eval_docs,
       CAST(sum(CASE WHEN tc.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_straddle_docs,
       CAST(sum(CASE WHEN d.n_contaminated > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaky_docs,
       CAST(sum(d.n_shingles) AS BIGINT) AS n_shingles,
       CAST(sum(d.n_contaminated) AS BIGINT) AS n_contaminated,
       round(CAST(sum(d.n_contaminated) AS DOUBLE) / sum(d.n_shingles), 6)
         AS contamination_ratio
FROM decon d
JOIN assigned a ON a.doc_id = d.doc_id
LEFT JOIN train_clusters tc ON tc.cluster_id = a.cluster_id
GROUP BY 1
"""
)


@register(
    "split_leakage_audit_e2e",
    oracle=_SPLIT_AUDIT_ORACLE,
    tags=("LLM", "curation", "sampling", "dedup"),
)
def split_leakage_audit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data user's end-to-end check: group-keyed split →
    decontamination over the SAME assignment, rolled up per eval split
    with the dup-straddle count computed (zero by construction — a break
    anywhere in the split keying turns it non-zero and reds this row).
    See llmprep.curation.split_leakage_audit."""
    from ..llmprep.curation import split_leakage_audit
    from ..llmprep.fuzzy import entity_resolution_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = entity_resolution_clusters(docs, max_dist=_ER_MAX_DIST)
    return split_leakage_audit(docs, clusters, group_col="cluster_id")


# ---------------------------------------------------------------------------
# Prepared-LSH-index pair (VERDICT r11 item 6): train-once (the banded
# bucket table, profiled) / probe-many (batch vs PERSISTED index tables,
# written to parquet and read back inside the query).
# ---------------------------------------------------------------------------

_BUCKET_PROFILE_ORACLE = (
    _signature_ctes(64, 16, doc_filter="WHERE doc_id % 2 = 0")
    + """,
bsz AS (SELECT band, key, count(*) AS sz FROM banded GROUP BY 1, 2)
SELECT band,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(sz) AS BIGINT) AS max_bucket_docs,
       CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_candidate_buckets
FROM bsz GROUP BY 1
"""
)


@register(
    "lsh_index_bucket_profile",
    oracle=_BUCKET_PROFILE_ORACLE,
    tags=("LLM", "dedup", "index"),
)
def lsh_index_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once side of incremental dedup: build the persistable LSH
    index tables over the even-doc_id half of the corpus (see
    llmprep.dedup.lsh_index_tables) and profile the banded bucket table
    per band — docs, distinct buckets, the largest bucket, and how many
    buckets would generate candidates. Bucket-hash invariant up to 2⁻⁶⁴
    merges, so the slice-value oracle mirrors it exactly."""
    from ..llmprep.dedup import lsh_index_tables

    docs = load_table(spark, sf_dir, "documents")
    neutral = (
        spark.conf.get("spark.graft.engine_neutral_hash", "true").lower() != "false"
    )
    banded, _ = lsh_index_tables(
        docs.filter(F.col("doc_id") % 2 == 0), engine_neutral_hash=neutral
    )
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy("band").agg(
        F.sum("sz").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket_docs"),
        F.sum((F.col("sz") >= 2).cast("int")).cast("long").alias("n_candidate_buckets"),
    )


# Same exact cross-side-Jaccard oracle grounds as dedup_incremental_lsh_probe
# (queries/llmprep.py): 64-perm/16-band recall ~1 at threshold 0.5 and every
# candidate is exact-verified, so the LSH step affects recall only through
# band slices the oracle does not need to model.
_PROBE_PREPARED_ORACLE = f"""
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


@register(
    "dedup_lsh_probe_prepared",
    oracle=_PROBE_PREPARED_ORACLE,
    tags=("LLM", "dedup", "index"),
)
def dedup_lsh_probe_prepared_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-many side: the index tables built over the even half are
    WRITTEN to parquet and READ BACK before probing the odd half — the
    actual production contract (the corpus is tokenized once in its
    lifetime; every later probe joins the persisted narrow tables). The
    parquet round-trip inside the query value-gates the index schema the
    same way test_probe_against_persisted_index_roundtrip pins it at
    unit scale."""
    from ..llmprep.dedup import incremental_lsh_probe_prepared, lsh_index_tables

    docs = load_table(spark, sf_dir, "documents")
    neutral = (
        spark.conf.get("spark.graft.engine_neutral_hash", "true").lower() != "false"
    )
    banded, shingles = lsh_index_tables(
        docs.filter(F.col("doc_id") % 2 == 0), engine_neutral_hash=neutral
    )
    base = scratch_dir("lsh_index", sf_dir)
    banded.write.mode("overwrite").parquet(os.path.join(base, "banded"))
    shingles.write.mode("overwrite").parquet(os.path.join(base, "shingles"))
    return incremental_lsh_probe_prepared(
        spark.read.parquet(os.path.join(base, "banded")),
        spark.read.parquet(os.path.join(base, "shingles")),
        docs.filter(F.col("doc_id") % 2 == 1),
        threshold=0.5,
        engine_neutral_hash=neutral,
    )
