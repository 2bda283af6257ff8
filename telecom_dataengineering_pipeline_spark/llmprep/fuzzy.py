"""Blocked fuzzy matching — edit-distance near-dup detection.

The dedup family (``llmprep/dedup.py``) catches token-level overlap
(Jaccard/MinHash), bit-level similarity (SimHash), and embedding-space
similarity; what it cannot catch is small CHARACTER-level corruption —
OCR noise, mojibake, diff-sized whitespace — where token sets diverge but
edit distance stays tiny. That is the record-linkage regime: candidates by
cheap deterministic BLOCKING, then exact Levenshtein verification on the
candidates only (the classic blocking+verify shape; an all-pairs
Levenshtein is O(n²·L²) and never acceptable).

Blocking key here: (first token, length band). Two strings within edit
distance k differ in length by at most k, so a band width ≥ k keeps
same-band recall for prefix-stable corruptions; the first-token component
cuts the quadratic blow-up inside popular bands. Both block keys are pure
column expressions; the verify step uses Spark's built-in ``levenshtein``
(JVM codegen, not a UDF), computed only on the candidate pairs.

At 100 TB: candidates are an equi-join on the block key (one shuffle,
AQE-skewable); the quadratic term is bounded per block, and oversized
blocks can be salted or capped exactly like the ``max_df`` guard in
``dedup.ngram_jaccard_pairs``.
"""

from __future__ import annotations

import sys as _sys
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark import cloudpickle as _cp
from ..lineage import lineage_cut

# jaro_winkler_pairs ships a pandas_udf whose closure references this
# module; consumers that only sys.path the repo on the DRIVER would crash
# workers on import — pickle by value (multimodal/fraud convention).
_cp.register_pickle_by_value(_sys.modules[__name__])


def fuzzy_block_keys(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 40,
    band_width: int = 100,
) -> DataFrame:
    """(id, prefix, block key) per document. The prefix bounds the
    Levenshtein operand length (edit distance on the first ``prefix_len``
    chars), keeping verify cost O(prefix_len²) per candidate instead of
    O(full-text²)."""
    return docs.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, prefix_len).alias("pfx"),
        F.split_part(F.col(text_col), F.lit(" "), F.lit(1)).alias("tok0"),
        F.floor(F.length(text_col) / band_width).cast("int").alias("band"),
    )


def fuzzy_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 40,
    band_width: int = 100,
    max_dist: int = 12,
) -> DataFrame:
    """Candidate generation + verification: document pairs whose blocked
    prefixes are within ``max_dist`` edits. Returns (id_a, id_b, dist)
    with id_a < id_b."""
    keys = fuzzy_block_keys(docs, text_col, id_col, prefix_len, band_width)
    a = keys.select(
        F.col(id_col).alias("id_a"),
        F.col("pfx").alias("pfx_a"),
        "tok0",
        "band",
    )
    b = keys.select(
        F.col(id_col).alias("id_b"),
        F.col("pfx").alias("pfx_b"),
        "tok0",
        "band",
    )
    cand = a.join(b, ["tok0", "band"]).filter(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn("dist", F.levenshtein("pfx_a", "pfx_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def entity_resolution_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 40,
    band_width: int = 100,
    max_dist: int = 2,
    max_iters: int = 25,
) -> DataFrame:
    """Entity resolution end to end: blocked fuzzy candidate pairs
    (first-token × length-band blocking, JVM Levenshtein verify on
    candidates only) → transitive closure via large-star/small-star
    connected components → one ``cluster_id`` per record (the cluster's
    minimum id; records with no fuzzy neighbor form singleton clusters of
    themselves). The record-linkage composition every dedup/householding
    pipeline runs: A≈B and B≈C land A, B, C in ONE cluster even when A
    and C are farther than ``max_dist`` apart — the closure is the point.

    Scale shape: inherits the pair stage's no-all-pairs guarantee
    (equi-join on block keys, candidates-only verification) and CC's
    star-round cost (O(log n) rounds, labels node-sized, only a
    per-round change probe reaches the driver; raises instead of
    returning a partial closure after ``max_iters`` rounds)."""
    from .dedup import connected_dup_groups

    pairs = fuzzy_prefix_pairs(
        df, text_col, id_col, prefix_len, band_width, max_dist
    )
    edges = pairs.select(
        F.col("id_a").alias("doc1"), F.col("id_b").alias("doc2")
    )
    groups = connected_dup_groups(edges, max_iters).withColumnRenamed(
        "doc_id", id_col
    )
    return df.join(groups, id_col, "left").select(
        id_col,
        F.coalesce(F.col("group_id"), F.col(id_col)).alias("cluster_id"),
    )


def survivorship_golden_records(
    df: DataFrame,
    cluster_col: str = "cluster_id",
    completeness_cols: Sequence[str] = (),
    recency_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Golden-record selection per entity cluster — the survivorship
    policy that finishes a record-linkage pass: within each cluster keep
    the record with (1) the most populated ``completeness_cols``, then
    (2) the most recent ``recency_col``, then (3) the smallest id (a
    total order, so the survivor is deterministic in any engine).

    One partitioned window over the cluster key (clusters are small by
    construction — never a global window); completeness is a pure column
    sum of isNotNull casts, no UDF. Returns the surviving rows with
    their ``_completeness`` score."""
    completeness = F.lit(0)
    for c in completeness_cols:
        completeness = completeness + F.col(c).isNotNull().cast("int")
    order = [F.col("_completeness").desc()]
    if recency_col is not None:
        order.append(F.col(recency_col).desc_nulls_last())
    order.append(F.col(id_col).asc())
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        df.withColumn("_completeness", completeness)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _jaro(s1: str, s2: str) -> float:
    """Standard Jaro similarity (the DuckDB/Apache-commons definition)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 and l2 == 0:
        return 1.0
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, p: float = 0.1, boost_threshold: float = 0.7) -> float:
    """Jaro–Winkler with the standard prefix boost (≤ 4 chars, applied
    only when jaro exceeds ``boost_threshold``) — matches DuckDB's
    ``jaro_winkler_similarity`` so the oracle can verify bit-for-bit at
    6 dp."""
    j = _jaro(s1, s2)
    if j <= boost_threshold:
        return j
    l = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        l += 1
    return j + l * p * (1.0 - j)


def jaro_winkler_pairs(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    threshold: float = 0.9,
    out_col: str = "jw_sim",
) -> DataFrame:
    """Jaro–Winkler verification over CANDIDATE pairs — the
    transposition-tolerant scorer the blocked-Levenshtein pipeline
    (:func:`fuzzy_prefix_pairs`) can't express: JW rewards shared
    prefixes and forgives adjacent swaps ("marhta"), the right metric
    for human-keyed names/MSISDNs, where Levenshtein over-penalizes.

    Spark has no JW built-in, so this is the sanctioned escape hatch
    (SURVEY §2.11): an Arrow-batched ``pandas_udf`` applied ONLY to the
    post-blocking candidate relation — the slow path is bounded by the
    blocker's output, never the corpus product. The Python scorer
    matches DuckDB's ``jaro_winkler_similarity`` definition exactly
    (standard window/transposition rules, ≤4-char prefix boost gated at
    jaro > 0.7), verified bit-for-bit at 6 dp in the cross-engine
    mirror.

    Returns the input plus ``out_col`` (rounded to 6), filtered to
    ``>= threshold``; pairs with a NULL side are dropped (no honest
    similarity for a missing string)."""
    @F.pandas_udf("double")
    def _jw(a, b):
        import pandas as pd

        out = [
            None if (x is None or y is None) else round(jaro_winkler(x, y), 6)
            for x, y in zip(a, b)
        ]
        return pd.Series(out, dtype="float64")

    scored = pairs.filter(
        F.col(left_col).isNotNull() & F.col(right_col).isNotNull()
    ).withColumn(out_col, _jw(F.col(left_col), F.col(right_col)))
    # Lineage cut before the threshold filter: Catalyst collapses
    # Filter(Project) and would inline the UDF into BOTH operators,
    # running every comparison TWICE (two ArrowEvalPython nodes —
    # plan-pinned). The candidates relation is blocker-bounded, so the
    # lazy checkpoint is cheap insurance, not a materialization of the
    # corpus.
    scored = scored.transform(lineage_cut)
    return scored.filter(F.col(out_col) >= float(threshold))
