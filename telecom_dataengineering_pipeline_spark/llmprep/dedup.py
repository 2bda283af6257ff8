"""Document deduplication operators.

Scale design (the point of each variant):

- **exact**: one hash + one groupBy — the cheapest pass, always run first.
- **n-gram Jaccard / containment (exact)** and **winnowing pairs**:
  shingle (or fingerprint) explode, then the co-occurrence core
  (``operators/pairs.py::_cooccur``) groups by the hash and counts shared
  items per doc pair. Correct but O(sum of per-shingle doc-frequency²) —
  the *oracle*, viable when shingle frequencies are bounded (``max_df`` is
  the core's group cap); at 100 TB use it only on LSH candidates.
- **MinHash + LSH**: the scale path. Per-doc signature (narrow shuffle),
  band→bucket equi-join for candidates (no all-pairs anywhere), exact
  Jaccard verification only on candidates. All hashing is md5-derived and
  engine-neutral, so the full pipeline is DuckDB-oracle-checkable.
- **SimHash**: single 32-bit fingerprint per doc; hamming-adjacent buckets.

Shingles are produced as a *stream* (posexplode + lead window), not as
per-doc arrays: building n-gram arrays with ``transform(sequence, ...)``
lambdas makes Catalyst inline the tokenizer into every element access —
O(tokens²) re-splitting per document (measured 17 s vs 1 s on a 5k-doc
corpus). The stream form evaluates the tokenizer once per doc, rides the
doc_id hash partitioning, and never materializes wide arrays.

No step collects to the driver; every intermediate is keyed by doc or by
(band, bucket) and AQE handles bucket skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.pairs import _capped, _pairs
from .text import normalized_fingerprint, token_hash32, tokens

# This module ships a Python closure to executors (the mapInPandas matmul in
# rhp_band_buckets). Register by-value pickling so consumers that only added
# the repo to the *driver's* sys.path don't crash workers (same convention
# as llmprep.multimodal / streaming.fraud).
import sys as _sys

from pyspark import cloudpickle as _cp
from ..lineage import iterate, lineage_cut

_cp.register_pickle_by_value(_sys.modules[__name__])

# MinHash permutation field: p = 2^31 - 1 (Mersenne). Multipliers/offsets are
# md5-derived constants — deterministic, and small enough that a·h + b stays
# under 2^63 (a, h < 2^31), so the arithmetic is exact 64-bit in any engine.
# The modulus MUST engage (products >> p) or the "permutations" degenerate
# into monotone maps and every signature slot picks the same min shingle.
MERSENNE_31 = (1 << 31) - 1


def _check_band_geometry(sig_len: int, bands: int) -> int:
    """Rows-per-band, validated. ``bands`` must evenly divide the signature
    length: a remainder would silently drop trailing signature rows from
    every bucket key, and ``bands > sig_len`` would reference nonexistent
    signature slots (AnalysisException deep inside the plan)."""
    if sig_len <= 0 or bands <= 0:
        raise ValueError(
            f"signature length ({sig_len}) and bands ({bands}) must be positive"
        )
    if sig_len % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide the signature length "
            f"({sig_len}); remainder {sig_len % bands} rows would be "
            f"silently ignored"
        )
    return sig_len // bands


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"mh_a_{i}".encode()).hexdigest()[:8], 16) % (MERSENNE_31 - 1) + 1
        b = int(hashlib.md5(f"mh_b_{i}".encode()).hexdigest()[:8], 16) % MERSENNE_31
        out.append((a, b))
    return out


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (after normalization) documents: fingerprint,
    group size, canonical (min) id."""
    fp = docs.select(F.col(id_col), normalized_fingerprint(text_col).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def shingle_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, shingle) word n-grams as a stream — distinct per doc by
    default (set-similarity semantics); ``distinct=False`` keeps
    multiplicity (repetition analysis).

    N-gram assembly is a pure MAP: the tokenizer runs once per document,
    n-grams assemble from the in-row token array (``slice`` over a
    generated start index — the same construction the DuckDB oracles use)
    and explode. The former shape additionally ran a lead() WINDOW over
    (doc, pos) — a per-doc sort of the whole token stream on EVERY
    shingle pass — for something that is a local function of one row's
    token array; A/B at sf0.1: MinHash pipeline 0.84x after removal. The
    doc-keyed repartition of the raw text stays: small-file corpora
    arrive as one input split, and without it the tokenize+explode map
    chain runs single-task until the first downstream exchange (measured
    1.15x on exact-jaccard when dropped). At scale the scan's own splits
    make it a near-noop exchange of input-sized text.

    Memory bound (ADVICE r12): the in-row gram array peaks at
    O(doc_tokens × n) strings per row before the explode, vs one token
    per row in the old streaming shape — fine for this corpus (docs are
    KB-scale), but a pathologically large document could build an
    oversized row; cap tokens per doc upstream (or fall back to the
    posexplode+lead form above a size threshold) if huge docs become
    possible.
    """
    toks = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
        .repartition(F.col("doc_id"))
        .select("doc_id", tokens("_t").alias("_toks"))
    )
    grams = F.when(
        F.size("_toks") >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}), "
            f"i -> concat_ws(' ', slice(_toks, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = toks.select("doc_id", F.explode(grams).alias("shingle"))
    return out.distinct() if distinct else out


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc1 < doc2, j >= threshold).

    Intersection via the co-occurrence core grouped on a 64-bit shingle
    hash (same counts as grouping on the string — collision odds ~n²/2⁶⁴ —
    with a far narrower shuffle); union = |A| + |B| − |A∩B|.

    ``max_df`` guards the quadratic blowup: pair generation costs
    O(Σ per-shingle document-frequency²), so one boilerplate shingle shared
    by 1 M docs is 10¹² pairs.  Shingles with df > max_df are removed
    from the universe before pairing — on BOTH numerator and denominator
    (stopword semantics), so jaccard stays a true set similarity over the
    informative shingles.  Pairs whose overlap is only boilerplate are
    exactly the pairs MinHash-LSH (the scale path) also rejects.  Pass
    ``max_df=None`` for literal all-shingles semantics.
    """
    ov = _shingle_overlap(docs, text_col, id_col, n, max_df)
    j = F.col("n_co").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_co"))
    return ov.select(
        F.col("i").alias("doc1"), F.col("j").alias("doc2"), F.round(j, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _shingle_overlap(
    docs: DataFrame, text_col: str, id_col: str, n: int, max_df: int | None
) -> DataFrame:
    """``(i, j, n_co, n1, n2)``: every doc pair ``i < j`` sharing an
    informative shingle, the count of shared shingles and each side's
    informative-shingle count — :func:`jaccard_pairs` and
    :func:`containment_pairs` differ only in their ratio over it.

    The co-occurrence core's cap drops shingles held by more than
    ``max_df`` docs; the doc sizes are counted from those same capped
    rows, so the cap applies to numerator and denominator alike. The
    capped rows are cut once: they feed both the sizes and the pair
    self-join."""
    stream = shingle_stream(docs, text_col, id_col, n)
    ex = stream.select("doc_id", F.xxhash64("shingle").alias("shingle_h"))
    capped = _capped(ex, "shingle_h", "doc_id", max_df).transform(lineage_cut)
    sizes = capped.groupBy("x").agg(F.count(F.lit(1)).alias("n_shingles"))
    s1 = sizes.select(F.col("x").alias("i"), F.col("n_shingles").alias("n1"))
    s2 = sizes.select(F.col("x").alias("j"), F.col("n_shingles").alias("n2"))
    return _pairs(capped).join(s1, "i").join(s2, "j")


def _hash31(col: Column, engine_neutral: bool) -> Column:
    """31-bit shingle base hash.

    ``engine_neutral=True``: md5-derived (DuckDB can reproduce it → the full
    MinHash pipeline is oracle-checkable).  ``False``: xxhash64 folded into
    the same field — the JVM-intrinsic fast path for production runs where
    cross-engine parity isn't needed.  Either way the LSH step only
    generates *candidates*; emitted pairs are exact-Jaccard-verified, so the
    hash choice affects speed (and recall at the margin), never precision.
    """
    if engine_neutral:
        return token_hash32(col) % F.lit(MERSENNE_31)
    return F.pmod(F.xxhash64(col), F.lit(MERSENNE_31))


def _signature_min_exprs(num_perm: int, h: Column) -> list[Column]:
    """The ``num_perm`` universal-hash minimum expressions over a 31-bit
    base-hash column — the ONE definition of the permutation scheme, shared
    by ``minhash_signatures`` and ``minhash_near_dup_pairs`` so the
    standalone signature query and the full LSH pipeline cannot diverge."""
    return [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_constants(num_perm))
    ]


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    engine_neutral_hash: bool = True,
) -> DataFrame:
    """Per-doc MinHash signature as an array<long> of length ``num_perm``.

    Shingle base hash h is 32-bit (see ``_hash31``), reduced mod p = 2³¹−1
    and projected ONCE; permutation i is the universal hash
    (aᵢ·h + bᵢ) mod p with md5-derived constants.
    """
    stream = shingle_stream(docs, text_col, id_col, n)
    ex = stream.select("doc_id", _hash31(F.col("shingle"), engine_neutral_hash).alias("h"))
    sig = ex.groupBy("doc_id").agg(*_signature_min_exprs(num_perm, F.col("h")))
    return sig.select(
        "doc_id", F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("signature")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    sig_len: int = 64,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Band the signature; docs sharing any (band, bucket) are candidates.

    bucket key = xxhash64 of the band's slice — an equi-join key, so
    candidate generation is a hash join on (band, bucket), never an
    all-pairs scan.  The bucket hash needn't be engine-neutral even for
    oracle runs: a collision can only MERGE buckets (extra candidates the
    exact-verify step discards), never split one, so the emitted pairs are
    hash-independent — and a long key shuffles far cheaper than an md5 hex
    string.

    ``carry_cols``: per-doc columns of ``signatures`` propagated onto the
    output as ``<c>_1``/``<c>_2`` — lets callers ride functional metadata
    (e.g. set sizes) through the join instead of re-deriving it with
    another pass over the corpus.
    """
    rows_per_band = _check_band_geometry(sig_len, bands)

    def _bucket(b: int) -> Column:
        return F.xxhash64(
            F.concat_ws(
                ",",
                *[
                    F.element_at("signature", b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )

    banded = signatures.select(
        "doc_id",
        *carry_cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *carry_cols, "bb.band", "bb.bucket")
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            *[F.col(f"x.{c}").alias(f"{c}_1") for c in carry_cols],
            *[F.col(f"y.{c}").alias(f"{c}_2") for c in carry_cols],
        )
        .distinct()
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    engine_neutral_hash: bool = True,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates → exact
    Jaccard verification (shingle-stream join restricted to candidates) →
    thresholded pairs.

    ``engine_neutral_hash=False`` swaps the md5-derived shingle/bucket
    hashes for xxhash64 (JVM intrinsic) in the candidate-generation spine;
    the exact-verify step is hash-independent, so emitted pairs carry the
    same exact jaccard either way.
    """
    # The hashed shingle stream feeds the signature agg AND (twice) the
    # exact-verify joins. Materialize it ONCE with localCheckpoint — the
    # single-node analog of staging the hashed-shingle table before fan-out
    # reuse, which is what a cluster deployment would do anyway. (Measured
    # at sf0.1: recompute-per-consumer 4.4-5.5 s end-to-end, checkpointed
    # 3.1-3.6 s; an earlier round measured plain persist() of the *string*
    # shingle stream slower than recompute — checkpointing the narrow
    # hashed projection avoids that trap.)
    stream = shingle_stream(docs, text_col, id_col, n)
    hashed = stream.select(
        "doc_id",
        _hash31(F.col("shingle"), engine_neutral_hash).alias("_h"),
        F.xxhash64("shingle").alias("shingle_h"),
    ).transform(lineage_cut)
    sig_sizes = (
        hashed.groupBy("doc_id")
        .agg(*_signature_min_exprs(num_perm, F.col("_h")), F.count(F.lit(1)).alias("n_shingles"))
        .transform(lineage_cut)
    )
    cands = lsh_candidate_pairs(
        sig_sizes.select(
            "doc_id",
            F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("signature"),
            "n_shingles",
        ),
        bands,
        sig_len=num_perm,
        carry_cols=("n_shingles",),
    )
    ex = hashed.select("doc_id", "shingle_h")
    left = cands.join(ex.withColumnRenamed("doc_id", "doc1"), "doc1").select(
        "doc1", "doc2", "n_shingles_1", "n_shingles_2", "shingle_h"
    )
    inter = (
        left.join(
            ex.withColumnRenamed("doc_id", "doc2"), ["doc2", "shingle_h"]
        )
        .groupBy("doc1", "doc2", "n_shingles_1", "n_shingles_2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = F.col("inter").cast("double") / (
        F.col("n_shingles_1") + F.col("n_shingles_2") - F.col("inter")
    )
    return inter.select("doc1", "doc2", F.round(j, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_calibration_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    engine_neutral_hash: bool = True,
    n_buckets: int = 10,
) -> DataFrame:
    """Sketch-honesty audit of the MinHash geometry on THIS corpus: for
    every LSH candidate pair — including zero-overlap pairs surfaced only
    by a bucket-merge collision, which grade exact = 0 into bucket 0 (the
    worst-calibrated pairs an audit exists to expose; ADVICE r11) — the
    signature-agreement estimate (fraction of equal positions — the
    unbiased MinHash estimator of Jaccard, se ≈ √(j(1−j)/num_perm)) next
    to the EXACT n-gram Jaccard, rolled up into exact-Jaccard buckets:
    (bucket, lo, n_pairs, mean_est, mean_exact, mean_abs_err, max_abs_err). Read it before trusting a (num_perm,
    bands) configuration's verdicts at scale — a drifted bucket means the
    shingle distribution (boilerplate, short docs) breaks the estimator's
    assumptions for that similarity range, not that MinHash is wrong.

    Scale shape: candidate generation is the banded equi-join (never
    all-pairs); signatures re-attach to the pair relation by doc id (two
    keyed joins of a pair-grain relation — the banded explode never
    carries the num_perm-long array); the exact side is the
    candidate-restricted shingle join minhash_near_dup_pairs verifies
    with; output is n_buckets rows. The agreement estimate is one
    zip_with/filter/size expression — JVM-side, no Python."""
    stream = shingle_stream(docs, text_col, id_col, n)
    hashed = stream.select(
        "doc_id",
        _hash31(F.col("shingle"), engine_neutral_hash).alias("_h"),
        F.xxhash64("shingle").alias("shingle_h"),
    ).transform(lineage_cut)
    sig_sizes = (
        hashed.groupBy("doc_id")
        .agg(
            *_signature_min_exprs(num_perm, F.col("_h")),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .withColumn(
            "signature", F.array(*[F.col(f"mh_{i}") for i in range(num_perm)])
        )
        .select("doc_id", "signature", "n_shingles")
        .transform(lineage_cut)
    )
    cands = lsh_candidate_pairs(
        sig_sizes, bands, sig_len=num_perm, carry_cols=("n_shingles",)
    )
    s1 = sig_sizes.select(
        F.col("doc_id").alias("doc1"), F.col("signature").alias("_sig1")
    )
    s2 = sig_sizes.select(
        F.col("doc_id").alias("doc2"), F.col("signature").alias("_sig2")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("_sig1", "_sig2", lambda x, y: x == y),
                lambda b: b,
            )
        ).cast("double")
        / F.lit(float(num_perm))
    )
    pairs = (
        cands.join(s1, "doc1")
        .join(s2, "doc2")
        .select(
            "doc1", "doc2", "n_shingles_1", "n_shingles_2",
            F.round(est, 6).alias("est_jaccard"),
        )
    )
    ex = hashed.select("doc_id", "shingle_h")
    left = pairs.join(ex.withColumnRenamed("doc_id", "doc1"), "doc1").select(
        "doc1", "doc2", "n_shingles_1", "n_shingles_2", "est_jaccard", "shingle_h"
    )
    # LEFT join on the doc2 side: a candidate pair with ZERO shingle
    # intersection must survive with inter = 0 (exact = 0, bucket 0) —
    # an inner join would silently drop exactly the pairs whose sketch
    # estimate is most wrong (ADVICE r11).
    inter = (
        left.join(
            ex.withColumnRenamed("doc_id", "doc2").withColumn("_hit", F.lit(1)),
            ["doc2", "shingle_h"],
            "left",
        )
        .groupBy("doc1", "doc2", "n_shingles_1", "n_shingles_2", "est_jaccard")
        .agg(F.count("_hit").alias("inter"))
    )
    exact = F.col("inter").cast("double") / (
        F.col("n_shingles_1") + F.col("n_shingles_2") - F.col("inter")
    )
    graded = inter.select(
        "est_jaccard", F.round(exact, 6).alias("exact_jaccard")
    )
    bucket = F.least(
        F.floor(F.col("exact_jaccard") * n_buckets).cast("int"),
        F.lit(n_buckets - 1),
    )
    # Registry convention (cross-engine determinism): no raw doubles out of
    # aggregations — the 6-dp estimates sum EXACTLY as decimals and cast to
    # double once, so the bucket means are order-independent.
    est_d = F.col("est_jaccard").cast("decimal(10,6)")
    exa_d = F.col("exact_jaccard").cast("decimal(10,6)")
    err_d = F.abs(est_d - exa_d)
    n_rows = F.count(F.lit(1))
    return (
        graded.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.round(F.min(F.col("bucket").cast("double") / n_buckets), 6).alias("lo"),
            n_rows.cast("long").alias("n_pairs"),
            F.round(F.sum(est_d).cast("double") / n_rows, 6).alias("mean_est"),
            F.round(F.sum(exa_d).cast("double") / n_rows, 6).alias("mean_exact"),
            F.round(F.sum(err_d).cast("double") / n_rows, 6).alias("mean_abs_err"),
            F.max(err_d).cast("double").alias("max_abs_err"),
        )
    )


def incremental_lsh_probe(
    index_docs: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    engine_neutral_hash: bool = True,
) -> DataFrame:
    """Probe a NEW document batch against an EXISTING corpus index — the
    incremental form of near-dup detection a production pipeline runs per
    ingest batch instead of re-deduplicating the whole corpus.

    Same MinHash-LSH spine as ``minhash_near_dup_pairs`` but asymmetric:
    candidates come from joining the batch's (band, bucket) stream against
    the index's, and exact-Jaccard verification touches only the candidate
    pairs' shingle sets. At 100 TB the index side's banded buckets and
    hashed shingles are a *precomputed, persisted* table (they change only
    by appending each committed batch); the per-batch cost is then
    O(batch) hashing + a hash join against the bucket table — the corpus
    is never rescanned. Here both sides are derived from the same corpus
    table for oracle-checkability.

    Returns (batch_doc, index_doc, jaccard) for verified pairs ≥ threshold.
    Caller guarantees the two id spaces are disjoint.
    """
    ix_banded, ix_shingles = lsh_index_tables(
        index_docs, text_col, id_col, n, num_perm, bands, engine_neutral_hash
    )
    return incremental_lsh_probe_prepared(
        ix_banded,
        ix_shingles,
        batch_docs,
        text_col,
        id_col,
        n,
        num_perm,
        bands,
        threshold,
        engine_neutral_hash,
    )


def incremental_lsh_probe_onepass(
    docs: DataFrame,
    batch_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    engine_neutral_hash: bool = True,
) -> DataFrame:
    """``incremental_lsh_probe`` for the case where index and batch are
    SLICES OF ONE TABLE (``batch_pred`` over its columns picks the batch
    side): tokenize + signature-agg + band the whole corpus in a single
    pass, then split the narrow derived tables — one scan, one shuffle, one
    checkpoint instead of two of each. Same result as probing the two
    filtered halves separately (every doc lands on exactly one side)."""
    banded, shingles = lsh_index_tables(
        docs, text_col, id_col, n, num_perm, bands, engine_neutral_hash
    )
    pred = batch_pred
    return _probe_verified_pairs(
        banded.filter(pred),
        shingles.filter(pred),
        banded.filter(~pred),
        shingles.filter(~pred),
        threshold,
    )


def _probe_verified_pairs(
    b_banded: DataFrame,
    b_shingles: DataFrame,
    ix_banded: DataFrame,
    ix_shingles: DataFrame,
    threshold: float,
) -> DataFrame:
    """Banded candidate join (batch buckets × index buckets) + exact-Jaccard
    verification restricted to candidates — the shared tail of every
    incremental-probe entry point."""
    cands = (
        b_banded.alias("b")
        .join(
            ix_banded.alias("x"),
            (F.col("b.band") == F.col("x.band")) & (F.col("b.bucket") == F.col("x.bucket")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"),
            F.col("x.doc_id").alias("index_doc"),
            F.col("b.n_shingles").alias("n1"),
            F.col("x.n_shingles").alias("n2"),
        )
        .distinct()
    )
    left = cands.join(
        b_shingles.withColumnRenamed("doc_id", "batch_doc"), "batch_doc"
    ).select("batch_doc", "index_doc", "n1", "n2", "shingle_h")
    inter = (
        left.join(
            ix_shingles.withColumnRenamed("doc_id", "index_doc"), ["index_doc", "shingle_h"]
        )
        .groupBy("batch_doc", "index_doc", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return inter.select("batch_doc", "index_doc", F.round(j, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def lsh_index_tables(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    engine_neutral_hash: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The PERSISTABLE index side of incremental dedup: (banded bucket
    stream ``(doc_id, n_shingles, band, bucket)``, hashed shingle stream
    ``(doc_id, shingle_h)``). Write both as parquet/log tables partitioned
    respectively by (band, bucket-range) and doc; each committed batch
    APPENDS its own rows — the corpus text is tokenized exactly once in its
    lifetime, and every later probe joins these narrow tables instead."""
    rows_per_band = _check_band_geometry(num_perm, bands)
    stream = shingle_stream(docs, text_col, id_col, n)
    hashed = stream.select(
        "doc_id",
        _hash31(F.col("shingle"), engine_neutral_hash).alias("_h"),
        F.xxhash64("shingle").alias("shingle_h"),
    ).transform(lineage_cut)
    sig = (
        hashed.groupBy("doc_id")
        .agg(
            *_signature_min_exprs(num_perm, F.col("_h")),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        # The banded stream feeds two consumers in the one-pass probe (the
        # batch/index parity filters) and the candidate self-join; without
        # a cut each re-runs the 64-expression signature aggregate over
        # the whole hashed stream. |docs| rows materialize once instead.
        .transform(lineage_cut)
    )

    def _bucket(b: int) -> Column:
        return F.xxhash64(
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh_{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )

    banded = sig.select(
        "doc_id",
        "n_shingles",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "n_shingles", "bb.band", "bb.bucket")
    return banded, hashed.select("doc_id", "shingle_h")


def incremental_lsh_probe_prepared(
    ix_banded: DataFrame,
    ix_shingles: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    engine_neutral_hash: bool = True,
) -> DataFrame:
    """Probe a batch against PRECOMPUTED index tables (see
    ``lsh_index_tables``) — the form a production ingest loop actually
    calls: per-batch cost is O(batch) hashing plus hash joins against the
    persisted bucket/shingle tables; the indexed corpus is never rescanned."""
    b_banded, b_shingles = lsh_index_tables(
        batch_docs, text_col, id_col, n, num_perm, bands, engine_neutral_hash
    )
    return _probe_verified_pairs(b_banded, b_shingles, ix_banded, ix_shingles, threshold)


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Per-doc SimHash: sign of the per-bit sum of (±1) over token hashes.

    32-bit md5-derived token hashes keep the whole computation exact and
    engine-neutral. Emits the fingerprint plus a 12-bit bucket for
    hamming-neighborhood candidate grouping.
    """
    ex = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok"))
    hashed = ex.select("doc_id", token_hash32(F.col("tok")).alias("h"))
    h = F.col("h")
    bit_sums = [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)).alias(f"bit_{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"bit_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(
        "doc_id",
        fp.cast("long").alias("simhash"),
        (fp.cast("long") % F.lit(4096)).alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: hashed term-frequency vectors (the cheapest
# deterministic "embedding" derivable from text alone) + random-hyperplane
# banded LSH for candidates + exact cosine verification on candidates only.
# Mirrors the reference's dedup intent (SURVEY §2 "beyond" block) at the
# vector level, where MinHash covers the set level.
# ---------------------------------------------------------------------------


def _rhp_sign(plane: int, dim_col: Column) -> Column:
    """Deterministic ±1 for (plane, dim): parity of an md5-derived 32-bit
    int — reproducible verbatim in DuckDB. Kept as the column-expression
    reference; the hot path uses ``_rhp_matrix`` (same derivation, computed
    once in Python and shipped as literals instead of ~planes·|tf| runtime
    md5 calls — measured ~2× on the sf0.1 corpus)."""
    h = token_hash32(F.concat(F.lit(f"rp_{plane}_"), dim_col.cast("string")))
    return F.when(h % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def _rhp_matrix(planes: int, dims: int) -> list[list[float]]:
    """±1 matrix [plane][dim], identical to ``_rhp_sign``'s md5 parity."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"rp_{i}_{d}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1.0
            for d in range(dims)
        ]
        for i in range(planes)
    ]


def hashed_tf_dims(
    docs: DataFrame, dims: int = 64, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Long-form hashed TF: (doc_id, dim, cnt). dim = md5-hash(token) mod
    ``dims``; cnt is the token count (integral, so every later double sum is
    exact and order-independent). The tokenizer runs once per doc inside the
    generator (see module docstring for the array-form trap)."""
    ex = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
        .repartition(F.col("doc_id"))
        .select("doc_id", F.explode(tokens("_t")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return (
        ex.select("doc_id", F.pmod(token_hash32(F.col("tok")), F.lit(dims)).cast("int").alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


def hashed_tf_vectors(tf_dims: DataFrame, dims: int = 64) -> DataFrame:
    """Densify long-form TF to (doc_id, v array<double>, nrm). The array is
    dim-ordered, so dot products fold in identical order on any engine."""
    m = (
        tf_dims.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("dim", "cnt"))).alias("m"))
    )
    v = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: F.coalesce(F.element_at(F.col("m"), d.cast("int")), F.lit(0.0)),
    )
    from .similarity import _dot

    vec = m.select("doc_id", v.alias("v"))
    return vec.select("doc_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"))


def rhp_band_buckets(
    vecs: DataFrame, planes: int = 128, bands: int = 8, dims: int = 64
) -> DataFrame:
    """Random-hyperplane signature → banded buckets: bit_i = sign(v·r_i −
    C_i), bands of ``planes//bands`` bits each, over the DENSE vector
    relation (|docs| rows).

    The projection V·Rᵀ is dense linear algebra — the one shape Catalyst
    built-ins genuinely can't express efficiently (64 higher-order
    ``aggregate(zip_with(...))`` folds per row are interpreted, measured
    6.9 s at sf0.1; the long-form per-(doc,dim) aggregate was 5.9 s). It
    runs as an Arrow-batched ``mapInPandas`` numpy matmul instead
    (sub-second). Products are ±integers, so the sums are exact doubles —
    bit-identical regardless of summation order or engine.

    Center on the corpus mean before taking signs. Raw TF vectors are all
    non-negative and share the same common-word mass, so every doc points
    in nearly the same direction and uncentered sign bits collapse into one
    bucket (measured: 87 s at sf0.1, quadratic candidate join). Since
    sign((x−μ)·r) = sign(x·r − μ·r) and μ·r = avg over docs of x·r, the
    per-plane shift C_i is just the mean of the per-doc sums — derived from
    the already-tiny per-doc relation and broadcast, no extra corpus pass.
    Near-dup pairs keep near-identical centered vectors, so recall at
    cosine≈1 is unaffected, while background pairs drop to centered
    cosine≈0 (per-bit collision probability ½)."""
    r = _rhp_matrix(planes, dims)
    # Center via the mean VECTOR: sign(v·rᵢ − μ·rᵢ) with μ = per-dim average
    # — mathematically identical to subtracting the per-plane mean of the
    # per-doc sums, but it needs only a 64-column agg on the (tiny, usually
    # cached) vector relation instead of materializing a |docs|×planes
    # projection twice. Floating-point association differs at ~1e-15, which
    # can flip only exactly-boundary bits; candidates are exact-verified, so
    # emitted pairs are unaffected.
    #
    # μ is a scalar aggregate (one row of `dims` doubles), so fetch it to the
    # driver and fold the per-plane offsets c = μ·Rᵀ into the mapInPandas
    # closure. Shipping μ per-row via crossJoin(broadcast(μ)) pushed `dims`
    # extra doubles per vector row through Arrow into every Python worker
    # batch — measured 2.6× on the sf0.1 cosine-dedup bench.
    mu_row = vecs.agg(
        *[F.avg(F.element_at("v", d + 1)).alias(f"mu_{d}") for d in range(dims)]
    ).first()
    import numpy as _np

    muv = _np.array(
        [0.0 if mu_row[d] is None else float(mu_row[d]) for d in range(dims)]
    )
    c_offsets = tuple(muv @ _np.array(r).T)  # planes floats, closed into the UDF
    per_band = _check_band_geometry(planes, bands)

    def _bucketize(batches):
        import numpy as np
        import pandas as pd

        rt = np.array(r).T  # dims × planes
        weights = (np.int64(1) << np.arange(per_band, dtype=np.int64))
        c = np.array(c_offsets)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["v"].to_numpy())
            bits = ((v @ rt - c) >= 0).astype(np.int64)  # docs × planes
            n = len(pdf)
            buckets = np.stack(
                [bits[:, b * per_band : (b + 1) * per_band] @ weights for b in range(bands)],
                axis=1,
            ).reshape(-1)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "bucket": buckets,
                }
            )

    # One Arrow-batched pass: projection, centering, sign bits and band
    # packing all happen in the same numpy kernel; bucket keys come out as
    # longs (bit-packed), the cheapest join key. This replaces the previous
    # 3-stage persist → per-plane-avg → crossJoin-sign → concat pipeline.
    return vecs.select("doc_id", "v").mapInPandas(
        _bucketize, "doc_id long, band int, bucket long"
    )


def cosine_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 64,
    planes: int = 128,
    bands: int = 8,
    threshold: float = 0.98,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (doc1 < doc2, cosine >= threshold).

    Candidates come from the mean-centered (band, bucket) equi-join — never
    an all-pairs scan — then exact cosine is verified on candidates only.
    True pairs (raw cosine ≈ 1) have near-identical centered vectors, so
    per-bit disagreement is ~0 and 8 bands of 16 bits miss them with
    negligible probability; background pairs (measured per-bit agreement
    ~0.65 on this corpus) collide on a 16-bit band rarely enough to keep the
    candidate set ~linear in corpus size (measured 66 k candidates from
    12.5 M pairs at sf0.1). At larger corpora raise bits-per-band to hold
    per-bucket occupancy constant (bucket count must outpace doc count).

    Threshold floor: sign-LSH recall decays fast once centered cosine drops
    below ~0.95 (a raw-cosine-0.96 pair over skewed TF vectors can sit at
    centered ~0.85, where no sub-quadratic band geometry finds it reliably;
    measured 3/280 misses at sf0.1 with a 0.96 threshold) — hence the 0.98
    default, where recall is 1 on every tested corpus. For looser thresholds
    use ``jaccard_pairs`` / ``minhash_near_dup_pairs``, whose set-level
    blocking has no such floor."""
    tfd = hashed_tf_dims(docs, dims, text_col, id_col)
    # Cut once: the vectors feed the bucket projection and both verify sides.
    vecs = hashed_tf_vectors(tfd, dims).transform(lineage_cut)
    # Materialize the banded buckets once: the self-join would otherwise run
    # the whole signature pipeline (incl. the mapInPandas projection) once
    # per side.
    bb = rhp_band_buckets(vecs, planes, bands, dims).transform(lineage_cut)
    x, y = bb.alias("x"), bb.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2"))
        .distinct()
    )
    a = vecs.select(F.col("doc_id").alias("doc1"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = vecs.select(F.col("doc_id").alias("doc2"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    joined = cands.join(a, "doc1").join(b, "doc2")

    # Exact-verify dot products: one batched numpy pass over the candidate
    # pairs. The Catalyst zip_with/aggregate fold is interpreted per element
    # (~candidates × dims operations); einsum over Arrow batches keeps the
    # verify step sub-second at 10× the candidate volume. Products and sums
    # are exact float64 on integral TF counts, so the result is
    # bit-identical to the fold (and to the DuckDB oracle).
    def _verify(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            va = np.stack(pdf["va"].to_numpy())
            vb = np.stack(pdf["vb"].to_numpy())
            dot = np.einsum("ij,ij->i", va, vb)
            out = pdf[["doc1", "doc2"]].copy()
            out["cosine_raw"] = dot / (pdf["na"].to_numpy() * pdf["nb"].to_numpy())
            yield out

    # Rounding + threshold stay in Spark: F.round is HALF_UP like the
    # DuckDB oracle, numpy rounds half-even.
    raw = joined.mapInPandas(_verify, "doc1 long, doc2 long, cosine_raw double")
    return raw.select(
        "doc1", "doc2", F.round(F.col("cosine_raw"), 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def connected_dup_groups(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Transitive dup groups from a pair list: connected components via
    alternating large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). Rounds grow as
    O(log n), not with the component diameter, so a 1000-link chain of
    near-dup revisions converges in ~10 rounds.

    large-star: every node points its larger neighbors at the minimum of
    its closed neighborhood; small-star: every node folds its smaller
    neighbors (and itself) onto that minimum. Both are one groupBy + one
    equi-join; each round's edge set is keyed by node — no all-pairs step
    anywhere. Rounds run on ``lineage.iterate`` with the "labels unchanged"
    probe, so each round's edge relation is cut eagerly and the superseded
    one released after the probe that reads it: storage stays constant in
    the round count. Only the probe's answer reaches the driver.

    Returns (doc_id, group_id) where group_id is the component's minimum
    doc id. Raises ``RuntimeError`` if labels still change after
    ``max_iters`` rounds — never a partial closure."""
    # Directed-down canonical edge list (a > b), self-loops dropped.
    e = (
        pairs.select(
            F.greatest("doc1", "doc2").alias("a"), F.least("doc1", "doc2").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # Round 1's large-star consumes this twice (both union directions)
        # before the first eager round cut exists — cut the lineage so the
        # upstream pair pipeline executes once, not per reference.
        .transform(lineage_cut)
    )
    all_nodes = (
        pairs.select(F.col("doc1").alias("doc_id"))
        .union(pairs.select("doc2"))
        .distinct()
        .transform(lineage_cut)
    )

    def _labels(edges: DataFrame) -> DataFrame:
        mins = edges.groupBy("a").agg(F.min("b").alias("_lbl"))
        return all_nodes.join(
            mins.withColumnRenamed("a", "doc_id"), "doc_id", "left"
        ).select("doc_id", F.coalesce("_lbl", "doc_id").alias("label"))

    def star(e: DataFrame) -> DataFrame:
        # large-star over both edge directions
        both = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = both.groupBy("a").agg(F.min("b").alias("mn"))
        e = (
            both.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.least("a", "mn").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the (a > b)-directed edges
        mins = e.groupBy("a").agg(F.min("b").alias("mn"))
        j = e.join(mins, "a")
        return (
            j.filter(F.col("b") != F.col("mn"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .union(mins.select("a", F.col("mn").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    probes: list[bool] = []

    def unchanged(prev: DataFrame, e: DataFrame) -> bool:
        probes.append(
            _labels(e)
            .join(_labels(prev).withColumnRenamed("label", "_old"), "doc_id")
            .filter(F.col("label") != F.col("_old"))
            .isEmpty()
        )
        return probes[-1]

    e = iterate(e, star, max_iters, unchanged)
    if not (probes and probes[-1]):
        raise RuntimeError(
            f"connected_dup_groups: labels still changing after max_iters={max_iters} rounds"
        )
    return _labels(e).select("doc_id", F.col("label").alias("group_id"))


def dup_ngram_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-n-gram coverage (the C4/substring-dedup
    signal): what fraction of a document's n-gram positions repeat elsewhere
    in the corpus (or within the document itself)?

    Plan shape: positioned shingle stream (multiplicity kept) → hashed →
    corpus-wide occurrence counts (one groupBy with map-side partial agg) →
    hash-join the stream back to the ``count >= min_count`` subset → per-doc
    counts. Everything is keyed by doc or by 64-bit gram hash; both shuffles
    are linear in corpus token count — the same budget as the MinHash spine.
    At 100 TB the duplicated-gram subset is small relative to the stream, so
    a runtime bloom filter on ``h`` (or AQE converting the count-side to
    broadcast after the HAVING) keeps the join one-sided; no all-pairs stage
    anywhere.

    Returns one row per input document: (doc_id, n_ngrams, n_dup_ngrams,
    dup_ngram_ratio) with 0s for docs shorter than ``n`` tokens.
    """
    grams = shingle_stream(docs, text_col=text_col, id_col=id_col, n=n, distinct=False)
    hashed = grams.select("doc_id", token_hash32(F.col("shingle")).alias("h"))
    dup = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    totals = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    dup_counts = (
        hashed.join(dup, "h").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_ngrams"))
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(totals, "doc_id", "left")
        .join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias("n_dup_ngrams"),
            F.when(
                F.coalesce("n_ngrams", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_dup_ngrams", F.lit(0)).cast("double")
                    / F.col("n_ngrams"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ngram_ratio"),
        )
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``, found
    by BANDED BLOCKING: split the fingerprint into ``bands`` equal bit
    slices; by pigeonhole, any pair within ``max_hamming < bands`` bit
    flips agrees EXACTLY on at least one slice, so the (band, slice-value)
    equi-join has recall 1 — never an all-pairs scan — and the cheap
    bit_count(xor) verify runs on candidates only. The same pigeonhole
    argument Delta-ships at any scale: raise ``bands`` to loosen
    ``max_hamming`` while keeping candidate generation an equi-join."""
    if max_hamming >= bands:
        raise ValueError(
            f"banded blocking is complete only for max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if bits % bands != 0:
        raise ValueError(f"bands ({bands}) must evenly divide bits ({bits})")
    w = bits // bands
    fp = simhash_fingerprints(docs, text_col, id_col, bits).select("doc_id", "simhash")
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * w)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("slice"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.slice")
    # Materialize the banded fingerprints ONCE: the self-join would
    # otherwise run the token-explode + 32-column aggregation pipeline once
    # per side (same convention as the MinHash spine).
    banded = banded.transform(lineage_cut)
    x, y = banded.alias("x"), banded.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.slice") == F.col("y.slice"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            F.col("x.simhash").alias("f1"),
            F.col("y.simhash").alias("f2"),
        )
        .distinct()
    )
    return cands.select(
        "doc1",
        "doc2",
        F.bit_count(F.col("f1").bitwiseXOR(F.col("f2"))).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup: set CONTAINMENT of the smaller shingle set in
    the larger, C = |A∩B| / min(|A|, |B|).

    Jaccard misses the quote/excerpt case — a 200-token document embedded
    verbatim in a 20k-token one has J ≈ |A|/|B| ≈ 0.01 but containment 1.0;
    dedup pipelines drop (or attribute) such pairs separately from
    symmetric near-dups. Same shingle-hash overlap and ``max_df`` stopword
    cap as :func:`jaccard_pairs` (:func:`_shingle_overlap`); only the
    final ratio differs. For the
    100 TB path the same banded MinHash-LSH candidates work: containment
    ≥ t implies Jaccard ≥ t·|A|/(|A|+|B|), so bands tuned for the target
    size ratio recover candidates before this exact verify."""
    ov = _shingle_overlap(docs, text_col, id_col, n, max_df)
    c = F.col("n_co").cast("double") / F.least(F.col("n1"), F.col("n2"))
    return ov.select(
        F.col("i").alias("doc1"), F.col("j").alias("doc2"), F.round(c, 6).alias("containment")
    ).filter(F.col("containment") >= threshold)


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every ``k``-token gram, slide a ``w``-gram
    window, and SELECT the minimum hash per window — robust winnowing's
    rightmost-tie rule included. Guarantee: any shared token run of at
    least ``w + k − 1`` tokens contributes at least one shared selected
    fingerprint, while only ~2/(w+1) of positions are kept — the
    sub-linear sketch between exact shingle dedup (keeps all) and MinHash
    (fixed-size, probabilistic).

    The per-window argmin needs no self-join and no Python: tie-breaks
    are ENCODED into one integer key ``h·2²⁶ + (2²⁶−1−pos)`` (minimizing
    the key minimizes the hash and, among equal hashes, prefers the
    RIGHTMOST position — exactly robust winnowing), so selection is a
    single running ``min`` over the trailing w-row frame of the
    doc-keyed positioned gram stream. Docs shorter than ``w`` grams
    still yield their global-min fingerprint (the last row's frame spans
    the whole doc). One doc-keyed exchange; integer arithmetic end to
    end (cross-engine exact).

    Returns DISTINCT (doc_id, fp_hash).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if w < 1:
        raise ValueError("w must be >= 1")
    ex = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
        .repartition(F.col("doc_id"))
        .select("doc_id", F.posexplode(tokens("_t")).alias("pos", "tok"))
    )
    order = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(order) for j in range(1, k)]
    gram = F.concat_ws(" ", F.col("tok"), *leads) if k > 1 else F.col("tok")
    last = leads[-1] if k > 1 else F.col("tok")
    grams = ex.select(
        "doc_id", "pos", token_hash32(gram).alias("h"), last.alias("_last")
    ).filter(F.col("_last").isNotNull())
    key = F.col("h") * F.lit(1 << 26).cast("long") + (
        F.lit((1 << 26) - 1).cast("long") - F.col("pos")
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    n_grams = Window.partitionBy("doc_id")
    selected = (
        grams.select(
            "doc_id",
            "pos",
            F.min(key).over(frame).alias("_mkey"),
            F.count(F.lit(1)).over(n_grams).alias("_n"),
            F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")).alias("_rn"),
        )
        .filter((F.col("pos") >= w - 1) | (F.col("_rn") == F.col("_n")))
        .select(
            "doc_id",
            # integer DIV — the key tops 2^58, past double's exact range
            F.expr(f"_mkey DIV {1 << 26}").alias("fp_hash"),
        )
        .distinct()
    )
    return selected


def winnowing_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints —
    the MOSS pairing stage, on the co-occurrence core grouped by
    fingerprint. Same quadratic guard as the shingle/minhash joins:
    fingerprints held by more than ``max_df`` docs are dropped before pair
    generation (boilerplate hashes otherwise fan out df²). Returns
    (doc_a, doc_b, n_shared) for pairs sharing at least ``min_shared``
    selected fingerprints."""
    # lineage cut after the core's cap: the capped fingerprints feed both
    # sides of the self-join — without it the whole tokenize→hash→winnow
    # pipeline (and the cap's window) re-runs per side
    fp = winnowing_fingerprints(docs, text_col, id_col, k=k, w=w)
    capped = _capped(fp, "fp_hash", "doc_id", max_df).transform(lineage_cut)
    return (
        _pairs(capped)
        .filter(F.col("n_co") >= min_shared)
        .select(
            F.col("i").alias("doc_a"),
            F.col("j").alias("doc_b"),
            F.col("n_co").alias("n_shared"),
        )
    )
