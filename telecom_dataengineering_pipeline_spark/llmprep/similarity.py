"""Embedding similarity search: one core, many operators.

Every kNN / ANN operator here is a candidate generator plus a score, and
all of them rank through the same few private helpers:

- generators: ``_vectors`` projects ``(vec_id, *extra, v, nrm)`` once and
  ``_queries`` turns its query rows into ``(query_id, qv, qn, *extra)``
  (small by construction, broadcast at its join). ``_seed_centroids`` /
  ``_nearest_centroids`` assign IVF cells (``n=1``) or a query's
  ``nprobe`` cells; ``_sign_bucket`` gives the sign-LSH bucket, computed in
  the same projection as ``v``; PQ codes come from ``_nearest_codeword``.
- scores: ``_cos`` (cosine, 6-dp rounded wherever it is compared), ``_l2sq``
  for PQ distance tables, and Hamming over packed sign words.
- ranking: ``_topk`` is the one ``row_number`` top-k / argmax
  (``rank`` <= k per key, ties broken by the order columns, ``vec_id``
  ascending last). ``_cosine_topk`` is score → rank for a
  (query, candidate) relation; ``_cell_topk`` feeds it the vectors that
  share a probed cell or bucket; ``_adc_topk`` ranks PQ ADC sums.
- ``_mean_vectors`` is the one decimal-exact per-dimension mean behind
  k-means centroids, label centroids and PQ codebooks.

The candidate step is the scale lever: brute force broadcasts the queries
against the whole corpus, buckets and cells turn that into an equi-join,
PQ replaces raw vectors with codes. Dot products use higher-order array
functions (JVM, codegen) — no UDF.
"""

from __future__ import annotations

from collections.abc import Sequence
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..lineage import iterate, lineage_cut


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm(col: str) -> Column:
    return F.sqrt(_dot(F.col(col), F.col(col)))


def _cos(v1: str, n1: str, v2: str, n2: str) -> Column:
    """Unrounded cosine of two vector columns given their norms."""
    return _dot(F.col(v1), F.col(v2)) / (F.col(n1) * F.col(n2))


def _vectors(emb: DataFrame, id_col: str, vec_col: str, *extra: Column) -> DataFrame:
    """(vec_id, *extra, v, nrm): double vectors and their norms."""
    return emb.select(
        F.col(id_col).alias("vec_id"), *extra, _as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", _norm("v"))


def _queries(vecs: DataFrame, ids: list[int], *extra: Column) -> DataFrame:
    """(query_id, qv, qn, *extra): the query rows of ``_vectors`` output —
    a few rows, broadcast at their join."""
    return vecs.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"),
        *extra,
    )


def _topk(df: DataFrame, key: str, k: int, *order: Column) -> DataFrame:
    """Add ``rank`` (INT, 1-based, by ``order`` within ``key``) and keep
    rank <= k. Spark plans it as a WindowGroupLimit: each partition prunes
    to k rows per key before the window sort."""
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _cosine_topk(cands: DataFrame, k: int) -> DataFrame:
    """Score (query, candidate) pairs — ``qv``/``qn`` against ``v``/``nrm``
    — by 6-dp cosine and keep each query's top k, ties to the lower id:
    (query_id, neighbor_id, cosine, rank)."""
    cos = F.round(_cos("qv", "qn", "v", "nrm"), 6)
    scored = cands.select("query_id", "vec_id", cos.alias("cosine"))
    return _topk(scored, "query_id", k, F.col("cosine").desc(), F.col("vec_id").asc()).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank"
    )


def _cell_topk(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Cosine top-k among the vectors whose ``cell`` is a query's probed
    ``qcell``. The cell equi-join is the only shuffle of the corpus."""
    return _cosine_topk(
        assigned.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        ),
        k,
    )


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self)."""
    vecs = _vectors(embeddings, id_col, vec_col)
    q = _queries(vecs, query_ids)
    return _cosine_topk(vecs.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")), k)


def _sign_bucket(vec_col: str, bits: int) -> Column:
    return F.concat(*[
        F.when(F.element_at(F.col(vec_col), i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(bits)
    ])


def sign_lsh_buckets(
    embeddings: DataFrame,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector the sign-pattern bucket of its first ``bits`` dims."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"), _sign_bucket(vec_col, bits).alias("bucket")
    )


def bucketed_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign bucket; exact
    cosine ranking within the bucket. The equi-join on bucket is the only
    shuffle — this is the shape that survives a 100×-corpus scale-up."""
    vecs = _vectors(embeddings, id_col, vec_col, _sign_bucket(vec_col, bits).alias("cell"))
    return _cell_topk(vecs, _queries(vecs, query_ids, F.col("cell").alias("qcell")), k)


def _seed_centroids(vecs: DataFrame, mod: int) -> DataFrame:
    """(cid, cv, cn): every ``mod``-th vector as a deterministic centroid."""
    return vecs.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )


def _nearest_centroids(vecs: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """The ``n`` max-cosine centroids per vector: broadcast the (tiny)
    centroid table, score, keep the top n (ties to the lower centroid id).
    Returns (vec_id, v, nrm, cell, c_cos)."""
    scored = vecs.join(F.broadcast(cents)).withColumn("c_cos", _cos("v", "nrm", "cv", "cn"))
    return _topk(scored, "vec_id", n, F.col("c_cos").desc(), F.col("cid").asc()).select(
        "vec_id", "v", "nrm", F.col("cid").alias("cell"), "c_cos"
    )


def ivf_assign(
    embeddings: DataFrame,
    centroid_mod: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization with deterministic centroids (every
    ``centroid_mod``-th vector — stands in for k-means training, which is an
    offline job at scale). Assign every vector to its max-cosine centroid.

    The assignment is a broadcast join (centroids are tiny by construction)
    + per-vector argmax — one pass over the corpus, no shuffle of the
    corpus itself."""
    vecs = _vectors(embeddings, id_col, vec_col)
    return _nearest_centroids(vecs, _seed_centroids(vecs, centroid_mod), 1).select(
        "vec_id", "v", "nrm", "cell"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    centroid_mod: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: rank only vectors sharing the query's cell (nprobe=1).
    The cell equi-join is the only shuffle — same shape as the sign-LSH
    variant, but with data-adaptive cells."""
    assigned = ivf_assign(embeddings, centroid_mod, id_col, vec_col)
    return _cell_topk(assigned, _queries(assigned, query_ids, F.col("cell").alias("qcell")), k)


def ivf_probe_cells(
    embeddings: DataFrame,
    query_ids: list[int],
    nprobe: int = 2,
    centroid_mod: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The query side of multi-probe IVF: each query's top-``nprobe`` cells
    by centroid cosine, as (query_id, qv, qn, qcell). Only
    |queries|×|centroids| scores are ranked — a broadcast-sized relation
    regardless of corpus size."""
    vecs = _vectors(embeddings, id_col, vec_col)
    q = vecs.filter(F.col("vec_id").isin(query_ids))
    return _nearest_centroids(q, _seed_centroids(vecs, centroid_mod), nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("cell").alias("qcell"),
    )


def ivf_topk_multiprobe(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    centroid_mod: int = 100,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with the standard recall knob: rank vectors in the query's
    ``nprobe`` nearest cells instead of one. Cells partition the corpus, so
    probing 2 cells exactly doubles candidates — recall rises while the
    equi-join shape (the thing that scales) is unchanged."""
    assigned = ivf_assign(embeddings, centroid_mod, id_col, vec_col)
    probes = ivf_probe_cells(embeddings, query_ids, nprobe, centroid_mod, id_col, vec_col)
    return _cell_topk(assigned, probes, k)


def _mean_vectors(vecs: DataFrame, keys: list[str], vec: str, out: str) -> DataFrame:
    """(*keys, out): the per-dimension mean of ``vec`` within each key
    group. The update is the k-means shape — posexplode to (key, dim)
    partial sums, map-side combined, so only keys×dims aggregate rows
    shuffle and vectors never move. Means sum 7-dp-rounded DECIMALs, so
    they are bit-identical on any engine and any partitioning (float
    summation order would drift)."""
    return (
        vecs.select(*keys, F.posexplode(vec).alias("dim", "val"))
        .groupBy(*keys, "dim")
        .agg(
            (
                F.sum(F.round(F.col("val"), 7).cast("decimal(20,7)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("_dc"))
        .select(*keys, F.transform(F.col("_dc"), lambda s: s.getField("c")).alias(out))
    )


def ivf_kmeans_assign(
    embeddings: DataFrame,
    centroid_mod: int = 100,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization with LEARNED centroids: spherical k-means
    (cosine assignment, per-dimension mean update), Lloyd-iterated ``iters``
    times from the deterministic seed centroids ``ivf_assign`` uses.

    Each round is one broadcast-join assignment pass over the corpus plus a
    (cell, dim)-keyed aggregation whose output is k×dims rows — the update
    never shuffles vectors, only per-dimension partial sums (map-side
    combined). Per-dimension means sum 7-dp-rounded DECIMALs, so the learned
    centroids — and therefore the final assignment — are bit-identical on
    any engine and any partitioning (float summation order would drift).
    At scale this is the standard big-data k-means shape: assignments stay
    on executors, only k×dims aggregates move. Rounds run on
    ``lineage.iterate``, so each round's centroids are a cut.
    """
    vecs = _vectors(embeddings, id_col, vec_col)

    def lloyd(cents: DataFrame) -> DataFrame:
        return (
            _mean_vectors(_nearest_centroids(vecs, cents, 1), ["cell"], "v", "cv")
            .select(F.col("cell").alias("cid"), "cv")
            .withColumn("cn", _norm("cv"))
        )

    cents = iterate(_seed_centroids(vecs, centroid_mod), lloyd, iters)
    return _nearest_centroids(vecs, cents, 1)


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    centroid_mod: int = 100,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k over the LEARNED (spherical-k-means) coarse quantizer:
    train cells with ``ivf_kmeans_assign``, then rank only vectors sharing
    the query's learned cell — the trained-quantizer version of
    ``ivf_topk``. Same single cell-equi-join shuffle; training cost is
    ``iters`` extra corpus passes, amortized across every query batch at
    scale (train once, search many)."""
    assigned = ivf_kmeans_assign(embeddings, centroid_mod, iters, id_col, vec_col)
    return _cell_topk(assigned, _queries(assigned, query_ids, F.col("cell").alias("qcell")), k)


def norm_profile(
    embeddings: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding-norm distribution — the drift monitor an
    embedding pipeline runs per batch (collapsed norms => dead encoder;
    drifting means => distribution shift vs the indexed corpus).

    One pure-map pass (norms are a codegen'd array fold) into one hash agg.
    Mean-of-norms aggregates DECIMAL-cast rounded norms (exact,
    order-independent) and divides once at the end — the registry's
    cross-engine determinism convention.
    """
    nrm = F.round(F.sqrt(_dot(_as_double(F.col(vec_col)), _as_double(F.col(vec_col)))), 6)
    rows = embeddings.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("vec_id"),
        F.size(vec_col).alias("dims"),
        nrm.alias("nrm"),
    )
    return (
        rows.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("dims").cast("int").alias("min_dims"),
            F.max("dims").cast("int").alias("max_dims"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            (
                F.sum(F.col("nrm").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_norm"),
        )
        .select(
            "label", "n_vecs", "min_dims", "max_dims", "min_norm", "max_norm",
            F.round("avg_norm", 6).alias("avg_norm"),
        )
    )


def centroid_outliers(
    embeddings: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bottom_k: int = 5,
) -> DataFrame:
    """Per-label semantic outliers: cosine of every vector to its own
    label's centroid, keeping the ``bottom_k`` least-central vectors per
    label — the mislabeled-example / noisy-cluster sweep a curation
    pipeline runs over embedded training data.

    Centroid update is the k-means shape: posexplode to (label, dim)
    partial sums — map-side combined, only labels×dims aggregate rows ever
    shuffle, vectors themselves move zero times. Means sum 7-dp-rounded
    DECIMALs (order-independent, engine-exact); the tiny centroid table
    broadcasts back onto the corpus for a codegen'd zip_with/aggregate
    cosine, and bottom-k resolves as a WindowGroupLimit per label."""
    emb = embeddings.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    cent = _mean_vectors(emb, ["label"], "v", "cv").withColumn("cn", _norm("cv"))
    # Zero-norm guard: 0/0 is NaN, which sorts LAST ascending in Spark — a
    # degenerate (all-zero) vector would silently vanish from the bottom-k
    # instead of surfacing. nullif makes the cosine NULL and the explicit
    # nulls-first ordering ranks it as the most-outlier row.
    scored = emb.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.round(
            _dot(F.col("v"), F.col("cv"))
            / F.nullif(_norm("v") * F.col("cn"), F.lit(0.0)),
            6,
        ).alias("cosine_to_centroid"),
    )
    return _topk(
        scored, "label", bottom_k, F.col("cosine_to_centroid").asc_nulls_first(),
        F.col("vec_id").asc(),
    ).select("label", "rank", "vec_id", "cosine_to_centroid")


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bound ANN path. Vectors compress to
# m sub-space codeword ids (64 dims × 8 B → 8 small ints ≈ 32× smaller), and
# query-time ranking reads ONLY the codes plus a tiny per-query distance
# table (ADC — asymmetric distance computation). At 100 TB this is what
# makes the vector index fit the cluster: the raw embedding column is read
# once at encode time, never at query time. Compose with the IVF cell join
# (ivf_kmeans_assign) for candidate pruning on top of compression — the
# FAISS IVF-PQ layout; this module keeps the flat-ADC form oracle-checkable.
# ---------------------------------------------------------------------------


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 via three dot products — the expansion keeps every
    operation a proven engine-exact fold (same expression shape as the
    DuckDB oracle: x·x − 2·x·y + y·y)."""
    return _dot(a, a) - F.lit(2.0) * _dot(a, b) + _dot(b, b)


def _pq_codes(
    embeddings: DataFrame, m: int, dims: int, codeword_mod: int, iters: int,
    id_col: str, vec_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sv, cbs, codes): the (vec, sub) stream, the trained codebooks and
    the (vec_id, sub, cid) code relation — the PQ candidate side."""
    # One materialization of the (vec, sub) stream feeds seeding, training,
    # encode AND the query distance tables — four consumers otherwise re-run
    # the scan + posexplode each.
    sv = pq_subvectors(embeddings, m, dims, id_col, vec_col).transform(lineage_cut)
    cbs = pq_codebooks(embeddings, m, dims, codeword_mod, iters, id_col, vec_col, sv=sv)
    return sv, cbs, _nearest_codeword(sv, cbs).select("vec_id", "sub", "cid")


def _distance_table(sv: DataFrame, cbs: DataFrame, ids: list[int]) -> DataFrame:
    """(query_id, sub, cid, d2): every query sub-vector's squared L2 to
    every codeword of its subspace — |queries| × m × k rows."""
    return (
        sv.filter(F.col("vec_id").isin(ids))
        .select(F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qsv"))
        .join(F.broadcast(cbs), "sub")
        .select("query_id", "sub", "cid", _l2sq(F.col("qsv"), F.col("cw")).alias("d2"))
    )


def _adc_sum(d2: Column) -> Column:
    """Σ_sub d² as ``dist2``, summed over 7-dp DECIMALs so the ADC score
    does not depend on partition order."""
    return F.sum(F.round(d2, 7).cast("decimal(20,7)")).cast("double").alias("dist2")


def _adc_topk(adc: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, adc_dist2, rank): the k smallest ADC sums."""
    return _topk(adc, "query_id", k, F.col("dist2").asc(), F.col("vec_id").asc()).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(F.col("dist2"), 6).alias("adc_dist2"),
        "rank",
    )


def pq_subvectors(
    embeddings: DataFrame,
    m: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub, sv): the vector split into ``m`` contiguous sub-spaces
    of ``dims//m`` dimensions — a pure map stage (posexplode of slices)."""
    if dims % m != 0:
        raise ValueError(f"m ({m}) must evenly divide dims ({dims})")
    sd = dims // m
    v = _as_double(F.col(vec_col))
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.array(*[F.slice(v, s * sd + 1, sd) for s in range(m)])).alias(
            "sub", "sv"
        ),
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    dims: int = 64,
    codeword_mod: int = 25,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codewords: int = 16,
    sv: DataFrame | None = None,
) -> DataFrame:
    """Per-subspace codebooks: (sub, cid, cw). Deterministic seeds (every
    ``codeword_mod``-th vector with ``vec_id < codeword_mod*max_codewords``
    — the cap keeps the codebook a FIXED size: real PQ trains k codewords
    per subspace regardless of corpus size, and an uncapped mod-based seed
    set would make the assignment pass O(corpus x corpus/mod) at scale,
    measured 7.5 s vs 1.4 s at sf0.1), then ``iters`` L2 Lloyd rounds.

    Scale shape per round: one broadcast-join assignment pass over the
    (vec, sub) stream plus a (sub, cid, dim)-keyed mean — only
    m × k × sub_dims aggregate rows shuffle, never vectors. Means sum
    7-dp-rounded DECIMALs (order-independent), so codebooks — and every
    downstream code — are bit-identical on any engine or partitioning.
    Rounds run on ``lineage.iterate``, whose last-round cut is the
    codebook both the encode pass and the query distance tables read (no
    exchange reuse spans their projections), so neither re-runs the Lloyd
    chain and its corpus-sized assignment aggregate.
    """
    if sv is None:
        sv = pq_subvectors(embeddings, m, dims, id_col, vec_col)
    cbs = sv.filter(
        (F.col("vec_id") % codeword_mod == 0)
        & (F.col("vec_id") < codeword_mod * max_codewords)
    ).select("sub", F.col("vec_id").alias("cid"), F.col("sv").alias("cw"))
    return iterate(
        cbs, lambda c: _mean_vectors(_nearest_codeword(sv, c), ["sub", "cid"], "sv", "cw"), iters
    )


def _nearest_codeword(sv: DataFrame, cbs: DataFrame) -> DataFrame:
    """Nearest codeword per (vec_id, sub) under squared L2; deterministic
    cid tie-break. Codebooks broadcast, and the argmin is a
    partial-aggregatable ``min_by`` over struct(d2, cid) — the k-way
    candidate fan-out collapses map-side instead of sorting through a
    window shuffle (same winner: struct comparison orders by d2 then cid)."""
    # Precompute the self-dot on each side once: d² = sv² − 2·sv·cw + cw²
    # evaluates ONE interpreted fold per (sub-vector, codeword) pair instead
    # of three — sv² is shared across all k codewords and cw² rides the
    # broadcast. Identical terms, identical combination → bit-identical d².
    left = sv.withColumn("_sv2", _dot(F.col("sv"), F.col("sv")))
    right = cbs.withColumn("_cw2", _dot(F.col("cw"), F.col("cw")))
    j = left.join(F.broadcast(right), "sub").select(
        "vec_id",
        "sub",
        "cid",
        "sv",
        (
            F.col("_sv2")
            - F.lit(2.0) * _dot(F.col("sv"), F.col("cw"))
            + F.col("_cw2")
        ).alias("d2"),
    )
    return (
        j.groupBy("vec_id", "sub")
        .agg(F.min_by(F.struct("cid", "sv"), F.struct("d2", "cid")).alias("_w"))
        .select("vec_id", "sub", F.col("_w.cid").alias("cid"), F.col("_w.sv").alias("sv"))
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 8,
    dims: int = 64,
    codeword_mod: int = 25,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: approximate L2² = Σ_sub d²(query sub-vector, assigned
    codeword), ranked ascending.

    Query-time reads touch ONLY the code relation: the per-query distance
    table (|queries| × m × k codeword distances — tiny) broadcasts onto the
    codes; the Σ_sub reduction sums 7-dp-rounded DECIMALs so the ADC score
    is partition-order-exact; ranking is a WindowGroupLimit top-k. The raw
    embedding column is read only by the (amortized, train-once) codebook /
    encode passes."""
    sv, cbs, codes = _pq_codes(embeddings, m, dims, codeword_mod, iters, id_col, vec_col)
    dt = _distance_table(sv, cbs, query_ids)
    adc = (
        codes.join(F.broadcast(dt), ["sub", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(_adc_sum(F.col("d2")))
    )
    return _adc_topk(adc, k)


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    centroid_mod: int = 100,
    m: int = 8,
    dims: int = 64,
    codeword_mod: int = 25,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed — the production vector-index layout (FAISS
    IVFPQ): coarse cells prune candidates to the query's cell, PQ codes
    replace raw vectors for the ADC ranking inside it.

    At 100 TB the code relation is stored PARTITIONED BY cell, so the
    candidate step is a partition-pruned scan of ~1/|cells| of an
    already-32×-compressed index, and the per-query distance table is the
    only thing that moves. Here cells come from the deterministic
    ``ivf_assign`` quantizer and codes from ``pq_codebooks`` — both
    broadcast-joined; the corpus shuffles zero times on the query path.
    """
    cells = ivf_assign(embeddings, centroid_mod, id_col, vec_col).select(
        "vec_id", "cell"
    )
    sv, cbs, codes = _pq_codes(embeddings, m, dims, codeword_mod, iters, id_col, vec_col)
    codes = codes.join(cells, "vec_id")
    qcell = cells.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("cell").alias("qcell")
    )
    dt = _distance_table(sv, cbs, query_ids).join(F.broadcast(qcell), "query_id")
    adc = (
        codes.alias("c")
        .join(
            F.broadcast(dt).alias("t"),
            (F.col("c.sub") == F.col("t.sub"))
            & (F.col("c.cid") == F.col("t.cid"))
            & (F.col("c.cell") == F.col("t.qcell"))
            & (F.col("c.vec_id") != F.col("t.query_id")),
        )
        .groupBy(F.col("t.query_id").alias("query_id"), F.col("c.vec_id").alias("vec_id"))
        .agg(_adc_sum(F.col("t.d2")))
    )
    return _adc_topk(adc, k)


def sq8_reconstruction_profile(
    embeddings: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Scalar (int8) quantization quality profile: per-dimension corpus
    [min, max] → 255-step uniform grid, reconstruct, and report per-label
    error stats (max / decimal-exact mean absolute error).

    The SQ path complements PQ: 4× smaller vectors (float32 → uint8) with a
    per-dim codebook of just (lo, scale) — the compression a 100 TB
    embedding store applies before anything else. Shapes: one (dim)-keyed
    bounds aggregate (dims rows), broadcast back onto the exploded value
    stream, one label-keyed error aggregate. Vectors never shuffle. A
    zero-range dimension quantizes to code 0 / exact reconstruction
    (nullif guards the 0/0)."""
    emb = embeddings.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    x = emb.select("label", "vec_id", F.posexplode("v").alias("dim", "val"))
    bounds = x.groupBy("dim").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    scale = (F.col("hi") - F.col("lo")) / F.lit(255.0)
    code = F.coalesce(
        F.round((F.col("val") - F.col("lo")) / F.nullif(scale, F.lit(0.0))),
        F.lit(0.0),
    )
    err = F.abs(F.col("val") - (F.col("lo") + code * scale))
    return (
        x.join(F.broadcast(bounds), "dim")
        .select("label", "vec_id", err.alias("err"))
        .groupBy("label")
        .agg(
            F.count_distinct("vec_id").cast("bigint").alias("n_vecs"),
            F.round(F.max("err"), 9).alias("max_abs_err"),
            F.round(
                F.sum(F.round(F.col("err"), 12).cast("decimal(24,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_abs_err"),
        )
    )


def bitext_mutual_nn(
    embeddings: DataFrame,
    src_label: int,
    tgt_label: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cross-label translation-pair mining: (src, tgt) pairs that are each
    other's nearest neighbor across the two label slices — the mutual-NN
    filter bitext mining pipelines apply before margin scoring (each side's
    best match must agree, which kills hub vectors that are "everyone's
    neighbor").

    Exact brute-force form: one cross-slice similarity matrix, ranked both
    directions on the ROUNDED cosine (6 dp, id tie-break) so every engine
    agrees on ties, then an equi-join keeps mutual pairs. The smaller
    (broadcast) side here is the src slice; at corpus scale the same
    mutual-agreement join composes with the IVF/PQ candidate generators in
    this module instead of the exact matrix — the filter is separable from
    how candidates are produced."""
    e = _vectors(embeddings, id_col, vec_col, F.col(label_col).alias("label"))
    a = e.filter(F.col("label") == src_label).select(
        F.col("vec_id").alias("src_id"), F.col("v").alias("av"), F.col("nrm").alias("an")
    )
    b = e.filter(F.col("label") == tgt_label).select(
        F.col("vec_id").alias("tgt_id"), F.col("v").alias("bv"), F.col("nrm").alias("bn")
    )
    pairs = b.join(F.broadcast(a)).select(
        "src_id", "tgt_id", F.round(_cos("av", "an", "bv", "bn"), 6).alias("cosine")
    )
    by_cos = F.col("cosine").desc()
    best_fwd = _topk(pairs, "src_id", 1, by_cos, F.col("tgt_id").asc()).drop("rank")
    best_rev = _topk(pairs, "tgt_id", 1, by_cos, F.col("src_id").asc()).drop("rank")
    return best_fwd.join(best_rev, ["src_id", "tgt_id", "cosine"]).select(
        "src_id", "tgt_id", "cosine"
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    centroid_mod: int = 100,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (cluster-then-compare): spherical
    k-means partitions the corpus, and candidate pairs form ONLY within a
    cell — the quadratic comparison shrinks from all-pairs to
    Σ|cell|², the same blocking idea as LSH but driven by learned
    clusters, which catch paraphrase-level duplicates exact-shingle
    methods miss. Returns ``(cell, vec1, vec2, cosine)`` for within-cell
    pairs at or above ``threshold``.

    Scale shape: the assignment never shuffles vectors (k×dims aggregates
    only, see ``ivf_kmeans_assign``); the pair join shuffles each vector
    once on its cell id; candidates are verified with the JVM fold dot
    product. Skew guard at 100 TB: cap cell size upstream (split oversized
    cells by re-clustering) — cells here are seed-count bounded."""
    a = ivf_kmeans_assign(
        embeddings, centroid_mod=centroid_mod, iters=iters, id_col=id_col, vec_col=vec_col
    ).transform(lineage_cut)  # one k-means run feeds both join sides
    left, right = a.alias("a"), a.alias("b")
    cos = F.round(_cos("a.v", "a.nrm", "b.v", "b.nrm"), 6)
    return (
        left.join(
            right,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cell").alias("cell"),
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hard_negative_mining(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    ceiling: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard negatives for contrastive/embedding training: for each query,
    the top-k most-similar vectors with a DIFFERENT label, capped below a
    similarity ceiling (a cross-label candidate above it is more likely a
    labeling error or near-duplicate than a useful negative — the standard
    false-negative filter in retrieval training).

    Same scale shape as ``cosine_topk``: the query slice broadcasts, the
    corpus streams through JVM fold dot products, ranks prune with
    WindowGroupLimit. Swap in the IVF/PQ candidate generators for the
    corpus side at scale — the mining filter (label mismatch + ceiling +
    top-k) is separable from how candidates are produced."""
    e = _vectors(embeddings, id_col, vec_col, F.col(label_col).alias("label"))
    q = _queries(e, query_ids, F.col("label").alias("q_label"))
    cos = F.round(_cos("qv", "qn", "v", "nrm"), 6)
    scored = (
        e.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("vec_id").alias("negative_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") < ceiling)
    )
    return _topk(scored, "query_id", k, F.col("cosine").desc(), F.col("negative_id").asc())


def mmr_rerank(
    embeddings: DataFrame,
    query_ids: list[int],
    pool_k: int = 10,
    select_k: int = 3,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedily pick ``select_k``
    results from each query's top-``pool_k`` cosine pool, trading relevance
    against redundancy — score(c) = λ·rel(c) − (1−λ)·max_{s∈selected}
    sim(c, s). The standard diversification step between retrieval and a
    RAG context window (duplicate passages burn context tokens).

    Shape that scales: the pool is ``|queries| × pool_k`` rows (tiny by
    construction — the expensive part is the retrieval that built it, not
    this), so the greedy loop unrolls into ``select_k`` plan stages of
    join + max + deterministic-argmax over the pool, all JVM expressions.
    Per-candidate relevances and pairwise sims are rounded to 6 dp before
    use and ties break on vec_id, which makes every pick — and therefore
    the whole greedy trajectory — engine-exact (DuckDB reproduces it
    bit-for-bit from the same unrolled rounds).

    Returns (query_id, selected_id, round, mmr_score); round 1 is the pure
    relevance pick with score λ·rel.
    """
    pool = cosine_topk(embeddings, query_ids, k=pool_k, id_col=id_col, vec_col=vec_col)
    pool = pool.select(
        "query_id", F.col("neighbor_id").alias("cand_id"), F.col("cosine").alias("rel"), "rank"
    ).transform(lineage_cut)  # three+ consumers: don't re-run retrieval per round

    # Pairwise candidate sims within each query's pool (pool_k² per query).
    vecs = _vectors(embeddings, id_col, vec_col)
    pv = pool.join(F.broadcast(vecs), F.col("cand_id") == F.col("vec_id")).select(
        "query_id", "cand_id", "v", "nrm"
    )
    a, b = pv.alias("a"), pv.alias("b")
    sim = _cos("a.v", "a.nrm", "b.v", "b.nrm")
    pairs = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.cand_id") != F.col("b.cand_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.cand_id").alias("c1"),
            F.col("b.cand_id").alias("c2"),
            F.round(sim, 6).alias("sim"),
        )
        .transform(lineage_cut)  # reused by every round after the first
    )

    # Score arithmetic is exact DECIMAL — λ·rel − (1−λ)·max_sim lands on a
    # half-point at 6 dp often enough (0.7×0.371485 = 0.2600395) that
    # double round() diverges across engines (HALF_UP on the decimal repr
    # vs rounding the binary value). DECIMAL(3,2)×DECIMAL(8,6) is exact at
    # scale 8; no rounding ever happens, the double cast at the edge is
    # value-preserving, and the argmax orders on the exact score.
    lam_d = F.lit(f"{lam:.2f}").cast("decimal(3,2)")
    one_m = F.lit(f"{1.0 - lam:.2f}").cast("decimal(3,2)")
    rel_d = F.col("rel").cast("decimal(8,6)")
    # Round 1: pure relevance (the pool's rank already encodes the
    # rounded-rel + id tie-break ordering).
    selected = pool.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("cand_id").alias("selected_id"),
        F.lit(1).alias("round"),
        (lam_d * rel_d).cast("double").alias("mmr_score"),
    )
    out = selected
    for r in range(2, select_k + 1):
        sel_ids = out.select("query_id", F.col("selected_id").alias("c2"))
        remaining = pool.join(
            out.select("query_id", F.col("selected_id").alias("cand_id")),
            ["query_id", "cand_id"],
            "left_anti",
        )
        maxsim = (
            pairs.join(sel_ids, ["query_id", "c2"])
            .groupBy("query_id", F.col("c1").alias("cand_id"))
            .agg(F.max("sim").alias("max_sim"))
        )
        scored = remaining.join(maxsim, ["query_id", "cand_id"]).withColumn(
            "score",
            lam_d * rel_d - one_m * F.col("max_sim").cast("decimal(8,6)"),
        )
        pick = _topk(scored, "query_id", 1, F.col("score").desc(), F.col("cand_id").asc()).select(
            "query_id",
            F.col("cand_id").alias("selected_id"),
            F.lit(r).alias("round"),
            F.col("score").cast("double").alias("mmr_score"),
        )
        out = out.unionByName(pick)
    return out


def rrf_fuse(
    results: "Sequence[DataFrame]",
    id_col: str = "doc_id",
    score_col: str = "score",
    rrf_k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) over N
    ranked retrieval lists — the standard hybrid-search combiner for the
    lexical (:func:`~..text.bm25_scores`) and dense (:func:`cosine_topk`
    family) tiers: RRF(d) = Σ_lists 1/(rrf_k + rank_list(d)). Rank-based,
    so the lists' score scales never need calibrating against each other.

    Each input list is ranked by (score desc, id asc) — the tie-break
    makes ranks deterministic — via row_number over the LIST, which is a
    single partition ONLY because retrieval lists are top-k-sized by
    construction (the upstream retrievers did the at-scale work; fusing
    their outputs is metadata-sized). The fused relation unions the
    ranked lists and runs one map-side-combined sum on the id.

    Determinism: each reciprocal is a deterministic double rounded to 9
    dp then decimal-summed (PSI recipe), so the fused score is
    partition-order-free and unrollable into a SQL oracle. Returns
    (id_col, n_lists, rrf_score) with rrf_score rounded to 6, sorted
    desc with (score, id) tie-break when ``top_k`` is given."""
    if not results:
        raise ValueError("rrf_fuse needs at least one result list")
    if rrf_k < 1:
        raise ValueError("rrf_k must be >= 1")
    ranked = []
    w = Window.partitionBy().orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    for df in results:
        ranked.append(
            df.select(
                F.col(id_col),
                F.round(
                    F.lit(1.0)
                    / (F.lit(int(rrf_k)) + F.row_number().over(w)).cast("double"),
                    9,
                )
                .cast("decimal(28,9)")
                .alias("_r"),
            )
        )
    u = ranked[0]
    for r in ranked[1:]:
        u = u.unionAll(r)
    out = u.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.round(F.sum("_r").cast("double"), 6).alias("rrf_score"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("rrf_score").desc(), F.col(id_col).asc()
        ).limit(int(top_k))
    return out


# ---------------------------------------------------------------------------
# Binary (sign) quantization + Hamming search — the 1-bit-per-dimension
# tier below SQ8/PQ: 64-dim float32 vectors compress 32x into two LONG
# words, and candidate generation is xor+popcount, the cheapest distance
# a CPU can compute. The standard two-stage ANN recipe pairs this with an
# exact rerank (cosine_topk over the candidate set).
# ---------------------------------------------------------------------------


def binary_quantize(
    embeddings: DataFrame,
    dims: int = 64,
    word_bits: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pack each vector's sign pattern into ``dims // word_bits`` LONG
    words: bit j of word w is set iff ``vec[w*word_bits + j] > 0``
    (strict — zeros quantize to 0, the convention both engines share).

    Scale shape: one projection over one scan — the packing is a
    literal-unrolled sum of ``when(x > 0, 1 << j)`` terms, pure codegen,
    no explode, no Python. 32-bit words keep every value strictly
    positive in a signed LONG (no 2^63 sign-bit trap — the
    [[spark-cross-engine-gotchas]] overflow rule).

    Returns (id_col, w0..w{n-1})."""
    if dims % word_bits or word_bits < 1 or word_bits > 62:
        raise ValueError("need 1 <= word_bits <= 62 evenly dividing dims")
    words = dims // word_bits
    cols = []
    for w in range(words):
        acc = F.lit(0).cast("long")
        for j in range(word_bits):
            idx = w * word_bits + j + 1  # element_at is 1-based
            acc = acc + F.when(
                F.element_at(F.col(vec_col), idx) > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        cols.append(acc.alias(f"w{w}"))
    return embeddings.select(F.col(id_col), *cols)


def hamming_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dims: int = 64,
    word_bits: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest corpus vectors per query under Hamming distance over
    the sign codes. Exact integer arithmetic end to end: the distance is
    Σ_w popcount(xor(word, query word)) — deterministic cross-engine, so
    this ANN stage (unusually) takes a VALUE-exact oracle.

    Scale shape: codes come from one scan (2 longs per vector); the
    query side filters to the literal id set and BROADCASTS (a few rows);
    the per-query candidate pass is a broadcast nested loop over the
    code relation — the binary-prerank standard — and top-k is a
    WindowGroupLimit rank on (distance, neighbor id). The raw embedding
    column never joins.

    Returns (query_id, neighbor_id, hamming, rank)."""
    if not query_ids:
        raise ValueError("hamming_topk needs at least one query id")
    codes = binary_quantize(embeddings, dims, word_bits, id_col, vec_col)
    words = dims // word_bits
    q = codes.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"w{w}").alias(f"q{w}") for w in range(words)],
    )
    joined = codes.join(
        F.broadcast(q), F.col(id_col) != F.col("query_id"), "inner"
    )
    dist = None
    for w in range(words):
        d = F.bit_count(F.col(f"w{w}").bitwiseXOR(F.col(f"q{w}")))
        dist = d if dist is None else dist + d
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        dist.cast("int").alias("hamming"),
    )
    return _topk(scored, "query_id", int(k), F.col("hamming").asc(), F.col("neighbor_id").asc())


def truncation_recall_profile(
    embeddings: DataFrame,
    query_ids: list[int],
    dims_list: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation audit: for each prefix width d' in
    ``dims_list``, the recall@k of brute-force cosine over the FIRST d'
    dimensions against the full-width ground truth — the measurement
    behind "can we store/search 16 of the 64 dims" (MRL-trained
    embeddings keep recall high under prefix truncation; PCA/random
    ones decay — this profiles which world the corpus lives in). The
    measured sibling of :func:`ann_recall_profile` (which audits an
    index; this audits a REPRESENTATION).

    Shape: one full-width exact top-k (the ground truth) plus one per
    d' over the sliced arrays — each a broadcast of the |query| rows
    over the corpus, the knn baseline shape; recall joins are at the
    (query, neighbor) result grain (metadata-sized).

    Determinism: recall counts are exact integer overlaps of rank-k
    sets whose ties break on neighbor id (the cosine_topk convention);
    the per-d' mean recall divides exact sums, rounded to 6. Returns
    one row per d': (dims, k, n_queries, mean_recall)."""
    if not dims_list:
        raise ValueError("truncation_recall_profile needs at least one width")
    truth = cosine_topk(embeddings, query_ids, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    ).transform(lineage_cut)
    out = None
    for d in sorted(set(int(x) for x in dims_list)):
        if d < 1:
            raise ValueError("widths must be >= 1")
        sliced = embeddings.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        approx = cosine_topk(sliced, query_ids, k, id_col, vec_col).select(
            "query_id", "neighbor_id"
        )
        # the result relations are |query|*k rows — broadcast them so the
        # recall joins never sort-merge metadata-sized sides
        hits = truth.join(
            F.broadcast(approx), ["query_id", "neighbor_id"], "left_semi"
        )
        per_q = truth.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias("_t")
        ).join(
            F.broadcast(
                hits.groupBy("query_id").agg(
                    F.count(F.lit(1)).cast("long").alias("_h")
                )
            ),
            "query_id",
            "left",
        )
        row = per_q.agg(
            F.lit(d).cast("int").alias("dims"),
            F.lit(int(k)).cast("int").alias("k"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(
                F.sum(F.coalesce(F.col("_h"), F.lit(0))).cast("double")
                / F.sum("_t").cast("double"),
                6,
            ).alias("mean_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def kcenter_greedy(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-center greedy coreset selection (farthest-point traversal, the
    2-approximation of the k-center objective): starting from the
    smallest id, repeatedly select the point FARTHEST from the current
    set — the classic diversity-maximizing subset for training-data
    curation and the seeding rule of k-means++ without the randomness.

    Determinism/scale shape: squared L2 distances derive from the same
    left-fold dot product the cosine queries already bit-match across
    engines (d² = |a|² + |b|² − 2·a·b, one expression shape), round to 6
    before comparisons, and break argmax ties by smallest id. Each of
    the k rounds is ONE pass over the lineage-cut point set (running-min
    update against the 1-row broadcast center) plus a top-1
    TakeOrdered — no pairwise matrix ever materializes; at 100 TB this
    is k scans of the embedding table, the standard distributed
    farthest-point sweep. Rounds checkpoint lazily so the unrolled plan
    stays linear in k.

    Returns k rows: (sel_rank, vec_id, dist2) — dist2 the selected
    point's squared distance to the previously selected set (NULL for
    the seed), i.e. the coverage radius² of the first rank−1 centers.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pts = (
        embeddings.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("sq", _dot(F.col("v"), F.col("v")))
        .transform(lineage_cut)
    )

    def d2(sq_col, csq_col, v_col, cv_col):
        raw = sq_col + csq_col - F.lit(2.0) * _dot(v_col, cv_col)
        return F.round(F.greatest(raw, F.lit(0.0)), 6)

    seed = pts.orderBy(F.col("vec_id").asc()).limit(1).transform(lineage_cut)
    picks = [
        seed.select(
            F.lit(1).cast("int").alias("sel_rank"),
            "vec_id",
            F.lit(None).cast("double").alias("dist2"),
        )
    ]
    cur = (
        pts.crossJoin(
            F.broadcast(seed.select(F.col("v").alias("cv"), F.col("sq").alias("csq")))
        )
        .select(
            "vec_id",
            "v",
            "sq",
            d2(F.col("sq"), F.col("csq"), F.col("v"), F.col("cv")).alias("mind"),
        )
        .transform(lineage_cut)
    )
    for r in range(2, k + 1):
        c = (
            cur.orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .transform(lineage_cut)
        )
        picks.append(
            c.select(
                F.lit(r).cast("int").alias("sel_rank"),
                "vec_id",
                F.col("mind").alias("dist2"),
            )
        )
        if r < k:
            cur = (
                cur.crossJoin(
                    F.broadcast(
                        c.select(F.col("v").alias("cv"), F.col("sq").alias("csq"))
                    )
                )
                .select(
                    "vec_id",
                    "v",
                    "sq",
                    F.least(
                        F.col("mind"),
                        d2(F.col("sq"), F.col("csq"), F.col("v"), F.col("cv")),
                    ).alias("mind"),
                )
                .transform(lineage_cut)
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def semdedup_cell_prune(
    embeddings: DataFrame,
    centroid_mod: int = 100,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then prune —
    WITHIN each cluster only — any vector that has a lower-id cluster-mate
    with cosine ≥ ``threshold``. The min-id member of every ε-ball
    survives; comparisons never cross cluster boundaries, which is the
    whole scale trick: the O(n²) cosine matrix becomes Σ|cell|² with
    |cell| ≈ centroid_mod by construction.

    Deterministic keep policy: "exists a LOWER-id near neighbor in the
    cell" (order-independent, engine-reproducible), not the paper's
    greedy-against-kept-only scan — the pruned set differs only for
    chains A~B, B~C, A≁C, where this variant prunes both B and C
    (conservative: never keeps a near-duplicate pair).

    Threshold note: real deployments run ~0.95 on trained encoders; the
    synthetic test embeddings are near-orthogonal (within-cell max cosine
    p99 ≈ 0.46), so the registered query calibrates τ to the corpus.

    The comparison uses the 6-dp ROUNDED cosine so both engines grade
    identical values. One cell equi-join, no cartesian; the centroid
    assignment is a broadcast (see ivf_assign).

    Returns (vec_id, cell, max_lower_cos, pruned) — max_lower_cos NULL
    for vectors with no lower-id cell-mate (always kept).
    """
    # The assignment feeds three consumers (pair left/right + final
    # verdict join); cut the lineage once so the centroid scoring runs
    # once, not three times (house shared-subtree rule).
    assigned = ivf_assign(embeddings, centroid_mod, id_col, vec_col).transform(lineage_cut)
    lower = assigned.select(
        F.col("vec_id").alias("_lid"),
        F.col("v").alias("_lv"),
        F.col("nrm").alias("_ln"),
        F.col("cell").alias("_lcell"),
    )
    cos = F.round(_cos("v", "nrm", "_lv", "_ln"), 6)
    pairs = assigned.join(
        lower,
        (F.col("cell") == F.col("_lcell")) & (F.col("_lid") < F.col("vec_id")),
    ).select("vec_id", cos.alias("_cos"))
    mx = pairs.groupBy("vec_id").agg(F.max("_cos").alias("max_lower_cos"))
    return (
        assigned.select("vec_id", "cell")
        .join(mx, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "max_lower_cos",
            F.coalesce(F.col("max_lower_cos") >= threshold, F.lit(False)).alias(
                "pruned"
            ),
        )
    )


def knn_label_agreement(
    embeddings: DataFrame,
    k: int = 5,
    centroid_mod: int = 100,
    suspect_max: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise audit (confident-learning-lite): for every vector, the
    fraction of its k nearest neighbors (cosine) that share its label.
    Low agreement flags likely mislabeled examples — the standard triage
    pass before training on a labeled corpus.

    Scale path: neighbors are ranked WITHIN the vector's IVF cell only
    (the SemDeDup trick — Σ|cell|² work, cells ≈ centroid_mod, never
    O(n²)); a cell-boundary neighbor miss trades recall for the same
    fan-in reduction every bucketed-ANN query in the registry accepts.
    Ranking grades the 6-dp ROUNDED cosine with the id as tie-break, so
    the neighbor set is engine-reproducible. Vectors alone in their cell
    have no evidence: n_neighbors = 0, agreement NULL, never suspect.

    Returns (vec_id, label, n_neighbors, n_same_label, agreement,
    suspect).
    """
    assigned = ivf_assign(embeddings, centroid_mod, id_col, vec_col).transform(lineage_cut)
    labels = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("label")
    )
    other = assigned.select(
        F.col("vec_id").alias("_oid"),
        F.col("v").alias("_ov"),
        F.col("nrm").alias("_on"),
        F.col("cell").alias("_ocell"),
    )
    cos = F.round(_cos("v", "nrm", "_ov", "_on"), 6)
    pairs = assigned.join(
        other,
        (F.col("cell") == F.col("_ocell")) & (F.col("_oid") != F.col("vec_id")),
    ).select("vec_id", F.col("_oid"), cos.alias("_cos"))
    topk = _topk(pairs, "vec_id", k, F.col("_cos").desc(), F.col("_oid").asc())
    nb = (
        topk.join(labels.withColumnRenamed("vec_id", "_oid").withColumnRenamed(
            "label", "_olabel"), "_oid")
        .join(labels, "vec_id")
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.sum((F.col("_olabel") == F.col("label")).cast("int"))
            .cast("long")
            .alias("n_same_label"),
        )
    )
    agreement = F.round(
        F.col("n_same_label").cast("double") / F.col("n_neighbors"), 6
    )
    return (
        labels.join(nb, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
            F.coalesce("n_same_label", F.lit(0)).cast("long").alias("n_same_label"),
            agreement.alias("agreement"),
            F.coalesce(agreement <= suspect_max, F.lit(False)).alias("suspect"),
        )
    )
