"""Text-analysis column expressions: tokenization, shingling, hashing,
quality metrics, language-ID heuristics.

Everything is a JVM-side column expression (higher-order array functions —
``transform``/``filter``/``aggregate`` — not Python UDFs), so text analysis
over 100 TB of documents stays inside whole-stage codegen with zero
serialization overhead.

Cross-engine hashing: 32-bit token/shingle hashes are derived from the first
8 hex chars of MD5 (``conv(substr(md5(x),1,8),16,10)``), which DuckDB can
reproduce exactly (``('0x'||substr(md5(x),1,8))::BIGINT``) — the basis for
oracle-checkable MinHash/SimHash.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..lineage import lineage_cut

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (lowercased)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array.

    NOTE: array-expression form — Catalyst inlines ``toks`` into every
    ``element_at``, re-evaluating the tokenizer O(tokens²) times per row
    when ``toks`` is an unprojected split(). For bulk dedup use
    ``dedup.shingle_stream`` (posexplode + lead), which is ~17× faster on a
    5k-doc corpus; keep this only for small/ad-hoc columns.
    """
    joined = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(joined)


def token_hash32(col: Column) -> Column:
    """Engine-neutral 32-bit hash: int of the first 8 md5 hex chars."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def stopword_ratio(toks: Column) -> Column:
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1))


def distinct_token_ratio(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)).cast("double") / F.greatest(F.size(toks), F.lit(1))


def quality_metrics(text_col: Column | str) -> dict[str, Column]:
    """Length / token / stopword / repetition metrics + composite score
    (the usual pre-training quality-filter features)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    n_tok = F.size(toks)
    avg_word_len = F.when(
        n_tok > 0,
        (F.length(F.regexp_replace(F.lower(F.trim(c)), r"\s+", "")).cast("double") / n_tok),
    )
    sw = stopword_ratio(toks)
    dtr = distinct_token_ratio(toks)
    score = (
        F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
        + F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
        + F.when(dtr >= 0.3, F.lit(1.0)).otherwise(F.lit(0.0))
    ) / 3.0
    return {
        "char_count": F.length(c).cast("long"),
        "token_count": n_tok.cast("long"),
        "avg_word_len": F.round(avg_word_len, 4),
        "stopword_ratio": F.round(sw, 4),
        "distinct_token_ratio": F.round(dtr, 4),
        "quality_score": F.round(score, 4),
    }


# Marker-token vote table for the n-gram language-ID heuristic. On real
# corpora these are per-language character n-grams / stopwords.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}


def langid_votes(toks: Column) -> dict[str, Column]:
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def normalized_fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 over the whitespace/punct-normalized,
    lowercased text — robust exact-dup key (whitespace-insensitive)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.regexp_replace(F.lower(c), r"[^\w\s]", ""), r"\s+", " ")
    return F.md5(F.trim(normalized))


def predicted_lang(toks: Column) -> Column:
    """Argmax of marker votes with the fixed en>es>de>fr>zh preference order
    (ties break toward the earlier language, matching the reference-style
    deterministic CASE)."""
    v = langid_votes(toks)
    ven, ves, vde, vfr, vzh = (v[x] for x in ("en", "es", "de", "fr", "zh"))
    return (
        F.when(ven >= F.greatest(ves, vde, vfr, vzh), F.lit("en"))
        .when(ves >= F.greatest(vde, vfr, vzh), F.lit("es"))
        .when(vde >= F.greatest(vfr, vzh), F.lit("de"))
        .when(vfr >= vzh, F.lit("fr"))
        .otherwise(F.lit("zh"))
    )


def boilerplate_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    max_symbol_ratio: float = 0.4,
    keep_col: str = "clean_text",
) -> DataFrame:
    """Line-level boilerplate stripping (the C4/Trafilatura-style cleanup
    pass): drop lines that are too short (< ``min_words`` words), carry
    too many non-alphanumeric characters (symbol ratio > threshold — nav
    bars, separators, ASCII art), or end without terminal punctuation
    while being ALL-CAPS (headings/menus). The surviving lines rejoin in
    their original order.

    Pure higher-order array expressions over the split lines — no
    explode/regroup round trip (which would shuffle |lines| rows and
    need an order-restoring sort), no UDF: filter+transform run
    element-wise inside whole-stage codegen, so the pass costs one map
    stage at any scale. Every input column passes through untouched, with
    ``clean_text`` plus kept/total line counts added; callers drop docs
    whose kept ratio collapses."""
    lines = F.split(F.col(text_col), "\n")
    words = lambda l: F.size(F.split(F.trim(l), r"\s+"))  # noqa: E731
    sym = lambda l: (  # noqa: E731 - symbol ratio of a line
        F.length(F.regexp_replace(l, r"[A-Za-z0-9\s]", ""))
        / F.greatest(F.length(l), F.lit(1))
    )
    allcaps_heading = lambda l: (  # noqa: E731
        (F.upper(l) == l) & ~F.trim(l).rlike(r"[.!?]$")
    )
    keep = lambda l: (  # noqa: E731
        (words(l) >= min_words)
        & (sym(l) <= max_symbol_ratio)
        & ~allcaps_heading(l)
    )
    kept = F.filter(lines, keep)
    return df.select(
        "*",
        F.array_join(kept, "\n").alias(keep_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus (Robertson–Spärck Jones,
    the Lucene ``(1 + ln((N − df + 0.5)/(df + 0.5)))``-family scorer) —
    the lexical side of retrieval-based decontamination and hard-negative
    mining, next to the embedding tier's dense kNN.

    Scale shape: term frequencies come from ONE explode → filter-to-query
    → (doc, term) count (the filter keeps only |query| terms — the
    explode never shuffles the full token stream); document frequencies
    aggregate that tiny relation further and BROADCAST (|query| rows);
    per-document length/avgdl are a projection plus one scalar agg.
    Nothing all-pairs, nothing driver-side.

    Determinism (registry conventions): the per-term partial score is
    rounded to 9 dp and cast to DECIMAL before the per-doc sum — double
    addition is order-dependent across partitions, and ln() may differ by
    an ulp across engines; round-then-decimal makes the sum exact and
    engine-stable. Returns the ``top_k`` docs as (doc_id, score,
    n_terms_matched), score rounded to 6."""
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    toks = tokens(F.col(text_col))
    # ONE pass over the text column (the wide thing at corpus scale):
    # per-doc length rides alongside the query-term-filtered explode
    # (explode_outer keeps zero-match docs — avgdl averages over ALL
    # docs). The narrow exploded relation is lazily checkpointed because
    # it feeds THREE aggregates (lengths, corpus via lengths, tf) and
    # Spark re-executes shared subtrees — without it the tokenizer scan
    # would run once per reference.
    base = docs.select(
        F.col(id_col),
        F.size(toks).cast("double").alias("_dl_i"),
        F.explode_outer(
            F.filter(toks, lambda t: t.isin(terms))
        ).alias("_t"),
    ).transform(lineage_cut)
    lengths = base.groupBy(id_col).agg(
        F.first("_dl_i").alias("_dl")
    ).transform(lineage_cut)
    corpus = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    tf = (
        base.filter(F.col("_t").isNotNull())
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    dfreq = tf.groupBy("_t").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "_t")
        .join(lengths, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_norm = F.col("_tf") * (F.lit(k1) + 1.0) / (
        F.col("_tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
    )
    part = F.round(idf * tf_norm, 9).cast("decimal(22,9)")
    return (
        scored.select(F.col(id_col), part.alias("_s"))
        .groupBy(id_col)
        .agg(
            F.round(F.sum("_s").cast("double"), 6).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int | None = None,
) -> DataFrame:
    """Pointwise-mutual-information collocations over adjacent token
    bigrams — the corpus-statistics complement to :func:`bm25_scores`
    (retrieval) and ``curation.bigram_logprob_scores`` (per-doc LM
    scoring): PMI = ln(P(xy) / (P(x)·P(y))) ranks pairs that co-occur
    far above chance ("new york", "machine learning"), the standard
    phrase-mining / tokenizer-vocabulary signal (word2vec's phrase pass).

    Scale shape: the corpus tokenizes ONCE into a lazily-checkpointed
    (doc, position-free) token-array projection feeding BOTH streams —
    Spark re-runs shared subtrees, so without the cut the tokenizer scan
    would execute twice (the bm25/seasonal-index lesson). Unigrams and
    bigrams are each one explode → map-side-combined count; ``min_count``
    prunes the bigram tail BEFORE the unigram join (anti-monotone: a
    bigram's count bounds both unigrams' from below, so the join is
    against frequent bigrams only), and the two unigram lookups join on
    the pruned relation.

    Determinism: all counts are exact integers; PMI is ONE deterministic
    double expression per surviving row (ln of a ratio of integer-cast
    doubles, identical shape cross-engine) — no float accumulation
    anywhere, so no decimal recipe needed. Returns (token_a, token_b,
    pair_count, count_a, count_b, n_bigrams, n_tokens, pmi) rounded to
    6, ``top_k`` by (pmi desc, pair) if given."""
    if min_count < 1:
        raise ValueError("pmi_collocations needs min_count >= 1")
    toks = docs.select(tokens(F.col(text_col)).alias("_a")).filter(
        F.size("_a") > 0
    ).transform(lineage_cut)
    uni = (
        toks.select(F.explode("_a").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(lineage_cut)
    )
    # Single-token docs (including empty/whitespace text, which tokenizes
    # to ['']) emit NO bigrams: sequence(1, size-1) with size==1 would
    # produce the DESCENDING [1, 0] and element_at(_, 0)/(_, 2) both throw
    # under ANSI mode, so the bigram stream filters to size >= 2 first.
    # Totals below still run over ALL non-empty-token-array docs — a
    # 1-token doc contributes 1 to n_tokens and 0 to n_bigrams, exactly
    # like DuckDB's generate_series(1, 0) == empty in the oracle.
    bigrams = toks.filter(F.size("_a") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_a") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_a"), i.cast("int")).alias("a"),
                    F.element_at(F.col("_a"), (i + 1).cast("int")).alias("b"),
                ),
            )
        ).alias("bg")
    ).select(F.col("bg.a").alias("token_a"), F.col("bg.b").alias("token_b"))
    pair_counts = (
        bigrams.groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= int(min_count))
    )
    # Totals come straight off the token-array projection: n_bigrams per
    # doc is size−1, so no second pass over the exploded bigram stream.
    totals = toks.agg(
        F.sum(F.size("_a")).cast("long").alias("n_tokens"),
        F.sum(F.size("_a") - 1).cast("long").alias("n_bigrams"),
    )
    ua = uni.select(F.col("t").alias("token_a"), F.col("cnt").alias("count_a"))
    ub = uni.select(F.col("t").alias("token_b"), F.col("cnt").alias("count_b"))
    joined = (
        pair_counts.join(ua, "token_a")
        .join(ub, "token_b")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.round(
        F.log(
            (F.col("pair_count").cast("double") / F.col("n_bigrams").cast("double"))
            / (
                (F.col("count_a").cast("double") / F.col("n_tokens").cast("double"))
                * (F.col("count_b").cast("double") / F.col("n_tokens").cast("double"))
            )
        ),
        6,
    )
    out = joined.select(
        "token_a", "token_b", "pair_count", "count_a", "count_b",
        "n_bigrams", "n_tokens", pmi.alias("pmi"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("pmi").desc(), F.col("token_a").asc(), F.col("token_b").asc()
        ).limit(int(top_k))
    return out


def vocab_richness(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus lexical-richness profile — the one-row health check over
    the vocabulary the tokenizer tier builds (:func:`~..llmprep.curation
    .vocab_topk` lists the head; this grades the SHAPE): token count N,
    vocabulary size V, type-token ratio, hapax/dis legomena counts and
    the hapax share — the classic signals for boilerplate-heavy (TTR
    collapses) or OCR-noisy (hapax share explodes) corpora.

    Scale shape: one tokenize-and-explode pass → a token-keyed count
    (map-side combined) → a frequency-of-frequency rollup
    (metadata-sized) → one scalar fold. The corpus is read once.

    Determinism: every output is an exact LONG except the two ratios,
    which are single fixed-shape doubles rounded to 6. Tokenization is
    the module's whitespace/lowercase convention. Returns one row:
    (n_tokens, vocab_size, ttr, hapax_count, dis_count, hapax_share).
    """
    toks = docs.select(
        F.explode(tokens(F.col(text_col))).alias("_t")
    ).filter(F.col("_t") != "")
    counts = toks.groupBy("_t").agg(F.count(F.lit(1)).cast("long").alias("_c"))
    fof = counts.groupBy("_c").agg(F.count(F.lit(1)).cast("long").alias("_v"))
    agg = fof.groupBy().agg(
        F.sum(F.col("_c") * F.col("_v")).cast("long").alias("n_tokens"),
        F.sum("_v").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("_c") == 1, F.col("_v")).otherwise(0))
        .cast("long")
        .alias("hapax_count"),
        F.sum(F.when(F.col("_c") == 2, F.col("_v")).otherwise(0))
        .cast("long")
        .alias("dis_count"),
    )
    n = F.col("n_tokens").cast("double")
    vsz = F.col("vocab_size").cast("double")
    return agg.select(
        "n_tokens",
        "vocab_size",
        F.when(F.col("n_tokens") > 0, F.round(vsz / n, 6)).alias("ttr"),
        "hapax_count",
        "dis_count",
        F.when(
            F.col("vocab_size") > 0,
            F.round(F.col("hapax_count").cast("double") / vsz, 6),
        ).alias("hapax_share"),
    )


def readability_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document — the
    classic readability screen a curation funnel runs next to
    :func:`quality_scores` (too-low ease ≈ OCR noise / code dumps;
    too-high ≈ boilerplate listicles). Syllables use the standard
    vowel-group heuristic with the PER-WORD floor of 1 (a vowelless
    token still counts one syllable); sentences count terminal-
    punctuation runs ``[.!?]+`` with a floor of 1 once the doc has any
    word.

        ease  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
        grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59

    Scale shape: one tokenize pass behind a lazy lineage cut feeds the
    doc-grain projection AND the word explode (whose per-word syllable
    count is a JVM ``regexp_extract_all``+``size`` — no Python); one
    doc-keyed aggregate folds syllables back; the doc grain left-joins
    so zero-word docs emit (0, 0, 0, NULL, NULL) rows.

    Determinism: every count is an exact LONG in both engines (regex is
    the same RE2-safe class pattern); the two scores are fixed-shape
    double expressions with literal coefficients, rounded to 6. Returns
    (doc_id, n_words, n_sentences, n_syllables, flesch_ease,
    fk_grade)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("t"),
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")
        ).cast("long").alias("_raw_sent"),
    ).transform(lineage_cut)
    words = base.select("doc_id", F.explode("t").alias("w"))
    syl_w = F.greatest(
        F.size(F.expr("regexp_extract_all(w, '[aeiouy]+', 0)")).cast("long"),
        F.lit(1).cast("long"),
    )
    per_doc = words.groupBy("doc_id").agg(F.sum(syl_w).cast("long").alias("n_syllables"))
    grain = base.select(
        "doc_id",
        F.size("t").cast("long").alias("n_words"),
        F.when(F.size("t") > 0, F.greatest(F.col("_raw_sent"), F.lit(1).cast("long")))
        .otherwise(F.lit(0).cast("long"))
        .alias("n_sentences"),
    )
    j = grain.join(per_doc, "doc_id", "left")
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    syl = F.col("n_syllables").cast("double")
    ok = F.col("n_words") > 0
    ease = F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (syl / w)
    grade = F.lit(0.39) * (w / s) + F.lit(11.8) * (syl / w) - F.lit(15.59)
    return j.select(
        "doc_id",
        "n_words",
        "n_sentences",
        F.coalesce(F.col("n_syllables"), F.lit(0)).cast("long").alias("n_syllables"),
        F.round(F.when(ok, ease), 6).alias("flesch_ease"),
        F.round(F.when(ok, grade), 6).alias("fk_grade"),
    )


def char_class_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-class composition per document — the OCR-noise / code-
    dump / wrong-script detector next to :func:`quality_scores` and
    :func:`readability_scores`: shares of letters, digits, whitespace,
    punctuation-or-symbol, and everything else. A scanned-PDF artifact
    shows up as a symbol-share spike long before an LM score moves.

    Pure JVM regexp_replace length arithmetic — count(class) =
    len(text) − len(text with the class removed) — one projection, no
    explode, no Python; the class regexes are the same POSIX-safe
    character sets in both engines. Shares are fixed-shape doubles
    rounded to 6; empty docs emit zero counts with NULL shares.
    Returns (doc_id, n_chars, n_letter, n_digit, n_space, n_punct,
    n_other, letter_share, digit_share, space_share, punct_share)."""
    c = F.col(text_col)
    total = F.length(c)

    def n_of(pattern: str) -> Column:
        return (total - F.length(F.regexp_replace(c, pattern, ""))).cast("long")

    letters = n_of("[A-Za-z]")
    digits = n_of("[0-9]")
    spaces = n_of(r"[ \t\n\r]")
    punct = n_of(r"""[!-/:-@\[-`{-~]""")
    cur = docs.select(
        F.col(id_col).alias("doc_id"),
        total.cast("long").alias("n_chars"),
        letters.alias("n_letter"),
        digits.alias("n_digit"),
        spaces.alias("n_space"),
        punct.alias("n_punct"),
    ).withColumn(
        "n_other",
        (
            F.col("n_chars") - F.col("n_letter") - F.col("n_digit")
            - F.col("n_space") - F.col("n_punct")
        ).cast("long"),
    )
    tot = F.col("n_chars").cast("double")
    share = lambda col: F.when(  # noqa: E731
        F.col("n_chars") > 0, F.round(F.col(col).cast("double") / tot, 6)
    )
    return cur.select(
        "doc_id",
        "n_chars",
        "n_letter",
        "n_digit",
        "n_space",
        "n_punct",
        "n_other",
        share("n_letter").alias("letter_share"),
        share("n_digit").alias("digit_share"),
        share("n_space").alias("space_share"),
        share("n_punct").alias("punct_share"),
    )


def rake_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: Sequence[str] = STOPWORDS,
    max_phrase_len: int = 4,
    k: int = 50,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over a corpus: candidate
    phrases are maximal stopword-free token runs (capped at
    ``max_phrase_len`` words — longer runs are skipped, the classic RAKE
    phrase-length parameter); each word scores deg(w)/freq(w) where freq
    counts phrase memberships and deg adds the length of every phrase the
    word appears in (co-occurrence degree, self included); a phrase scores
    the sum of its word scores. Returns the global top-``k`` phrases:
    (phrase, n_occurrences, rake_score).

    Scale shape: ONE posexplode of the tokenizer (corpus-sized, the same
    exchange every text query pays), a doc-keyed cumulative window for
    phrase grouping, then everything is phrase- or vocabulary-grain; word
    scores join back as a broadcast. Determinism: freq/deg are exact
    LONGs; word scores round to 9 and phrase sums fold as DECIMAL(20,9)
    (order-independent); the final top-k orders by (score DESC, phrase
    ASC) — a total order on unique phrase strings — through
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    stop = [s.lower() for s in stopwords]
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    grouped = (
        toks.withColumn("_stop", F.col("tok").isin(stop).cast("int"))
        .withColumn("_grp", F.sum("_stop").over(w))
        .filter((F.col("_stop") == 0) & (F.col("tok") != ""))
    )
    wp = Window.partitionBy("doc", "_grp")
    capped = (
        grouped.withColumn("_plen", F.count(F.lit(1)).over(wp))
        .filter(F.col("_plen") <= int(max_phrase_len))
        # consumed three times below (word stats, phrase assembly, score
        # fold) — cut the explode+window subtree once
        .transform(lineage_cut)
    )
    wordstats = capped.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("_plen").cast("long").alias("deg"),
    )
    wordstats = wordstats.withColumn(
        "_wscore",
        F.round(F.col("deg").cast("double") / F.col("freq").cast("double"), 9),
    )
    phrases = capped.groupBy("doc", "_grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase")
    )
    pscore = (
        capped.join(F.broadcast(wordstats.select("tok", "_wscore")), "tok")
        .groupBy("doc", "_grp")
        .agg(F.sum(F.col("_wscore").cast("decimal(20,9)")).alias("_s"))
    )
    return (
        phrases.join(pscore, ["doc", "_grp"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.round(F.max("_s").cast("double"), 6).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(int(k))
    )


def textrank_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: Sequence[str] = STOPWORDS,
    window: int = 2,
    iters: int = 3,
    k: int = 20,
) -> DataFrame:
    """TextRank keyword ranking (Mihalcea & Tarau 2004): PageRank over
    the word co-occurrence graph — words are nodes, undirected edges
    connect words within ``window`` positions of each other in the
    STOPWORD-FILTERED token sequence (positions re-index after the
    filter, the standard construction), aggregated corpus-wide as a
    distinct edge set. The walk itself is the engine's integer
    fixed-point :func:`~..operators.graph.pagerank_fixed_point`, so
    ranks are exact LONGs — hash-exact cross-engine, no float drift.

    Scale shape: co-occurrence pairs come from ``lead`` columns over one
    doc-keyed sort window (never a positional self-join — linear in
    tokens, not quadratic per doc); the edge set collapses to the
    vocabulary grain before any iteration. Returns the top-``k``
    (word, rank_fp) by rank."""
    from ..operators.graph import pagerank_fixed_point
    from pyspark.sql import Window

    if window < 1:
        raise ValueError("textrank_keywords needs window >= 1")
    stop = [s.lower() for s in stopwords]
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    ).filter((F.col("tok") != "") & ~F.col("tok").isin(stop))
    w = Window.partitionBy("doc").orderBy("pos")
    with_leads = toks.select(
        "tok",
        *[F.lead("tok", d).over(w).alias(f"_l{d}") for d in range(1, window + 1)],
    )
    und = None
    for d in range(1, window + 1):
        one = with_leads.filter(
            F.col(f"_l{d}").isNotNull() & (F.col("tok") != F.col(f"_l{d}"))
        ).select(
            F.least("tok", F.col(f"_l{d}")).alias("a"),
            F.greatest("tok", F.col(f"_l{d}")).alias("b"),
        )
        und = one if und is None else und.unionAll(one)
    und = und.distinct()
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = pagerank_fixed_point(edges, iters=iters)
    return (
        pr.select(F.col("node").alias("word"), "rank_fp")
        .orderBy(F.col("rank_fp").desc(), F.col("word").asc())
        .limit(int(k))
    )


# Default phrase dictionary for phrase_tag_profile: bigram → topic tag.
# Deliberately tiny — the operator's point is the broadcast-dim shape, and
# a real deployment swaps in its own taxonomy table.
PHRASE_TAGS: tuple[tuple[str, str], ...] = (
    ("customer join", "join"),
    ("query join", "join"),
    ("batch scan", "scan"),
    ("row scan", "scan"),
    ("merge group", "merge"),
    ("table merge", "merge"),
    ("slow query", "perf"),
    ("slow key", "perf"),
)


def phrase_tag_profile(
    docs: DataFrame,
    dictionary: Sequence[tuple[str, str]] = PHRASE_TAGS,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Tag documents by dictionary phrases (bigram → tag) and profile hit
    volume per (corpus source, tag) — the domain-taxonomy classifier of a
    curation stack (which feeds carry how much of each topic).

    The scale pattern is the point: the phrase dictionary is a SMALL
    side explicitly broadcast onto the corpus bigram stream, so the
    corpus-sized side never shuffles for the join — at 100 TB the bigram
    stream stays partitioned by document (the shingle spine's layout) and
    each executor probes an in-memory dictionary hash map. Multiplicity
    is kept (a doc mentioning a phrase five times counts five hits);
    ``n_docs`` dedups per (source, tag, doc) inside the aggregation.
    """
    from .dedup import shingle_stream

    spark = docs.sparkSession
    dict_df = spark.createDataFrame(list(dictionary), "phrase string, tag string")
    bigrams = shingle_stream(docs, text_col, id_col, n=2, distinct=False)
    sourced = bigrams.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")),
        "doc_id",
    )
    tagged = sourced.join(
        F.broadcast(dict_df), sourced["shingle"] == dict_df["phrase"]
    )
    return tagged.groupBy("source", "tag").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
