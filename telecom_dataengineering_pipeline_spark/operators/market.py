"""Market-basket association mining — pairwise rules over (basket, item)
relations, the co-purchase analytics tier next to the graph operators
(``graph.py`` treats co-occurrence as edges; this treats it as RULES with
support/confidence/lift semantics).

Every operator here is the co-occurrence core (``pairs._cooccur``) plus
its score. Classic Apriori insight, Spark-first: frequent ITEMS are
computed before any pair is generated (the anti-monotone prune — a pair
can't reach ``min_support`` unless both items do), so the quadratic
per-basket fan-out runs over the pruned item stream only. The remaining
skew knob is basket size: a mega-basket (a crawler account touching every
item) emits |B|²/2 pairs, so ``max_basket_size`` is the core's group cap
on the PRUNED basket (the actual pair fan-out). Surviving baskets' counts
are exact; the cap is a documented coverage bound, not silent truncation.
Item totals are counted before the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..lineage import lineage_cut
from .pairs import _cooccur


def _frequent(
    df: DataFrame, group_col: str, item_col: str, group: str, min_count: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(rel, frequent, pruned)``: the distinct ``(group, item)`` relation
    (cut once: it feeds the item counts and the pruned stream), the items
    held by at least ``min_count`` groups with their count ``n``, and
    ``rel`` restricted to those items (a broadcast join)."""
    rel = (
        df.select(F.col(group_col).alias(group), F.col(item_col).alias("item"))
        .distinct()
        .transform(lineage_cut)
    )
    counts = rel.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n"))
    frequent = counts.filter(F.col("n") >= int(min_count))
    return rel, frequent, rel.join(F.broadcast(frequent.select("item")), "item")


def _both_ways(pairs: DataFrame) -> DataFrame:
    """``(i, j, n_co)`` in both directions from the canonical ``i < j``
    pairs. A map-side explode, not a union of a swapped projection: the
    union's second branch would re-execute the whole pair aggregate (Spark
    does not dedupe shared subtrees); the explode doubles rows inside the
    same stage."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct("i", "j", "n_co"),
                F.struct(F.col("j").alias("i"), F.col("i").alias("j"), "n_co"),
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.n_co")


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Pairwise association rules A → B with support / confidence / lift.

    Pipeline: distinct (basket, item) → item supports → anti-monotone
    prune at ``min_support`` → pair counts from the co-occurrence core
    (each unordered pair counted once) → both rule directions emitted
    from the canonical pair with the item supports joined back via two
    broadcast-sized lookups.

    Scale shape: the only basket-keyed shuffle carries the PRUNED item
    stream; pair counting is one map-side-combined aggregate on the pair
    key; item supports and the basket total are metadata-sized
    broadcasts. Confidence = pair/antecedent and lift = confidence /
    (consequent/n_baskets) are single deterministic double divisions
    from exact integer counts (rounded to 6) — no float accumulation.

    Returns (antecedent, consequent, pair_count, antecedent_count,
    consequent_count, n_baskets, support, confidence, lift), one row per
    DIRECTION, support = pair_count/n_baskets."""
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    bi, frequent, pruned = _frequent(df, basket_col, item_col, "basket", min_support)
    totals = bi.agg(
        F.count_distinct(F.col("basket")).cast("long").alias("n_baskets")
    )
    pairs = _cooccur(pruned, "basket", "item", max_basket_size).filter(
        F.col("n_co") >= int(min_support)
    )
    both = _both_ways(pairs).select(
        F.col("i").alias("antecedent"),
        F.col("j").alias("consequent"),
        F.col("n_co").alias("pair_count"),
    )
    ac = frequent.select(
        F.col("item").alias("antecedent"), F.col("n").alias("antecedent_count")
    )
    cc = frequent.select(
        F.col("item").alias("consequent"), F.col("n").alias("consequent_count")
    )
    out = (
        both.join(F.broadcast(ac), "antecedent")
        .join(F.broadcast(cc), "consequent")
        .crossJoin(F.broadcast(totals))
    )
    nb = F.col("n_baskets").cast("double")
    conf = F.col("pair_count").cast("double") / F.col("antecedent_count").cast("double")
    return out.select(
        "antecedent",
        "consequent",
        "pair_count",
        "antecedent_count",
        "consequent_count",
        "n_baskets",
        F.round(F.col("pair_count").cast("double") / nb, 6).alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(
            conf / (F.col("consequent_count").cast("double") / nb), 6
        ).alias("lift"),
    )


def item_item_cosine_topk(
    df: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 10,
    min_count: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Item–item collaborative filtering: the top-``k`` most similar
    items per item under binary cosine sim(i,j) = |U_i ∩ U_j| /
    √(|U_i|·|U_j|) over the user–item interaction relation — the
    neighborhood model behind "customers who bought X also bought Y".
    Completes the co-occurrence triangle: :func:`association_rules`
    grades pairs as RULES (directional confidence/lift),
    ``graph.neighborhood_jaccard`` as LINK PREDICTION (shared-neighbor
    sets); this ranks NEIGHBORS per item with the cosine that discounts
    blockbuster items (√ of both popularities in the denominator).

    Scale shape: the same prune and core as :func:`association_rules`
    (``max_basket_size`` caps the pruned basket — the hub guard), both
    directions emitted from the canonical pair relation, item counts
    joined back as a broadcast. The final top-k is a
    WindowGroupLimit-prunable row_number over (item, cosine desc).

    Determinism: all counts exact LONGs; cosine is one fixed-shape
    double expression co/√(nᵢ·nⱼ) ROUNDED to 6 and the neighbor rank
    orders by (rounded cosine DESC, neighbor ASC) — rounded-first so
    ulp skew can't flip a rank cross-engine. Returns one row per
    (item, neighbor) with rk ≤ k: (item, neighbor, n_item, n_neighbor,
    n_co, cosine, rk)."""
    if k < 1:
        raise ValueError("item_item_cosine_topk needs k >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    _, frequent, pruned = _frequent(df, user_col, item_col, "user", min_count)
    both = _both_ways(_cooccur(pruned, "user", "item", max_basket_size))
    ni = frequent.select(F.col("item").alias("i"), F.col("n").alias("n_item"))
    nj = frequent.select(F.col("item").alias("j"), F.col("n").alias("n_neighbor"))
    scored = (
        both.join(F.broadcast(ni), "i")
        .join(F.broadcast(nj), "j")
        .withColumn(
            "cosine",
            F.round(
                F.col("n_co").cast("double")
                / F.sqrt(
                    F.col("n_item").cast("double") * F.col("n_neighbor").cast("double")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("i").orderBy(F.col("cosine").desc(), F.col("j").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= int(k))
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            "n_item",
            "n_neighbor",
            "n_co",
            "cosine",
            "rk",
        )
    )


def cohort_overlap_matrix(
    df: DataFrame,
    unit_col: str,
    label_col: str,
) -> DataFrame:
    """Pairwise audience-overlap matrix over a (unit, label) membership
    relation — "how many users who did X also did Y": |A∩B|, Jaccard,
    and lift vs independence, the audience-planning companion of the
    association-rules tier (rules rank directed item pairs by support
    inside baskets; this profiles label AUDIENCES over units).

    Scale shape: memberships dedup to the (unit, label) grain, then the
    co-occurrence core's per-unit label-set fan-out is alphabet-bounded
    (labels per unit ≤ |labels| — event types, segments, plans; NOT
    items), so it needs no cap. Label totals ride a broadcast join;
    nothing quadratic in units.

    Determinism: counts exact; jaccard/lift fixed-shape doubles rounded
    to 6 (lift = n_both·n_units / (n_a·n_b)). Returns one row per
    unordered label pair (label_a < label_b): (label_a, label_b,
    n_both, n_a, n_b, n_units, jaccard, lift)."""
    m = df.select(
        F.col(unit_col).alias("u"), F.col(label_col).alias("l")
    ).distinct().transform(lineage_cut)
    totals = m.groupBy("l").agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_units = m.select("u").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_units")
    )
    pairs = _cooccur(m, "u", "l").select(
        F.col("i").alias("label_a"), F.col("j").alias("label_b"), F.col("n_co").alias("n_both")
    )
    ta = totals.select(F.col("l").alias("label_a"), F.col("n").alias("n_a"))
    tb = totals.select(F.col("l").alias("label_b"), F.col("n").alias("n_b"))
    j = (
        pairs.join(F.broadcast(ta), "label_a")
        .join(F.broadcast(tb), "label_b")
        .crossJoin(F.broadcast(n_units))
    )
    both = F.col("n_both").cast("double")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    return j.select(
        "label_a",
        "label_b",
        "n_both",
        "n_a",
        "n_b",
        "n_units",
        F.round(both / (na + nb - both), 6).alias("jaccard"),
        F.round(both * F.col("n_units").cast("double") / (na * nb), 6).alias("lift"),
    )
