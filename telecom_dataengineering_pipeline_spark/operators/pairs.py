"""Co-occurrence pairs: the one generator behind every "pairs of items
that share a group, counted" operator.

The market-basket rules and item-item cosine (``market.py``), the
neighborhood Jaccard and Adamic–Adar link predictors (``graph.py``, where
the group is the shared neighbor), the shingle and winnowing near-dup
joins (``llmprep/dedup.py``) and the co-purchase edge builders all reduce
to the same step: take a distinct ``(group, item)`` relation, drop groups
with more than ``max_group`` items, and count every unordered item pair
``i < j`` once per group that holds both. Each caller keeps what differs
in meaning — which items enter (and making them distinct), when its
per-side totals are counted, and the score and threshold on top of
``n_co``.

Shape: a self-join on the group, elected ``i < j`` so each unordered pair
is counted once, then one map-side-combined aggregate on ``(i, j)``. The
group's item count ``n`` is a window over the group, computed when a cap
or a per-group weight reads it; groups of one item, which pair with
nothing, then leave before the self-join. A sort-merge self-join reuses
the window's exchange and order, and no broadcast of the group counts is
assumed, so the cap holds at any number of groups. Interleaved sf0.1
A/Bs chose this shape (CHANGES.md, the co-occurrence core entry) over
collapsing each group to a sorted array and expanding its pairs with
``transform(slice(...))``, over a group count joined back, and over
dropping duplicate rows inside the core.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _capped(
    rel: DataFrame, group: str, item: str, max_group: int | None = None
) -> DataFrame:
    """``(g, x, n)``: ``rel``'s rows, ``n`` the group's row count, groups
    with more than ``max_group`` rows dropped."""
    capped = rel.select(F.col(group).alias("g"), F.col(item).alias("x")).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    if max_group is not None:
        capped = capped.filter(F.col("n") <= int(max_group))
    return capped


def _pairs(
    rows: DataFrame, weight: Callable[[Column], Column] | None = None
) -> DataFrame:
    """``(i, j, n_co[, w])`` over ``(g, x[, n])`` rows (those of
    :func:`_capped` carry ``n``): ``n_co`` groups hold both ``i < j``;
    ``w`` sums ``weight(n)`` over them."""
    if "n" in rows.columns:
        rows = rows.filter(F.col("n") >= 2)
    a = rows.select("g", F.col("x").alias("i"))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_co")]
    if weight is not None:
        a = rows.select("g", F.col("x").alias("i"), weight(F.col("n")).alias("_w"))
        aggs.append(F.sum("_w").alias("w"))
    b = rows.select("g", F.col("x").alias("j"))
    return a.join(b, "g").filter(F.col("i") < F.col("j")).groupBy("i", "j").agg(*aggs)


def _cooccur(
    rel: DataFrame,
    group: str,
    item: str,
    max_group: int | None = None,
    weight: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """``(i, j, n_co[, w])`` with ``i < j``: how many groups of the
    distinct relation ``rel`` with at most ``max_group`` items hold both
    ``i`` and ``j`` (and the sum of ``weight(n)`` over those groups, ``n``
    the group's item count). With neither a cap nor a weight nothing reads
    ``n``, and the self-join runs on ``rel`` as it is."""
    if max_group is None and weight is None:
        return _pairs(rel.select(F.col(group).alias("g"), F.col(item).alias("x")))
    return _pairs(_capped(rel, group, item, max_group), weight)
