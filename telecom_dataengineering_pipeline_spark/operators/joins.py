"""Join operators.

J1 — fact→dim star join with broadcast hints and 'UNKNOWN' sentinels
(reference ``fact_calls.sql:92-95`` + ``:58-60``). Dimensions are broadcast
explicitly: at 100 TB the fact side must never shuffle for a kilobyte-scale
dim, and an explicit ``F.broadcast`` documents intent even when AQE would pick
it anyway.

J3 — left-join-then-NOT-NULL-filter (net inner; preserved quirk from
``agg_customer_monthly_summary.sql:99-101``).

J6 — referential-integrity anti-join (dbt ``relationships`` test).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_star_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[str] | Column, str]],
) -> DataFrame:
    """LEFT-join each ``(dim, on, how)`` onto the fact, broadcasting the dim."""
    out = fact
    for dim, on, how in dims:
        out = out.join(F.broadcast(dim), on=on, how=how)
    return out


def collapse_dim_snowflake(
    base: DataFrame,
    chain: Sequence[tuple[DataFrame, Sequence[str] | Column, str]],
    keep: Sequence[str],
) -> DataFrame:
    """Pre-join a dim CHAIN (customer→nation→region) into one flat dim.

    A snowflake joined dim-by-dim makes every FACT row probe one hash table
    per level; collapsing first runs the chain at DIM cardinality (thousands
    of rows) and the fact then probes a single broadcast — at 100 TB that is
    N-1 fewer probe passes over the fact and one broadcast instead of N.
    Semantics are unchanged when each level's join key is unique on its
    right side (true for normalized dim chains): left-join composition is
    then associative and row counts never fan out."""
    out = base
    for dim, on, how in chain:
        out = out.join(F.broadcast(dim), on=on, how=how)
    return out.select(*keep)


def left_join_nonnull_filter(
    left: DataFrame, right: DataFrame, on: Sequence[str], nonnull_col: str
) -> DataFrame:
    """LEFT JOIN then WHERE right.col IS NOT NULL — semantically INNER; kept
    as written in the reference."""
    return left.join(right, on=list(on), how="left").filter(
        F.col(nonnull_col).isNotNull()
    )


def anti_join_violations(
    child: DataFrame, parent: DataFrame, fk: Mapping[str, str]
) -> DataFrame:
    """Rows in ``child`` whose FK has no match in ``parent`` (must be empty
    for the relationships test to pass). fk maps child column -> parent column."""
    cond = None
    for c, p in fk.items():
        e = child[c] == parent[p]
        cond = e if cond is None else (cond & e)
    return child.join(parent, on=cond, how="left_anti")


def join_cardinality_estimate(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    top_k: int = 5,
) -> DataFrame:
    """Pre-flight inner-join size forecast — the planner's question
    answered BEFORE the expensive shuffle runs: |A ⋈ B| = Σ_k n_A(k)·n_B(k)
    exactly, plus the skew decomposition that decides between a plain,
    broadcast, salted (``skew.salted_join``), or AQE-split plan. The
    companion to :func:`~..quality.monitors.key_skew_profile` (one-sided
    skew) for the two-sided case where the blow-up is a PRODUCT.

    Scale shape: each side reduces map-side to one count per key — the
    join then runs on the two count relations (distinct-key-sized, not
    row-sized), and the output-size sum, max per-key product, and top-k
    hot keys are metadata aggregates over it. The expensive join itself
    never executes.

    Returns one row per hot key plus rank 0 for the total:
    (rank, key, left_rows, right_rows, pair_rows, share) — rank 0 holds
    totals (key NULL, pair_rows = the full output estimate, left/right
    rows = each side's MATCHED row counts — unmatched keys contribute
    nothing to an inner join), ranks 1..top_k the heaviest keys by
    product with their share of the output. Exact LONG arithmetic
    throughout; share is one double division rounded to 6."""
    key = [F.col(c) for c in on]

    def counts(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(*key).agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{side}")
        )

    cells = counts(left, "l").join(counts(right, "r"), list(on)).select(
        F.concat_ws("|", *[F.col(c).cast("string") for c in on]).alias("key"),
        "n_l",
        "n_r",
        (F.col("n_l") * F.col("n_r")).cast("long").alias("pair_rows"),
    )
    totals = cells.agg(
        F.coalesce(F.sum("n_l"), F.lit(0)).cast("long").alias("left_rows"),
        F.coalesce(F.sum("n_r"), F.lit(0)).cast("long").alias("right_rows"),
        F.coalesce(F.sum("pair_rows"), F.lit(0)).cast("long").alias("pair_rows"),
    )
    top = (
        cells.crossJoin(F.broadcast(totals.select(F.col("pair_rows").alias("_tot"))))
        .orderBy(F.col("pair_rows").desc(), F.col("key").asc())
        .limit(int(top_k))
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.orderBy(F.col("pair_rows").desc(), F.col("key").asc())
    )
    top_rows = top.select(
        rank.cast("int").alias("rank"),
        "key",
        F.col("n_l").alias("left_rows"),
        F.col("n_r").alias("right_rows"),
        "pair_rows",
        F.when(
            F.col("_tot") > 0,
            F.round(F.col("pair_rows").cast("double") / F.col("_tot").cast("double"), 6),
        ).alias("share"),
    )
    total_row = totals.select(
        F.lit(0).cast("int").alias("rank"),
        F.lit(None).cast("string").alias("key"),
        "left_rows",
        "right_rows",
        "pair_rows",
        F.lit(1.0).alias("share"),
    )
    return total_row.unionAll(top_rows)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join with semantics IDENTICAL to the plain join:
    the left (skewed/probe) side gets a deterministic per-row salt in
    [0, salt_factor) and the right (build) side replicates once per salt
    value, so one hot key's rows spread over ``salt_factor`` shuffle
    partitions instead of landing on one straggler task. This is the
    manual form of what AQE's skew-join splitting does adaptively — kept
    as an explicit operator for the cases AQE cannot re-plan (skew known
    a priori, AQE disabled, non-shuffle-stage consumers) and as the
    pattern's executable documentation.

    The salt is a pure function of the left row's key (xxhash64 of the
    key plus a fixed tag, mod salt_factor is WRONG — that would put all
    rows of one key on one salt again; instead the salt hashes a
    uniformly-distributed secondary: ``monotonically_increasing_id`` is
    nondeterministic under retries, so we hash ALL left columns), which
    keeps re-runs and speculative retries consistent. Only ``inner`` and
    ``left`` joins are offered: semi/anti/outer variants need
    per-variant duplicate handling under replication.

    Returns the joined DataFrame with both key columns, salts dropped —
    bit-identical rows to ``left.join(right, left[k]==right[k], how)``."""
    if salt_factor < 1:
        raise ValueError("salt_factor must be >= 1")
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how in ('inner', 'left')")
    salt = F.pmod(
        F.xxhash64(F.lit("salt"), *[F.col(c) for c in left.columns]),
        F.lit(int(salt_factor)),
    ).cast("int")
    lsalted = left.withColumn("__salt", salt)
    rrep = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(int(salt_factor))]))
    )
    cond = (lsalted[left_key] == rrep[right_key]) & (
        lsalted["__salt"] == rrep["__salt"]
    )
    return lsalted.join(rrep, cond, how).drop("__salt")
