"""Iterative graph analytics: fixed-point PageRank, centrality, and
bounded distances on ONE frontier-relaxation loop (:func:`_relax`, shared
by BFS, closeness and Bellman–Ford). Every loop here except PageRank and
betweenness is a step function run by ``lineage.iterate``, which cuts each
round's state and releases the rounds it supersedes; PageRank cuts no
round, and betweenness keeps every level for its backward pass.

Complements the connected-components tier (``llmprep/dedup.py``
large-star/small-star) with the other workhorse graph primitives. The
link predictors (:func:`neighborhood_jaccard`, :func:`adamic_adar_scores`)
are the co-occurrence core (``pairs._cooccur``, the shared neighbor as
the group) plus their scores.
PageRank's Pregel shape per iteration: contributions flow along edges
(join rank → edges), aggregate at the destination (map-side-combined
sum), recombine with the teleport term — ranks and edges shuffle on node
id, nothing ever collects to the driver, and iterations unroll into one
lazy plan.

Arithmetic is **fixed-point integer** (ranks scaled by ``scale``,
divisions are integer ``div``): float PageRank sums doubles in
partition-dependent order and never reproduces bit-identically across
engines or even across runs; integer arithmetic is exact, associative,
and engine-neutral, so the DuckDB oracle matches hash-exact. Floor
divisions leak ≤1 unit per edge per iteration — bounded, deterministic,
and irrelevant at rank scale 10^12.

Dangling nodes (no out-edges) leak their mass each iteration — the
simplified PageRank variant; both engines compute the same thing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..lineage import iterate, lineage_cut
from .pairs import _cooccur


def parity_encode(key, odd: bool):
    """Long-encode a node id into a parity namespace (even 2k / odd 2k+1)
    so two id spaces ride a graph fixed point as 8-byte longs instead of
    prefixed strings (guide §2.3 — narrower shuffle/join/sort keys; the
    pagerank_purchase_graph recipe, measured 2.3×).

    ASSUMES NON-NEGATIVE KEYS: ``node % 2`` on a negative long is negative
    in Spark, so a negative id would decode into the wrong namespace. Holds
    for every TPC-H key; assert at the call site for any new id space that
    can go negative. This helper and :func:`parity_decode` are the single
    definition both namespaces' queries share, so encode and decode cannot
    drift (ADVICE r12)."""
    k = F.col(key).cast("long") if isinstance(key, str) else key.cast("long")
    return k * 2 + 1 if odd else k * 2


def parity_decode(node_col: str, even_prefix: str, odd_prefix: str):
    """Inverse of :func:`parity_encode` as a label expression
    (``<prefix><id>``), applied on output rows only. Uses integer ``DIV``
    (never ``/``) so the decode is exact past 2^53."""
    n = F.col(node_col)
    return F.when(
        n % 2 == 0,
        F.concat(F.lit(even_prefix), F.expr(f"CAST({node_col} DIV 2 AS STRING)")),
    ).otherwise(
        F.concat(
            F.lit(odd_prefix), F.expr(f"CAST(({node_col} - 1) DIV 2 AS STRING)")
        )
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """``edges``: directed ``(src, dst)`` pairs (dedup them upstream if
    multiplicity should not weight the walk). Returns ``(node, rank_fp)``
    with rank in units of ``scale`` after ``iters`` synchronous
    iterations from a uniform start."""
    # Loop-invariant spine, computed ONCE (localCheckpoint truncates the
    # lineage — without it Spark re-derives the upstream edge construction
    # per iteration): the edge list with its out-degree folded in, so no
    # per-iteration degree join.
    if iters < 1:
        raise ValueError("pagerank needs at least one iteration")
    edges = edges.select("src", "dst").transform(lineage_cut)
    w = Window.partitionBy("src")
    ed = edges.withColumn(
        "outdeg", F.count(F.lit(1)).over(w).cast("long")
    ).transform(lineage_cut)
    teleport = scale * (100 - damping_pct) // 100
    damp = f"({damping_pct} * coalesce(s, CAST(0 AS BIGINT))) div 100"
    # Ranks stay SPARSE between iterations: only nodes with inflow carry a
    # row; a node absent from the inflow relation has rank exactly
    # ``teleport``, which the coalesce reconstructs at the next join — one
    # join + one map-side-combined sum per iteration, nothing else.
    inflow: DataFrame | None = None
    for _ in range(iters):
        if inflow is None:
            contrib = ed.select(
                F.col("dst").alias("node"),
                F.expr(f"{scale} div outdeg").alias("c"),
            )
        else:
            joined = ed.join(inflow, ed["src"] == inflow["node"], "left")
            contrib = joined.select(
                F.col("dst").alias("node"),
                F.expr(f"(({teleport} + {damp})) div outdeg").alias("c"),
            )
        inflow = contrib.groupBy("node").agg(F.sum("c").cast("long").alias("s"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return nodes.join(inflow, "node", "left").select(
        "node",
        (F.lit(teleport) + F.expr(damp)).cast("long").alias("rank_fp"),
    )


def triangle_counts(
    edges: DataFrame, closure_strategy: str = "broadcast"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    ``edges``: distinct undirected pairs ``(u, v)`` with ``u < v`` (one row
    per edge, no self-loops). Returns ``(node, triangles)`` for every node
    participating in at least one triangle (callers left-join if they need
    zero rows for the rest).

    Scale shape — the degree-ordered orientation standard (Suri &
    Vassilvitskii's MR-triangles / Cohen's MapReduce graph kernels): each
    undirected edge is directed from its LOWER-degree endpoint to the
    higher (ties on node id), so every wedge is enumerated exactly once at
    its lowest-degree vertex and the per-node wedge fan-out is bounded by
    the oriented out-degree — O(sqrt(m)) on any graph; a skewed hub never
    enumerates its quadratic neighborhood.

    Plan shape: wedges are generated MAP-SIDE from per-node oriented
    adjacency arrays (one groupBy of the edge list; the pair expansion is
    a JVM higher-order ``transform``/``flatten`` — the wedge multiset,
    which is orders of magnitude bigger than the edge list, is never the
    payload of a shuffle) and flow pipelined into the closure probe. The
    closure side (the edge list keyed by its endpoint pair) broadcasts
    when it fits (``closure_strategy="broadcast"``/small auto), making the
    whole wedge→triangle stage shuffle-free; on edge lists too big to
    broadcast (``"shuffle"``) the semi join shuffles wedges — the honest
    cost floor without an approximate prefilter. Counts are exact
    integers, nothing on the driver either way.
    """
    e = edges.select("u", "v").transform(lineage_cut)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    if closure_strategy == "broadcast":
        # Same smallness regime as the broadcast closure: the degree table
        # is node-count-sized, so folding it in by broadcast keeps the
        # edge list from shuffling twice just to learn its endpoint
        # degrees.
        du, dv = F.broadcast(du), F.broadcast(dv)
    # Orient low→high by (degree, id); (u, v) already has u < v, so the id
    # tie-break is "keep as-is when degrees tie".
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(F.col("du") <= F.col("dv"), F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(F.col("du") <= F.col("dv"), F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    # Per-node sorted oriented adjacency; wedge pairs (b < c) expand
    # map-side inside codegen — no self-join, no wedge-sized shuffle.
    adj = oriented.groupBy(F.col("a").alias("w_a")).agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    wedges = adj.select(
        "w_a",
        F.explode(
            F.flatten(
                F.expr(
                    "transform(nbrs, (x, i) -> "
                    "transform(slice(nbrs, i + 2, size(nbrs)), "
                    "y -> struct(x AS w_b, y AS w_c)))"
                )
            )
        ).alias("bc"),
    ).select("w_a", F.col("bc.w_b").alias("w_b"), F.col("bc.w_c").alias("w_c"))
    # Closure probe: the third side may be oriented either way between b
    # and c — but both are ranked above a, and the UNDIRECTED edge set has
    # u < v, so probe the undirected edges directly.
    closure = e.select(F.col("u").alias("w_b"), F.col("v").alias("w_c"))
    if closure_strategy == "broadcast":
        closure = F.broadcast(closure)
    tris = wedges.join(closure, ["w_b", "w_c"], "left_semi")
    per_node = (
        tris.select(F.col("w_a").alias("node"))
        .unionAll(tris.select(F.col("w_b").alias("node")))
        .unionAll(tris.select(F.col("w_c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return per_node


def label_propagation(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation, made fully
    deterministic: every node adopts the label MOST FREQUENT among its
    neighbors each round, ties broken by the smallest label (classic LPA
    randomizes both the visit order and tie-breaks; that irreproducibility
    is exactly what an oracle-checked engine can't have). Nodes start
    labeled with their own id; isolated-in-this-round nodes keep their
    label.

    ``edges``: undirected distinct pairs (u, v). Returns (node, label)
    after ``iters`` rounds. Per round: one edge⋈label join (shuffle on
    node id) + one (node, label) count + one per-node argmax — all
    map-side-combinable; label state is one row per node, never adjacency-
    sized. Rounds run on ``lineage.iterate``: each round's labels are a
    cut, so the plan stays linear in rounds although a round reads its
    labels twice (edge join + self-vote union).
    """
    if iters < 1:
        raise ValueError("label propagation needs at least one iteration")
    e = edges.select("u", "v")
    both = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(lineage_cut)
    nodes = both.select(F.col("u").alias("node")).distinct().transform(lineage_cut)

    def vote(labels: DataFrame) -> DataFrame:
        # Each node's own current label joins the vote (weight 1): the
        # self-vote damps the 2-cycle oscillation synchronous LPA exhibits
        # on bipartite structure (x and y endlessly swapping labels) while
        # leaving dense-community dominance untouched.
        votes = (
            both.join(labels, both["v"] == labels["node"])
            .select(F.col("u").alias("n"), "label")
            .unionAll(labels.select(F.col("node").alias("n"), "label"))
            .groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count desc, label asc): min of (-count, label) struct.
        winner = votes.groupBy("n").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("w")
        )
        return nodes.join(winner, nodes["node"] == winner["n"], "left").select(
            "node", F.coalesce(F.col("w.label"), F.col("node")).alias("label")
        )

    return iterate(nodes.select("node", F.col("node").alias("label")), vote, iters)


def k_core(edges: DataFrame, k: int, rounds: int = 10) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has degree
    ≥ k) by synchronous peeling: each round drops nodes whose degree in
    the SURVIVING subgraph is < k, together with their edges. Peeling is
    monotone (the survivor set only shrinks), so a fixed ``rounds`` runs
    on ``lineage.iterate`` like the LPA loop — each round is one
    map-side-combined degree count + two semi-joins, nothing collects, and
    each round's surviving edges are a cut (a round reads them twice, so
    an uncut plan would double per round). ``rounds`` bounds the cascade
    depth; on fixture graphs the set stabilizes in a handful of rounds
    (tests pin convergence), and a production caller sizes it like an
    iteration budget.

    ``edges``: undirected distinct pairs (u, v). Returns (node,) rows.
    """
    if k < 1:
        raise ValueError("k-core needs k >= 1")
    e = edges.select("u", "v")
    both = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(lineage_cut)

    def peel(surviving: DataFrame) -> DataFrame:
        deg = (
            surviving.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        return surviving.join(deg, "u", "left_semi").join(
            deg.select(F.col("u").alias("v")), "v", "left_semi"
        )

    surviving = iterate(both, peel, rounds)
    return surviving.select(F.col("u").alias("node")).distinct()


def _undirected(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(both, deg)``: the canonical undirected edge set in both directions
    ``(u, v)``, and each node's degree. Canonicalized defensively: if the
    input carries both (u,v) and (v,u), a bare distinct() keeps both and
    every degree and common-neighbor count would double. The edge set is
    cut once — it fans out into both union arms, the degree count and the
    pair core, and Spark does not dedupe shared subtrees, so without the
    cut the whole upstream edge derivation (often a join/explode pipeline)
    re-executes per reference."""
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(lineage_cut)
    )
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = both.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return both, deg


def neighborhood_jaccard(
    edges: DataFrame,
    max_hub_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Link-prediction features: for every node pair sharing at least
    ``min_common`` neighbors, the Jaccard overlap of their neighborhoods
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the classic common-neighbors score
    (Liben-Nowell & Kleinberg 2003) behind "customers also bought" and
    churn-affinity rollups.

    Scale shape: candidate pairs come from the co-occurrence core
    (``pairs._cooccur``) with the shared neighbor as the group — a wedge
    per common neighbor, never an all-pairs product — counted with a
    map-side-combined aggregate; degrees join back on the node keys.
    ``max_hub_degree`` is the skew guard every production run sets: a hub
    of degree d contributes d²/2 wedges, so super-hubs (the dedup tier's
    ``max_df`` analog) are dropped from WEDGE GENERATION while still
    counting toward each node's own degree (the denominator stays honest).
    Returns (u, v, common, jaccard) with u < v, jaccard rounded to 6 for
    cross-engine hashing.

    ``edges``: undirected distinct pairs (u, v).
    """
    both, deg = _undirected(edges)
    common = _cooccur(both, "v", "u", max_hub_degree).filter(
        F.col("n_co") >= min_common
    )
    da = deg.select(F.col("u").alias("i"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("j"), F.col("deg").alias("deg_b"))
    return (
        common.join(da, "i")
        .join(db, "j")
        .select(
            F.col("i").alias("u"),
            F.col("j").alias("v"),
            F.col("n_co").alias("common"),
            F.round(
                F.col("n_co").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_co")),
                6,
            ).alias("jaccard"),
        )
    )


def _adamic_adar_weight(deg: Column) -> Column:
    """round(1/ln(deg), 9) as DECIMAL: ln() may differ by an ulp across
    engines and double addition is partition-order-dependent, so the sum
    runs over exact decimals (the BM25 recipe). A degree-1 neighbor
    centers no wedge but its weight may still be evaluated — guarded, or
    ANSI mode errors on 1/ln(1)."""
    return (
        F.when(deg >= 2, F.round(F.lit(1.0) / F.log(deg.cast("double")), 9))
        .cast("decimal(22,9)")
    )


def adamic_adar_scores(
    edges: DataFrame,
    max_hub_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003): for node pairs
    sharing neighbors, score Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — the
    common-neighbors count re-weighted so RARE shared neighbors count
    more (two customers sharing a niche part are more alike than two
    sharing a best-seller), the standard upgrade over raw Jaccard for
    "also-bought" ranking.

    Scale shape matches :func:`neighborhood_jaccard`: the same core with
    the same ``max_hub_degree`` guard (hubs stop generating wedges — which
    also caps the d² blowup exactly where 1/ln(deg) says the signal is
    weakest). deg(w) is the shared neighbor's group size in the core, so
    the weight is the core's per-group weight and needs no degree lookup.
    Determinism: see :func:`_adamic_adar_weight`; the per-pair decimal sum
    is exact. Returns (u, v, common, aa_score) with u < v, aa_score
    rounded to 6."""
    both, _ = _undirected(edges)
    return (
        _cooccur(both, "v", "u", max_hub_degree, weight=_adamic_adar_weight)
        .filter(F.col("n_co") >= min_common)
        .select(
            F.col("i").alias("u"),
            F.col("j").alias("v"),
            F.col("n_co").alias("common"),
            F.round(F.col("w").cast("double"), 6).alias("aa_score"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    source_nodes: Sequence,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED SET) —
    the "related to THESE items" ranking behind recommendation candidates
    and seed-expansion labeling, vs. plain PageRank's global centrality:
    the teleport mass lands only on ``source_nodes``, so rank measures
    proximity to the seeds.

    Same fixed-point integer discipline as :func:`pagerank_fixed_point`
    (exact, associative, engine-neutral — unrollable into an oracle), and
    one structural improvement the personalized variant makes natural:
    the rank vector stays SPARSE. Only seed-reachable nodes ever carry a
    row, each iteration is an inner join of edges against the current
    sparse ranks plus one map-side-combined sum, and nodes outside the
    i-hop neighborhood never enter the shuffle at iteration i. The seed
    set is a query parameter (human-sized); it broadcasts as a literal
    IN filter. Iterations run on ``lineage.iterate``, which cuts each
    round's ranks.

    Returns (node, rank_fp) for nodes with rank > 0 (the reachable set),
    rank in units of ``scale``."""
    if iters < 1:
        raise ValueError("personalized_pagerank needs at least one iteration")
    sources = list(source_nodes)
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    edges = edges.select("src", "dst").transform(lineage_cut)
    w = Window.partitionBy("src")
    ed = edges.withColumn(
        "outdeg", F.count(F.lit(1)).over(w).cast("long")
    ).transform(lineage_cut)
    teleport = scale * (100 - damping_pct) // 100
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(lineage_cut)
    )
    base = nodes.filter(F.col("node").isin(sources)).select(
        "node", F.lit(teleport).cast("long").alias("t")
    )

    def walk(rank: DataFrame) -> DataFrame:
        inflow = (
            ed.join(rank, ed["src"] == rank["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(f"({damping_pct} * (rank_fp div outdeg)) div 100").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        return (
            base.join(inflow, "node", "full")
            .select(
                "node",
                (F.coalesce(F.col("t"), F.lit(0)) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("rank_fp"),
            )
            .filter(F.col("rank_fp") > 0)
        )

    # round 0: the teleport mass on every seed
    return iterate(base.withColumnRenamed("t", "rank_fp"), walk, iters)


def hits_scores(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list — the bipartite-flavored centrality PageRank misses: a node that
    LINKS TO many good authorities is a good hub even with zero in-links
    (curation accounts, aggregator cells), and vice versa. Mutual
    recursion: a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), normalized each
    half-step.

    Determinism/oracle discipline follows :func:`pagerank_fixed_point`:
    all mass is INTEGER fixed-point in units of ``scale`` — sums are
    exact and associative (partition-order-free), and the per-half-step
    normalization bounds the vector by the L∞ norm instead of the
    textbook L2 (which would need a sqrt of a cross-partition double
    sum): every score is floor-divided by k = ceil(max/scale), an
    integer computed from the current MAX, so the new max is ≤ scale.
    Crucially this never MULTIPLIES — x·scale/max would overflow LONG
    whenever max·scale ≥ 2⁶³ (in-degree ≥ ~9 at scale 10¹²) — and pure
    div/max over LONGs is engine-exact, so the whole iteration unrolls
    into a DuckDB oracle verbatim. Max-bounded HITS converges to the
    same principal eigenvectors (the norm choice only rescales).

    Scale shape: the edge list is checkpointed once (loop-invariant
    spine); each half-step is one equi-join of edges against the current
    score vector plus one map-side-combined sum; the normalizing max is
    a metadata-sized 1-row broadcast. Scores stay SPARSE — only nodes
    with in-links carry authority rows, only nodes with out-links carry
    hub rows; a full dense vector never materializes. The half-steps run
    on ``lineage.iterate`` (2·iters − 1 of them, ending on authorities),
    which cuts each one; the final hub half-step is cut on its own, since
    the result reads it together with the last authorities.

    Returns (node, hub_fp, auth_fp) — full outer of the two sparse
    vectors, missing side as 0 — after ``iters`` rounds from uniform
    hubs."""
    if iters < 1:
        raise ValueError("hits_scores needs at least one iteration")
    edges = edges.select("src", "dst").transform(lineage_cut)

    def half(v: DataFrame) -> DataFrame:
        """Hubs → authorities or authorities → hubs, by ``v``'s score column:
        out(to) = Σ v(at) over the edges at → to, then normalized."""
        x, at, to, out = (
            ("hub_fp", "src", "dst", "auth_fp")
            if "hub_fp" in v.columns
            else ("auth_fp", "dst", "src", "hub_fp")
        )
        s = (
            edges.join(v, edges[at] == v["node"])
            .select(F.col(to).alias("node"), F.col(x).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias(out))
        )
        mx = s.agg(F.max(out).alias("_mx"))
        k = f"((_mx + CAST({scale - 1} AS BIGINT)) div CAST({scale} AS BIGINT))"
        return s.crossJoin(F.broadcast(mx)).select(
            "node", F.expr(f"{out} div {k}").alias(out)
        )

    hub = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(int(scale)).cast("long").alias("hub_fp"))
        .transform(lineage_cut)
    )
    auth = iterate(hub, half, 2 * iters - 1)
    hub = half(auth).transform(lineage_cut)
    return (
        hub.join(auth, "node", "full")
        .select(
            "node",
            F.coalesce(F.col("hub_fp"), F.lit(0)).cast("long").alias("hub_fp"),
            F.coalesce(F.col("auth_fp"), F.lit(0)).cast("long").alias("auth_fp"),
        )
    )


def _unit_edges(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst) pairs weighted 1, cut: hop counts as path costs."""
    return (
        edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
        .distinct()
        .transform(lineage_cut)
    )


def _relax(e: DataFrame, sources: list, keys: list[str], rounds: int) -> DataFrame:
    """The frontier-relaxation loop under :func:`bfs_hop_distance`,
    :func:`closeness_centrality` and :func:`bellman_ford_distance`. ``e``
    is (src, dst, w), ``w`` integral and non-negative; ``keys`` is
    ``["node"]`` or ``["seed", "node"]``. Returns (*keys, dist): the
    shortest distance per key using at most ``rounds`` edges from the
    ``sources`` that are nodes of ``e`` (distance is defined on the graph).

    A round's state is the merged relation (*keys, _old, _new): the
    distance before the round and the round's best candidate. Both the
    distance relation (least of the two — ≡ the union + min-regroup it
    replaces, since the keys are unique on both sides) and the improved
    frontier are projections of it, so each round pays one join exchange
    + one cut. SPFA-style: round r relaxes OUT of the keys improved in
    round r−1 only (provably equal to full per-round relaxation: every
    shortest ≤r-edge path improves through an improved prefix), so
    settled regions leave the shuffle early.

    Identity-round collapse: once the frontier is empty every remaining
    round is a provable no-op — cand is empty, the full outer join returns
    exactly dist's rows with _new NULL, and least(_old, NULL) = _old — so
    ``lineage.iterate`` stops at the first empty frontier (the result is
    the SAME relation the unrolled rounds produce, so the fixed-round
    oracle contract holds)."""

    def dist(m: DataFrame) -> DataFrame:
        return m.select(*keys, F.least("_old", "_new").alias("dist"))

    def frontier(m: DataFrame) -> DataFrame:
        return m.filter(
            F.col("_old").isNull() | (F.col("_new") < F.col("_old"))
        ).select(*keys, F.col("_new").alias("dist"))

    def relax(m: DataFrame) -> DataFrame:
        f = frontier(m)
        cand = (
            e.join(f, e["src"] == f["node"])
            .select(
                *keys[:-1],
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy(*keys)
            .agg(F.min("dist").alias("dist"))
        )
        return (
            dist(m)
            .select(*keys, F.col("dist").alias("_old"))
            .join(cand.select(*keys, F.col("dist").alias("_new")), keys, "full")
        )

    nodes = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    # Round 0, cut: every seed under every key, its one candidate distance 0.
    start = (
        nodes.filter(F.col("node").isin(sources))
        .distinct()
        .select(
            *(F.col("node").alias(k) for k in keys),
            F.lit(None).cast("long").alias("_old"),
            F.lit(0).cast("long").alias("_new"),
        )
        .transform(lineage_cut)
    )
    return dist(iterate(start, relax, rounds, lambda _, m: frontier(m).isEmpty()))


def bfs_hop_distance(
    edges: DataFrame,
    source_nodes: Sequence[int],
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from a seed set, bounded
    by ``max_hops`` — the reachability primitive under the centrality
    tier (:func:`personalized_pagerank` weighs the neighborhood; this
    MEASURES it: blast-radius of an incident cell, "within 2 hops of a
    known-fraud account", influence-radius features for the linkage
    tier). Directed as given — callers union the reverse edges for
    undirected graphs.

    Scale shape: :func:`_relax` over the distinct edges with unit
    weights — the shortest path using at most ``max_hops`` unit edges IS
    the minimum hop count within ``max_hops`` hops. The frontier stays
    SPARSE (the PPR discipline): round i joins edges against the nodes
    first reached in round i−1 only, and nodes outside the i-hop ball
    never enter any shuffle. At most ``max_hops`` rounds (iteration count
    is a query parameter, the engine's iterative-operator contract); an
    empty frontier ends the loop early with the same result.

    Determinism: hop counts are exact integer minima, so the result is
    set-deterministic regardless of partitioning. Seeds not present in
    the edge relation are dropped (distance is defined on the graph).
    Returns (node, hop) with hop 0 for seeds.
    """
    if max_hops < 1:
        raise ValueError("bfs_hop_distance needs max_hops >= 1")
    sources = list(source_nodes)
    if not sources:
        raise ValueError("bfs_hop_distance needs a non-empty seed set")
    e = _unit_edges(edges)
    dist = _relax(e, sources, ["node"], max_hops)
    return dist.select("node", F.col("dist").cast("int").alias("hop"))


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman): do hubs connect to
    hubs (r > 0) or to the periphery (r < 0)? The one-number structure
    diagnostic above the per-node centrality tier — telecom co-purchase
    and interaction graphs are typically disassortative, and a sign
    flip between snapshots is a data-quality smell in itself. Computed
    as the Pearson correlation of endpoint degrees over the DIRECTED
    doubling of the undirected edge set (each edge contributes (dᵤ,dᵥ)
    and (dᵥ,dᵤ) — the standard symmetric estimator).

    Scale shape: one groupBy counts degrees, two equi-joins decorate
    the doubled edge list with endpoint degrees (degree relation is
    node-sized — broadcastable for dimension-scale graphs, shuffle
    co-partitioned otherwise), and ONE map-side-combined scalar
    aggregate folds the five sums. No window, no iteration.

    Determinism: input edges are defensively canonicalized
    (least/greatest + distinct) so a mixed-orientation feed cannot
    double-count; degrees and all five sums are exact DECIMALs of
    integers (exact while Σd² < 2³⁸-digit headroom — far past any real
    graph); r is one fixed-shape double rounded to 6, NULL when either
    marginal variance is 0 (regular graphs). Returns one row:
    (n_nodes, n_edges, r_assort)."""
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(lineage_cut)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .transform(lineage_cut)
    )
    directed = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    du = deg.select(F.col("node").alias("a"), F.col("deg").alias("_x"))
    dv = deg.select(F.col("node").alias("b"), F.col("deg").alias("_y"))
    pairs = directed.join(du, "a").join(dv, "b").select(
        F.col("_x").cast("decimal(20,0)").alias("_x"),
        F.col("_y").cast("decimal(20,0)").alias("_y"),
    )
    agg = pairs.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("_m"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast("decimal(38,0)")).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast("decimal(38,0)")).alias("_sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast("decimal(38,0)")).alias("_syy"),
    )
    counts = und.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nn = deg.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    j = nn.crossJoin(counts).crossJoin(agg)
    md = F.col("_m").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    varx = md * sxx - sx * sx
    vary = md * syy - sy * sy
    r = F.when(
        (varx > 0) & (vary > 0),
        F.round((md * sxy - sx * sy) / F.sqrt(varx * vary), 6),
    )
    return j.select("n_nodes", "n_edges", r.alias("r_assort"))


def closeness_centrality(
    edges: DataFrame,
    source_nodes: Sequence[int],
    max_hops: int = 4,
) -> DataFrame:
    """Bounded closeness + harmonic centrality for a seed set — how
    CENTRAL is each seed, not just what it reaches
    (:func:`bfs_hop_distance` returns the merged ball; this keeps one
    distance field PER SEED and folds each into the two standard
    centrality numbers): closeness = reached/Σd over the ≤``max_hops``
    ball, harmonic = Σ 1/d (robust to disconnection by construction).

    Scale shape: the BFS it extends, keyed by (seed, node) — :func:`_relax`
    over unit-weight edges with one distance field per seed, so the
    labeled frontier stays sparse and state is O(|seeds| · ball), a
    query-parameter bound, never O(|seeds| · V). At most ``max_hops``
    rounds; an empty frontier ends the loop early with the same result.

    Determinism: distances are exact structural integers; harmonic
    terms 1/d round to 9 then DECIMAL-sum; final ratios are fixed-shape
    doubles rounded to 6. Directed as given — callers union reverse
    edges for undirected graphs. Returns one row per seed present in
    the graph: (seed, n_reached, total_hops, closeness, harmonic);
    closeness NULL when the seed reaches nothing."""
    if max_hops < 1:
        raise ValueError("closeness_centrality needs max_hops >= 1")
    sources = list(source_nodes)
    if not sources:
        raise ValueError("closeness_centrality needs a non-empty seed set")
    e = _unit_edges(edges)
    keys = ["seed", "node"]
    dist = _relax(e, sources, keys, max_hops).select(
        *keys, F.col("dist").cast("int").alias("hop")
    )
    h_term = F.when(
        F.col("hop") > 0,
        F.round(F.lit(1.0) / F.col("hop").cast("double"), 9).cast("decimal(28,9)"),
    ).otherwise(F.lit(0).cast("decimal(28,9)"))
    agg = dist.groupBy("seed").agg(
        F.sum((F.col("hop") > 0).cast("long")).cast("long").alias("n_reached"),
        F.sum("hop").cast("long").alias("total_hops"),
        F.sum(h_term).alias("_h"),
    )
    return agg.select(
        "seed",
        "n_reached",
        "total_hops",
        F.when(
            F.col("total_hops") > 0,
            F.round(
                F.col("n_reached").cast("double") / F.col("total_hops").cast("double"),
                6,
            ),
        ).alias("closeness"),
        F.round(F.col("_h").cast("double"), 6).alias("harmonic"),
    )


def local_clustering_coefficient(
    edges: DataFrame, closure_strategy: str = "broadcast"
) -> DataFrame:
    """Per-node local clustering coefficient cc(v) = 2·T(v)/(d(v)·(d(v)−1))
    over an undirected graph — "how clique-like is each neighborhood", the
    node-level refinement of :func:`triangle_counts` (Watts–Strogatz's
    small-world statistic; averaging it gives the network's clustering
    index).

    ``edges``: distinct undirected pairs (u, v) with u < v. Composes the
    degree-ordered triangle kernel (hub-safe wedge enumeration, see
    :func:`triangle_counts`) with the node-grain degree table: one extra
    metadata-sized left join, so every node emits a row — triangles
    coalesce to 0, cc is NULL for degree < 2 (undefined, never a division
    blow-up). The ratio is ONE fixed-shape double rounded to 6, so a SQL
    oracle verifies it exactly. Returns (node, degree, triangles, cc)."""
    e = edges.select("u", "v").transform(lineage_cut)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tris = triangle_counts(e, closure_strategy=closure_strategy)
    d = F.col("degree").cast("double")
    cc = F.when(
        F.col("degree") >= 2,
        F.round(
            F.lit(2.0) * F.col("triangles").cast("double") / (d * (d - F.lit(1.0))),
            6,
        ),
    )
    return deg.join(tris, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        cc.alias("cc"),
    )


def bellman_ford_distance(
    edges: DataFrame,
    source_nodes: Sequence[int],
    rounds: int = 6,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths — Bellman–Ford relaxation
    bounded to ``rounds`` edges, the weighted upgrade of
    :func:`bfs_hop_distance` (hops treat every edge as 1; real routing /
    affinity costs do not). ``edges`` is (src, dst, w) with INTEGRAL
    non-negative weights — integer sums keep every candidate distance
    and min-election exact, the graph tier's fixed-point discipline.
    Directed as given; union reverse edges for undirected graphs.

    Scale shape: :func:`_relax`, the frontier loop shared with BFS and
    closeness. After R rounds the result is EXACTLY "shortest distance
    using at most R edges" — a deterministic object the oracle unrolls
    to, converged or not (the k-core lesson: never trust convergence, pin
    the round count).

    Returns (node, dist) for nodes within ``rounds`` edges of the seed
    set (seeds at 0). Negative weights are rejected: the edge cut raises
    an error naming the weight and its edge."""
    if rounds < 1:
        raise ValueError("bellman_ford_distance needs rounds >= 1")
    sources = list(source_nodes)
    if not sources:
        raise ValueError("bellman_ford_distance needs a non-empty seed set")
    neg = F.format_string("negative weight w=%s on edge %s -> %s", "w", "src", "dst")
    w = F.when(F.col("w") < 0, F.raise_error(neg)).otherwise(F.col("w").cast("long"))
    e = edges.select("src", "dst", w.alias("w")).transform(lineage_cut)
    return _relax(e, sources, ["node"], rounds)


def bellman_ford_oracle_sql(
    edges_cte: str, seeds_sql: str, rounds: int = 6
) -> str:
    """DuckDB mirror of :func:`bellman_ford_distance`: full per-round
    relaxation unrolled to the SAME round count (provably equal to the
    frontier form round-by-round). ``edges_cte`` must expose
    (src, dst, w); ``seeds_sql`` a relation of seed nodes (node).

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines CTEs by default, so
    an un-materialized edge relation would RE-RUN its (possibly heavy)
    derivation inside every one of the ``rounds`` relaxation joins — at
    sf0.1 the inlined co-purchase self-join spilled >50 GB before the
    hint; materialized, each relation computes once."""
    ctes = [
        f"e AS MATERIALIZED ({edges_cte})",
        f"d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM ({seeds_sql}) "
        "WHERE node IN (SELECT src FROM e UNION SELECT dst FROM e))",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{r-1} "
            f"UNION ALL "
            f"SELECT e.dst AS node, d.dist + e.w AS dist "
            f"FROM d{r-1} d JOIN e ON e.src = d.node) GROUP BY 1)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, dist FROM d{rounds}"
    )


def betweenness_from_seeds(
    edges: DataFrame,
    source_nodes: Sequence[int],
    max_hops: int = 4,
) -> DataFrame:
    """Seed-sampled Brandes betweenness: the exact single-source
    dependency accumulation δ_s(v) = Σ_{w: v∈pred(w)} σ_v/σ_w·(1+δ_s(w))
    run from a SEED SET and truncated at ``max_hops`` — the classic
    "which nodes sit on shortest paths" centrality, restricted the way
    every large-graph deployment restricts it (pivot sampling; Brandes &
    Pich 2007). Returns the UNNORMALIZED dependency sum over the given
    seeds for every reached non-seed pair — exact for those seeds and
    radius, a deterministic object the oracle unrolls to.

    Scale shape: the forward pass is the sparse-frontier BFS
    (``bfs_hop_distance``) carrying exact integer path counts σ (level
    h's σ sums over level h−1 predecessors — finalized at discovery, the
    BFS DAG property); the backward pass walks levels deepest-first,
    joining each level only against the NEXT level's (node, σ, δ) — no
    full-relation joins anywhere, per-level lazy checkpoints. All seeds
    advance simultaneously behind a seed column, so the round count is
    ``max_hops``, not seeds×hops. Determinism: σ is an exact LONG;
    δ terms are one double shape rounded to 9 and folded as
    DECIMAL(28,9). Returns (node, betweenness) over nodes reached from
    any seed (seed self-rows excluded), betweenness rounded to 6."""
    if max_hops < 1:
        raise ValueError("betweenness_from_seeds needs max_hops >= 1")
    seeds = list(source_nodes)
    if not seeds:
        raise ValueError("betweenness_from_seeds needs a non-empty seed set")
    e = edges.select("src", "dst").distinct().transform(lineage_cut)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    lvl0 = (
        nodes.filter(F.col("node").isin(seeds))
        .select(
            F.col("node").alias("s"),
            "node",
            F.lit(1).cast("long").alias("sigma"),
        )
        .transform(lineage_cut)
    )
    levels = [lvl0]
    visited = lvl0.select("s", "node")
    for _h in range(1, max_hops + 1):
        prev = levels[-1]
        cand = (
            prev.join(e, prev["node"] == e["src"])
            .groupBy("s", F.col("dst").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        fresh = cand.join(visited, ["s", "node"], "left_anti").transform(lineage_cut)
        levels.append(fresh)
        visited = visited.unionAll(fresh.select("s", "node")).transform(lineage_cut)
    zero = F.lit(0).cast("decimal(28,9)")
    deltas = levels[-1].select("s", "node", "sigma", zero.alias("delta"))
    acc = [deltas]
    for h in range(max_hops - 1, -1, -1):
        v = levels[h]
        w = deltas.select(
            F.col("s").alias("ws"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
            F.col("delta").alias("wdelta"),
        )
        term = F.round(
            F.col("sigma").cast("double")
            / F.col("wsigma").cast("double")
            * (F.lit(1.0) + F.col("wdelta").cast("double")),
            9,
        ).cast("decimal(28,9)")
        contrib = (
            v.join(e, v["node"] == e["src"])
            .join(
                w,
                (F.col("s") == F.col("ws")) & (e["dst"] == F.col("wnode")),
            )
            .groupBy("s", "node")
            .agg(F.sum(term).alias("_d"))
        )
        deltas = (
            v.join(contrib, ["s", "node"], "left")
            .select(
                "s",
                "node",
                "sigma",
                F.coalesce(F.col("_d"), zero).alias("delta"),
            )
            .transform(lineage_cut)
        )
        acc.append(deltas)
    allrows = acc[0]
    for d in acc[1:]:
        allrows = allrows.unionByName(d)
    return (
        allrows.filter(F.col("node") != F.col("s"))
        .groupBy("node")
        .agg(F.round(F.sum("delta").cast("double"), 6).alias("betweenness"))
    )


def betweenness_oracle_sql(
    edges_cte: str, seeds_sql: str, rounds: int = 4
) -> str:
    """DuckDB mirror of :func:`betweenness_from_seeds`: the same forward
    σ levels and backward δ accumulation unrolled to ``rounds`` (all
    CTEs ``AS MATERIALIZED`` — the Bellman–Ford lesson). ``edges_cte``
    must expose e(src, dst); ``seeds_sql`` a relation (node)."""
    R = rounds
    ctes = [
        f"e AS MATERIALIZED ({edges_cte})",
        f"l0 AS MATERIALIZED (SELECT node AS s, node, CAST(1 AS BIGINT) AS sigma "
        f"FROM ({seeds_sql}) WHERE node IN (SELECT src FROM e UNION SELECT dst FROM e))",
        "vis0 AS MATERIALIZED (SELECT s, node FROM l0)",
    ]
    for h in range(1, R + 1):
        ctes.append(
            f"l{h} AS MATERIALIZED (SELECT c.s, c.node, c.sigma FROM ("
            f"SELECT l.s, e.dst AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma "
            f"FROM l{h-1} l JOIN e ON e.src = l.node GROUP BY 1, 2) c "
            f"ANTI JOIN vis{h-1} v ON v.s = c.s AND v.node = c.node)"
        )
        ctes.append(
            f"vis{h} AS MATERIALIZED (SELECT s, node FROM vis{h-1} "
            f"UNION ALL SELECT s, node FROM l{h})"
        )
    ctes.append(
        f"d{R} AS MATERIALIZED (SELECT s, node, sigma, "
        f"CAST(0 AS DECIMAL(28,9)) AS delta FROM l{R})"
    )
    for h in range(R - 1, -1, -1):
        ctes.append(
            f"d{h} AS MATERIALIZED (SELECT v.s, v.node, v.sigma, "
            f"coalesce(c.d, CAST(0 AS DECIMAL(28,9))) AS delta FROM l{h} v "
            f"LEFT JOIN (SELECT v2.s, v2.node, "
            f"sum(CAST(round(CAST(v2.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE) "
            f"* (1.0 + CAST(w.delta AS DOUBLE)), 9) AS DECIMAL(28,9))) AS d "
            f"FROM l{h} v2 JOIN e ON e.src = v2.node "
            f"JOIN d{h+1} w ON w.s = v2.s AND w.node = e.dst "
            f"GROUP BY 1, 2) c ON c.s = v.s AND c.node = v.node)"
        )
    union = " UNION ALL ".join(
        f"SELECT s, node, delta FROM d{h}" for h in range(R + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, round(CAST(sum(delta) AS DOUBLE), 6) AS betweenness "
        f"FROM ({union}) WHERE node <> s GROUP BY 1"
    )


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    topk: int | None = None,
) -> str:
    """DuckDB mirror of :func:`pagerank_fixed_point` over an arbitrary
    edge relation — the purchase-graph query's unrolled-CTE oracle,
    generalized (same integer fixed-point recurrence, so ranks are
    hash-exact). ``edges_cte`` must expose (src, dst), pre-deduped to
    the same multiset the Spark side feeds."""
    teleport = scale * (100 - damping_pct) // 100
    parts = [
        f"""WITH e AS MATERIALIZED ({edges_cte}),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank_fp FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        prev = "r0" if i == 1 else f"i{i - 1}"
        parts.append(
            f""",
i{i} AS (
  SELECT n.node,
         CAST({teleport} + ({damping_pct} * coalesce(s.s, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank_fp // d.outdeg) AS s
    FROM e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY 1
  ) s ON s.node = n.node
)"""
        )
    tail = f"\nSELECT node, rank_fp FROM i{iters}"
    if topk is not None:
        tail += f" ORDER BY rank_fp DESC, node ASC LIMIT {int(topk)}"
    return "".join(parts) + tail


def community_modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity decomposition of a node labeling:
    for each community c, its additive contribution
    ``q_c = e_c/m − (d_c/2m)²`` (e_c = internal edges, d_c = degree sum,
    m = total edges) — Q = Σ q_c grades the partition (LPA, connected
    components, any labeling). The exact numerator ``4m·e_c − d_c²``
    (integer, = q_c·4m²) rides alongside so the cross-engine comparison
    has an arithmetic-exact pillar next to the one-shape float.

    ``edges``: distinct u<v pairs. ``labels``: (node, label) covering
    every endpoint (labels without edges are kept with e_c = d_c = 0).
    Exactness bound: ``q_num_4m2`` folds in LONG, so the integer pillar
    requires ``4·m·e_c < 2⁶³`` (i.e. m·e_c < 2⁶¹ ≈ 2.3e18 — ~1.5e9 edges
    even when one community holds every edge); beyond that Spark would
    wrap silently while a DuckDB mirror raises on BIGINT overflow. The
    float ``q_contrib`` column has no such bound.
    Shape: one m-fold (1×1 broadcast back — scalar cross
    join, never a Window over the data), two label equi-joins decorating
    the edge list, one doubled-edge degree count, all map-side
    combinable; output grain is |communities|. Callers should cut the
    edge lineage (``localCheckpoint``) before passing it here — the edge
    relation is referenced three times.
    """
    e = edges.select("u", "v")
    lab = labels.select("node", "label").transform(lineage_cut)
    m_df = e.agg(F.count(F.lit(1)).cast("long").alias("_m"))
    lu = lab.select(F.col("node").alias("_nu"), F.col("label").alias("_lu"))
    lv = lab.select(F.col("node").alias("_nv"), F.col("label").alias("_lv"))
    internal = (
        e.join(lu, e["u"] == F.col("_nu"))
        .join(lv, e["v"] == F.col("_nv"))
        .filter(F.col("_lu") == F.col("_lv"))
        .groupBy(F.col("_lu").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("_e"))
    )
    doubled = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = doubled.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    deg_c = (
        deg.join(lab, deg["u"] == lab["node"])
        .groupBy("label")
        .agg(F.sum("_deg").cast("long").alias("_d"))
    )
    members = lab.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    out = (
        members.join(deg_c, "label", "left")
        .join(internal, "label", "left")
        .crossJoin(F.broadcast(m_df))
    )
    e_c = F.coalesce(F.col("_e"), F.lit(0)).cast("long")
    d_c = F.coalesce(F.col("_d"), F.lit(0)).cast("long")
    md = F.col("_m").cast("double")
    half = d_c.cast("double") / (F.lit(2.0) * md)
    q = e_c.cast("double") / md - half * half
    return out.select(
        F.col("label").alias("community"),
        "n_members",
        e_c.alias("internal_edges"),
        d_c.alias("degree_sum"),
        (F.lit(4).cast("long") * F.col("_m") * e_c - d_c * d_c)
        .cast("long")
        .alias("q_num_4m2"),
        # + 0.0 normalizes IEEE negative zero (round(-1e-12, 9) is -0.0 in
        # DuckDB but 0.0 in Spark; the hash requires bit-identity)
        (F.round(q, 9) + F.lit(0.0)).alias("q_contrib"),
    )
