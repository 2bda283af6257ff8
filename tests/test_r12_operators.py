"""Round-8 operator invariants beyond the value-parity gate: two-feature
closed-form OLS (numpy reference, degenerate guards, single-pass plan)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.operators.trend import ols_two_feature


def _fit_numpy(rows):
    X = np.array([[1.0, x1, x2] for x1, x2, _ in rows])
    y = np.array([y for _, _, y in rows])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    sse = float(resid @ resid)
    sst = float(((y - y.mean()) ** 2).sum())
    r2 = 1.0 - sse / sst
    n = len(rows)
    adj = 1.0 - (1.0 - r2) * (n - 1) / (n - 3)
    return beta, r2, adj


def test_ols2_matches_numpy_lstsq(spark):
    rows = [
        (float(q), float(d) / 100.0, 3.0 + 2.5 * q - 40.0 * d / 100.0 + ((q * 7 + d) % 5) * 0.25)
        for q in range(1, 25)
        for d in range(0, 10, 3)
    ]
    df = spark.createDataFrame(
        [("k", *r) for r in rows], "k string, x1 double, x2 double, y double"
    )
    got = ols_two_feature(df, ["k"], "x1", "x2", "y").collect()[0]
    beta, r2, adj = _fit_numpy(rows)
    assert got["n"] == len(rows)
    assert got["b0"] == pytest.approx(beta[0], abs=1e-5)
    assert got["b1"] == pytest.approx(beta[1], abs=1e-5)
    assert got["b2"] == pytest.approx(beta[2], abs=1e-5)
    assert got["r2"] == pytest.approx(r2, abs=1e-6)
    assert got["adj_r2"] == pytest.approx(adj, abs=1e-6)


def test_ols2_perfect_plane_r2_one(spark):
    rows = [(float(i), float(i % 7), 1.0 + 2.0 * i + 3.0 * (i % 7)) for i in range(20)]
    df = spark.createDataFrame(
        [("k", *r) for r in rows], "k string, x1 double, x2 double, y double"
    )
    got = ols_two_feature(df, ["k"], "x1", "x2", "y").collect()[0]
    assert (got["b0"], got["b1"], got["b2"]) == (1.0, 2.0, 3.0)
    assert got["r2"] == 1.0


def test_ols2_degenerate_keys_null_not_blowup(spark):
    rows = (
        # collinear: x2 = 2*x1 -> singular normal matrix
        [("coll", float(i), 2.0 * float(i), float(i)) for i in range(10)]
        # constant features
        + [("const", 1.0, 1.0, float(i)) for i in range(5)]
        # too few points
        + [("tiny", 1.0, 2.0, 3.0), ("tiny", 2.0, 1.0, 4.0)]
    )
    df = spark.createDataFrame(rows, "k string, x1 double, x2 double, y double")
    got = {r["k"]: r for r in ols_two_feature(df, ["k"], "x1", "x2", "y").collect()}
    assert set(got) == {"coll", "const", "tiny"}
    for k in got:
        assert got[k]["b0"] is None and got[k]["r2"] is None, k


def test_ols2_single_pass_plan(spark):
    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 11).cast("double").alias("x1"),
        (F.col("id") % 7).cast("double").alias("x2"),
        (F.col("id") % 13).cast("double").alias("y"),
    )
    plan = (
        ols_two_feature(df, ["k"], "x1", "x2", "y")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one keyed hash aggregate, no window, no join, no Python
    assert "Window" not in plan and "Join" not in plan
    assert "Python" not in plan and "Arrow" not in plan


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM scoring
# ---------------------------------------------------------------------------


def _kn_reference(texts, discount=0.75):
    """Plain-Python absolute-discount KN over whitespace-lowered tokens."""
    import math
    from collections import Counter

    toks = [[w for w in t.lower().split() if w] for t in texts]
    pairs = [(d[i], d[i + 1]) for d in toks for i in range(len(d) - 1)]
    c12 = Counter(pairs)
    ch = Counter()
    n1f = Counter()
    n1b = Counter()
    for (w1, w2), c in c12.items():
        ch[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    B = len(c12)

    def p(w1, w2):
        return max(c12[(w1, w2)] - discount, 0.0) / ch[w1] + (
            discount * n1f[w1] / ch[w1]
        ) * (n1b[w2] / B)

    out = {}
    for i, d in enumerate(toks):
        bs = [(d[j], d[j + 1]) for j in range(len(d) - 1)]
        if not bs:
            out[i] = (0, None, None)
            continue
        s = sum(round(math.log(p(*b)), 9) for b in bs)
        out[i] = (len(bs), round(s / len(bs), 6), round(math.exp(-(s / len(bs))), 6))
    return out, p, ch, n1b, B


def test_kn_scores_match_python_reference(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.curation import (
        kn_bigram_logprob_scores,
    )

    texts = [
        "the cat sat on the mat",
        "the cat ate the fish",
        "dogs chase the cat",
        "solo",  # 1 token: NULL row, not a dropped doc
        "san francisco is in california and san francisco is foggy",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_kn_logprob"], r["kn_perplexity"])
        for r in kn_bigram_logprob_scores(df).collect()
    }
    ref, p, ch, n1b, B = _kn_reference(texts)
    assert got == ref
    # KN normalization identity: for any seen history, the discounted
    # mass plus the redistributed continuation mass sums to 1 over vocab
    vocab = set(n1b) | {w for t in texts for w in t.lower().split()}
    for w1 in ("the", "cat", "san"):
        total = sum(p(w1, w2) for w2 in vocab)
        assert total == pytest.approx(1.0, abs=1e-9)


def test_kn_rejects_bad_discount(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.curation import (
        kn_bigram_logprob_scores,
    )

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="discount"):
        kn_bigram_logprob_scores(df, discount=1.0)


# ---------------------------------------------------------------------------
# Local clustering coefficient
# ---------------------------------------------------------------------------


def test_clustering_coefficient_known_graph(spark):
    from telecom_dataengineering_pipeline_spark.operators.graph import (
        local_clustering_coefficient,
    )

    # triangle 1-2-3 plus pendant 4 on node 1, isolated edge 5-6
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (5, 6)], "u long, v long"
    )
    got = {
        r["node"]: (r["degree"], r["triangles"], r["cc"])
        for r in local_clustering_coefficient(edges).collect()
    }
    # node 1: deg 3, 1 triangle -> cc = 2/(3*2) = 0.333333
    assert got[1] == (3, 1, 0.333333)
    assert got[2] == (2, 1, 1.0) and got[3] == (2, 1, 1.0)
    # pendant and isolated-edge nodes: cc undefined, row still emitted
    assert got[4] == (1, 0, None)
    assert got[5] == (1, 0, None) and got[6] == (1, 0, None)


def test_clustering_coefficient_complete_graph_all_one(spark):
    from telecom_dataengineering_pipeline_spark.operators.graph import (
        local_clustering_coefficient,
    )

    nodes = range(5)
    edges = spark.createDataFrame(
        [(u, v) for u in nodes for v in nodes if u < v], "u long, v long"
    )
    rows = local_clustering_coefficient(edges).collect()
    assert len(rows) == 5
    assert all(r["cc"] == 1.0 and r["triangles"] == 6 and r["degree"] == 4 for r in rows)


# ---------------------------------------------------------------------------
# CUPED adjusted means
# ---------------------------------------------------------------------------


def test_cuped_matches_numpy_and_reduces_variance(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import (
        cuped_adjusted_means,
    )

    # correlated pre/post: y = 2x + arm effect + deterministic noise
    rows = []
    for i in range(200):
        x = float((i * 13) % 50)
        arm = "t" if i % 2 else "c"
        y = 2.0 * x + (5.0 if arm == "t" else 0.0) + float((i * 7) % 11)
        rows.append((arm, x, y))
    df = spark.createDataFrame(rows, "arm string, x double, y double")
    got = {r["arm"]: r for r in cuped_adjusted_means(df, "arm", "x", "y").collect()}

    x = np.array([r[1] for r in rows])
    y = np.array([r[2] for r in rows])
    theta = ((x * y).sum() - x.sum() * y.sum() / len(x)) / (
        (x * x).sum() - x.sum() ** 2 / len(x)
    )
    for arm in ("c", "t"):
        xa = np.array([r[1] for r in rows if r[0] == arm])
        ya = np.array([r[2] for r in rows if r[0] == arm])
        adj = ya - theta * (xa - x.mean())
        assert got[arm]["theta"] == pytest.approx(theta, abs=1e-6)
        assert got[arm]["mean_post"] == pytest.approx(ya.mean(), abs=1e-6)
        assert got[arm]["adj_mean_post"] == pytest.approx(adj.mean(), abs=1e-6)
        assert got[arm]["var_post"] == pytest.approx(ya.var(ddof=1), abs=1e-4)
        assert got[arm]["var_adj"] == pytest.approx(adj.var(ddof=1), abs=1e-4)
        # strongly correlated covariate -> big reduction
        assert got[arm]["var_reduction"] > 0.9
    # the pooled adjustment is mean-zero: weighted adj means == weighted
    # raw means (treatment-effect preserving)
    n_c, n_t = got["c"]["n_units"], got["t"]["n_units"]
    raw = n_c * got["c"]["mean_post"] + n_t * got["t"]["mean_post"]
    adj = n_c * got["c"]["adj_mean_post"] + n_t * got["t"]["adj_mean_post"]
    assert raw == pytest.approx(adj, abs=1e-3)


def test_cuped_degenerate_guards(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import (
        cuped_adjusted_means,
    )

    # constant covariate: theta undefined, means pass through unadjusted
    df = spark.createDataFrame(
        [("c", 1.0, 10.0), ("c", 1.0, 12.0), ("t", 1.0, 20.0), ("t", 1.0, 24.0)],
        "arm string, x double, y double",
    )
    got = {r["arm"]: r for r in cuped_adjusted_means(df, "arm", "x", "y").collect()}
    assert got["c"]["theta"] is None and got["c"]["adj_mean_post"] == 11.0
    assert got["t"]["adj_mean_post"] == 22.0
    # single-unit arm: variance columns NULL, not a blow-up
    df2 = spark.createDataFrame(
        [("c", 1.0, 10.0), ("c", 3.0, 12.0), ("t", 2.0, 20.0)],
        "arm string, x double, y double",
    )
    got2 = {r["arm"]: r for r in cuped_adjusted_means(df2, "arm", "x", "y").collect()}
    assert got2["t"]["n_units"] == 1
    assert got2["t"]["var_post"] is None and got2["t"]["var_adj"] is None


# ---------------------------------------------------------------------------
# Readability scores
# ---------------------------------------------------------------------------


def test_readability_matches_hand_computation(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.text import (
        readability_scores,
    )

    texts = {
        0: "The cat sat. The dog ran!",  # 6 words, 2 sentences
        1: "",  # empty: zero row with NULL scores
        2: "xzzv brr",  # vowelless tokens (y counts as a vowel): floor of 1
        3: "no terminal punctuation here",  # sentence floor of 1
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in readability_scores(df).collect()}

    r = got[0]
    assert (r["n_words"], r["n_sentences"]) == (6, 2)
    # syllables: the(1) cat(1) sat.(1) the(1) dog(1) ran!(1) = 6
    assert r["n_syllables"] == 6
    ease = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    grade = 0.39 * (6 / 2) + 11.8 * (6 / 6) - 15.59
    assert r["flesch_ease"] == pytest.approx(ease, abs=1e-6)
    assert r["fk_grade"] == pytest.approx(grade, abs=1e-6)

    assert got[1]["n_words"] == 0 and got[1]["flesch_ease"] is None
    assert got[2]["n_syllables"] == 2  # floor of 1 per vowelless word
    assert got[3]["n_sentences"] == 1  # floor once words exist


# ---------------------------------------------------------------------------
# Croston's method
# ---------------------------------------------------------------------------


def _croston_reference(series, alpha=0.1):
    """series: demand per step (zeros included). Returns (nd, z, p, fc)."""
    seen = False
    z = p = None
    c = None
    for t, x in enumerate(series):
        if x > 0:
            if seen:
                z = alpha * x + (1 - alpha) * z
                p = alpha * (c + 1) + (1 - alpha) * p
            else:
                z, p, seen = x, float(t + 1), True
            c = 0
        else:
            c = (c if c is not None else 0) + 1
    nd = sum(1 for x in series if x > 0)
    fc = None if not seen or p <= 0 else round(z / p, 6)
    return (nd, round(z, 6) if z is not None else None,
            round(p, 6) if p is not None else None, fc)


def test_croston_matches_python_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import croston_method

    steps = [f"{i:02d}" for i in range(1, 15)]
    series = {
        "a": [0, 0, 5, 0, 0, 0, 3, 0, 4, 0, 0, 6, 0, 0],  # intermittent
        "b": [2, 4, 1, 3, 2, 4, 1, 3, 2, 4, 1, 3, 2, 4],  # dense
        "c": [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 7, 0],  # one demand
        "z": [0] * 14,  # never any demand: NULL state
    }
    rows = [
        (k, steps[t], float(x))
        for k, xs in series.items()
        for t, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "k string, d string, v double")
    got = {
        r["k"]: (r["n_demand_steps"], r["z_final"], r["p_final"], r["croston_forecast"])
        for r in croston_method(df, ["k"], "d", "v", steps).collect()
    }
    for k, xs in series.items():
        ref = _croston_reference(xs)
        assert got[k][0] == ref[0], k
        for gi, ri in zip(got[k][1:], ref[1:]):
            if ri is None:
                assert gi is None, k
            else:
                assert gi == pytest.approx(ri, abs=2e-6), k
    # one-demand key: z = the demand, p = its position
    assert got["c"][1] == 7.0 and got["c"][2] == 13.0


def test_croston_validations(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import croston_method

    df = spark.createDataFrame([("a", "01", 1.0)], "k string, d string, v double")
    with pytest.raises(ValueError, match="two steps"):
        croston_method(df, ["k"], "d", "v", ["01"])
    with pytest.raises(ValueError, match="alpha"):
        croston_method(df, ["k"], "d", "v", ["01", "02"], alpha=1.0)


# ---------------------------------------------------------------------------
# Rolling median + ABC classification
# ---------------------------------------------------------------------------


def test_rolling_median_matches_python(spark):
    from telecom_dataengineering_pipeline_spark.operators.windows import rolling_median

    vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], "k string, d int, v double"
    )
    got = {r["d"]: (r["n_in_window"], r["rolling_median"]) for r in
           rolling_median(df, ["k"], "d", "v", window=3).collect()}
    import statistics
    for i in range(len(vals)):
        w = vals[max(0, i - 2): i + 1]
        assert got[i] == (len(w), round(statistics.median(w), 6)), i
    with pytest.raises(ValueError, match="window"):
        rolling_median(df, ["k"], "d", "v", window=0)


def test_abc_classification_bands_and_shares(spark):
    from telecom_dataengineering_pipeline_spark.operators.windows import (
        abc_classification,
    )

    # one dominant item (70%), one mid (20%), two small (5% each)
    rows = [("big", 70.0), ("mid", 20.0), ("s1", 5.0), ("s2", 5.0)]
    df = spark.createDataFrame(rows, "item string, v double")
    got = {r["item"]: r for r in abc_classification(df, "item", "v").collect()}
    assert got["big"]["abc_class"] == "A" and got["big"]["cum_share"] == 0.7
    assert got["mid"]["abc_class"] == "B" and got["mid"]["cum_share"] == 0.9
    assert got["s1"]["abc_class"] == "B"  # cum 0.95 <= b_cut
    assert got["s2"]["abc_class"] == "C" and got["s2"]["rank"] == 4
    assert sum(r["share"] for r in got.values()) == pytest.approx(1.0, abs=1e-6)
    with pytest.raises(ValueError, match="a_cut"):
        abc_classification(df, "item", "v", a_cut=0.9, b_cut=0.5)


# ---------------------------------------------------------------------------
# Group imputation
# ---------------------------------------------------------------------------


def test_impute_median_and_mean(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import (
        impute_group_stats,
    )

    rows = [
        ("a", 1, 1.0), ("a", 2, 3.0), ("a", 3, 9.0), ("a", 4, None),  # odd n -> 3.0
        ("b", 5, 2.0), ("b", 6, 4.0), ("b", 7, None),  # even n -> 3.0
        ("c", 8, None), ("c", 9, None),  # all-null group: stays NULL
    ]
    df = spark.createDataFrame(rows, "k string, id long, v double")
    med = {r["id"]: (r["value_imputed"], r["was_imputed"]) for r in
           impute_group_stats(df, ["k"], "v", strategy="median").collect()}
    assert med[4] == (3.0, True)
    assert med[7] == (3.0, True)
    assert med[1] == (1.0, False)
    assert med[8] == (None, False) and med[9] == (None, False)

    mean = {r["id"]: r["value_imputed"] for r in
            impute_group_stats(df, ["k"], "v", strategy="mean").collect()}
    assert mean[4] == pytest.approx((1 + 3 + 9) / 3, abs=1e-6)

    with pytest.raises(ValueError, match="strategy"):
        impute_group_stats(df, ["k"], "v", strategy="mode")


# ---------------------------------------------------------------------------
# Bellman-Ford weighted shortest paths
# ---------------------------------------------------------------------------


def test_bellman_ford_matches_dijkstra_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.graph import (
        bellman_ford_distance,
    )

    # weighted graph where the cheapest path is NOT the fewest-hop path:
    # 0->3 direct costs 10; 0->1->2->3 costs 3
    edges = [
        (0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10),
        (3, 4, 2), (1, 4, 9), (5, 6, 1),  # 5-6 unreachable from 0
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node"]: r["dist"] for r in bellman_ford_distance(df, [0], rounds=6).collect()}
    # dijkstra reference
    import heapq
    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist
    assert got[3] == 3 and 5 not in got and 6 not in got


_DISTANCE_FNS = ["bellman_ford_distance", "bfs_hop_distance", "closeness_centrality"]


def _chain_distances(spark, name, n, rounds):
    """Run one distance operator from seed 0 over the chain 0 -> ... -> n
    (unit weights) and return comparable results: {node: dist/hop}, or
    closeness's {seed: (n_reached, total_hops, closeness, harmonic)}."""
    from telecom_dataengineering_pipeline_spark.operators import graph

    df = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n)], "src long, dst long, w long"
    )
    rows = getattr(graph, name)(df, [0], rounds).collect()
    if name == "closeness_centrality":
        return {r["seed"]: tuple(r)[1:] for r in rows}
    return {r[0]: r[1] for r in rows}


def _chain_expected(name, reach):
    """The exact results of :func:`_chain_distances` when ``reach`` nodes
    past the seed are within the round budget."""
    if name != "closeness_centrality":
        return {i: i for i in range(reach + 1)}
    from decimal import Decimal

    hops = range(1, reach + 1)
    harmonic = sum(Decimal(f"{1 / h:.9f}") for h in hops)
    return {
        0: (reach, sum(hops), round(reach / sum(hops), 6), round(float(harmonic), 6))
    }


@pytest.mark.parametrize("name", _DISTANCE_FNS)
def test_distance_loop_collapses_identity_rounds(spark, name):
    """Once the frontier is empty every remaining round is an identity map
    (cand = ∅ ⇒ least(_old, NULL) = _old), so the shared relaxation loop
    must stop building rounds instead of paying a join + checkpoint per
    dead round. Observable: the Spark jobs one call runs — a 60-round
    budget on a diameter-3 graph runs exactly the jobs a 4-round budget
    does. Results must be identical to the unrolled round count."""
    sc = spark.sparkContext
    jobs = {}
    try:
        for rounds in (4, 60):
            group = f"identity-rounds-{name}-{rounds}"
            sc.setJobGroup(group, group)
            assert _chain_distances(spark, name, 3, rounds) == _chain_expected(name, 3)
            jobs[rounds] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert jobs[60] == jobs[4], f"identity rounds were built: {jobs}"


@pytest.mark.parametrize("name", _DISTANCE_FNS)
def test_distance_loop_releases_rounds_on_deep_chain(spark, name):
    """64 rounds on a 64-link chain: every round improves one node, so no
    round can be skipped. Each superseded round is released, so the call
    leaves at most the edge cut and the final round pinned, and the plan
    never nests past one round (no StackOverflowError in serialization)."""

    def _pinned():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _pinned()
    assert _chain_distances(spark, name, 64, 64) == _chain_expected(name, 64)
    new_rdds = len(_pinned() - before)
    assert new_rdds <= 2, f"superseded rounds stayed pinned: {new_rdds} new RDDs"


def test_bellman_ford_rejects_negative_weight(spark):
    from telecom_dataengineering_pipeline_spark.operators.graph import (
        bellman_ford_distance,
    )

    df = spark.createDataFrame(
        [(0, 1, 1), (1, 2, -7), (2, 3, 1)], "src long, dst long, w long"
    )
    with pytest.raises(Exception, match=r"negative weight w=-7 on edge 1 -> 2"):
        bellman_ford_distance(df, [0], rounds=3).collect()


def test_bellman_ford_round_bound_is_exact_contract(spark):
    from telecom_dataengineering_pipeline_spark.operators.graph import (
        bellman_ford_distance,
    )

    # a chain 0->1->2->3 (w=1 each) with a 1-round budget reaches only
    # node 1: "shortest using <= R edges" is the pinned object
    df = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1)], "src long, dst long, w long"
    )
    got = {r["node"]: r["dist"] for r in bellman_ford_distance(df, [0], rounds=1).collect()}
    assert got == {0: 0, 1: 1}
    with pytest.raises(ValueError, match="rounds"):
        bellman_ford_distance(df, [0], rounds=0)
    with pytest.raises(ValueError, match="seed"):
        bellman_ford_distance(df, [], rounds=2)


# ---------------------------------------------------------------------------
# Additive seasonal decomposition
# ---------------------------------------------------------------------------


def test_seasonal_decompose_recovers_planted_components(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import (
        seasonal_decompose_additive,
    )

    # x = linear trend + weekly seasonal (sums to 0) + tiny residual
    seasonal = [3.0, -1.0, 2.0, -4.0, 1.0, 0.0, -1.0]
    rows = [
        ("k", t, 100.0 + 2.0 * t + seasonal[t % 7])
        for t in range(28)
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {r["t"]: r for r in
           seasonal_decompose_additive(df, ["k"], "t", "v", period=7).collect()}
    assert len(got) == 28
    # edges: first/last 3 points have no full window
    for t in (0, 1, 2, 25, 26, 27):
        assert got[t]["trend"] is None and got[t]["residual"] is None
    # interior: centered MA of a linear trend is exact; seasonal sums to
    # 0 by construction so phase means recover the planted values
    for t in range(3, 25):
        assert got[t]["trend"] == pytest.approx(100.0 + 2.0 * t, abs=1e-6), t
        assert got[t]["seasonal"] == pytest.approx(seasonal[t % 7], abs=1e-6), t
        assert got[t]["residual"] == pytest.approx(0.0, abs=1e-6), t
    # reconstruction identity where defined
    for t in range(3, 25):
        r = got[t]
        assert r["x"] == pytest.approx(r["trend"] + r["seasonal"] + r["residual"], abs=5e-6)


def test_seasonal_decompose_validates_period(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import (
        seasonal_decompose_additive,
    )

    df = spark.createDataFrame([("k", 1, 1.0)], "k string, t int, v double")
    with pytest.raises(ValueError, match="odd period"):
        seasonal_decompose_additive(df, ["k"], "t", "v", period=6)


# ---------------------------------------------------------------------------
# Growth accounting
# ---------------------------------------------------------------------------


def test_growth_accounting_states_and_identities(spark):
    from telecom_dataengineering_pipeline_spark.operators.windows import (
        growth_accounting,
    )

    # u1: days 1,2,4 (new@1, retained@2, churn onto 3, resurrected@4)
    # u2: day 2 only (new@2, churn onto 3)
    # u3: days 1,2,3,4 (always retained after 1)
    rows = [(1, 1), (1, 2), (1, 4), (2, 2), (3, 1), (3, 2), (3, 3), (3, 4)]
    df = spark.createDataFrame(rows, "u long, d long")
    got = {r["step"]: r for r in growth_accounting(df, "u", "d").collect()}

    assert (got[1]["active"], got[1]["new_users"]) == (2, 2)
    assert got[2]["active"] == 3 and got[2]["new_users"] == 1
    assert got[2]["retained"] == 2 and got[2]["resurrected"] == 0
    assert got[3]["active"] == 1 and got[3]["churned_from_prev"] == 2
    assert got[4]["active"] == 2 and got[4]["resurrected"] == 1 and got[4]["retained"] == 1
    # identities on every step
    prev_active = 0
    for t in sorted(got):
        r = got[t]
        assert r["active"] == r["new_users"] + r["retained"] + r["resurrected"], t
        assert r["active"] == prev_active + r["new_users"] + r["resurrected"] - r["churned_from_prev"], t
        prev_active = r["active"]


# ---------------------------------------------------------------------------
# Winsorization
# ---------------------------------------------------------------------------


def test_winsorize_clips_to_exact_order_statistics(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import winsorize

    # 20 values 1..20: P5 rank = ceil(1.0) = 1 -> lo = 1; P95 rank =
    # ceil(19.0) = 19 -> hi = 19; so only 20 clips high, nothing low.
    rows = [("k", i, float(i)) for i in range(1, 21)] + [("k", 99, None)]
    df = spark.createDataFrame(rows, "k string, id long, v double")
    got = {r["id"]: r for r in winsorize(df, ["k"], "v", 5, 95).collect()}
    assert got[20]["value_winsorized"] == 19.0 and got[20]["clipped_high"]
    assert got[1]["value_winsorized"] == 1.0 and not got[1]["clipped_low"]
    assert got[10]["value_winsorized"] == 10.0
    assert got[99]["value_winsorized"] is None
    assert not got[99]["clipped_low"] and not got[99]["clipped_high"]
    # tighter band: 25/75 on 1..20 -> lo = rank ceil(5) = 5, hi = rank 15
    got2 = {r["id"]: r for r in winsorize(df, ["k"], "v", 25, 75).collect()}
    assert got2[1]["value_winsorized"] == 5.0 and got2[1]["clipped_low"]
    assert got2[20]["value_winsorized"] == 15.0 and got2[20]["clipped_high"]
    with pytest.raises(ValueError, match="lower_pct"):
        winsorize(df, ["k"], "v", 80, 20)


# ---------------------------------------------------------------------------
# Nelson-Aalen
# ---------------------------------------------------------------------------


def test_nelson_aalen_matches_lifelines_style_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.survival import (
        nelson_aalen,
    )

    # durations with an event flag (1) or censoring (0)
    obs = [(2, 1), (3, 1), (3, 0), (5, 1), (5, 1), (7, 0), (8, 1)]
    df = spark.createDataFrame([("k", d, e) for d, e in obs], "k string, dur int, ev int")
    got = {r["duration"]: r for r in nelson_aalen(df, "dur", "ev", ["k"]).collect()}
    # hand reference
    import math
    n_total = len(obs)
    h = 0.0
    seen = 0
    from collections import Counter
    by_d = sorted(Counter(d for d, _ in obs).items())
    dcount = Counter(d for d, e in obs if e == 1)
    ncount = Counter(d for d, _ in obs)
    for d, _ in by_d:
        n_risk = n_total - seen
        h += round(dcount[d] / n_risk, 9)
        seen += ncount[d]
        assert got[d]["n_risk"] == n_risk, d
        assert got[d]["cum_hazard"] == pytest.approx(h, abs=1e-6), d
        assert got[d]["fh_survival"] == pytest.approx(math.exp(-h), abs=1e-6), d
    # FH survival upper-bounds KM everywhere (standard inequality)
    from telecom_dataengineering_pipeline_spark.operators.survival import kaplan_meier
    km = {r["duration"]: r["survival"] for r in kaplan_meier(df, "dur", "ev", ["k"]).collect()}
    for d in km:
        assert got[d]["fh_survival"] >= km[d] - 1e-9


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------


def test_did_matches_numpy_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import (
        diff_in_differences,
    )

    # planted effect: +5 on treated units post; group effect +10 on
    # treated; period effect +2 on post; deterministic noise
    rows = []
    for u in range(120):
        treat = u % 2
        base = 50.0 + 10.0 * treat + (u % 7)
        rows.append((treat, 0, base))
        rows.append((treat, 1, base + 2.0 + 5.0 * treat + ((u * 3) % 5)))
    df = spark.createDataFrame(rows, "treat int, post int, y double")
    got = diff_in_differences(df, "treat", "post", "y").collect()[0]

    cells = {}
    for tv in (0, 1):
        for pv in (0, 1):
            ys = np.array([y for t, p, y in rows if t == tv and p == pv])
            cells[(tv, pv)] = ys
    did = (cells[(1, 1)].mean() - cells[(1, 0)].mean()) - (
        cells[(0, 1)].mean() - cells[(0, 0)].mean()
    )
    se = np.sqrt(sum(c.var(ddof=1) / len(c) for c in cells.values()))
    assert got["did"] == pytest.approx(did, abs=1e-6)
    assert got["se"] == pytest.approx(se, abs=1e-6)
    assert got["t_stat"] == pytest.approx(did / se, abs=1e-4)
    assert got["n_treat_pre"] == 60 and got["n_control_post"] == 60
    # planted treatment effect recovered (noise means differ slightly)
    assert abs(got["did"] - 5.0) < 1.0


def test_did_small_cell_null_se(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import (
        diff_in_differences,
    )

    rows = [(1, 0, 1.0), (1, 1, 2.0), (0, 0, 1.0), (0, 0, 2.0), (0, 1, 1.5), (0, 1, 2.5)]
    df = spark.createDataFrame(rows, "treat int, post int, y double")
    got = diff_in_differences(df, "treat", "post", "y").collect()[0]
    assert got["did"] is not None
    assert got["se"] is None and got["t_stat"] is None  # 1-obs treated cells


# ---------------------------------------------------------------------------
# Cohort overlap matrix
# ---------------------------------------------------------------------------


def test_cohort_overlap_matrix_counts_and_lift(spark):
    from telecom_dataengineering_pipeline_spark.operators.market import (
        cohort_overlap_matrix,
    )

    # u1: A,B  u2: A,B  u3: A  u4: B,C  u5: C (duplicates must dedup)
    rows = [(1, "A"), (1, "B"), (1, "B"), (2, "A"), (2, "B"), (3, "A"),
            (4, "B"), (4, "C"), (5, "C")]
    df = spark.createDataFrame(rows, "u long, l string")
    got = {(r["label_a"], r["label_b"]): r for r in
           cohort_overlap_matrix(df, "u", "l").collect()}
    ab = got[("A", "B")]
    assert (ab["n_both"], ab["n_a"], ab["n_b"], ab["n_units"]) == (2, 3, 3, 5)
    assert ab["jaccard"] == 0.5  # 2 / (3+3-2)
    assert ab["lift"] == pytest.approx(2 * 5 / 9, abs=1e-6)
    bc = got[("B", "C")]
    assert bc["n_both"] == 1 and bc["jaccard"] == 0.25
    # A-C never co-occur -> pair absent (no zero rows)
    assert ("A", "C") not in got


# ---------------------------------------------------------------------------
# Multiplicative Holt-Winters
# ---------------------------------------------------------------------------


def _hwm_reference(series, m, a=0.5, b=0.3, g=0.3, hz=None):
    hz = hz or m
    T = len(series)
    l = sum(series[:m]) / m
    tr = (sum(series[m:2 * m]) - sum(series[:m])) / (m * m)
    s = [x / l for x in series[:m]]
    for t in range(m, T):
        lp = l
        l = a * (series[t] / s[t - m]) + (1 - a) * (l + tr)
        tr = b * (l - lp) + (1 - b) * tr
        s.append(g * (series[t] / l) + (1 - g) * s[t - m])
    return {
        h: (l, tr, s[T - m + ((h - 1) % m)], (l + h * tr) * s[T - m + ((h - 1) % m)])
        for h in range(1, hz + 1)
    }


def test_hw_multiplicative_matches_python_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import (
        holt_winters_multiplicative,
    )

    m = 4
    steps = [f"{i:02d}" for i in range(1, 13)]
    season = [1.2, 0.8, 1.1, 0.9]
    series = [(50.0 + 3.0 * t) * season[t % m] for t in range(12)]
    rows = [("k", steps[t], series[t]) for t in range(12)]
    df = spark.createDataFrame(rows, "k string, step string, val double")
    got = {
        r["h"]: (r["level"], r["trend"], r["seasonal"], r["forecast"])
        for r in holt_winters_multiplicative(df, ["k"], "step", "val", steps, m).collect()
    }
    ref = _hwm_reference(series, m)
    for h in ref:
        for gv, rv in zip(got[h], ref[h]):
            assert gv == pytest.approx(rv, rel=1e-9), h
    # multiplicative forecast tracks the growing level times the season
    assert got[1][3] > 0


def test_hw_multiplicative_nonpositive_series_nulls(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import (
        holt_winters_multiplicative,
    )

    steps = [f"{i:02d}" for i in range(1, 9)]
    rows = [("k", steps[t], float(t)) for t in range(8)]  # x0 = 0: not positive
    df = spark.createDataFrame(rows, "k string, step string, val double")
    out = holt_winters_multiplicative(df, ["k"], "step", "val", steps, 4).collect()
    assert out and all(r["forecast"] is None for r in out)


# ---------------------------------------------------------------------------
# Linear interpolation gap fill
# ---------------------------------------------------------------------------


def test_gap_fill_interpolate_lines_and_edges(spark):
    from telecom_dataengineering_pipeline_spark.operators.gapfill import (
        gap_fill_interpolate,
    )

    # key a: observed at t=1 (10), t=4 (40), t=5 (45) -> 2,3 interpolate
    rows = [("a", 1, 10.0), ("a", 4, 40.0), ("a", 5, 45.0), ("b", 7, 3.0)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {(r["k"], r["t"]): (r["value"], r["is_gap"]) for r in
           gap_fill_interpolate(df, ["k"], "t", "v").collect()}
    assert got[("a", 1)] == (10.0, False)
    assert got[("a", 2)] == (20.0, True)
    assert got[("a", 3)] == (30.0, True)
    assert got[("a", 4)] == (40.0, False)
    assert got[("a", 5)] == (45.0, False)
    # single-point key: just its own row, nothing synthesized
    assert got[("b", 7)] == (3.0, False)
    assert len(got) == 6


# ---------------------------------------------------------------------------
# Truncation recall profile
# ---------------------------------------------------------------------------


def test_truncation_recall_full_width_is_one(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.similarity import (
        truncation_recall_profile,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = {r["dims"]: r for r in
           truncation_recall_profile(emb, list(range(5)), [8, 64], k=5).collect()}
    # truncating to the FULL width reproduces the ground truth exactly
    assert got[64]["mean_recall"] == 1.0
    # an 8-dim prefix of a 64-dim near-isotropic embedding loses recall
    assert got[8]["mean_recall"] < 1.0
    assert got[8]["n_queries"] == 5
    with pytest.raises(ValueError, match="at least one width"):
        truncation_recall_profile(emb, [0], [], k=5)


# ---------------------------------------------------------------------------
# Wilson proportion CI
# ---------------------------------------------------------------------------


def test_wilson_ci_matches_hand_formula_and_bounds(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        wilson_proportion_ci,
    )

    import math
    z = 1.959963984540054
    rows = [("a", 1)] * 8 + [("a", 0)] * 2 + [("b", 1)] * 1 + [("b", 0)] * 0 + [("c", 0)] * 5
    df = spark.createDataFrame(rows, "k string, s int")
    got = {r["k"]: r for r in wilson_proportion_ci(df, ["k"], "s").collect()}

    def wilson(ns, n):
        p = ns / n
        c = p + z * z / (2 * n)
        m = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        d = 1 + z * z / n
        return round((c - m) / d, 6), round((c + m) / d, 6)

    lo, hi = wilson(8, 10)
    assert (got["a"]["ci_lo"], got["a"]["ci_hi"]) == (lo, hi)
    assert got["a"]["p_hat"] == 0.8
    # p_hat = 1 with n = 1: Wilson stays inside [0, 1] and is non-degenerate
    assert 0.0 < got["b"]["ci_lo"] < 1.0 and got["b"]["ci_hi"] == 1.0
    # p_hat = 0: lower bound 0, upper bound > 0 (the Wald interval would
    # collapse to [0, 0])
    assert got["c"]["ci_lo"] == 0.0 and got["c"]["ci_hi"] > 0.0


# ---------------------------------------------------------------------------
# Contingency profile (chi2 + Cramér's V + residuals)
# ---------------------------------------------------------------------------


def test_contingency_profile_matches_scipy_style_reference(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        contingency_profile,
    )

    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 10 + [("b", "y")] * 30
    )
    df = spark.createDataFrame(rows, "r string, c string")
    got = {(q["row_level"], q["col_level"]): q for q in
           contingency_profile(df, "r", "c").collect()}
    obs = np.array([[30, 10], [10, 30]], dtype=float)
    n = obs.sum()
    exp = np.outer(obs.sum(1), obs.sum(0)) / n
    chi2 = float((np.round((obs - exp) ** 2 / exp, 9)).sum())
    v = float(np.sqrt((chi2 / n) / 1.0))
    for (i, rl) in enumerate(("a", "b")):
        for (j, cl) in enumerate(("x", "y")):
            cell = got[(rl, cl)]
            assert cell["expected"] == pytest.approx(exp[i, j], abs=1e-6)
            assert cell["std_residual"] == pytest.approx(
                (obs[i, j] - exp[i, j]) / np.sqrt(exp[i, j]), abs=1e-6
            )
            assert cell["chi2"] == pytest.approx(chi2, abs=1e-5)
            assert cell["cramers_v"] == pytest.approx(v, abs=1e-6)
            assert cell["dof"] == 1
    # degenerate 1xC table: NULL chi2/v, dof 0
    df1 = spark.createDataFrame([("a", "x"), ("a", "y")], "r string, c string")
    one = contingency_profile(df1, "r", "c").collect()[0]
    assert one["chi2"] is None and one["cramers_v"] is None and one["dof"] == 0


# ---------------------------------------------------------------------------
# Character-class profile
# ---------------------------------------------------------------------------


def test_char_class_profile_counts(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.text import (
        char_class_profile,
    )

    df = spark.createDataFrame(
        [(0, "Ab1 !?\n"), (1, ""), (2, "éé€")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in char_class_profile(df).collect()}
    r0 = got[0]
    assert (r0["n_chars"], r0["n_letter"], r0["n_digit"]) == (7, 2, 1)
    assert (r0["n_space"], r0["n_punct"], r0["n_other"]) == (2, 2, 0)
    assert r0["letter_share"] == pytest.approx(2 / 7, abs=1e-6)
    assert got[1]["n_chars"] == 0 and got[1]["letter_share"] is None
    # non-ASCII letters/symbols land in n_other (the wrong-script signal)
    assert got[2]["n_other"] == 3 and got[2]["n_letter"] == 0
