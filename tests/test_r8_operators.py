"""Round-7 tests-only additions (queued for the round-8 driver window):
bucketized interval-overlap join, EWMA control chart, RIFF/WAVE header
profile, and Adamic-Adar link scores. Each is verified against a
brute-force Python reference (or its paired generated oracle) on fixtures
the operator can't special-case."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.operators.graph import adamic_adar_scores
from telecom_dataengineering_pipeline_spark.operators.interval import (
    interval_overlap_join,
)

# --- interval overlap join -------------------------------------------------

_LEFT = [
    # (l_id, l_start, l_end) — mixes sub-bucket, bucket-straddling and
    # multi-bucket spans, touching endpoints, and exact-equal intervals
    (0, 5, 9),
    (1, 10, 10),       # point interval on a bucket boundary
    (2, 8, 23),        # straddles three buckets (width 10)
    (3, 40, 45),
    (4, 100, 130),     # long: four buckets
    (5, 8, 23),        # duplicate span of 2
]
_RIGHT = [
    (100, 9, 12),
    (101, 24, 30),     # touches 2/5's end+1: NO overlap (closed intervals)
    (102, 23, 23),     # point at 2/5's end: overlap
    (103, 0, 4),       # ends just before 0 starts
    (104, 44, 101),    # long, overlaps 3 and 4
    (105, 130, 131),   # touches 4's end
]


def _overlap_ref():
    return sorted(
        (l, r)
        for l, ls, le in _LEFT
        for r, rs, re_ in _RIGHT
        if ls <= re_ and rs <= le
    )


@pytest.mark.parametrize("width", [1, 7, 10, 1000])
def test_interval_overlap_matches_bruteforce_any_width(spark, width):
    """The pair set is width-INVARIANT: bucketing is a physical strategy,
    never a semantics knob — and each pair appears exactly once (the
    canonical-bucket election replaces distinct())."""
    ldf = spark.createDataFrame(_LEFT, "l_id long, l_start long, l_end long")
    rdf = spark.createDataFrame(_RIGHT, "r_id long, r_start long, r_end long")
    rows = interval_overlap_join(
        ldf, rdf, ("l_start", "l_end"), ("r_start", "r_end"), bucket_width=width
    ).collect()
    pairs = sorted((r["l_id"], r["r_id"]) for r in rows)
    assert pairs == _overlap_ref()
    assert len(pairs) == len(set(pairs))  # no duplicate emissions


def test_interval_overlap_keyed_restricts_pairs(spark):
    ldf = spark.createDataFrame(
        [(0, "a", 0, 10), (1, "b", 0, 10)], "l_id long, lk string, l_start long, l_end long"
    )
    rdf = spark.createDataFrame(
        [(7, "a", 5, 6), (8, "b", 100, 110)], "r_id long, rk string, r_start long, r_end long"
    )
    rows = interval_overlap_join(
        ldf, rdf, ("l_start", "l_end"), ("r_start", "r_end"),
        bucket_width=10, keys=("lk", "rk"),
    ).collect()
    assert [(r["l_id"], r["r_id"]) for r in rows] == [(0, 7)]


def test_interval_overlap_guard_fires_on_runaway_fanout(spark):
    ldf = spark.createDataFrame([(0, 0, 10_000_000)], "l_id long, l_start long, l_end long")
    rdf = spark.createDataFrame([(1, 5, 6)], "r_id long, r_start long, r_end long")
    out = interval_overlap_join(
        ldf, rdf, ("l_start", "l_end"), ("r_start", "r_end"),
        bucket_width=10, max_buckets_per_interval=100,
    )
    with pytest.raises(Exception, match="buckets"):
        out.collect()
    with pytest.raises(ValueError, match="positive"):
        interval_overlap_join(
            ldf, rdf, ("l_start", "l_end"), ("r_start", "r_end"), bucket_width=0
        )


def test_interval_overlap_single_equijoin_no_product(spark):
    ldf = spark.createDataFrame(_LEFT, "l_id long, l_start long, l_end long")
    rdf = spark.createDataFrame(_RIGHT, "r_id long, r_start long, r_end long")
    plan = (
        interval_overlap_join(
            ldf, rdf, ("l_start", "l_end"), ("r_start", "r_end"), bucket_width=10
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- EWMA control chart ------------------------------------------------------

def test_ewma_detects_shift_flat_degenerates_and_matches_mirror(spark):
    """A persistent level shift drives the EWMA past the time-varying
    limits; a flat series collapses the limits onto the center without
    NULLs or divisions; the generated DuckDB oracle reproduces the Spark
    output bit-for-bit."""
    import duckdb

    from telecom_dataengineering_pipeline_spark.operators.trend import (
        ewma_control_chart,
        ewma_oracle_sql,
    )

    steps = [f"m{i}" for i in range(10)]
    series = [10.0, 11.0, 9.0, 10.0, 11.0, 9.0, 10.0, 14.0, 14.0, 14.0]
    rows = [("shift", f"m{i}", x) for i, x in enumerate(series)]
    rows += [("flat", f"m{i}", 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, step string, x double")
    out = ewma_control_chart(df, ["g"], "step", "x", steps, lam=0.4, L=1.5)
    got = {
        (r["g"], r["step"]): (r["x"], r["ewma"], r["ucl"], r["lcl"], r["is_out"])
        for r in out.collect()
    }
    # zig-zag base stays inside the band; the sustained +4 shift escapes
    # only after the EWMA accumulates it (no single point is an outlier
    # to the raw z-band: max |x - m| ≈ 2.8 < 2σ)
    assert not any(got[("shift", f"m{i}")][4] for i in range(7))
    assert got[("shift", "m9")][4] is True
    flat = got[("flat", "m3")]
    assert flat[1] == 5.0 and flat[2] == 5.0 and flat[3] == 5.0
    assert flat[4] is False  # σ=0: limits collapse, never NULL/divide

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE fixture AS SELECT * FROM (VALUES "
        + ", ".join(f"('{g}', '{s}', {x})" for g, s, x in rows)
        + ") AS t(g, step, x)"
    )
    sql = ewma_oracle_sql(
        "SELECT g, step, x FROM fixture", "g", "step", "x", steps, lam=0.4, L=1.5
    )
    mirror = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5], r[6])
        for r in con.execute(sql).fetchall()
    }
    assert mirror == got


def test_ewma_validates_params(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import (
        ewma_control_chart,
    )

    df = spark.createDataFrame([("g", "a", 1.0)], "g string, step string, x double")
    with pytest.raises(ValueError, match="two steps"):
        ewma_control_chart(df, ["g"], "step", "x", ["a"])
    with pytest.raises(ValueError, match="lam"):
        ewma_control_chart(df, ["g"], "step", "x", ["a", "b"], lam=0.0)


# --- RIFF/WAVE header profile ------------------------------------------------

def _wav(channels=2, rate=44_100, bits=16, n_frames=1_000, forge_byte_rate=None,
         extra_chunk=False, truncate=False):
    frame = channels * bits // 8
    data_size = n_frames * frame
    byte_rate = forge_byte_rate if forge_byte_rate is not None else rate * frame
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate, frame, bits)
    body = b"fmt " + struct.pack("<I", 16) + fmt
    if extra_chunk:  # LIST chunk before data: non-canonical layout
        body += b"LIST" + struct.pack("<I", 4) + b"INFO"
    body += b"data" + struct.pack("<I", data_size)
    payload = b"" if truncate else b"\x00" * data_size
    riff = b"WAVE" + body + payload
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_wav_header_parse_and_consistency_screen(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.multimodal import (
        wav_header_profile,
    )

    rows = [
        (1, _wav()),                                  # canonical stereo CD
        (2, _wav(channels=1, rate=16_000, bits=8, n_frames=16_000)),  # 1s mono
        (3, _wav(forge_byte_rate=1)),                 # forged byte_rate
        (4, _wav(extra_chunk=True)),                  # non-canonical layout
        (5, _wav(truncate=True)),                     # header claims absent bytes
        (6, b"RIFF\x10\x00\x00\x00AVI LIST"),         # RIFF but not WAVE
        (7, b"plain bytes"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: (
            r["is_wav"], r["channels"], r["sample_rate"], r["bits_per_sample"],
            r["duration_ms"], r["header_ok"],
        )
        for r in wav_header_profile(df).collect()
    }
    # 1000 frames at 44.1kHz -> 22ms (floor)
    assert got[1] == (True, 2, 44_100, 16, 22, True)
    assert got[2] == (True, 1, 16_000, 8, 1000, True)
    assert got[3][5] is False          # byte_rate != rate*channels*bits/8
    assert got[4] == (True, None, None, None, None, False)  # needs chunk walk
    assert got[5][5] is False          # declared data bytes not present
    assert got[6][0] is False and got[6][5] is False
    assert got[7] == (False, None, None, None, None, False)


# --- Adamic-Adar -------------------------------------------------------------

def _aa_ref(edges, max_hub=None, min_common=1):
    import collections
    import itertools

    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    out = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        common = {
            w for w in adj[a] & adj[b]
            if max_hub is None or len(adj[w]) <= max_hub
        }
        if len(common) >= min_common:
            from decimal import Decimal

            s = sum(Decimal(str(round(1.0 / math.log(len(adj[w])), 9))) for w in common)
            out[(a, b)] = (len(common), round(float(s), 6))
    return out


def test_adamic_adar_matches_bruteforce(spark):
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (1, 6), (2, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r["u"], r["v"]): (r["common"], r["aa_score"])
        for r in adamic_adar_scores(df).collect()
    }
    assert got == _aa_ref(edges)


def test_adamic_adar_hub_guard_and_bidirectional_input(spark):
    edges = [(0, k) for k in range(1, 6)] + [(1, 2)]
    noisy = edges + [(v, u) for u, v in edges]
    got = {
        (r["u"], r["v"]): (r["common"], r["aa_score"])
        for r in adamic_adar_scores(
            spark.createDataFrame(noisy, "u long, v long"), max_hub_degree=3
        ).collect()
    }
    assert got == _aa_ref(edges, max_hub=3)
    # rare shared neighbors weigh MORE: deg-2 neighbor beats deg-5 hub
    full = _aa_ref(edges)
    assert full[(1, 2)][1] > 1.0 / math.log(5)  # includes the 1/ln(2) wedge


# --- content-defined chunking --------------------------------------------

def _cdc_ref(text, divisor=8):
    import hashlib

    toks = [t for t in text.lower().strip().split() if t]
    if not toks:
        return []
    ends = [
        i + 1
        for i, t in enumerate(toks)
        if int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % divisor == 0
    ]
    if not ends or ends[-1] != len(toks):
        ends.append(len(toks))
    out, s = [], 1
    for idx, e in enumerate(ends):
        piece = " ".join(toks[s - 1 : e])
        out.append((idx, s, e - s + 1, hashlib.md5(piece.encode()).hexdigest()))
        s = e + 1
    return out


def test_cdc_chunks_match_bruteforce(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.chunking import (
        cdc_chunk_documents,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "spark shuffle join hash agg window sort filter scan batch stream",
        "one",
        "",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {}
    for r in cdc_chunk_documents(df, divisor=4).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_tok"], r["n_tokens"], r["chunk_md5"])
        )
    for d, text in enumerate(texts):
        assert sorted(got.get(d, [])) == _cdc_ref(text, divisor=4), f"doc {d}"


def test_cdc_chunks_realign_after_insertion(spark):
    """THE content-defined property: an insertion near the head changes
    only the chunks it touches — everything after the next content
    boundary re-aligns and keeps its hash (fixed-size chunking loses the
    whole tail). Verified on the actual corpus fixture."""
    from telecom_dataengineering_pipeline_spark.llmprep.chunking import (
        cdc_chunk_documents,
        chunk_documents,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    edited = docs.select(
        "doc_id", F.concat(F.lit("inserted preamble sentence "), F.col("text")).alias("text")
    )
    orig = {
        (r["doc_id"], r["chunk_md5"]) for r in cdc_chunk_documents(docs).collect()
    }
    after = {
        (r["doc_id"], r["chunk_md5"]) for r in cdc_chunk_documents(edited).collect()
    }
    cdc_kept = len(orig & after) / len(orig)
    f_orig = {(r["doc_id"], r["chunk_md5"]) for r in chunk_documents(docs).collect()}
    f_after = {
        (r["doc_id"], r["chunk_md5"]) for r in chunk_documents(edited).collect()
    }
    fixed_kept = len(f_orig & f_after) / len(f_orig)
    assert cdc_kept > 0.8      # almost every chunk re-aligns
    assert fixed_kept < 0.2    # fixed-size chunking loses the document
    assert cdc_kept > fixed_kept + 0.5


def test_cdc_chunks_shuffle_free(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.chunking import (
        cdc_chunk_documents,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        cdc_chunk_documents(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re as _re

    assert not _re.findall(r"Exchange hashpartitioning", plan)
    assert "Python" not in plan


# --- two-sample KS drift ---------------------------------------------------

def _ks_ref(a, b, width):
    import math

    buckets = sorted({math.floor(x / width) for x in a + b})
    best, best_b = -1.0, None
    for cut in buckets:
        fa = sum(1 for x in a if math.floor(x / width) <= cut) / len(a)
        fb = sum(1 for x in b if math.floor(x / width) <= cut) / len(b)
        d = abs(fa - fb)
        if d > best or (d == best and (best_b is None or cut < best_b)):
            best, best_b = d, cut
    return round(best, 6), best_b


def test_ks_two_sample_matches_bruteforce_and_flags_shift(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import ks_two_sample

    ref = [float(i % 40) for i in range(200)]
    cur_same = [float((i * 7) % 40) for i in range(150)]
    cur_shift = [float(i % 40) + 15.0 for i in range(150)]

    rdf = spark.createDataFrame([(x,) for x in ref], "x double")
    for cur, drift_expected in ((cur_same, False), (cur_shift, True)):
        cdf = spark.createDataFrame([(x,) for x in cur], "x double")
        row = ks_two_sample(rdf, cdf, "x", bucket_width=5.0).collect()[0]
        d, at = _ks_ref(ref, cur, 5.0)
        assert (row["d_stat"], row["at_bucket"]) == (d, at)
        assert row["n_ref"] == 200 and row["n_cur"] == len(cur)
        assert row["drifted"] is drift_expected
        # threshold = c(alpha) * sqrt((n+m)/(n*m))
        import math as _m

        assert row["threshold"] == round(
            1.358 * _m.sqrt((200 + len(cur)) / (200 * len(cur))), 6
        )


def test_ks_two_sample_nulls_excluded_and_validation(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import ks_two_sample

    rdf = spark.createDataFrame([(1.0,), (2.0,), (None,)], "x double")
    cdf = spark.createDataFrame([(1.0,), (None,), (None,)], "x double")
    row = ks_two_sample(rdf, cdf, "x", bucket_width=1.0).collect()[0]
    assert (row["n_ref"], row["n_cur"]) == (2, 1)  # NULLs carry no position
    with pytest.raises(ValueError, match="positive"):
        ks_two_sample(rdf, cdf, "x", bucket_width=0.0)


# --- batch sessionization -----------------------------------------------

def test_sessionize_events_matches_bruteforce_and_open_semantics(spark):
    import math

    from telecom_dataengineering_pipeline_spark.operators.windows import (
        sessionize_events,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    gap_s = 1800
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    got = {
        (r["user_id"], r["session_seq"]): (
            r["start_us"], r["last_us"], r["n_events"],
            round(r["sum_value"], 2), r["is_open"],
        )
        for r in sessionize_events(
            ev, "user_id", "ts", "value", gap_seconds=gap_s, tiebreak_col="event_id"
        ).collect()
    }

    rows = ev.select(
        "user_id", F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("string").alias("tb"), "value",
    ).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["tb"], r["value"]))
    ref = {}
    for u, evs in by_user.items():
        evs.sort()
        seq, start, last, n, cents = 0, None, None, 0, 0
        sessions = []
        for us, _, v in evs:
            c = int(math.copysign(math.floor(abs(v * 100) + 0.5), v))
            if start is None or us - last > gap_s * 1_000_000:
                if start is not None:
                    sessions.append((seq, start, last, n, cents))
                seq, start, last, n, cents = seq + 1, us, us, 1, c
            else:
                last, n, cents = us, n + 1, cents + c
        sessions.append((seq, start, last, n, cents))
        for i, (s, a, b, k, cc) in enumerate(sessions):
            ref[(u, s)] = (a, b, k, round(cc / 100.0, 2), i == len(sessions) - 1)
    assert got == ref
    # exactly one open session per user, and it is the max seq
    opens = {(u, s) for (u, s), v in got.items() if v[4]}
    assert len(opens) == len({u for (u, _) in got})
    for u, s in opens:
        assert s == max(ss for (uu, ss) in got if uu == u)


# --- OLS trend + Gini concentration ---------------------------------------

def test_ols_trend_matches_closed_form_and_degenerates(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import ols_trend

    rows = (
        [("up", i, 2.5 * i + 7.0) for i in range(10)]           # perfect line
        + [("noisy", i, [3.0, 9.0, 5.0, 11.0, 7.0][i]) for i in range(5)]
        + [("flatx", 4, 1.0), ("flatx", 4, 5.0)]                 # zero x-variance
        + [("single", 1, 2.0)]                                   # n < 2
    )
    df = spark.createDataFrame(rows, "g string, x int, y double")
    got = {
        r["g"]: (r["n"], r["slope"], r["intercept"], r["r2"])
        for r in ols_trend(df, ["g"], "x", "y").collect()
    }
    assert got["up"] == (10, 2.5, 7.0, 1.0)
    import numpy as np

    x = np.arange(5.0)
    y = np.array([3.0, 9.0, 5.0, 11.0, 7.0])
    slope, intercept = np.polyfit(x, y, 1)
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert got["noisy"] == (
        5, round(float(slope), 6), round(float(intercept), 6), round(float(r2), 6)
    )
    assert got["flatx"] == (2, None, None, None)
    assert got["single"] == (1, None, None, None)


def test_gini_concentration_bounds_and_ties(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        gini_concentration,
    )

    rows = (
        [("equal", 10.0)] * 5                       # perfect equality -> 0
        + [("onehas", 0.0)] * 9 + [("onehas", 50.0)]  # extreme -> (n-1)/n = 0.9
        + [("ties", 1.0), ("ties", 1.0), ("ties", 4.0), ("ties", 4.0)]
        + [("zero", 0.0), ("zero", 0.0)]            # zero total -> NULL
    )
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: (r["n"], r["total"], r["gini"])
        for r in gini_concentration(df, ["g"], "x").collect()
    }
    assert got["equal"] == (5, 50.0, 0.0)
    assert got["onehas"] == (10, 50.0, 0.9)
    # brute force for the tie group: G = (2*sum(i*x_sorted) - (n+1)*sum) / (n*sum)
    xs = sorted([1.0, 1.0, 4.0, 4.0])
    s = sum(xs)
    g = (2 * sum((i + 1) * x for i, x in enumerate(xs)) - 5 * s) / (4 * s)
    assert got["ties"] == (4, 10.0, round(g, 6))
    assert got["zero"] == (2, 0.0, None)


def test_interval_overlap_rejects_shared_column_names(spark):
    ldf = spark.createDataFrame([(0, 0, 1)], "id long, l_start long, l_end long")
    rdf = spark.createDataFrame([(1, 0, 1)], "id long, r_start long, r_end long")
    with pytest.raises(ValueError, match="disjoint"):
        interval_overlap_join(
            ldf, rdf, ("l_start", "l_end"), ("r_start", "r_end"), bucket_width=10
        )


# --- personalized PageRank ---------------------------------------------

def _ppr_ref(edges, sources, iters=3, damping=85, scale=10**12):
    import collections

    out = collections.defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    teleport = scale * (100 - damping) // 100
    rank = {s: teleport for s in sources if s in out or any(s == d for _, d in edges)}
    for _ in range(iters):
        inflow = collections.defaultdict(int)
        for node, r in rank.items():
            deg = len(out.get(node, []))
            if deg:
                c = (damping * (r // deg)) // 100
                for d in out[node]:
                    inflow[d] += c
        nxt = {}
        for node in set(list(inflow) + list(sources)):
            t = teleport if node in sources else 0
            v = t + inflow.get(node, 0)
            if v > 0:
                nxt[node] = v
        rank = nxt
    return rank


def test_personalized_pagerank_matches_fixed_point_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    # two communities bridged by one edge: seeds in community A
    edges = []
    for a, b in [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]:
        edges += [(a, b), (b, a)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_fp"]
        for r in personalized_pagerank(df, [1, 2], iters=3).collect()
    }
    assert got == _ppr_ref(edges, [1, 2], iters=3)
    # proximity to the seeds: community A outranks community B
    assert got[3] > got.get(6, 0)
    assert got[1] > got[4]
    # unreachable nodes carry no row (sparse rank vector)
    df2 = spark.createDataFrame(edges + [(9, 10), (10, 9)], "src long, dst long")
    got2 = {
        r["node"]: r["rank_fp"]
        for r in personalized_pagerank(df2, [1, 2], iters=3).collect()
    }
    assert 9 not in got2 and 10 not in got2

    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank(df, [], iters=3)
    with pytest.raises(ValueError, match="iteration"):
        personalized_pagerank(df, [1], iters=0)


# --- chi-squared categorical drift ----------------------------------------


def _chi2_ref(ref_cats, cur_cats):
    from collections import Counter

    a, b = Counter(ref_cats), Counter(cur_cats)
    cats = sorted(set(a) | set(b))
    na, nb = sum(a.values()), sum(b.values())
    chi2 = 0.0
    for c in cats:
        both = a[c] + b[c]
        ea = na * both / (na + nb)
        eb = nb * both / (na + nb)
        chi2 += round((a[c] - ea) ** 2 / ea + (b[c] - eb) ** 2 / eb, 9)
    return chi2, len(cats) - 1


def test_chi_squared_drift_matches_bruteforce(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        chi_squared_drift,
    )

    ref_cats = ["a"] * 50 + ["b"] * 30 + ["c"] * 20
    cur_cats = ["a"] * 20 + ["b"] * 30 + ["c"] * 45 + ["d"] * 5
    ref = spark.createDataFrame([(c,) for c in ref_cats], "cat string")
    cur = spark.createDataFrame([(c,) for c in cur_cats], "cat string")
    row = chi_squared_drift(ref, cur, "cat").collect()[0]
    chi2, dof = _chi2_ref(ref_cats, cur_cats)
    assert row["chi2"] == round(chi2, 6)
    assert row["dof"] == dof
    assert (row["n_ref"], row["n_cur"]) == (100, 100)
    v = math.sqrt(row["chi2"] / 200)
    assert row["cramers_v"] == pytest.approx(v, abs=1e-6)
    # This mix shift is a real one: a went 50%→20%, c 20%→45%
    assert row["status"] in ("moderate_shift", "major_shift")


def test_chi_squared_drift_stable_nulls_and_pooling(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        chi_squared_drift,
    )

    # Identical mixes → chi2 exactly 0, stable
    same = spark.createDataFrame([("x",)] * 40 + [("y",)] * 60, "cat string")
    row = chi_squared_drift(same, same, "cat").collect()[0]
    assert row["chi2"] == 0.0 and row["status"] == "stable"

    # NULL is a real level: drift INTO missingness is detected
    ref = spark.createDataFrame([("x",)] * 100, "cat string")
    cur = spark.createDataFrame([("x",)] * 50 + [(None,)] * 50, "cat string")
    row = chi_squared_drift(ref, cur, "cat").collect()[0]
    assert row["n_categories"] == 2 and row["status"] == "major_shift"

    # min_count pools rare tail categories into __other__ before the test
    ref = spark.createDataFrame(
        [("a",)] * 95 + [("r1",), ("r2",), ("r3",), ("r4",), ("r5",)], "cat string"
    )
    cur = spark.createDataFrame(
        [("a",)] * 95 + [("r6",), ("r7",), ("r8",), ("r9",), ("r10",)], "cat string"
    )
    pooled = chi_squared_drift(ref, cur, "cat", min_count=12).collect()[0]
    assert pooled["n_categories"] == 2  # a + __other__
    # Pooled, the two windows are IDENTICAL (95 a / 5 other) — no drift
    assert pooled["chi2"] == 0.0 and pooled["status"] == "stable"
    # Unpooled, ten singleton categories each appear on one side only
    unpooled = chi_squared_drift(ref, cur, "cat").collect()[0]
    assert unpooled["chi2"] > 0 and unpooled["n_categories"] == 11


def test_chi_squared_drift_empty_side_is_no_reference(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        chi_squared_drift,
    )

    cur = spark.createDataFrame([("x",)] * 10, "cat string")
    empty = cur.filter(F.lit(False))
    assert chi_squared_drift(empty, cur, "cat").collect()[0]["status"] == "no_reference"
    assert chi_squared_drift(cur, empty, "cat").collect()[0]["status"] == "no_reference"
    # Single shared category → dof 0 → no testable signal either
    one = spark.createDataFrame([("x",)] * 5, "cat string")
    assert chi_squared_drift(one, one, "cat").collect()[0]["dof"] == 0
    assert chi_squared_drift(one, one, "cat").collect()[0]["status"] == "no_reference"


# --- k-anonymity profile ---------------------------------------------------


def test_k_anonymity_profile_matches_bruteforce(spark):
    from collections import Counter

    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        k_anonymity_profile,
    )

    rows = [
        ("0171", "berlin", "gold"),
        ("0171", "berlin", "gold"),
        ("0171", "berlin", "gold"),
        ("0172", "berlin", "gold"),
        ("0172", "berlin", "silver"),
        ("0172", None, "silver"),
        ("0172", None, "silver"),
        ("0173", "munich", "gold"),
    ]
    df = spark.createDataFrame(rows, "prefix string, city string, plan string")
    got = k_anonymity_profile(df, ["prefix", "city", "plan"], k=2).collect()[0]
    sizes = Counter(rows)
    viol = {cls: n for cls, n in sizes.items() if n < 2}
    assert got["n_rows"] == 8
    assert got["n_classes"] == len(sizes) == 5
    assert got["min_class_size"] == 1
    assert got["violating_classes"] == len(viol) == 3
    assert got["violating_rows"] == sum(viol.values()) == 3
    assert got["at_risk_pct"] == 0.375
    assert got["is_k_anonymous"] is False
    # The (0172, NULL, silver) pair is ONE class of size 2 — NULL groups
    # with NULL, so it does not violate k=2
    assert sizes[("0172", None, "silver")] == 2

    # Coarsening the QI set (plan only: gold=5, silver=3) reaches k=2
    coarse = k_anonymity_profile(df, ["plan"], k=2).collect()[0]
    assert coarse["is_k_anonymous"] is True
    assert coarse["violating_rows"] == 0 and coarse["at_risk_pct"] == 0.0


def test_k_anonymity_profile_empty_and_validation(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        k_anonymity_profile,
    )

    df = spark.createDataFrame([("a", 1)], "q string, v int")
    empty = df.filter(F.lit(False))
    row = k_anonymity_profile(empty, ["q"], k=3).collect()[0]
    assert row["n_rows"] == 0 and row["violating_rows"] == 0
    assert row["at_risk_pct"] is None
    assert row["is_k_anonymous"] is True  # vacuously
    with pytest.raises(ValueError):
        k_anonymity_profile(df, [], k=3)


# --- HITS hubs and authorities --------------------------------------------


def _hits_ref(edges, iters, scale=10**12):
    """Integer fixed-point replica of the operator's arithmetic: each
    half-step divides by k = ceil(max/scale) — never multiplies."""
    def norm(d):
        k = (max(d.values()) + scale - 1) // scale
        return {n: x // k for n, x in d.items()}

    srcs = sorted({u for u, _ in edges})
    hub = {u: scale for u in srcs}
    auth = {}
    for _ in range(iters):
        auth = {}
        for u, v in edges:
            if u in hub:
                auth[v] = auth.get(v, 0) + hub[u]
        auth = norm(auth)
        hub = {}
        for u, v in edges:
            if v in auth:
                hub[u] = hub.get(u, 0) + auth[v]
        hub = norm(hub)
    return hub, auth


def test_hits_matches_integer_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.graph import hits_scores

    # A hub-shaped graph: 1 and 2 point at shared authorities 10/11/12;
    # 3 is a weak hub; 11 also links onward (hub AND authority roles).
    edges = [
        (1, 10), (1, 11), (1, 12),
        (2, 10), (2, 11),
        (3, 12),
        (11, 20), (12, 20),
    ]
    got = {
        r["node"]: (r["hub_fp"], r["auth_fp"])
        for r in hits_scores(
            spark.createDataFrame(edges, "src long, dst long"), iters=3
        ).collect()
    }
    hub, auth = _hits_ref(edges, 3)
    for n in set(hub) | set(auth):
        assert got[n] == (hub.get(n, 0), auth.get(n, 0)), n
    # Structure: 1 is the strongest hub, and the shared targets
    # out-rank the single-source authority
    assert got[1][0] == max(h for h, _ in got.values())
    assert got[10][1] > got[20][1]
    # Node 11 carries BOTH roles
    assert got[11][0] > 0 and got[11][1] > 0
    with pytest.raises(ValueError):
        hits_scores(spark.createDataFrame(edges, "src long, dst long"), iters=0)


# --- 64 rounds on a 64-link chain (lineage.iterate) -------------------------


def _lpa_ref(pairs, iters):
    """Synchronous LPA with the self-vote, ties to the smallest label."""
    import collections

    nbrs = collections.defaultdict(list)
    for u, v in pairs:
        nbrs[u].append(v)
        nbrs[v].append(u)
    lab = {n: n for n in nbrs}
    for _ in range(iters):
        nxt = {}
        for n, ns in nbrs.items():
            c = collections.Counter(lab[m] for m in ns)
            c[lab[n]] += 1
            nxt[n] = min(c, key=lambda x: (-c[x], x))
        lab = nxt
    return lab


def _deep_chain(spark, name, rounds=64):
    """Run one fixed-point operator for ``rounds`` rounds on the chain
    0 → 1 → … → 64 and return (result, expected, new pinned RDDs). k-core
    closes the chain's far end into a triangle, so its 2-core peels one
    chain node per round and needs all 64 rounds."""
    from telecom_dataengineering_pipeline_spark.operators import graph

    sc = spark.sparkContext

    def pinned():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    chain = [(i, i + 1) for i in range(64)]
    directed = spark.createDataFrame(chain, "src long, dst long")
    before = pinned()
    if name == "ppr":
        got = {
            r["node"]: r["rank_fp"]
            for r in graph.personalized_pagerank(directed, [0], iters=rounds).collect()
        }
        want = _ppr_ref(chain, [0], iters=rounds)
    elif name == "hits":
        got = {
            r["node"]: (r["hub_fp"], r["auth_fp"])
            for r in graph.hits_scores(directed, iters=rounds).collect()
        }
        hub, auth = _hits_ref(chain, rounds)
        want = {n: (hub.get(n, 0), auth.get(n, 0)) for n in set(hub) | set(auth)}
    elif name == "lpa":
        df = spark.createDataFrame(chain, "u long, v long")
        got = {r["node"]: r["label"] for r in graph.label_propagation(df, iters=rounds).collect()}
        want = _lpa_ref(chain, rounds)
    else:
        df = spark.createDataFrame(chain + [(64, 65), (65, 66), (64, 66)], "u long, v long")
        got = sorted(r["node"] for r in graph.k_core(df, k=2, rounds=rounds).collect())
        want = [64, 65, 66]
    return got, want, len(pinned() - before)


def _pinned_bound():
    """Rounds ``lineage.iterate`` may hold, plus an operator's loop-invariant
    cuts (≤ 3) and HITS's final hub cut — independent of the round count."""
    from telecom_dataengineering_pipeline_spark.lineage import EAGER_EVERY

    return EAGER_EVERY + 4


def test_personalized_pagerank_survives_64_rounds(spark):
    """A lazy cut per round chained 64 rounds deep overflowed the
    serialization stack (StackOverflowError); the eager cut every
    EAGER_EVERY rounds bounds the chain and releases what it supersedes."""
    got, want, new_rdds = _deep_chain(spark, "ppr")
    assert got == want and len(got) == 65
    assert new_rdds <= _pinned_bound(), new_rdds


@pytest.mark.slow
@pytest.mark.parametrize("name", ["lpa", "kcore", "hits"])
def test_fixed_point_loops_survive_64_rounds(spark, name):
    got, want, new_rdds = _deep_chain(spark, name)
    assert got == want
    assert new_rdds <= _pinned_bound(), new_rdds


# --- autocorrelation profile ----------------------------------------------


def _acf_ref(xs, k):
    n = len(xs)
    mean = sum(xs) / n
    den = sum(round((x - mean) ** 2, 9) for x in xs)
    num = sum(round((xs[t] - mean) * (xs[t - k] - mean), 9) for t in range(k, n))
    return round(num / den, 6) if den > 0 else None


def test_acf_matches_reference_and_detects_period(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import acf_profile

    # Period-4 sawtooth + trendless noise-free series: r4 must dominate
    xs = [float(v) for v in [1, 5, 2, 8] * 6]
    rows = [("a", i, xs[i]) for i in range(len(xs))]
    # Second key: constant series (denominator 0 → NULL acf)
    rows += [("b", i, 7.0) for i in range(8)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        (r["k"], r["lag"]): (r["n"], r["n_pairs"], r["acf"])
        for r in acf_profile(df, ["k"], "t", "v", max_lag=4).collect()
    }
    for k in range(1, 5):
        n, np_, acf = got[("a", k)]
        assert (n, np_) == (24, 24 - k)
        assert acf == pytest.approx(_acf_ref(xs, k), abs=2e-6)
    assert got[("a", 4)][2] > 0.8
    assert got[("a", 4)][2] > abs(got[("a", 1)][2])
    for k in range(1, 5):
        assert got[("b", k)][2] is None
    with pytest.raises(ValueError):
        acf_profile(df, ["k"], "t", "v", max_lag=0)


def test_acf_short_series_lags_beyond_n_are_null(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import acf_profile

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 3.0)], "k string, t int, v double"
    )
    got = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in acf_profile(df, ["k"], "t", "v", max_lag=3).collect()
    }
    assert got[1][0] == 1 and got[1][1] is not None
    assert got[2] == (0, None) and got[3] == (0, None)


def test_hits_high_indegree_no_overflow(spark):
    """20 hubs pointing at one authority: the naive x·scale/max
    normalization overflows LONG here (20·10¹²·10¹² ≫ 2⁶³); the
    divide-by-ceil-factor scheme must not."""
    from telecom_dataengineering_pipeline_spark.operators.graph import hits_scores

    edges = [(u, 100) for u in range(20)] + [(0, 101)]
    got = {
        r["node"]: (r["hub_fp"], r["auth_fp"])
        for r in hits_scores(
            spark.createDataFrame(edges, "src long, dst long"), iters=2
        ).collect()
    }
    hub, auth = _hits_ref(edges, 2)
    for n in set(hub) | set(auth):
        assert got[n] == (hub.get(n, 0), auth.get(n, 0)), n
    assert got[100][1] > got[101][1]


# --- cohort retention -------------------------------------------------------


def test_cohort_retention_matches_bruteforce(spark):
    from collections import defaultdict
    from datetime import date, timedelta

    from telecom_dataengineering_pipeline_spark.operators.windows import (
        cohort_retention,
    )

    d0 = date(2024, 1, 1)  # a Monday: week_trunc boundary
    rows = []
    # user, active days (offsets from d0)
    acts = {
        "u1": [0, 1, 8, 22],        # cohort w0, active w0 w1 w3
        "u2": [2, 9],               # cohort w0, active w0 w1
        "u3": [3],                  # cohort w0 only
        "u4": [7, 21],              # cohort w1, active w1 w3
        "u5": [8],                  # cohort w1 only
    }
    for u, offs in acts.items():
        for o in offs:
            rows.append((u, (d0 + timedelta(days=o)).isoformat() + " 12:00:00"))
    df = spark.createDataFrame(rows, "user string, ts string").select(
        "user", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        (r["cohort"], r["period_offset"]): (
            r["active_users"], r["cohort_size"], r["retention_rate"]
        )
        for r in cohort_retention(df, "user", "ts", period="week").collect()
    }
    # Brute force
    weeks = {u: sorted({o // 7 for o in offs}) for u, offs in acts.items()}
    cells = defaultdict(set)
    sizes = defaultdict(set)
    for u, ws in weeks.items():
        c = ws[0]
        sizes[c].add(u)
        for w in ws:
            cells[(c, w - c)].add(u)
    for (c, off), us in cells.items():
        key = ((d0 + timedelta(weeks=c)).isoformat(), off)
        n, sz = len(us), len(sizes[c])
        assert got[key] == (n, sz, round(n / sz, 6)), key
    assert len(got) == len(cells)
    # offset 0 is always exactly 1.0
    for (c, off), (_, _, rate) in got.items():
        if off == 0:
            assert rate == 1.0


def test_cohort_retention_month_max_offset_validation(spark):
    from telecom_dataengineering_pipeline_spark.operators.windows import (
        cohort_retention,
    )

    rows = [
        ("u1", "2024-01-05"), ("u1", "2024-02-10"), ("u1", "2024-05-01"),
        ("u2", "2024-02-01"), ("u2", "2024-03-31"),
    ]
    df = spark.createDataFrame(rows, "user string, d string").select(
        "user", F.col("d").cast("timestamp").alias("ts")
    )
    got = {
        (r["cohort"], r["period_offset"]): r["active_users"]
        for r in cohort_retention(
            df, "user", "ts", period="month", max_offset=3
        ).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1, ("2024-01-01", 1): 1,  # u1's month 4 trimmed
        ("2024-02-01", 0): 1, ("2024-02-01", 1): 1,
    }
    with pytest.raises(ValueError):
        cohort_retention(df, "user", "ts", period="quarter")


# --- association rules ------------------------------------------------------


def _rules_ref(baskets, min_support):
    from collections import Counter
    from itertools import combinations

    items = Counter()
    sets = {b: set(it) for b, it in baskets.items()}
    for s in sets.values():
        items.update(s)
    freq = {i for i, c in items.items() if c >= min_support}
    pairs = Counter()
    for s in sets.values():
        for a, b in combinations(sorted(i for i in s if i in freq), 2):
            pairs[(a, b)] += 1
    n = len(sets)
    out = {}
    for (a, b), pc in pairs.items():
        if pc < min_support:
            continue
        for ant, con in ((a, b), (b, a)):
            conf = pc / items[ant]
            out[(ant, con)] = (
                pc, items[ant], items[con], n,
                round(pc / n, 6), round(conf, 6),
                round(conf / (items[con] / n), 6),
            )
    return out


def test_association_rules_match_bruteforce(spark):
    from telecom_dataengineering_pipeline_spark.operators.market import (
        association_rules,
    )

    baskets = {
        1: ["bread", "butter", "milk"],
        2: ["bread", "butter"],
        3: ["bread", "milk"],
        4: ["butter", "milk", "beer"],
        5: ["beer", "chips"],
        6: ["beer", "chips", "milk"],
        7: ["bread", "butter", "milk", "milk"],  # dup item in basket
        8: ["caviar"],  # infrequent item, pruned
    }
    rows = [(b, i) for b, its in baskets.items() for i in its]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r["antecedent"], r["consequent"]): (
            r["pair_count"], r["antecedent_count"], r["consequent_count"],
            r["n_baskets"], r["support"], r["confidence"], r["lift"],
        )
        for r in association_rules(df, "basket", "item", min_support=2).collect()
    }
    assert got == _rules_ref(baskets, 2)
    # Sanity on one classic rule: butter→bread confidence 3/4, lift > 1
    assert got[("butter", "bread")][5] == 0.75
    assert got[("chips", "beer")][6] > 1.0
    with pytest.raises(ValueError):
        association_rules(df, "basket", "item", min_support=0)


def test_association_rules_mega_basket_guard(spark):
    from telecom_dataengineering_pipeline_spark.operators.market import (
        association_rules,
    )

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "c")]
    # Basket 99 holds every item; its PRUNED size is 3 (a, b, c survive
    # min_support=2), past the cap of 2 — it contributes no pairs, but
    # its rows still count toward item supports and n_baskets.
    rows += [(99, x) for x in ("a", "b", "c", "d", "e")]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r["antecedent"], r["consequent"]): (r["pair_count"], r["antecedent_count"], r["n_baskets"])
        for r in association_rules(
            df, "basket", "item", min_support=2, max_basket_size=2
        ).collect()
    }
    assert got[("a", "b")] == (2, 3, 4)  # pair from baskets 1,2 only


# --- PMI collocations -------------------------------------------------------


def test_pmi_collocations_match_bruteforce(spark):
    from collections import Counter

    from telecom_dataengineering_pipeline_spark.llmprep.text import pmi_collocations

    texts = [
        "new york is big and new york is loud",
        "machine learning in new york",
        "big data and machine learning",
        "the big apple is new york",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r["token_a"], r["token_b"]): (
            r["pair_count"], r["count_a"], r["count_b"],
            r["n_bigrams"], r["n_tokens"], r["pmi"],
        )
        for r in pmi_collocations(df, min_count=2).collect()
    }
    uni = Counter()
    bi = Counter()
    nt = nb = 0
    for t in texts:
        ws = t.split()
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
        nt += len(ws)
        nb += len(ws) - 1
    expect = {}
    for (a, b), c in bi.items():
        if c >= 2:
            expect[(a, b)] = (
                c, uni[a], uni[b], nb, nt,
                round(math.log((c / nb) / ((uni[a] / nt) * (uni[b] / nt))), 6),
            )
    assert got == expect
    # PMI rewards rarity: "machine learning" (2/2/2) out-scores the more
    # common "new york" (4/4/4) — both are real collocations (pmi > 0)
    top = pmi_collocations(df, min_count=2, top_k=1).collect()[0]
    assert (top["token_a"], top["token_b"]) == ("machine", "learning")
    assert got[("new", "york")][5] > 1.0
    with pytest.raises(ValueError):
        pmi_collocations(df, min_count=0)


# --- reciprocal rank fusion -------------------------------------------------


def test_rrf_fuse_matches_bruteforce(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.similarity import rrf_fuse

    lex = [(1, 9.5), (2, 7.2), (3, 5.0), (4, 1.1)]
    dense = [(3, 0.99), (1, 0.95), (5, 0.90)]
    l1 = spark.createDataFrame(lex, "doc_id long, score double")
    l2 = spark.createDataFrame(dense, "doc_id long, score double")
    got = {
        r["doc_id"]: (r["n_lists"], r["rrf_score"])
        for r in rrf_fuse([l1, l2], rrf_k=60).collect()
    }

    def ranks(lst):
        return {
            d: i + 1
            for i, (d, _) in enumerate(
                sorted(lst, key=lambda x: (-x[1], x[0]))
            )
        }

    r1, r2 = ranks(lex), ranks(dense)
    expect = {}
    for d in set(r1) | set(r2):
        terms = [round(1.0 / (60 + r[d]), 9) for r in (r1, r2) if d in r]
        expect[d] = (len(terms), round(sum(terms), 6))
    assert got == expect
    # doc 1 and 3 appear in both lists and dominate the fusion
    top = rrf_fuse([l1, l2], rrf_k=60, top_k=2).collect()
    assert {r["doc_id"] for r in top} == {1, 3}
    with pytest.raises(ValueError):
        rrf_fuse([], rrf_k=60)
    with pytest.raises(ValueError):
        rrf_fuse([l1], rrf_k=0)


def test_rrf_fuse_deterministic_tie_break(spark):
    from telecom_dataengineering_pipeline_spark.llmprep.similarity import rrf_fuse

    tied = spark.createDataFrame(
        [(10, 1.0), (2, 1.0), (7, 1.0)], "doc_id long, score double"
    )
    got = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse([tied], rrf_k=1).collect()}
    # equal scores rank by id asc: 2→1, 7→2, 10→3
    assert got == {
        2: round(round(1 / 2, 9), 6),
        7: round(round(1 / 3, 9), 6),
        10: round(round(1 / 4, 9), 6),
    }


# --- radius of gyration -----------------------------------------------------


def test_radius_of_gyration_matches_bruteforce(spark):
    from telecom_dataengineering_pipeline_spark.functions.geo import (
        radius_of_gyration,
    )

    pings = {
        # commuter: Berlin center <-> suburb (~10 km apart)
        "commuter": [(52.52, 13.405), (52.52, 13.405), (52.45, 13.30), (52.45, 13.30)],
        # stationary: one tower
        "stationary": [(48.137, 11.575)] * 3,
        # traveler: Berlin / Munich / Hamburg
        "traveler": [(52.52, 13.405), (48.137, 11.575), (53.55, 9.99)],
    }
    rows = [(u, la, lo) for u, ps in pings.items() for la, lo in ps]
    df = spark.createDataFrame(rows, "user string, lat double, lon double")
    got = {
        r["user"]: (r["n_pings"], r["centroid_lat"], r["centroid_lon"], r["rg_km"])
        for r in radius_of_gyration(df, "user", "lat", "lon").collect()
    }

    def hav(lat1, lon1, lat2, lon2):
        R = 6371.0
        dla, dlo = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
        a = (
            math.sin(dla / 2) ** 2
            + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
            * math.sin(dlo / 2) ** 2
        )
        return 2 * R * math.asin(math.sqrt(a))

    for u, ps in pings.items():
        n = len(ps)
        clat = sum(p[0] for p in ps) / n
        clon = sum(p[1] for p in ps) / n
        ss = sum(round(hav(la, lo, clat, clon) ** 2, 9) for la, lo in ps)
        n_, gla, glo, rg = got[u]
        assert n_ == n
        assert gla == pytest.approx(clat, abs=1e-6)
        assert glo == pytest.approx(clon, abs=1e-6)
        assert rg == pytest.approx(math.sqrt(ss / n), abs=1e-5)
    assert got["stationary"][3] == 0.0
    assert got["commuter"][3] < got["traveler"][3]
    assert 2 < got["commuter"][3] < 10
    assert got["traveler"][3] > 100


# --- inter-arrival profile --------------------------------------------------


def test_interarrival_profile_matches_bruteforce(spark):
    from telecom_dataengineering_pipeline_spark.operators.windows import (
        interarrival_profile,
    )

    base = 1_700_000_000
    series = {
        "metronome": [base + 60 * i for i in range(10)],       # exact 60s beat
        "bursty": [base, base + 1, base + 2, base + 3600, base + 3601, base + 7200],
        "single": [base],
        "pair": [base, base + 100],
    }
    rows = [(k, t) for k, ts in series.items() for t in ts]
    df = spark.createDataFrame(rows, "k string, epoch long").select(
        "k", F.timestamp_seconds("epoch").alias("ts")
    )
    got = {
        r["k"]: (
            r["n_events"], r["n_gaps"], r["mean_gap_s"], r["min_gap_s"],
            r["max_gap_s"], r["std_gap_s"], r["burstiness"],
        )
        for r in interarrival_profile(df, ["k"], "ts").collect()
    }
    for k, ts in series.items():
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        n, ng = len(ts), len(gaps)
        if ng == 0:
            assert got[k] == (n, 0, None, None, None, None, None)
            continue
        mean = sum(gaps) / ng
        assert got[k][:5] == (n, ng, round(mean, 6), min(gaps), max(gaps))
        if ng < 2:
            assert got[k][5] is None and got[k][6] is None
        else:
            var = (ng * sum(g * g for g in gaps) - sum(gaps) ** 2) / (ng * (ng - 1))
            std = math.sqrt(var)
            assert got[k][5] == pytest.approx(std, abs=1e-6)
            assert got[k][6] == pytest.approx((std - mean) / (std + mean), abs=1e-6)
    # the metronome is maximally regular; the bursty key is positive
    assert got["metronome"][6] == -1.0
    assert got["bursty"][6] > 0


# --- entropy profile --------------------------------------------------------


def test_entropy_profile_matches_bruteforce(spark):
    from collections import Counter

    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        entropy_profile,
    )

    data = {
        "uniform": ["a", "b", "c", "d"] * 5,
        "skewed": ["a"] * 17 + ["b", "c", "d"],
        "constant": ["x"] * 8,
        "withnull": ["a", "a", None, None],
    }
    rows = [(k, v) for k, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "k string, cat string")
    got = {
        r["k"]: (r["n_rows"], r["n_categories"], r["entropy"], r["evenness"])
        for r in entropy_profile(df, ["k"], "cat").collect()
    }
    for k, vs in data.items():
        c = Counter("__null__" if v is None else v for v in vs)
        n = len(vs)
        h = sum(round(-(x / n) * math.log(x / n), 9) for x in c.values())
        n_, k_, ent, ev = got[k]
        assert (n_, k_) == (n, len(c))
        assert ent == pytest.approx(h, abs=2e-6)
        if len(c) > 1:
            assert ev == pytest.approx(round(ent, 6) / math.log(len(c)), abs=1e-5)
        else:
            assert ev is None
    assert got["constant"][2] == 0.0
    assert got["uniform"][3] == pytest.approx(1.0, abs=1e-6)
    assert got["skewed"][3] < 0.5
    assert got["withnull"][3] == pytest.approx(1.0, abs=1e-6)


# --- leave-one-out target encoding ------------------------------------------


def test_target_encode_loo_matches_bruteforce(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import (
        target_encode_loo,
    )

    rows = [
        ("a", 1.0), ("a", 0.0), ("a", 1.0), ("a", 1.0),
        ("b", 0.0), ("b", 0.0), ("c", 1.0),          # c is a singleton
        ("b", None),                                  # NULL target still encoded
    ]
    df = spark.createDataFrame(rows, "cat string, y double")
    got = [
        (r["cat"], r["y"], r["te_loo"])
        for r in target_encode_loo(df, "cat", "y").collect()
    ]
    sums = {"a": 3.0, "b": 0.0, "c": 1.0}
    ns = {"a": 4, "b": 2, "c": 1}
    for cat, y, enc in got:
        if y is None:
            assert enc == round(sums[cat] / ns[cat], 6)  # self excluded = nothing
        elif ns[cat] == 1:
            assert enc is None
        else:
            assert enc == round((sums[cat] - y) / (ns[cat] - 1), 6)
    # smoothing pulls singletons to the global mean
    g = sum(v for v in sums.values()) / sum(ns.values())
    sm = {
        r["cat"]: r["te_loo"]
        for r in target_encode_loo(df, "cat", "y", smoothing=10.0).collect()
        if r["cat"] == "c"
    }
    assert sm["c"] == pytest.approx((0.0 + 10.0 * g) / (0 + 10.0), abs=1e-6)
    with pytest.raises(ValueError):
        target_encode_loo(df, "cat", "y", smoothing=-1)


# --- ECDF normalization -----------------------------------------------------


def test_ecdf_normalize_tie_safe(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import (
        ecdf_normalize,
    )

    rows = [("k", v) for v in [10.0, 20.0, 20.0, 30.0, 40.0]]
    df = spark.createDataFrame(rows, "k string, v double")
    got = sorted(
        (r["v"], r["ecdf"], r["pct_rank"])
        for r in ecdf_normalize(df, ["k"], "v").collect()
    )
    # cume_dist counts <=; ties share values (tie-safe); percent_rank = (rank-1)/(n-1)
    assert got == [
        (10.0, 0.2, 0.0),
        (20.0, 0.6, 0.25),
        (20.0, 0.6, 0.25),
        (30.0, 0.8, 0.75),
        (40.0, 1.0, 1.0),
    ]


# --- binary AUC -------------------------------------------------------------


def _auc_ref(pairs):
    """Tie-averaged Mann-Whitney reference."""
    xs = sorted(pairs, key=lambda t: t[1])
    ranks = {}
    i = 0
    while i < len(xs):
        j = i
        while j < len(xs) and xs[j][1] == xs[i][1]:
            j += 1
        avg = (i + 1 + j) / 2
        for t in range(i, j):
            ranks[t] = avg
        i = j
    pos = [k for k, (y, _) in enumerate(xs) if y == 1]
    neg = [k for k, (y, _) in enumerate(xs) if y == 0]
    if not pos or not neg:
        return None
    u = sum(ranks[k] for k in pos) - len(pos) * (len(pos) + 1) / 2
    return round(u / (len(pos) * len(neg)), 6)


def test_binary_auc_matches_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.features import binary_auc

    cases = {
        "perfect": [(1, 0.9), (1, 0.8), (0, 0.3), (0, 0.1)],
        "inverted": [(0, 0.9), (0, 0.8), (1, 0.3), (1, 0.1)],
        "ties": [(1, 0.5), (0, 0.5), (1, 0.5), (0, 0.2), (1, 0.9)],
        "mixed": [(1, 0.7), (0, 0.6), (1, 0.6), (0, 0.4), (1, 0.3), (0, 0.3)],
        "onesided": [(1, 0.5), (1, 0.2)],
    }
    rows = [(k, y, s) for k, ps in cases.items() for y, s in ps]
    df = spark.createDataFrame(rows, "k string, y int, s double")
    got = {
        r["k"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in binary_auc(df, "y", "s", ["k"]).collect()
    }
    for k, ps in cases.items():
        npos = sum(1 for y, _ in ps if y == 1)
        nneg = len(ps) - npos
        assert got[k] == (npos, nneg, _auc_ref(ps)), k
    assert got["perfect"][2] == 1.0
    assert got["inverted"][2] == 0.0
    assert got["onesided"][2] is None
    # global (un-keyed) variant and NULL exclusion
    g = binary_auc(
        spark.createDataFrame(
            [(1, 0.8), (0, 0.2), (None, 0.9), (1, None)], "y int, s double"
        ),
        "y", "s",
    ).collect()[0]
    assert (g["n_pos"], g["n_neg"], g["auc"]) == (1, 1, 1.0)


# --- Jaro-Winkler pairs -----------------------------------------------------


def test_jaro_winkler_matches_duckdb_definition(spark):
    import duckdb

    from telecom_dataengineering_pipeline_spark.llmprep.fuzzy import (
        jaro_winkler, jaro_winkler_pairs,
    )

    fixtures = [
        ("martha", "marhta"), ("dixon", "dicksonx"), ("abc", "abc"),
        ("", "abc"), ("crate", "trace"), ("ab", "ba"),
        ("jellyfish", "smellyfish"), ("0171555123", "0171555132"),
        ("abcdefgh", "abzzzzzz"), ("a", "a"),
    ]
    con = duckdb.connect()
    for s1, s2 in fixtures:
        mirror = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [s1, s2]
        ).fetchone()[0]
        assert round(jaro_winkler(s1, s2), 6) == round(mirror, 6), (s1, s2)

    df = spark.createDataFrame(fixtures, "a string, b string")
    got = {
        (r["a"], r["b"]): r["jw_sim"]
        for r in jaro_winkler_pairs(df, "a", "b", threshold=0.9).collect()
    }
    expect = {
        (s1, s2): round(jaro_winkler(s1, s2), 6)
        for s1, s2 in fixtures
        if jaro_winkler(s1, s2) >= 0.9
    }
    assert got == expect
    assert ("martha", "marhta") in got and ("abcdefgh", "abzzzzzz") not in got


# --- join cardinality estimate ----------------------------------------------


def test_join_cardinality_estimate_exact(spark):
    from telecom_dataengineering_pipeline_spark.operators.joins import (
        join_cardinality_estimate,
    )

    left = [(k,) for k in ["hot"] * 100 + ["warm"] * 10 + ["cold"] * 2 + ["lonly"]]
    right = [(k,) for k in ["hot"] * 50 + ["warm"] * 5 + ["cold"] * 1 + ["ronly"] * 9]
    ldf = spark.createDataFrame(left, "k string")
    rdf = spark.createDataFrame(right, "k string")
    rows = {
        r["rank"]: (r["key"], r["left_rows"], r["right_rows"], r["pair_rows"], r["share"])
        for r in join_cardinality_estimate(ldf, rdf, ["k"], top_k=2).collect()
    }
    true_out = 100 * 50 + 10 * 5 + 2 * 1
    assert rows[0] == (None, 112, 56, true_out, 1.0)
    assert rows[1] == ("hot", 100, 50, 5000, round(5000 / true_out, 6))
    assert rows[2] == ("warm", 10, 5, 50, round(50 / true_out, 6))
    assert 3 not in rows
    # the estimate equals the REAL inner-join count
    assert ldf.join(rdf, "k").count() == true_out


# --- Mann-Kendall / Theil-Sen ----------------------------------------------


def _mk_ref(ts, vs, z_alpha=1.96):
    n = len(vs)
    s = sum(
        (vs[j] > vs[i]) - (vs[j] < vs[i])
        for i in range(n) for j in range(i + 1, n)
    )
    from collections import Counter

    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in Counter(vs).values())
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    if var > 0:
        z = (s - 1) / math.sqrt(var) if s > 0 else ((s + 1) / math.sqrt(var) if s < 0 else 0.0)
    else:
        z = None
    slopes = sorted(
        (vs[j] - vs[i]) / (ts[j] - ts[i])
        for i in range(n) for j in range(i + 1, n)
    )
    m = len(slopes)
    sen = (slopes[(m - 1) // 2] + slopes[m // 2]) / 2 if m else None
    trend = None
    if z is not None:
        trend = "increasing" if z > z_alpha else ("decreasing" if z < -z_alpha else "no_trend")
    return s, var, z, trend, sen


def test_mann_kendall_matches_reference(spark):
    from telecom_dataengineering_pipeline_spark.operators.trend import (
        mann_kendall_trend,
    )

    series = {
        "up": [1.0, 2.0, 1.5, 3.0, 4.0, 3.5, 5.0, 6.0, 7.0, 8.0],
        "down": [9.0, 8.0, 8.5, 7.0, 6.0, 5.0, 5.5, 4.0, 3.0, 2.0],
        "noisy": [5.0, 3.0, 8.0, 2.0, 7.0, 4.0, 6.0, 5.0],
        "tied": [2.0, 2.0, 2.0, 2.0, 2.0],     # var 0: NULL z/trend
        "outlier": [1.0, 2.0, 3.0, 100.0, 5.0, 6.0, 7.0],  # sen robust, OLS not
    }
    rows = [(k, i, x) for k, xs in series.items() for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        r["k"]: (r["n"], r["s_stat"], r["var_s"], r["z"], r["trend"], r["sen_slope"])
        for r in mann_kendall_trend(df, ["k"], "t", "v").collect()
    }
    for k, xs in series.items():
        s, var, z, trend, sen = _mk_ref(list(range(len(xs))), xs)
        n_, s_, v_, z_, t_, sl_ = got[k]
        assert (n_, s_) == (len(xs), s), k
        assert v_ == pytest.approx(var, abs=1e-6)
        if z is None:
            assert z_ is None and t_ is None
        else:
            assert z_ == pytest.approx(z, abs=1e-6)
            assert t_ == trend
        assert sl_ == pytest.approx(sen, abs=1e-6)
    assert got["up"][4] == "increasing" and got["down"][4] == "decreasing"
    assert got["noisy"][4] == "no_trend"
    # the planted outlier barely moves the Sen slope
    assert 0.9 <= got["outlier"][5] <= 1.6


# --- mutual information -----------------------------------------------------


def _mi_ref(pairs):
    from collections import Counter

    cxy, cx, cy = Counter(pairs), Counter(p[0] for p in pairs), Counter(p[1] for p in pairs)
    N = len(pairs)
    mi = sum(
        round((n / N) * math.log((n * N) / (cx[a] * cy[b])), 9)
        for (a, b), n in cxy.items()
    )
    hx = sum(round(-(n / N) * math.log(n / N), 9) for n in cx.values())
    hy = sum(round(-(n / N) * math.log(n / N), 9) for n in cy.values())
    return mi, hx, hy


def test_mutual_information_matches_reference(spark):
    from telecom_dataengineering_pipeline_spark.quality.monitors import (
        mutual_information,
    )

    # x fully determines y (perfect dependence) in group A; independent in B
    dep = [("a", "p")] * 20 + [("b", "q")] * 20 + [("c", "r")] * 10
    df = spark.createDataFrame(dep, "x string, y string")
    row = mutual_information(df, "x", "y").collect()[0]
    mi, hx, hy = _mi_ref(dep)
    assert row["n"] == 50 and row["n_cells"] == 3
    assert row["mi"] == pytest.approx(mi, abs=2e-6)
    assert row["h_x"] == pytest.approx(hx, abs=2e-6)
    assert row["h_y"] == pytest.approx(hy, abs=2e-6)
    # perfect dependence with equal-entropy marginals: NMI = 1
    assert row["nmi"] == pytest.approx(1.0, abs=1e-6)

    # independence: MI ~ 0
    ind = [(x, y) for x in ("a", "b") for y in ("p", "q") for _ in range(25)]
    row = mutual_information(
        spark.createDataFrame(ind, "x string, y string"), "x", "y"
    ).collect()[0]
    assert abs(row["mi"]) < 1e-9 and abs(row["nmi"]) < 1e-9

    # constant column: MI 0, NMI NULL; NULLs are a real level
    const = [("k", v) for v in ("p", "q", None, "p")]
    row = mutual_information(
        spark.createDataFrame(const, "x string, y string"), "x", "y"
    ).collect()[0]
    assert row["mi"] == 0.0 and row["nmi"] is None and row["n_cells"] == 3
