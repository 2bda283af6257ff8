"""Round-3 registrations: incremental LSH probe, centroid outliers, and
BPE pair-merge counting — behavior invariants beyond the value-parity gate,
plus the band-geometry / zero-norm guards and the driver-window rotation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.llmprep.curation import pair_merge_stats
from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
    _check_band_geometry,
    incremental_lsh_probe,
    minhash_near_dup_pairs,
)
from telecom_dataengineering_pipeline_spark.llmprep.similarity import centroid_outliers


def test_incremental_probe_finds_cross_side_dups_only(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    index = spark.createDataFrame(
        [(0, base), (2, "completely different words about spark adaptive execution")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        # 1 ≈ index doc 0; 3 matches nothing; 5 ≈ index doc 2's twin IN THE
        # SAME BATCH (must NOT be emitted — probe is strictly batch×index).
        [(1, base), (3, "unrelated corpus text entirely"), (5, base)],
        "doc_id LONG, text STRING",
    )
    rows = incremental_lsh_probe(index, batch, threshold=0.5).collect()
    pairs = {(r["batch_doc"], r["index_doc"]) for r in rows}
    assert (1, 0) in pairs and (5, 0) in pairs
    # no batch-batch or index-index pairs
    assert all(b in (1, 3, 5) and i in (0, 2) for b, i in pairs)
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0


def test_band_geometry_validation():
    assert _check_band_geometry(64, 16) == 4
    with pytest.raises(ValueError, match="evenly divide"):
        _check_band_geometry(64, 24)
    with pytest.raises(ValueError, match="positive"):
        _check_band_geometry(64, 0)


def test_minhash_rejects_bad_band_geometry(spark):
    docs = spark.createDataFrame([(0, "a b c d e")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="evenly divide"):
        minhash_near_dup_pairs(docs, num_perm=64, bands=24)


def test_centroid_outlier_zero_vector_surfaces_first(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7),
            (1, [0.9, 0.1], 7),
            (2, [0.0, 0.0], 7),  # zero vector: cosine undefined
            (3, [0.8, 0.3], 7),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    rows = centroid_outliers(emb, bottom_k=2).collect()
    by_rank = {r["rank"]: r for r in rows}
    # the degenerate vector is the TOP outlier (NULL cosine, nulls first),
    # not silently dropped
    assert by_rank[1]["vec_id"] == 2
    assert by_rank[1]["cosine_to_centroid"] is None


def test_pair_merge_counts_multiplicity_and_df(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "x")],  # doc 2: no pairs
        "doc_id LONG, text STRING",
    )
    rows = {r["pair"]: r for r in pair_merge_stats(docs, k=10).collect()}
    assert rows["a b"]["tf"] == 3 and rows["a b"]["df"] == 2  # multiplicity kept
    assert rows["b a"]["tf"] == 1 and rows["b a"]["df"] == 1
    assert rows["b c"]["df"] == 1
    assert "x" not in rows


# The 33 round-8 registrations (registration order). Their FIRST driver
# row is the r9 window head; the computed order caps new-name slots at 30,
# so the 3 LAST-registered hold at positions 51+ for the r10 head
# (COVERAGE.md round-8 close / VERDICT r8 item 1).
R8_NAMES = [
    "pca_variance_explained",
    "orphan_lineitems_injected",
    "dq_accepted_values_injected",
    "attribution_stream_purchases",
    "ann_hamming_topk",
    "ols2_price_on_qty_discount",
    "kn_bigram_doc_scores",
    "clustering_coeff_copurchase",
    "cuped_event_value_experiment",
    "readability_doc_scores",
    "iceberg_export_roundtrip",
    "croston_error_demand",
    "rolling_median_event_values",
    "abc_parts_by_revenue",
    "impute_event_values_median",
    "sssp_copurchase_costs",
    "seasonal_decompose_event_values",
    "growth_accounting_daily_users",
    "winsorize_event_values",
    "na_hazard_customer_churn",
    "did_event_value_quasi_experiment",
    "growth_stream_daily_users",
    "event_type_overlap_matrix",
    "dq_expectations_orders_profile",
    "hwm_forecast_event_values",
    "interpolate_error_demand_series",
    "pivot_status_by_priority",
    "magnitude_profile_order_totals",
    "mrl_truncation_recall",
    "wilson_ci_fulfilled_by_nation",
    "dwell_time_by_event_type",
    "contingency_priority_status",
    "char_class_doc_profile",
]


def _latest_round_per_name() -> dict[str, int]:
    """Latest driver round per query, from ALL committed CORRECTNESS files
    (VERDICT r8 item 2: globbed, never a hardcoded round list)."""
    import glob
    import json
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    seen: dict[str, int] = {}
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name in json.load(open(p)):
            seen[name] = max(seen.get(name, 0), rnd)
    return seen


def test_round9_window_contract():
    """Round-9 window (VERDICT r8 item 1, pinned): the driver verifies the
    first 50 entries of queries(). With r1-r8 evidence committed, the
    computed order must put the 30 OLDEST-registered r8 names first (no
    driver rows yet), then the 7 r3-stale names, then 13 r4-stale names —
    20 rotation slots — holding the 3 last-registered r8 names at 51+ for
    the r10 head. This test is round-sticky by design: once a
    CORRECTNESS_r09 file exists the r8 names gain driver rows and the
    specific expectations below stop describing the computed order, so
    skip (the mechanical invariants keep being enforced by
    test_driver_window_refreshes_stalest_evidence)."""
    from telecom_dataengineering_pipeline_spark.queries.registry import (
        driver_order,
        oracle_sql,
    )

    seen = _latest_round_per_name()
    if any(n in seen for n in R8_NAMES):
        pytest.skip("post-r9 evidence exists; the generic invariants take over")
    names = driver_order()
    window = names[:50]
    assert window[:30] == R8_NAMES[:30], "oldest 30 r8 names must head the r9 window"
    assert set(R8_NAMES) <= set(oracle_sql()), "every r8 name carries an oracle"
    rotation = window[30:]
    assert all(seen[n] == 3 for n in rotation[:7]), "slots 31-37 are the 7 r3-stale names"
    assert all(seen[n] == 4 for n in rotation[7:]), "slots 38-50 are r4-stale names"
    assert names[50:53] == R8_NAMES[30:], "the 3 held r8 names queue for the r10 head"


def test_driver_window_refreshes_stalest_evidence():
    """Rotation contract (VERDICT r4 item 4, renewed every round): every
    slot of the 50-entry driver window goes to a query with NO driver row
    yet or to the stalest-evidence names — no name inside the window may
    have STRICTLY FRESHER driver evidence than a name waiting outside it.
    Minimum ROTATION BUDGET (VERDICT r7 item 2): at least 20 window slots
    must be refreshes of already-driver-checked names, so the stale tier
    drains even in heavy-build rounds. Evidence is read from ALL committed
    CORRECTNESS files (VERDICT r8 item 2 — the r7-era version of this test
    enumerated rounds 1..7 and went blind to r8+)."""
    from telecom_dataengineering_pipeline_spark.queries.registry import queries

    seen = _latest_round_per_name()
    names = list(queries())
    window, outside = names[:50], names[50:]
    assert len(window) == 50
    # Stalest-first: nothing inside the window may be fresher than anything
    # waiting outside.
    in_ev = [seen[n] for n in window if n in seen]
    out_ev = [seen[n] for n in outside if n in seen]
    assert out_ev
    if in_ev:
        assert max(in_ev) <= min(out_ev), (
            f"window holds evidence from round {max(in_ev)} while a staler "
            f"round-{min(out_ev)} name waits outside"
        )
    # Minimum rotation budget: >= 20 slots are stale-refreshes.
    assert len(in_ev) >= 20, (
        f"only {len(in_ev)} rotation slots — the pinned minimum is 20 "
        "(VERDICT r7 item 2); new registrations go to positions 51+"
    )
    # Never-checked names are capped at 30 window slots and every one of
    # them (up to the cap) IS in the window, in registration order.
    never_in_window = [n for n in window if n not in seen]
    assert len(never_in_window) <= 30


def test_pq_adc_twin_rank_and_bad_m(spark):
    """A vector that IS a codeword seed reconstructs its own subspaces well
    enough that its ADC self-distance ranks it nearest to an identical
    twin; a subspace count that does not divide the width is refused."""
    from telecom_dataengineering_pipeline_spark.llmprep.similarity import (
        pq_adc_topk,
        pq_subvectors,
    )

    base = [float(i % 7) - 3.0 for i in range(16)]
    rows = [(0, base), (1, base), (2, [v + 5.0 for v in base]), (25, [v - 2.0 for v in base])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    out = pq_adc_topk(emb, query_ids=[0], k=3, m=4, dims=16, codeword_mod=25, iters=1)
    top = {r["rank"]: r for r in out.collect()}
    # identical twin shares every code → ADC distance is the same for both,
    # and vec 1 (the twin) wins the tie-break at rank 1 or 2
    assert top[1]["neighbor_id"] == 1

    with pytest.raises(ValueError, match="evenly divide"):
        pq_subvectors(emb, m=5, dims=16)


def test_pq_query_path_reads_codes_not_vectors(spark):
    """The ADC join broadcasts the distance table onto the code relation —
    no shuffle of the corpus codes, no cartesian product."""
    from telecom_dataengineering_pipeline_spark.llmprep.similarity import pq_adc_topk
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = pq_adc_topk(emb, query_ids=list(range(10)), k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # ADC reduction + ranking: the dist-table join side is broadcast
    assert "BroadcastHashJoin" in plan


def test_probe_against_persisted_index_roundtrip(spark, tmp_path):
    """The production ingest flow: index tables built once, PERSISTED to
    parquet, read back, probed — identical pairs to the derive-both-sides
    path (the index never re-tokenizes)."""
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        incremental_lsh_probe_prepared,
        lsh_index_tables,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    index = spark.createDataFrame(
        [(0, base), (2, "completely different words about spark adaptive execution")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame([(1, base)], "doc_id LONG, text STRING")

    banded, shingles = lsh_index_tables(index)
    bp, sp = str(tmp_path / "banded"), str(tmp_path / "shingles")
    banded.write.parquet(bp)
    shingles.write.parquet(sp)

    out = incremental_lsh_probe_prepared(
        spark.read.parquet(bp), spark.read.parquet(sp), batch, threshold=0.5
    ).collect()
    assert {(r["batch_doc"], r["index_doc"]) for r in out} == {(1, 0)}
    assert all(r["jaccard"] == 1.0 for r in out)
