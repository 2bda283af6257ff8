"""Physical-plan invariants for the headline queries — the PLANS.md claims
as assertions. These pin the *shape* that makes each query scale: shuffle
counts, broadcast choices, pushdown, pruning, window-limit pushdown, and
top-k fusion."""

from __future__ import annotations

import re

import pytest

from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY


def _physical(spark, name, sf):
    df = REGISTRY[name].fn(spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


def _n_shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_hourly_rollup_one_shuffle_broadcast_pushdown_pruning(spark, sf_smoke):
    plan = _physical(spark, "hourly_usage_rollup", sf_smoke)
    assert _n_shuffles(plan) == 1  # the agg exchange — and nothing else
    assert "BroadcastHashJoin" in plan  # dim join never shuffles the facts
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    assert "props" not in plan  # widest events column pruned from the scan


def test_revenue_by_nation_dims_broadcast(spark, sf_smoke):
    plan = _physical(spark, "revenue_by_nation", sf_smoke)
    assert plan.count("BroadcastHashJoin") >= 3  # customer/nation/region (+AQE orders)
    assert _n_shuffles(plan) <= 2  # agg exchange (+ join exchange iff SMJ at scale)


def test_keep_latest_dedup_window_group_limit(spark, sf_smoke):
    plan = _physical(spark, "latest_event_per_user_type", sf_smoke)
    assert "WindowGroupLimit" in plan  # top-1 pruned map-side pre-shuffle


def test_topk_fuses_sort_and_limit(spark, sf_smoke):
    plan = _physical(spark, "shipping_priority_topk", sf_smoke)
    assert "TakeOrderedAndProject" in plan  # never a global sort of all groups


def test_salted_rollup_two_phase(spark, sf_smoke):
    plan = _physical(spark, "hourly_usage_rollup_salted", sf_smoke)
    assert _n_shuffles(plan) == 2  # (key, salt) phase + key combine phase
    assert "BroadcastHashJoin" in plan


def test_topk_per_group_window_group_limit(spark, sf_smoke):
    plan = _physical(spark, "top_orders_per_segment", sf_smoke)
    assert "WindowGroupLimit" in plan  # k=3 pre-pruned map-side, like k=1


def test_shingle_and_signature_single_exchange(spark, sf_smoke):
    """The shared tokenize/shingle spine of all dedup variants: ONE exchange
    (the doc repartition). The (doc_id, shingle) distinct runs partition-
    locally because hashpartitioning(doc_id) already satisfies the
    clustering, and the MinHash signature agg rides the same partitioning."""
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        minhash_signatures,
        shingle_stream,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_smoke, "documents")
    p1 = shingle_stream(docs)._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange") == 1
    p2 = minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert p2.count("Exchange") == 1


def test_curation_plan_shapes(spark, sf_smoke):
    """Pin the scale-critical plan shapes of the curation tier:
    repetition/packing ride a single exchange, vocab top-k never sorts the
    full vocabulary, decontamination joins on the shingle key (no
    cartesian/nested-loop anywhere)."""
    from telecom_dataengineering_pipeline_spark.llmprep.chunking import chunk_documents
    from telecom_dataengineering_pipeline_spark.llmprep.curation import (
        decontamination_overlap,
        pack_sequences,
        repetition_metrics,
        vocab_stats,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_smoke, "documents")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # repetition: doc repartition is the only exchange; both aggs ride it
    p = plan(repetition_metrics(docs))
    assert p.count("Exchange") == 1

    # packing: one exchange on pack_group; the per-sequence agg rides the
    # window partitioning (hashpartitioning(pack_group) satisfies the
    # (pack_group, seq_idx) clustering)
    p = plan(pack_sequences(chunk_documents(docs).drop("chunk_md5")))
    assert p.count("Exchange") == 1

    # vocab top-k: TakeOrderedAndProject, not a global Sort of the vocab
    p = plan(vocab_stats(docs, k=50))
    assert "TakeOrderedAndProject" in p

    # decontamination: keyed joins only
    p = plan(decontamination_overlap(docs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_skewed_source_join_triggers_aqe_skew_split(spark):
    """Skew-stress fixture: one source owns ~95% of the docs, and the
    doc→source-dim join (keep-best / source-overlap shape: text payload
    rides through the join) must get the AQE skew-split treatment rather
    than one straggler task. Thresholds are scaled down to test volume —
    at production scale the session defaults (256 MB threshold, 5× median)
    fire the same rule. Broadcast is disabled to force the shuffle-join
    path a 100 TB fact×fact join would take."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        docs = spark.range(0, 400_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise(F.col("id") % 13)
            .alias("source_id"),
            F.concat(
                F.lit("doc-"), F.col("id").cast("string"), F.lit("x" * 200)
            ).alias("text"),
        )
        dim = spark.range(0, 13).select(
            F.col("id").alias("source_id"),
            F.concat(F.lit("src_"), F.col("id").cast("string")).alias("source"),
        )
        j = docs.join(dim, "source_id").select(
            "source_id", "source", F.substring("text", 1, 4).alias("t4")
        )
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skewed" in plan, "AQE skew-join did not split the skewed partition"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_simhash_pairs_and_chunk_dedup_plan_shapes(spark, sf_smoke):
    """Round-3 dedup spines: candidate generation stays an equi-join (no
    cartesian anywhere), the banded self-join rides the materialized
    fingerprint relation (broadcast hash join at this scale), and chunk
    dedup is bounded by its two keyed exchanges (doc repartition + content-
    hash agg)."""
    from telecom_dataengineering_pipeline_spark.llmprep.chunking import (
        duplicate_chunk_groups,
    )
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        simhash_near_dup_pairs,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_smoke, "documents")
    p = simhash_near_dup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange") <= 2  # doc repartition + candidate distinct

    p = duplicate_chunk_groups(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 2  # doc repartition + chunk-hash agg


def test_star_join_collapses_snowflake_into_one_fact_probe(spark, sf_smoke):
    """The dim chain (customer->nation->region) pre-joins INSIDE the
    broadcast build: in the printed tree both chain joins sit below the
    top join's BroadcastExchange, so fact rows probe exactly one hash
    table. (In the old dim-by-dim plan the chain joins sat on the fact's
    probe path, printed before any BroadcastExchange.)"""
    plan = _physical(spark, "star_join_enriched_orders", sf_smoke)
    lines = plan.splitlines()
    bhj = [i for i, l in enumerate(lines) if "BroadcastHashJoin" in l]
    bex = [i for i, l in enumerate(lines) if "BroadcastExchange" in l]
    assert len(bhj) == 3 and bex, plan
    # top fact join first; the two chain joins live under its broadcast build
    assert bhj[1] > bex[0] and bhj[2] > bex[0], plan
    assert _n_shuffles(plan) == 0


def test_sketch_builds_are_single_exchange_pruned_scans(spark, sf_smoke):
    """Histogram-sketch and HLL-register builds: ONE hash exchange (the
    map-side-combined aggregate), events scan pruned to exactly the used
    columns — the one-pass mergeable-sketch contract."""
    from telecom_dataengineering_pipeline_spark.llmprep.sketches import hll_registers
    from telecom_dataengineering_pipeline_spark.quality.quantile_sketch import (
        histogram_sketch,
    )
    from telecom_dataengineering_pipeline_spark.sources.catalog import load_table

    ev = load_table(spark, sf_smoke, "events")
    hist = histogram_sketch(ev, "value", 0.0, 500.0, 100, ["event_type"])
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert _n_shuffles(plan) == 1
    assert "props" not in plan and "user_id" not in plan  # pruned scan

    regs = hll_registers(ev, "event_id", group_cols=["event_type"])
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert _n_shuffles(plan) == 1
    assert "props" not in plan


def test_tpch_deep_plan_shapes(spark, sf_smoke):
    """Round-4 TPC-H tier: every dim side broadcasts (facts never shuffle
    into a dim join), top-k fuses, and the Q19 disjunction's derived
    single-side predicates reach the parquet scans."""
    # Q7/Q9: all dims broadcast; the only hash exchanges belong to the
    # lineitem⋈orders join + final agg.
    for name, min_bhj in (("volume_shipping_pairs", 4), ("product_profit_by_nation", 3)):
        plan = _physical(spark, name, sf_smoke)
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # Q10: top-20 never globally sorts.
    plan = _physical(spark, "returned_items_report", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan and "EqualTo(l_returnflag,R)" in plan

    # Q19: the per-side implications of the cross-side disjunction are
    # derived and pushed — the brand/size OR-tree into the part scan, the
    # quantity OR-of-ranges into the lineitem scan.
    plan = _physical(spark, "brand_predicate_revenue", sf_smoke)
    assert "EqualTo(p_brand" in plan
    assert "GreaterThanOrEqual(l_quantity,1" in plan

    # Q2 shape: the window runs AFTER the per-(part,supplier) aggregate —
    # partial_min proves map-side combine before the only wide shuffle.
    plan = _physical(spark, "min_cost_supplier_per_part", sf_smoke)
    assert "partial_min" in plan
    assert "WindowGroupLimit" in plan or "Window" in plan

    # Q22: the scalar threshold broadcasts (1-row anchor), the
    # never-ordered side is a broadcast anti join, no cartesian on data.
    plan = _physical(spark, "prospect_balance_anti", sf_smoke)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_gapfill_single_window_no_selfjoin(spark, sf_smoke):
    """Forward fill is ONE window pass — the naive as-of self-join
    formulation would be quadratic per key."""
    plan = _physical(spark, "events_gap_fill_ffill", sf_smoke)
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan
    # Spine explode happens after the bounds aggregate: generator sits
    # above an aggregate, never over the raw events.
    assert "Generate explode" in plan


def test_fuzzy_blocking_is_equijoin(spark, sf_smoke):
    """Candidate generation must be a hash equi-join on the block key —
    never a nested-loop over all pairs."""
    plan = _physical(spark, "fuzzy_prefix_matches", sf_smoke)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # verify runs as a JVM expression, not a UDF
    assert "BatchEvalPython" not in plan


def test_tpch_fill_plan_shapes(spark, sf_smoke):
    """TPC-H completion tier (Q4/Q6/Q11/Q12/Q16/Q20/Q21): scan-side
    pushdown, semi/broadcast membership (never a shuffled NOT IN), 1-row
    scalar anchors as the only nested-loop sources, and the Q21 rewrite
    aggregating before anything wide."""
    # Q4: the quarter filter reaches the orders scan; the EXISTS is a
    # single semi join (one agg exchange, no distinct needed).
    plan = _physical(spark, "order_priority_semi_counts", sf_smoke)
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate,1998-07-01" in plan
    assert _n_shuffles(plan) == 1

    # Q6: a pure pushed-predicate scan — zero shuffles besides the 1-row
    # global aggregate (which is a SinglePartition exchange, not hash).
    plan = _physical(spark, "discount_revenue_uplift", sf_smoke)
    assert _n_shuffles(plan) == 0
    # toString elides long filter lists — assert the pushdown list opens
    # with the predicate columns and the scan schema pruned to the 4 used.
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)" in plan
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp>" in plan
    )

    # Q11/Q20: the global threshold is a broadcast 1-row anchor — the ONLY
    # nested-loop join allowed; memberships are semi joins.
    for name in ("important_part_values", "promo_part_shippers"):
        plan = _physical(spark, name, sf_smoke)
        assert "CartesianProduct" not in plan, name
        assert "LeftSemi" in plan, name

    # Q16: the computed denylist applies as a broadcast ANTI join and the
    # attribute predicates push into the part scan.
    plan = _physical(spark, "supplier_part_variety", sf_smoke)
    assert "LeftAnti" in plan
    assert "Not(EqualTo(p_brand,Brand#1))" in plan

    # Q21: both reduces happen before the supplier join and the top-20
    # fuses — no global sort, no triple lineitem self-join.
    plan = _physical(spark, "waiting_supplier_ranking", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") <= 3  # lineitem read ONCE, not 3x
    assert "EqualTo(o_orderstatus,F)" in plan


def test_holt_forecast_single_shuffle_no_window(spark, sf_smoke):
    """The 12-step Holt recurrence folds into post-aggregate projections:
    one agg exchange, dims broadcast, no window operator anywhere."""
    plan = _physical(spark, "holt_forecast_nation_revenue", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "Window" not in plan
    assert "Generate explode" in plan  # horizon rows generated, not unioned


def test_transition_matrix_single_scan_three_exchanges(spark, sf_smoke):
    """Row normalization is a window over the (src,dst) grain — NOT a
    totals self-join, which would recompute the whole scan+lead pipeline
    (Spark does not dedupe shared subtrees)."""
    plan = _physical(spark, "event_transition_matrix", sf_smoke)
    assert plan.count("FileScan") == 1  # one events scan, not two
    assert _n_shuffles(plan) <= 3  # user window + pair agg + src window


def test_rfm_windows_over_post_aggregate_grain(spark, sf_smoke):
    """The ntile windows run AFTER the customer-grain aggregate: exactly
    one fact-side hash exchange; the global windows share one
    SinglePartition exchange over the dimension-sized grain."""
    plan = _physical(spark, "customer_rfm_segments", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert plan.count("Exchange SinglePartition") == 1


def test_rfm_approx_no_grain_sized_single_partition(spark, sf_smoke):
    """The approx-cutoff RFM variant's 100 TB contract: no ntile, no
    window operator, no grain-sized SinglePartition funnel anywhere. Since
    the r11 rank-exact upgrade the sketch + refinement jobs run at
    plan-build time over the lineage-cut customer grain (their only
    SinglePartition carries bounded sketch partials / one count row), so
    the RETURNED plan is pure map-side scoring: literal cutoff
    comparisons over the checkpointed grain — zero exchanges, zero
    rescans of the orders fact."""
    plan = _physical(spark, "customer_rfm_segments_approx", sf_smoke)
    assert re.search(r"\bntile\(", plan) is None
    assert re.search(r"\bWindow ", plan) is None
    assert "Exchange" not in plan  # scoring is map-only over the grain
    assert "ExistingRDD" in plan  # the lineage cut feeding the scorers
    assert "FileScan" not in plan  # fact scan paid once at build, not here


def test_sequence_funnel_single_shuffle_no_window_no_udf(spark, sf_smoke):
    """windowFunnel as one user-keyed exchange: step-filtered events
    collapse to a sorted per-user array and the greedy machine runs as a
    higher-order aggregate — no window operator, no Python worker."""
    plan = _physical(spark, "sequence_funnel_purchase", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert re.search(r"\bWindow ", plan) is None
    assert "Python" not in plan
    assert "PushedFilters" in plan  # step-name IN filter reaches the scan


def test_melt_is_shuffle_free_projection(spark, sf_smoke):
    """UNPIVOT adds NOTHING beyond the aggregate it melts: the stack()
    generator is a map-side projection (no exchange of its own)."""
    plan = _physical(spark, "melt_nation_order_metrics", sf_smoke)
    assert _n_shuffles(plan) == 1  # the nation aggregate only
    assert plan.count("BroadcastHashJoin") >= 1  # nation dim broadcast


def test_boilerplate_filter_zero_exchanges_zero_udf(spark, sf_smoke):
    """Line filtering runs entirely inside codegen: higher-order array
    filter over split lines — no explode/regroup shuffle, no Python."""
    plan = _physical(spark, "boilerplate_line_filter", sf_smoke)
    assert _n_shuffles(plan) == 0
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_capped_sample_window_group_limit_pushdown(spark, sf_smoke):
    """The per-key cap prunes map-side BEFORE the key shuffle: the skewed
    giant keys are exactly the rows being cut."""
    plan = _physical(spark, "capped_sample_per_source", sf_smoke)
    assert _n_shuffles(plan) == 1  # the per-key window exchange
    assert "WindowGroupLimit" in plan


def test_seasonal_index_single_scan_window_totals(spark, sf_smoke):
    """Key totals are a window over the post-aggregate season grain — not
    a second groupBy + self-join re-running the base scan (shared
    subtrees are not deduped): each input table is scanned ONCE."""
    plan = _physical(spark, "seasonal_index_nation_revenue", sf_smoke)
    assert plan.count("FileScan") == 3  # orders + customer + nation, once each
    assert _n_shuffles(plan) == 2  # (key, season) agg + key window


def test_benford_single_scan_nine_row_total(spark, sf_smoke):
    """One pass over the input: the 9-cell digit count is the only
    data-sized aggregate; the grand total is a window over the 9 joined
    rows, never a second scan."""
    plan = _physical(spark, "benford_order_prices", sf_smoke)
    assert plan.count("FileScan") <= 2  # orders once (+ the 9-row range spine)
    assert _n_shuffles(plan) == 1  # the digit aggregate


def test_bm25_single_text_pass_broadcast_stats(spark, sf_smoke):
    """The text column is tokenized ONCE (the exploded base relation is
    checkpointed and feeds lengths/corpus/tf — no repeated corpus scans);
    document frequencies and corpus stats broadcast onto the tiny
    filtered token relation; top-k fuses into TakeOrdered."""
    plan = _physical(spark, "bm25_keyword_retrieval", sf_smoke)
    assert plan.count("FileScan") == 0  # base pass materialized once
    assert _n_shuffles(plan) <= 4  # per-doc len, tf, df, final per-doc sum
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_robust_outlier_materializes_input_once(spark, sf_smoke):
    """Nested medians are three passes by construction — over the ONE
    materialized calendar-grain aggregate, never three re-runs of the
    orders scan+shuffle. The only exchanges left are the scalar sketch
    merges (KiB-sized partials)."""
    plan = _physical(spark, "robust_outlier_daily_revenue", sf_smoke)
    assert plan.count("FileScan") == 0
    assert _n_shuffles(plan) == 0
    assert len(re.findall(r"Exchange SinglePartition", plan)) <= 3


def test_neighborhood_jaccard_edges_materialize_once(spark, sf_smoke):
    """The canonical edge set fans out into five references (union arms,
    degrees, both wedge sides): it must checkpoint once, not re-execute
    the basket→pair→sample derivation per reference; the wedge join is an
    equi-join, never a product."""
    plan = _physical(spark, "copurchase_neighborhood_jaccard", sf_smoke)
    assert plan.count("FileScan") == 0  # edge pipeline materialized once
    assert _n_shuffles(plan) <= 8
    assert "CartesianProduct" not in plan


def test_grid_density_single_exchange(spark, sf_smoke):
    plan = _physical(spark, "grid_density_event_cells", sf_smoke)
    assert plan.count("FileScan") == 1
    assert _n_shuffles(plan) == 1  # the cell aggregate — nothing else


def test_last_touch_one_user_exchange_pushed_event_filter(spark, sf_smoke):
    """One shuffle on the user key; the touch/conversion name filter is
    pushed into the parquet scan so non-participating events never leave
    it."""
    plan = _physical(spark, "last_touch_attribution_purchases", sf_smoke)
    assert plan.count("FileScan") == 1
    assert _n_shuffles(plan) == 1
    assert "In(event_type" in plan  # pushed IN filter


def test_grouped_quantiles_sketch_exchanges_only(spark, sf_smoke):
    plan = _physical(spark, "grouped_quantile_event_values", sf_smoke)
    assert plan.count("FileScan") == 1
    assert _n_shuffles(plan) == 2  # daily decimal agg + per-group sketch


def test_cusum_single_pivot_exchange_no_window(spark, sf_smoke):
    """The series pivots in ONE conditional aggregate (map-side combined);
    the recurrence is a per-row column chain — no window operator, no
    second pass."""
    plan = _physical(spark, "cusum_event_value_shifts", sf_smoke)
    assert plan.count("FileScan") == 1
    assert _n_shuffles(plan) == 1
    assert "Window" not in plan


def test_media_header_parse_no_shuffle(spark, sf_smoke):
    """Construction and the PNG/GIF parse are pure column expressions;
    the JPEG SOF walk is the only Python (Arrow-batched mapInPandas) and
    joins back broadcast — nothing shuffles the blobs."""
    plan = _physical(spark, "media_header_dimensions", sf_smoke)
    assert _n_shuffles(plan) == 0
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_entropy_profile_two_stage_single_lineage(spark, sf_smoke):
    """Entropy: one (key,cat) count exchange; the per-key total rides a
    window over the POST-AGG grain and the key rollup reuses the same
    hash prefix — the base scan runs exactly once."""
    plan = _physical(spark, "dq_event_type_entropy_daily", sf_smoke)
    assert plan.count("FileScan") == 1
    assert "Python" not in plan


def test_acf_one_keyed_exchange_no_self_join(spark, sf_smoke):
    """ACF: mean/denominator/lag columns and the final aggregate all ride
    ONE event_type-keyed sort window — no per-lag self-joins."""
    plan = _physical(spark, "acf_daily_event_value", sf_smoke)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan  # lags are window functions, never joins


def test_binary_auc_single_sort_window_no_second_partitioning(spark, sf_smoke):
    """AUC: rank and the RANGE-frame tie count share one keyed sort; the
    aggregate reuses the partitioning. No join, no Python."""
    plan = _physical(spark, "auc_discount_predicts_returns", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan and "Python" not in plan


def test_target_encode_no_dictionary_join(spark, sf_smoke):
    """LOO encode: category stats ride a window (no join back onto the
    row relation beyond the broadcast global mean and the dim join the
    query itself performs)."""
    plan = _physical(spark, "te_loo_segment_order_totals", sf_smoke)
    assert "SortMergeJoin" not in plan  # dims broadcast; no row-relation rejoin
    assert re.search(r"\bWindow ", plan) is not None


def test_pmi_single_tokenizer_materialization(spark, sf_smoke):
    """PMI: the corpus tokenizes once behind the lineage cut; unigram,
    bigram, and totals aggregates consume the cached token arrays (no
    repeated FileScan of documents)."""
    plan = _physical(spark, "pmi_document_collocations", sf_smoke)
    assert plan.count("FileScan") == 0  # all branches read the checkpoint
    assert "Scan ExistingRDD" in plan


def test_association_rules_broadcast_supports_no_cartesian(spark, sf_smoke):
    """Rules: support lookups broadcast; the only basket-keyed work joins
    the pruned item stream; nothing degenerates to a cross product."""
    plan = _physical(spark, "association_rules_copurchase", sf_smoke)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 3  # freq prune + 2 support lookups + totals


def test_cohort_retention_no_user_rejoin(spark, sf_smoke):
    """Retention: the cohort denominator is a window over the cell grain,
    never a join back onto the user relation."""
    plan = _physical(spark, "cohort_retention_weekly_users", sf_smoke)
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_radius_of_gyration_single_user_exchange(spark, sf_smoke):
    """r_g: centroid windows and the d² aggregate share one user-keyed
    exchange; no centroid-relation rejoin, no Python."""
    plan = _physical(spark, "mobility_radius_of_gyration", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan and "Python" not in plan


def test_interarrival_single_sorted_exchange(spark, sf_smoke):
    plan = _physical(spark, "interarrival_burstiness_event_types", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan and "Python" not in plan


def test_jw_python_stays_on_candidates_only(spark, sf_smoke):
    """Jaro-Winkler: the ONLY Python stage sits downstream of the blocked
    candidate join — the corpus-sized token stream never crosses the
    Arrow boundary."""
    plan = _physical(spark, "jw_fuzzy_doc_prefixes", sf_smoke)
    # exactly one Arrow stage: the lineage cut stops Filter(Project)
    # collapse from inlining the UDF twice (it reads the checkpoint)
    assert plan.count("ArrowEvalPython") <= 1


def test_join_preflight_counts_only_no_row_join(spark, sf_smoke):
    """Pre-flight: the joined relations are the per-key COUNT relations;
    the row-grain tables are each aggregated map-side first."""
    plan = _physical(spark, "join_preflight_orders_lineitem", sf_smoke)
    # two count aggregates feed the join — row relations never meet
    assert plan.count("HashAggregate") >= 4  # 2 sides x partial+final


def test_woe_iv_counts_only_single_scan(spark, sf_smoke):
    """WOE/IV: one category-keyed count is the only row-grain shuffle;
    totals ride a window over the cell relation (SinglePartition of
    |levels| rows), never a re-scan or join."""
    plan = _physical(spark, "woe_iv_priority_fulfilled", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_km_survival_duration_grain_windows(spark, sf_smoke):
    """Kaplan-Meier: the segment dim broadcasts; the keyed sort window
    (risk set + ln-sum + zero flag together) runs over the collapsed
    duration grain — three exchanges total, none at observation grain
    twice."""
    plan = _physical(spark, "km_survival_customer_churn", sf_smoke)
    assert plan.count("BroadcastHashJoin") == 1
    assert _n_shuffles(plan) <= 3
    assert "CartesianProduct" not in plan


def test_cf_topk_window_group_limit(spark, sf_smoke):
    """Item-item CF: the per-item top-k is WindowGroupLimit-pushed
    (map-side prune before the final window sort); support lookups and
    the frequent-item prune broadcast; nothing degenerates to a cross
    product."""
    plan = _physical(spark, "cf_item_neighbors_copurchase", sf_smoke)
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_holt_winters_pivot_only(spark, sf_smoke):
    """Holt-Winters: the T-step recurrence is pure per-row scalar
    arithmetic off ONE conditional-aggregate pivot — no time window, no
    join, no Python."""
    plan = _physical(spark, "hw_forecast_event_values", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan and "Python" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan") == 1


# ---------------------------------------------------------------------------
# Round-7 session-4 shapes
# ---------------------------------------------------------------------------


def test_welch_single_scan_no_window_no_join(spark, sf_smoke):
    """Welch t-test: six conditional sums in ONE map-side-combined scalar
    aggregate — no window, no join, no keyed shuffle, one scan."""
    plan = _physical(spark, "welch_purchase_vs_view_value", sf_smoke)
    assert _n_shuffles(plan) == 0  # only the SinglePartition gather
    assert "Join" not in plan and "Window" not in plan and "Python" not in plan
    assert plan.count("FileScan") == 1


def test_anova_cells_only_no_join(spark, sf_smoke):
    """ANOVA: one level-keyed exchange builds the cells; totals ride a
    window over the level grain; no join, no Python."""
    plan = _physical(spark, "anova_event_value_by_type", sf_smoke)
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan and "Python" not in plan


def test_lift_global_sort_no_join(spark, sf_smoke):
    """Decile lift: one global ntile sort over the scored-order grain and
    bucket-grain windows — no join anywhere."""
    plan = _physical(spark, "lift_deciles_order_returns", sf_smoke)
    assert "Join" not in plan and "Python" not in plan


def test_periodogram_no_join_no_python_trig_embedded(spark, sf_smoke):
    """Periodogram: literal-array explode + embedded trig CASE — the trig
    never calls out to Python and the series never joins anything."""
    plan = _physical(spark, "periodogram_daily_event_volume", sf_smoke)
    assert "Join" not in plan and "Python" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_pettitt_collapses_before_window(spark, sf_smoke):
    """Pettitt: the O(T²) self-join collapses to T rows (one V_t per
    step) BEFORE the cumulative window; no Python."""
    plan = _physical(spark, "pettitt_daily_event_value", sf_smoke)
    assert "Python" not in plan
    assert "Window" in plan


def test_logrank_broadcast_dim_and_duration_grain(spark, sf_smoke):
    """Log-rank: the customer dim broadcasts onto the per-customer
    aggregate; risk sets ride windows over the collapsed duration grain."""
    plan = _physical(spark, "logrank_churn_building_vs_auto", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan and "Python" not in plan


def test_nearest_tower_broadcast_argmin(spark, sf_smoke):
    """Nearest-tower: the tower dim rides a broadcast nested-loop fan-out
    and the per-point argmin reduces via partial min-struct aggregation —
    no sort-merge join, no per-point window sort."""
    plan = _physical(spark, "nearest_tower_load", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan  # argmin via min(struct), not row_number


def test_theil_no_window_scalar_broadcast(spark, sf_smoke):
    """Theil: totals broadcast back as a 1-row scalar (cross join) — no
    window over the unit grain anywhere."""
    plan = _physical(spark, "theil_spend_by_nation", sf_smoke)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the scalar cross joins


def test_variants_single_case_exchange(spark, sf_smoke):
    """Variant analysis: events collapse per case in one keyed exchange;
    share/rank ride the variant grain."""
    plan = _physical(spark, "variants_user_journeys", sf_smoke)
    assert "Join" not in plan and "Python" not in plan


def test_assortativity_no_cartesian(spark, sf_smoke):
    """Assortativity: degree decoration is two equi-joins, the fold is
    scalar — nothing degenerates to a cross product of the edge list."""
    plan = _physical(spark, "assortativity_copurchase", sf_smoke)
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-8 additions
# ---------------------------------------------------------------------------


def test_growth_accounting_single_user_exchange(spark, sf_smoke):
    """growth_accounting: lag/lead flags ride ONE user-keyed exchange;
    no calendar self-join, no Python."""
    plan = _physical(spark, "growth_accounting_daily_users", sf_smoke)
    assert "Python" not in plan and "CartesianProduct" not in plan
    # one scan of events feeding the distinct + windows
    assert plan.count("FileScan") <= 2  # activity grain reused via lag+lead branches


def test_impute_and_winsorize_bounded_scans(spark, sf_smoke):
    """The fill/bounds relations derive from the lineage-cut base: the
    fact table must not scan once per branch."""
    for name in ("impute_event_values_median", "winsorize_event_values"):
        plan = _physical(spark, name, sf_smoke)
        assert plan.count("FileScan") <= 1, name  # base is a checkpoint RDD
        assert "Python" not in plan, name


def test_hamming_and_pca_variance_jvm_only(spark, sf_smoke):
    for name in ("ann_hamming_topk", "pca_variance_explained"):
        plan = _physical(spark, name, sf_smoke)
        assert "Python" not in plan and "Arrow" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_seasonal_decompose_one_series_exchange(spark, sf_smoke):
    """Trend window + phase join run off the lineage-cut series: no
    re-scan of events per branch, no Python."""
    plan = _physical(spark, "seasonal_decompose_event_values", sf_smoke)
    assert plan.count("FileScan") <= 1
    assert "Python" not in plan


def test_winnowing_pairs_lineage_cut(spark, sf_smoke):
    """The capped fingerprint relation feeds both sides of the candidate
    self-join; the localCheckpoint in winnowing_pairs is load-bearing
    (without it the tokenize→hash→winnow pipeline re-runs per side, the
    round-9 FileScan audit). Pin: every consumer reads the checkpoint
    RDD — zero document FileScans and zero Window operators survive in
    the final plan."""
    plan = _physical(spark, "winnowing_fingerprint_pairs", sf_smoke)
    assert plan.count("FileScan") == 0  # all branches behind the cut
    assert plan.count("ExistingRDD") >= 2  # both self-join sides (the df cap runs pre-cut)
    assert re.search(r"\bWindow ", plan) is None  # winnow ran pre-cut once


def test_sssp_edges_lineage_cut(spark, sf_smoke, monkeypatch):
    """The basket-pair fan-out is consumed twice (seed-discovery collect
    + the Bellman–Ford relaxation spine); the localCheckpoint on the
    directed edges is worth 1.7× (15.2→8.8 s, r9 audit) and this is the
    assertion that keeps it: the edge frame handed to
    bellman_ford_distance must already be a checkpoint scan — no
    lineitem rescan inside the iteration."""
    from telecom_dataengineering_pipeline_spark.operators import graph

    captured = {}
    real = graph.bellman_ford_distance

    def spy(edges, seeds, rounds=6):
        captured["plan"] = (
            edges._jdf.queryExecution().executedPlan().toString()
        )
        return real(edges, seeds, rounds=rounds)

    monkeypatch.setattr(graph, "bellman_ford_distance", spy)
    _physical(spark, "sssp_copurchase_costs", sf_smoke)
    assert "ExistingRDD" in captured["plan"]
    assert captured["plan"].count("FileScan") == 0


def test_bucketed_ann_buckets_in_vector_projection(spark, sf_smoke):
    """The sign bucket is computed in the same projection as the vector:
    one scan per join side and the bucket equi-join as the only join —
    no self-join of the bucket relation back onto the embeddings."""
    plan = _physical(spark, "ann_bucketed_topk", sf_smoke)
    assert plan.count("FileScan parquet") == 2
    assert plan.count("BroadcastHashJoin") == 1


def test_plan_dump_is_stable_within_a_session(spark, sf_smoke):
    """Two dumps of the same query in one session are byte-identical once
    expression ids, plan ids and lambda variable names are masked — the
    property that lets a diff of two dump directories show only real plan
    changes."""
    from telecom_dataengineering_pipeline_spark.plan_dump import dump

    fn = REGISTRY["knn_cosine_bruteforce"].fn
    first = dump(spark, fn, sf_smoke)
    assert "== Physical Plan ==" in first and "#" in first
    assert dump(spark, fn, sf_smoke) == first


def test_plan_dump_masks_the_txnlog_scratch_pid():
    """A scratch directory path (``queries/scratch.py``) carries the pid
    and per-write file ids, so dumps from two processes differ only there
    until it is masked — for every kind, not only the txn-log merge."""
    from telecom_dataengineering_pipeline_spark.plan_dump import mask

    def line(kind, pid, uid):
        return (
            "Location: InMemoryFileIndex(1 paths)"
            f"[file:/tmp/{kind}_sf0.001_{pid}/data/{uid}..., PartitionFilters: []"
        )

    for kind in ("txnlog_merge", "medallion_gate"):
        assert mask(line(kind, 4242, "8a5b0")) == mask(line(kind, 17, "2949c1d2"))
        assert mask(line(kind, 17, "ab")) != line(kind, 17, "ab")
        assert mask(line(kind, 17, "ab")).endswith(
            f"{kind}_sf0.001_<pid>/..., PartitionFilters: []"
        )
    assert mask(line("txnlog_merge", 1, "a")) != mask(line("medallion_gate", 1, "a"))


@pytest.mark.parametrize("name", ["merge_upsert_orders_txnlog", "medallion_fact_build"])
def test_txnlog_merge_scratch_table_removed_at_exit(spark, sf_smoke, monkeypatch, name):
    """Building a query that writes a scratch directory registers its
    removal with ``atexit`` once; the registered call removes it."""
    import atexit
    import os

    from telecom_dataengineering_pipeline_spark.queries import scratch

    calls = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: calls.append((fn, a, kw)))
    monkeypatch.setattr(scratch, "_REMOVED_AT_EXIT", set())
    REGISTRY[name].fn(spark, sf_smoke)
    (path,) = scratch._REMOVED_AT_EXIT
    mine = [c for c in calls if path in c[1]]  # imports may register their own
    assert os.path.isdir(path) and len(mine) == 1
    fn, args, kwargs = mine[0]
    fn(*args, **kwargs)
    assert not os.path.exists(path)


# Queries whose plan carries a BroadcastNestedLoopJoin because a SCALAR or
# bounded broadcast frame crossJoins onto the relation BY CONSTRUCTION (a
# one-row totals/cutoff/count anchor, the broadcast k-query set of an ANN
# baseline, a broadcast centroid/codebook table). BNLJ with a bounded build
# side is the cheapest way to attach a scalar to every row; BNLJ between two
# DATA relations is banned. A new registration that trips the guard must
# either fix its join or add itself here with the bounded-side argument.
BNLJ_BOUNDED_BY_CONSTRUCTION = {
    "ann_hamming_topk",
    "ann_ivf_kmeans_cells",
    "ann_ivf_kmeans_topk",
    "ann_ivf_nprobe_topk",
    "ann_ivf_pq_topk",
    "ann_ivf_topk",
    "ann_recall_profile",
    "association_rules_copurchase",
    "assortativity_copurchase",
    "bitext_mining_mutual_nn",
    "bm25_keyword_retrieval",
    "cuped_event_value_experiment",
    "curation_filter_funnel",
    "dq_chi_squared_event_mix",
    "dq_freshness_check",
    "dq_volume_zscore",
    "eb_shrunk_user_purchase_rates",
    "event_type_overlap_matrix",
    "events_key_skew_profile",
    "fk_integrity_audit",
    "hard_negative_mining",
    "haversine_tower_distances",
    "hll_set_ops_users",
    "important_part_values",
    "incremental_lookback_slice",
    "join_preflight_orders_lineitem",
    "kappa_discount_rule_vs_returns",
    "kn_bigram_doc_scores",
    "knn_cosine_bruteforce",
    "kw_daily_value_by_type",
    "mi_priority_status",
    "modularity_lpa_copurchase",
    "mrl_truncation_recall",
    "nearest_tower_load",
    "pmi_document_collocations",
    "promo_part_shippers",
    "prospect_balance_anti",
    "psi_value_drift",
    "qnorm_acctbal_across_segments",
    # NOTE: semdedup_cell_prune / knn_label_agreement_audit also run the
    # broadcast-centroid BNLJ (ivf_assign), but behind a lazy
    # localCheckpoint — the final plan shows the checkpoint scan, so they
    # are intentionally NOT listed here.
    "quality_drift_by_source",  # sources × gate-levels grid (two tiny aggregates)
    "robust_outlier_daily_revenue",
    "row_count_anomaly_check",
    "supplier_part_variety",
    "te_loo_segment_order_totals",
    "text_bigram_logprob",
    "text_unigram_logprob",
    "tfidf_top_terms",
    "theil_spend_by_nation",
    "value_quantile_sketch",
    "winsorized_value_stats",
}


def test_bench_set_no_plan_antipatterns(spark, sf_smoke):
    """Default-tier twin of the full-registry guard below (which moved to
    the slow tier with the r13 budget split): the absolute bans —
    CartesianProduct and row-at-a-time Python — checked on every bench
    query on every plain pytest run, so a regression in the hot set is
    caught without paying the 344-query sweep."""
    from telecom_dataengineering_pipeline_spark.queries.registry import (
        bench_queries,
    )

    violations: list[str] = []
    for name in sorted(bench_queries()):
        plan = _physical(spark, name, sf_smoke)
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            violations.append(f"{name}: BatchEvalPython (row-wise Python)")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BOUNDED_BY_CONSTRUCTION:
            violations.append(f"{name}: unlisted BroadcastNestedLoopJoin")
    assert not violations, "\n".join(violations)


@pytest.mark.slow
def test_full_registry_no_plan_antipatterns(spark, sf_smoke):
    """THE registry-wide scale guard (VERDICT r11 item 8 — grown from the
    bench=True-only version): every registered query's physical plan at
    sf0.001, checked for the absolute bans — no CartesianProduct and no
    row-at-a-time Python evaluation (BatchEvalPython) anywhere;
    Arrow-batched Python (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) is the only permitted Python surface.
    BroadcastNestedLoopJoin is allowed only for the pinned
    scalar-anchor population above, asserted by SET EQUALITY so the
    allowlist can neither go stale nor grow silently. One test, all
    violations reported together (~8-9 min: some queries run eager
    stages at plan-build time — streams, iterative fixpoints, the
    medallion build)."""
    from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY

    violations: list[str] = []
    bnlj_names: set[str] = set()
    for name in sorted(REGISTRY):
        plan = _physical(spark, name, sf_smoke)
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            violations.append(f"{name}: BatchEvalPython (row-wise Python)")
        if "BroadcastNestedLoopJoin" in plan:
            bnlj_names.add(name)
    unexpected = bnlj_names - BNLJ_BOUNDED_BY_CONSTRUCTION
    stale = BNLJ_BOUNDED_BY_CONSTRUCTION - bnlj_names
    if unexpected:
        violations.append(f"unlisted BNLJ: {sorted(unexpected)}")
    if stale:
        violations.append(f"stale BNLJ allowlist entries: {sorted(stale)}")
    assert not violations, "\n".join(violations)
