"""Chunking and dataset-split invariants beyond value parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.llmprep.chunking import chunk_documents
from telecom_dataengineering_pipeline_spark.llmprep.sampling import (
    split_assign,
    stratified_sample_flag,
)
from telecom_dataengineering_pipeline_spark.sources.catalog import load_table
import pytest


def test_chunking_is_shuffle_free(spark, sf_smoke):
    df = chunk_documents(load_table(spark, sf_smoke, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map stage: scan → generate → project


def test_chunks_cover_every_token(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    chunks = chunk_documents(docs, chunk_size=100, stride=80)
    # stride 80 < size 100: chunk i starts at 80*i, so the last chunk must
    # reach the final token and consecutive chunks overlap by 20.
    agg = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_idx") * 80 + F.col("n_tokens")).alias("covered"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("n_tok"),
        F.length(F.trim("text")).alias("n_chars"),
    ).filter(F.col("n_chars") > 0)
    joined = agg.join(toks, "doc_id")
    assert joined.filter(F.col("covered") != F.col("n_tok")).count() == 0


def test_split_is_deterministic_and_proportional(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "lang")
    a = {r.doc_id: r.split for r in split_assign(docs).collect()}
    b = {r.doc_id: r.split for r in split_assign(docs.repartition(7)).collect()}
    assert a == b  # partitioning-independent
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert 0.80 * n <= train <= 0.97 * n  # ~90% with hash noise at small n


def test_stratified_sample_exactly_k_per_stratum(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "lang")
    flagged = stratified_sample_flag(docs, stratum_col="lang", k=5)
    per = (
        flagged.filter("sampled")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in per:
        assert r.n == min(5, sizes[r.lang])


@pytest.mark.slow
def test_connected_groups_star_on_deep_chain(spark):
    """A 1000-link chain converges in O(log n) star rounds (min-label
    propagation would need ~1000 diameter rounds). Every node must land in
    component 0, and a branchy multi-component graph gets each
    component's minimum id."""
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        connected_dup_groups,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "doc1 long, doc2 long"
    ).repartition(8)
    out = connected_dup_groups(chain, max_iters=15)
    rows = out.collect()
    assert len(rows) == 1001
    assert {r["group_id"] for r in rows} == {0}

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (5, 4)],
        "doc1 long, doc2 long",
    )
    got = {r["doc_id"]: r["group_id"] for r in connected_dup_groups(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20
    }


def test_connected_groups_full_closure_or_raise(spark):
    """A 64-link chain (diameter 64) is one group; a round budget too small
    to converge raises instead of returning a partial labeling."""
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        connected_dup_groups,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc1 long, doc2 long"
    )
    rows = connected_dup_groups(chain).collect()
    assert len(rows) == 65
    assert {r["group_id"] for r in rows} == {0}
    with pytest.raises(RuntimeError, match="max_iters=2"):
        connected_dup_groups(chain, max_iters=2)


def test_capped_sample_per_key_deterministic(spark):
    """At most n rows survive per key, chosen by salted hash — identical
    across reruns and partitionings, no rand() anywhere."""
    from pyspark.sql import functions as F

    from telecom_dataengineering_pipeline_spark.llmprep.sampling import (
        capped_sample_per_key,
    )

    df = spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(30)], "doc_id LONG, domain STRING"
    )
    out = capped_sample_per_key(df, "domain", 4)
    rows = out.collect()
    from collections import Counter

    per = Counter(r["domain"] for r in rows)
    assert per == {"d0": 4, "d1": 4, "d2": 4}
    # deterministic across reruns AND different partitionings
    again = capped_sample_per_key(df.repartition(7), "domain", 4).collect()
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in again}
    # a key under the cap keeps everything
    small = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id LONG, domain STRING")
    assert capped_sample_per_key(small, "domain", 4).count() == 2
    import pytest as _pt

    with _pt.raises(ValueError):
        capped_sample_per_key(df, "domain", 0)


def test_leakage_safe_split_coassigns_dup_groups(spark):
    """r12 registration candidate (tests-only under the r11 freeze):
    every member of a connected dup group must land in ONE split (the
    per-doc hash split straddles ~2·p·(1−p) of dup pairs across the
    train/eval boundary); docs outside the group relation keep their
    split_assign bucket EXACTLY (same md5 formula, own id)."""
    from pyspark.sql import functions as F

    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        connected_dup_groups,
    )
    from telecom_dataengineering_pipeline_spark.llmprep.sampling import (
        leakage_safe_split,
        split_assign,
    )

    docs = spark.range(1, 401).select(F.col("id").alias("doc_id"))
    # components: {1..3} (chain), {10,11}, {20,21}; everything else singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "doc1 LONG, doc2 LONG"
    )
    groups = connected_dup_groups(pairs)

    out = leakage_safe_split(docs, groups)
    got = {r["doc_id"]: (r["split"], r["split_bucket"]) for r in out.collect()}
    assert len(got) == 400  # left join: no row lost or duplicated

    for comp in ({1, 2, 3}, {10, 11}, {20, 21}):
        assert len({got[d] for d in comp}) == 1, comp  # co-assigned
        rep = min(comp)
        assert got[rep] == got[max(comp)]  # representative's bucket

    per_doc = {r["doc_id"]: (r["split"], r["split_bucket"])
               for r in split_assign(docs).collect()}
    grouped_ids = {1, 2, 3, 10, 11, 20, 21}
    for d in set(got) - grouped_ids:
        assert got[d] == per_doc[d], d  # singletons identical to split_assign
    # group members inherit the REPRESENTATIVE's per-doc bucket
    assert got[2] == per_doc[1] and got[3] == per_doc[1]
    assert got[11] == per_doc[10] and got[21] == per_doc[20]

    # deterministic under repartitioning (pure function of the ids)
    re = {r["doc_id"]: (r["split"], r["split_bucket"])
          for r in leakage_safe_split(docs.repartition(7), groups).collect()}
    assert re == got


def test_group_keyed_decontamination_removes_dup_driven_leakage(spark):
    """decontamination_overlap(groups=...) co-assigns exact-dup pairs, so
    an eval doc's twin can never sit in the train shingle set; with the
    per-doc split the same fixture MUST show contaminated eval docs
    (pair texts are unique per pair, so any contamination is dup-driven
    by construction)."""
    from pyspark.sql import functions as F

    from telecom_dataengineering_pipeline_spark.llmprep.curation import (
        decontamination_overlap,
    )

    rows = []
    for i in range(120):  # 120 exact-dup pairs, texts unique per pair
        text = " ".join(f"tok{i}w{j}" for j in range(8))
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    groups = spark.createDataFrame(
        [(2 * i, 2 * i) for i in range(120)]
        + [(2 * i + 1, 2 * i) for i in range(120)],
        "doc_id LONG, group_id LONG",
    )

    per_doc = decontamination_overlap(docs).collect()
    assert any(r["n_contaminated"] > 0 for r in per_doc)  # straddled pairs

    grouped = decontamination_overlap(docs, groups=groups).collect()
    assert grouped  # some clusters land in val/test
    assert all(r["n_contaminated"] == 0 for r in grouped)  # leakage gone


def test_leakage_safe_split_dedupes_malformed_group_relation(spark):
    """ADVICE r11: a groups relation with more than one row per doc must
    NOT fan the corpus out through the left join — the relation is
    reduced deterministically (min group per doc) before joining, so
    output cardinality equals input cardinality and the anchor is
    stable."""
    from pyspark.sql import functions as F

    from telecom_dataengineering_pipeline_spark.llmprep.sampling import (
        leakage_safe_split,
    )

    docs = spark.range(1, 51).select(F.col("id").alias("doc_id"))
    malformed = spark.createDataFrame(
        [(1, 7), (1, 3), (2, 3), (2, 3)],  # doc 1 in two groups, doc 2 twice
        "doc_id LONG, group_id LONG",
    )
    out = leakage_safe_split(docs, malformed)
    assert out.count() == 50  # the left join never fans out
    got = {r["doc_id"]: r["split_bucket"] for r in out.collect()}
    well_formed = spark.createDataFrame(
        [(1, 3), (2, 3)], "doc_id LONG, group_id LONG"
    )
    want = {
        r["doc_id"]: r["split_bucket"]
        for r in leakage_safe_split(docs, well_formed).collect()
    }
    assert got == want  # min-group anchor, deterministic


def test_split_leakage_audit_zero_dup_straddle_on_seeded_clusters(spark):
    """VERDICT r11 item 4 property gate: on a corpus seeded with exact-dup
    clusters, the composed group-keyed split → decontamination audit must
    report n_dup_straddle_docs == 0 in EVERY eval split (the contract the
    registered split_leakage_audit_e2e query value-gates), while the same
    fixture under the per-doc split provably straddles — the zero is
    load-bearing, not vacuous."""
    from pyspark.sql import functions as F

    from telecom_dataengineering_pipeline_spark.llmprep.curation import (
        split_leakage_audit,
    )
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import (
        connected_dup_groups,
    )
    from telecom_dataengineering_pipeline_spark.llmprep.sampling import split_assign

    rows, pairs = [], []
    for i in range(80):  # 80 exact-dup pairs
        t = " ".join(f"p{i}w{j}" for j in range(12))
        rows += [(2 * i, t), (2 * i + 1, t)]
        pairs.append((2 * i, 2 * i + 1))
    for i in range(1000, 1200):  # singleton filler
        rows.append((i, " ".join(f"s{i}w{j}" for j in range(12))))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    groups = connected_dup_groups(
        spark.createDataFrame(pairs, "doc1 LONG, doc2 LONG")
    )

    out = {r["split"]: r for r in split_leakage_audit(docs, groups).collect()}
    assert set(out) <= {"val", "test"} and out
    for r in out.values():
        assert r["n_dup_straddle_docs"] == 0
        # token universes are disjoint per pair → no real leakage either,
        # so the group-keyed audit reads fully clean on this fixture
        assert r["n_contaminated"] == 0 and r["n_leaky_docs"] == 0
        assert r["contamination_ratio"] == 0.0
        assert r["n_eval_docs"] > 0 and r["n_shingles"] > 0

    # Non-vacuous: the per-doc split DOES straddle dup pairs on this corpus.
    per_doc = split_assign(docs).select("doc_id", "split")
    a = per_doc.withColumnRenamed("doc_id", "d1").withColumnRenamed("split", "s1")
    b = per_doc.withColumnRenamed("doc_id", "d2").withColumnRenamed("split", "s2")
    pf = spark.createDataFrame(pairs, "d1 LONG, d2 LONG").join(a, "d1").join(b, "d2")
    straddled = pf.filter(
        ((F.col("s1") == "train") & (F.col("s2") != "train"))
        | ((F.col("s1") != "train") & (F.col("s2") == "train"))
    ).count()
    assert straddled > 0
