"""The co-occurrence core (``operators/pairs.py``) against a brute force,
the containment ratio it serves, and the one-place lineage policy."""

from __future__ import annotations

import itertools
import os
import random
import re
from collections import Counter, defaultdict

import pytest

from telecom_dataengineering_pipeline_spark.operators.pairs import _cooccur


def _brute(rows, max_group, weight):
    groups = defaultdict(set)
    for g, x in rows:
        groups[g].add(x)
    n_co, w = Counter(), Counter()
    for items in groups.values():
        if max_group is not None and len(items) > max_group:
            continue
        for i, j in itertools.combinations(sorted(items), 2):
            n_co[(i, j)] += 1
            w[(i, j)] += weight(len(items))
    return {(i, j, c, w[(i, j)]) for (i, j), c in n_co.items()}


@pytest.mark.parametrize("max_group", [None, 4])
def test_cooccur_matches_bruteforce(spark, max_group):
    """Random (group, item) rows with duplicates, plus groups of size 1,
    exactly 4 and 5 items: pair counts and summed per-group weights equal
    a Python brute force over the distinct rows, with and without the cap.
    The core takes a distinct relation; callers whose rows may repeat
    (the co-purchase builders over lineitem) apply ``distinct()`` first,
    as here."""
    rnd = random.Random(7)
    rows = [(rnd.randrange(8), rnd.randrange(12)) for _ in range(60)]
    rows += rows[:15]  # duplicate rows, removed by the caller's distinct()
    rows += [(100, 1), (101, 2), (101, 2)]  # size-1 groups
    rows += [(200, x) for x in (1, 3, 5, 7)]  # exactly max_group
    rows += [(201, x) for x in (0, 2, 4, 6, 8)]  # max_group + 1
    rel = spark.createDataFrame(rows, "g long, x long").distinct()
    got = {
        (r.i, r.j, r.n_co, r.w)
        for r in _cooccur(rel, "g", "x", max_group, weight=lambda n: n * 10 + 1).collect()
    }
    assert got == _brute(rows, max_group, lambda n: n * 10 + 1)
    unweighted = _cooccur(rel, "g", "x", max_group)
    assert unweighted.columns == ["i", "j", "n_co"]
    assert {(r.i, r.j, r.n_co, 0) for r in unweighted.collect()} == {
        (i, j, c, 0) for i, j, c, _ in got
    }


def test_containment_pairs_excerpt_and_capped_denominator(spark):
    """An excerpt fully inside a longer doc has containment 1.0 (Jaccard
    would be 3/7). A doc whose only unshared shingle is boilerplate (df
    above ``max_df``) reaches 1.0 only because the cap removes that
    shingle from its size: 1/min(2, 2) = 0.5 without the cap."""
    from telecom_dataengineering_pipeline_spark.llmprep.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "x y a b c d e z w"),
            (3, "w x y z"),
            (4, "x y z q"),
            (5, "w x y k"),
            (6, "w x y m"),
            (7, "w x y n"),
        ],
        "doc_id long, text string",
    )

    def pairs(max_df):
        out = containment_pairs(docs, threshold=0.0, max_df=max_df)
        return {(r.doc1, r.doc2): r.containment for r in out.collect()}

    assert pairs(3) == {(1, 2): 1.0, (3, 4): 1.0}  # boilerplate-only pairs drop too
    uncapped = pairs(None)
    assert uncapped[(1, 2)] == 1.0 and uncapped[(3, 4)] == 0.5


def test_only_lineage_persists_dataframes():
    """Every DataFrame materialization goes through ``lineage.py``'s cut
    and release policy: no other package module calls ``.persist(`` or
    ``.cache()``."""
    import telecom_dataengineering_pipeline_spark as pkg

    root = os.path.dirname(pkg.__file__)
    call = re.compile(r"\.persist\(|\.cache\(\)")
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".py") or path == os.path.join(root, "lineage.py"):
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if call.search(line.split("#", 1)[0]):
                        found.append(f"{os.path.relpath(path, root)}:{n}")
    assert not found, found

