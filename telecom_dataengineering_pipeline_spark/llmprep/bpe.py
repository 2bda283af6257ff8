"""BPE tokenizer training: full merge rounds, distributed.

``pair_merge_stats`` (curation.py) counts ONE round's merge candidates;
this module runs the actual training loop — per round: count adjacent
pairs, pick the winner, MERGE every occurrence corpus-wide, repeat on the
re-tokenized corpus. The classic sequential algorithm distributes cleanly
because each phase is relational:

- **count** — the bigram slice-zip aggregate (one shuffle, map-side
  combined);
- **select** — a 1-row TakeOrdered (tf desc, pair asc tie-break:
  deterministic on any engine);
- **merge** — left-to-right greedy non-overlapping replacement, which is
  EXACTLY the semantics of ``replace()`` on a sentinel-joined token
  string: tokens join on ``\\x1f`` (never inside a whitespace token) with
  leading/trailing sentinels, so the pattern ``SEP·x·SEP·y·SEP`` can only
  match whole tokens, self-pair runs ("a a a") merge greedily
  ("(a a) a"), and merged symbols (containing a space) can never collide
  with raw tokens. One codegen string op per doc — no shuffle, no
  explode, no UDF, and DuckDB's ``replace`` shares the exact scan-left
  semantics, so every round is oracle-checkable.

Rounds are data-dependent sequentially (round N+1 counts the corpus AS
re-tokenized by round N) — the irreducible part of BPE — but each round
is a fixed small number of distributed passes; the corpus string column
checkpoints between rounds so lineage doesn't re-run prior merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import tokens
from ..lineage import lineage_cut

SEP = "\x1f"


def _sentinel_string(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    t = F.filter(tokens(text_col), lambda x: x != "")
    return (
        docs.select(F.col(id_col).alias("doc_id"), t.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.concat(F.lit(SEP), F.array_join("t", SEP), F.lit(SEP)).alias("s"),
        )
    )


def _tok_array(s):
    sp = F.split(s, SEP)
    return F.slice(sp, 2, F.greatest(F.size(sp) - 2, F.lit(0)))


def _top_pair(state: DataFrame) -> DataFrame:
    """One round's merge winner over the sentinel strings ``s``: the 1-row
    (w1, w2, tf) of the most frequent adjacent pair, ties broken by pair."""
    a = _tok_array(F.col("s"))
    n = F.size(a)
    prs = state.select(
        F.explode(
            F.arrays_zip(
                F.slice(a, 1, F.greatest(n - 1, F.lit(0))).alias("x"),
                F.slice(a, 2, F.greatest(n - 1, F.lit(0))).alias("y"),
            )
        ).alias("p")
    ).select(F.col("p.x").alias("w1"), F.col("p.y").alias("w2"))
    return (
        prs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(1)
    )


def bpe_train_rounds(
    docs: DataFrame,
    rounds: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run ``rounds`` BPE merges over the corpus. Returns one row per
    round: ``(round, merged_pair, tf, tokens_after, vocab_after)`` — the
    merge table plus the corpus compression trajectory."""
    spark = docs.sparkSession
    state = _sentinel_string(docs, text_col, id_col).transform(lineage_cut)
    out: DataFrame | None = None
    for rnd in range(1, rounds + 1):
        winner = _top_pair(state)
        pat = F.concat(F.lit(SEP), F.col("w1"), F.lit(SEP), F.col("w2"), F.lit(SEP))
        rep = F.concat(F.lit(SEP), F.col("w1"), F.lit(" "), F.col("w2"), F.lit(SEP))
        state = (
            state.crossJoin(F.broadcast(winner))
            .select(
                "doc_id",
                F.call_function("replace", F.col("s"), pat, rep).alias("s"),
                "w1",
                "w2",
                "tf",
            )
            .transform(lineage_cut)
        )
        after_tok = _tok_array(F.col("s"))
        stats = state.select(
            F.lit(rnd).alias("round"),
            F.concat(F.col("w1"), F.lit(" "), F.col("w2")).alias("merged_pair"),
            "tf",
            F.explode(after_tok).alias("tok"),
        )
        row = stats.groupBy("round", "merged_pair", "tf").agg(
            F.count(F.lit(1)).cast("long").alias("tokens_after"),
            F.count_distinct("tok").cast("long").alias("vocab_after"),
        )
        out = row if out is None else out.unionByName(row)
        state = state.select("doc_id", "s")
    return out


def bpe_learn_merges(
    docs: DataFrame,
    rounds: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "list[tuple[str, str]]":
    """Train and RETURN the merge table as ``[(w1, w2), ...]`` rank-ordered —
    the driver-side handoff :func:`bpe_encode` consumes. Same round step as
    :func:`bpe_train_rounds` (:func:`_top_pair`, same sentinel replace),
    but collects only the per-round winner: one 1-row collect per round, the
    merge table itself is O(rounds) — bounded regardless of corpus size.
    (``bpe_train_rounds`` can't serve here: its ``merged_pair`` column joins
    w1/w2 with a space, which is ambiguous once merged symbols themselves
    contain spaces.)"""
    state = _sentinel_string(docs, text_col, id_col).transform(lineage_cut)
    merges: list[tuple[str, str]] = []
    for _ in range(rounds):
        winner = _top_pair(state).collect()
        if not winner:
            break
        w1, w2 = winner[0]["w1"], winner[0]["w2"]
        merges.append((w1, w2))
        pat = F.lit(SEP + w1 + SEP + w2 + SEP)
        rep = F.lit(SEP + w1 + " " + w2 + SEP)
        state = state.select(
            "doc_id", F.call_function("replace", F.col("s"), pat, rep).alias("s")
        ).transform(lineage_cut)
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    jvm_max_merges: int = 32,
) -> DataFrame:
    """Apply a learned BPE merge table (rank-ordered, as trained by
    :func:`bpe_train_rounds`) to the corpus — the other half of the
    tokenizer loop: train produces merges, ENCODE is what every
    downstream token count, packing plan, and context-length filter
    actually consumes.

    Merge semantics match training exactly: per rank, left-to-right
    greedy non-overlapping replacement on the sentinel-joined token
    string (see the module docstring — ``replace()``'s scan-left
    behavior IS the convention the training statistics were computed
    under, so encode(train(corpus)) is self-consistent).

    Two regimes, same results:

    - ``len(merges) <= jvm_max_merges``: one chained ``replace()``
      column expression per rank — pure codegen, no Python. Right for
      analysis-sized tables; a 50k-merge chain would blow up the
      expression tree, hence the cap.
    - larger tables: the rank list BROADCASTS inside an Arrow-batched
      ``mapInPandas`` that folds the same replaces per batch — the
      production path for real vocabularies (the merge table is KBs—MBs;
      the corpus never moves, no shuffle either way).

    Returns ``(id_col, tokens array<string>, n_tokens)``.
    """
    if not merges:
        raise ValueError("bpe_encode needs a non-empty merge table")
    state = _sentinel_string(docs, text_col, id_col)
    if len(merges) <= jvm_max_merges:
        s = F.col("s")
        for w1, w2 in merges:
            pat = SEP + w1 + SEP + w2 + SEP
            rep = SEP + w1 + " " + w2 + SEP
            s = F.call_function("replace", s, F.lit(pat), F.lit(rep))
        encoded = state.select("doc_id", s.alias("s"))
    else:
        import sys

        import pandas as pd  # noqa: F401 (worker-side)

        try:  # rebuildable without the repo on the worker's sys.path
            from pyspark import cloudpickle as _cp

            _cp.register_pickle_by_value(sys.modules[__name__])
        except Exception:
            pass

        table = list(merges)
        sep = SEP

        def _apply(batches):
            for pdf in batches:
                s = pdf["s"]
                for w1, w2 in table:
                    s = s.str.replace(
                        sep + w1 + sep + w2 + sep,
                        sep + w1 + " " + w2 + sep,
                        regex=False,
                    )
                pdf = pdf.copy()
                pdf["s"] = s
                yield pdf

        encoded = state.mapInPandas(_apply, state.schema)
    toks = _tok_array(F.col("s"))
    return encoded.select(
        F.col("doc_id").alias(id_col),
        toks.alias("tokens"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
