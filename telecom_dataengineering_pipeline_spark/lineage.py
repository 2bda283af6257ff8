"""Cluster-scale lineage-cut policy (one config point for every cut site).

Every cut site in the engine routes through :func:`lineage_cut` (lazy) or
:func:`lineage_cut_eager` (eager, for a cut an action reads at once), so one
session conf swaps the mechanism fleet-wide. Both modes truncate the logical
plan, which is what keeps iterative plans linear in the round count.

``spark.graft.lineage_cut``:

- ``localCheckpoint`` (default) — executor-local blocks with no replication:
  the cheapest cut, right for local mode and restartable batch jobs. A lost
  executor makes the cut unrecoverable and fails the job.
- ``checkpoint`` — reliable checkpoint files under
  ``spark.graft.checkpoint_dir``; survives executor loss at the cost of a
  write to the checkpoint filesystem. On a local master the dir defaults to
  ``<local tmp>/spark-graft-checkpoints``. On any other master the conf must
  be set (to storage every node shares) or the cut raises ``ValueError`` —
  a node-local default would silently defeat the fault tolerance.

Release contract: :func:`release` frees whatever backs a DataFrame returned
by ``lineage_cut``/``lineage_cut_eager`` — the pinned blocks of a local
checkpoint, the ``rdd-<id>`` directory of a reliable one.

Fixed points: every round-cutting loop runs on :func:`iterate`, which owns
the cut cadence and the release. Each round's state is cut lazily, which
keeps the plan linear in the round count even when a round reads its state
twice (LPA, k-core). Lazy cuts still chain: materializing round r computes
every unmaterialized round before it in one job, and a 64-round lazy chain
overflowed the task-serialization stack (``StackOverflowError``; 48 rounds
passed). So every ``EAGER_EVERY`` (16) rounds the cut is eager, and that
cut releases every earlier cut of the loop, ``start`` included when it is
a cut: at most ``EAGER_EVERY`` rounds stay pinned. A loop that probes its
state with an action (``until``) cuts every round eagerly — a lazy cut an
action has touched may hold only some partitions — and so keeps at most
the round it probed and the one before.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame

_MODE_CONF = "spark.graft.lineage_cut"
_DIR_CONF = "spark.graft.checkpoint_dir"
_VALID = ("localCheckpoint", "checkpoint")
EAGER_EVERY = 16


def _mode(df: DataFrame) -> str:
    try:
        m = df.sparkSession.conf.get(_MODE_CONF, "localCheckpoint")
    except Exception:
        m = "localCheckpoint"
    if m not in _VALID:
        raise ValueError(
            f"{_MODE_CONF}={m!r} — expected one of {', '.join(_VALID)}"
        )
    return m


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    spark = df.sparkSession
    sc = spark.sparkContext
    d = spark.conf.get(_DIR_CONF, None)
    if d is None and not sc.master.startswith("local"):
        raise ValueError(
            f"{_MODE_CONF}=checkpoint on master {sc.master!r} needs "
            f"{_DIR_CONF} set to a directory every node shares"
        )
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            d or os.path.join(tempfile.gettempdir(), "spark-graft-checkpoints")
        )


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage per the session's ``spark.graft.lineage_cut``."""
    if _mode(df) == "checkpoint":
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def lineage_cut_eager(df: DataFrame) -> DataFrame:
    return lineage_cut(df, eager=True)


def release(cut: DataFrame) -> None:
    """Free what backs ``cut``, a DataFrame returned by ``lineage_cut`` or
    ``lineage_cut_eager``. Its plan is a ``LogicalRDD`` over the cut RDD:
    unpersisting drops a local checkpoint's pinned blocks, and a reliable
    checkpoint's files are deleted. Reading ``cut`` afterwards fails."""
    plan = cut._jdf.logicalPlan()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError("release() takes the DataFrame a lineage cut returned")
    rdd = plan.rdd()
    rdd.unpersist(False)
    f = rdd.getCheckpointFile()
    if f.isDefined():
        sc = cut.sparkSession.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(f.get())
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def _is_cut(df: DataFrame) -> bool:
    plan = df._jdf.logicalPlan()
    return (
        plan.getClass().getSimpleName() == "LogicalRDD"
        and plan.rdd().checkpointData().isDefined()
    )


def iterate(
    start: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Run ``state = step(state)`` from ``start`` for at most ``rounds``
    rounds and return the last state, a cut (``start`` itself when
    ``rounds`` is 0). ``step`` builds one round's relation from the previous
    state only; anything else it reads must be loop-invariant.

    Each round's state is cut lazily, and eagerly every ``EAGER_EVERY``
    rounds; an eager cut releases every cut the loop made before it, and
    ``start`` if it is a cut. With ``until(prev, state)`` every round is
    cut eagerly and probed after its cut, before ``prev`` is released; the
    loop stops at the first true probe."""
    held = [start] if _is_cut(start) else []
    state = start
    for r in range(1, rounds + 1):
        prev = state
        eager = until is not None or r % EAGER_EVERY == 0
        state = lineage_cut(step(prev), eager=eager)
        done = until is not None and until(prev, state)
        if eager:
            for cut in held:
                release(cut)
            held = []
        held.append(state)
        if done:
            break
    return state
