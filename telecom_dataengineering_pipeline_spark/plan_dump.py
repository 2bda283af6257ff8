"""Dump the optimized logical and physical plans of registered queries.

    python <path>/plan_dump.py --root CHECKOUT --sf DIR --out DIR [names...]

The registry is imported from ``--root`` (default: the checkout this file
lives in), so one copy of the tool can dump an older checkout, such as a
``git worktree`` of a parent commit, without copying files into it. The
default names are the bench set. One ``<name>.txt`` is written per query.
Expression ids (``#123``), ``plan_id=``, the per-process lambda variable
counter (``x_12``) and a scratch directory path past its
``<kind>_<sf>`` (``queries/scratch.py``: a pid, then per-write file ids)
are masked, so two dumps of the same plan, from any two processes, are
byte-identical and ``diff -r`` between two output directories shows only
real plan changes. A lineage cut prints as ``LogicalRDD [cols], false``,
which carries no RDD id.
"""

from __future__ import annotations

import os
import re
import sys

_MASKS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_"),
    (re.compile(r"(/[a-z]+(?:_[a-z]+)+_[^/\s_]+)_\d+(?:/[^\s,\]]*)?"), r"\1_<pid>/..."),
)


def mask(plan: str) -> str:
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def dump(spark, fn, sf_dir: str) -> str:
    """The masked optimized + physical plan text of ``fn(spark, sf_dir)``."""
    qe = fn(spark, sf_dir)._jdf.queryExecution()
    return mask(
        "== Optimized Logical Plan ==\n"
        + qe.optimizedPlan().toString()
        + "\n== Physical Plan ==\n"
        + qe.executedPlan().toString()
    )


def main(argv: list[str]) -> int:
    args = list(argv)
    opts = {"--root": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}
    for flag in ("--root", "--sf", "--out"):
        if flag in args:
            i = args.index(flag)
            opts[flag] = args[i + 1]
            del args[i : i + 2]
    if "--sf" not in opts or "--out" not in opts:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    root = os.path.abspath(opts["--root"])
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    from telecom_dataengineering_pipeline_spark.queries.registry import (
        REGISTRY,
        bench_queries,
    )
    from telecom_dataengineering_pipeline_spark.session import get_spark

    names = args or list(bench_queries())
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        return 2
    os.makedirs(opts["--out"], exist_ok=True)
    spark = get_spark("plan-dump")
    for n in names:
        text = dump(spark, REGISTRY[n].fn, opts["--sf"])
        with open(os.path.join(opts["--out"], f"{n}.txt"), "w") as f:
            f.write(text + "\n")
        print(f"{n}: {len(text.splitlines())} lines", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
