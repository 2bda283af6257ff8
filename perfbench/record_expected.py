"""Re-record ``expected.json``: the row count and fingerprint of every
benchmark op, and the medallion table sizes, at each input scale.

    python3 perfbench/record_expected.py

Every op is first checked against its DuckDB oracle with
``oracle_check.check_query``; nothing is recorded unless all of them match.
Run it only when the generator or an op's defined output changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import gen
import worker
from run import HERE, ROOT, SCALES, worker_env

# Medallion input sizes per scale: call events and CRM customers.
MEDALLION_SIZES = {"bench": (20_000, 1_000), "tiny": (2_000, 500)}


def main() -> int:
    work = os.path.join(ROOT, ".perfbench")
    os.environ.update(worker_env(work))
    sys.path.insert(0, ROOT)
    from telecom_dataengineering_pipeline_spark.benchlib import bench_session
    from telecom_dataengineering_pipeline_spark.oracle_check import check_query
    from telecom_dataengineering_pipeline_spark.plans.medallion import MedallionPipeline
    from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY

    spark = bench_session("perfbench-record")
    out = {"note": "written by perfbench/record_expected.py after DuckDB parity of every op"}
    ok = True
    for scale, sf in sorted(SCALES.items()):
        data = gen.ensure_tables(os.path.join(work, "data"), sf)
        ops = {}
        for name in worker.RELATIONAL + worker.ITERATIVE + (worker.TXNLOG_MERGE,):
            parity = check_query(spark, name, data)
            print(f"sf{sf:g} {name}: {parity.detail}", flush=True)
            ok &= parity.ok
            rows, digest = worker.fingerprint(REGISTRY[name].fn(spark, data))
            ops[name] = {"rows": rows, "fingerprint": digest}
        events, customers = MEDALLION_SIZES[scale]
        base = os.path.join(work, "record-medallion")
        shutil.rmtree(base, ignore_errors=True)
        pipe = MedallionPipeline(spark, base, n_events=events, n_customers=customers)
        pipe.run()  # raises if the quality gate fails
        pipe.incremental_silver_calls()
        rows = {t: spark.read.parquet(pipe.path("gold", t)).count() for t in worker.GOLD_TABLES}
        rows["silver_calls"] = spark.read.parquet(pipe.path("silver", "calls")).count()
        shutil.rmtree(base)
        out[f"sf{sf:g}"] = {
            "ops": ops,
            "medallion": {"events": events, "customers": customers, "rows": rows},
        }
    if not ok:
        print("oracle parity failed; expected.json not written", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
