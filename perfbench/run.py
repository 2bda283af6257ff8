"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Workloads: ``analytics`` and ``medallion`` (README.md says what each runs
and why). Run from the root of a checkout: the input tables
are generated once into ``.perfbench/`` there, then one benchmark run
starts in a fresh process (``worker.py``) on ``local[<cores>]``, where
``<cores>`` is the number of CPUs this process may use. The last line of
standard output is one JSON object::

    {"correct": true, "attempted": 26, "failed": 0,
     "metrics": {"wall_s": {"value": 5.61, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. Exits non-zero without a result if the engine package is missing or
the run fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

import gen
from proc import steal_ticks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "telecom_dataengineering_pipeline_spark"
# Input scale per --scale: "bench" for measurements, "tiny" for the tests.
SCALES = {"bench": 0.01, "tiny": 0.001}
DEADLINE_S = 170.0


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[2]) == pgid:
                        return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def _stop_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while _group_alive(pgid):
        time.sleep(0.05)


def worker_env(work: str) -> dict[str, str]:
    """The environment of a Spark process: the engine package importable,
    ``local[<usable CPUs>]``, and every scratch file under ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "jvm-tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_<user>.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "medallion"))
    ap.add_argument("--seed", type=int, required=True, help="permutes op order within a pass")
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from telecom_dataengineering_pipeline_spark.benchlib import noise_probe

    sf = SCALES[args.scale]
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[f"sf{sf:g}"]
    work = os.path.join(ROOT, ".perfbench")
    data = gen.ensure_tables(os.path.join(work, "data"), sf)
    expected_path = os.path.join(work, f"expected-sf{sf:g}.json")
    with open(expected_path, "w") as f:
        json.dump(expected, f)
    env = worker_env(work)
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--expected", expected_path,
    ]
    probe_start, steal_start = noise_probe(), steal_ticks()
    log_path = os.path.join(runs, f"{tag}.log")
    with open(log_path, "w") as log:
        env["PERFBENCH_SPAWN_TIME"] = repr(time.time())
        worker = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                  stderr=log, start_new_session=True, text=True)
        try:
            out, _ = worker.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            out = None
        finally:
            _stop_group(worker.pid)
            worker.wait()
    if out is None:
        print(f"perfbench: run exceeded {DEADLINE_S:.0f}s; log: {log_path}", file=sys.stderr)
        return 1
    lines = out.strip().splitlines()
    if worker.returncode != 0 or not lines:
        print(f"perfbench: worker exited {worker.returncode}; log: {log_path}", file=sys.stderr)
        return 1
    record = json.loads(lines[-1])
    # Host-noise annotations: recorded with the run, never a metric and
    # never a reason to drop a run.
    record["noise"] = {
        "probe_start": probe_start,
        "probe_end": noise_probe(),
        "steal_ticks": steal_ticks() - steal_start,
    }
    record["args"] = vars(args)
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(f"perfbench: noise {json.dumps(record['noise'])}", file=sys.stderr)
    values = record["end_to_end"] if args.trace == 0 else record["per_layer"]
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": record["units"][k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
