"""Benchmark of the parquery_spark engine: one command per workload run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Runs one closed-loop client against the engine for ``--seconds`` seconds of
op time, checks every distinct result against DuckDB, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced run.  The line before it,
``perfbench-info {...}``, records the host, fixture sizes, op counts and the
tail percentile used.  Workloads: dashboard and registry (see
``BENCHMARK.json`` for why each exists).

Inputs come from ``--seed``; fixtures are cached under ``.perfbench_work/``
in the checkout and reused only when byte-identical.  Exits 2 without a
result when the engine is not present next to the benchmark.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for module in ("parquery_spark", "__spark_entry__"):
        if importlib.util.find_spec(module) is None:
            print(f"perfbench: {module} is not importable from {ROOT}", file=sys.stderr)
            return 2

    from perfbench.workloads import WORKLOADS

    run = WORKLOADS[args.workload](ROOT, args.seed, args.seconds, bool(args.trace), T_PROCESS)
    try:
        metrics = run.run()
    finally:
        run.tear_down()
    for line in run.errors:
        print(f"perfbench: {line}", file=sys.stderr)
    print("perfbench-info " + json.dumps(run.info, sort_keys=True, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
