"""Crawl-frontier benchmark: one seeded workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 5 --trace 0

Human-readable lines go to standard output first; the last line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans, the Spark event log and the Python UDF profile,
and the metrics are the per-layer ones. Spark's own output goes to
standard error. Inputs, stores and logs live under ``.perfbench_work/``
in the repository root. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout and make the
    engine importable on the driver and on Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's per-round outputs as its expected values")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "webscraper_spark", "plans", "round.py")):
        print(f"engine not found next to {HERE}: nothing to measure", file=sys.stderr)
        return 2
    _prepare_environment()
    from perfbench import crawl

    spec = crawl.WORKLOADS.get(args.workload)
    if spec is None:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(crawl.WORKLOADS)}", file=sys.stderr)
        return 2
    result = crawl.run(spec, args.seed, args.seconds, bool(args.trace), WORK, sys.stderr,
                       record=args.record)
    summary = result.pop("summary")
    units = crawl.layers.UNITS if args.trace else crawl.E2E_UNITS
    print("summary " + json.dumps(summary, sort_keys=True))
    for name, value in sorted(result["metrics"].items()):
        print(f"{name} = {value:.6g} {units[name]}")
    result["metrics"] = {
        name: {"value": value, "unit": units[name]}
        for name, value in result["metrics"].items()
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
