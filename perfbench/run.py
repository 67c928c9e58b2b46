"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload presencia_daily --seed 1 --seconds 10 --trace 0

Runs from any working directory: the repository root (this file's
parent's parent) goes on ``sys.path`` and on the Python workers'
``PYTHONPATH``. Everything the run writes lives under
``<root>/.perfbench_work/<workload>-<seed>-<pid>/`` and is kept there
(see README.md: deleting thousands of flushed parquet files is slow on
disks with online discard).

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
``BENCHMARK.json``. The line before it (``# detail {...}``) carries every
other number the run measured.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [ROOT]
    try:
        import presencia_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from harness import Bench
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Everything below writes inside the checkout: Python temp files, the
    # package's warehouse default, Spark's scratch space. The workers
    # import the package from the checkout root.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spec = _spec()
    bench = Bench(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace), work)
    out = bench.run()
    if args.trace:
        out["spans"] = bench.tracer.summaries()
    print("# detail " + json.dumps(out, default=str), flush=True)
    if args.trace:
        metrics = {}
        for m in spec["per_layer"]:
            span, field = m["name"].rsplit(".", 1)
            metrics[m["name"]] = {
                "value": bench.tracer.spans[span].summary()[field]
                if span in bench.tracer.spans
                else 0,
                "unit": m["unit"],
            }
    else:
        metrics = {m["name"]: {"value": out[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
