#!/usr/bin/env python
"""Alternating A/B of the repo benchmark between two checkouts.

    python tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S [--clean]

Pair ``i`` runs ``perfbench/run.py --workload W --seed S+i --seconds 5``
(the benchmark's declared run length, untraced) once in each checkout,
one process after the other; the order alternates per pair (parent
first on even pairs, change first on odd ones) so drift of the machine
hits both sides alike. Each run's result line and ``# detail``
line are parsed; the table prints, per metric, the median of each side,
the change/parent ratio, the parent's interquartile range and on how
many pairs the change was better (lower). Error rates are the runs'
``failed / attempted`` ops and the detail line's ``error_rate``.
``--clean`` deletes each run's ``.perfbench_work`` directory after it is
parsed (about 100 MB per trickle_views run). The last stdout line is the
whole summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

RUN_SECONDS = 5  # BENCHMARK.json's run_seconds


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent_dir")
    p.add_argument("change_dir")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed0", type=int, required=True)
    p.add_argument("--clean", action="store_true")
    return p.parse_args(argv)


def run_once(checkout: str, workload: str, seed: int, clean: bool) -> dict:
    """One perfbench run in ``checkout``: {metric: value} from the result
    line and every numeric top-level key of the detail line, plus
    ``op_error_rate``; raises when the run produced no result line."""
    cmd = [
        sys.executable, os.path.join(checkout, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(RUN_SECONDS),
    ]
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    out, _ = proc.communicate()
    if clean:
        work = os.path.join(checkout, ".perfbench_work", f"{workload}-{seed}-{proc.pid}")
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: perfbench exited {proc.returncode}")
    result = json.loads(lines[-1])
    vals = {k: v["value"] for k, v in result["metrics"].items()}
    detail = next((ln for ln in reversed(lines) if ln.startswith("# detail ")), None)
    if detail is not None:
        for k, v in json.loads(detail[len("# detail "):]).items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                vals.setdefault(k, v)
    vals["op_error_rate"] = result["failed"] / max(result["attempted"], 1)
    vals["correct"] = float(result["correct"])
    return vals


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(parent: list[dict], change: list[dict]) -> dict:
    """Per metric present in every run: medians, ratio, parent IQR and
    the number of pairs where the change was lower."""
    names = set.intersection(*(set(r) for r in parent + change))
    out = {}
    for m in sorted(names):
        p = [r[m] for r in parent]
        c = [r[m] for r in change]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = _quartiles(p)
        out[m] = {
            "parent": pm,
            "change": cm,
            "ratio": cm / pm if pm else None,
            "parent_iqr": q3 - q1,
            "change_lower": sum(ci < pi for pi, ci in zip(p, c)),
        }
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    dirs = {"parent": os.path.abspath(args.parent_dir), "change": os.path.abspath(args.change_dir)}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(dirs[side], args.workload, seed, args.clean)
            runs[side].append(r)
            print(
                f"# pair {i} seed {seed} {side}: "
                + " ".join(f"{k}={r[k]:.4g}" for k in ("setup_s", "run_s", "query_p50_s") if k in r),
                file=sys.stderr, flush=True,
            )
    summary = summarize(runs["parent"], runs["change"])
    print(f"{'metric':44} {'parent':>10} {'change':>10} {'ratio':>7} {'p_iqr':>9} lower/{args.pairs}")
    for m, s in summary.items():
        ratio = f"{s['ratio']:.3f}" if s["ratio"] is not None else "-"
        print(
            f"{m:44} {s['parent']:10.4g} {s['change']:10.4g} {ratio:>7} "
            f"{s['parent_iqr']:9.3g} {s['change_lower']}"
        )
    print(json.dumps({"workload": args.workload, "pairs": args.pairs, "seed0": args.seed0,
                      "summary": summary, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
