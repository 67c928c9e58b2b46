#!/usr/bin/env python
"""Per-round measurement harness: per-query plan capture + isolated timing.

Usage (ROUND is the round tag, e.g. r14):
  python tools/measure.py ROUND plans [before|after] [q17 q34 ...]
      Capture .explain("formatted") for the named queries (default: all)
      into plans/ROUND/<query>_<tag>.txt.
  python tools/measure.py ROUND time q17 q34 ...
      Time the named queries (median of ${ROUND}_REPS reps, default 5,
      e.g. R14_REPS; same collect() methodology as bench.py) and print
      per-query seconds + Spark job counts.

Timing uses the same session shape as bench.py (shuffle_partitions=16,
warm tables) so numbers are comparable with BENCH_DETAIL.json.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod
from presencia_etl_spark.session import get_spark


def _warm(spark, sf_dir):
    from presencia_etl_spark.sources.readers import read_table

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        try:
            df = read_table(spark, sf_dir, t)
            df.count()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            print(f"# warmup skipped for {t}: {e}", file=sys.stderr)


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    rnd = sys.argv[1]
    mode = sys.argv[2] if len(sys.argv) > 2 else "plans"
    rest = sys.argv[3:]
    tag = "before"
    if mode == "plans" and rest and rest[0] in ("before", "after"):
        tag = rest[0]
        rest = rest[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name=f"{rnd}-measure",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "16")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    names = rest or list(queries)

    if mode == "plans":
        outdir = REPO / "plans" / rnd
        outdir.mkdir(parents=True, exist_ok=True)
        import io
        from contextlib import redirect_stdout

        for name in names:
            try:
                df = queries[name](spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                (outdir / f"{name}_{tag}.txt").write_text(buf.getvalue())
                print(f"plan captured: {name}")
            except Exception as e:
                print(f"# plan FAILED for {name}: {e}", file=sys.stderr)
        return

    if mode == "time":
        _warm(spark, sf_dir)
        reps = int(os.environ.get(f"{rnd.upper()}_REPS", "5"))
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        # one untimed shakedown of the first query
        try:
            queries[names[0]](spark, sf_dir).collect()
        except Exception:
            pass
        for name in names:
            fn = queries[name]
            runs = []
            jobs = None
            for rep in range(reps):
                group = f"{rnd}:{name}:{rep}"
                sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                n = len(df.collect())
                runs.append(time.perf_counter() - t0)
                if rep == 0:
                    try:
                        jobs = len(tracker.getJobIdsForGroup(group))
                    except Exception:
                        pass
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            runs.sort()
            med = runs[len(runs) // 2]
            print(
                f"{name:28s} med={med:6.3f} min={runs[0]:6.3f} "
                f"max={runs[-1]:6.3f} jobs={jobs} rows={n}"
            )
        return

    raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
