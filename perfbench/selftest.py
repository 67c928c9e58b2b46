"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

1. A traced ``incremental_sync`` span counts the Spark jobs that
   ``run_per_table`` launches from its pool threads (> 0), where counting
   by job group sees none of them.
2. A deliberately corrupted result counts as a failed operation: a synced
   target with one changed value fails the source-vs-target fingerprint,
   and a query result with one changed cell fails the oracle compare.
3. The oracle compare allows a one-unit last-place difference only in the
   columns a query rounds, and nowhere else.
4. The command runs from a working directory outside the checkout (the
   Python workers must import the package from the checkout root).

Exits non-zero if any test fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench():
    from harness import Bench
    from workloads.presencia_daily import Workload

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    bench = Bench(Workload(), seed=1, seconds=1, trace=True, work=work)
    bench.start_session()
    return bench


def test_sync_span_counts_pool_thread_jobs(bench) -> str:
    from presencia_etl_spark.plans.full_sync import full_sync
    from presencia_etl_spark.plans.incremental_sync import incremental_sync
    from presencia_etl_spark.plans.presencia_fixture import synth_presencia_tables
    from presencia_etl_spark.sources.registry import PRESENCIA_REGISTRY as REG

    from workloads.presencia_daily import WARMUP_SIZES

    spark = bench.spark
    root = os.path.join(bench.work, "sync_jobs")
    tables = synth_presencia_tables(spark, sizes=WARMUP_SIZES, seed=1)
    bench.tracer.phase = "run"
    bench.call("plans.full_sync.full_sync", full_sync, spark, tables, REG, root)
    spark.sparkContext.setJobGroup("selftest-sync", "incremental_sync under a job group")
    bench.call("plans.incremental_sync.incremental_sync", incremental_sync, spark, tables, REG, root)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    by_group = len(spark.sparkContext.statusTracker().getJobIdsForGroup("selftest-sync"))
    spans = bench.tracer.spans
    jobs = {n: spans[n].jobs for n in ("plans.full_sync.full_sync", "plans.incremental_sync.incremental_sync")}
    if not all(j > 0 for j in jobs.values()):
        raise AssertionError(f"a sync span reported no Spark jobs: {jobs}")
    return f"span jobs {jobs}; the same sync counted by job group: {by_group}"


def test_corrupted_result_is_a_failure(bench) -> str:
    from presencia_etl_spark.plans.presencia_fixture import synth_presencia_tables
    from pyspark.sql import functions as F

    from workloads import contract_queries
    from workloads.presencia_daily import WARMUP_SIZES

    wl = bench.workload
    tables = synth_presencia_tables(bench.spark, sizes=WARMUP_SIZES, seed=1)
    st = {
        "tables": {k: v.localCheckpoint(eager=True) for k, v in tables.items()},
        "root": os.path.join(bench.work, "corrupt"),
        "seed": 1,
    }
    wl.prepare(bench, st)
    wl.cycle(bench, st, -1)  # one whole checked cycle
    if bench.failed:
        raise AssertionError(f"the clean cycle failed: {bench.failures}")
    liq = os.path.join(st["cycle_root"], "Liquidaciones")
    tgt = bench.spark.read.parquet(liq)
    victim = tgt.select("CUPLIQUIDA").orderBy("CUPLIQUIDA").first()[0]
    bad = tgt.withColumn(
        "ESTLIQUIDA",
        F.when(F.col("CUPLIQUIDA") == victim, F.lit("ZZ")).otherwise(F.col("ESTLIQUIDA")),
    ).localCheckpoint(eager=True)
    bad.write.mode("overwrite").parquet(liq)
    wl.finish(bench, st)
    if bench.failed != 1:
        raise AssertionError(f"a corrupted target gave {bench.failed} failures, expected 1")

    want = contract_queries.canonicalize(["k", "v"], [(1, 2.5), (2, 3.0)])
    got = contract_queries.canonicalize(["k", "v"], [(1, 2.5), (2, 3.5)])
    bench.op(None, lambda: got, lambda g: contract_queries.compare(g, want))
    if bench.failed != 2:
        raise AssertionError("a corrupted query result was not counted as a failure")
    return f"failures counted: {bench.failures[0][:80]}... / {bench.failures[1][:80]}..."


def test_compare_tolerance() -> str:
    from workloads.contract_queries import ROUNDED, canonicalize, compare

    def cmp(want, got, rounded=None):
        return compare(canonicalize(["k", "v"], got), canonicalize(["k", "v"], want), rounded)

    must_fail = [
        ([(2, 3.0)], [(2, 4.0)], None),
        ([(1, 0.0)], [(1, 1.0)], None),
        ([(1, 0.5)], [(1, 0.6)], None),
        ([(1, 123.45)], [(1, 123.46)], None),  # a 2-decimal flip outside a rounded column
        ([(1, 123.45)], [(1, 123.47)], {"v": 2}),  # two units in a rounded column
        ([(1, 0.0)], [(1, 1.0)], {"v": 2}),
    ]
    must_pass = [
        ([(1, 123.45)], [(1, 123.46)], {"v": 2}),
        ([(1, 0.1234)], [(1, 0.1235)], {"v": ROUNDED[36]["cosine"]}),
        ([(1, 1e9 + 0.1)], [(1, 1e9 + 0.1 + 1e-3)], None),  # relative 1e-7
    ]
    bad = [c for c in must_fail if cmp(*c) is True] + [c for c in must_pass if cmp(*c) is not True]
    if bad:
        raise AssertionError(f"compare misjudged {bad}")
    return f"{len(must_fail)} differences caught, {len(must_pass)} allowed"


def test_runs_outside_the_checkout() -> str:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "contract_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd="/", capture_output=True, text=True, timeout=300,
    )
    last = json.loads(p.stdout.strip().splitlines()[-1])
    if p.returncode != 0 or not last["correct"]:
        raise AssertionError(f"rc={p.returncode} result={last} stderr tail={p.stderr[-1500:]}")
    return f"{last['attempted']} queries correct from cwd /"


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    failed = 0
    try:
        print(f"PASS oracle compare tolerance: {test_compare_tolerance()}", flush=True)
    except Exception as e:
        failed += 1
        print(f"FAIL oracle compare tolerance: {e!r}", flush=True)
    bench = _bench()
    try:
        tests = [
            lambda: test_sync_span_counts_pool_thread_jobs(bench),
            lambda: test_corrupted_result_is_a_failure(bench),
        ]
        names = ["sync span counts pool-thread jobs", "corrupted result is a failure"]
        for name, t in zip(names, tests):
            try:
                print(f"PASS {name}: {t()}", flush=True)
            except Exception as e:  # report every test, then fail the run
                failed += 1
                print(f"FAIL {name}: {e!r}", flush=True)
    finally:
        bench.close()
    try:
        print(f"PASS runs outside the checkout: {test_runs_outside_the_checkout()}", flush=True)
    except Exception as e:
        failed += 1
        print(f"FAIL runs outside the checkout: {e!r}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
