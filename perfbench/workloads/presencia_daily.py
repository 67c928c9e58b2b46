"""presencia_daily — the reference's own workload.

Input: ``synth_presencia_tables(seed=...)``, 10 all-string tables (~102K
rows, an 88K-row ``Liquidaciones``). One cycle, timed op by op:

1. ``full_sync`` into a fresh root (``load``);
2. ``incremental_sync`` with no change (``sync``), then a reconcile pass:
   ``reconcile_report``, ``key_reconcile`` and ``monthly_reconcile`` of
   the source Liquidaciones against the synced target (``query``);
3. ``incremental_sync`` with ``N_UPDATE`` filtered Liquidaciones rows
   given a fresh ESTLIQUIDA value and ``N_INSERT`` new keys (``sync``),
   then a reconcile pass of the mutated source (``query``).

The tables are the same for every seed (``datagen.DATA_SEED``); the seed
chooses which keys are victims, never how many, so each cycle does the
same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from datagen import DATA_SEED

NAME = "presencia_daily"
N_UPDATE = 80  # ~0.1% of Liquidaciones
N_INSERT = 8
KEY = "CUPLIQUIDA"
WARMUP_SIZES = {"Liquidaciones": 2_000, "TbComentariosSocios": 300, "Socios": 200}


class Workload:
    name = NAME
    # two cycles: one ~9 s cycle alone reads 10-20% apart between runs
    min_cycles = 2

    def inputs(self, bench) -> None:
        pass

    def setup(self, bench, root: str) -> dict:
        from presencia_etl_spark.plans.presencia_fixture import synth_presencia_tables

        tables = bench.call(
            "plans.presencia_fixture.synth_presencia_tables",
            lambda: {
                k: v.localCheckpoint(eager=True)
                for k, v in synth_presencia_tables(bench.spark, seed=DATA_SEED).items()
            },
        )
        return {"tables": tables, "root": root, "seed": bench.seed}


    def warmup(self, bench, st: dict) -> None:
        """One whole untimed (checked) cycle on a small copy of the tables:
        the first passes through each code path pay JIT and caches,
        whatever the data size."""
        from presencia_etl_spark.plans.presencia_fixture import synth_presencia_tables

        small = synth_presencia_tables(bench.spark, sizes=WARMUP_SIZES, seed=DATA_SEED)
        warm = {
            "tables": {k: v.localCheckpoint(eager=True) for k, v in small.items()},
            "root": os.path.join(st["root"], "warmup"),
            "seed": bench.seed,
        }
        self.prepare(bench, warm)
        self.cycle(bench, warm, -1)
        self.prepare(bench, st)

    def prepare(self, bench, st: dict) -> None:
        """Untimed facts the checks need: per-table loaded row counts,
        the filtered Liquidaciones keys, the mean raw row size."""
        from presencia_etl_spark.plans.full_sync import prepare_table
        from presencia_etl_spark.sources.registry import PRESENCIA_REGISTRY as REG

        tables = st["tables"]
        semi = {"TbComentariosSocios": prepare_table(tables["Socios"], REG["Socios"])}
        st["expected_counts"] = {
            n: prepare_table(tables[n], cfg, semi_source=semi.get(n)).count()
            for n, cfg in REG.items()
        }
        liq = prepare_table(tables["Liquidaciones"], REG["Liquidaciones"], typed=False)
        st["keys"] = sorted(r[0] for r in liq.select(KEY).collect())
        raw = tables["Liquidaciones"].toArrow()
        st["row_bytes"] = raw.nbytes / raw.num_rows
        st["written"] = []
        st["changed_bytes"] = []

    def _mutated(self, st: dict, i: int):
        rng = np.random.default_rng([st["seed"], i + 1])
        pick = rng.choice(len(st["keys"]), N_UPDATE + N_INSERT, replace=False)
        victims = [st["keys"][j] for j in pick[:N_UPDATE]]
        templates = [st["keys"][j] for j in pick[N_UPDATE:]]
        liq = st["tables"]["Liquidaciones"]
        upd = liq.withColumn(
            "ESTLIQUIDA",
            F.when(F.col(KEY).isin(victims), F.lit(f"U{i}")).otherwise(F.col("ESTLIQUIDA")),
        )
        ins = liq.filter(F.col(KEY).isin(templates)).withColumn(
            KEY, F.concat(F.lit(f"N{i}-"), F.col(KEY))
        )
        return {**st["tables"], "Liquidaciones": upd.unionByName(ins)}

    def _sync(self, bench, st, tables, want_liq: dict, timed=True):
        from presencia_etl_spark.plans.incremental_sync import incremental_sync
        from presencia_etl_spark.sources.registry import PRESENCIA_REGISTRY as REG

        from spans import walk_files, written_since

        root = st["cycle_root"]

        def check(res):
            for name, r in res.items():
                if REG[name].full_refresh:
                    continue
                want = want_liq if name == "Liquidaciones" else {}
                got = {k: r[k] for k in ("insert", "update")}
                if got != {"insert": want.get("insert", 0), "update": want.get("update", 0)}:
                    return f"{name}: classified {got}, planned {want or 'no change'}"
            return True

        before = walk_files([root])
        bench.op(
            "sync" if timed else None,
            lambda: bench.call(
                "plans.incremental_sync.incremental_sync",
                incremental_sync, bench.spark, tables, REG, root, targets=[root],
            ),
            check,
        )
        if timed:
            st["written"].append(written_since(before, walk_files([root]))[0])
            n = want_liq.get("insert", 0) + want_liq.get("update", 0)
            st["changed_bytes"].append(n * st["row_bytes"])

    def _reconcile(self, bench, st: dict, tables: dict, timed: bool) -> None:
        """Reconcile the source Liquidaciones against the synced target."""
        from presencia_etl_spark.plans.full_sync import prepare_table
        from presencia_etl_spark.plans.reconcile import (
            key_reconcile,
            monthly_reconcile,
            reconcile_report,
        )
        from presencia_etl_spark.sources.registry import PRESENCIA_REGISTRY as REG

        src = st["source"] = prepare_table(tables["Liquidaciones"], REG["Liquidaciones"])
        tgt = bench.spark.read.parquet(os.path.join(st["cycle_root"], "Liquidaciones"))

        def reconcile():
            report = bench.call(
                "plans.reconcile.reconcile_report",
                lambda: reconcile_report(
                    src, tgt, KEY, state_col="ESTLIQUIDA",
                    date_col="FECLIQUIDA", amount_col="IMPLIQUIDA",
                ).collect(),
            )
            keys = bench.call(
                "plans.reconcile.key_reconcile",
                lambda: key_reconcile(src, tgt, [KEY]).collect(),
            )
            months = bench.call(
                "plans.reconcile.monthly_reconcile",
                lambda: monthly_reconcile(
                    src, tgt, "FECLIQUIDA", {"imp": F.round(F.sum("IMPLIQUIDA"), 2)}
                ).collect(),
            )
            return report, keys, months

        bench.op("query" if timed else None, reconcile, _reconciled)

    def cycle(self, bench, st: dict, i: int) -> None:
        from presencia_etl_spark.plans.full_sync import full_sync
        from presencia_etl_spark.sources.registry import PRESENCIA_REGISTRY as REG

        timed = i >= 0
        root = st["cycle_root"] = os.path.join(st["root"], f"cycle{i + 1}")
        tables = st["tables"]

        bench.op(
            "load" if timed else None,
            lambda: bench.call(
                "plans.full_sync.full_sync",
                full_sync, bench.spark, tables, REG, root, targets=[root],
            ),
            lambda got: got == st["expected_counts"]
            or f"loaded {got}, expected {st['expected_counts']}",
        )
        self._sync(bench, st, tables, {}, timed)
        self._reconcile(bench, st, tables, timed)
        mutated = self._mutated(st, i)
        self._sync(
            bench, st, mutated, {"insert": N_INSERT, "update": N_UPDATE}, timed
        )
        self._reconcile(bench, st, mutated, timed)

    def finish(self, bench, st: dict) -> None:
        """The final target equals the final source: same row count and
        the same order-independent sum of row hashes."""
        src = st["source"]
        tgt = bench.spark.read.parquet(os.path.join(st["cycle_root"], "Liquidaciones"))
        from harness import fingerprint

        cols = [c for c in src.columns if c in tgt.columns]
        bench.op(
            None,
            lambda: (fingerprint(src.select(*cols)), fingerprint(tgt.select(*cols))),
            lambda fp: fp[0] == fp[1] or f"source {fp[0]} != target {fp[1]}",
        )
        st["target_df"] = tgt.select(*cols)

    def detail(self, bench, st: dict) -> dict:
        from harness import p50, tail
        from spans import walk_files

        loads = bench.samples["load"]
        rows = sum(st["expected_counts"].values())
        out_dir = os.path.join(bench.work, "space_once")
        st["target_df"].coalesce(1).write.mode("overwrite").parquet(out_dir)
        once = sum(v[0] for v in walk_files([out_dir]).values())
        live = sum(
            v[0]
            for v in walk_files([os.path.join(st["cycle_root"], "Liquidaciones")]).values()
        )
        return {
            "sync_p50_s": p50(bench.samples["sync"]),
            "sync_tail": tail(bench.samples["sync"]),
            "load_rows_per_s": rows / p50(loads) if loads else None,
            "write_amp": sum(st["written"]) / max(sum(st["changed_bytes"]), 1.0),
            "space_amp": live / max(once, 1),
        }


def _reconciled(res):
    """Source and target agree in every report section, key set and month."""
    report, keys, months = res
    diff = [tuple(r) for r in report if r["diff"] != "OK"]
    if diff:
        return f"reconcile_report differences: {diff[:5]}"
    if keys:
        return f"keys on one side only: {[tuple(r) for r in keys[:5]]}"
    bad = [tuple(r) for r in months if r["cnt_diff"] or r["imp_diff"]]
    return not bad or f"monthly differences: {bad[:5]}"
