"""trickle_views — KB-sized change ticks into a MOR lineitem that feeds four
maintained consumers.

Inputs: ``lineitem``, ``orders`` and ``part`` from ``datagen`` at scale
``SF``, the same for every seed; the seed picks each tick's rows. Set-up
loads them into MOR states, loads lineitem again into a bucketed
copy-on-write target, and builds the consumers: an aggregate snapshot by
``l_returnflag``, a top-10 head over per-order ``sum(l_quantity)``, a
2-way join view with orders and a 3-way left-star view with orders and
part.

One cycle: ``FACT_TICKS`` fact ticks (``N_UPDATE`` changed + ``N_INSERT``
new lineitem rows) and one dim tick (``N_DIM`` part rows re-branded, which
runs the left-star view's dim sweep). Each tick is a ``fresh`` op — the
merge plus a refresh of every view — followed by a ``query`` op that reads
the views and checks them against a driver-side model of the state. Then
a fact tick of its own (``COW_UPDATE`` changed + ``COW_INSERT`` new rows)
goes into a bucketed copy-on-write copy of lineitem
(``merge_upsert_partitioned``, a ``cow`` op), and the cycle ends
with an explicit ``compact_mor`` of the MOR lineitem (``compact``).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

NAME = "trickle_views"
SF = 0.01
FACT_TICKS = 2
N_UPDATE = 32
N_INSERT = 8
N_DIM = 8
# the COW copy's tick dirties ~COW_UPDATE + COW_INSERT of its LI_BUCKETS buckets
COW_UPDATE = 4
COW_INSERT = 2
TOPK = 10
# ~3.7K lineitem rows per bucket, near the ~2.3K of a 600K-row lineitem
# in 256 buckets; orders and part keep 0.5-2K rows per bucket
LI_BUCKETS = 16
ORDERS_BUCKETS = 8
PART_BUCKETS = 4
LI_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
JOIN_A = ["l_key", "l_orderkey", "l_quantity", "l_returnflag"]
JOIN_B = ["o_orderkey", "o_custkey", "o_totalprice"]


def _with_key(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["l_key"] = pdf[LI_KEY].astype(str).agg("#".join, axis=1)
    return pdf.set_index("l_key", drop=False)


class Workload:
    name = NAME
    min_cycles = 1

    def inputs(self, bench) -> None:
        import datagen

        self.dir = os.path.join(bench.work, "inputs")
        datagen.write_tables(self.dir, SF, datagen.DATA_SEED, names=["lineitem", "orders", "part"])

    def setup(self, bench, root: str) -> dict:
        from presencia_etl_spark.plans.incremental_agg import build_agg_snapshot
        from presencia_etl_spark.plans.incremental_join import build_join_view
        from presencia_etl_spark.plans.incremental_join_nway import build_join_view_nway
        from presencia_etl_spark.plans.incremental_topk import build_topk_head
        from presencia_etl_spark.sinks.mor import merge_upsert_mor
        from presencia_etl_spark.sinks.writers import merge_upsert_partitioned
        from presencia_etl_spark.sources.readers import read_table

        spark = bench.spark
        names = ("li", "cow", "orders", "part", "agg", "agg_ord", "head", "join", "star")
        p = {k: os.path.join(root, k) for k in names}
        src = {
            t: bench.call("sources.read_table", read_table, spark, self.dir, t)
            for t in ("lineitem", "orders", "part")
        }
        li = src["lineitem"].withColumn("l_key", F.concat_ws("#", *LI_KEY))
        for df, path, key, nb in (
            (li, p["li"], "l_key", LI_BUCKETS),
            (src["orders"], p["orders"], "o_orderkey", ORDERS_BUCKETS),
            (src["part"], p["part"], "p_partkey", PART_BUCKETS),
        ):
            bench.call(
                "sinks.mor.merge_upsert_mor", merge_upsert_mor,
                spark, df, path, [key], num_buckets=nb, targets=[path],
            )
        bench.call(
            "sinks.writers.merge_upsert_partitioned", merge_upsert_partitioned,
            spark, li, p["cow"], ["l_key"], num_buckets=LI_BUCKETS, targets=[p["cow"]],
        )
        bench.call(
            "plans.incremental_agg.build_agg_snapshot", build_agg_snapshot,
            spark, p["li"], p["agg"], ["l_returnflag"], ["l_quantity"], targets=[p["agg"]],
        )
        bench.call(
            "plans.incremental_agg.build_agg_snapshot", build_agg_snapshot,
            spark, p["li"], p["agg_ord"], ["l_orderkey"], ["l_quantity"], targets=[p["agg_ord"]],
        )
        bench.call(
            "plans.incremental_topk.build_topk_head", build_topk_head,
            spark, p["li"], p["agg_ord"], p["head"], k=TOPK, measure="sum_l_quantity",
            targets=[p["head"]],
        )
        bench.call(
            "plans.incremental_join.build_join_view", build_join_view,
            spark, p["li"], p["orders"], p["join"], on=[("l_orderkey", "o_orderkey")],
            a_key_cols=["l_key"], b_key_cols=["o_orderkey"], a_cols=JOIN_A, b_cols=JOIN_B,
            targets=[p["join"]],
        )
        bench.call(
            "plans.incremental_join_nway.build_join_view_nway", build_join_view_nway,
            spark,
            [
                {"path": p["li"], "key_cols": ["l_key"],
                 "cols": ["l_key", "l_orderkey", "l_partkey", "l_quantity"]},
                {"path": p["orders"], "key_cols": ["o_orderkey"],
                 "cols": ["o_orderkey", "o_totalprice"], "on": [("l_orderkey", "o_orderkey")]},
                {"path": p["part"], "key_cols": ["p_partkey"],
                 "cols": ["p_partkey", "p_brand"], "on": [("l_partkey", "p_partkey")]},
            ],
            p["star"], how="left", targets=[p["star"]],
        )
        return {"root": root, "paths": p, "li_schema": li.schema, "part_schema": src["part"].schema}


    def warmup(self, bench, st: dict) -> None:
        st["li"] = _with_key(pq.read_table(os.path.join(self.dir, "lineitem.parquet")).to_pandas())
        st["part"] = pq.read_table(os.path.join(self.dir, "part.parquet")).to_pandas().set_index(
            "p_partkey", drop=False
        )
        st["orders"] = pq.read_table(os.path.join(self.dir, "orders.parquet")).to_pandas()
        st["cow"] = st["li"]
        st["ticks"] = st["pending_deltas"] = 0
        st["sync"], st["written"], st["changed_bytes"] = [], [], []
        # the first tick pays JIT and worker start-up: one untimed fact tick
        self._tick(bench, st, dim=False, timed=False)
        self._cow_tick(bench, st, timed=False)

    # -- ticks ---------------------------------------------------------------

    def _fact_tick(
        self, st: dict, rng, model: str = "li", n_update: int = N_UPDATE, n_insert: int = N_INSERT
    ) -> tuple[pd.DataFrame, dict]:
        li = st[model]
        upd = li.iloc[rng.choice(len(li), n_update, replace=False)].copy()
        upd["l_quantity"] = upd["l_quantity"] + 1.0
        new = li.iloc[rng.choice(len(li), n_insert, replace=False)].copy()
        # line numbers past the generator's 1..7 keep every 4-part key new
        new["l_linenumber"] = (100 + N_INSERT * st["ticks"] + np.arange(n_insert)).astype(np.int32)
        new["l_quantity"] = rng.integers(1, 51, n_insert).astype(np.float64)
        rows = pd.concat([upd, _with_key(new.drop(columns="l_key"))])
        return rows, {"insert": n_insert, "update": n_update}

    def _dim_tick(self, st: dict, rng) -> tuple[pd.DataFrame, dict]:
        used = st["li"]["l_partkey"].unique()
        keys = rng.choice(used, N_DIM, replace=False)
        rows = st["part"].loc[keys].copy()
        rows["p_brand"] = f"Brand#T{st['ticks']}"
        return rows, {"insert": 0, "update": N_DIM}

    def _tick(self, bench, st: dict, dim: bool, timed: bool) -> None:
        from presencia_etl_spark.plans.incremental_agg import refresh_agg_snapshot
        from presencia_etl_spark.plans.incremental_join import refresh_join_view
        from presencia_etl_spark.plans.incremental_join_nway import refresh_join_view_nway
        from presencia_etl_spark.plans.incremental_topk import refresh_topk_head
        from presencia_etl_spark.sinks.mor import merge_upsert_mor

        from spans import walk_files, written_since

        st["ticks"] += 1
        rng = np.random.default_rng([bench.seed, st["ticks"]])
        rows, planned = (self._dim_tick if dim else self._fact_tick)(st, rng)
        p = st["paths"]
        if dim:
            target, key, nb, schema = p["part"], "p_partkey", PART_BUCKETS, st["part_schema"]
        else:
            target, key, nb, schema = p["li"], "l_key", LI_BUCKETS, st["li_schema"]
            st["pending_deltas"] += 1
        frame = bench.spark.createDataFrame(rows[schema.fieldNames()], schema=schema)
        before = walk_files([st["root"]])

        def fresh():
            t0 = time.perf_counter()
            merged = bench.call(
                "sinks.mor.merge_upsert_mor", merge_upsert_mor,
                bench.spark, frame, target, [key], num_buckets=nb, targets=[target],
            )
            if timed:
                st["sync"].append(time.perf_counter() - t0)
            bench.call("plans.incremental_agg.refresh_agg_snapshot", refresh_agg_snapshot,
                       bench.spark, p["li"], p["agg"], targets=[p["agg"]])
            bench.call("plans.incremental_topk.refresh_topk_head", refresh_topk_head,
                       bench.spark, p["li"], p["agg_ord"], p["head"], targets=[p["agg_ord"], p["head"]])
            bench.call("plans.incremental_join.refresh_join_view", refresh_join_view,
                       bench.spark, p["join"], targets=[p["join"]])
            bench.call("plans.incremental_join_nway.refresh_join_view_nway", refresh_join_view_nway,
                       bench.spark, p["star"], targets=[p["star"]])
            return merged

        bench.op(
            "fresh" if timed else None,
            fresh,
            lambda r: {k: r[k] for k in planned} == planned
            or f"classified {({k: r.get(k) for k in planned})}, planned {planned}",
        )
        if timed:
            st["written"].append(written_since(before, walk_files([st["root"]]))[0])
            st["changed_bytes"].append(float(rows.memory_usage(index=False, deep=True).sum()))
        name = "part" if dim else "li"
        st[name] = pd.concat([st[name].drop(rows.index, errors="ignore"), rows])
        self._query(bench, st, timed)

    def _cow_tick(self, bench, st: dict, timed: bool) -> None:
        from presencia_etl_spark.sinks.writers import merge_upsert_partitioned

        st["ticks"] += 1
        rng = np.random.default_rng([bench.seed, st["ticks"]])
        rows, planned = self._fact_tick(st, rng, "cow", COW_UPDATE, COW_INSERT)
        schema, cow = st["li_schema"], st["paths"]["cow"]
        frame = bench.spark.createDataFrame(rows[schema.fieldNames()], schema=schema)
        bench.op(
            "cow" if timed else None,
            lambda: bench.call(
                "sinks.writers.merge_upsert_partitioned", merge_upsert_partitioned,
                bench.spark, frame, cow, ["l_key"], num_buckets=LI_BUCKETS, targets=[cow],
            ),
            lambda r: {k: r[k] for k in planned} == planned
            or f"COW classified {({k: r.get(k) for k in planned})}, planned {planned}",
        )
        st["cow"] = pd.concat([st["cow"].drop(rows.index, errors="ignore"), rows])

    def _query(self, bench, st: dict, timed: bool) -> None:
        from presencia_etl_spark.plans.incremental_agg import read_agg_snapshot
        from presencia_etl_spark.plans.incremental_join import read_join_view
        from presencia_etl_spark.plans.incremental_topk import read_topk_rows

        p = st["paths"]
        spark = bench.spark

        def read():
            agg = bench.call(
                "plans.incremental_agg.read_agg_snapshot",
                lambda: read_agg_snapshot(spark, p["agg"]).collect(),
            )
            top = bench.call("plans.incremental_topk.read_topk_rows", read_topk_rows, p["head"])
            star = bench.call(
                "plans.incremental_join.read_join_view",
                lambda: read_join_view(spark, p["star"])
                .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n")).collect(),
            )
            return agg, top, star

        bench.op("query" if timed else None, read, lambda res: self._check_reads(st, *res))

    def _check_reads(self, st: dict, agg, top, star):
        li = st["li"]
        want_agg = {
            f: (len(g), float(g["l_quantity"].sum())) for f, g in li.groupby("l_returnflag")
        }
        got_agg = {r["l_returnflag"]: (r["n_rows"], float(r["sum_l_quantity"])) for r in agg}
        if got_agg != want_agg:
            return f"agg snapshot {got_agg} != model {want_agg}"
        sums = li.groupby("l_orderkey")["l_quantity"].sum().reset_index()
        sums = sums.sort_values(["l_quantity", "l_orderkey"], ascending=[False, True]).head(TOPK)
        want_top = [(int(k), float(v)) for k, v in zip(sums["l_orderkey"], sums["l_quantity"])]
        got_top = [(int(r["l_orderkey"]), float(r["sum_l_quantity"])) for r in top]
        if got_top != want_top:
            return f"top-{TOPK} {got_top} != model {want_top}"
        brands = st["part"]["p_brand"].reindex(li["l_partkey"].to_numpy())
        want_star = brands.value_counts(dropna=False).to_dict()
        got_star = {r["p_brand"]: r["n"] for r in star}
        if got_star != want_star:
            return f"star view brand counts differ: {sorted(set(got_star.items()) ^ set(want_star.items()))[:5]}"
        return True

    def cycle(self, bench, st: dict, i: int) -> None:
        from presencia_etl_spark.sinks.mor import compact_mor

        from spans import walk_files, written_since

        timed = i >= 0
        for _ in range(FACT_TICKS):
            self._tick(bench, st, dim=False, timed=timed)
        self._tick(bench, st, dim=True, timed=timed)
        self._cow_tick(bench, st, timed)
        li = st["paths"]["li"]
        want, st["pending_deltas"] = st["pending_deltas"], 0
        before = walk_files([li])
        bench.op(
            "compact" if timed else None,
            lambda: bench.call("sinks.mor.compact_mor", compact_mor, bench.spark, li, targets=[li]),
            lambda r: r["deltas_folded"] == want
            or f"compaction folded {r['deltas_folded']} deltas, expected {want}",
        )
        if timed:
            st["written"].append(written_since(before, walk_files([li]))[0])
        self._query(bench, st, timed)

    # -- final state -----------------------------------------------------------

    def finish(self, bench, st: dict) -> None:
        """Every state and view equals a recompute from the model."""
        from harness import fingerprint
        from presencia_etl_spark.plans.incremental_join import read_join_view
        from presencia_etl_spark.sinks.mor import read_mor

        spark, p = bench.spark, st["paths"]
        li_cols = st["li_schema"].fieldNames()
        model_li = spark.createDataFrame(st["li"][li_cols], schema=st["li_schema"])
        model_cow = spark.createDataFrame(st["cow"][li_cols], schema=st["li_schema"])
        model_part = spark.createDataFrame(
            st["part"][st["part_schema"].fieldNames()], schema=st["part_schema"]
        )
        orders = spark.createDataFrame(st["orders"][["o_orderkey", "o_custkey", "o_totalprice"]])
        want_join = model_li.join(orders, model_li.l_orderkey == orders.o_orderkey).select(*JOIN_A, *JOIN_B)
        star_cols = ["l_key", "l_orderkey", "l_partkey", "l_quantity", "o_orderkey", "o_totalprice",
                     "p_partkey", "p_brand"]
        want_star = (
            model_li.join(orders, model_li.l_orderkey == orders.o_orderkey, "left")
            .join(model_part, model_li.l_partkey == model_part.p_partkey, "left")
            .select(*star_cols)
        )

        def same(got, want):
            return fingerprint(got.select(*want.columns)), fingerprint(want)

        for what, got, want in (
            ("lineitem state", read_mor(spark, p["li"]), model_li),
            ("COW lineitem", spark.read.parquet(p["cow"]), model_cow),
            ("join view", read_join_view(spark, p["join"]), want_join),
            ("star view", read_join_view(spark, p["star"]), want_star),
        ):
            bench.op(
                None,
                lambda got=got, want=want: same(got, want),
                lambda fp, what=what: fp[0] == fp[1] or f"{what}: view {fp[0]} != model {fp[1]}",
            )

    def detail(self, bench, st: dict) -> dict:
        from harness import p50, tail
        from presencia_etl_spark.sinks.mor import read_mor

        from spans import walk_files

        once = os.path.join(bench.work, "space_once")
        li_cols = st["li_schema"].fieldNames()
        read_mor(bench.spark, st["paths"]["li"]).select(*li_cols).coalesce(1).write.parquet(once)
        on_disk = sum(v[0] for v in walk_files([st["paths"]["li"]]).values())
        once_b = sum(v[0] for v in walk_files([once]).values())
        return {
            "fresh_p50_s": p50(bench.samples["fresh"]),
            "fresh_tail": tail(bench.samples["fresh"]),
            "sync_p50_s": p50(st["sync"]),
            "cow_p50_s": p50(bench.samples["cow"]),
            "compact_p50_s": p50(bench.samples["compact"]),
            "write_amp": sum(st["written"]) / max(sum(st["changed_bytes"]), 1.0),
            "space_amp": on_disk / max(once_b, 1),
        }

