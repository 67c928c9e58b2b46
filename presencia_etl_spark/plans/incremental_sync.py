"""EP2 — incremental CDC sync (``sync_INCREMENTAL.py`` shape, SURVEY §3).

Reference lifecycle: scan+filters → ensure table → load key→(id,hash) map →
classify INSERT/UPDATE/SKIP → batched inserts + row-wise updates → verify.
Spark shape: the classify is ONE left-outer hash join in the merge
writers' shared classify core (sinks/merge_plan.plan_merge), and both
write halves collapse into the staged parquet merge
(sinks/writers.merge_upsert_parquet, or its bucketed / merge-on-read
siblings). Tables with no reliable unique key go
through full refresh instead (``FULL_REFRESH_TABLES``,
sync_INCREMENTAL.py:46-48).

Idempotency invariant (the reference's own test discipline, SURVEY §5):
running the sync twice on identical input must report 0 inserts / 0 updates
on the second pass — guaranteed here because row_hash is a pure function of
the data columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from presencia_etl_spark.plans.full_sync import prepare_table
from presencia_etl_spark.sinks.writers import (
    merge_upsert_parquet,
    merge_upsert_partitioned,
    overwrite_and_count,
    with_audit_columns,
)
from presencia_etl_spark.sources.registry import TableConfig


def incremental_sync_table(
    spark: SparkSession,
    df: DataFrame,
    cfg: TableConfig,
    target_root: str,
    semi_source: DataFrame | None = None,
) -> dict[str, int]:
    """Sync one table; returns {'insert': n, 'update': n, 'skip': n}."""
    target_path = f"{target_root}/{cfg.name}"
    key_cols = cfg.key_cols or [df.columns[0]]

    if cfg.full_refresh:
        prepared = prepare_table(df, cfg, semi_source=semi_source)
        n = overwrite_and_count(
            spark, with_audit_columns(prepared, key_cols), target_path
        )
        return {"insert": n, "update": 0, "skip": 0, "mode": "full_refresh"}

    # prepare_table computes row_hash over the RAW pre-cast strings (F6);
    # the merge must reuse that hash — recomputing over typed values would
    # change the rendering and misclassify every row as updated after a
    # full_sync-created state.
    prepared = prepare_table(df, cfg, semi_source=semi_source, typed=True)
    if cfg.sync_deletes and cfg.merge_mode != "mor":
        raise ValueError(
            f"table {cfg.name!r}: sync_deletes requires merge_mode='mor' "
            "(the COW writers preserve the reference's never-delete "
            "semantics; use explicit delete_where_* for COW states)"
        )
    if cfg.merge_mode == "mor":
        # Merge-on-read: each sync writes only its O(changes) delta; use
        # for high-frequency syncs of large state where even dirty-bucket
        # rewrites are too much write amplification (docs/SCALE.md).
        from presencia_etl_spark.sinks.mor import merge_upsert_mor

        result = merge_upsert_mor(
            spark, prepared, target_path, key_cols,
            num_buckets=cfg.num_buckets or 256,
            delete_missing=cfg.sync_deletes,
        )
        result["mode"] = "incremental_mor"
        return result
    if cfg.num_buckets > 0:
        # Large-state tables opt into the bucket-pruned layout: a sync
        # with localized changes rewrites dirty_buckets/N of the state
        # instead of all of it (the 100 TB default; see docs/SCALE.md).
        result = merge_upsert_partitioned(
            spark, prepared, target_path, key_cols, num_buckets=cfg.num_buckets
        )
    else:
        result = merge_upsert_parquet(spark, prepared, target_path, key_cols)
    result["mode"] = "incremental"
    return result


def incremental_sync(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    configs: dict[str, TableConfig],
    target_root: str,
    record_gen: bool = True,
    max_parallel: int = 4,
    atomic: bool = False,
) -> dict[str, dict[str, int]]:
    """EP2 over the whole registry, syncing up to ``max_parallel`` tables
    concurrently (``full_sync.run_per_table`` — distinct targets, each
    under its own writer lock). Each completed run records a warehouse
    GENERATION (``plans.generations``) pinning every MOR table's sequence,
    so consumers can read the run's cross-table consistent snapshot.

    ``atomic=True`` runs the whole registry as ONE all-or-nothing commit
    (``sinks.txn.MultiTableTxn``): a crash leaves every table at the old
    run or every table at the new run, never a mix. Requires every table
    to be ``merge_mode="mor"`` and not ``full_refresh`` (COW overwrites
    have no staged form), and already-seeded states (the initial load is
    transaction-refused). Tables sync sequentially on the calling thread
    — the writer-lock registry is thread-affine — trading the ≤4× table
    fan-out for the atomicity guarantee."""
    from presencia_etl_spark.operators.filters import apply_filters
    from presencia_etl_spark.plans.full_sync import run_per_table

    def _semi_src(cfg: TableConfig):
        if cfg.semi_join is None:
            return None
        other, _ = cfg.semi_join
        other_cfg = configs.get(other)
        if other_cfg is not None and other in tables:
            return apply_filters(tables[other], other_cfg.filters)
        return None

    if atomic:
        bad = [
            n
            for n, c in configs.items()
            if c.full_refresh or c.merge_mode != "mor"
        ]
        if bad:
            raise ValueError(
                f"atomic sync requires merge_mode='mor' without "
                f"full_refresh for every table; offending: {sorted(bad)}"
            )
        from presencia_etl_spark.sinks.txn import (
            MultiTableTxn,
            recover_transactions,
        )

        txn_root = os.path.join(target_root, "_txn")
        recover_transactions(
            txn_root,
            tables=[f"{target_root}/{c.name}" for c in configs.values()],
        )
        results = {}
        with MultiTableTxn(txn_root) as txn:
            for name, cfg in configs.items():
                prepared = prepare_table(
                    tables[name], cfg, semi_source=_semi_src(cfg), typed=True
                )
                r = txn.merge(
                    spark, prepared, f"{target_root}/{cfg.name}",
                    cfg.key_cols or [tables[name].columns[0]],
                    num_buckets=cfg.num_buckets or 256,
                    delete_missing=cfg.sync_deletes,
                )
                results[name] = {**r, "mode": "incremental_mor_txn"}
            txn.commit()
        if record_gen and results:
            from presencia_etl_spark.plans.generations import (
                prune_generations,
                record_generation,
            )

            record_generation(spark, target_root)
            prune_generations(target_root)
        return results

    def sync_one(name: str, cfg: TableConfig) -> dict[str, int]:
        return incremental_sync_table(
            spark, tables[name], cfg, target_root, semi_source=_semi_src(cfg)
        )

    results = run_per_table(configs, tables, sync_one, max_parallel)
    if record_gen and results:
        from presencia_etl_spark.plans.generations import (
            prune_generations,
            record_generation,
        )

        record_generation(spark, target_root)
        # Auto-compaction during the merges above may have raised MOR
        # floors past old generations — drop the now-unreadable entries so
        # the manifest stays O(live history), not O(all syncs ever).
        prune_generations(target_root)
    return results
