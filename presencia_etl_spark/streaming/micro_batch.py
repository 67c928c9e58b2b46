"""Micro-batch incremental sync — the Structured Streaming form of EP2.

The reference re-runs its batch CDC on a cron
(``context/context.md:687-697``). The Spark-native equivalent: a file-source
stream feeding each micro-batch through the SAME merge-upsert used by the
batch pipeline (foreachBatch), so batch and streaming share one code path
and the idempotency property (hash-identical rows classify as SKIP) gives
exactly-once-effective upserts even on replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from presencia_etl_spark.sinks.writers import merge_upsert_parquet


def incremental_upsert_stream(
    spark: SparkSession,
    source_path: str,
    source_schema,
    target_path: str,
    key_cols: list[str],
    checkpoint_path: str,
    trigger_once: bool = True,
    mode: str = "cow",
):
    """readStream(parquet dir) → foreachBatch(merge upsert). Returns the
    started StreamingQuery (caller awaits/stops).

    ``mode="cow"`` merges through the flat COW writer; ``mode="mor"``
    through the merge-on-read sink (``sinks/mor.py``) — the right choice
    for high-frequency micro-batches, where each trigger writes only its
    O(changes) delta and compaction amortizes across ``compact_every``
    batches instead of rewriting state per trigger.

    A KB-sized MOR micro-batch is handed to the merge as a driver-local
    frame (one sampling job: ``limit(N + 1).toArrow()`` re-wrapped with
    ``createDataFrame``), so ``merge_upsert_mor`` lands it on its
    zero-job driver plane (``sinks/driver_mor.merge_local``).

    ``digest_prune=False``: a micro-batch is a KNOWN subset — its
    micro-bucket digests are dirty nearly everywhere, so the digest
    COMPARE would be spent to prune nothing. Sidecar MAINTENANCE is
    decoupled and still happens inside the merge: a valid
    ``_cdc_digest.parquet`` is kept valid by folding each batch's
    classified changes, so the mixed workload this stream exists for
    (trickle between cron snapshot syncs) keeps the snapshot sync on
    the zero-target-scan path."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    stream = spark.readStream.schema(source_schema).parquet(source_path)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if mode == "mor":
            from presencia_etl_spark.sinks import driver_mor
            from presencia_etl_spark.sinks.mor import merge_upsert_mor

            if driver_mor.trickle_enabled():
                t = batch_df.limit(driver_mor.DRIVER_BATCH_MAX_KEYS + 1).toArrow()
                if t.num_rows <= driver_mor.DRIVER_BATCH_MAX_KEYS:
                    batch_df = spark.createDataFrame(t)  # a LocalRelation
            merge_upsert_mor(spark, batch_df, target_path, key_cols,
                             digest_prune=False)
            return
        merge_upsert_parquet(spark, batch_df, target_path, key_cols,
                             digest_prune=False)

    writer = stream.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_admit_stream(
    spark: SparkSession,
    source_path: str,
    source_schema,
    id_col: str,
    text_col: str,
    index_path: str,
    target_path: str,
    checkpoint_path: str,
    est_threshold: float = 0.8,
    trigger_once: bool = True,
):
    """Streaming corpus ingest: readStream(parquet dir) → foreachBatch
    (``dedup_index.admit_batch``) → append admitted docs to the corpus.

    Each micro-batch near-dedups against ALL previously admitted history
    via the persisted MinHash index — O(|batch|) per batch, the index
    grows with the corpus. foreachBatch replay (at-least-once) is handled
    at the id level: docs whose id already landed in the target are
    dropped before the probe (the index's near-dup exclusion is by
    DIFFERENT id, so a replayed doc would otherwise re-admit itself and
    duplicate both target and index). The batch work is the SAME admit
    loop the batch pipeline runs — one code path, one semantics. Residual
    crash window: failing between the index append and the target append
    re-registers those signatures on replay — duplicate index rows only
    fatten their buckets (matching is unchanged; ids self-exclude), so
    correctness holds. Returns the started StreamingQuery.
    """
    import os

    from presencia_etl_spark.operators.dedup_index import admit_batch

    stream = spark.readStream.schema(source_schema).parquet(source_path)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.isdir(target_path):
            seen = spark.read.parquet(target_path).select(id_col)
            batch_df = batch_df.join(seen, id_col, "left_anti")
            if batch_df.isEmpty():
                return
        admitted = admit_batch(
            spark, batch_df, id_col, text_col, index_path,
            est_threshold=est_threshold,
        )
        admitted.write.mode("append").parquet(target_path)

    writer = stream.writeStream.foreachBatch(admit).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
