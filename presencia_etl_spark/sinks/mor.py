"""Merge-on-read upsert sink: O(changes) writes for sparse CDC.

The bucketed COW merge (``writers.merge_upsert_partitioned``) rewrites every
bucket containing a changed key — with 256 buckets, ~70 scattered changes
dirty ~66 buckets, i.e. ~25% of a 100 TB state rewritten for a 0.01% change
(the round-4 worst-case vs the reference baseline). This sink is the
Hudi/Iceberg merge-on-read answer with no table-format dependency:

- ``base/``                 the bucketed COW layout (``_kb=`` partition dirs,
                            persisted ``_cdc_key``/``row_hash`` — identical to
                            what ``merge_upsert_partitioned`` writes).
- ``deltas/_delta_seq=N/``  one small parquet dir per merge holding ONLY the
                            inserted/updated rows (full schema + audit +
                            ``_kb`` column); the hive dir name carries the
                            sequence number, so one read of ``deltas/``
                            recovers ordering for free.
- ``_mor_meta.json``        {num_buckets, seq} bookkeeping.

A sparse merge costs one narrow classify join plus a write of |changes|
rows — no base file is touched. Readers reconcile: base rows whose key has
no delta override, union the per-key LATEST delta row (window over the
delta set only, which is small by construction; the base never enters a
window). ``compact_mor`` folds the deltas into the base rewriting only the
buckets deltas touch, through the same journaled crash-safe bucket swap as
the COW merge, and auto-triggers after ``compact_every`` merges — bounding
read amplification at ``compact_every`` small files per scan.

Reference semantics preserved (sync_INCREMENTAL.py:169-204): INSERT new
keys, UPDATE changed hashes (created_at/id preserved, updated_at
refreshed), SKIP identical — the reference itself never deletes (its trap
N6), so no MERGE path ever removes a row.

Deletes exist as an EXPLICIT extension operation (``delete_where_mor`` /
``delete_keys_mor``), the 100 TB data-lifecycle need the reference never
had (GDPR erasure, retention). A delete writes a TOMBSTONE delta: the
victim's full last row image plus ``_deleted = true`` — O(matches), no
base churn, exactly the upsert write path. Readers drop keys whose latest
version is a tombstone; the change feed surfaces tombstones with the
pre-delete image (Delta CDF's delete preimage); compaction physically
removes the rows (a fully-emptied bucket swaps in as an EMPTY partition
dir); snapshot reads before the delete's sequence still see the row;
re-inserting a deleted key classifies as INSERT with a fresh identity.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from presencia_etl_spark.functions.pushdown import in_list
from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks import digest_store
from presencia_etl_spark.sinks.locking import single_writer
from presencia_etl_spark.sinks.merge_plan import fold_deleted_digest, plan_merge
from presencia_etl_spark.sinks.writers import (
    AUDIT_COLS,
    BUCKET_COL,
    _fetch_dirty_rows,
    _id_offset,
    _maybe_broadcast,
    _recover_interrupted_swap,
    _reseed_empty_layout,
    _state_absent,
    is_spark_hidden,
    merge_upsert_partitioned,
    swap_bucket_dirs,
    with_audit_columns,
)

BASE_DIR = "base"
DELTA_DIR = "deltas"
META_FILE = "_mor_meta.json"
SEQ_COL = "_delta_seq"
STAGING_PREFIX = ".staging_"
# Bounded In(key) pushdown: below this many update/delete keys, the key
# list is collected (bounded driver bookkeeping, same discipline as the
# dedup-index probe) and pushed into the base/delta parquet scans, where
# the key-sorted file layout turns it into row-group skipping.
KEY_PUSHDOWN_LIMIT = 4096
# Tombstone marker on delta rows. Upsert deltas never write the column
# (their schema stays byte-identical to pre-delete states); _read_deltas
# normalizes it in with mergeSchema + coalesce(false), so every consumer
# sees one uniform boolean. The BASE never carries it — compaction folds
# tombstones by physically removing rows.
DELETED_COL = "_deleted"


def _meta_path(path: str) -> str:
    return os.path.join(path, META_FILE)


def _read_meta(path: str) -> dict:
    with open(_meta_path(path)) as f:
        return json.load(f)


def _write_meta(path: str, meta: dict) -> None:
    with open(_meta_path(path) + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(_meta_path(path) + ".tmp", _meta_path(path))


def _delta_seqs(path: str) -> list[int]:
    droot = os.path.join(path, DELTA_DIR)
    if not os.path.isdir(droot):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(droot)
        if d.startswith(f"{SEQ_COL}=")
    )


def delta_bytes_in_range(
    path: str, since_seq: int, as_of_seq: int | None = None
) -> int:
    """Total on-disk bytes of the delta files with sequence in
    ``(since_seq, as_of_seq]`` — pure directory listing, no Spark job.
    Lets incremental consumers size a refresh BEFORE launching anything
    (e.g. choose trickle conf vs session defaults from fs metadata)."""
    droot = os.path.join(path, DELTA_DIR)
    total = 0
    for s in _delta_seqs(path):
        if s <= since_seq or (as_of_seq is not None and s > as_of_seq):
            continue
        ddir = os.path.join(droot, f"{SEQ_COL}={s}")
        for root, _dirs, files in os.walk(ddir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def _gc_orphan_staging(path: str) -> None:
    """Remove staging dirs left by a crash mid-delta-write.

    A delta becomes visible ONLY via the atomic ``os.rename`` of its staging
    dir into ``deltas/_delta_seq=N`` (the commit point) — so anything still
    named ``.staging_*`` is a torn, uncommitted write and is safe to drop.
    Called at the top of every merge/compact (mirrors the COW path's
    ``_recover_interrupted_swap`` discipline)."""
    droot = os.path.join(path, DELTA_DIR)
    if not os.path.isdir(droot):
        return
    for d in os.listdir(droot):
        if d.startswith(STAGING_PREFIX):
            shutil.rmtree(os.path.join(droot, d), ignore_errors=True)


COMPACT_STAGING_PREFIX = "mor_compact_"


def _gc_orphan_compact_staging(target_path: str) -> None:
    """Remove compaction staging dirs left by a crash BEFORE the swap
    journal existed — the longest window (the staged rewrite is a real
    Spark job over every dirty bucket; at scale that's GBs of orphaned
    parquet per killed compact, with no other GC path). The journaled
    window is already cleaned by ``_recover_interrupted_swap`` (it
    rmtree's the staged dir it repaired from), so by the time this runs —
    under the caller's per-target writer lock, AFTER swap recovery — any
    surviving ``mor_compact_*`` dir is unreferenced garbage."""
    if not os.path.isdir(target_path):
        return
    for d in os.listdir(target_path):
        if d.startswith(COMPACT_STAGING_PREFIX) or d.startswith(
            "." + COMPACT_STAGING_PREFIX
        ):
            shutil.rmtree(os.path.join(target_path, d), ignore_errors=True)


def _has_parquet_files(path: str) -> bool:
    for _root, dirs, files in os.walk(path):
        # Spark's visibility rule, shared with the footer-stats id walk.
        dirs[:] = [d for d in dirs if not is_spark_hidden(d)]
        if any(f.endswith(".parquet") and not is_spark_hidden(f) for f in files):
            return True
    return False


def _delta_row_schema(spark: SparkSession, target_path: str):
    """The base-layout row schema recovered from the live delta footers
    (delta rows carry every base column plus ``_delta_seq``/``_deleted``),
    or None when no deltas exist."""
    deltas = _read_deltas(spark, target_path)
    if deltas is None:
        return None
    return deltas.drop(SEQ_COL, DELETED_COL).schema


def _recover_empty_base(spark: SparkSession, target_path: str) -> None:
    """Heal a base left FILELESS by a crash inside ``compact_mor`` between
    ``swap_bucket_dirs`` and ``_reseed_empty_layout`` (tombstones emptied
    every bucket): a zero-file layout can't even be read for schema, so
    every later merge/compact/read would wedge on UNABLE_TO_INFER_SCHEMA.
    The crash window precedes delta removal, so at least one delta
    survives it — recover the row schema from a delta footer and seed the
    schema-bearing empty file the interrupted compact owed. A base with
    files (the normal case: one os.walk, no job) or a base with no deltas
    to recover from is left untouched. Runs under the caller's writer
    lock at the top of every mutating path."""
    base_path = os.path.join(target_path, BASE_DIR)
    if not os.path.isdir(base_path) or _has_parquet_files(base_path):
        return
    schema = _delta_row_schema(spark, target_path)
    if schema is None:
        return
    fields = [f for f in schema.fields if f.name != BUCKET_COL]
    _reseed_empty_layout(spark, base_path, StructType(fields), 0)


def _next_seq(path: str, meta: dict) -> int:
    """Next delta sequence. Committed dirs are authoritative: a crash after
    the rename-commit but before the meta bump leaves a live dir ahead of
    ``meta['seq']`` — never reuse its number (the old behavior wedged on
    mode('errorifexists') forever)."""
    seqs = _delta_seqs(path)
    return max(meta["seq"], seqs[-1] if seqs else 0) + 1


def _read_deltas(spark: SparkSession, path: str) -> DataFrame | None:
    """All live delta rows with their sequence number (from the hive dir)
    and a normalized boolean ``_deleted`` (tombstone dirs carry it, upsert
    dirs don't — mergeSchema unions the footers, which is cheap here: the
    outstanding delta set is bounded by ``compact_every`` small files)."""
    if not _delta_seqs(path):
        return None
    df = (
        spark.read.option("basePath", os.path.join(path, DELTA_DIR))
        .option("mergeSchema", "true")
        .parquet(os.path.join(path, DELTA_DIR))
    )
    if DELETED_COL in df.columns:
        df = df.withColumn(
            DELETED_COL, F.coalesce(F.col(DELETED_COL), F.lit(False))
        )
    else:
        df = df.withColumn(DELETED_COL, F.lit(False))
    return df


def _delta_latest(deltas: DataFrame) -> DataFrame:
    """Per-key latest delta row. The window runs over the DELTA SET ONLY —
    bounded by compact_every merges' worth of changes — never the base."""
    w = Window.partitionBy(cdc.KEY_COL).orderBy(F.col(SEQ_COL).desc())
    return (
        deltas.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _write_delta_files(out: DataFrame, staged: str, n_rows: int) -> int:
    """The ONE staged-delta write recipe — shared by the plain commit
    (`_commit_delta`) and transactional staging (`txn._stage_delta`) so
    the two can never diverge in layout. Few files (read amplification
    stays ~O(#outstanding merges)), key-sorted like the bucket files so
    delta scans under an In(key) pushdown (the identity fetch, key
    deletes) row-group-skip too."""
    n_files = max(1, min(4, n_rows // 100_000 + 1))
    out.repartition(n_files).sortWithinPartitions(cdc.KEY_COL).write.mode(
        "overwrite"
    ).parquet(staged)
    return n_files


def _commit_delta(
    target_path: str, meta: dict, out: DataFrame, n_rows: int
) -> int:
    """Land one delta dir crash-safely; returns the file count.

    A delta is small by definition — it lands in few files so read
    amplification stays ~O(#outstanding merges), not O(#tasks). The
    parquet job writes a hidden staging dir (invisible to
    ``_delta_seqs``/``_read_deltas``), then a single atomic ``os.rename``
    publishes it. A crash mid-write leaves only the staging dir, GC'd on
    the next merge; a crash after the rename but before the meta bump is
    healed by ``_next_seq`` treating live dirs as authoritative."""
    seq = _next_seq(target_path, meta)
    ddir = os.path.join(target_path, DELTA_DIR, f"{SEQ_COL}={seq}")
    staged = os.path.join(target_path, DELTA_DIR, f"{STAGING_PREFIX}{seq}")
    n_files = _write_delta_files(out, staged, n_rows)
    os.rename(staged, ddir)
    meta["seq"] = seq
    _write_meta(target_path, meta)
    return n_files


@single_writer("target_path")
def merge_upsert_mor(
    spark: SparkSession,
    src: DataFrame,
    target_path: str,
    key_cols: list[str],
    hash_cols: list[str] | None = None,
    num_buckets: int = 256,
    compact_every: int | None = 16,
    compact_keep_last: int | None = None,
    delete_missing: bool = False,
    digest_prune: bool = True,
    src_digest: dict[int, tuple[int, int, int]] | None = None,
    tgt_digest: dict[int, tuple[int, int, int]] | None = None,
    delete_keys: DataFrame | None = None,
    txn=None,
) -> dict[str, int]:
    """Upsert ``src`` writing ONLY the changed rows (a new delta dir).

    A driver-local ``src`` (and ``delete_keys``) — a ``LocalRelation`` of
    at most ``driver_mor.DRIVER_BATCH_MAX_KEYS`` rows, e.g.
    ``createDataFrame`` over pandas or arrow — lands on the zero-job
    driver plane (``driver_mor.merge_local``) unless ``txn``,
    ``delete_missing`` or a caller digest is passed; its result adds
    ``driver=True``. Declines and every other source run the Spark path.

    ``txn``: a ``sinks.txn.MultiTableTxn`` — the delta is STAGED instead
    of committed (invisible until ``txn.commit()``, no cursor bump, no
    auto-compaction, digest sidecar saves deferred to after publish).
    Shapes with no staged form raise ``TxnUnsupported``: the initial
    load (COW write, no rename seam) and a schema-drift merge (COW
    bucket rewrite). Call through ``txn.merge(...)``, which also holds
    this table's writer lock for the transaction's lifetime.

    ``delete_keys``: an EXPLICIT tombstone key set committed atomically
    with the upserts — the mixed change-batch shape (a CDC feed apply, an
    incremental view refresh: some keys upserted, some deleted, one
    sequence number). The keys' live rows are fetched bucket-pruned +
    In-pushed (the ``delete_keys_mor`` discipline) and land as tombstones
    IN THE SAME delta dir as the upserts, so a crash can never apply half
    the batch. Keys also present in ``src`` are ignored (the upsert
    wins); keys not live in the target are no-ops (idempotent replay).
    Mutually exclusive with ``delete_missing``; forces the known-subset
    discipline (digest pruning off — the caller already knows the change
    set — while sidecar MAINTENANCE still folds both sides).

    ``src_digest``: the source's own per-micro-bucket digests, when the
    caller already knows them (a managed replica's validated sidecar —
    ``plans/replica_sync.py``). With a valid TARGET sidecar the digest
    compare is then a pure driver dict-diff: zero Spark jobs spent
    learning the dirty set on either side. The caller vouches the map
    describes exactly ``src``'s rows; ignored when the target sidecar
    is stale/absent (the scan compare re-learns everything itself).

    ``tgt_digest``: a target digest the caller ALREADY validated — the
    replica sync loads it under the target's writer lock (this merge
    re-enters the same lock, so no writer can have invalidated it) and
    passes it here, which (a) saves a second fingerprint walk of the
    table and, more importantly, (b) makes the compare run on the
    exact dicts the caller pruned its source from: the dirty set the
    merge derives is then structurally identical to the caller's, so a
    bucket-pruned source can never meet a differently-computed dirty
    set under ``delete_missing``.

    Initial load delegates to the COW bucketed writer (the base layout is
    byte-compatible). Returns the usual {insert, update, skip} counts plus
    {'delta_files': n, 'compacted': bool}; a no-change merge writes
    nothing at all. Auto-compacts after ``compact_every`` outstanding
    deltas (None = caller-managed); ``compact_keep_last`` is passed
    through so auto-compaction can retain recent snapshot history.
    Its default (None) resolves to ``compact_every // 4``: an
    auto-compaction that erased the WHOLE delta window (the old
    keep_last=0 default) forced every maintained view/agg/top-k whose
    cursor lagged even ONE merge behind the compaction into a full
    rebuild — at scale, a full view rewrite triggered by routine
    upstream compaction. Retaining cadence/4 deltas keeps any consumer
    lagging ≤ compact_every//4 merges on its O(changes) incremental
    path while the read-amplification bound stays O(compact_every)
    small files. Tiny explicit cadences (≤ 4) keep the old fold-all
    behavior; pass an explicit ``compact_keep_last`` to override.

    ``delete_missing=True`` is snapshot-diff sync — ``MERGE ... WHEN NOT
    MATCHED BY SOURCE THEN DELETE``: live target keys absent from ``src``
    are tombstoned IN THE SAME delta dir as the upserts, so one source
    snapshot commits as one atomic sequence (a crash can't apply the
    upserts without the deletes). ONLY meaningful when ``src`` is a FULL
    snapshot of the source table — on an incremental batch it would erase
    every row the batch didn't mention. The default (False) preserves the
    reference's never-delete semantics (trap N6). Idempotent like the
    upserts: replaying the same snapshot finds the erased keys already
    tombstoned (absent from the live view) and writes nothing."""
    if delete_keys is not None:
        if delete_missing:
            raise ValueError(
                "delete_keys and delete_missing are mutually exclusive: "
                "one names the tombstones explicitly, the other infers "
                "them from a full source snapshot."
            )
        # Known-subset batch: the digest compare would learn nothing (its
        # dirty set IS the batch); maintenance still runs below.
        digest_prune = False
    if _state_absent(target_path):
        if txn is not None:
            from presencia_etl_spark.sinks.txn import TxnUnsupported

            raise TxnUnsupported(
                f"{target_path!r} has no MOR state yet — the initial load "
                "is a COW bucketed write with no single-rename commit "
                "point; seed the table outside the transaction"
            )
        os.makedirs(target_path, exist_ok=True)
        r = merge_upsert_partitioned(
            spark,
            src,
            os.path.join(target_path, BASE_DIR),
            key_cols,
            hash_cols,
            num_buckets,
        )
        _write_meta(target_path, {"num_buckets": num_buckets, "seq": 0})
        return {**r, "delete": 0, "delta_files": 0, "compacted": False}

    if not os.path.exists(_meta_path(target_path)):
        raise ValueError(
            f"target {target_path!r} exists but is not a merge-on-read state "
            f"(no {META_FILE}). It was likely written by full_sync or the "
            "flat/bucketed COW writer — keep merging it with its original "
            "writer, or rebuild it through merge_upsert_mor from scratch."
        )
    meta = _read_meta(target_path)
    nb = meta["num_buckets"]
    base_path = os.path.join(target_path, BASE_DIR)
    _recover_interrupted_swap(base_path)
    _gc_orphan_staging(target_path)
    _gc_orphan_compact_staging(target_path)
    _recover_empty_base(spark, target_path)
    if txn is None and not delete_missing and src_digest is None and tgt_digest is None:
        # A driver-local KB-sized batch takes the zero-job driver plane
        # (sinks/driver_mor.py); anything else falls through unchanged.
        from presencia_etl_spark.sinks import driver_mor

        r = driver_mor.merge_local(
            spark, src, target_path, key_cols, hash_cols,
            delete_keys=delete_keys, compact_every=compact_every,
            on_compact=lambda: compact_mor(
                spark, target_path,
                keep_last=_auto_keep_last(compact_every, compact_keep_last),
            ),
        )
        if r is not None:
            return r

    base = spark.read.parquet(base_path)
    infra = set(AUDIT_COLS) | {BUCKET_COL, cdc.KEY_COL, SEQ_COL}
    src_data = {c for c in src.columns if c not in infra}
    base_data = {c for c in base.columns if c not in infra}
    if src_data != base_data:
        if txn is not None:
            from presencia_etl_spark.sinks.txn import TxnUnsupported

            raise TxnUnsupported(
                f"{target_path!r}: schema drift — the drift fold rewrites "
                "base buckets COW-style with no single-rename commit "
                "point; run this merge outside the transaction"
            )
        # Schema drift: delta files with a different column set would make
        # the read view's union ill-typed. Fold outstanding deltas, then
        # route THIS merge through the COW bucketed writer, whose
        # _widen_for_drift rewrites every bucket with the widened schema
        # (the documented drift discipline — mixed-schema files silently
        # truncate under plain reads). Subsequent merges resume MOR deltas
        # against the widened base.
        compact_mor(spark, target_path)
        result = merge_upsert_partitioned(
            spark, src, base_path, key_cols, hash_cols, nb
        )
        # The COW fold mutated the base OUTSIDE the delta log: bump the
        # sequence and raise the snapshot floor to it, so change-feed /
        # snapshot consumers holding an older cursor get the explicit
        # "history was folded, rebuild" error instead of silently missing
        # the drift merge's rows (read_mor_changes would otherwise return
        # empty for them). Unconditional: even an all-skip drift merge
        # rewrote every bucket with the widened schema.
        meta = _read_meta(target_path)
        seq = _next_seq(target_path, meta)
        meta["seq"] = seq
        meta["compacted_through"] = seq
        _write_meta(target_path, meta)
        n_delete = 0
        if delete_missing:
            # The COW fold upserted but never deletes; tombstone the
            # vanished keys as a follow-up delta. Not atomic with the
            # fold (two sequence numbers) — acceptable for the rare
            # drift event, and replays converge either way.
            post = spark.read.parquet(base_path)
            gone = post.select(cdc.KEY_COL).join(
                cdc.with_cdc_key(src, key_cols).select(cdc.KEY_COL).distinct(),
                cdc.KEY_COL,
                "left_anti",
            )
            victims = post.join(gone, cdc.KEY_COL, "left_semi")  # AQE sizes it
            r = _tombstone_commit(spark, target_path, victims, None, 0)
            n_delete = r["delete"]
        elif delete_keys is not None:
            # Same rare-drift caveat as delete_missing: the fold and the
            # tombstones take two sequence numbers; replays converge.
            r = delete_keys_mor(
                spark, target_path, delete_keys, key_cols, compact_every=None
            )
            n_delete = r["delete"]
        return {
            **result, "delete": n_delete, "delta_files": 0, "compacted": True,
        }

    deltas = _read_deltas(spark, target_path)
    dlatest = _delta_latest(deltas) if deltas is not None else None

    def view(narrow: DataFrame, kb: list[int] | None) -> DataFrame:
        """Current (key → hash) view: base overridden by the latest delta.
        A key whose latest version is a TOMBSTONE is absent from the view
        — its base row is still anti-joined away, and it contributes no
        hash — so a re-submitted deleted key classifies as INSERT (fresh
        identity), never as an UPDATE of the erased row."""
        base_v, dl_v = base, dlatest
        if kb is not None:
            base_v = base.filter(in_list(BUCKET_COL, kb))
        elif not digest_prune and not delete_missing:
            # KNOWN-SUBSET prune: a merge that opted out of digest pruning
            # and is NOT a snapshot-diff sync (streaming micro-batches,
            # explicit delete_keys change batches, the view-refresh apply)
            # only needs the target keys that could MATCH the source's.
            # One bounded probe collect turns the view into a listing-
            # pruned, In-pushed read of O(changes) buckets; batches past
            # the pushdown bound keep the full scan. delete_missing must
            # see the whole live universe and never takes this path.
            ksample = (
                narrow.select(cdc.KEY_COL, BUCKET_COL)
                .limit(KEY_PUSHDOWN_LIMIT + 1)
                .collect()
            )
            if len(ksample) <= KEY_PUSHDOWN_LIMIT:
                keys = [r[cdc.KEY_COL] for r in ksample]
                base_v = base.filter(
                    in_list(BUCKET_COL, sorted({r[BUCKET_COL] for r in ksample}))
                ).filter(in_list(cdc.KEY_COL, keys))
                if dl_v is not None:
                    dl_v = dl_v.filter(in_list(cdc.KEY_COL, keys))
        kh = base_v.select(cdc.KEY_COL, F.col("row_hash").alias("_tgt_hash"))
        if dl_v is None:
            return kh
        return kh.join(
            F.broadcast(dl_v.select(cdc.KEY_COL)), cdc.KEY_COL, "left_anti"
        ).unionByName(
            dl_v.filter(~F.col(DELETED_COL)).select(
                cdc.KEY_COL, F.col("row_hash").alias("_tgt_hash")
            )
        )

    def save_digest(dig) -> None:
        # A transactional merge defers the save to commit() — the final
        # listing doesn't exist until the renames land.
        if txn is not None:
            txn._defer_digest(target_path, dig)
        else:
            digest_store.save(target_path, dig)

    # The classify core (sinks/merge_plan.py). A digest-identical state is
    # a proven no-change merge — including "no missing keys" for
    # delete_missing, since a vanished key perturbs its micro-bucket's
    # digest.
    plan = plan_merge(
        src, target_path, key_cols, hash_cols, view, num_buckets=nb,
        digest_prune=digest_prune, src_digest=src_digest,
        tgt_digest=tgt_digest, save_digest=save_digest,
    )
    result = {
        "insert": plan.insert, "update": plan.update, "skip": plan.skip,
        "delete": 0, "delta_files": 0, "compacted": False,
    }
    if plan.ops is None:
        return result
    src_dirty = None
    upd_keys = None
    missing = None
    del_cache = None
    try:
        n_delete = 0
        live_del = victims = None
        if delete_missing:
            # Live keys the snapshot no longer contains — the SAME pruned
            # universe on both sides (a missing key always dirties its
            # micro-bucket). The target view already excludes tombstone-
            # latest keys, so replays converge: once tombstoned, a key
            # isn't live and can't go "missing" again.
            live_del = plan.t_cls
        elif delete_keys is not None:
            # Explicit tombstone keys. No empty-source refusal here: a
            # delete-only batch is explicit intent, not a failed export.
            victims, del_cache = _live_rows_for_keys(
                spark, target_path, delete_keys, key_cols, nb
            )
            if victims is not None:
                live_del = victims.select(
                    cdc.KEY_COL, F.col("row_hash").alias("_tgt_hash")
                )
        if live_del is not None:
            # Minus any key the batch also upserts (the upsert wins).
            # _tgt_hash rides along: the sidecar delta must xor OUT each
            # deleted key's old (key, hash) fold.
            missing = live_del.join(
                plan.s_cls.select(cdc.KEY_COL).distinct(), cdc.KEY_COL, "left_anti"
            ).cache()
            n_delete = missing.count()
        if delete_missing and n_delete > 0 and plan.insert + plan.update + plan.skip == 0:
            # The classic snapshot-sync disaster: an EMPTY source (a
            # failed export, a bad glob) diffed against a live table
            # would erase every row. Absence of data is not evidence
            # of deletion — refuse; a true table truncation must be
            # an explicit delete_where_mor(F.lit(True)).
            raise ValueError(
                "delete_missing refused: the source snapshot is EMPTY "
                f"but the target holds {n_delete} live keys — syncing "
                "it would erase the entire table. If that is really "
                "intended, run delete_where_mor(spark, target, "
                "F.lit(True)) explicitly."
            )
        if not plan.changed and n_delete == 0:
            # Idempotent replay / no-op: NOTHING is written — not even an
            # empty delta dir (which would still cost a file open per scan).
            plan.save_scanned_digest()
            return result

        # The merge WILL commit a delta: fold the classified changes (and
        # deletes) into the digest now; the save happens after the delta
        # (and any auto-compaction) lands, binding digest to the listing.
        new_dig = plan.fold_digest(missing if n_delete > 0 else None)

        n_dirty = plan.insert + plan.update
        src_dirty = _fetch_dirty_rows(
            plan.hashed,
            plan.dirty_ops,
            key_cols,
            n_dirty,
            carry=[cdc.OP_COL, "row_hash", cdc.KEY_COL, BUCKET_COL],
        ).cache()
        data_cols = [
            c
            for c in base.columns
            if c not in AUDIT_COLS and c not in (BUCKET_COL, cdc.KEY_COL)
        ]
        audit = ["row_hash", "id", "created_at", "updated_at", cdc.KEY_COL, BUCKET_COL]

        # Updated keys keep id/created_at from their CURRENT row, which may
        # live in the base (bucket-pruned scan) or in an earlier delta.
        upd_keys = (
            src_dirty.filter(F.col(cdc.OP_COL) == cdc.UPDATE)
            .select(cdc.KEY_COL, BUCKET_COL)
            .cache()
        )
        parts: list[DataFrame] = []
        if plan.update > 0:
            base_cur = base.filter(in_list(BUCKET_COL, plan.buckets(cdc.UPDATE)))
            delta_cur = deltas
            if plan.update <= KEY_PUSHDOWN_LIMIT:
                # Second pruning level under the _kb= dir pruning: the
                # (bounded) update keys push into the parquet scans as an
                # In(_cdc_key) filter — the bucket files are KEY-SORTED
                # precisely so their row-group min/max ranges are disjoint
                # and this skips row groups WITHIN a dirty bucket. For a
                # sparse merge at 100 TB the identity fetch then reads a
                # few row groups, not a few hundred-MB buckets.
                pushed = [
                    r[cdc.KEY_COL]
                    for r in upd_keys.select(cdc.KEY_COL).distinct().collect()
                ]
                base_cur = base_cur.filter(in_list(cdc.KEY_COL, pushed))
                if delta_cur is not None:
                    delta_cur = delta_cur.filter(in_list(cdc.KEY_COL, pushed))
            cur = base_cur.select(
                cdc.KEY_COL, "id", "created_at", F.lit(-1).alias(SEQ_COL)
            )
            if delta_cur is not None:
                cur = cur.unionByName(
                    delta_cur.select(cdc.KEY_COL, "id", "created_at", SEQ_COL)
                )
            w = Window.partitionBy(cdc.KEY_COL).orderBy(F.col(SEQ_COL).desc())
            cur = (
                cur.join(
                    _maybe_broadcast(upd_keys.select(cdc.KEY_COL), plan.update),
                    cdc.KEY_COL,
                    "left_semi",
                )
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(cdc.KEY_COL, "id", "created_at")
            )
            updated = (
                src_dirty.filter(F.col(cdc.OP_COL) == cdc.UPDATE)
                .join(_maybe_broadcast(cur, plan.update), cdc.KEY_COL)
                .withColumn("updated_at", F.current_timestamp())
            )
            parts.append(updated.select(*data_cols, *audit))
        if plan.insert > 0:
            # Footer-stats max over base AND live deltas (one walk each);
            # falls back to the scans only when stats are absent.
            max_id = _id_offset(base_path, base)
            if deltas is not None:
                max_id = max(
                    max_id, _id_offset(os.path.join(target_path, DELTA_DIR), deltas)
                )
            inserted = with_audit_columns(
                src_dirty.filter(F.col(cdc.OP_COL) == cdc.INSERT).select(
                    *data_cols, "row_hash", cdc.KEY_COL, BUCKET_COL
                ),
                key_cols,
                id_offset=max_id,
            )
            parts.append(inserted.select(*data_cols, *audit))

        if n_delete > 0:
            # Tombstones: the vanished/named keys' full current images
            # flagged deleted, committed in the SAME delta as the upserts
            # (one batch = one atomic sequence number). The upsert parts
            # gain an explicit false flag so the dir stays single-schema.
            if victims is None:
                victims = read_mor(spark, target_path)
            tomb = victims.join(
                _maybe_broadcast(missing, n_delete), cdc.KEY_COL, "left_semi"
            ).withColumn("updated_at", F.current_timestamp())
            parts = [p.withColumn(DELETED_COL, F.lit(False)) for p in parts]
            parts.append(
                tomb.select(*data_cols, *audit).withColumn(
                    DELETED_COL, F.lit(True)
                )
            )

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        n_files = (
            txn._stage_delta(target_path, meta, out, n_dirty + n_delete)
            if txn is not None
            else _commit_delta(target_path, meta, out, n_dirty + n_delete)
        )
    finally:
        # Caches release on failure too — a failed merge must not leak
        # persisted frames for the session lifetime.
        plan.release()
        for df in (src_dirty, upd_keys, missing, del_cache):
            if df is not None:
                df.unpersist()

    compacted = False
    if (
        txn is None
        and compact_every is not None
        and len(_delta_seqs(target_path)) >= compact_every
    ):
        compact_mor(
            spark,
            target_path,
            keep_last=_auto_keep_last(compact_every, compact_keep_last),
        )
        compacted = True
    # After the delta (and any auto-compaction — which preserves live
    # content) is on disk: the fingerprint binds the maintained digest
    # to exactly this listing.
    save_digest(new_dig)
    return {
        **result,
        "delete": n_delete,
        "delta_files": n_files,
        "compacted": compacted,
    }


def _live_rows_for_keys(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key_cols: list[str],
    num_buckets: int,
) -> tuple[DataFrame | None, DataFrame | None]:
    """The live rows of an explicit key set (the erasure / change-batch
    tombstone fetch), from ONE bounded collect of its normalized
    (key, bucket) pairs: only the keys' ``_kb=`` dirs are listed
    (``read_mor(buckets=...)``) and, up to ``KEY_PUSHDOWN_LIMIT`` keys,
    the keys are In-pushed into the scans (row-group skipping in the
    key-sorted files). Larger key sets are cached and semi-joined.
    Returns (rows — None for an empty key set, cache to unpersist)."""
    keyed = (
        cdc.with_cdc_key(keys, key_cols)
        .select(cdc.KEY_COL)
        .distinct()
        .withColumn(BUCKET_COL, cdc.bucket_of(num_buckets))
    )
    sample = keyed.limit(KEY_PUSHDOWN_LIMIT + 1).collect()
    if not sample:
        return None, None
    if len(sample) <= KEY_PUSHDOWN_LIMIT:
        live = read_mor(
            spark, target_path, buckets=sorted({r[BUCKET_COL] for r in sample})
        )
        return live.filter(in_list(cdc.KEY_COL, [r[cdc.KEY_COL] for r in sample])), None
    keyed = keyed.cache()
    buckets = [r[BUCKET_COL] for r in keyed.select(BUCKET_COL).distinct().collect()]
    live = read_mor(spark, target_path, buckets=buckets).join(
        keyed.select(cdc.KEY_COL), cdc.KEY_COL, "left_semi"
    )
    return live, keyed


def _auto_keep_last(compact_every: int, compact_keep_last: int | None) -> int:
    """Effective ``keep_last`` for an AUTO-compaction: the caller's
    explicit value, else cadence/4 (see merge_upsert_mor's docstring).
    Resolved at the trigger site so explicit ``compact_mor`` calls keep
    their own ``keep_last=0`` default (a maintenance pass that MEANS
    fold-everything)."""
    if compact_keep_last is not None:
        return compact_keep_last
    return compact_every // 4


def _tombstone_commit(
    spark: SparkSession,
    target_path: str,
    victims: DataFrame,
    compact_every: int | None,
    compact_keep_last: int | None,
) -> dict[str, int]:
    """Shared tail of the delete operations: count the victims, land one
    tombstone delta carrying their full last row image + ``_deleted``,
    honor the auto-compaction hook. ``victims`` must be live rows in the
    base layout (data + audit + ``_cdc_key`` + ``_kb``)."""
    meta = _read_meta(target_path)
    victims = victims.cache()
    try:
        n = victims.count()
        if n == 0:
            # No matches → nothing written (the no-op merge discipline);
            # the sidecar (if any) stays valid untouched — no load paid.
            return {"delete": 0, "delta_files": 0, "compacted": False}
        # Digest-sidecar maintenance: victims are live rows (one per key,
        # carrying the persisted row_hash). Loaded after the count (the
        # common zero-match TTL pass skips the fingerprint walk) but
        # BEFORE the delta commit, validating against the pre-delete
        # listing (count() mutates nothing; the writer lock is held). A
        # TTL/erasure pass then no longer knocks the table's sync loop
        # back onto the scan path.
        new_dig = fold_deleted_digest(target_path, victims)
        out = victims.withColumn(DELETED_COL, F.lit(True)).withColumn(
            "updated_at", F.current_timestamp()
        )
        n_files = _commit_delta(target_path, meta, out, n)
    finally:
        victims.unpersist()
    compacted = False
    if compact_every is not None and len(_delta_seqs(target_path)) >= compact_every:
        compact_mor(
            spark,
            target_path,
            keep_last=_auto_keep_last(compact_every, compact_keep_last),
        )
        compacted = True
    digest_store.save(target_path, new_dig)
    return {"delete": n, "delta_files": n_files, "compacted": compacted}


@single_writer("target_path")
def delete_where_mor(
    spark: SparkSession,
    target_path: str,
    predicate,
    compact_every: int | None = 16,
    compact_keep_last: int | None = None,
) -> dict[str, int]:
    """Row-level DELETE by predicate — a tombstone delta, O(matches).

    ``predicate`` is a Column or SQL string evaluated against the CURRENT
    state (base + delta overrides); rows where it is TRUE are deleted
    (NULL keeps the row, SQL DELETE semantics — the write path only ever
    sees the TRUE set). The base is never rewritten: the matching rows'
    last images land in one small delta dir flagged ``_deleted``. Readers
    drop them immediately; ``compact_mor`` removes them physically;
    ``read_mor(as_of_seq=<pre-delete>)`` still sees them; the change feed
    surfaces them with their pre-delete image. The predicate scan pushes
    down into the bucketed base like any ``read_mor`` filter.

    The lifecycle op the reference never had (its sync never deletes —
    trap N6); at 100 TB this is GDPR erasure / TTL retention:
    ``delete_where_mor(spark, path, F.col('event_date') < cutoff)``."""
    if not os.path.exists(_meta_path(target_path)):
        raise ValueError(
            f"target {target_path!r} is not a merge-on-read state (no "
            f"{META_FILE}); delete_where_mor applies to MOR layouts only. "
            "For the bucketed COW layout use delete_where_partitioned."
        )
    _recover_interrupted_swap(os.path.join(target_path, BASE_DIR))
    _gc_orphan_staging(target_path)
    _gc_orphan_compact_staging(target_path)
    _recover_empty_base(spark, target_path)
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    victims = read_mor(spark, target_path).filter(predicate)
    return _tombstone_commit(
        spark, target_path, victims, compact_every, compact_keep_last
    )


@single_writer("target_path")
def delete_keys_mor(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key_cols: list[str],
    compact_every: int | None = 16,
    compact_keep_last: int | None = None,
) -> dict[str, int]:
    """Row-level DELETE by key set (the GDPR 'erase these subjects' shape).

    Unlike the predicate variant, the scan is BUCKET-PRUNED: the key
    frame's normalized ``_cdc_key`` hashes to its bucket, only those
    ``_kb=`` dirs are read (hive partition pruning), and the live view is
    filtered to the key set (``_live_rows_for_keys``) — at 100 TB a
    thousand erasure requests touch a handful of buckets, not the table. Keys are
    normalized exactly like the merge path, so a key that round-tripped
    through any writer matches verbatim."""
    if not os.path.exists(_meta_path(target_path)):
        raise ValueError(
            f"target {target_path!r} is not a merge-on-read state (no "
            f"{META_FILE}); delete_keys_mor applies to MOR layouts only."
        )
    _recover_interrupted_swap(os.path.join(target_path, BASE_DIR))
    _gc_orphan_staging(target_path)
    _gc_orphan_compact_staging(target_path)
    _recover_empty_base(spark, target_path)
    victims, cached = _live_rows_for_keys(
        spark, target_path, keys, key_cols, _read_meta(target_path)["num_buckets"]
    )
    try:
        if victims is None:
            return {"delete": 0, "delta_files": 0, "compacted": False}
        return _tombstone_commit(
            spark, target_path, victims, compact_every, compact_keep_last
        )
    finally:
        if cached is not None:
            cached.unpersist()


def read_mor(
    spark: SparkSession,
    target_path: str,
    as_of_seq: int | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The current state: base rows without a delta override, union the
    per-key latest delta row. The anti-join side is the (small) delta key
    set, broadcast — the base scan stays pruned/streamed; columns come
    back in the base layout (data + audit + _cdc_key + _kb).

    ``as_of_seq`` gives snapshot / time-travel reads: the state as of
    merge sequence N, reconstructed by ignoring deltas with a higher
    sequence. Snapshots are retained back to the last compaction (which
    folds deltas into the base irreversibly — the meta records that floor
    as ``compacted_through``); asking for an older snapshot raises. This
    is the Hudi/Iceberg incremental-query discipline on plain parquet:
    retention is bounded by ``compact_every``, and a deployment wanting
    longer history simply compacts less often (docs/SCALE.md).

    ``buckets`` restricts the read to those ``_kb=`` buckets — equivalent
    to ``.filter(_kb.isin(buckets))`` but pruned at the file LISTING, not
    just the scan: only the named dirs are enumerated. Catalyst's
    partition pruning skips reading the other buckets' DATA either way;
    what this saves is the driver-side InMemoryFileIndex walk over every
    bucket dir, which at 100 TB (10⁵–10⁶ files) dominates a sparse read
    (the incremental-agg retraction, a keyed erasure) that touches a
    handful of buckets."""
    base_path = os.path.join(target_path, BASE_DIR)
    if buckets is not None:
        dirs = [
            os.path.join(base_path, f"{BUCKET_COL}={b}")
            for b in buckets
            if os.path.isdir(os.path.join(base_path, f"{BUCKET_COL}={b}"))
        ]
        dirs = [d for d in dirs if _has_parquet_files(d)]
        if dirs:
            base = spark.read.option("basePath", base_path).parquet(*dirs)
        else:
            schema = _delta_row_schema(spark, target_path)
            base = (
                spark.createDataFrame([], schema)
                if schema is not None
                else spark.read.parquet(base_path).filter(F.lit(False))
            )
    elif _has_parquet_files(base_path):
        base = spark.read.parquet(base_path)
    else:
        # Crash window healed read-only: a compact interrupted between the
        # bucket swap and the empty-layout reseed leaves zero base files
        # (see _recover_empty_base, which repairs it under the writer lock
        # on the next mutation). Readers hold no lock, so substitute an
        # empty base with the delta-recovered schema instead of writing.
        schema = _delta_row_schema(spark, target_path)
        if schema is None:
            base = spark.read.parquet(base_path)  # raise Spark's own error
        else:
            base = spark.createDataFrame([], schema)
    if as_of_seq is not None:
        floor = _read_meta(target_path).get("compacted_through", 0)
        if as_of_seq < floor:
            raise ValueError(
                f"snapshot as_of_seq={as_of_seq} predates the last "
                f"compaction (compacted_through={floor}); older snapshots "
                "were folded into the base. Compact less often "
                "(compact_every) to retain a longer history."
            )
        # The live sequence set is the delta DIR NAMES — whether any delta
        # falls inside the snapshot is pure fs metadata. Skipping the read
        # when none do (the common 'cursor at a compaction boundary' case)
        # saves both the mergeSchema footer read and the limit(1) probe
        # job the old emptiness check ran.
        if not any(s <= as_of_seq for s in _delta_seqs(target_path)):
            return base
        deltas = _read_deltas(spark, target_path)
        if deltas is not None:
            deltas = deltas.filter(F.col(SEQ_COL) <= as_of_seq)
    else:
        deltas = _read_deltas(spark, target_path)
    if deltas is None:
        return base
    if buckets is not None:
        # Keep the bucket restriction an exact filter-equivalent: delta
        # overrides from other buckets must not leak into the union.
        deltas = deltas.filter(in_list(BUCKET_COL, list(buckets)))
    latest = _delta_latest(deltas).select(*base.columns, DELETED_COL)
    keep = base.join(
        F.broadcast(latest.select(cdc.KEY_COL)), cdc.KEY_COL, "left_anti"
    )
    # A key whose latest version is a tombstone is gone: its base row was
    # anti-joined away above, and the tombstone itself is dropped here —
    # the returned schema stays exactly the base layout.
    live = latest.filter(~F.col(DELETED_COL)).drop(DELETED_COL)
    return keep.unionByName(live)


def read_mor_changes(
    spark: SparkSession,
    target_path: str,
    since_seq: int,
    as_of_seq: int | None = None,
) -> DataFrame:
    """Incremental pull: the rows changed AFTER snapshot ``since_seq``
    (exclusive), up to ``as_of_seq`` (inclusive; default: everything). A
    key touched by several merges in the range appears once, with its
    latest version and the ``_delta_seq`` it landed in — exactly what a
    downstream incremental consumer (a feature pipeline, a search-index
    refresher) feeds on instead of re-diffing two full snapshots. This is
    the Hudi incremental-query / Delta CDF read on the same plain-parquet
    delta log; cost is O(deltas in range), the base is never scanned.
    Rows deleted in the range come back with ``_deleted = true`` and the
    full pre-delete image (CDF delete-preimage semantics) — consumers
    MUST honor the flag (upsert rows carry ``_deleted = false``).
    ``since_seq`` must be at or above the compaction floor — older change
    history was folded into the base and can no longer be separated."""
    meta = _read_meta(target_path)
    floor = meta.get("compacted_through", 0)
    if since_seq < floor:
        raise ValueError(
            f"changes since seq={since_seq} predate the last compaction "
            f"(compacted_through={floor}); that history was folded into "
            "the base. Compact less often (compact_every) to retain a "
            "longer change log."
        )
    # fs-metadata emptiness check (delta dir names ARE the sequence set):
    # no probe job, no footer read when the range holds nothing.
    in_range = [
        s
        for s in _delta_seqs(target_path)
        if s > since_seq and (as_of_seq is None or s <= as_of_seq)
    ]
    deltas = _read_deltas(spark, target_path) if in_range else None
    if deltas is not None:
        deltas = deltas.filter(F.col(SEQ_COL) > since_seq)
        if as_of_seq is not None:
            deltas = deltas.filter(F.col(SEQ_COL) <= as_of_seq)
    if deltas is None:
        base_path = os.path.join(target_path, BASE_DIR)
        base_schema = (
            spark.read.parquet(base_path).schema
            if _has_parquet_files(base_path)
            else _delta_row_schema(spark, target_path)
        )
        if base_schema is None:
            base_schema = spark.read.parquet(base_path).schema
        return spark.createDataFrame(
            [], base_schema.add(SEQ_COL, "integer").add(DELETED_COL, "boolean")
        )
    return _delta_latest(deltas)


def mor_history(target_path: str) -> dict:
    """Bookkeeping view of a MOR state: current sequence, snapshot floor,
    live (un-compacted) delta sequences, and bucket count — the driver-side
    analog of a table format's snapshot log, derived purely from listing
    (no Spark job)."""
    meta = _read_meta(target_path)
    seqs = _delta_seqs(target_path)
    return {
        "seq": meta["seq"],
        "compacted_through": meta.get("compacted_through", 0),
        "live_delta_seqs": seqs,
        "num_buckets": meta["num_buckets"],
    }


@single_writer("target_path")
def compact_mor(
    spark: SparkSession,
    target_path: str,
    keep_last: int = 0,
    consumer_checkpoints: list[str] | None = None,
) -> dict[str, int]:
    """Fold outstanding deltas into the base, rewriting ONLY the buckets
    deltas touch — through the same journaled crash-safe bucket swap as the
    COW merge. Deltas are removed after the swap lands; a crash between
    swap and delta removal re-applies the (idempotent, latest-wins)
    overrides on the next compact/merge. Returns bucket/delta counts.

    ``keep_last=K`` folds only deltas OLDER than the newest K (Hudi-style
    retention): read amplification stays bounded at ~K small files while
    snapshot/change-feed history over the last K merges survives routine
    compaction. Folding an old version of a key whose newer version lives
    in a kept delta is safe — the read view's latest-wins reconciliation
    still overrides the base with the kept delta.

    ``consumer_checkpoints``: streaming change-feed consumers' checkpoint
    dirs to protect. Compaction refuses to fold any delta such a consumer
    has not fully processed, by raising ``keep_last`` to each consumer's
    ``min_safe_keep_last`` (``streaming.change_feed.consumer_progress``)
    — the CDF-retention/consumer-group-lag guard: a lagging consumer can
    slow compaction down, never lose events to it. The effective value is
    returned as ``keep_last_effective``."""
    if consumer_checkpoints:
        from presencia_etl_spark.streaming.change_feed import consumer_progress

        for ckpt in consumer_checkpoints:
            keep_last = max(
                keep_last,
                consumer_progress(ckpt, target_path)["min_safe_keep_last"],
            )
    base_path = os.path.join(target_path, BASE_DIR)
    _recover_interrupted_swap(base_path)
    _gc_orphan_staging(target_path)
    _gc_orphan_compact_staging(target_path)
    _recover_empty_base(spark, target_path)
    # Freshness-carry for the digest sidecar: compaction rearranges files
    # but never changes live content, so a digest valid BEFORE (validated
    # against the post-recovery listing) is re-saved against the post-
    # compaction listing at the end — routine compaction between syncs
    # then doesn't force the next merge back onto the scan path.
    carry_dig = digest_store.load(target_path)
    deltas = _read_deltas(spark, target_path)
    if deltas is None:
        return {"buckets_rewritten": 0, "deltas_folded": 0,
                "keep_last_effective": keep_last}
    seqs = _delta_seqs(target_path)
    if keep_last > 0:
        seqs = seqs[:-keep_last] if len(seqs) > keep_last else []
        if not seqs:
            return {"buckets_rewritten": 0, "deltas_folded": 0,
                    "keep_last_effective": keep_last}
        deltas = deltas.filter(in_list(SEQ_COL, seqs))
    # Schema probe via ONE bucket dir (basePath keeps the partition col):
    # a compact touching 3 dirty buckets must not pay the full listing of
    # a 100 TB base just to learn its columns — and the keep-scan below
    # enumerates ONLY the dirty dirs, same discipline as
    # read_mor(buckets=...).
    probe = next(
        (
            d
            for d in sorted(os.listdir(base_path))
            if d.startswith(f"{BUCKET_COL}=")
            and _has_parquet_files(os.path.join(base_path, d))
        ),
        None,
    )
    base_schema = (
        spark.read.option("basePath", base_path)
        .parquet(os.path.join(base_path, probe))
        .schema
        if probe is not None
        else spark.read.parquet(base_path).schema
    )
    base_cols = [f.name for f in base_schema.fields]
    latest = _delta_latest(deltas).select(*base_cols, DELETED_COL).cache()
    try:
        # ONE bounded collect yields the dirty buckets AND the override
        # count while materializing the cache (the fused-collect pattern).
        bucket_counts = (
            latest.groupBy(BUCKET_COL)
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        dirty = sorted(r[BUCKET_COL] for r in bucket_counts)
        n_keys = sum(r["_n"] for r in bucket_counts)
        dirs = [
            os.path.join(base_path, f"{BUCKET_COL}={b}")
            for b in dirty
            if _has_parquet_files(os.path.join(base_path, f"{BUCKET_COL}={b}"))
        ]
        keep_base = (
            spark.read.option("basePath", base_path).parquet(*dirs)
            if dirs
            else spark.createDataFrame([], base_schema)
        )
        keep = keep_base.join(
            _maybe_broadcast(latest.select(cdc.KEY_COL), n_keys),
            cdc.KEY_COL,
            "left_anti",
        )
        # Tombstones fold by OMISSION: their base row is anti-joined away
        # with every other overridden key, and only live latest versions
        # are written back — the erased rows leave the physical state here.
        live = latest.filter(~F.col(DELETED_COL)).drop(DELETED_COL)
        new_parts = keep.unionByName(live)
        # Dot-prefixed: invisible to any Spark listing of the target root
        # (the same rule `_temporary` relies on), and attributable — the
        # in-target name is what lets _gc_orphan_compact_staging sweep a
        # SIGKILLed compact's staged output under the writer lock.
        staged = tempfile.mkdtemp(
            prefix="." + COMPACT_STAGING_PREFIX,
            dir=os.path.dirname(base_path) or ".",
        )
        try:
            new_parts.repartition(
                max(len(dirty), 1), F.col(BUCKET_COL)
            ).sortWithinPartitions(BUCKET_COL, cdc.KEY_COL).write.mode("overwrite").partitionBy(
                BUCKET_COL
            ).parquet(staged)
            # A bucket whose every row was deleted produces NO staged dir
            # (dynamic partitionBy writes only non-empty partitions) — and
            # swap_bucket_dirs deliberately skips missing staged buckets
            # (the upsert writers' safety default). Stage an explicit
            # EMPTY dir so the swap replaces the live bucket with
            # emptiness instead of leaving the deleted rows behind.
            for b in dirty:
                os.makedirs(
                    os.path.join(staged, f"{BUCKET_COL}={b}"), exist_ok=True
                )
            # Snapshot floor BEFORE the swap. Raising it after delta
            # removal (the old order) left a crash window between the
            # swap and the floor write where the base was already folded
            # but the floor said otherwise: read_mor(as_of_seq=old)
            # returned the post-compaction state labeled as the old
            # snapshot, and read_mor_changes(since_seq=0) SILENTLY
            # omitted every folded change — the zero-loss change-feed
            # guarantee broken exactly when a consumer replays after a
            # crash. Raised first, every later window is conservative:
            # old snapshots raise, current reads re-apply the surviving
            # deltas idempotently, and a retried compact converges. A
            # crash BETWEEN this write and the swap merely burns snapshot
            # history early (floor up, nothing folded) — loud, never
            # wrong.
            meta = _read_meta(target_path)
            old_floor = meta.get("compacted_through", 0)
            meta["compacted_through"] = max(old_floor, max(seqs))
            _write_meta(target_path, meta)
            try:
                swap_bucket_dirs(staged, base_path, dirty)
            except BaseException as exc:
                # The swap rolls itself back inline on a Python
                # exception. When that rollback is COMPLETE (the base is
                # byte-identical to pre-swap and every folded delta still
                # exists on disk), keeping the raised floor would
                # permanently error out lagging change-feed cursors /
                # old-snapshot reads for no reason — a transient swap
                # error would force consumers to re-bootstrap. Lower it
                # back. On an INCOMPLETE rollback (or a hard crash,
                # where this handler never runs) the floor stays raised:
                # conservative, loud, never mislabels folded data.
                if getattr(exc, "swap_rolled_back", False):
                    meta = _read_meta(target_path)
                    meta["compacted_through"] = old_floor
                    _write_meta(target_path, meta)
                raise
            # If tombstones emptied the ENTIRE base, reseed a schema-
            # bearing empty file so the layout stays readable (see
            # writers._reseed_empty_layout).
            _reseed_empty_layout(
                spark,
                base_path,
                StructType(
                    [f for f in base_schema.fields if f.name != BUCKET_COL]
                ),
                dirty[0],
            )
        finally:
            # After an INCOMPLETE inline rollback the live journal under
            # the base still references staged — recovery owns cleanup.
            from presencia_etl_spark.sinks.writers import _staged_is_journaled

            if not _staged_is_journaled(base_path, staged):
                shutil.rmtree(staged, ignore_errors=True)
    finally:
        latest.unpersist()
    # The floor was already raised before the swap (see above); removal of
    # the folded delta dirs is pure space reclamation now — a crash mid-
    # loop leaves extra deltas that re-apply idempotently and are removed
    # by the next compact.
    for s in seqs:
        shutil.rmtree(
            os.path.join(target_path, DELTA_DIR, f"{SEQ_COL}={s}"),
            ignore_errors=True,
        )
    digest_store.save(target_path, carry_dig)
    return {"buckets_rewritten": len(dirty), "deltas_folded": len(seqs),
            "keep_last_effective": keep_last}
