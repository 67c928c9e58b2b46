"""Engine-to-engine replica sync: converge a managed table onto another.

The reference's cron re-exports the WHOLE source and re-classifies it
against the target every pass (``sync_INCREMENTAL.py`` shape). When the
source is itself one of our managed tables, both sides already carry a
fingerprint-validated micro-bucket digest sidecar (``sinks/digest_store``),
and the merkle discipline completes end-to-end:

- **steady state (no changes)** — two driver-side sidecar loads prove the
  (key, hash)-multisets equal: the sync returns WITHOUT touching Spark at
  all. Zero jobs, zero I/O beyond two 16K-row local parquet reads and two
  file-metadata walks. This is the operation a 100 TB deployment runs most
  often, and its cost is now independent of BOTH table sizes.
- **sparse divergence** — the dict-diff names the dirty micro-buckets with
  zero jobs (``cdc.digest_compare(src_digest=...)``); the merge classifies
  only those buckets' rows, directory-pruning the target's ``_kb=`` dirs.
  No source-side digest job either: the O(|source|) narrow scan the plain
  snapshot sync pays (~13.5 s at 60M rows) disappears.
- **anything else** (stale/absent sidecar on either side, dense
  divergence, drift) — falls through to the ordinary merge machinery,
  which is differential-tested to be self-correcting.

Consistency: the sidecars and the table reads are not taken under a lock,
so a writer racing the sync can invalidate what was loaded — the same
consistency class as any snapshot read of a live table. ``sync_replica``
re-validates the source sidecar after the merge and warns if it changed
mid-flight; the next run self-corrects (stale digests fail closed to the
scan path, never to a wrong answer).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

from presencia_etl_spark.sinks import digest_store
from presencia_etl_spark.sinks.lifecycle import table_layout

MOR_META = "_mor_meta.json"
BUCKET_META = "_bucket_meta.json"


def read_managed(spark: SparkSession, path: str) -> DataFrame:
    """The table's LIVE row view (tombstones resolved for MOR), in the
    persisted layout: data + audit + ``_cdc_key`` (+ ``_kb``). The
    persisted ``row_hash`` rides along, so a downstream merge never
    re-hashes the rows. (= ``sql.read_state`` — one layout-aware read.)"""
    from presencia_etl_spark.sql import read_state

    return read_state(spark, path)


def _num_buckets_of(path: str) -> int | None:
    import json

    for meta in (os.path.join(path, MOR_META), os.path.join(path, BUCKET_META)):
        if os.path.exists(meta):
            with open(meta) as fh:
                return int(json.load(fh)["num_buckets"])
    return None


def read_managed_pruned(
    spark: SparkSession, path: str, dirty_mb: list[int] | None
) -> DataFrame:
    """The live view restricted to a SUPERSET of the dirty micro-buckets'
    rows — every dirty micro-bucket maps into exactly one ``_kb=`` dir
    (nested moduli), so the read is pruned at the file LISTING for MOR
    and at partition level for bucketed COW. At 100 TB this is the
    difference between "diff two replicas = scan both" and "diff two
    replicas = read the handful of dirty buckets". Falls back to the
    full view when pruning can't apply (flat layout, unknown modulus,
    ``dirty_mb is None``). Callers must still filter to the exact dirty
    micro-buckets (``diff_states(dirty_mb=...)`` / the merges' ``_mb``
    filter) — this only narrows the I/O."""
    if dirty_mb is None:
        return read_managed(spark, path)
    from presencia_etl_spark.operators.cdc import DIGEST_MICRO_BUCKETS

    layout = table_layout(path)
    nb = _num_buckets_of(path)
    if nb is None or DIGEST_MICRO_BUCKETS % nb:
        return read_managed(spark, path)
    kbs = sorted({mb % nb for mb in dirty_mb})
    if layout == "mor":
        from presencia_etl_spark.sinks.mor import read_mor

        return read_mor(spark, path, buckets=kbs)
    if layout == "bucketed":
        from presencia_etl_spark.functions.pushdown import in_list

        return spark.read.parquet(path).filter(in_list("_kb", kbs))
    return read_managed(spark, path)


def sync_replica(
    spark: SparkSession | None,
    source_path: str,
    target_path: str,
    key_cols: list[str],
    delete_missing: bool | None = None,
    num_buckets: int | None = None,
) -> dict:
    """Converge ``target_path`` onto ``source_path``'s live content.

    ``spark`` may be ``None``: the green path never touches it (the CLI
    exploits this — a cron's steady-state sync then never even starts a
    JVM), and a session is created lazily only when a merge is needed.

    ``delete_missing`` defaults to True for MOR targets (full replica
    semantics: keys the source dropped are tombstoned) and False for COW
    targets, whose merge families preserve the reference's never-delete
    rule (trap N6) — pass ``delete_missing=True`` against a COW target
    and this raises rather than silently half-syncing.

    Returns the merge's counts dict plus ``proven``:
    ``"sidecar"`` when the green path answered without Spark,
    ``None`` otherwise.
    """
    from presencia_etl_spark.sinks.writers import _state_absent

    src_layout = table_layout(source_path)
    tgt_exists = not _state_absent(target_path)  # empty dir = no state
    if not tgt_exists:
        tgt_layout = src_layout  # mirror the source's layout on first sync
    else:
        tgt_layout = table_layout(target_path)
    if delete_missing is None:
        delete_missing = tgt_layout == "mor"
    if delete_missing and tgt_layout != "mor":
        raise ValueError(
            "delete_missing sync needs a MOR target (COW merges never "
            f"delete — trap N6); target at {target_path!r} is {tgt_layout}"
        )

    sdig = digest_store.load(source_path)
    tdig = digest_store.load(target_path) if tgt_exists else None
    if sdig is not None and tdig is not None and sdig == tdig:
        # Proven identical from metadata alone — no SparkSession use.
        return _green_result(sum(c for c, _x, _y in sdig.values()), tgt_layout)

    if spark is None:
        from presencia_etl_spark.session import get_spark

        spark = get_spark(app_name="replica-sync")
        spark.sparkContext.setLogLevel("ERROR")  # CLI parity (lazy path)
    from presencia_etl_spark.sinks.locking import state_lock

    # The merge section holds the TARGET's writer lock (reentrant into
    # the merge's own @single_writer): the target sidecar re-loaded
    # under the lock cannot be invalidated before the merge loads it
    # again, which is what makes handing the merge a BUCKET-PRUNED
    # source safe — a delete_missing classify over a pruned source with
    # a raced-away target sidecar would otherwise erase every row
    # outside the pruned buckets.
    with state_lock(target_path):
        dirty: list[int] | None = None
        tdig = digest_store.load(target_path) if (
            sdig is not None and tgt_exists
        ) else None
        if tdig is not None:
            # ONE rule source: the exact dict-diff + dense-decline +
            # kill-switch behavior the merge itself will re-run on
            # these SAME dicts (tdig is threaded through as the merge's
            # tgt_digest) — the dirty set below and the merge's are
            # structurally the same computation, so a pruned source can
            # never meet a differently-derived dirty set.
            from presencia_etl_spark.operators import cdc

            dcmp = cdc.digest_compare(
                None, None, tgt_digest=tdig, src_digest=sdig
            )
            if dcmp.dirty == []:
                return _green_result(dcmp.clean_src, tgt_layout)
            dirty = dcmp.dirty
            if dcmp.tgt_digest is None:
                tdig = None  # kill switch: hand the merge nothing either
        # Conf regime, decided from the DIGESTS (pure metadata, before
        # any job — the CLAUDE.md trickle rule): a sparse managed sync's
        # classify touches only the dirty micro-buckets' rows, known
        # here per bucket, and its strategy is static — under session
        # conf a ONE-KEY sync at 60M ran 38 AQE re-plan jobs with
        # 256-task exchanges (initialPartitionNum, sized for corpus
        # joins). Tiny dirty sets read and merge in the trickle session.
        est_rows = (
            sum(
                max(sdig.get(mb, (0, 0, 0))[0], tdig.get(mb, (0, 0, 0))[0])
                for mb in dirty
            )
            if dirty is not None and tdig is not None
            else None
        )
        if est_rows is not None and est_rows <= _trickle_sync_max_rows():
            from presencia_etl_spark.session import trickle_session

            spark = trickle_session(spark)
        # Strip the source's PER-REPLICA surrogates: its bucket column
        # reflects ITS layout/modulus (a flat target must not inherit
        # one), and its audit identity (id/created_at/updated_at)
        # belongs to that replica — the target keeps/assigns its own.
        # row_hash stays: it is data-only and trusted, so the merge
        # never re-hashes the source.
        src = read_managed_pruned(spark, source_path, dirty).drop(
            "_kb", "id", "created_at", "updated_at"
        )
        return _merge_replica(
            spark, src, source_path, target_path, key_cols, tgt_layout,
            tgt_exists, delete_missing, num_buckets, sdig, tdig,
        )


def _trickle_sync_max_rows() -> int:
    return int(os.environ.get("SPARK_GRAFT_TRICKLE_SYNC_ROWS", "65536"))


REPLICATE_META = "_replicate_meta.json"


def _replicate_cursor(target_path: str) -> int | None:
    import json

    try:
        with open(os.path.join(target_path, REPLICATE_META)) as fh:
            return int(json.load(fh)["src_seq"])
    except FileNotFoundError:
        return None


def _write_replicate_cursor(target_path: str, src_seq: int) -> None:
    import json

    p = os.path.join(target_path, REPLICATE_META)
    with open(p + ".tmp", "w") as fh:
        json.dump({"src_seq": src_seq}, fh)
    os.replace(p + ".tmp", p)


def replicate_changes(
    spark: SparkSession | None,
    source_path: str,
    target_path: str,
    key_cols: list[str],
    num_buckets: int | None = None,
) -> dict:
    """Log-shipping replica catch-up: apply the source's CHANGE FEED
    since the replica's cursor — upserts and tombstones in ONE atomic
    mixed batch (``merge_upsert_mor(delete_keys=...)``).

    Complements ``sync_replica`` (snapshot convergence): a feed pass
    reads ONLY the source's delta files in range — no source base scan,
    no digests required on either side — so steady replication cost is
    O(changes in range) regardless of both table sizes, and each pass is
    one target sequence (a crash can never half-apply a pass; replays
    re-classify as skips). The feed's per-key latest-version semantics
    make passes collapse: N source merges apply as one batch.

    Falls back to a full ``sync_replica`` snapshot pass when there is no
    cursor yet (first call) or the source compacted past the cursor —
    the cursor is then re-pinned at the sequence observed BEFORE the
    snapshot read, so changes racing the snapshot replay harmlessly on
    the next pass. MOR on both sides (the feed and tombstones only exist
    there). ``spark`` may be None: a no-change pass (cursor == source
    seq, fs metadata) returns without starting a session."""
    from presencia_etl_spark.sinks.mor import (
        delta_bytes_in_range,
        merge_upsert_mor,
        mor_history,
        read_mor_changes,
    )
    from presencia_etl_spark.sinks.writers import _state_absent

    if table_layout(source_path) != "mor":
        raise ValueError(
            f"replicate_changes needs a MOR source (change feed); "
            f"{source_path!r} is {table_layout(source_path)}"
        )
    hist = mor_history(source_path)
    cursor = _replicate_cursor(target_path)
    tgt_exists = not _state_absent(target_path)
    if cursor is not None and tgt_exists and cursor == hist["seq"]:
        return {
            "mode": "noop", "insert": 0, "update": 0, "skip": 0,
            "delete": 0, "src_seq": cursor,
        }
    if cursor is None or not tgt_exists or cursor < hist["compacted_through"]:
        # No cursor / fresh target / history folded away: snapshot pass.
        # The cursor pins the seq observed BEFORE the read — a merge
        # racing the snapshot lands again next pass as skips.
        r = sync_replica(
            spark, source_path, target_path, key_cols,
            num_buckets=num_buckets,
        )
        _write_replicate_cursor(target_path, hist["seq"])
        return {**r, "mode": "snapshot", "src_seq": hist["seq"]}

    pending_bytes = delta_bytes_in_range(source_path, cursor, hist["seq"])
    if table_layout(target_path) == "mor":
        # KB-sized feed: the whole catch-up runs driver-side — pyarrow
        # feed read, trusted stored hashes/keys (never recomputed over
        # typed values), one atomic mixed delta — with NO SparkSession
        # at all (``spark`` may stay None): the cron replication loop's
        # steady state is a sub-second pure-Python process. Gate
        # (bytes bound → kill switch → decline → compaction escalation)
        # is the consolidated ``driver_mor.try_trickle``.
        from presencia_etl_spark.sinks import driver_mor as dm

        # one auto-compaction policy for the driver lander's
        # compaction_due and the Spark-side compact it escalates to:
        # merge_upsert_mor's defaults, which the Spark feed path runs
        compact_every = 16

        def _feed_driver() -> dict:
            feed_rows = dm.latest_per_key(
                dm.read_delta_range_rows(source_path, cursor, hist["seq"])
            )
            if len(feed_rows) > dm.DRIVER_BATCH_MAX_KEYS:
                raise dm.DriverDecline(
                    "feed exceeds the driver key bound", reason="batch_too_big"
                )
            from presencia_etl_spark.operators import cdc as _cdc
            from presencia_etl_spark.sinks.mor import (
                DELETED_COL as _DEL,
                SEQ_COL as _SEQ,
            )

            drop = {_SEQ, _DEL, "_kb", "id", "created_at", "updated_at"}
            ups = [
                {c: v for c, v in r.items() if c not in drop}
                for r in feed_rows.values()
                if not r[_DEL]
            ]
            dels = [
                r[_cdc.KEY_COL] for r in feed_rows.values() if r[_DEL]
            ]
            return dm.trickle_merge(
                target_path, ups, key_cols, delete_keys=dels,
                compact_every=compact_every,
            )

        def _compact() -> None:
            nonlocal spark
            if spark is None:
                from presencia_etl_spark.session import get_spark

                spark = get_spark(app_name="replicate-changes")
                spark.sparkContext.setLogLevel("ERROR")
            from presencia_etl_spark.sinks.mor import _auto_keep_last, compact_mor

            # keep the consumer window, never fold it all
            compact_mor(
                spark, target_path, keep_last=_auto_keep_last(compact_every, None)
            )

        r = dm.try_trickle(
            _feed_driver,
            pending_bytes=pending_bytes,
            max_bytes=(4 << 20),
            on_compact=_compact,
        )
        if r is not None:
            _write_replicate_cursor(target_path, hist["seq"])
            return {**r, "mode": "feed", "src_seq": hist["seq"]}

    if spark is None:
        from presencia_etl_spark.session import get_spark

        spark = get_spark(app_name="replicate-changes")
        spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql.functions import col as F_col

    from presencia_etl_spark.session import trickle_session
    from presencia_etl_spark.sinks.mor import DELETED_COL, SEQ_COL

    if delta_bytes_in_range(source_path, cursor, hist["seq"]) <= (16 << 20):
        spark = trickle_session(spark)
    feed = read_mor_changes(
        spark, source_path, since_seq=cursor, as_of_seq=hist["seq"]
    )
    # Per-replica surrogates are the target's business (the
    # sync_replica discipline); row_hash stays so nothing re-hashes.
    drop = [SEQ_COL, DELETED_COL, "_kb", "id", "created_at", "updated_at"]
    ups = feed.filter(~F_col(DELETED_COL)).drop(*drop)
    dels = feed.filter(F_col(DELETED_COL)).select(*key_cols)
    r = merge_upsert_mor(
        spark, ups, target_path, key_cols,
        num_buckets=num_buckets or _num_buckets_of(source_path) or 256,
        digest_prune=False,
        delete_keys=dels,
    )
    _write_replicate_cursor(target_path, hist["seq"])
    return {**r, "mode": "feed", "src_seq": hist["seq"]}


def _green_result(skip: int, tgt_layout: str) -> dict:
    out = {"insert": 0, "update": 0, "skip": skip, "proven": "sidecar"}
    if tgt_layout == "mor":
        out.update({"delete": 0, "delta_files": 0, "compacted": False})
    return out


def _merge_replica(
    spark, src, source_path, target_path, key_cols, tgt_layout,
    tgt_exists, delete_missing, num_buckets, sdig, tdig,
) -> dict:
    # Bucket count: an EXISTING target's own layout wins (its recorded
    # meta); only a fresh target mirrors the source's. Passing the
    # source's modulus at an existing bucketed target would be adopted
    # by a pre-meta legacy state (_resolve_num_buckets persists the
    # caller's value) and split keys across two moduli — refuse instead.
    nb = num_buckets
    if nb is None and tgt_exists:
        nb = _num_buckets_of(target_path)
        if nb is None and tgt_layout == "bucketed":
            raise ValueError(
                f"target {target_path!r} is bucketed but records no "
                "bucket count (pre-meta layout); pass num_buckets= "
                "matching its actual modulus"
            )
    nb = nb or _num_buckets_of(source_path) or 256
    if tgt_layout == "mor":
        from presencia_etl_spark.sinks.mor import merge_upsert_mor

        r = merge_upsert_mor(
            spark, src, target_path, key_cols, num_buckets=nb,
            delete_missing=delete_missing and tgt_exists,
            src_digest=sdig, tgt_digest=tdig,
        )
    elif tgt_layout == "bucketed":
        from presencia_etl_spark.sinks.writers import merge_upsert_partitioned

        r = merge_upsert_partitioned(
            spark, src, target_path, key_cols, num_buckets=nb,
            src_digest=sdig, tgt_digest=tdig,
        )
    else:
        from presencia_etl_spark.sinks.writers import merge_upsert_parquet

        r = merge_upsert_parquet(
            spark, src, target_path, key_cols,
            src_digest=sdig, tgt_digest=tdig,
        )
    if sdig is not None and digest_store.load(source_path) != sdig:
        warnings.warn(
            f"source {source_path!r} was written to while the sync ran; "
            "this pass may reflect a mix of source versions — the next "
            "sync self-corrects"
        )
    return {**r, "proven": None}
