"""Sinks (SURVEY §2.1, S5–S8).

- overwrite (S6): the full-refresh DROP/CREATE+insert analog.
- append (S5): batched bulk insert analog (JDBC ``batchsize`` replaces the
  reference's executemany(1000)).
- upsert (S7): the reference updates row-at-a-time (~10 rows/s). Spark has
  no in-place parquet update, so the engine provides a *staged merge*:
  classify against current state, rewrite = unchanged ∪ updated ∪ inserted.
  On a real deployment this is one Delta Lake ``MERGE INTO`` (same plan
  shape: join + conditional write); we implement the parquet-native
  equivalent so the engine has zero non-core dependencies. At 100 TB,
  partition the target by a stable bucket of the key and rewrite only
  partitions containing changed keys (partition-pruned merge) — the helper
  exposes ``num_buckets`` for that layout.

Audit envelope (``sync_ALL.py:234,242-244``): every target row carries
``row_hash``, ``created_at``, ``updated_at`` and a surrogate ``id``.
Surrogate ids use row_number over the key for dense/deterministic ids at
create time and max(id)+row_number for appends — a driver-free, shuffle-
aware equivalent of AUTO_INCREMENT (excluded from hashes/comparisons).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presencia_etl_spark.functions.pushdown import in_list
from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks import digest_store
from presencia_etl_spark.sinks.locking import single_writer
from presencia_etl_spark.sinks.merge_plan import (
    AUDIT_COLS,
    BUCKET_COL,
    MergePlan,
    fold_deleted_digest,
    hash_source,
    key_hash_view,
    plan_merge,
)

# Bucket-count sidecar for the partitioned layout (underscore-prefixed →
# invisible to Spark's parquet listing, like _mor_meta.json). The modulus
# is a property of the STATE, not of the call: a merge run with a
# different num_buckets than the state was written with would bucket new
# rows under a different modulus than the existing dirs — the pruned
# update scan then misses current rows and updated keys duplicate across
# bucket dirs. With the sidecar, the stored value wins.
BUCKET_META = "_bucket_meta.json"
REBUCKET_JOURNAL_SUFFIX = ".rebucket_journal.json"
# Swap journal for the partitioned merge: written under the target (the
# leading underscore hides it from Spark's parquet listing) before any
# bucket directory is renamed, removed only once every swap has landed.
# Its presence therefore MEANS "a swap was interrupted by a hard crash".
MERGE_JOURNAL = "_merge_swap_journal.json"


def _recover_interrupted_swap(target_path: str) -> bool:
    """Repair a bucket swap that a hard crash (SIGKILL/power loss)
    interrupted mid-rename.

    The Python-exception path rolls back inline; this covers the crash
    window the rollback can't: between parking a bucket's old directory
    and renaming its replacement in, the bucket is absent from the target
    — without the journal a rerun would silently reclassify those rows as
    INSERT with fresh ids/created_at. Using the journal, each listed
    bucket whose ``_kb=`` dir is missing is completed forward (staged new
    version, already fully written before any rename began) or, failing
    that, rolled back from its parked old copy. Returns True if a journal
    was found and repaired."""
    journal = os.path.join(target_path, MERGE_JOURNAL)
    if not os.path.exists(journal):
        return False
    with open(journal) as fh:
        state = json.load(fh)
    staged = state["staged"]
    for b in state["buckets"]:
        dst = os.path.join(target_path, f"{BUCKET_COL}={b}")
        if os.path.exists(dst):
            continue  # old still in place or new already landed — complete
        new_dir = os.path.join(staged, f"{BUCKET_COL}={b}")
        parked = os.path.join(staged, f"_old_{b}")
        if os.path.exists(new_dir):
            os.rename(new_dir, dst)
        elif os.path.exists(parked):
            os.rename(parked, dst)
        else:
            # The bucket is gone and so is the staging dir (e.g. it was
            # cleaned out from under us). Refuse to continue — removing
            # the journal here would let the next merge silently
            # reclassify the missing bucket's rows as fresh inserts.
            raise RuntimeError(
                f"interrupted merge swap cannot be repaired: bucket "
                f"{BUCKET_COL}={b} is missing from {target_path!r} and no "
                f"copy exists under the journaled staging dir {staged!r}; "
                "restore from backup before re-merging"
            )
    os.remove(journal)
    shutil.rmtree(staged, ignore_errors=True)
    return True


SWAP_STAGING_PREFIX = ".staged_"
# Sibling dirs the journaled whole-dir swaps (rebucket, flat delete/merge,
# overwrite, compact_parquet) create NEXT TO a table. Warehouse dir scans
# (SQL view registration, generation manifests) must skip them, or a
# crashed swap shows up as a phantom table holding real parquet.
RESERVED_SIBLING_SUFFIXES = ("__rebucket_staged", "__rebucket_retired")


def is_reserved_sibling(name: str) -> bool:
    return name.rstrip("/").endswith(RESERVED_SIBLING_SUFFIXES)


def is_spark_hidden(name: str) -> bool:
    """Spark/Hadoop's visibility rule (InMemoryFileIndex): names starting
    with ``.`` are hidden, and names starting with ``_`` are hidden UNLESS
    they contain ``=`` (hive partition dirs like ``_kb=3`` stay visible).
    The ONE copy of the rule — every driver-side walk that answers 'what
    would a Spark read see' (footer-stats id allocation, the MOR fileless
    probe) must share it, or a crashed job's ``_temporary`` tree / a
    staged dot-dir makes the walks disagree with the engine."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _swap_staging_dir(target_path: str, kind: str) -> str:
    """Create a bucket-swap staging dir INSIDE the target, dot-prefixed so
    every Spark/Hadoop listing ignores it. Staging in the target's shared
    PARENT dir (the old layout) made crash GC impossible: a sibling
    ``merge_buckets_<rand>`` can't be attributed to a target, so sweeping
    the parent could delete ANOTHER table's in-flight staging (locks are
    per-target). In-target, ``_gc_orphan_swap_staging`` can sweep safely
    under the writer lock."""
    return tempfile.mkdtemp(prefix=f"{SWAP_STAGING_PREFIX}{kind}_", dir=target_path)


def _gc_orphan_swap_staging(target_path: str) -> None:
    """Remove swap staging dirs left by a crash BEFORE the journal was
    written — the longest window (the staged rewrite is a real Spark job;
    a SIGKILLed merge leaks its whole staged output with no other GC
    path). Runs under the caller's per-target writer lock AFTER
    ``_recover_interrupted_swap`` (which removes the journal and its
    staged dir), so any surviving ``.staged_*`` child is unreferenced."""
    if not os.path.isdir(target_path):
        return
    for d in os.listdir(target_path):
        if d.startswith(SWAP_STAGING_PREFIX):
            shutil.rmtree(os.path.join(target_path, d), ignore_errors=True)


def _bucket_meta_path(target_path: str) -> str:
    return os.path.join(target_path, BUCKET_META)


def _state_absent(path: str) -> bool:
    """True when no state exists at ``path`` — missing, or an EMPTY
    pre-created directory (a mount point / mkdir'd target): initial
    loads must treat both the same, or the merge skips its initial
    branch and dies reading schema from nothing."""
    return not os.path.exists(path) or (
        os.path.isdir(path) and not os.listdir(path)
    )


def _resolve_num_buckets(target_path: str, requested: int) -> int:
    """The state's stored bucket count wins over the call argument (see
    BUCKET_META). Pre-sidecar states adopt the caller's value — written
    out so the assumption is recorded for every later merge."""
    mp = _bucket_meta_path(target_path)
    if os.path.exists(mp):
        with open(mp) as fh:
            stored = int(json.load(fh)["num_buckets"])
        if stored != requested:
            warnings.warn(
                f"merge called with num_buckets={requested} but the state "
                f"at {target_path!r} was written with {stored}; using "
                f"{stored} (run rebucket() to change the layout)",
                stacklevel=3,
            )
        return stored
    if any(d.startswith(f"{BUCKET_COL}=") for d in os.listdir(target_path)):
        _write_bucket_meta(target_path, requested)
    return requested


def _write_bucket_meta(target_path: str, num_buckets: int) -> None:
    mp = _bucket_meta_path(target_path)
    with open(mp + ".tmp", "w") as fh:
        json.dump({"num_buckets": num_buckets}, fh)
    os.replace(mp + ".tmp", mp)


def _recover_interrupted_rebucket(target_path: str) -> bool:
    """Repair a ``rebucket`` whole-dir swap that a hard crash interrupted.

    The journal (written in the PARENT dir, after the staged copy is fully
    written) proves the staged layout is complete, so recovery rolls
    FORWARD: whichever of (live, staged) still exists becomes/stays live,
    leftovers are dropped. Runs at the top of rebucket() and of
    merge_upsert_partitioned — without it, a crash that left the live dir
    renamed away would make the next merge re-run the initial load."""
    journal = target_path.rstrip("/") + REBUCKET_JOURNAL_SUFFIX
    if not os.path.exists(journal):
        return False
    staged = target_path.rstrip("/") + "__rebucket_staged"
    retired = target_path.rstrip("/") + "__rebucket_retired"
    if os.path.exists(target_path) and os.path.exists(staged):
        # Crash before the first rename: the staged copy is complete
        # (journal ordering) — finish the swap forward.
        os.rename(target_path, retired)
        os.rename(staged, target_path)
    elif not os.path.exists(target_path) and os.path.exists(staged):
        os.rename(staged, target_path)
    elif not os.path.exists(target_path):
        raise RuntimeError(
            f"interrupted rebucket cannot be repaired: {target_path!r} is "
            "missing and no staged copy exists; restore from backup"
        )
    shutil.rmtree(retired, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)
    os.remove(journal)
    return True


@single_writer("target_path")
def rebucket(
    spark: SparkSession, target_path: str, new_buckets: int
) -> dict[str, int]:
    """Change the bucket count of a bucketed COW state (or a MOR state's
    base) — the layout-evolution step a growing deployment eventually
    needs: a modulus chosen at 1 TB is wrong at 100 TB (each bucket is a
    rewrite unit AND a scan-pruning unit; too few buckets → huge dirty
    rewrites, too many → small-file pressure). This is a full rewrite by
    nature (every row's bucket changes), staged aside and swapped in with
    a parent-dir journal so a crash at any point leaves old-or-new, never
    a mix; readers see the old layout until the atomic rename. MOR states
    are compacted first (folding deltas, which carry old bucket ids), then
    the base is rebucketed and the meta updated. Returns row/bucket
    counts."""
    mor_meta = os.path.join(target_path, "_mor_meta.json")
    if os.path.exists(mor_meta):
        from presencia_etl_spark.sinks import mor as mor_mod

        mor_mod.compact_mor(spark, target_path)
        base = os.path.join(target_path, mor_mod.BASE_DIR)
        result = rebucket(spark, base, new_buckets)
        meta = mor_mod._read_meta(target_path)
        meta["num_buckets"] = new_buckets
        mor_mod._write_meta(target_path, meta)
        return result

    _recover_interrupted_rebucket(target_path)
    _recover_interrupted_swap(target_path)
    _gc_orphan_swap_staging(target_path)
    tgt = spark.read.parquet(target_path)
    if BUCKET_COL not in tgt.columns or cdc.KEY_COL not in tgt.columns:
        raise ValueError(
            f"target {target_path!r} is not a bucketed state with a "
            f"persisted {cdc.KEY_COL}; rebucket applies to "
            "merge_upsert_partitioned / MOR layouts only"
        )
    out = tgt.drop(BUCKET_COL).withColumn(BUCKET_COL, cdc.bucket_of(new_buckets))
    staged = target_path.rstrip("/") + "__rebucket_staged"
    retired = target_path.rstrip("/") + "__rebucket_retired"
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    (
        out.repartition(new_buckets, F.col(BUCKET_COL))
        .sortWithinPartitions(BUCKET_COL, cdc.KEY_COL)
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(staged)
    )
    _write_bucket_meta(staged, new_buckets)
    n = spark.read.parquet(staged).count()
    journal = target_path.rstrip("/") + REBUCKET_JOURNAL_SUFFIX
    with open(journal + ".tmp", "w") as fh:
        json.dump({"new_buckets": new_buckets}, fh)
    os.replace(journal + ".tmp", journal)
    os.rename(target_path, retired)
    os.rename(staged, target_path)
    shutil.rmtree(retired, ignore_errors=True)
    os.remove(journal)
    return {"rows": n, "num_buckets": new_buckets}


def _reseed_empty_layout(spark, target_path: str, schema, bucket: int) -> None:
    """A delete that emptied EVERY bucket leaves zero parquet files — and a
    fileless layout can't even be read for schema (UNABLE_TO_INFER_SCHEMA
    wedges the next merge). Seed one empty, schema-bearing parquet file
    into one bucket dir so the table stays a valid, readable, mergeable
    zero-row state. ``schema`` must EXCLUDE the bucket column (it lives in
    the dir name)."""
    for _root, _d, files in os.walk(target_path):
        if any(f.endswith(".parquet") for f in files):
            return
    tmp = tempfile.mkdtemp(
        prefix="empty_seed_", dir=os.path.dirname(target_path) or "."
    )
    try:
        spark.createDataFrame([], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(target_path, f"{BUCKET_COL}={bucket}")
        os.makedirs(dst, exist_ok=True)
        os.replace(os.path.join(tmp, part), os.path.join(dst, part))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@single_writer("target_path")
def delete_where_partitioned(
    spark: SparkSession, target_path: str, predicate
) -> dict[str, int]:
    """Row-level DELETE from a bucketed COW state: rewrite ONLY the
    buckets holding matching rows (hive ``_kb=`` pruning + the journaled
    crash-safe swap the merge uses). ``predicate`` is a Column or SQL
    string; rows where it is TRUE are deleted — NULL keeps the row (SQL
    DELETE semantics, hence the explicit ``coalesce`` on the keep side).
    A bucket whose every row matches swaps in as an EMPTY partition dir.
    The data-lifecycle extension (GDPR erasure / TTL) the reference never
    had — its sync never deletes (trap N6). MOR states take the O(changes)
    tombstone path instead (``sinks.mor.delete_where_mor``)."""
    _recover_interrupted_rebucket(target_path)
    _recover_interrupted_swap(target_path)
    _gc_orphan_swap_staging(target_path)
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    tgt = spark.read.parquet(target_path)
    if BUCKET_COL not in tgt.columns:
        raise ValueError(
            f"target {target_path!r} is not bucketed ({BUCKET_COL} absent): "
            "use delete_where_parquet for the flat layout."
        )
    victims = tgt.filter(predicate).cache()
    try:
        n_victims = victims.count()
        if n_victims == 0:
            return {"delete": 0, "buckets_rewritten": 0}
        # Sidecar maintenance (mirrors the MOR tombstone path): fold the
        # victims out so an erasure pass doesn't knock the table's sync
        # loop back onto the scan path. Loaded after the count (zero-match
        # passes skip the walk), before any mutation.
        new_dig = fold_deleted_digest(target_path, victims)
        dirty = [
            r[BUCKET_COL]
            for r in victims.select(BUCKET_COL).distinct().collect()
        ]
        keep = tgt.filter(in_list(BUCKET_COL, dirty)).filter(
            ~F.coalesce(predicate, F.lit(False))
        )
        staged = _swap_staging_dir(target_path, "delete")
        try:
            staged_keep = keep.repartition(len(dirty), F.col(BUCKET_COL))
            if cdc.KEY_COL in tgt.columns:  # pre-key-backfill states lack it
                staged_keep = staged_keep.sortWithinPartitions(BUCKET_COL, cdc.KEY_COL)
            staged_keep.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                staged
            )
            # Fully-emptied buckets produce no staged dir (dynamic
            # partitionBy writes only non-empty partitions) and
            # swap_bucket_dirs skips missing staged buckets — stage
            # explicit EMPTY dirs so the swap replaces those live buckets
            # with emptiness.
            for b in dirty:
                os.makedirs(
                    os.path.join(staged, f"{BUCKET_COL}={b}"), exist_ok=True
                )
            swap_bucket_dirs(staged, target_path, dirty)
        finally:
            # After an INCOMPLETE inline rollback the live journal still
            # references staged (a bucket's only copy may be parked
            # there) — recovery owns the cleanup then.
            if not _staged_is_journaled(target_path, staged):
                shutil.rmtree(staged, ignore_errors=True)
    finally:
        victims.unpersist()
    _reseed_empty_layout(
        spark, target_path, tgt.drop(BUCKET_COL).schema, dirty[0]
    )
    # After the reseed (it may add a schema-bearing file the fingerprint
    # must cover).
    digest_store.save(target_path, new_dig)
    return {"delete": n_victims, "buckets_rewritten": len(dirty)}


@single_writer("target_path")
def delete_where_parquet(
    spark: SparkSession, target_path: str, predicate
) -> dict[str, int]:
    """Row-level DELETE from a FLAT parquet state: full staged rewrite
    (the flat layout has no pruning unit), swapped in atomically via the
    rebucket journal machinery so a crash leaves old-or-new, never a mix.
    Fine for the small-table states the flat writer serves; bucketed and
    MOR states have pruned/O(changes) variants."""
    _recover_interrupted_rebucket(target_path)
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    tgt = spark.read.parquet(target_path)
    if BUCKET_COL in tgt.columns:
        raise ValueError(
            f"target {target_path!r} is bucketed: use "
            "delete_where_partitioned to keep the pruned layout."
        )
    n_victims = tgt.filter(predicate).count()
    if n_victims == 0:
        return {"delete": 0}
    # Sidecar maintenance: the whole-dir swap retires the old table dir
    # (sidecar included), so fold the victims out NOW and re-save after
    # the new dir lands — otherwise every flat erasure forces the next
    # sync onto the scan path. Flat states are small by design, so the
    # victims re-scan here is one cheap extra pass.
    new_dig = fold_deleted_digest(target_path, tgt.filter(predicate))
    keep = tgt.filter(~F.coalesce(predicate, F.lit(False)))
    staged = target_path.rstrip("/") + "__rebucket_staged"
    retired = target_path.rstrip("/") + "__rebucket_retired"
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    keep.write.mode("overwrite").parquet(staged)
    _commit_whole_dir_swap(target_path, staged, retired)
    digest_store.save(target_path, new_dig)
    return {"delete": n_victims}


def _commit_whole_dir_swap(target_path: str, staged: str, retired: str) -> None:
    """Commit a fully-staged whole-dir replacement through the rebucket
    journal: journal (proof the staged copy is complete), old out, new in,
    cleanup. A crash at ANY point leaves old-or-new, never a mix, and
    ``_recover_interrupted_rebucket`` at the top of the flat ops rolls it
    forward. Shared by delete_where_parquet, the flat merge, and
    compact_parquet — an unjournaled ``rmtree(live); replace(tmp, live)``
    has a window where a crash (or a failed replace whose cleanup then
    removes tmp) loses the ENTIRE table."""
    journal = target_path.rstrip("/") + REBUCKET_JOURNAL_SUFFIX
    with open(journal + ".tmp", "w") as fh:
        json.dump({"swap": True}, fh)
    os.replace(journal + ".tmp", journal)
    os.rename(target_path, retired)
    os.rename(staged, target_path)
    shutil.rmtree(retired, ignore_errors=True)
    os.remove(journal)


def swap_bucket_dirs(staged: str, target_path: str, buckets) -> None:
    """Swap fully-staged ``_kb=`` bucket dirs into a live target, crash-
    safely. A journal is written (atomically: tmp + rename) under the
    target before the first rename and removed after the last; Python
    exceptions roll back inline, and a HARD crash mid-swap is repaired by
    ``_recover_interrupted_swap`` at the top of the next merge. Shared by
    the COW bucketed merge and the merge-on-read compactor (sinks/mor.py)
    — the crash-safety machinery must not fork."""
    journal = os.path.join(target_path, MERGE_JOURNAL)
    with open(journal + ".tmp", "w") as fh:
        json.dump({"staged": staged, "buckets": list(buckets)}, fh)
    os.replace(journal + ".tmp", journal)
    swapped: list[tuple[object, bool]] = []  # (bucket, had prior live dir)
    keep_journal = False
    try:
        for b in buckets:
            src_dir = os.path.join(staged, f"{BUCKET_COL}={b}")
            dst_dir = os.path.join(target_path, f"{BUCKET_COL}={b}")
            if not os.path.exists(src_dir):
                continue  # no deletes → only possible for an empty task
            parked = os.path.join(staged, f"_old_{b}")
            had_prior = os.path.exists(dst_dir)
            if had_prior:
                os.rename(dst_dir, parked)
            os.rename(src_dir, dst_dir)
            swapped.append((b, had_prior))
    except BaseException as exc:
        # FULL inline rollback, newest-first: un-swap every bucket whose
        # new dir already landed (new back to staged, parked old back
        # live — tracked in ``swapped``, since a landed bucket with no
        # prior dir is indistinguishable from an untouched one after the
        # fact), then restore the in-flight bucket's parked dir. The
        # target returns to the PRE-SWAP version, not a mixed one, so
        # callers that raised a monotone floor ahead of the swap
        # (compact_mor's compacted_through) may lower it again —
        # ``swap_rolled_back`` on the exception is that signal. A
        # rollback failure leaves it False and the caller keeps its
        # floor (conservative: old snapshot reads raise loudly rather
        # than mislabel folded data as history).
        complete = True
        try:
            for b, had_prior in reversed(swapped):
                try:
                    src_dir = os.path.join(staged, f"{BUCKET_COL}={b}")
                    dst_dir = os.path.join(target_path, f"{BUCKET_COL}={b}")
                    os.rename(dst_dir, src_dir)
                    if had_prior:
                        os.rename(os.path.join(staged, f"_old_{b}"), dst_dir)
                except OSError:
                    complete = False
            for b in buckets:
                # The bucket mid-swap when the exception fired: old
                # parked, new not landed (or its landing is what failed).
                dst_dir = os.path.join(target_path, f"{BUCKET_COL}={b}")
                parked = os.path.join(staged, f"_old_{b}")
                if os.path.exists(parked) and not os.path.exists(dst_dir):
                    try:
                        os.rename(parked, dst_dir)
                    except OSError:
                        complete = False
        except BaseException:
            # A second interrupt (KeyboardInterrupt mid-rollback) must
            # still leave the flags truthful — the journal stays.
            complete = False
        exc.swap_rolled_back = complete
        # An INCOMPLETE rollback may have left a bucket missing from the
        # target with its only copy parked under `staged` — the journal
        # is then the ONLY pointer recovery has. Keep it (and callers
        # keep the staged dir, see _staged_is_journaled): the next
        # merge's _recover_interrupted_swap repairs and cleans up both.
        keep_journal = not complete
        raise
    finally:
        # Swap finished or was FULLY rolled back — every bucket complete,
        # the interrupted-swap marker comes off. After an incomplete
        # rollback the journal must survive (see above): removing it
        # while a bucket's only copy sits in staged would orphan that
        # copy and let the next merge silently reclassify the bucket's
        # rows as fresh inserts.
        if not keep_journal and os.path.exists(journal):
            os.remove(journal)


def _staged_is_journaled(target_path: str, staged: str) -> bool:
    """True iff the target's live swap journal references ``staged`` —
    i.e. an incomplete inline rollback left recovery-critical state
    there. Callers' cleanup MUST skip the rmtree then; the next
    ``_recover_interrupted_swap`` repairs from it and removes both."""
    journal = os.path.join(target_path, MERGE_JOURNAL)
    try:
        with open(journal) as fh:
            return json.load(fh).get("staged") == staged
    except (OSError, ValueError):
        return False


BROADCAST_KEY_LIMIT = 5_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int, limit: int | None = None):
    """Broadcast a dirty-key frame only when its row count (already known
    from the classify pass) is small; past the limit leave it unhinted so
    AQE picks a shuffle strategy. An unconditional broadcast of 'the
    changed keys' dies on the first drift-style merge where EVERY key
    reclassifies as update. The limit is read at call time so tests can
    force the shuffle path."""
    if limit is None:
        limit = BROADCAST_KEY_LIMIT
    return F.broadcast(df) if n_rows <= limit else df


def _max_id_stat(path: str):
    """max(id) from parquet footer column statistics — a driver-side
    metadata walk instead of the full single-column table scan every
    insert-bearing merge used to pay (at 100 TB, scanning a column of
    the whole state to allocate surrogate ids is the difference between
    a metadata op and a table read). Returns None when any row group
    lacks id min/max stats (caller falls back to the Spark agg); files
    without an id column (none in practice) are skipped."""
    import pyarrow.parquet as pq

    best = None
    for root, dirs, files in os.walk(path):
        # Spark's visibility rule: a staged dot-dir or a crashed job's
        # _temporary tree must not feed id allocation.
        dirs[:] = [d for d in dirs if not is_spark_hidden(d)]
        for f in files:
            if not f.endswith(".parquet") or is_spark_hidden(f):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = None
            for i in range(md.num_columns):
                if md.schema.column(i).name == "id":
                    idx = i
                    break
            if idx is None:
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                best = st.max if best is None else max(best, st.max)
    return best


def _id_offset(path: str, df: DataFrame) -> int:
    """The surrogate-id offset for rows inserted into the state at
    ``path``: max(id) from footer stats, else one ``max(id)`` agg over
    ``df`` (that state's frame); 0 for an empty state."""
    max_id = _max_id_stat(path)
    if max_id is None:
        max_id = df.agg(F.max("id")).collect()[0][0] or 0
    return int(max_id)


def _fetch_dirty_rows(
    src_wide: DataFrame,
    dirty_ops: DataFrame,
    key_cols: list[str],
    n_dirty: int,
    carry: list[str],
) -> DataFrame:
    """ONE source re-scan that fetches the wide rows for the dirty keys
    while computing NOTHING per row: the join is on RAW key-column
    equality (null-safe, so NULL keys still match their classify row), and
    op, row_hash, the normalized key — and the bucket, for the partitioned
    merge — ride in from the (usually broadcast) dirty set, where they
    were already computed during classify. Raw equality is sufficient
    because the dirty set's rows came from this same source frame. The
    classify pass pays the normalize+hash expressions once; this scan pays
    only parquet decode."""
    # Carried columns ride in from the dirty set; same-named columns the
    # source itself persists (a managed table re-fed as a merge source —
    # the replica sync — carries _cdc_key/_kb) must be dropped from the
    # wide side or the post-join select is ambiguous.
    d = src_wide.drop("row_hash", *[c for c in carry if c in src_wide.columns])
    b = dirty_ops.select(
        *[F.col(c).alias(f"_b_{c}") for c in key_cols], *carry
    )
    cond = None
    for c in key_cols:
        e = d[c].eqNullSafe(F.col(f"_b_{c}"))
        cond = e if cond is None else cond & e
    return d.join(_maybe_broadcast(b, n_dirty), cond).drop(
        *[f"_b_{c}" for c in key_cols]
    )


def with_audit_columns(
    df: DataFrame,
    key_cols: list[str],
    hash_col: str = "row_hash",
    id_offset: int = 0,
    dense: bool = False,
) -> DataFrame:
    """Attach id / created_at / updated_at (hash must already be present).

    Default ids are ``monotonically_increasing_id()`` — unique, parallel,
    non-contiguous (AUTO_INCREMENT's only load-bearing property is
    uniqueness; ids are excluded from correctness comparisons). ``dense=
    True`` switches to row_number over the key — contiguous, but a
    single-reducer global sort: only for dimension-sized tables.
    """
    now = F.current_timestamp()
    if dense:
        w = Window.orderBy(*[F.col(c) for c in key_cols])
        id_col = F.row_number().over(w).cast("long") + F.lit(id_offset)
    else:
        id_col = F.monotonically_increasing_id() + F.lit(id_offset + 1)
    return (
        df.withColumn("id", id_col)
        .withColumn("created_at", now)
        .withColumn("updated_at", now)
    )


@single_writer("path")
def overwrite_parquet(df: DataFrame, path: str) -> None:
    """S6: full refresh, published as a journaled whole-dir swap.

    Spark's native overwrite DELETES the target before writing, so a
    crash mid-write (or mid-job failure) leaves a partial or empty table
    — the reference's DROP/CREATE has the same window
    (sync_ALL.py:198-214), but a warehouse serving concurrent readers
    (the SQL surface, a pinned generation) must publish old-or-new, never
    a mix. Existing targets stage the new state aside and swap it in
    through the rebucket journal; a first-time write has no old data to
    lose and goes direct."""
    # Unconditional: a crash between the two swap renames leaves the live
    # dir missing with journal+staged present — guarded behind
    # os.path.exists(path), that window would take the first-time branch
    # and write fresh data UNDER a live journal (the next recovery would
    # then clobber it with the stale staged copy, or wedge on ENOTEMPTY).
    _recover_interrupted_rebucket(path)
    if not os.path.exists(path):
        df.write.mode("overwrite").parquet(path)
        return
    staged = path.rstrip("/") + "__rebucket_staged"
    retired = path.rstrip("/") + "__rebucket_retired"
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    df.write.mode("overwrite").parquet(staged)
    _commit_whole_dir_swap(path, staged, retired)


def overwrite_and_count(spark: SparkSession, df: DataFrame, path: str) -> int:
    """``overwrite_parquet``, returning the row count of the WRITTEN files
    (parquet footer metadata) — counting ``df`` would re-run its whole
    source plan. The read takes ``df``'s schema: inferring it from the
    files costs a Spark job of its own, and a count reads no column."""
    overwrite_parquet(df, path)
    return spark.read.schema(df.schema).parquet(path).count()


@single_writer("path")
def append_parquet(df: DataFrame, path: str) -> None:
    """S5: bulk append.

    Takes the writer lock and runs swap recovery first: an append landing
    inside a crashed journaled-swap window would otherwise write into the
    doomed old dir (rows silently dropped when recovery parks it) or
    recreate a mid-swap live dir (wedging recovery on ENOTEMPTY)."""
    _recover_interrupted_rebucket(path)
    df.write.mode("append").parquet(path)


def drop_path(path: str) -> None:
    """S8: drop sink."""
    if os.path.exists(path):
        shutil.rmtree(path)


@single_writer("path")
def compact_parquet(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> dict[str, int]:
    """Compact a parquet dataset to ~target-sized files.

    Repeated appends (streaming micro-batches, insert-only merges) accrete
    small files; scans then pay per-file open cost and tiny row groups.
    Rewrites the dataset into ``ceil(bytes / target)`` files via a staged
    swap. A hive-partitioned layout (e.g. the ``_kb=`` bucketed merge
    target) is PRESERVED — flattening it would leave the next dynamic
    partition overwrite unable to replace the compacted root files, i.e.
    stale duplicate rows. Partitioned inputs are rewritten with
    ``partitionBy`` (one task per partition value → one file per bucket).
    Returns {'files_before', 'files_after', 'bytes'}.
    """
    import math

    _recover_interrupted_rebucket(path)
    # A bucketed target may also carry an interrupted BUCKET swap (the
    # _merge_swap_journal): without repair, spark.read silently reads the
    # table minus the parked bucket and the whole-dir swap below would
    # then destroy the only surviving copy of it.
    _recover_interrupted_swap(path)
    _gc_orphan_swap_staging(path)
    total = 0
    n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n_files += 1
    if n_files == 0:
        return {"files_before": 0, "files_after": 0, "bytes": 0}
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    part_cols = [
        d.split("=", 1)[0]
        for d in sorted(os.listdir(path))
        if "=" in d and os.path.isdir(os.path.join(path, d))
    ]
    part_cols = list(dict.fromkeys(part_cols))
    df = spark.read.parquet(path)
    # Journaled whole-dir swap (see _commit_whole_dir_swap): the old
    # unjournaled rmtree+replace lost the whole dataset if the crash
    # landed between the two.
    staged = path.rstrip("/") + "__rebucket_staged"
    retired = path.rstrip("/") + "__rebucket_retired"
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    if part_cols:
        # One shuffle keyed on the partition columns → one output file per
        # partition dir; cold partitions still rewrite here, so at true
        # scale call this per dirty-partition subset instead.
        df.repartition(*[F.col(c) for c in part_cols]).write.mode(
            "overwrite"
        ).partitionBy(*part_cols).parquet(staged)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(staged)
    # Root-level `_*.json` sidecars (e.g. an index's `_ivf_meta.json`
    # centroid store — invisible to Spark scans, load-bearing for the
    # index) must survive the swap. The bucket-swap journal is NOT a
    # sidecar: propagating a live one into the new layout would make the
    # next merge's recovery raise after its backup was already retired.
    for f in os.listdir(path):
        if f.startswith("_") and f.endswith(".json") and f != MERGE_JOURNAL:
            shutil.copy2(os.path.join(path, f), os.path.join(staged, f))
    _commit_whole_dir_swap(path, staged, retired)
    after = sum(
        1
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    return {"files_before": n_files, "files_after": after, "bytes": total}


def write_range_sorted(
    df: DataFrame, path: str, sort_col: str, num_files: int = 8
) -> None:
    """Write parquet globally range-ordered on ``sort_col``: one range
    shuffle (sampled split points) + sort-within-partitions, so every file
    owns a disjoint value range and every row group is internally ordered.
    Scans filtered on ``sort_col`` then skip whole files/row-groups via
    parquet min/max stats — at 100 TB this is the difference between
    touching one day's files and scanning the corpus. (The write-side
    equivalent of partitionBy for high-cardinality order keys like
    timestamps, without the tiny-directory explosion.)"""
    (
        df.repartitionByRange(num_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-bucketed warehouse table: the shuffle-FREE co-location layout.

    The catalog records the bucketing spec, so a join or aggregation of
    two tables bucketed identically on the join key compiles with NO
    Exchange on either side — repeated fact↔state syncs, the dominant
    workload at 100 TB, stop shuffling the big tables entirely (pinned in
    tests/test_plans.py: two bucketed sides, broadcast disabled, zero
    Exchange operators in the join plan). ``sort_cols`` additionally
    sorts within each bucket file, letting SortMergeJoin skip its sort.

    This must go through ``saveAsTable`` — path-based parquet has nowhere
    to carry bucket metadata; reads come back via ``spark.table(name)``.
    The bucket count is part of the contract: co-location only applies
    between tables with the SAME count (use powers of two so a 2× rescale
    can split buckets pairwise)."""
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_jdbc_append(df: DataFrame, url: str, table: str, properties: dict[str, str], batchsize: int = 1000) -> None:
    """S5 against a real RDBMS: executor-parallel batched inserts
    (reference: executemany per 1000 rows, single connection)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchsize)
        .options(**properties)
        .mode("append")
        .save()
    )


def _cow_rows(
    plan: MergePlan,
    key_cols: list[str],
    target_path: str,
    scope: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """The rows a copy-on-write lander writes: ``scope`` (the target rows
    being rewritten) minus the updated keys, ∪ the updated rows (keeping
    their target ``id``/``created_at``, ``updated_at`` refreshed), ∪ the
    inserted rows with fresh ids. ``scope=None`` yields the inserted rows
    only (the flat insert-only append). The wide source rows come from
    ONE re-scan joined against the small dirty set (``_fetch_dirty_rows``)
    — never a table-sized cache. Returns (rows, the cached dirty source
    rows the caller unpersists after the write)."""
    extra = [BUCKET_COL] if plan.num_buckets else []
    data_cols = [
        c
        for c in plan.tgt.columns
        if c not in AUDIT_COLS and c not in (BUCKET_COL, cdc.KEY_COL)
    ]
    cols = [*data_cols, "row_hash", cdc.KEY_COL, "id", "created_at", "updated_at", *extra]
    src_dirty = _fetch_dirty_rows(
        plan.hashed,
        plan.dirty_ops,
        key_cols,
        plan.insert + plan.update,
        carry=[cdc.OP_COL, "row_hash", cdc.KEY_COL, *extra],
    ).cache()
    parts = []
    if scope is not None:
        tgt_k = cdc.ensure_cdc_key(scope, key_cols)
        upd_keys = _maybe_broadcast(
            plan.dirty_ops.filter(F.col(cdc.OP_COL) == cdc.UPDATE).select(cdc.KEY_COL),
            plan.update,
        )
        # The updated rows' audit identity comes from the target —
        # pre-filtered to the updated keys so the join's build side is tiny.
        tgt_upd = tgt_k.select(cdc.KEY_COL, "id", "created_at").join(
            upd_keys, cdc.KEY_COL, "left_semi"
        )
        updated = (
            src_dirty.filter(F.col(cdc.OP_COL) == cdc.UPDATE)
            .join(_maybe_broadcast(tgt_upd, plan.update), cdc.KEY_COL)
            .withColumn("updated_at", F.current_timestamp())
        )
        parts = [
            tgt_k.join(upd_keys, cdc.KEY_COL, "left_anti").select(*cols),
            updated.select(*cols),
        ]
    if plan.insert > 0:
        # max(id) is a full-target scan without footer stats — only pay
        # it when inserting.
        inserted = with_audit_columns(
            src_dirty.filter(F.col(cdc.OP_COL) == cdc.INSERT).select(
                *data_cols, "row_hash", cdc.KEY_COL, *extra
            ),
            key_cols,
            id_offset=_id_offset(target_path, plan.tgt),
        )
        parts.append(inserted.select(*cols))
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    return rows, src_dirty


@single_writer("target_path")
def merge_upsert_partitioned(
    spark: SparkSession,
    src: DataFrame,
    target_path: str,
    key_cols: list[str],
    hash_cols: list[str] | None = None,
    num_buckets: int = 64,
    digest_prune: bool = True,
    src_digest: dict[int, tuple[int, int, int]] | None = None,
    tgt_digest: dict[int, tuple[int, int, int]] | None = None,
) -> dict[str, int]:
    """S7 at scale: MERGE that rewrites ONLY the key-hash buckets containing
    changed or new keys, via dynamic partition overwrite.

    State layout: parquet partitioned by ``_kb = pmod(xxhash64(key), N)``.
    A merge classifies as usual, finds the distinct dirty buckets, rebuilds
    just those partitions (unchanged rows of dirty buckets ∪ updates ∪
    inserts) and overwrites them in place — clean buckets are never read
    for the write and never rewritten. With updates touching k% of keys
    localized in b buckets, write cost is b/N of the full rewrite; the
    classify join also prunes its target scan to dirty buckets' files on
    the update side.

    This is the plan shape of Delta's MERGE with partition pruning, with no
    non-core dependency. A driver-local ``src`` (a ``LocalRelation`` of
    at most ``driver_mor.DRIVER_BATCH_MAX_KEYS`` rows) rewrites its dirty
    buckets on the zero-job driver plane instead
    (``driver_mor.trickle_merge_bucketed``; result ``driver=True``).
    """
    _recover_interrupted_rebucket(target_path)
    if os.path.exists(target_path):
        num_buckets = _resolve_num_buckets(target_path, num_buckets)
    if _state_absent(target_path):
        # The normalized _cdc_key is persisted alongside row_hash: later
        # syncs read both from parquet instead of re-running the normalize
        # expression over the whole target.
        out = with_audit_columns(
            cdc.with_cdc_key(hash_source(src, hash_cols), key_cols).withColumn(
                BUCKET_COL, cdc.bucket_of(num_buckets)
            ),
            key_cols,
        )
        # Align the shuffle with the output layout: one task per bucket →
        # one file per bucket dir. Without this, every writing task spills
        # a file into every bucket it touches and the target accretes
        # num_tasks × num_buckets small files that all later scans pay for.
        # Each bucket file is KEY-SORTED: parquet row-group min/max stats
        # on _cdc_key then become disjoint ranges, so any later In(key)
        # pushdown (the MOR identity fetch, key deletes) skips row groups
        # inside a bucket — the second pruning level under the _kb= dir
        # pruning, and the one that matters when a bucket is 100s of MB.
        out = out.repartition(num_buckets, F.col(BUCKET_COL)).sortWithinPartitions(
            BUCKET_COL, cdc.KEY_COL
        )
        out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(target_path)
        _write_bucket_meta(target_path, num_buckets)
        # Count the WRITTEN files (parquet footer metadata, no recompute) —
        # counting `out` would re-run the whole hash+normalize plan.
        n = spark.read.parquet(target_path).count()
        return {"insert": n, "update": 0, "skip": 0, "buckets_rewritten": num_buckets}

    _recover_interrupted_swap(target_path)
    _gc_orphan_swap_staging(target_path)
    if src_digest is None and tgt_digest is None:
        # A driver-local KB-sized batch takes the zero-job driver plane
        # (sinks/driver_mor.py); anything else falls through unchanged.
        from presencia_etl_spark.sinks import driver_mor

        r = driver_mor.merge_local(
            spark, src, target_path, key_cols, hash_cols, num_buckets=num_buckets
        )
        if r is not None:
            return r
    tgt = spark.read.parquet(target_path)
    if BUCKET_COL not in tgt.columns:
        # An implicit flat→bucketed migration can't be made crash-safe
        # (root-level files and _kb= dirs would coexist mid-swap and
        # double-count); make the layout switch an explicit operator step.
        raise ValueError(
            f"target {target_path!r} is not bucketed (no {BUCKET_COL} "
            "column): it was created by the flat merge. Rebuild the state "
            "with merge_upsert_partitioned from a full load, or keep "
            "syncing it with merge_upsert_parquet."
        )

    def view(_narrow: DataFrame, kb: list[int] | None) -> DataFrame:
        # Directory-level prune: only the dirty micro-buckets' _kb= dirs.
        return key_hash_view(
            tgt if kb is None else tgt.filter(in_list(BUCKET_COL, kb)), key_cols
        )

    plan = plan_merge(
        src, target_path, key_cols, hash_cols, view, num_buckets=num_buckets,
        tgt=tgt, digest_prune=digest_prune, src_digest=src_digest,
        tgt_digest=tgt_digest,
    )
    result = {
        "insert": plan.insert, "update": plan.update, "skip": plan.skip,
        "buckets_rewritten": 0,
    }
    if not plan.changed:
        plan.release()
        plan.save_scanned_digest()
        return result
    new_dig = plan.fold_digest()
    dirty = plan.buckets(cdc.INSERT, cdc.UPDATE)
    if plan.rewrite_all:
        # Schema drift (and the one-time _cdc_key backfill) must reach
        # EVERY bucket — pruning would leave clean buckets with the old
        # file schema (silent truncation on read).
        dirty = sorted(
            set(dirty)
            | {r[BUCKET_COL] for r in tgt.select(BUCKET_COL).distinct().collect()}
        )
    # CRASH SAFETY: stage the rebuilt dirty buckets to a temp dir FIRST
    # (the job reads the live target while computing them — a dynamic
    # partition overwrite of the same path would destroy its own input on a
    # mid-commit failure or stage retry), then swap each _kb= directory
    # into place with two renames. Python exceptions roll back inline; a
    # HARD crash (SIGKILL/power loss) mid-swap can leave a bucket absent,
    # so a journal is written under the target before the first rename and
    # removed after the last — `_recover_interrupted_swap` (run at the top
    # of every merge) completes or rolls back any journaled swap, and the
    # idempotent merge then converges the remaining buckets.
    src_dirty = None
    staged = _swap_staging_dir(target_path, "merge")
    try:
        # Partition-pruned target scan: only dirty buckets are read.
        new_parts, src_dirty = _cow_rows(
            plan, key_cols, target_path, plan.tgt.filter(in_list(BUCKET_COL, dirty))
        )
        # One task per dirty bucket → one file per rebuilt bucket dir (see
        # the initial-load comment; keeps target file count == bucket count
        # across arbitrarily many merges), key-sorted like the initial load
        # so rewrites preserve the row-group-skipping layout.
        new_parts = new_parts.repartition(
            max(len(dirty), 1), F.col(BUCKET_COL)
        ).sortWithinPartitions(BUCKET_COL, cdc.KEY_COL)
        new_parts.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staged)
        swap_bucket_dirs(staged, target_path, dirty)
    finally:
        # Caches release on failure too — a failed merge must not leak
        # persisted frames for the session lifetime.
        plan.release()
        if src_dirty is not None:
            src_dirty.unpersist()
        # After an INCOMPLETE inline rollback the live journal still
        # references staged (a bucket's only copy may be parked there) —
        # recovery owns the cleanup then.
        if not _staged_is_journaled(target_path, staged):
            shutil.rmtree(staged, ignore_errors=True)
    digest_store.save(target_path, new_dig)
    return {**result, "buckets_rewritten": len(dirty)}


@single_writer("target_path")
def merge_upsert_parquet(
    spark: SparkSession,
    src: DataFrame,
    target_path: str,
    key_cols: list[str],
    hash_cols: list[str] | None = None,
    digest_prune: bool = True,
    src_digest: dict[int, tuple[int, int, int]] | None = None,
    tgt_digest: dict[int, tuple[int, int, int]] | None = None,
) -> dict[str, int]:
    """S7: staged MERGE into a parquet target; returns bucket counts.

    Semantics = reference incremental sync: INSERT new keys, UPDATE changed
    hashes (updated_at refreshed, created_at/id preserved), SKIP identical.
    Never deletes (trap N6). Schema drift (source grew/dropped a column) is
    absorbed by ``merge_plan._widen_for_drift``. The default hash scope
    excludes the audit envelope (mirrors the partitioned variant — audit
    values must never feed row identity).
    """
    # A crash mid-swap may have left the live dir renamed away — recover
    # BEFORE the existence check, or the merge below would re-run the
    # initial load over a table that still exists (fresh ids/created_at
    # for every row).
    _recover_interrupted_rebucket(target_path)
    if _state_absent(target_path):
        # Persist the normalized _cdc_key alongside row_hash so later
        # syncs read both from parquet instead of recomputing.
        out = with_audit_columns(
            cdc.with_cdc_key(hash_source(src, hash_cols), key_cols), key_cols
        )
        n = overwrite_and_count(spark, out, target_path)
        return {"insert": n, "update": 0, "skip": 0}

    tgt = spark.read.parquet(target_path)
    if BUCKET_COL in tgt.columns:
        raise ValueError(
            f"target {target_path!r} is bucketed ({BUCKET_COL} present): "
            "sync it with merge_upsert_partitioned — the flat merge would "
            "silently flatten the pruned layout."
        )
    plan = plan_merge(
        src, target_path, key_cols, hash_cols,
        lambda _narrow, _kb: key_hash_view(tgt, key_cols), tgt=tgt,
        digest_prune=digest_prune, src_digest=src_digest, tgt_digest=tgt_digest,
    )
    result = {"insert": plan.insert, "update": plan.update, "skip": plan.skip}
    if not plan.changed:
        # No-change pass (the idempotency invariant): nothing to write.
        # (Digest-dirty buckets with zero changes = source-missing keys;
        # the flat merge never deletes, so the state — and its digest —
        # is untouched.)
        plan.release()
        plan.save_scanned_digest()
        return result
    # The merge WILL publish: fold the classified changes into the digest
    # now, save after the table write lands so the fingerprint binds
    # digest to files.
    new_dig = plan.fold_digest()
    # Insert-only pass — the common incremental shape — is a pure append
    # (the reference's batched INSERT path). Skipped under drift: appended
    # files would carry the widened schema while old files keep the
    # narrow one. Updates present → staged whole-dir rewrite: unchanged ∪
    # updated ∪ inserted, published through overwrite_parquet's journaled
    # swap (parquet overwrite of a path the plan also reads would corrupt
    # its own source).
    append = plan.update == 0 and not plan.rewrite_all
    src_dirty = None
    try:
        rows, src_dirty = _cow_rows(
            plan, key_cols, target_path, None if append else plan.tgt
        )
        if append:
            rows.write.mode("append").parquet(target_path)
        else:
            overwrite_parquet(rows, target_path)
    finally:
        # Caches release on failure too — a failed merge must not leak
        # persisted frames for the session lifetime.
        plan.release()
        if src_dirty is not None:
            src_dirty.unpersist()
    digest_store.save(target_path, new_dig)
    return result
