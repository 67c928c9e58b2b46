"""Zero-Spark-job merges for KB-sized change batches: the driver plane
of the public bucketed merges.

The steady state of a maintained view / cron CDC loop is a HANDFUL of
changed rows per tick; running them through the full Spark merge costs a
fixed cascade of ~20 jobs (classify collects, identity fetch, landing
write, digest fold) whatever the size. Here the WHOLE merge runs on the
driver with pyarrow instead, in one core and two landers — the driver
twin of ``sinks/merge_plan.plan_merge`` and its Spark landers:

- ``plan_batch`` — THE driver classify: key/hash/bucket per row
  (``functions/driver_parity``: bit parity with the Spark expressions,
  differential-tested), a point read of the live rows pruned to the
  affected ``_kb=`` buckets' files, INSERT/UPDATE/SKIP, update identity
  carried over, insert ids from footer stats, the digest-sidecar fold;
- ``trickle_merge`` — the MOR lander: one key-sorted delta file
  committed through the exact staging-dir + ``os.rename`` protocol of
  ``mor._commit_delta`` (upserts and tombstones, one sequence);
- ``trickle_merge_bucketed`` — the bucketed-COW lander: each dirty
  bucket rewritten as one key-sorted file in Spark's column order and
  published through the same journaled ``writers.swap_bucket_dirs``.

``merge_local`` is the route: ``mor.merge_upsert_mor`` and
``writers.merge_upsert_partitioned`` hand it their source, and a
driver-local frame (``local_rows``: a ``LocalRelation`` of at most
``DRIVER_BATCH_MAX_KEYS`` rows, e.g. ``createDataFrame`` over pandas or
arrow) lands here through ``try_trickle``, the one gate every zero-job
path shares (the replication feed and the view refreshes call the MOR
lander with rows they read driver-side). Zero Spark jobs; the JVM is
touched only via py4j for the rare double value outside the proven
rendering region.

The resulting state is indistinguishable from a Spark-path merge: same
layout (key-sorted files, Spark's column order), same audit columns,
same sidecar algebra (load → fold → save after publish).
``tests/test_driver_mor.py`` asserts bit-level equivalence (row hashes,
digests, live content) against the Spark merge over randomized
sequences, through the public merges too, and that Spark merges /
compactions / change-feed reads compose transparently on top of
driver-written files.

Anything this path cannot reproduce exactly — unsupported column types,
schema or type drift, a crash journal needing Spark-side repair, a
fileless base, duplicate batch keys, oversized batches or buckets —
raises ``DriverDecline`` and the caller runs the ordinary Spark merge.
Declines trade speed, never correctness.

Scale note: "driver-side" here is not a single-node shortcut — it is
the metadata plane of a 100 TB deployment. The point reads touch
O(changed keys) row groups via footer stats (the files are key-sorted
precisely for this), the digest sidecar is ≤16K rows, a MOR commit
writes one small file, and a COW rewrite is bounded by
``DRIVER_REWRITE_MAX_BYTES`` of dirty buckets. An object-store port
swaps the ``os.rename`` publish exactly as ``mor._commit_delta`` does
(docs/SCALE.md).
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import threading
import uuid
import warnings
from dataclasses import dataclass, field

from presencia_etl_spark.functions import driver_parity as dp
from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks import digest_store
from presencia_etl_spark.sinks.locking import state_lock
from presencia_etl_spark.sinks.mor import (
    BASE_DIR,
    DELETED_COL,
    DELTA_DIR,
    SEQ_COL,
    STAGING_PREFIX,
    _delta_seqs,
    _gc_orphan_staging,
    _meta_path,
    _next_seq,
    _read_meta,
    _write_meta,
)
from presencia_etl_spark.sinks.writers import (
    AUDIT_COLS,
    BUCKET_COL,
    MERGE_JOURNAL,
    _max_id_stat,
    _staged_is_journaled,
    _swap_staging_dir,
    is_spark_hidden,
    swap_bucket_dirs,
)

# A driver merge past this many affected keys would stop being the
# trickle shape (point reads degrade toward a scan) — callers gate on it
# and fall back to the Spark path, same constant family as
# mor.KEY_PUSHDOWN_LIMIT. This is THE one trickle row/key bound: the
# streaming micro-batch fast path samples rows against it too (a row
# carries at most one key, so rows ≤ bound ⇒ keys ≤ bound; the r11
# 2048-row cap was an unjustified second constant).
DRIVER_BATCH_MAX_KEYS = 4096
# The bytes a driver lander may read and rewrite in one pyarrow pass
# (the maintained agg snapshot, a bucketed-COW tick's dirty buckets):
# past it the rewrite is corpus-shaped and belongs on the executors.
DRIVER_REWRITE_MAX_BYTES = 32 << 20


def trickle_enabled() -> bool:
    """The driver-plane kill switch — one env knob for every zero-job
    trickle path (the public bucketed merges, replication feed, view/agg
    refresh). ``SPARK_GRAFT_DRIVER_TRICKLE=0`` forces the Spark paths."""
    return os.environ.get("SPARK_GRAFT_DRIVER_TRICKLE", "1") != "0"


class DriverDecline(Exception):
    """This batch/state can't be handled driver-side exactly — run the
    Spark path. Never raised for something the Spark path would also
    reject. ``reason`` is a short stable tag for the decline-telemetry
    counters (``decline_counts``)."""

    def __init__(self, msg: str, reason: str = "other"):
        super().__init__(msg)
        self.reason = reason


# Decline telemetry: why the driver plane fell back to Spark-path costs,
# counted per stable reason tag. A deployment whose steady state
# silently stopped being zero-job sees it here (bench emits the dict).
# Trickle paths run on several threads (streaming foreachBatch vs
# main-thread refreshes) — the counter mutates under a lock.
_DECLINES: dict[str, int] = {}
_DECLINES_MU = threading.Lock()


def record_decline(reason: str) -> None:
    with _DECLINES_MU:
        _DECLINES[reason] = _DECLINES.get(reason, 0) + 1


def decline_counts(reset: bool = False) -> dict[str, int]:
    """Snapshot (optionally reset) of the per-reason decline counters
    accumulated by ``try_trickle`` since process start / last reset."""
    with _DECLINES_MU:
        out = dict(_DECLINES)
        if reset:
            _DECLINES.clear()
    return out


def try_trickle(
    driver_fn,
    *,
    pending_bytes: int | None = None,
    max_bytes: int | None = None,
    on_compact=None,
    idempotent: bool = True,
    on_failure=None,
):
    """THE trickle gate — the one code path deciding driver-vs-Spark for
    every zero-job fast path (the public bucketed merges, replication
    feed catch-up, maintained-view refresh). Owns, in order:

    1. size bound — ``pending_bytes > max_bytes`` is the corpus shape,
       not a decline (FS-metadata decision, per the CLAUDE.md rule);
    2. the ``SPARK_GRAFT_DRIVER_TRICKLE=0`` kill switch;
    3. running ``driver_fn`` (returns the result dict, raises
       ``DriverDecline`` for shapes it can't reproduce exactly);
    4. decline handling — ``DriverDecline`` AND unexpected pyarrow/OS
       errors both return None (reason-counted) so the caller runs the
       Spark path. Swallowing a post-publish error is safe ONLY for an
       idempotent consumer: a hash-classified upsert re-applied by the
       Spark path classifies the landed rows as SKIP, and a stale digest
       sidecar only costs a scan fallback, never wrong data. A consumer
       whose publish is an ARITHMETIC rewrite (the agg fold) must pass
       ``idempotent=False`` with an ``on_failure`` recovery callback —
       the gate then runs ``on_failure()`` after any post-invoke failure
       (decline or error) and returns its result when it reports the
       publish already landed (non-None), so no call site can forget the
       double-apply guard; ``idempotent=False`` without ``on_failure``
       raises at call time. ``on_failure`` never runs for pre-invoke
       skips (size bound / kill switch) — ``driver_fn`` never executed,
       so there is nothing to recover;
    5. ``compaction_due`` escalation — when the result asks for it and
       ``on_compact`` is given, it runs (Spark-side) and the result
       gains ``compacted=True``.

    Returns the driver result dict, or None → caller takes the Spark
    path."""
    import pyarrow as pa

    if not idempotent and on_failure is None:
        raise ValueError(
            "a non-idempotent trickle consumer must supply on_failure — "
            "the swallowed-post-publish-error recovery is not optional"
        )
    if pending_bytes is not None and max_bytes is not None:
        if pending_bytes > max_bytes:
            return None
    if not trickle_enabled():
        return None
    try:
        r = driver_fn()
    except DriverDecline as e:
        record_decline(e.reason)
        if on_failure is not None:
            return on_failure()
        return None
    except (OSError, pa.lib.ArrowException) as e:
        # unexpected environment/arrow failure on the fast path must
        # never crash a pipeline the Spark path could finish
        record_decline("error")
        warnings.warn(f"driver trickle path failed unexpectedly: {e!r}")
        if on_failure is not None:
            return on_failure()
        return None
    if r is not None and r.pop("compaction_due", False):
        if on_compact is not None:
            on_compact()
            r["compacted"] = True
        else:
            r["compaction_due"] = True  # caller owns escalation
    return r


# --------------------------------------------------------------------------
# Arrow type → renderer kind
# --------------------------------------------------------------------------


def _kind_of(arrow_type) -> str:
    import pyarrow as pa

    t = arrow_type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_int8(t):
        return "int8"
    if pa.types.is_int16(t):
        return "int16"
    if pa.types.is_int32(t):
        return "int32"
    if pa.types.is_int64(t):
        return "int64"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    raise DriverDecline(
        f"unsupported driver-side column type: {t}", reason="unsupported_type"
    )


_INT_KINDS = {"int8", "int16", "int32", "int64"}


def _value_matches_kind(value, kind: str) -> bool:
    """Is this Python value exactly the kind the target column holds?
    The hash renderer would happily render a drifted value with the
    TARGET's kind (float 2.0 into an int64 column → '2'), which silently
    diverges row_hash from what the Spark merge (hashing the source's
    own type: '2.0') would produce — so type drift must DECLINE before
    any hashing. bool is an int subclass and datetime a date subclass in
    Python; both are explicitly separated here."""
    if value is None:
        return True
    if kind == "string":
        return isinstance(value, str)
    if kind in _INT_KINDS:
        return isinstance(value, int) and not isinstance(value, bool)
    if kind == "bool":
        return isinstance(value, bool)
    if kind == "double":
        # int into a double column renders identically on both paths
        # (Spark's long→double cast then double→string); accept it.
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if kind == "date":
        return isinstance(value, datetime.date) and not isinstance(
            value, datetime.datetime
        )
    if kind == "timestamp":
        return isinstance(value, datetime.datetime)
    return False


def check_batch_kinds(rows: list[dict], kinds: dict[str, str]) -> None:
    """Raise ``DriverDecline`` when any batch value's Python type doesn't
    match the target column's kind (pre-computed row_hash/_cdc_key
    strings are exempt — they're trusted verbatim)."""
    for row in rows:
        for c, v in row.items():
            if c in ("row_hash", cdc.KEY_COL):
                if v is not None and not isinstance(v, str):
                    raise DriverDecline(
                        f"pre-computed {c!r} must be a string, got "
                        f"{type(v).__name__}",
                        reason="type_drift",
                    )
                continue
            k = kinds.get(c)
            if k is not None and not _value_matches_kind(v, k):
                raise DriverDecline(
                    f"type drift: column {c!r} holds {type(v).__name__} "
                    f"but the target column kind is {k!r}",
                    reason="type_drift",
                )


def table_kinds(path: str) -> dict[str, str]:
    """Column → renderer kind for the state at ``path``, from one parquet
    footer (a MOR state's base preferred, else a delta; else any file —
    the bucketed COW layout). Raises ``DriverDecline`` when any column's
    type has no exact driver-side rendering."""
    import pyarrow.parquet as pq

    f = (
        _any_parquet(os.path.join(path, BASE_DIR))
        or _any_parquet(os.path.join(path, DELTA_DIR))
        or _any_parquet(path)
    )
    if f is None:
        raise DriverDecline(
            f"{path!r}: no parquet footers to type from", reason="no_footers"
        )
    return _schema_kinds(pq.read_schema(f))


def _schema_kinds(sch) -> dict[str, str]:
    return {name: _kind_of(sch.field(name).type) for name in sch.names}


def _any_parquet(root: str) -> str | None:
    for r, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not is_spark_hidden(d)]
        for f in sorted(files):
            if f.endswith(".parquet") and not is_spark_hidden(f):
                return os.path.join(r, f)
    return None


def _to_rows(tbl) -> list[dict]:
    """Arrow table → python row dicts. Timestamp columns are safe-cast to
    microseconds first (Spark values are µs-aligned; a true-ns value
    can't round-trip the datetime rendering and must decline)."""
    import pyarrow as pa

    cols = {}
    for name in tbl.schema.names:
        col = tbl.column(name)
        t = col.type
        if pa.types.is_timestamp(t) and t.unit != "us":
            try:
                col = col.cast(pa.timestamp("us", tz=t.tz), safe=True)
            except pa.ArrowInvalid as e:
                raise DriverDecline(
                    f"column {name!r} holds sub-microsecond timestamps",
                    reason="sub_us_timestamp",
                ) from e
        cols[name] = col.to_pylist()
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*cols.values())] if names else []


def _read_filtered(path_or_files, key_filter: list[str] | None, columns=None):
    """One pyarrow dataset read over a dir or file list, In(key)-filtered
    (row groups pruned via the key-sorted files' footer stats)."""
    import pyarrow.dataset as pads

    dset = pads.dataset(path_or_files, format="parquet")
    flt = (
        pads.field(cdc.KEY_COL).isin(key_filter)
        if key_filter is not None
        else None
    )
    return dset.to_table(filter=flt, columns=columns)


# --------------------------------------------------------------------------
# Point reads
# --------------------------------------------------------------------------


def read_delta_range_rows(
    path: str, since_seq: int, as_of_seq: int | None = None
) -> list[dict]:
    """All delta rows with sequence in ``(since, as_of]`` — the raw
    material of ``read_mor_changes``, read file-by-file with pyarrow.
    Rows gain ``_delta_seq`` (from the dir name) and a normalized
    ``_deleted``. Caller is responsible for the latest-per-key fold."""
    meta = _read_meta(path)
    floor = meta.get("compacted_through", 0)
    if since_seq < floor:
        raise ValueError(
            f"changes since seq={since_seq} predate the last compaction "
            f"(compacted_through={floor})"
        )
    out: list[dict] = []
    for s in _delta_seqs(path):
        if s <= since_seq or (as_of_seq is not None and s > as_of_seq):
            continue
        ddir = os.path.join(path, DELTA_DIR, f"{SEQ_COL}={s}")
        for r in _to_rows(_read_filtered(ddir, None)):
            r[SEQ_COL] = s
            r.setdefault(DELETED_COL, None)
            r[DELETED_COL] = bool(r[DELETED_COL]) if r[DELETED_COL] else False
            out.append(r)
    return out


def latest_per_key(rows: list[dict]) -> dict[str, dict]:
    """``mor._delta_latest`` driver-side: per ``_cdc_key``, the row with
    the highest ``_delta_seq`` (a key appears at most once per delta)."""
    best: dict[str, dict] = {}
    for r in rows:
        cur = best.get(r[cdc.KEY_COL])
        if cur is None or r[SEQ_COL] > cur[SEQ_COL]:
            best[r[cdc.KEY_COL]] = r
    return best


def read_live_rows_for_keys(
    path: str, keys: list[str], as_of_seq: int | None = None
) -> dict[str, dict]:
    """The live (or ``as_of`` snapshot) row of each key, by point
    lookup: the key-filtered delta dirs decide overridden keys
    (tombstone → absent), the rest come from the keys' ``_kb=`` bucket
    files, In-filtered so footer stats skip non-matching row groups.
    Exactly ``read_mor(...buckets=...).filter(in_list(keys))``'s
    semantics, zero jobs."""
    if not keys:
        return {}
    meta = _read_meta(path)
    if as_of_seq is not None:
        floor = meta.get("compacted_through", 0)
        if as_of_seq < floor:
            raise ValueError(
                f"snapshot as_of_seq={as_of_seq} predates the last "
                f"compaction (compacted_through={floor})"
            )
    keyset = sorted(set(keys))
    decided: dict[str, dict] = {}
    for s in _delta_seqs(path):
        if as_of_seq is not None and s > as_of_seq:
            continue
        ddir = os.path.join(path, DELTA_DIR, f"{SEQ_COL}={s}")
        for r in _to_rows(_read_filtered(ddir, keyset)):
            r[SEQ_COL] = s
            r.setdefault(DELETED_COL, None)
            r[DELETED_COL] = bool(r[DELETED_COL]) if r[DELETED_COL] else False
            cur = decided.get(r[cdc.KEY_COL])
            if cur is None or s > cur[SEQ_COL]:
                decided[r[cdc.KEY_COL]] = r
    out = {
        k: {c: v for c, v in r.items() if c not in (SEQ_COL, DELETED_COL)}
        for k, r in decided.items()
        if not r[DELETED_COL]
    }
    base_keys = [k for k in keyset if k not in decided]
    out.update(_bucket_rows(os.path.join(path, BASE_DIR), base_keys, meta["num_buckets"]))
    return out


def _bucket_rows(root: str, keys: list[str], num_buckets: int) -> dict[str, dict]:
    """The rows of ``keys`` in a ``_kb=`` bucketed layout at ``root``.
    ONE dataset read over the union of the keys' bucket files (r14): the
    per-bucket loop issued one pads.dataset+to_table per dirty bucket
    (~6-9 ms each, serial — 0.6 s of a KB tick touching 67 buckets); a
    single scan over the same pruned file list applies the one In(keys)
    filter with arrow's internal fragment parallelism and identical
    row-group skipping. Rows only ever live in their own pmod bucket, so
    the global key filter matches exactly what the per-bucket subsets
    did, and the bucket column is recomputed from the key (the layout
    invariant the dirs encode)."""
    files = [
        f
        for b in sorted({dp.pmod_bucket(k, num_buckets) for k in keys})
        for f in _bucket_files(root, b)
    ]
    out: dict[str, dict] = {}
    if files:
        for r in _to_rows(_read_filtered(files, keys)):
            r[BUCKET_COL] = dp.pmod_bucket(r[cdc.KEY_COL], num_buckets)
            out[r[cdc.KEY_COL]] = r
    return out


# --------------------------------------------------------------------------
# Delta commit
# --------------------------------------------------------------------------


def _delta_schema(path: str):
    """The arrow schema a driver-written delta file must carry: an
    existing delta's footer (already the full layout) or the base footer
    + ``_kb``; ``_deleted`` appended when absent. Spark's own metadata
    blob is dropped (Spark re-infers from the parquet types)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = _any_parquet(os.path.join(path, DELTA_DIR))
    if f is not None:
        sch = pq.read_schema(f)
    else:
        f = _any_parquet(os.path.join(path, BASE_DIR))
        if f is None:
            raise DriverDecline(
                f"{path!r}: no parquet footers for a schema",
                reason="no_footers",
            )
        sch = pq.read_schema(f)
        sch = sch.append(pa.field(BUCKET_COL, pa.int32()))
    if DELETED_COL not in sch.names:
        sch = sch.append(pa.field(DELETED_COL, pa.bool_()))
    # drop spark's row-metadata: our file's physical types are authoritative
    return pa.schema(list(sch), metadata=None)


def commit_delta_rows(path: str, rows: list[dict]) -> int:
    """Land ``rows`` (full delta layout incl. ``_deleted``) as ONE
    key-sorted parquet file through the same staging + atomic-rename
    protocol as ``mor._commit_delta``. Returns the committed sequence."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sch = _delta_schema(path)
    rows = sorted(rows, key=lambda r: r[cdc.KEY_COL])
    data = {name: [r.get(name) for r in rows] for name in sch.names}
    tbl = pa.Table.from_pydict(data, schema=sch)
    meta = _read_meta(path)
    seq = _next_seq(path, meta)
    staged = os.path.join(path, DELTA_DIR, f"{STAGING_PREFIX}{seq}")
    os.makedirs(staged, exist_ok=True)
    pq.write_table(
        tbl,
        os.path.join(staged, "part-00000.parquet"),
        use_deprecated_int96_timestamps=True,  # match Spark's INT96 layout
        compression="snappy",
    )
    os.rename(staged, os.path.join(path, DELTA_DIR, f"{SEQ_COL}={seq}"))
    meta["seq"] = seq
    _write_meta(path, meta)
    return seq


# --------------------------------------------------------------------------
# The classify core
# --------------------------------------------------------------------------


def _data_cols(kinds: dict[str, str]) -> list[str]:
    return [
        c
        for c in kinds
        if c not in AUDIT_COLS
        and c not in (BUCKET_COL, cdc.KEY_COL, SEQ_COL, DELETED_COL)
    ]


def _max_id(*roots: str) -> int:
    """max(id) over the footer stats of ``roots``; the first (the base
    layout) must carry them, later ones (a delta dir) may be empty."""
    ids = [_max_id_stat(r) for r in roots]
    if ids[0] is None:
        raise DriverDecline("base lacks id footer stats", reason="no_id_stats")
    return int(max(i for i in ids if i is not None))


@dataclass
class DriverPlan:
    """A classified driver-side batch — the driver twin of
    ``merge_plan.MergePlan``. ``rows`` are the change rows in the state's
    layout (data + audit + ``_cdc_key`` + ``_kb`` + ``_deleted``):
    inserts with fresh ids, updates carrying their current
    ``id``/``created_at``, tombstones with the victim's last image.
    ``digest`` is the folded sidecar digest to save after the publish
    (None: no valid sidecar to keep)."""

    insert: int = 0
    update: int = 0
    skip: int = 0
    delete: int = 0
    rows: list[dict] = field(default_factory=list)
    digest: dict | None = None

    @property
    def changed(self) -> bool:
        return self.insert + self.update + self.delete > 0


def plan_batch(
    path: str,
    kinds: dict[str, str],
    upserts: list[dict],
    key_cols: list[str],
    *,
    live_rows,
    num_buckets: int,
    id_roots: tuple[str, ...],
    hash_cols: list[str] | None = None,
    delete_keys: list[str] | None = None,
    jvm=None,
) -> DriverPlan:
    """Classify a KB-sized batch against the state at ``path``, driver-
    side: key/hash/bucket per row, a point read of the live rows
    (``live_rows(keys) -> {key: row}``, the layout's reader),
    INSERT/UPDATE/SKIP, update identity carried from the current row,
    insert ids allocated past the footer-stats max of ``id_roots``,
    tombstones for the live ``delete_keys``, and the digest sidecar
    fold. Raises ``DriverDecline`` for anything it can't reproduce
    exactly."""
    data_cols = _data_cols(kinds)
    if upserts:
        # a batch may carry PRE-COMPUTED row_hash/_cdc_key (the
        # replication feed: hashes were computed over the source's RAW
        # strings and must be trusted, never recomputed over typed
        # values — cdc_classify's trust rule)
        batch_cols = set(upserts[0]) - {"row_hash", cdc.KEY_COL}
        if batch_cols != set(data_cols):
            raise DriverDecline(
                f"schema drift: batch columns {sorted(batch_cols)} != "
                f"state data columns {sorted(data_cols)}",
                reason="schema_drift",
            )
        check_batch_kinds(upserts, kinds)
    hcols = hash_cols or data_cols
    key_kinds = [kinds[c] for c in key_cols]

    # hash + key + bucket, the Spark merge's `keyed` frame in Python
    staged = []
    try:
        for row in upserts:
            k = row.get(cdc.KEY_COL) or dp.composite_key(
                [row[c] for c in key_cols], key_kinds, jvm
            )
            h = row.get("row_hash") or dp.row_hash_value(
                row, hcols, kinds, "sha256", jvm
            )
            staged.append((k, h, row))
    except dp.UnsupportedValue as e:
        # a value outside the proven rendering region with no JVM
        # gateway — the Spark path renders it exactly
        raise DriverDecline(str(e), reason="unrenderable") from e
    up_keys = {k for k, _h, _r in staged}
    if len(up_keys) < len(staged):
        raise DriverDecline(
            "duplicate keys within the batch — the Spark merge's "
            "arbitrary-winner semantics aren't reproduced here",
            reason="duplicate_keys",
        )
    # keys the batch also upserts are ignored (the upsert wins); the
    # change rows therefore carry each key at most once
    del_keys = [k for k in dict.fromkeys(delete_keys or []) if k not in up_keys]

    current = live_rows(sorted(up_keys | set(del_keys)))
    plan = DriverPlan()
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    digest_delta: list[tuple[int, int, int, int]] = []
    for k, h, row in staged:
        cur = current.get(k)
        mb = dp.xxhash64_str(k) % cdc.DIGEST_MICRO_BUCKETS
        if cur is None:
            plan.insert += 1
        elif cur["row_hash"] != h:
            plan.update += 1
        else:
            plan.skip += 1
            continue
        rec = dict(row)
        rec["row_hash"] = h
        rec[cdc.KEY_COL] = k
        rec[BUCKET_COL] = dp.pmod_bucket(k, num_buckets)
        rec["updated_at"] = now
        rec[DELETED_COL] = False
        h1n, h2n = dp.fold_pair(k, h)
        if cur is None:
            digest_delta.append((mb, 1, h1n, h2n))
        else:
            rec["id"] = cur["id"]
            rec["created_at"] = cur["created_at"]
            h1o, h2o = dp.fold_pair(k, cur["row_hash"])
            digest_delta.append((mb, 0, h1n ^ h1o, h2n ^ h2o))
        plan.rows.append(rec)
    for k in del_keys:
        cur = current.get(k)
        if cur is None:
            continue  # not live: an idempotent replay
        plan.delete += 1
        plan.rows.append({**cur, "updated_at": now, DELETED_COL: True})
        h1o, h2o = dp.fold_pair(k, cur["row_hash"])
        digest_delta.append(
            (dp.xxhash64_str(k) % cdc.DIGEST_MICRO_BUCKETS, -1, h1o, h2o)
        )
    if not plan.changed:
        return plan

    if plan.insert:
        nxt = _max_id(*id_roots)
        for rec in plan.rows:
            if "id" not in rec:
                nxt += 1
                rec["id"] = nxt
                rec["created_at"] = now
    # digest maintenance mirrors the Spark merge: load-only (never
    # seeds), loaded before anything is staged, saved by the lander
    # strictly after its publish
    tgt_dig = digest_store.load(path)
    if tgt_dig is not None:
        plan.digest = digest_store.apply_delta(tgt_dig, digest_delta)
    return plan


# --------------------------------------------------------------------------
# The MOR lander: one delta file
# --------------------------------------------------------------------------


def trickle_merge(
    path: str,
    upserts: list[dict],
    key_cols: list[str],
    delete_keys: list[str] | None = None,
    hash_cols: list[str] | None = None,
    compact_every: int | None = 16,
    jvm=None,
) -> dict:
    """``merge_upsert_mor(..., delete_keys=...)`` for a KB-sized batch,
    entirely driver-side. ``upserts`` are data-column dicts (no audit
    columns); ``delete_keys`` are already-normalized ``_cdc_key``
    strings. Classifies through ``plan_batch`` and commits upserts +
    tombstones as ONE atomic delta sequence. Raises ``DriverDecline``
    for anything it can't reproduce exactly (caller falls back to the
    Spark merge). Auto-compaction is NOT run here — the returned
    ``compaction_due`` flag lets the caller schedule a Spark-side
    compact."""
    delete_keys = list(delete_keys or [])
    if not os.path.exists(_meta_path(path)):
        raise DriverDecline(f"{path!r} is not a MOR state", reason="not_mor")
    if os.path.exists(os.path.join(path, BASE_DIR, MERGE_JOURNAL)):
        raise DriverDecline(
            "interrupted bucket swap needs Spark-side repair", reason="journal"
        )
    if len(upserts) + len(delete_keys) > DRIVER_BATCH_MAX_KEYS:
        raise DriverDecline(
            "batch exceeds the driver point-read bound", reason="batch_too_big"
        )

    with state_lock(path):
        _gc_orphan_staging(path)
        meta = _read_meta(path)
        if not _any_parquet(os.path.join(path, BASE_DIR)):
            raise DriverDecline(
                "fileless base needs Spark-side recovery", reason="fileless_base"
            )
        plan = plan_batch(
            path, table_kinds(path), upserts, key_cols,
            live_rows=lambda keys: read_live_rows_for_keys(path, keys),
            num_buckets=meta["num_buckets"],
            id_roots=(os.path.join(path, BASE_DIR), os.path.join(path, DELTA_DIR)),
            hash_cols=hash_cols, delete_keys=delete_keys, jvm=jvm,
        )
        result = {
            "insert": plan.insert, "update": plan.update, "skip": plan.skip,
            "delete": plan.delete, "delta_files": 0, "compacted": False,
            "compaction_due": False, "driver": True,
        }
        if not plan.changed:
            return result
        commit_delta_rows(path, plan.rows)
        digest_store.save(path, plan.digest)
        result["delta_files"] = 1
        result["compaction_due"] = (
            compact_every is not None and len(_delta_seqs(path)) >= compact_every
        )
        return result


# --------------------------------------------------------------------------
# The bucketed-COW lander: one key-sorted file per dirty bucket
# --------------------------------------------------------------------------

# The bucket files' column order after a rewrite — the order the Spark
# lander (``writers._cow_rows``) and the initial load write.
_COW_TAIL = ("row_hash", cdc.KEY_COL, "id", "created_at", "updated_at")


def _bucket_files(root: str, b: int) -> list[str]:
    bdir = os.path.join(root, f"{BUCKET_COL}={b}")
    if not os.path.isdir(bdir):
        return []
    return sorted(
        f
        for f in glob.glob(os.path.join(bdir, "*.parquet"))
        if not is_spark_hidden(os.path.basename(f))
    )


def _cow_schema(files: list[str], data_cols: list[str], fallback):
    """The arrow schema a rewritten bucket file carries: its current
    file's column types in Spark's rewrite order (data columns, then
    ``_COW_TAIL``), Spark's row metadata dropped like the delta commit's.
    A fully emptied (or absent) bucket takes ``fallback``'s. Several
    files of differing schemas decline."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = [pq.read_schema(f) for f in files] or [fallback]
    if any(not s.equals(schemas[0]) for s in schemas[1:]):
        raise DriverDecline(
            "bucket files of differing schemas", reason="schema_drift"
        )
    return pa.schema([schemas[0].field(c) for c in (*data_cols, *_COW_TAIL)])


def trickle_merge_bucketed(
    path: str,
    upserts: list[dict],
    key_cols: list[str],
    num_buckets: int,
    hash_cols: list[str] | None = None,
    jvm=None,
) -> dict:
    """``writers.merge_upsert_partitioned`` for a KB-sized batch, entirely
    driver-side: classify through ``plan_batch``, then rewrite each dirty
    bucket with pyarrow — its files minus the changed keys, plus the new
    rows, key-sorted, one INT96/snappy file — staged in the target and
    published through the journaled ``swap_bucket_dirs``; the digest
    sidecar is saved strictly after the publish. Declines a target
    without a persisted ``_cdc_key`` (the Spark path's one-time backfill
    rewrites every bucket), schema or type drift, a live swap journal,
    duplicate batch keys and oversized batches or buckets. A swap whose
    inline rollback is incomplete raises ``RuntimeError``, never a
    decline: the journal's recovery must run before any other merge."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if os.path.exists(os.path.join(path, MERGE_JOURNAL)):
        raise DriverDecline(
            "interrupted bucket swap needs Spark-side repair", reason="journal"
        )
    if len(upserts) > DRIVER_BATCH_MAX_KEYS:
        raise DriverDecline(
            "batch exceeds the driver point-read bound", reason="batch_too_big"
        )
    with state_lock(path):
        ref = _any_parquet(path)
        if ref is None:
            raise DriverDecline(
                f"{path!r}: no parquet footers to type from", reason="no_footers"
            )
        if not os.path.basename(os.path.dirname(ref)).startswith(f"{BUCKET_COL}="):
            # a flat state: the Spark path owns the layout error
            raise DriverDecline(f"{path!r} is not bucketed", reason="not_bucketed")
        ref_schema = pq.read_schema(ref)
        kinds = _schema_kinds(ref_schema)
        if cdc.KEY_COL not in kinds:
            raise DriverDecline(
                "target lacks a persisted _cdc_key (Spark-side backfill)",
                reason="no_cdc_key",
            )
        plan = plan_batch(
            path, kinds, upserts, key_cols,
            live_rows=lambda keys: _bucket_rows(path, keys, num_buckets),
            num_buckets=num_buckets, id_roots=(path,), hash_cols=hash_cols,
            jvm=jvm,
        )
        result = {
            "insert": plan.insert, "update": plan.update, "skip": plan.skip,
            "buckets_rewritten": 0, "driver": True,
        }
        if not plan.changed:
            return result
        by_bucket: dict[int, list[dict]] = {}
        for rec in plan.rows:
            by_bucket.setdefault(rec[BUCKET_COL], []).append(rec)
        files = {b: _bucket_files(path, b) for b in by_bucket}
        if sum(os.path.getsize(f) for fs in files.values() for f in fs) > (
            DRIVER_REWRITE_MAX_BYTES
        ):
            raise DriverDecline(
                "dirty buckets exceed the driver rewrite bound",
                reason="batch_too_big",
            )
        data_cols = _data_cols(kinds)
        staged = _swap_staging_dir(path, "merge")
        try:
            for b, recs in sorted(by_bucket.items()):
                sch = _cow_schema(files[b], data_cols, ref_schema)
                new = pa.Table.from_pydict(
                    {c: [r[c] for r in recs] for c in sch.names}, schema=sch
                )
                parts = [new]
                if files[b]:
                    cur = _read_filtered(files[b], None, columns=sch.names)
                    changed = pa.array([r[cdc.KEY_COL] for r in recs])
                    keep = cur.filter(pc.invert(pc.is_in(cur[cdc.KEY_COL], changed)))
                    parts.insert(0, keep.cast(sch))
                out = pa.concat_tables(parts).sort_by(cdc.KEY_COL)
                bdir = os.path.join(staged, f"{BUCKET_COL}={b}")
                os.makedirs(bdir)
                pq.write_table(
                    out,
                    os.path.join(bdir, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"),
                    use_deprecated_int96_timestamps=True,  # Spark's INT96 layout
                    compression="snappy",
                )
            try:
                swap_bucket_dirs(staged, path, sorted(by_bucket))
            except OSError as e:
                if getattr(e, "swap_rolled_back", True):
                    raise  # target untouched or fully rolled back
                # A bucket may now be missing from the target, its only
                # copy parked in `staged` and named by the live journal.
                # The gate must not swallow this into the Spark path:
                # that merge would classify the missing bucket's keys as
                # fresh INSERTs and its swap would overwrite the journal.
                # The error reaches the caller; the next merge's
                # _recover_interrupted_swap repairs the bucket.
                raise RuntimeError(
                    f"{path!r}: bucket swap failed and its inline rollback "
                    "is incomplete; the next merge repairs it from the journal"
                ) from e
        finally:
            # after an INCOMPLETE inline rollback the live journal still
            # references staged — recovery owns the cleanup then
            if not _staged_is_journaled(path, staged):
                shutil.rmtree(staged, ignore_errors=True)
        digest_store.save(path, plan.digest)
        return {**result, "buckets_rewritten": len(by_bucket)}


# --------------------------------------------------------------------------
# The public merges' route
# --------------------------------------------------------------------------

# Spark SQL type → renderer kind, for a source frame's declared columns.
_SPARK_KINDS = {
    "string": "string",
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "boolean": "bool",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
}


def check_source_kinds(
    src_kinds: dict[str, str | None], kinds: dict[str, str], cols
) -> None:
    """Raise ``DriverDecline`` unless every column in ``cols`` renders the
    same way from the source's Spark type as from the target's: the same
    kind, or two integral kinds (Spark renders int and bigint alike)."""
    for c in cols:
        s, t = src_kinds.get(c), kinds[c]
        if s is None:
            raise DriverDecline(
                f"source column {c!r} has no driver-side rendering",
                reason="unsupported_type",
            )
        if s != t and not (s in _INT_KINDS and t in _INT_KINDS):
            raise DriverDecline(
                f"type drift: source column {c!r} is {s!r}, target is {t!r}",
                reason="type_drift",
            )


def local_rows(df) -> list[dict] | None:
    """The rows of ``df`` when it is a driver-local batch — its optimized
    plan a ``LocalRelation`` of at most ``DRIVER_BATCH_MAX_KEYS`` rows,
    whose ``collect()`` runs zero Spark jobs — else None (the Spark path;
    not a decline). ``createDataFrame`` over pandas or an arrow table
    (and projections/filters over one, which Catalyst folds into the
    relation) qualifies; a list of tuples, ``spark.range`` and
    foreachBatch frames are ``LogicalRDD``/``Range`` plans and do not.
    The optimized plan, not ``isLocal()``, which is False for a
    projected local frame."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    if plan.data().size() > DRIVER_BATCH_MAX_KEYS:
        return None
    cols = df.columns
    ts = [i for i, f in enumerate(df.schema) if f.dataType.simpleString() == "timestamp"]
    rows = []
    for r in df.collect():
        vals = list(r)
        for i in ts:
            if vals[i] is not None:
                # collect() renders an instant as the process's local wall
                # time; the driver plane, like parquet, works in naive UTC
                vals[i] = vals[i].astimezone(datetime.timezone.utc).replace(tzinfo=None)
        rows.append(dict(zip(cols, vals)))
    return rows


def merge_local(
    spark,
    src,
    target_path: str,
    key_cols: list[str],
    hash_cols: list[str] | None = None,
    *,
    num_buckets: int | None = None,
    delete_keys=None,
    compact_every: int | None = None,
    on_compact=None,
) -> dict | None:
    """The driver plane of the public bucketed merges
    (``mor.merge_upsert_mor``, ``writers.merge_upsert_partitioned``):
    a driver-local ``src`` (and ``delete_keys`` frame, MOR only) runs
    ``trickle_merge`` — or ``trickle_merge_bucketed`` when
    ``num_buckets`` is given — through ``try_trickle``. Returns the
    driver result, or None: the caller's Spark path runs, unchanged."""
    if not trickle_enabled() or cdc.KEY_COL in src.columns:
        # a source carrying its own _cdc_key is a managed table re-fed
        # as a source: the Spark merge re-derives the key (and may hash
        # the column) where the driver core would trust it
        return None
    rows = local_rows(src)
    if rows is None:
        return None
    del_rows = None
    if delete_keys is not None:
        del_rows = local_rows(delete_keys)
        if del_rows is None:
            return None
    jvm = spark._jvm

    def land() -> dict | None:
        kinds = table_kinds(target_path)
        src_kinds = _frame_kinds(src)
        cols = _data_cols(src_kinds)
        if set(cols) != set(_data_cols(kinds)):
            if num_buckets is None:
                # the MOR drift fold's bucketed merge takes this route
                # once more and counts the one decline
                return None
            raise DriverDecline(
                f"schema drift: source columns {sorted(cols)} != state data "
                f"columns {sorted(_data_cols(kinds))}",
                reason="schema_drift",
            )
        # the Spark merge hashes the SOURCE's types, so a column whose
        # rendering differs from the target's declines
        check_source_kinds(src_kinds, kinds, cols)
        del_kinds = _frame_kinds(delete_keys) if del_rows is not None else {}
        if "timestamp" in {*src_kinds.values(), *del_kinds.values()} and spark.conf.get(
            "spark.sql.session.timeZone"
        ) not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            # the Spark merge renders timestamps in the session zone, the
            # driver renderer in UTC (the session factory's zone)
            raise DriverDecline("non-UTC session time zone", reason="session_tz")
        if num_buckets is not None:
            return trickle_merge_bucketed(
                target_path, rows, key_cols, num_buckets, hash_cols, jvm=jvm
            )
        dels = None
        if del_rows is not None:
            # the Spark path normalizes the frame's key columns with
            # their own types: same rendering rule as the upserts
            if not set(key_cols) <= set(del_kinds):
                raise DriverDecline(
                    "delete_keys frame lacks a key column", reason="schema_drift"
                )
            check_source_kinds(del_kinds, kinds, key_cols)
            try:
                dels = [
                    dp.composite_key(
                        [r[c] for c in key_cols], [kinds[c] for c in key_cols], jvm
                    )
                    for r in del_rows
                ]
            except dp.UnsupportedValue as e:
                raise DriverDecline(str(e), reason="unrenderable") from e
        return trickle_merge(
            target_path, rows, key_cols, delete_keys=dels, hash_cols=hash_cols,
            compact_every=compact_every, jvm=jvm,
        )

    return try_trickle(land, on_compact=on_compact)


def _frame_kinds(df) -> dict[str, str | None]:
    """Column → renderer kind of a Spark frame's declared types (None:
    no driver-side rendering)."""
    return {f.name: _SPARK_KINDS.get(f.dataType.simpleString()) for f in df.schema}
