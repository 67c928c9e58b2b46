"""The one classify core of the three Spark merge layouts.

The reference's incremental sync (``sync_INCREMENTAL.py``) has one rule:
hash each source row, then label it INSERT, UPDATE or SKIP against the
target. The flat COW merge (``writers.merge_upsert_parquet``), the
bucketed COW merge (``writers.merge_upsert_partitioned``) and the
merge-on-read merge (``mor.merge_upsert_mor``) all apply it through
``plan_merge``:

1. trust a pre-computed ``row_hash`` or compute one, derive ``_cdc_key``
   (and ``_kb`` on bucketed layouts) into ONE narrow source frame;
2. compare per-micro-bucket digests of source and target — the target
   side from the validated sidecar when one exists (zero target I/O),
   else one narrow scan — or, with ``digest_prune=False``, only load a
   valid sidecar so the merge can keep it valid;
3. return at once when the digests prove nothing changed;
4. join only the dirty micro-buckets' rows, classify, and cache the
   narrow result;
5. ONE bounded collect grouped by op (and bucket) gives the op counts
   and the dirty buckets.

The layouts differ only in how they build the target's key→hash view
(the ``tgt_view`` callable: a flat scan, a ``_kb``-directory-pruned scan,
or base ∪ latest delta) and in how they land the classified changes.
"""

from __future__ import annotations

import functools
import os
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from presencia_etl_spark.functions.partitioning import parallelize_scan
from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks import digest_store

AUDIT_COLS = ("id", "row_hash", "created_at", "updated_at")
BUCKET_COL = "_kb"


def _warn_audit_collisions(src: DataFrame) -> None:
    """A source data column named like the audit envelope (other than a
    trusted pre-computed row_hash) is silently shadowed by the surrogate
    audit value — a natural key called ``id`` would be LOST. Warn loudly;
    callers should rename before merging."""
    clash = [c for c in src.columns if c in AUDIT_COLS and c != "row_hash"]
    if clash:
        warnings.warn(
            f"source columns {clash} collide with the audit envelope "
            f"{AUDIT_COLS}; they will be replaced by surrogate audit values "
            "— rename them before merging if they carry data",
            stacklevel=4,
        )


def hash_source(src: DataFrame, hash_cols: list[str] | None) -> DataFrame:
    """The merge source with its ``row_hash``: audit-collision warning,
    scan spread (``functions/partitioning.parallelize_scan`` — the key
    normalize and SHA-256 run across the session's full parallelism),
    then the hash. A pre-computed ``row_hash`` is trusted: pipelines hash
    RAW pre-cast strings, so recomputing over typed values (or over the
    hash column itself) would misclassify every row as UPDATE. The
    default hash scope excludes the audit envelope for the same reason."""
    _warn_audit_collisions(src)
    src = parallelize_scan(src)
    if "row_hash" in src.columns:
        return src
    return cdc.with_row_hash(
        src, hash_cols or [c for c in src.columns if c not in AUDIT_COLS]
    )


# Persist the narrow (key, hash) classify frame only for states up to
# this size (fs-metadata decision, no job). The persist exists to keep
# the source hash to ONE pass when the classify re-reads a large
# fraction (dense merges) — but materializing a 60M-row narrow cache
# measured ~35 s of pure storage cost while a SPARSE merge re-reads
# almost none of it (the dirty-micro-bucket filter pushes below the
# hash projection, so the recompute is proportional to the dirty
# fraction). Small states persist (the dense case is cheap to protect);
# large states skip it — a large AND dense merge (the rare quadrant)
# pays the hash twice, bounded at ~1.4× of the unpruned classify.
DIGEST_PERSIST_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_DIGEST_PERSIST_MAX_MB", "1024")
) * (1 << 20)


def _du_until(path: str, cap: int) -> int:
    """Total file bytes under ``path``, walking only until ``cap`` is
    exceeded (returns cap+1 then) — the decision needs one bit, not an
    exact du of a 100 TB tree."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
            if total > cap:
                return cap + 1
    return total


def _should_persist_narrow(target_path: str) -> bool:
    return _du_until(target_path, DIGEST_PERSIST_MAX_BYTES) <= DIGEST_PERSIST_MAX_BYTES


# A snapshot source at or under this size takes the driver-side digest
# fold (one shuffle-free collect) instead of the 16K-modulus aggregation
# — the trickle-batch fixed-cost rule (CLAUDE.md) applied to the digest
# compare itself. Bounded: 1 MiB of parquet is at most a few hundred
# thousand rows of three 8-byte fields driver-side. Read at call time so
# tests (and operators) can flip it without a module reload.
def _small_src_bytes() -> int:
    return int(os.environ.get("SPARK_GRAFT_SMALL_SRC_KB", "1024")) * 1024


def _src_bytes_hint(df: DataFrame) -> int | None:
    """Driver-side size of a FILE-BACKED frame: sum of its backing files'
    sizes (`inputFiles()` reads the already-resolved listing — no Spark
    job). None for non-file sources (JDBC, in-memory) or non-local URIs,
    where no cheap driver stat exists — callers then keep the
    distributed path, the safe default."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(unquote(u.path) or f)
        except OSError:
            return None
    return total


def _is_tiny_source(df: DataFrame) -> bool:
    h = _src_bytes_hint(df)
    return h is not None and h <= _small_src_bytes()


def _widen_for_drift(
    src: DataFrame, tgt: DataFrame
) -> tuple[DataFrame, DataFrame, bool]:
    """Schema evolution on merge (the reference's documented drift failure,
    context/context.md:900-903): a column the source GREW is added to the
    target frame NULL-filled (old rows keep NULL until their key is next
    updated), and a column the source DROPPED is added back to the source
    as NULL so in-flight updates don't lose it. Because row hashes cover
    the value set, every overlapping key reclassifies as UPDATE on the
    first post-drift merge and settles to SKIP on the next (idempotency
    holds). Returns (src, tgt, drifted) — ``drifted`` forces callers onto
    their full-rewrite path: appending or bucket-pruning with a widened
    schema would leave mixed-schema parquet files that a plain (non-
    mergeSchema) read silently truncates."""
    infra = set(AUDIT_COLS) | {BUCKET_COL, cdc.KEY_COL}
    tgt_data = [f for f in tgt.schema.fields if f.name not in infra]
    src_names = set(src.columns)
    drifted = False
    for f in src.schema.fields:
        if f.name not in tgt.columns and f.name not in infra:
            tgt = tgt.withColumn(f.name, F.lit(None).cast(f.dataType))
            drifted = True
    for f in tgt_data:
        if f.name not in src_names:
            src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
            drifted = True
    return src, tgt, drifted


def key_hash_view(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """(``_cdc_key``, ``_tgt_hash``) of a target frame — the persisted key
    is trusted, pre-key states derive it."""
    return cdc.ensure_cdc_key(df, key_cols).select(
        F.col(cdc.KEY_COL), F.col("row_hash").alias("_tgt_hash")
    )


@dataclass
class MergePlan:
    """A classified merge. ``ops`` (cached: key columns, ``_cdc_key``,
    [``_kb``], op, ``row_hash`` [, digest-delta columns]) is None when the
    digests proved the merge a no-change; ``release()`` frees the
    caches. Counts are source-complete: rows of digest-clean
    micro-buckets never reach the join but are counted as SKIP.
    ``s_cls``/``t_cls`` are the two (pruned) sides of the classify join."""

    hashed: DataFrame
    tgt: DataFrame | None
    rewrite_all: bool
    num_buckets: int | None
    narrow: DataFrame
    tgt_dig: dict | None
    side_loaded: bool
    save_digest: Callable
    skip: int = 0
    insert: int = 0
    update: int = 0
    s_cls: DataFrame | None = None
    t_cls: DataFrame | None = None
    ops: DataFrame | None = None
    op_buckets: list = field(default_factory=list)

    @property
    def changed(self) -> bool:
        return self.insert + self.update > 0

    @property
    def dirty_ops(self) -> DataFrame:
        return self.ops.filter(F.col(cdc.OP_COL) != cdc.SKIP)

    def buckets(self, *ops: str) -> list[int]:
        """The ``_kb`` buckets holding rows classified as any of ``ops``."""
        return sorted(
            {r[BUCKET_COL] for r in self.op_buckets if r[cdc.OP_COL] in ops}
        )

    def save_scanned_digest(self) -> None:
        """A no-change exit: persist the target digest when this merge
        had to learn it from a scan (a loaded sidecar is still valid)."""
        if not self.side_loaded:
            self.save_digest(self.tgt_dig)

    def fold_digest(self, deleted: DataFrame | None = None) -> dict | None:
        """The maintained target digest after this merge publishes: the
        classified changes (and ``deleted``'s ``_cdc_key``/``_tgt_hash``
        rows, when given) folded into it. None when there is no digest to
        keep or the fold stood down (duplicate source keys)."""
        if self.tgt_dig is None:
            return None
        delta = cdc.collect_digest_delta(self.dirty_ops)
        if delta is not None and deleted is not None:
            d_del = _delete_delta(deleted, "_tgt_hash")
            delta = delta + d_del if d_del is not None else None
        return None if delta is None else digest_store.apply_delta(self.tgt_dig, delta)

    def release(self) -> None:
        if self.ops is not None:
            self.ops.unpersist()
        self.narrow.unpersist()


def _delete_delta(deleted: DataFrame, old_hash: str):
    return cdc.collect_digest_delta(
        deleted.select(cdc.KEY_COL, *cdc.digest_delete_delta_cols(old_hash=old_hash))
    )


def fold_deleted_digest(target_path: str, victims: DataFrame) -> dict | None:
    """The maintained digest of the state at ``target_path`` after
    ``victims`` (live rows with their persisted ``_cdc_key`` and
    ``row_hash``) are deleted: each folds out (count −1, its (key, hash)
    pair xored out) of the valid sidecar — the delete/TTL twin of
    ``MergePlan.fold_digest``. Load it before mutating the state, save
    it after the publish. None when the state persists no key/hash, has
    no valid sidecar, or the fold stood down (duplicate keys)."""
    if cdc.KEY_COL not in victims.columns or "row_hash" not in victims.columns:
        return None
    dig = digest_store.load(target_path)
    if dig is None:
        return None
    delta = _delete_delta(victims, "row_hash")
    return None if delta is None else digest_store.apply_delta(dig, delta)


def plan_merge(
    src: DataFrame,
    target_path: str,
    key_cols: list[str],
    hash_cols: list[str] | None,
    tgt_view: Callable[[DataFrame, list[int] | None], DataFrame],
    num_buckets: int | None = None,
    tgt: DataFrame | None = None,
    digest_prune: bool = True,
    src_digest: dict | None = None,
    tgt_digest: dict | None = None,
    save_digest: Callable | None = None,
) -> MergePlan:
    """Classify ``src`` against the state at ``target_path``.

    ``tgt_view(narrow, kb)`` builds the target's (``_cdc_key``,
    ``_tgt_hash``) view. ``kb`` lists the ``_kb`` directories that can hold
    the dirty micro-buckets (a micro-bucket lives in exactly one: same
    hash, nested moduli) or is None for the whole view; ``narrow`` is the
    source's (key cols, ``_cdc_key``, [``_kb``], ``row_hash``) frame, for
    layouts that prune the view by the source's keys.

    ``num_buckets``: the bucketed layouts' modulus — ``_kb`` is derived on
    the source and the op-count collect groups by it. ``tgt``: the COW
    target frame; it is widened for schema drift (``_widen_for_drift``)
    and a drifted or pre-``_cdc_key`` target sets ``rewrite_all`` and
    skips the digest (every row rewrites; the stored hashes cover another
    column set). ``tgt_digest``/``src_digest``: see
    ``mor.merge_upsert_mor``. ``save_digest`` persists the digest on the
    no-change exits (default: ``digest_store.save`` under
    ``target_path``)."""
    hashed = hash_source(src, hash_cols)
    rewrite_all = False
    if tgt is not None:
        key_migration = cdc.KEY_COL not in tgt.columns
        hashed, tgt, drifted = _widen_for_drift(hashed, tgt)
        rewrite_all = drifted or key_migration
    narrow = cdc.with_cdc_key(hashed.select(*key_cols, "row_hash"), key_cols)
    if num_buckets:
        narrow = narrow.withColumn(BUCKET_COL, cdc.bucket_of(num_buckets))
    dirty_mb, clean_skip = None, 0
    tgt_dig, side_loaded, full_view = None, False, None
    if digest_prune and not rewrite_all:
        # Persisted across digest + classify so the source hash/normalize
        # runs once whatever the prune decides — small states only (see
        # DIGEST_PERSIST_MAX_BYTES).
        if _should_persist_narrow(target_path):
            narrow = narrow.persist()
        side_dig = (
            tgt_digest if tgt_digest is not None else digest_store.load(target_path)
        )
        side_loaded = side_dig is not None
        if not side_loaded:
            full_view = tgt_view(narrow, None)
        dcmp = cdc.digest_compare(
            narrow.select(cdc.KEY_COL, "row_hash"),
            full_view,
            tgt_digest=side_dig,
            collect_src=side_loaded and _is_tiny_source(src),
            src_digest=src_digest if side_loaded else None,
        )
        dirty_mb, clean_skip = dcmp.dirty, dcmp.clean_src
        # The kill switch removes the maintenance cost too (delta columns
        # in the classify cache + the fold job), not just the save.
        tgt_dig = dcmp.tgt_digest if digest_store.enabled() else None
    elif digest_store.enabled() and not rewrite_all:
        # MAINTENANCE WITHOUT PRUNING: known-subset merges (streaming
        # micro-batches, explicit change batches) opt out of the compare
        # because their digests are dirty nearly everywhere, but a VALID
        # sidecar must still be kept valid by folding the classified
        # changes in, or one trickle batch knocks the next snapshot sync
        # back onto the full-scan path. Load-only: a stale/absent sidecar
        # stays that way (the next snapshot sync's scan fallback seeds it).
        tgt_dig = digest_store.load(target_path)
        side_loaded = tgt_dig is not None
    plan = MergePlan(
        hashed=hashed, tgt=tgt, rewrite_all=rewrite_all,
        num_buckets=num_buckets, narrow=narrow, tgt_dig=tgt_dig,
        side_loaded=side_loaded, skip=clean_skip,
        save_digest=save_digest or functools.partial(digest_store.save, target_path),
    )
    if dirty_mb is not None and not dirty_mb:
        # Proven no-change: no classify join at all.
        narrow.unpersist()
        plan.save_scanned_digest()
        return plan
    if dirty_mb is None:
        plan.s_cls = narrow
        plan.t_cls = full_view if full_view is not None else tgt_view(narrow, None)
    else:
        kb = None
        if num_buckets and cdc.DIGEST_MICRO_BUCKETS % num_buckets == 0:
            kb = sorted({mb % num_buckets for mb in dirty_mb})
        plan.s_cls = cdc.in_micro_buckets(narrow, dirty_mb)
        plan.t_cls = cdc.in_micro_buckets(tgt_view(narrow, kb), dirty_mb)
    op = (
        F.when(F.col("_tgt_hash").isNull(), F.lit(cdc.INSERT))
        .when(F.col("row_hash") != F.col("_tgt_hash"), F.lit(cdc.UPDATE))
        .otherwise(F.lit(cdc.SKIP))
    )
    # Sidecar maintenance folds each row's digest delta, which reads the
    # OLD target hash — project it while ``_tgt_hash`` is still bound.
    dg_cols = cdc.digest_delta_cols() if tgt_dig is not None else []
    by = [cdc.OP_COL] + ([BUCKET_COL] if num_buckets else [])
    plan.ops = (
        plan.s_cls.join(plan.t_cls, cdc.KEY_COL, "left_outer")
        .withColumn(cdc.OP_COL, op)
        .select(*key_cols, cdc.KEY_COL, *by[1:], cdc.OP_COL, "row_hash", *dg_cols)
        .cache()
    )
    # ONE bounded collect (≤ 3·num_buckets rows) yields the op counts AND
    # the dirty buckets while materializing the classify cache every
    # later step reuses.
    try:
        plan.op_buckets = (
            plan.ops.groupBy(*by).agg(F.count(F.lit(1)).alias("cnt")).collect()
        )
    except BaseException:
        plan.release()
        raise
    counts: dict[str, int] = {}
    for r in plan.op_buckets:
        counts[r[cdc.OP_COL]] = counts.get(r[cdc.OP_COL], 0) + r["cnt"]
    plan.insert = counts.get(cdc.INSERT, 0)
    plan.update = counts.get(cdc.UPDATE, 0)
    plan.skip = counts.get(cdc.SKIP, 0) + clean_skip
    return plan
