"""CDC classification and reconciliation set operations (SURVEY §2.3).

The reference's incremental sync loads the whole target key→(id, hash) map
into a Python dict and probes it per source row
(``sync_INCREMENTAL.py:226-268,404-435``) — its documented "golden rule"
(never SELECT per row) is exactly the build side of a hash join. Spark-first
that becomes ONE left-outer join keyed on the normalized key, and Catalyst/
AQE picks broadcast vs shuffled-hash vs sort-merge from actual sizes:

- target small (the 100K-row reference case) → broadcast, zero shuffle of
  the source;
- both huge (100 TB case) → shuffled join; pre-bucketing both sides on the
  key makes it shuffle-free across repeated syncs.

Buckets are INSERT / UPDATE / SKIP only — the reference never deletes
(trap N6).
"""

from __future__ import annotations

import os

from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from presencia_etl_spark.functions.hashing import with_row_hash
from presencia_etl_spark.functions.keys import composite_key
from presencia_etl_spark.functions.pushdown import in_list

OP_COL = "_cdc_op"
KEY_COL = "_cdc_key"
INSERT, UPDATE, SKIP = "insert", "update", "skip"

# --- micro-bucket digest pruning (the rsync/merkle discipline) ---------
#
# A snapshot-diff merge's dominant cost at scale is the classify join:
# src ⋈ tgt on the key is a full shuffle of BOTH sides even when only a
# handful of rows changed (measured: a 600-change merge over a 60M-row
# state spent ~90 s shuffling 2×60M (key, hash) pairs). Both sides can
# instead be summarized per micro-bucket — pmod(xxhash64(key), 16384) —
# by an ORDER-INDEPENDENT digest (row count + two independent 64-bit
# xor-folds of hash(key, row_hash)): any insert, update or delete
# perturbs its micro-bucket's digest, so micro-buckets whose digests
# match on both sides are proven identical and are excluded from the
# classify join entirely. The digest pass costs one narrow scan per side
# with map-side partial aggregation and a 16K-row shuffle — O(n) with a
# tiny constant vs the join's O(n) shuffle of full key widths — and the
# join then touches only the dirty micro-buckets' rows: O(changes × n/M).
#
# Collision safety: a missed change requires two DIFFERENT (key, hash)
# multisets in the same micro-bucket to agree on count AND both 64-bit
# xor-folds — 2^-128 per micro-bucket for non-adversarial data, the same
# class of guarantee the row-hash equality itself rests on.
#
# The micro-bucket modulus is a multiple of every bucketed-layout width
# (64, 256), so pmod(h, num_buckets) == pmod(pmod(h, M), num_buckets):
# a dirty micro-bucket maps onto its _kb= directory and the classify
# scan of a bucketed target is DIRECTORY-pruned, not merely row-pruned.
DIGEST_MICRO_BUCKETS = 16384
MB_COL = "_cdc_mb"


def bucket_of(n: int, key_col: str = KEY_COL):
    """``pmod(xxhash64(key), n)`` as int: the ``_kb`` bucket of the
    bucketed layouts at their modulus, the micro-bucket at
    ``DIGEST_MICRO_BUCKETS``."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n)).cast("int")


def micro_bucket(key_col: str = KEY_COL, micro: int | None = None):
    """The micro-bucket expression — same hash family as the ``_kb``
    layout so dirty micro-buckets project onto bucket directories."""
    return bucket_of(micro or DIGEST_MICRO_BUCKETS, key_col)


def in_micro_buckets(df: DataFrame, dirty: list[int]) -> DataFrame:
    """The rows of a ``_cdc_key``-carrying frame whose micro-bucket is in
    ``dirty``."""
    return df.withColumn("_mb", micro_bucket()).filter(
        in_list("_mb", dirty)
    ).drop("_mb")


def _fold_exprs(hash_col: str):
    """THE (key, hash) fold pair — the single definition every digest
    producer shares (scan-side aggregation, sidecar delta maintenance,
    delete retraction). The whole maintained-equals-scan invariant rests
    on these being bit-identical everywhere; never inline a copy."""
    return (
        F.xxhash64(F.col(KEY_COL), F.col(hash_col)),
        F.xxhash64(F.col(hash_col), F.col(KEY_COL), F.lit(1)),
    )


def _digest(df: DataFrame, hash_col: str, micro: int, tag: str) -> DataFrame:
    h1, h2 = _fold_exprs(hash_col)
    return (
        df.select(
            micro_bucket(KEY_COL, micro).alias(MB_COL),
            h1.alias("_h1"),
            h2.alias("_h2"),
        )
        .groupBy(MB_COL)
        .agg(
            F.count(F.lit(1)).alias(f"_c{tag}"),
            F.bit_xor("_h1").alias(f"_x{tag}"),
            F.bit_xor("_h2").alias(f"_y{tag}"),
        )
    )


def state_digest(
    df: DataFrame, hash_col: str = "row_hash"
) -> dict[int, tuple[int, int, int]]:
    """The per-micro-bucket digest map of a LIVE keyed state (``df`` must
    carry ``_cdc_key`` + the persisted row hash — what every merge target
    stores). One narrow aggregation job, ≤ ``DIGEST_MICRO_BUCKETS`` rows
    collected. This is the map ``sinks.digest_store`` persists: explicit
    seeding (``sinks/maintenance.py``) and the test suite's
    maintained-vs-scan parity checks both read the digest through it."""
    rows = _digest(
        df.select(KEY_COL, hash_col), hash_col, DIGEST_MICRO_BUCKETS, "s"
    ).collect()
    return {r[MB_COL]: (r["_cs"], r["_xs"], r["_ys"]) for r in rows}


@dataclass
class DigestCompare:
    """Result of a micro-bucket digest compare.

    - ``dirty == []`` — the multisets are identical: a proven no-change
      merge; ``clean_src`` is the full source row count (the skip count).
    - ``dirty`` non-empty — only rows whose micro-bucket is listed can
      classify as anything but SKIP (or be missing from the source);
      ``clean_src`` is the number of source rows proven SKIP without
      joining them.
    - ``dirty is None`` — pruning DECLINED: ≥ half the OCCUPIED
      micro-buckets differ (a dense mutation / initial-drift shape), so
      filtering would not pay for itself; the caller runs the unpruned
      classify. Occupied, not the modulus: a small table occupies few of
      the 16K buckets, and a dense change to it must decline rather
      than pay IN-filters over thousands of values to prune nothing.
      Also the shape when ``SPARK_GRAFT_DIGEST_PRUNE=0`` disables the
      pass (the safety valve) — then ``tgt_digest`` is None too.

    ``tgt_digest`` is the TARGET side's digest map (mb → (count, x, y)),
    present even on decline — callers feed it to
    ``sinks.digest_store.apply_delta`` after the merge publishes, so the
    next sync reads a 16K-row sidecar instead of scanning the state.
    """

    dirty: list[int] | None
    clean_src: int
    tgt_digest: dict[int, tuple[int, int, int]] | None


def digest_compare(
    src_kh: DataFrame,
    tgt_kh: DataFrame | None,
    src_hash: str = "row_hash",
    tgt_hash: str = "_tgt_hash",
    micro: int | None = None,
    tgt_digest: dict[int, tuple[int, int, int]] | None = None,
    collect_src: bool = False,
    src_digest: dict[int, tuple[int, int, int]] | None = None,
) -> DigestCompare:
    """Compare per-micro-bucket digests of a (``_cdc_key``, hash) source
    frame against either a target frame (one narrow scan) or an
    already-known target digest (``tgt_digest`` from a validated
    sidecar — ZERO target-side I/O; ``tgt_kh`` may then be None).

    ``src_digest`` (honored only together with ``tgt_digest``): the
    SOURCE side's digests are already known too — the engine-to-engine
    replica sync, where the source is itself a managed table with a
    validated sidecar. The compare is then a pure driver dict-diff:
    ZERO Spark jobs on either side. The caller vouches that
    ``src_digest`` describes exactly the rows ``src_kh`` will produce
    (``plans/replica_sync.py`` loads both from fingerprint-validated
    sidecars).

    ``collect_src=True`` (sidecar path only): collect the raw per-row
    ``(mb, fold1, fold2)`` triples in ONE shuffle-free job and fold them
    driver-side, instead of the groupBy aggregation — for a KB-sized
    trickle snapshot the 16K-modulus agg's exchange (one AQE job per
    materialization at the session's static width) IS the merge's fixed
    cost, while a driver fold of a few hundred triples is free. XOR on
    Python ints over int64 values matches Spark's ``bit_xor`` (the
    ``digest_store.apply_delta`` argument). Callers gate this on FS
    metadata of the source (``merge_plan._src_bytes_hint``) so the collect
    stays bounded."""
    if os.environ.get("SPARK_GRAFT_DIGEST_PRUNE", "1") == "0":
        return DigestCompare(None, 0, None)
    m = micro or DIGEST_MICRO_BUCKETS
    dirty: list[int] = []
    clean_src = 0
    if tgt_digest is not None:
        if src_digest is not None:
            smap = dict(src_digest)
        elif collect_src:
            h1, h2 = _fold_exprs(src_hash)
            raw = src_kh.select(
                micro_bucket(KEY_COL, m).alias(MB_COL),
                h1.alias("_h1"),
                h2.alias("_h2"),
            ).collect()
            smap: dict[int, tuple[int, int, int]] = {}
            for r in raw:
                c, x, y = smap.get(r[MB_COL], (0, 0, 0))
                smap[r[MB_COL]] = (c + 1, x ^ r["_h1"], y ^ r["_h2"])
        else:
            srows = _digest(src_kh, src_hash, m, "s").collect()
            smap = {r[MB_COL]: (r["_cs"], r["_xs"], r["_ys"]) for r in srows}
        occupied = set(smap) | set(tgt_digest)
        for mb in occupied:
            sv = smap.get(mb)
            if sv is not None and sv == tgt_digest.get(mb):
                clean_src += sv[0]
            else:
                dirty.append(mb)
        tdig = dict(tgt_digest)
        if occupied and 2 * len(dirty) >= len(occupied):
            return DigestCompare(None, 0, tdig)
        return DigestCompare(sorted(dirty), clean_src, tdig)
    sd = _digest(src_kh, src_hash, m, "s")
    td = _digest(tgt_kh, tgt_hash, m, "t")
    # ONE bounded collect (≤ m rows): the full outer compare frame, from
    # which the dirty list, the proven-skip count AND the target digest
    # (for sidecar seeding) all fall out.
    rows = sd.join(td, MB_COL, "full_outer").collect()
    tdig = {}
    for r in rows:
        if r["_ct"] is not None:
            tdig[r[MB_COL]] = (r["_ct"], r["_xt"], r["_yt"])
        if (
            r["_cs"] is not None
            and r["_cs"] == r["_ct"]
            and r["_xs"] == r["_xt"]
            and r["_ys"] == r["_yt"]
        ):
            clean_src += r["_cs"]
        else:
            dirty.append(r[MB_COL])
    if rows and 2 * len(dirty) >= len(rows):
        return DigestCompare(None, 0, tdig)
    return DigestCompare(sorted(dirty), clean_src, tdig)


def digest_dirty_micro_buckets(
    src_kh: DataFrame,
    tgt_kh: DataFrame,
    src_hash: str = "row_hash",
    tgt_hash: str = "_tgt_hash",
    micro: int | None = None,
) -> tuple[list[int] | None, int]:
    """Back-compat 2-tuple wrapper over :func:`digest_compare` (see its
    docstring for the dirty/clean/decline semantics)."""
    c = digest_compare(src_kh, tgt_kh, src_hash, tgt_hash, micro)
    return c.dirty, c.clean_src


def digest_delta_cols(
    op_col: str = OP_COL,
    new_hash: str = "row_hash",
    old_hash: str = "_tgt_hash",
    micro: int | None = None,
) -> list:
    """Column exprs projecting each CLASSIFIED row's contribution to the
    per-micro-bucket digest delta, for sidecar maintenance
    (``sinks/digest_store.py``): an insert xors in the new (key, hash)
    fold and counts +1; an update xors in new ⊕ old (one value per row —
    XOR's identity lets both terms ride one aggregation); a skip
    contributes (0, 0, 0), so the aggregation may run over the whole
    classify cache unfiltered. Select these on the classify frame WHILE
    the old target hash is still bound (before ``_tgt_hash`` drops)."""
    h1n, h2n = _fold_exprs(new_hash)
    h1o, h2o = _fold_exprs(old_hash)
    op = F.col(op_col)
    zero = F.lit(0).cast("long")
    return [
        micro_bucket(KEY_COL, micro).alias("_dg_mb"),
        F.when(op == INSERT, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("_dg_c"),
        F.when(op == INSERT, h1n)
        .when(op == UPDATE, h1n.bitwiseXOR(h1o))
        .otherwise(zero)
        .alias("_dg_x"),
        F.when(op == INSERT, h2n)
        .when(op == UPDATE, h2n.bitwiseXOR(h2o))
        .otherwise(zero)
        .alias("_dg_y"),
    ]


def digest_delete_delta_cols(
    old_hash: str = "_tgt_hash", micro: int | None = None
) -> list:
    """Delta contribution of a DELETED key (snapshot-diff tombstones):
    count −1, xor out the old (key, hash) fold."""
    h1o, h2o = _fold_exprs(old_hash)
    return [
        micro_bucket(KEY_COL, micro).alias("_dg_mb"),
        F.lit(-1).cast("long").alias("_dg_c"),
        h1o.alias("_dg_x"),
        h2o.alias("_dg_y"),
    ]


def collect_digest_delta(
    df: DataFrame,
) -> list[tuple[int, int, int, int]] | None:
    """Aggregate ``digest_delta_cols`` projections per micro-bucket and
    collect (bounded at the modulus). All-zero rows are XOR/+0
    identities and dropped. Feed it only CHANGE-BEARING rows (op ≠
    skip / the delete set) — ``df`` must still carry ``_cdc_key``.

    Returns ``None`` when any key appears on MORE than one change row:
    the published state keeps one live row per key (MOR's latest-wins
    view even tie-breaks arbitrarily within a delta), so per-row folds
    of a duplicated key cannot be reconciled with the state's per-key
    digest — persisting them would let a later digest compare "prove"
    a replayed duplicate-key source unchanged where the scan path
    would reclassify it. The caller must skip sidecar maintenance and
    leave the next merge on the (self-correcting) scan path. The dup
    check rides the same aggregation as the fold (two-level: per
    (micro-bucket, key), then per micro-bucket — XOR/sum reassociate
    freely), not a second job."""
    rows = (
        df.groupBy("_dg_mb", KEY_COL)
        .agg(
            F.sum("_dg_c").alias("_c"),
            F.bit_xor("_dg_x").alias("_x"),
            F.bit_xor("_dg_y").alias("_y"),
            F.count(F.lit(1)).alias("_n"),
        )
        .groupBy("_dg_mb")
        .agg(
            F.sum("_c").alias("_c"),
            F.bit_xor("_x").alias("_x"),
            F.bit_xor("_y").alias("_y"),
            F.max("_n").alias("_n"),
        )
        .collect()
    )
    if any(r["_n"] > 1 for r in rows):
        import warnings

        warnings.warn(
            "digest sidecar maintenance skipped: the source carries "
            "duplicate keys among its change rows; the next merge will "
            "rebuild the digest from a scan"
        )
        return None
    return [
        (r["_dg_mb"], r["_c"], r["_x"], r["_y"])
        for r in rows
        if r["_c"] or r["_x"] or r["_y"]
    ]


def with_cdc_key(df: DataFrame, key_cols: Iterable[str], out: str = KEY_COL) -> DataFrame:
    """Attach the normalized (possibly composite) CDC key (F7+F8).

    The frame's schema is passed down so integral key columns take the
    type-directed normalize fast path (same bytes, no parse chain)."""
    return df.withColumn(out, composite_key(list(key_cols), dict(df.dtypes)))


def ensure_cdc_key(df: DataFrame, key_cols: Iterable[str]) -> DataFrame:
    """``with_cdc_key``, but trust an existing ``_cdc_key`` column.

    Merge targets persist the normalized key (like they persist
    ``row_hash``), so steady-state syncs read it from parquet instead of
    re-running the normalize expression over the whole target every pass —
    at 100 TB that recompute dwarfs the column's storage cost."""
    return df if KEY_COL in df.columns else with_cdc_key(df, key_cols)


def cdc_classify(
    src: DataFrame,
    tgt: DataFrame,
    key_cols: list[str],
    hash_cols: list[str] | None = None,
    tgt_hash_col: str = "row_hash",
) -> DataFrame:
    """Classify every source row as insert/update/skip vs the target.

    src: incoming batch (raw columns; hash computed here over ``hash_cols``
         or all source columns).
    tgt: current target state — only its key columns + stored hash are read
         (column pruning keeps the scan narrow at scale).

    Returns src columns + ``row_hash`` + ``_cdc_op``.

    If src ALREADY carries a ``row_hash`` column it is trusted as-is — the
    pipelines hash raw pre-cast strings (F6 parity) and casting would
    otherwise change the rendering and misclassify everything as updated.
    """
    hashed = (
        src if "row_hash" in src.columns else with_row_hash(src, hash_cols or src.columns)
    )
    s = with_cdc_key(hashed, key_cols)
    t = ensure_cdc_key(tgt, key_cols).select(
        F.col(KEY_COL), F.col(tgt_hash_col).alias("_tgt_hash")
    )
    joined = s.join(t, on=KEY_COL, how="left_outer")
    op = (
        F.when(F.col("_tgt_hash").isNull(), F.lit(INSERT))
        .when(F.col("row_hash") != F.col("_tgt_hash"), F.lit(UPDATE))
        .otherwise(F.lit(SKIP))
    )
    return joined.withColumn(OP_COL, op).drop("_tgt_hash")


def cdc_counts(classified: DataFrame) -> DataFrame:
    """(op, count) summary — the reference's 'Nuevos/Modificados/Sin
    cambios' report."""
    return classified.groupBy(F.col(OP_COL).alias("op")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def diff_states(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    hash_cols: list[str] | None = None,
    digest_prune: bool = True,
    dirty_mb: list[int] | None = None,
) -> DataFrame:
    """Row-level diff of two keyed states (the reference's compare
    scripts — ``compare_noviembre_2025.py`` — as one scale-correct
    operator): returns one row per differing key with ``diff`` ∈
    {'only_left', 'only_right', 'differs'}; identical keys never appear.

    Built on the micro-bucket digest compare, so two LARGE states that
    are mostly identical (the replication-verify / post-migration audit
    shape) are compared with one narrow scan per side plus a join over
    only the differing micro-buckets' rows — neither full side is ever
    shuffled. A pre-computed ``row_hash`` column is trusted only when
    BOTH sides carry one (raw-string hash vs typed recompute would
    mismatch everywhere); otherwise hashes are computed per side over
    ``hash_cols`` or all non-audit/non-engine columns.

    Unlike the merge sinks, the returned frame is LAZY, so the hash
    expressions cannot be persisted across the digest and the join
    (there is no point to unpersist at) — recompute-hash sides pay the
    hash once for the digest and once more for the dirty fraction at
    evaluation. For the mostly-identical states this operator targets
    that fraction is ~0; for a dense compare, project a ``row_hash``
    onto both sides first (``functions.hashing.with_row_hash``) to pin
    the cost to one pass per side.
    """

    # The default hash scope mirrors the merge sinks': per-target
    # surrogate values (audit envelope, bucket/engine columns) must never
    # feed row identity — two independently written replicas of the same
    # data always differ on id/created_at/updated_at/_kb, and hashing
    # them would report every key as 'differs'. A persisted ``row_hash``
    # (raw pre-cast strings, CLAUDE.md rule) is trusted only when BOTH
    # sides carry one — compared against a typed recompute on the other
    # side it would mismatch on every row.
    _NON_DATA = {"id", "row_hash", "created_at", "updated_at", "_kb", KEY_COL}
    trust_hash = "row_hash" in a.columns and "row_hash" in b.columns

    def _kh(df: DataFrame) -> DataFrame:
        hashed = (
            df
            if trust_hash
            else with_row_hash(
                df.drop("row_hash"),
                hash_cols
                or [c for c in df.columns if c not in _NON_DATA],
            )
        )
        carry = [k for k in key_cols if k != KEY_COL]
        return ensure_cdc_key(hashed, key_cols).select(
            *carry, KEY_COL, "row_hash"
        )

    ak, bk = _kh(a), _kh(b)
    if dirty_mb is None and digest_prune:
        dirty_mb, _clean = digest_dirty_micro_buckets(
            ak.select(KEY_COL, "row_hash"),
            bk.select(KEY_COL, F.col("row_hash").alias("_tgt_hash")),
        )
    # A caller-supplied dirty_mb (e.g. from the two tables' persisted
    # digest sidecars — zero scans spent learning it) skips the digest
    # pass and filters directly.
    if dirty_mb is not None:
        ak = in_micro_buckets(ak, dirty_mb)
        bk = in_micro_buckets(bk, dirty_mb)
    j = ak.alias("l").join(bk.alias("r"), KEY_COL, "full_outer")
    diff = (
        F.when(F.col("r.row_hash").isNull(), F.lit("only_left"))
        .when(F.col("l.row_hash").isNull(), F.lit("only_right"))
        .when(F.col("l.row_hash") != F.col("r.row_hash"), F.lit("differs"))
    )
    out_keys = [
        # The USING-join key is already coalesced by Spark; raw key cols
        # must coalesce across sides (null side = absent key).
        F.col(KEY_COL).alias(k)
        if k == KEY_COL
        else F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k)
        for k in key_cols
    ]
    return (
        j.withColumn("diff", diff)
        .filter(F.col("diff").isNotNull())
        .select(*out_keys, "diff")
    )


def key_set_diff(
    a: DataFrame, b: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """J4: keys only in a, keys only in b (both directions), via anti joins.

    Mirrors compare_noviembre_2025.py:193-214 (cupones present on one side
    only). Distinct-then-anti keeps the shuffled data to the key columns.
    """
    ka = a.select(*key_cols).distinct()
    kb = b.select(*key_cols).distinct()
    return (
        ka.join(kb, on=key_cols, how="left_anti"),
        kb.join(ka, on=key_cols, how="left_anti"),
    )
