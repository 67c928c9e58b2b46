"""Incremental materialized JOIN views over merge-on-read states.

The reference re-runs its reconciliation joins against the full MySQL
tables every sync (the compare scripts join Socios x Liquidaciones from
scratch each run — `compare_noviembre_2025.py:62-87` issues the full
filtered SELECT, `context/context.md:795-831` documents the validated
star joins). Fine at 100K rows; at 100 TB a maintained join view must be
refreshed from the CHANGE FEEDS, not recomputed. This plan is the join
rung of the incremental-view-maintenance ladder (`plans/incremental_agg`
is the aggregate rung): classic delta-propagation for inner equi-joins
(Blakeley, Larson & Tompa, "Efficiently Updating Materialized Views",
SIGMOD 1986; Gupta & Mumick 1995), expressed Spark-first.

Algebra: with signed deltas (insert = +row, delete = -row, update =
-old +new), for cursors moving A: s_a -> c_a and B: s_b -> c_b,

    V_new - V_old = dA |><| B@c_b  +  A@s_a |><| dB

(expand A@c_a = A@s_a + dA and B@c_b = B@s_b + dB to verify — the
cross term dA |><| dB lands inside the first product). Both signed
delta sides are O(changes):

- the +rows are exactly ``read_mor_changes`` (never scans the base);
- the -rows (retractions) read the changed keys' OLD versions from the
  ``as_of_seq`` snapshot, pruned to the dirty ``_kb=`` buckets at the
  file listing and In()-pushed below the row-group level — the
  ``incremental_agg`` retraction discipline;
- each product joins a BIG side against a (broadcast) signed delta: the
  big table is scanned narrowly, never shuffled. When the big side's
  join columns ARE its primary key (the star FK->PK shape: fact delta
  probing a dimension), the big scan itself is pruned to the probed
  keys' buckets — O(changes) end to end. A dimension delta probing the
  fact side has no such index; that term is an honest narrow fact scan
  (rare in practice: dims change orders of magnitude less often, and a
  side with NO changes contributes no term at all — fs-metadata check,
  no job).

The view is itself a **merge-on-read table** (``sinks/mor.py``) keyed by
the pair key (a_key_cols + b_key_cols): net +rows upsert, net -rows
tombstone — both landed in ONE delta commit (``merge_upsert_mor``'s
``delete_keys`` path), so a refresh is a single sequence number and a
crash can never apply half of it. That choice is what makes the ladder
COMPOSE — the view has
its own change feed, so a downstream ``plans/incremental_agg`` snapshot
over the view gives an O(changes) star-schema rollup: fact merge ->
view refresh folds only the changed pairs -> agg refresh folds only the
changed groups; nothing downstream ever rescans the fact table.

**Left outer joins** (``how="left"``) add the NULL-extension layer on
the same signed algebra. With ``M(v)`` = the count of B rows at join
value ``v``, the left view is ``V_L = V_inner + N`` where
``N = {(a, NULL) : M(a.j) = 0 or a.j has a NULL component}``. Then

    dN = alpha + beta
    alpha = sum over a in dA of  +-[M@c_b(a.j) = 0] (a, NULL)
    beta  = sum over a in A@s_a of
            ([M@c_b(a.j) = 0] - [M@s_b(a.j) = 0]) (a, NULL)

alpha is the A-side membership change under the NEW match counts; beta
is the matched<->unmatched TRANSITION sweep (a dimension gaining its
first / losing its last row at ``v`` flips every fact at ``v``). The
match counts are read from two narrow B scans restricted to the
affected join values (key-pruned in the star shape, where M is 0/1 by
construction); the transition sweep reads A@s_a restricted to the
transitioning values. Affected-value sets beyond the pushdown bound
(a dense re-key of the dimension) decline to a REBUILD rather than pay
unbounded probes — the incremental path stays O(changes), the dense
path stays one honest rebuild.

**Right and full outer joins** reuse the same layer under reflection:
the right-outer correction is exactly the left-outer correction of the
MIRRORED spec (sides swapped — ``_mirror_meta``), and ``how="full"``
runs both layers; they are independent because each concerns one side's
match status. A maintained full-outer view is the EP4 month-reconcile
shape (``compare_historico_mensual.py:95-143``) kept fresh as a table
instead of recomputed per run.

Correctness boundaries (raise or rebuild, never silently wrong):
- a source cursor behind its table's compaction floor means the change
  history was folded away -> full rebuild. The rebuild is a
  ``delete_missing`` snapshot merge INTO the existing view state, so
  the view's own sequence/feed stays continuous: downstream consumers
  keep refreshing incrementally across an upstream rebuild.
- a refresh's upserts and tombstones commit ATOMICALLY as one delta
  sequence; the source cursors advance after it. A crash between the
  commit and the cursor write replays the same signed delta on the
  next refresh, where everything re-classifies as a skip (the merge's
  idempotent-replay discipline) — convergent, nothing double-applied.
- join-key NULLs never match (plain SQL inner-join equality) — in the
  terms exactly as in a recompute. View PAIR keys, by contrast, use
  null-safe matching everywhere a pair is compared to a pair.

State layout: ``view_path`` IS the MOR state dir (base/ + deltas/ +
``_mor_meta.json``), plus ``_join_meta.json`` (underscore prefix —
invisible to Spark readers) holding {a_path, b_path, on, key/projection
lists, a_seq, b_seq}. Cursor updates are atomic (tmp + rename) and
follow the data commits — see the crash-window note above.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presencia_etl_spark.functions.pushdown import in_list
from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks.locking import single_writer
from presencia_etl_spark.sinks.mor import (
    DELETED_COL,
    KEY_PUSHDOWN_LIMIT,
    SEQ_COL,
    delta_bytes_in_range,
    merge_upsert_mor,
    mor_history,
    read_mor,
    read_mor_changes,
)
from presencia_etl_spark.sinks.writers import (
    AUDIT_COLS,
    BUCKET_COL,
    _maybe_broadcast,
)

META_FILE = "_join_meta.json"
W_COL = "_ivm_w"
# Same trickle/corpus boundary as the aggregate rung: pending delta BYTES
# across BOTH sources, read from fs metadata before any job.
TRICKLE_DELTA_MAX_BYTES = 16 << 20
# Below this pending-bytes bound the refresh first ATTEMPTS the zero-job
# driver path (sinks/driver_mor): the whole signed-delta fold runs on
# the driver with pyarrow point reads and lands one delta — no Spark
# jobs at all. Declines (non-key-joined probe sides, unsupported types,
# oversized change sets) fall through to the Spark path below.
DRIVER_DELTA_MAX_BYTES = 4 << 20

_INFRA = set(AUDIT_COLS) | {BUCKET_COL, cdc.KEY_COL, SEQ_COL, DELETED_COL}


def _meta_path(view_path: str) -> str:
    return os.path.join(view_path, META_FILE)


def _read_meta(view_path: str) -> dict:
    try:
        with open(_meta_path(view_path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"{view_path!r} is not a maintained join view (no {META_FILE}); "
            "create it with build_join_view."
        ) from None


def _write_meta(view_path: str, meta: dict) -> None:
    tmp = _meta_path(view_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, _meta_path(view_path))


def _data_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in _INFRA and c != "row_hash"]


def _norm_on(on) -> list[tuple[str, str]]:
    pairs = [tuple(p) for p in on]
    if not pairs or any(len(p) != 2 for p in pairs):
        raise ValueError("on must be a non-empty list of (a_col, b_col) pairs")
    return pairs


def _check_spec(
    a_key_cols, b_key_cols, a_cols, b_cols, on: list[tuple[str, str]]
) -> None:
    overlap = set(a_cols) & set(b_cols)
    if overlap:
        raise ValueError(
            f"view projection collides across sides: {sorted(overlap)}; "
            "project/rename one side (a_cols / b_cols) so every view "
            "column name is unique."
        )
    if not set(a_key_cols) <= set(a_cols) or not set(b_key_cols) <= set(b_cols):
        raise ValueError(
            "the pair key (a_key_cols + b_key_cols) must be part of the "
            "view projection — it is the view's MOR merge key."
        )


class _DenseRefresh(Exception):
    """Raised inside a refresh when the affected join-value set exceeds
    the pushdown bound (left views only) — answered with a rebuild in
    the caller's session."""


def _join_frames(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    l_keep: list[str],
    r_keep: list[str],
    how: str = "inner",
) -> DataFrame:
    """Inner equi-join via collision-proof temp columns. Join columns may
    share a name across sides (on=[("nationkey", "nationkey")]) or
    collide with the OTHER side's projection — each side is cut down to
    its projected columns (``l_keep``/``r_keep``, disjoint by the spec
    check) plus its temps before the join, so the joined namespace is
    exactly the view's, unambiguous by construction."""
    conds = []
    l_temps, r_temps = [], []
    lt, rt = left, right
    for i, (a_c, b_c) in enumerate(on):
        la, rb = f"__ja{i}", f"__jb{i}"
        lt = lt.withColumn(la, F.col(a_c))
        rt = rt.withColumn(rb, F.col(b_c))
        conds.append(F.col(la) == F.col(rb))
        l_temps.append(la)
        r_temps.append(rb)
    lt = lt.select(*l_keep, *l_temps)
    rt = rt.select(*r_keep, *r_temps)
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return lt.join(rt, cond, how).drop(*l_temps, *r_temps)


def _signed_delta(
    spark: SparkSession,
    path: str,
    since: int,
    upto: int,
    need_cols: list[str],
):
    """The side's signed delta over (since, upto]: +new versions from the
    change feed, -old versions of the changed keys from the ``as_of``
    snapshot (bucket-pruned listing + In()-pushed keys — the
    incremental_agg retraction shape). Returns (frame, n_changes) with
    the frame CACHED (caller unpersists), or (None, 0)."""
    feed = read_mor_changes(spark, path, since_seq=since, as_of_seq=upto).cache()
    try:
        sample = (
            feed.select(cdc.KEY_COL, BUCKET_COL)
            .limit(KEY_PUSHDOWN_LIMIT + 1)
            .collect()
        )
        if len(sample) <= KEY_PUSHDOWN_LIMIT:
            n = len(sample)
            dirty = sorted({r[BUCKET_COL] for r in sample})
            pushed = [r[cdc.KEY_COL] for r in sample]
        else:
            counts = (
                feed.groupBy(BUCKET_COL).agg(F.count(F.lit(1)).alias("_n")).collect()
            )
            n = sum(r["_n"] for r in counts)
            dirty = [r[BUCKET_COL] for r in counts]
            pushed = None
        if n == 0:
            return None, 0
        old = read_mor(spark, path, as_of_seq=since, buckets=dirty)
        if pushed is not None:
            old = old.filter(in_list(cdc.KEY_COL, pushed))
        else:
            old = old.join(
                _maybe_broadcast(feed.select(cdc.KEY_COL).distinct(), n),
                cdc.KEY_COL,
                "left_semi",
            )
        plus = (
            feed.filter(~F.col(DELETED_COL))
            .select(*need_cols)
            .withColumn(W_COL, F.lit(1))
        )
        minus = old.select(*need_cols).withColumn(W_COL, F.lit(-1))
        signed = plus.unionByName(minus).cache()
        return signed, n
    finally:
        # the signed frame's `plus` leg reads through the cached feed;
        # caching `signed` itself makes the feed cache droppable as soon
        # as `signed` materializes, and every downstream use (probe
        # collect, both join terms, the netting) hits one O(changes)
        # cache. Unpersisting the feed here is safe: the signed cache
        # keeps the lineage alive and recomputation is bounded either way.
        feed.unpersist()


def _collect_keyed_probe(probe: DataFrame, key_cols: list[str], nb: int):
    """The key-pruned big-side read's one probe collect: the probe's
    distinct join values rendered as (normalized key, bucket) rows.
    Factored out so a caller probing the SAME values at two snapshots
    (the dim transition sweep's @old/@new reads) collects once."""
    return (
        cdc.with_cdc_key(probe.distinct(), key_cols)
        .withColumn(BUCKET_COL, cdc.bucket_of(nb))
        .select(cdc.KEY_COL, BUCKET_COL)
        .distinct()
        .collect()
    )


def _big_side(
    spark: SparkSession,
    path: str,
    as_of: int,
    key_cols: list[str],
    own_on: list[str],
    probe: DataFrame | None,
    n_probe: int,
    keyed=None,
):
    """Read one product's big side, pruned when its join columns are its
    primary key: the probe's join values ARE target keys, so the read is
    bucket-pruned at the listing and In()-pushed into the key-sorted
    files — the star FK->PK fast path.

    When the join columns are NOT the key (a dim delta probing the fact
    by join VALUE — the shape with no key index), the scan is still
    In()-VALUE-pushed: every caller consumes this frame exclusively
    equi-joined against ``probe`` on ``own_on``, so restricting each
    join column to the probe's bounded non-NULL value set is a
    correctness-preserving superset filter (NULL join components never
    equi-match, so dropping them loses nothing). The filter reaches the
    parquet row-group stats, so a fact CLUSTERED by its FK columns
    (``sinks/zorder.py`` at write time) skips all but the probed rows'
    row groups instead of decoding the whole snapshot — at 100 TB this
    is the difference between a KB dim tick costing a full fact scan
    and costing a few row groups. Only int/str/bool join values render
    into the one-round-trip ``in_list`` predicate; other types (or an
    unbounded value set) fall back to the honest full (narrow, never
    shuffled) scan.

    Returns (frame, pruned) with pruned ∈ {True (key+listing pruned),
    "values" (In()-value-pushed scan), False (full scan)}."""
    prunable = (
        probe is not None
        and 0 < n_probe <= KEY_PUSHDOWN_LIMIT
        and set(own_on) == set(key_cols)
    )
    if not prunable:
        big = read_mor(spark, path, as_of_seq=as_of)
        if probe is not None and 0 < n_probe <= KEY_PUSHDOWN_LIMIT:
            vals = (
                probe.select(*own_on)
                .distinct()
                .limit(KEY_PUSHDOWN_LIMIT + 1)
                .collect()
            )
            per_col = {
                c: sorted(
                    {r[c] for r in vals if r[c] is not None},
                    key=lambda v: (str(type(v)), v),
                )
                for c in own_on
            }
            ok = len(vals) <= KEY_PUSHDOWN_LIMIT and all(
                isinstance(v, (int, str, bool))
                for vs in per_col.values()
                for v in vs
            )
            if ok:
                for c in own_on:
                    big = big.filter(in_list(c, per_col[c]))
                return big, "values"
        return big, False
    if keyed is None:
        nb = mor_history(path)["num_buckets"]
        keyed = _collect_keyed_probe(probe, key_cols, nb)
    if not keyed:
        return read_mor(spark, path, as_of_seq=as_of, buckets=[]), True
    buckets = sorted({r[BUCKET_COL] for r in keyed})
    keys = [r[cdc.KEY_COL] for r in keyed]
    big = read_mor(spark, path, as_of_seq=as_of, buckets=buckets)
    return big.filter(in_list(cdc.KEY_COL, keys)), True


def _null_extension_terms(
    spark: SparkSession,
    meta: dict,
    pairs: list[tuple[str, str]],
    da: DataFrame | None,
    db: DataFrame | None,
    a_since: int,
    hb: dict,
    view_cols: list[str],
) -> list[DataFrame]:
    """The left-join correction layer: signed (a, NULL) rows — alpha
    (dA membership under the new match counts) and beta (the
    matched<->unmatched transition sweep over A@s_a). See the module
    docstring for the algebra. Raises ``_DenseRefresh`` when the
    affected join-value set exceeds the pushdown bound."""
    a_on = [p[0] for p in pairs]
    b_on = [p[1] for p in pairs]
    a_path, b_path = meta["a_path"], meta["b_path"]

    probes = []
    if da is not None:
        probes.append(da.select(*[F.col(a).alias(b) for a, b in pairs]))
    if db is not None:
        probes.append(db.select(*b_on))
    probe = probes[0]
    for p_ in probes[1:]:
        probe = probe.unionByName(p_)
    probe = probe.distinct()
    vals = probe.limit(KEY_PUSHDOWN_LIMIT + 1).collect()
    if len(vals) > KEY_PUSHDOWN_LIMIT:
        raise _DenseRefresh()
    nn_vals = [tuple(r) for r in vals if all(x is not None for x in tuple(r))]

    def counts_at(seq: int) -> dict:
        if not nn_vals:
            return {}
        big, _p = _big_side(
            spark, b_path, seq, meta["b_key_cols"], b_on, probe, len(vals)
        )
        restricted = big.select(*b_on).join(
            F.broadcast(probe), on=list(b_on), how="left_semi"
        )
        rows = (
            restricted.groupBy(*b_on).agg(F.count(F.lit(1)).alias("_n")).collect()
        )
        return {tuple(r[c] for c in b_on): r["_n"] for r in rows}

    m_new = counts_at(hb["seq"])
    # B unchanged => the match counts cannot have transitioned.
    m_old = m_new if db is None else counts_at(meta["b_seq"])
    zero_new = [v for v in nn_vals if m_new.get(v, 0) == 0]
    to_plus = [v for v in nn_vals if m_old.get(v, 0) == 0 < m_new.get(v, 0)]
    to_zero = [v for v in nn_vals if m_old.get(v, 0) > 0 == m_new.get(v, 0)]

    b_schema = {
        f.name: f.dataType
        for f in read_mor(spark, b_path, buckets=[]).schema.fields
    }
    null_b = [
        F.lit(None).cast(b_schema[c]).alias(c) for c in meta["b_cols"]
    ]
    a_cols = list(meta["a_cols"])
    out: list[DataFrame] = []

    if da is not None:
        null_j = None
        for c in a_on:
            cnd = F.col(c).isNull()
            null_j = cnd if null_j is None else (null_j | cnd)
        # a NULL join component never matches -> always NULL-extended
        alpha = da.filter(null_j)
        if zero_new:
            zdf = spark.createDataFrame(zero_new, schema=probe.schema).toDF(
                *a_on
            )
            alpha = alpha.unionByName(
                da.filter(~null_j).join(
                    F.broadcast(zdf), on=list(a_on), how="left_semi"
                )
            )
        out.append(
            alpha.select(*a_cols, *null_b, F.col(W_COL)).select(
                *view_cols, W_COL
            )
        )

    if to_plus or to_zero:
        from pyspark.sql.types import IntegerType, StructField, StructType

        sign_schema = StructType(
            list(probe.schema.fields) + [StructField("_ns", IntegerType())]
        )
        # gained first match -> the old NULL row retracts (-1);
        # lost last match -> it comes back (+1)
        rows = [tuple(v) + (-1,) for v in to_plus] + [
            tuple(v) + (1,) for v in to_zero
        ]
        tdf = spark.createDataFrame(rows, schema=sign_schema).toDF(
            *a_on, "_ns"
        )
        a_old_big, _p = _big_side(
            spark,
            a_path,
            a_since,
            meta["a_key_cols"],
            a_on,
            tdf.select(*a_on),
            len(rows),
        )
        swept = a_old_big.select(
            *dict.fromkeys(a_cols + a_on)
        ).join(F.broadcast(tdf), on=list(a_on), how="inner")
        out.append(
            swept.select(
                *a_cols, *null_b, F.col("_ns").cast("int").alias(W_COL)
            ).select(*view_cols, W_COL)
        )
    return out


def _mirror_meta(meta: dict) -> dict:
    """The view spec with the sides swapped — the right-outer layer IS
    the left-outer layer of the mirrored spec, so ``how="right"`` (and
    the B-side half of ``how="full"``) reuses ``_null_extension_terms``
    verbatim under this reflection. Column ORDER is restored later by
    the name-based ``select(*view_cols)``."""
    return {
        **meta,
        "a_path": meta["b_path"],
        "b_path": meta["a_path"],
        "a_key_cols": meta["b_key_cols"],
        "b_key_cols": meta["a_key_cols"],
        "a_cols": meta["b_cols"],
        "b_cols": meta["a_cols"],
        "a_seq": meta["b_seq"],
        "b_seq": meta["a_seq"],
        "on": [[p[1], p[0]] for p in meta["on"]],
    }


def read_join_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The maintained view: one row per live key combination, in the
    declared projection (audit/infra columns dropped). Works for both
    2-way and native N-way views."""
    meta = _read_meta(view_path)
    if meta.get("nway"):
        cols = [c for s in meta["sources"] for c in s["cols"]]
    else:
        cols = list(meta["a_cols"]) + list(meta["b_cols"])
    return read_mor(spark, view_path).select(*cols)


def join_view_info(view_path: str) -> dict:
    """Cursor + spec bookkeeping (no Spark job)."""
    return _read_meta(view_path)


def _materialize(
    spark: SparkSession, meta: dict, a_seq: int, b_seq: int
) -> DataFrame:
    a = read_mor(spark, meta["a_path"], as_of_seq=a_seq).select(
        *dict.fromkeys(meta["a_cols"] + [p[0] for p in meta["on"]])
    )
    b = read_mor(spark, meta["b_path"], as_of_seq=b_seq).select(
        *dict.fromkeys(meta["b_cols"] + [p[1] for p in meta["on"]])
    )
    cols = list(meta["a_cols"]) + list(meta["b_cols"])
    return _join_frames(
        a,
        b,
        [tuple(p) for p in meta["on"]],
        meta["a_cols"],
        meta["b_cols"],
        how=meta.get("how", "inner"),
    ).select(*cols)


@single_writer("view_path")
def build_join_view(
    spark: SparkSession,
    a_path: str,
    b_path: str,
    view_path: str,
    on,
    a_key_cols: list[str],
    b_key_cols: list[str],
    a_cols: list[str] | None = None,
    b_cols: list[str] | None = None,
    num_buckets: int = 64,
    compact_every: int | None = 16,
    compact_keep_last: int | None = None,
    how: str = "inner",
) -> dict:
    """Full materialization of ``A inner-join B`` (``how`` in
    {"inner", "left", "right", "full"} — outer rows NULL-extended on the
    missing side) into a MOR view state;
    records both sources' sequences as the refresh cursors."""
    pairs = _norm_on(on)
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(
            f"how must be 'inner', 'left', 'right' or 'full', got {how!r}"
        )
    ha, hb = mor_history(a_path), mor_history(b_path)
    if a_cols is None or b_cols is None:
        a_probe = read_mor(spark, a_path, buckets=[])
        b_probe = read_mor(spark, b_path, buckets=[])
        if a_cols is None:
            a_cols = _data_cols(a_probe)
        if b_cols is None:
            b_cols = _data_cols(b_probe)
    a_cols, b_cols = list(dict.fromkeys(a_cols)), list(dict.fromkeys(b_cols))
    _check_spec(a_key_cols, b_key_cols, a_cols, b_cols, pairs)
    meta = {
        "a_path": a_path,
        "b_path": b_path,
        "on": [list(p) for p in pairs],
        "a_key_cols": list(a_key_cols),
        "b_key_cols": list(b_key_cols),
        "a_cols": a_cols,
        "b_cols": b_cols,
        "num_buckets": num_buckets,
        "compact_every": compact_every,
        "compact_keep_last": compact_keep_last,
        "how": how,
        "a_seq": ha["seq"],
        "b_seq": hb["seq"],
    }
    joined = _materialize(spark, meta, ha["seq"], hb["seq"])
    r = merge_upsert_mor(
        spark,
        joined,
        view_path,
        key_cols=list(a_key_cols) + list(b_key_cols),
        num_buckets=num_buckets,
        compact_every=compact_every,
        compact_keep_last=compact_keep_last,
        # a full snapshot merge into a (possibly re-built) view is the
        # delete_missing shape: vanished pairs tombstone atomically
        # with the upserts.
        delete_missing=True,
    )
    _write_meta(view_path, meta)
    return {"mode": "build", "a_seq": ha["seq"], "b_seq": hb["seq"], **r}


@single_writer("view_path")
def refresh_join_view(spark: SparkSession, view_path: str) -> dict:
    """Fold both sources' change feeds since the view's cursors into the
    materialized join — O(changes) on the delta sides, narrow (pruned
    where the join key is the probed side's primary key) on the big
    sides. Falls back to a full rebuild when either source compacted
    past its cursor (mode="rebuild"; the rebuild is a delete_missing
    merge, so the VIEW's own feed stays continuous for downstream
    consumers).

    Trickle-sized refreshes (pending source delta bytes ≤
    ``TRICKLE_DELTA_MAX_BYTES``, fs metadata, decided before any job)
    run in ``session.trickle_session`` — every frame is O(changes) and
    the strategy is static. Corpus-sized ones and the rebuild run in
    ``spark``."""
    from presencia_etl_spark.session import trickle_session

    meta = _read_meta(view_path)
    if meta.get("nway"):
        from presencia_etl_spark.plans.incremental_join_nway import (
            refresh_join_view_nway,
        )

        return refresh_join_view_nway(spark, view_path)
    ha, hb = mor_history(meta["a_path"]), mor_history(meta["b_path"])
    a_since, b_since = meta["a_seq"], meta["b_seq"]
    if ha["seq"] == a_since and hb["seq"] == b_since:
        return {"mode": "noop", "a_seq": a_since, "b_seq": b_since}
    def _rebuild() -> dict:
        r = build_join_view(
            spark,
            meta["a_path"],
            meta["b_path"],
            view_path,
            [tuple(p) for p in meta["on"]],
            meta["a_key_cols"],
            meta["b_key_cols"],
            meta["a_cols"],
            meta["b_cols"],
            meta["num_buckets"],
            meta.get("compact_every", 16),
            meta.get("compact_keep_last"),
            how=meta.get("how", "inner"),
        )
        return {**r, "mode": "rebuild"}

    if a_since < ha["compacted_through"] or b_since < hb["compacted_through"]:
        return _rebuild()
    pending = delta_bytes_in_range(
        meta["a_path"], a_since, ha["seq"]
    ) + delta_bytes_in_range(meta["b_path"], b_since, hb["seq"])
    from presencia_etl_spark.sinks import driver_mor as dm

    def _compact() -> None:
        from presencia_etl_spark.sinks.mor import _auto_keep_last, compact_mor

        compact_mor(
            spark,
            view_path,
            keep_last=_auto_keep_last(
                meta.get("compact_every") or 16,
                meta.get("compact_keep_last"),
            ),
        )

    r = dm.try_trickle(
        lambda: _refresh_driver(view_path, meta, ha, hb, jvm=spark._jvm),
        pending_bytes=pending,
        max_bytes=min(DRIVER_DELTA_MAX_BYTES, TRICKLE_DELTA_MAX_BYTES),
        on_compact=_compact,
    )
    if r is not None:
        return r
    ss = trickle_session(spark) if pending <= TRICKLE_DELTA_MAX_BYTES else spark
    try:
        return _refresh_inner(ss, view_path, meta, ha, hb)
    except _DenseRefresh:
        # dense change-value set on a LEFT view: unbounded match-count
        # probes would not pay — one honest rebuild, in ``spark``.
        return _rebuild()


def _canon(v):
    """Hash/compare canonicalization matching Spark's grouping & join
    equality: all NaNs equal (and equal to themselves), -0.0 == 0.0."""
    if isinstance(v, float):
        if v != v:
            return "\x00__nan__"
        if v == 0.0:
            return 0.0
    return v


def _canon_row(vals: tuple) -> tuple:
    return tuple(_canon(v) for v in vals)


def _repr_row(vals: tuple) -> tuple:
    """The representative values a net row is WRITTEN with — Spark's
    group keys are normalized (-0.0 → 0.0, one canonical NaN), so the
    driver path writes the same normalization."""
    out = []
    for v in vals:
        if isinstance(v, float):
            if v != v:
                v = float("nan")
            elif v == 0.0:
                v = 0.0
        out.append(v)
    return tuple(out)


def _driver_signed(path: str, since: int, upto: int) -> tuple[list, int]:
    """Driver-side ``_signed_delta``: [(row_dict, weight)] over
    ``(since, upto]`` — +new versions from the delta files, -old
    versions of the changed keys point-read at the ``since`` snapshot.
    Returns (signed_rows, n_changes)."""
    from presencia_etl_spark.sinks import driver_mor as dm

    feed = dm.latest_per_key(dm.read_delta_range_rows(path, since, upto))
    n = len(feed)
    if n == 0:
        return [], 0
    if n > dm.DRIVER_BATCH_MAX_KEYS:
        raise dm.DriverDecline(
            "change set exceeds the driver bound", reason="batch_too_big"
        )
    signed = [
        (r, 1) for r in feed.values() if not r[DELETED_COL]
    ]
    old = dm.read_live_rows_for_keys(path, list(feed), as_of_seq=since)
    signed += [(r, -1) for r in old.values()]
    return signed, n


def _probe_map(
    path: str,
    on_cols: list[str],
    values: set[tuple],
    kinds: dict,
    as_of: int,
    jvm,
    key_cols: list[str],
) -> dict:
    """Point-read the key-joined big side: the probed join values ARE its
    primary key, so each value is one normalized-key lookup. The lookup
    key is composited in the TARGET's ``key_cols`` declaration order
    (what its stored ``_cdc_key`` was built with), which may differ from
    the join-pair order. Returns canonical-join-tuple → row (≤1 per
    value by key uniqueness)."""
    from presencia_etl_spark.functions import driver_parity as dp
    from presencia_etl_spark.sinks import driver_mor as dm

    order = [on_cols.index(k) for k in key_cols]
    key_kinds = [kinds[k] for k in key_cols]
    keys = {
        dp.composite_key([v[i] for i in order], key_kinds, jvm): v
        for v in values
        if all(x is not None for x in v)
    }
    if len(keys) > dm.DRIVER_BATCH_MAX_KEYS:
        raise dm.DriverDecline(
            "probe value set exceeds the driver bound", reason="batch_too_big"
        )
    rows = dm.read_live_rows_for_keys(path, list(keys), as_of_seq=as_of)
    out = {}
    for row in rows.values():
        out[_canon_row(tuple(row[c] for c in on_cols))] = row
    return out


def _refresh_driver(
    view_path: str, meta: dict, ha: dict, hb: dict, jvm=None
) -> dict:
    """The KB-sized steady state, zero Spark jobs: both signed deltas are
    read with pyarrow, the delta-propagation products are folded as
    driver hash joins against point-read big sides (key-joined sides
    only — the star FK→PK shape), the net lands through
    ``driver_mor.trickle_merge`` as ONE atomic mixed delta, and the
    digest sidecar stays maintained. Anything outside the exactly-
    reproducible shape raises ``DriverDecline`` and the caller runs the
    Spark path — same algebra, same result, more jobs.

    Supported here: inner views with each CHANGED side's opposite probe
    side key-joined; left views additionally require the B side
    unchanged (the matched↔unmatched transition sweep needs A probed by
    join value — only key-addressable in shapes the Spark path handles)."""
    from presencia_etl_spark.functions import driver_parity as dp
    from presencia_etl_spark.sinks import driver_mor as dm

    how = meta.get("how", "inner")
    if how not in ("inner", "left"):
        raise dm.DriverDecline(
            f"driver refresh does not cover how={how!r}", reason="shape"
        )
    pairs = [tuple(p) for p in meta["on"]]
    a_on = [p[0] for p in pairs]
    b_on = [p[1] for p in pairs]
    a_since, b_since = meta["a_seq"], meta["b_seq"]
    a_kinds = dm.table_kinds(meta["a_path"])
    b_kinds = dm.table_kinds(meta["b_path"])
    for a_c, b_c in pairs:
        if a_kinds[a_c] != b_kinds[b_c]:
            raise dm.DriverDecline(
                f"join pair ({a_c}, {b_c}) differs in type — Spark-side "
                "coercion isn't reproduced here",
                reason="shape",
            )

    da = db = None
    n_a = n_b = 0
    if ha["seq"] > a_since:
        da, n_a = _driver_signed(meta["a_path"], a_since, ha["seq"])
    if hb["seq"] > b_since:
        db, n_b = _driver_signed(meta["b_path"], b_since, hb["seq"])
    if max(n_a, n_b) > min(KEY_PUSHDOWN_LIMIT, dm.DRIVER_BATCH_MAX_KEYS):
        # same dense boundary as the Spark path's probe pushdown — a
        # dense change set must reach ITS decline logic (rebuild), not
        # be absorbed here
        raise dm.DriverDecline(
            "change set exceeds the pushdown bound", reason="batch_too_big"
        )
    if da and set(b_on) != set(meta["b_key_cols"]):
        raise dm.DriverDecline(
            "B side is not key-joined; honest scan needed", reason="shape"
        )
    if db and set(a_on) != set(meta["a_key_cols"]):
        raise dm.DriverDecline(
            "A side is not key-joined; honest scan needed", reason="shape"
        )
    if how == "left" and db:
        raise dm.DriverDecline(
            "left view with dimension changes needs the transition sweep",
            reason="shape",
        )

    a_cols, b_cols = list(meta["a_cols"]), list(meta["b_cols"])
    view_cols = a_cols + b_cols
    net: dict[tuple, int] = {}
    reps: dict[tuple, tuple] = {}

    def _fold(vals: tuple, w: int) -> None:
        ck = _canon_row(vals)
        net[ck] = net.get(ck, 0) + w
        if ck not in reps:
            reps[ck] = _repr_row(vals)

    if da:
        bmap = _probe_map(
            meta["b_path"],
            b_on,
            {tuple(r[c] for c in a_on) for r, _w in da},
            b_kinds,
            hb["seq"],
            jvm,
            meta["b_key_cols"],
        )
        for r, w in da:
            jv = tuple(r[c] for c in a_on)
            hit = (
                bmap.get(_canon_row(jv))
                if all(x is not None for x in jv)
                else None
            )
            if hit is not None:
                _fold(
                    tuple(r[c] for c in a_cols)
                    + tuple(hit[c] for c in b_cols),
                    w,
                )
            elif how == "left":
                # alpha: B unchanged (db declined above), so M@c_b is
                # also M@s_b — no transition sweep exists by construction
                _fold(
                    tuple(r[c] for c in a_cols) + (None,) * len(b_cols), w
                )
    if db:
        amap = _probe_map(
            meta["a_path"],
            a_on,
            {tuple(r[c] for c in b_on) for r, _w in db},
            a_kinds,
            a_since,  # A at the OLD snapshot, per the algebra
            jvm,
            meta["a_key_cols"],
        )
        for r, w in db:
            jv = tuple(r[c] for c in b_on)
            hit = (
                amap.get(_canon_row(jv))
                if all(x is not None for x in jv)
                else None
            )
            if hit is not None:
                _fold(
                    tuple(hit[c] for c in a_cols)
                    + tuple(r[c] for c in b_cols),
                    w,
                )

    new_meta = {**meta, "a_seq": ha["seq"], "b_seq": hb["seq"]}
    ups = [
        dict(zip(view_cols, reps[ck])) for ck, w in net.items() if w > 0
    ]
    key_cols = list(meta["a_key_cols"]) + list(meta["b_key_cols"])
    vkinds = dm.table_kinds(view_path)
    kkinds = [vkinds[c] for c in key_cols]
    kidx = [view_cols.index(c) for c in key_cols]
    dels = [
        dp.composite_key([reps[ck][i] for i in kidx], kkinds, jvm)
        for ck, w in net.items()
        if w < 0
    ]
    pruned = {}
    if da:
        pruned["b"] = True  # point reads ARE the key-pruned probe
    if db:
        pruned["a"] = True
    out = {
        "mode": "incremental",
        "a_seq": ha["seq"],
        "b_seq": hb["seq"],
        "a_changes": n_a,
        "b_changes": n_b,
        "upserts": 0,
        "deletes": 0,
        "path": "driver",
        "pruned_big_side": pruned,
        "compaction_due": False,
    }
    if ups or dels:
        r = dm.trickle_merge(
            view_path,
            ups,
            key_cols,
            delete_keys=dels,
            compact_every=meta.get("compact_every", 16),
            jvm=jvm,
        )
        out["upserts"] = int(r["insert"]) + int(r["update"])
        out["deletes"] = int(r["delete"])
        out["compaction_due"] = bool(r.get("compaction_due"))
    _write_meta(view_path, new_meta)
    return out


def _refresh_inner(
    spark: SparkSession, view_path: str, meta: dict, ha: dict, hb: dict
) -> dict:
    pairs = [tuple(p) for p in meta["on"]]
    a_on = [p[0] for p in pairs]
    b_on = [p[1] for p in pairs]
    a_need = list(dict.fromkeys(meta["a_cols"] + a_on))
    b_need = list(dict.fromkeys(meta["b_cols"] + b_on))
    view_cols = list(meta["a_cols"]) + list(meta["b_cols"])
    key_cols = list(meta["a_key_cols"]) + list(meta["b_key_cols"])
    a_since, b_since = meta["a_seq"], meta["b_seq"]

    da = db = None
    try:
        n_a = n_b = 0
        if ha["seq"] > a_since:
            da, n_a = _signed_delta(
                spark, meta["a_path"], a_since, ha["seq"], a_need
            )
        if hb["seq"] > b_since:
            db, n_b = _signed_delta(
                spark, meta["b_path"], b_since, hb["seq"], b_need
            )
        terms = []
        pruned = {}
        if da is not None:
            # term 1: dA |><| B@c_b — B probed on the delta's join values.
            probe = da.select(*[F.col(a).alias(b) for a, b in pairs])
            big_b, pruned["b"] = _big_side(
                spark,
                meta["b_path"],
                hb["seq"],
                meta["b_key_cols"],
                b_on,
                probe,
                n_a,
            )
            t1 = _join_frames(
                _maybe_broadcast(da, n_a),
                big_b.select(*b_need),
                pairs,
                list(meta["a_cols"]) + [W_COL],
                list(meta["b_cols"]),
            )
            terms.append(t1.select(*view_cols, W_COL))
        if db is not None:
            # term 2: A@s_a |><| dB — the OLD A snapshot, per the algebra.
            probe = db.select(*[F.col(b).alias(a) for a, b in pairs])
            big_a, pruned["a"] = _big_side(
                spark,
                meta["a_path"],
                a_since,
                meta["a_key_cols"],
                a_on,
                probe,
                n_b,
            )
            t2 = _join_frames(
                big_a.select(*a_need),
                _maybe_broadcast(db, n_b),
                pairs,
                list(meta["a_cols"]),
                list(meta["b_cols"]) + [W_COL],
            )
            terms.append(t2.select(*view_cols, W_COL))
        how = meta.get("how", "inner")
        if how != "inner" and (da is not None or db is not None):
            if max(n_a, n_b) > KEY_PUSHDOWN_LIMIT:
                raise _DenseRefresh()
            if how in ("left", "full"):
                terms += _null_extension_terms(
                    spark, meta, pairs, da, db, a_since, hb, view_cols
                )
            if how in ("right", "full"):
                # the A-side NULL-extension of the mirrored spec IS the
                # right-outer layer; both layers are independent (each
                # concerns one side's match status), so "full" runs both.
                terms += _null_extension_terms(
                    spark,
                    _mirror_meta(meta),
                    [(p[1], p[0]) for p in pairs],
                    db,
                    da,
                    b_since,
                    ha,
                    view_cols,
                )
        if not terms:
            # merges happened but every row was a SKIP on both sides —
            # move only the cursors (contents unchanged => any crash
            # ordering of old/new cursors is a consistent pair).
            _write_meta(
                view_path, {**meta, "a_seq": ha["seq"], "b_seq": hb["seq"]}
            )
            return {
                "mode": "incremental",
                "a_seq": ha["seq"],
                "b_seq": hb["seq"],
                "a_changes": 0,
                "b_changes": 0,
                "upserts": 0,
                "deletes": 0,
            }
        dv = terms[0]
        for t in terms[1:]:
            dv = dv.unionByName(t)
        # Net per FULL view row: a pair version present in both V_old and
        # V_new cancels to 0; each surviving row nets exactly +1 (to
        # upsert) or -1 (to retract). The frame is O(changes * fanout)
        # and feeds three consumers — snapshot it once.
        net = (
            dv.groupBy(*view_cols)
            .agg(F.sum(W_COL).alias(W_COL))
            .filter(F.col(W_COL) != 0)
            .localCheckpoint(eager=True)
        )
        n_up = n_del = 0
        # One collect off the checkpointed net yields the row count AND
        # the sign split: a refresh with no net retractions (the common
        # upsert-only tick) then skips the merge's whole delete_keys
        # machinery (tombstone probe collect + live fetch + anti-join).
        sign_rows = (
            net.groupBy((F.col(W_COL) > 0).alias("_pos"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        n_pos = sum(r["_n"] for r in sign_rows if r["_pos"])
        n_neg = sum(r["_n"] for r in sign_rows if not r["_pos"])
        if n_pos or n_neg:
            ups = net.filter(F.col(W_COL) > 0).drop(W_COL)
            # Net -rows are retractions; a pair BOTH retracted (old
            # version) and re-asserted (new version) is an update — the
            # merge's explicit delete_keys path already lets the upsert
            # win (src keys are subtracted from the tombstone set), so
            # the negative pairs pass through unfiltered. Upserts and
            # tombstones land in ONE delta — one sequence, no torn
            # refresh.
            dels = (
                net.filter(F.col(W_COL) < 0).select(*key_cols)
                if n_neg
                else None
            )
            r = merge_upsert_mor(
                spark,
                ups,
                view_path,
                key_cols=key_cols,
                num_buckets=meta["num_buckets"],
                compact_every=meta.get("compact_every", 16),
                compact_keep_last=meta.get("compact_keep_last"),
                # known-subset batch: digest pruning would learn nothing
                # (the micro-batch discipline); sidecar MAINTENANCE still
                # happens when a valid sidecar is present.
                digest_prune=False,
                delete_keys=dels,
            )
            n_up = int(r["insert"]) + int(r["update"])
            n_del = int(r["delete"])
        _write_meta(view_path, {**meta, "a_seq": ha["seq"], "b_seq": hb["seq"]})
        return {
            "mode": "incremental",
            "a_seq": ha["seq"],
            "b_seq": hb["seq"],
            "a_changes": n_a,
            "b_changes": n_b,
            "upserts": n_up,
            "deletes": n_del,
            "pruned_big_side": pruned,
        }
    finally:
        for d in (da, db):
            if d is not None:
                d.unpersist()
