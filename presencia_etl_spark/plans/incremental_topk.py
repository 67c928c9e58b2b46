"""Incrementally-maintained top-K over a maintained aggregate.

The reference's A7 operator — "days with most liquidaciones", computed
with ``Counter.most_common(5)`` over a full re-scan
(compare_noviembre_2025.py:146-148) — is a ranking DASHBOARD, and at
100 TB you neither re-scan the table nor even re-scan the full group
space per refresh. This plan keeps the answer fresh in O(changes):

    MOR table  →  agg rung (plans/incremental_agg, one row per group)
               →  top-K HEAD (this module, ≤ buffer rows + one floor)

The head is classic bounded top-K view maintenance: keep the exact
aggregates of the true top-``buffer`` groups (``buffer ≥ k``, default
``max(2k, k+64)``) plus an **eviction floor** — a value every group
OUTSIDE the head provably does not exceed. The invariant:

    for all groups g not in the head:  measure(g) ≤ floor

- (Re)build: head = global top-``buffer`` by (measure DESC, group ASC);
  floor = the buffer-th measure (None when every group fits — then
  nothing is hidden and the invariant is vacuous).
- Fold (per refresh, O(changes)): the MOR change feed names the
  AFFECTED groups (new versions' groups ∪ preimage groups — a superset
  is safe, probing an unchanged group is a no-op). Probe the refreshed
  agg snapshot for their current measures; update/insert/remove head
  members; evicting down to ``buffer`` raises the floor to the largest
  evicted measure (monotone between rebuilds). Unaffected hidden groups
  cannot have changed, so the floor bound survives every fold.
- Exactness gate: a fold publishes only when ≥ k head members sit
  STRICTLY above the floor — then the top-k strictly beats every hidden
  group and is exact even under ties. Otherwise (retractions sank the
  head) the fold declines (``reason="head_invalid"``) and the refresh
  REBUILDS from the agg snapshot — O(groups in the snapshot) via
  TakeOrdered, still never the base table. Insert-only workloads never
  rebuild (measures only grow; the floor only rises on eviction).

Steady state is zero Spark jobs: the feed, the preimage point-reads,
the snapshot probe (arrow-side predicate), the tiny head rewrite — all
driver-side through the one ``driver_mor.try_trickle`` gate. Ranking
comparisons reproduce the JVM's ordering exactly — strings compare as
UTF-16 code units (Java ``String.compareTo``) via an utf-16-be encode,
NULL group keys sort first (Spark ASC default) — with NaN measures the
one declined shape (Spark orders NaN largest; Python NaN comparisons
are unordered).

Groups whose measure is NULL (a SUM over an all-NULL group) are outside
the ranking on both paths, mirroring ``ORDER BY m DESC`` dropping NULLs
under ``LIMIT`` only by convention — here it is explicit and tested.

State layout and crash discipline are the agg rung's, byte-for-byte
(journal → park → rename swap, meta embedded in the snapshot dir), via
the shared helpers — a torn swap can never pair an old cursor with a
new head.

Reference behavior covered: compare_noviembre_2025.py:146-148 (top-5
days), context/context.md:800,809 (LIMIT-10 rankings).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presencia_etl_spark.plans.incremental_agg import (
    COUNT_COL,
    META_FILE,
    TRICKLE_DELTA_MAX_BYTES,
    _read_meta,
    _recover_interrupted_refresh,
    _snap_path,
    _snapshot_bytes,
    _sum_name,
    _swap_in,
    agg_snapshot_info,
    read_agg_snapshot,
    refresh_agg_snapshot,
)
from presencia_etl_spark.sinks.locking import single_writer
from presencia_etl_spark.sinks.mor import (
    delta_bytes_in_range,
    mor_history,
)

DEFAULT_BUFFER_SLACK = 64


def _default_buffer(k: int) -> int:
    return max(2 * k, k + DEFAULT_BUFFER_SLACK)


# --------------------------------------------------------------------------
# JVM-parity ordering keys (descending measure, ascending group tuple)
# --------------------------------------------------------------------------


def _group_ord_key(v):
    """A sort key reproducing Spark's ASC column ordering driver-side:
    NULL first (Spark default ``asc``), strings by UTF-16 code units
    (Java ``String.compareTo`` — an utf-16-be byte compare is the same
    total order, non-BMP included), bytes/ints/bools/dates natural.
    NaN group keys decline — the agg rung normalizes them away, so one
    appearing here means a foreign snapshot."""
    from presencia_etl_spark.sinks.driver_mor import DriverDecline

    if v is None:
        return (0,)
    if isinstance(v, str):
        return (1, v.encode("utf-16-be"))
    if isinstance(v, float) and v != v:
        raise DriverDecline(
            "NaN group key ordering differs from the JVM", reason="nan_order"
        )
    if isinstance(v, bool):
        return (1, int(v))
    return (1, v)


def _measure_ord(total):
    """Numeric measure for ranking; NaN declines (Spark sorts NaN as
    the largest double, Python cannot compare it)."""
    from presencia_etl_spark.sinks.driver_mor import DriverDecline

    if isinstance(total, float) and total != total:
        raise DriverDecline(
            "NaN measure ordering differs from the JVM", reason="nan_order"
        )
    return total


def _rank_key(group_tuple, total):
    return (-_measure_ord(total), tuple(_group_ord_key(v) for v in group_tuple))


# --------------------------------------------------------------------------
# state helpers
# --------------------------------------------------------------------------


def _validate_spec(agg_meta: dict, k: int, measure: str, buffer: int) -> None:
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if buffer < k:
        raise ValueError(f"buffer ({buffer}) must be >= k ({k})")
    valid = {COUNT_COL} | {_sum_name(c) for c in agg_meta["sum_cols"]}
    if measure not in valid:
        raise ValueError(
            f"measure {measure!r} is not maintained by the aggregate "
            f"snapshot (have: {sorted(valid)})"
        )


def topk_head_info(head_path: str) -> dict:
    """Cursor + spec bookkeeping (no Spark job)."""
    _recover_interrupted_refresh(head_path)
    return _read_meta(head_path)


def _head_files(head_path: str) -> list[str]:
    snap = _snap_path(head_path)
    return sorted(
        os.path.join(snap, f)
        for f in os.listdir(snap)
        if f.endswith(".parquet")
    )


def _read_head_rows(head_path: str) -> tuple[list[dict], list[str]]:
    import pyarrow.dataset as pads

    files = _head_files(head_path)
    tbl = pads.dataset(files, format="parquet").to_table()
    names = list(tbl.schema.names)
    rows = (
        [
            dict(zip(names, vals))
            for vals in zip(*[tbl.column(n).to_pylist() for n in names])
        ]
        if tbl.num_rows
        else []
    )
    return rows, names


def _head_schema(agg_path: str, group_cols: list[str], measure: str):
    """The head's arrow schema = the agg snapshot's (group cols +
    measure) fields, types preserved."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = _snap_path(agg_path)
    f = next(
        (
            os.path.join(snap, n)
            for n in sorted(os.listdir(snap))
            if n.endswith(".parquet")
        ),
        None,
    )
    if f is None:
        raise FileNotFoundError(f"no agg snapshot parquet under {snap}")
    sch = pq.read_schema(f).remove_metadata()
    return pa.schema([sch.field(c) for c in [*group_cols, measure]])


def _publish_head(
    head_path: str, spec: dict, rows: list[dict], schema
) -> None:
    """Journaled swap of the tiny head snapshot + meta — the agg rung's
    crash discipline verbatim (shared helpers)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_staged(staged: str) -> None:
        os.makedirs(staged, exist_ok=True)
        data = {n: [r.get(n) for r in rows] for n in schema.names}
        pq.write_table(
            pa.Table.from_pydict(data, schema=schema),
            os.path.join(staged, "part-00000.parquet"),
            use_deprecated_int96_timestamps=True,
            compression="snappy",
        )
        with open(os.path.join(staged, META_FILE + ".tmp"), "w") as fh:
            json.dump(spec, fh)
        os.replace(
            os.path.join(staged, META_FILE + ".tmp"),
            os.path.join(staged, META_FILE),
        )

    _swap_in(head_path, write_staged)


# --------------------------------------------------------------------------
# rebuild (Spark TakeOrdered over the agg snapshot — never the base)
# --------------------------------------------------------------------------


def _rebuild_head(
    spark: SparkSession, agg_path: str, head_path: str, spec: dict, cur: int
) -> dict:
    """Head = global top-``buffer`` of the agg snapshot by
    (measure DESC, group ASC). TakeOrderedAndProject — a scan plus
    per-partition heaps, no full sort, no shuffle of the snapshot. The
    ``buffer``-th measure becomes the eviction floor; when every group
    fits there is no floor (nothing hidden). A trickle-sized snapshot
    is read in ``session.trickle_session``."""
    from presencia_etl_spark.session import trickle_session

    group_cols, measure = spec["group_cols"], spec["measure"]
    buffer = spec["buffer"]

    if _snapshot_bytes(agg_path) <= TRICKLE_DELTA_MAX_BYTES:
        spark = trickle_session(spark)
    snap = read_agg_snapshot(spark, agg_path).select(*group_cols, measure)
    taken = (
        snap.where(F.col(measure).isNotNull())
        .orderBy(F.col(measure).desc(), *[F.col(g).asc() for g in group_cols])
        .limit(buffer)
        .collect()
    )
    rows = [r.asDict() for r in taken]
    floor = rows[-1][measure] if len(rows) == buffer else None
    schema = _head_schema(agg_path, group_cols, measure)
    _publish_head(
        head_path, {**spec, "as_of_seq": cur, "floor": floor}, rows, schema
    )
    return {"mode": "rebuild", "as_of_seq": cur, "head_rows": len(rows)}


# --------------------------------------------------------------------------
# build / refresh / read
# --------------------------------------------------------------------------


@single_writer("head_path")
def build_topk_head(
    spark: SparkSession,
    mor_path: str,
    agg_path: str,
    head_path: str,
    k: int,
    measure: str = COUNT_COL,
    buffer: int | None = None,
) -> dict:
    """Materialize a maintained top-``k`` head over an existing
    maintained aggregate (``build_agg_snapshot`` first). ``measure`` is
    a column of the agg snapshot: ``n_rows`` (the A7 count ranking) or
    any ``sum_<col>``. The head pins the agg's CURRENT cursor; refresh
    both through ``refresh_topk_head``."""
    agg_meta = agg_snapshot_info(agg_path)
    buffer = _default_buffer(k) if buffer is None else buffer
    _validate_spec(agg_meta, k, measure, buffer)
    hist = mor_history(mor_path)
    if agg_meta["as_of_seq"] > hist["seq"]:
        raise ValueError(
            f"agg cursor {agg_meta['as_of_seq']} is ahead of the MOR "
            f"history (seq {hist['seq']}) — wrong table?"
        )
    spec = {
        "kind": "topk",
        "group_cols": agg_meta["group_cols"],
        "measure": measure,
        "k": k,
        "buffer": buffer,
    }
    os.makedirs(head_path, exist_ok=True)
    r = _rebuild_head(spark, agg_path, head_path, spec, agg_meta["as_of_seq"])
    return {**r, "mode": "build"}


@single_writer("head_path")
def refresh_topk_head(
    spark: SparkSession,
    mor_path: str,
    agg_path: str,
    head_path: str,
    refresh_agg: bool = True,
) -> dict:
    """Advance the head to the aggregate's cursor. Refreshes the agg
    rung first (its own O(changes) fold) unless ``refresh_agg=False``
    (caller already did). Then: KB-sized feeds fold driver-side in
    O(changes) through the trickle gate; anything the fold cannot prove
    exact — oversized feed, NaN ordering, the exactness gate failing
    after retractions, a compacted-away cursor — rebuilds from the agg
    snapshot (O(groups), never the base table)."""
    from presencia_etl_spark.sinks import driver_mor as dm

    _recover_interrupted_refresh(head_path)
    meta = _read_meta(head_path)
    since = meta["as_of_seq"]
    if refresh_agg:
        refresh_agg_snapshot(spark, mor_path, agg_path)
    cur = agg_snapshot_info(agg_path)["as_of_seq"]
    if cur == since:
        return {"mode": "noop", "as_of_seq": since}
    if cur < since:
        raise ValueError(
            f"aggregate cursor {cur} is behind the head cursor {since} — "
            "the head must hang off the agg snapshot it was built from"
        )
    spec = {k_: meta[k_] for k_ in ("kind", "group_cols", "measure", "k", "buffer")}
    if since < mor_history(mor_path)["compacted_through"]:
        # the change window was folded into the MOR base — affected
        # groups can no longer be enumerated from the feed
        return _rebuild_head(spark, agg_path, head_path, spec, cur)
    pending = delta_bytes_in_range(mor_path, since, cur)

    def _recover_after_failed_fold():
        _recover_interrupted_refresh(head_path)
        if _read_meta(head_path)["as_of_seq"] == cur:
            return {"mode": "incremental", "as_of_seq": cur, "path": "driver"}
        return None

    r = dm.try_trickle(
        lambda: _refresh_head_driver(
            mor_path, agg_path, head_path, meta, since, cur
        ),
        pending_bytes=pending,
        max_bytes=TRICKLE_DELTA_MAX_BYTES,
        idempotent=False,
        on_failure=_recover_after_failed_fold,
    )
    if r is not None:
        return r
    return _rebuild_head(spark, agg_path, head_path, spec, cur)


def _refresh_head_driver(
    mor_path: str,
    agg_path: str,
    head_path: str,
    meta: dict,
    since: int,
    cur: int,
) -> dict:
    """The zero-job fold. Affected groups come from the change feed
    (new versions + their preimages at ``since`` — a superset is safe);
    their current measures come from ONE arrow-filtered probe of the
    agg snapshot; the head update is pure Python over ≤ buffer rows.
    Publishes only when the exactness gate holds (≥ k members strictly
    above the floor) — otherwise declines to the rebuild."""
    from presencia_etl_spark.sinks import driver_mor as dm
    from presencia_etl_spark.sinks.driver_mor import DriverDecline

    group_cols = meta["group_cols"]
    measure, k, buffer = meta["measure"], meta["k"], meta["buffer"]
    if _snapshot_bytes(agg_path) > dm.DRIVER_REWRITE_MAX_BYTES:
        raise DriverDecline(
            "agg snapshot too large for a driver probe", reason="batch_too_big"
        )
    feed = dm.latest_per_key(dm.read_delta_range_rows(mor_path, since, cur))
    if len(feed) > dm.DRIVER_BATCH_MAX_KEYS:
        raise DriverDecline(
            "change set exceeds the driver bound", reason="batch_too_big"
        )
    mpath = os.path.join(_snap_path(head_path), META_FILE)
    if not feed:
        with open(mpath + ".tmp", "w") as fh:
            json.dump({**meta, "as_of_seq": cur}, fh)
        os.replace(mpath + ".tmp", mpath)
        return {
            "mode": "incremental", "as_of_seq": cur, "changed_groups": 0,
            "path": "driver",
        }
    old = dm.read_live_rows_for_keys(mor_path, list(feed), as_of_seq=since)
    affected: set[tuple] = set()
    for rows in (feed.values(), old.values()):
        for r in rows:
            affected.add(tuple(r.get(g) for g in group_cols))
    probed = _probe_agg_measures(agg_path, group_cols, measure, affected)

    head_rows, _names = _read_head_rows(head_path)
    S = {
        tuple(r.get(g) for g in group_cols): r[measure] for r in head_rows
    }
    floor = meta.get("floor")
    if floor is not None:
        _measure_ord(floor)  # NaN floor would poison every comparison
    for g in affected:
        t = probed.get(g)
        if t is None:
            # emptied / never existed / NULL measure → outside the
            # ranking; its absence satisfies the floor bound vacuously
            S.pop(g, None)
        elif g in S or floor is None or _measure_ord(t) > floor:
            S[g] = t
        # else: t ≤ floor — stays hidden, invariant intact
    ordered = sorted(S.items(), key=lambda kv: _rank_key(kv[0], kv[1]))
    if len(ordered) > buffer:
        evicted_top = ordered[buffer][1]  # largest evicted measure
        floor = (
            evicted_top
            if floor is None
            else max(floor, _measure_ord(evicted_top))
        )
        ordered = ordered[:buffer]
    if floor is not None:
        n_strict = sum(1 for _g, t in ordered if _measure_ord(t) > floor)
        if n_strict < k:
            raise DriverDecline(
                "fold can no longer prove an exact top-k above the "
                "eviction floor", reason="head_invalid",
            )
    schema = _head_schema(agg_path, group_cols, measure)
    rows = [
        {**dict(zip(group_cols, g)), measure: t} for g, t in ordered
    ]
    _publish_head(
        head_path,
        {**{k_: meta[k_] for k_ in ("kind", "group_cols", "measure", "k", "buffer")},
         "as_of_seq": cur, "floor": floor},
        rows,
        schema,
    )
    return {
        "mode": "incremental",
        "as_of_seq": cur,
        "changed_groups": len(affected),
        "head_rows": len(rows),
        "path": "driver",
    }


def _probe_agg_measures(
    agg_path: str, group_cols: list[str], measure: str, affected: set[tuple]
) -> dict[tuple, object]:
    """Current measure of each affected group, from one arrow dataset
    read of the agg snapshot: column-pruned to (group cols, measure),
    pre-filtered arrow-side with a per-column isin/null disjunction (a
    superset of the exact tuple set), exact-matched in Python. Groups
    absent from the snapshot or with a NULL measure are omitted."""
    import pyarrow.dataset as pads

    from presencia_etl_spark.sinks.driver_mor import DriverDecline

    per_col: list[tuple[set, bool]] = []
    for i, g in enumerate(group_cols):
        vals = {t[i] for t in affected}
        has_null = None in vals
        vals.discard(None)
        for v in vals:
            if isinstance(v, float) and v != v:
                raise DriverDecline(
                    "NaN group key cannot be probed exactly",
                    reason="nan_order",
                )
        per_col.append((vals, has_null))
    snap = _snap_path(agg_path)
    files = sorted(
        os.path.join(snap, f)
        for f in os.listdir(snap)
        if f.endswith(".parquet")
    )
    dset = pads.dataset(files, format="parquet")
    flt = None
    for g, (vals, has_null) in zip(group_cols, per_col):
        fld = pads.field(g)
        c = fld.isin(list(vals)) if vals else None
        if has_null:
            c = fld.is_null() if c is None else (c | fld.is_null())
        flt = c if flt is None else (flt & c)
    tbl = dset.to_table(filter=flt, columns=[*group_cols, measure])
    cols = {n: tbl.column(n).to_pylist() for n in [*group_cols, measure]}
    out: dict[tuple, object] = {}
    for i in range(tbl.num_rows):
        g = tuple(cols[c][i] for c in group_cols)
        if g in affected and cols[measure][i] is not None:
            out[g] = cols[measure][i]
    return out


def read_topk_rows(head_path: str, k: int | None = None) -> list[dict]:
    """The maintained top-k, zero Spark jobs: ≤ buffer rows read with
    pyarrow, ranked (measure DESC, group ASC, JVM-parity keys), first
    ``k`` (default: the head's k) returned as dicts of group cols +
    measure."""
    _recover_interrupted_refresh(head_path)
    meta = _read_meta(head_path)
    group_cols, measure = meta["group_cols"], meta["measure"]
    k = meta["k"] if k is None else k
    if k > meta["k"]:
        raise ValueError(
            f"head maintains top-{meta['k']}; cannot serve top-{k}"
        )
    rows, _names = _read_head_rows(head_path)
    rows.sort(
        key=lambda r: _rank_key(
            tuple(r.get(g) for g in group_cols), r[measure]
        )
    )
    return [
        {**{g: r.get(g) for g in group_cols}, measure: r[measure]}
        for r in rows[:k]
    ]


def read_topk(
    spark: SparkSession, head_path: str, k: int | None = None
) -> DataFrame:
    """DataFrame form of ``read_topk_rows`` with an explicit 1-based
    ``rank`` column (DataFrame row order is not contractual; the rank
    is). Handy for joins; the ranking itself never needs a job."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    meta = topk_head_info(head_path)
    rows = read_topk_rows(head_path, k)
    cols = [*meta["group_cols"], meta["measure"]]
    sdf = spark.read.parquet(_snap_path(head_path)).select(*cols).limit(0)
    schema = StructType(
        [StructField("rank", IntegerType(), False), *sdf.schema.fields]
    )
    return spark.createDataFrame(
        [(i + 1, *(r[c] for c in cols)) for i, r in enumerate(rows)],
        schema=schema,
    )
