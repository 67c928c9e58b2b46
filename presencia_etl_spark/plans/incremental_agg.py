"""Incremental aggregate maintenance over a merge-on-read state.

At 100 TB you do not recompute a ``GROUP BY`` dashboard from the full
table after every merge — you fold the change feed into the previous
result. The reference recomputes its reconcile aggregates from the full
MySQL table on every sync (reconcile queries driven from sync_CONTROL.py;
monthly totals re-scanned each run) — fine at 100K rows, a full-table
scan per refresh at 100 TB. This plan is the Spark-first replacement:
classic incremental view maintenance (Gupta & Mumick, "Maintenance of
Materialized Views", IEEE Data Eng. Bull. 1995) restricted to the
additive aggregates (COUNT / SUM, MEAN = SUM/COUNT derivable) that the
reference's reconcile reports actually use.

Algebra: for a refresh from snapshot sequence ``s`` to the current
sequence ``c``,

    agg_c(g) = agg_s(g) + Σ_{new versions}(+1 · x) + Σ_{old versions}(−1 · x)

where *new versions* are exactly ``read_mor_changes(since_seq=s)`` (each
changed key's latest row) and *old versions* are those keys' rows in the
``as_of_seq=s`` snapshot (inserts have none). Both sides are O(changes):

- the change feed never scans the base (``sinks/mor.py``);
- the retraction read prunes the base scan to the DIRTY BUCKETS of the
  changed keys (hive ``_kb=`` partition pruning) and semi-joins the
  changed-key set (broadcast below the usual threshold);
- the delta aggregate has at most |changes| groups and is merged into the
  previous snapshot with two BROADCAST joins (left_outer + left_anti) —
  the big snapshot never shuffles (a full_outer join would force a
  sort-merge of the snapshot; the union-of-two-broadcast-joins shape is
  equivalent and keeps it narrow).

The refreshed snapshot is rewritten whole — it holds one row per GROUP,
not per source row, so at 100 TB it is MBs, not TBs.

Correctness boundaries (each raises or falls back, never silently wrong):
- If compaction (or a schema-drift fold, or ``since`` predating the
  retained history) moved the snapshot floor past our cursor, the change
  history can no longer be separated from the base → full rebuild
  (``mode="rebuild"``). The MOR drift path bumps ``compacted_through``
  exactly so consumers like this one cannot miss folded changes.
- Group keys may be NULL: grouping, retraction, and the merge joins all
  use null-safe equality semantics.
- SUM over floating columns is maintained in float64; retraction is
  subtraction, so a long refresh chain can accumulate ulp-level drift
  (documented limit of incremental float SUM — rebuild to wash it out;
  integer sums are exact).

State layout (self-describing, crash-safe):
- ``<agg_path>/snapshot/`` parquet: group cols + ``n_rows`` +
  ``sum_<col>``… plus ``_agg_meta.json`` INSIDE the dir (underscore
  prefix → invisible to Spark) holding {as_of_seq, group_cols, sum_cols}.
  Snapshot and cursor therefore swap atomically together — a torn swap
  can never pair an old cursor with a new snapshot (which would
  double-apply the next delta).
- Swap = journal + park + rename (the ``dedup_index`` compaction
  discipline); ``_recover_interrupted_refresh`` rolls forward or back.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presencia_etl_spark.functions.pushdown import in_list
from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks.locking import single_writer
from presencia_etl_spark.sinks.mor import (
    DELETED_COL,
    KEY_PUSHDOWN_LIMIT,
    delta_bytes_in_range,
    mor_history,
    read_mor,
    read_mor_changes,
)
from presencia_etl_spark.sinks.writers import BUCKET_COL, _maybe_broadcast

SNAPSHOT_DIR = "snapshot"
META_FILE = "_agg_meta.json"
REFRESH_JOURNAL = "_refresh_journal.json"
COUNT_COL = "n_rows"
# A refresh is a TRICKLE shape (static strategy, KB-to-MB frames) only
# when the pending delta files are small; past this, the corpus-scale
# fallback (bucket-count sizing, semi-join retraction, snapshot rewrite)
# must run under SESSION defaults — AQE on, full shuffle width. Sized so
# every pushdown-eligible refresh (≤ KEY_PUSHDOWN_LIMIT rows of full row
# images) lands under it with room to spare.
TRICKLE_DELTA_MAX_BYTES = 16 << 20


def _snap_path(agg_path: str) -> str:
    return os.path.join(agg_path, SNAPSHOT_DIR)


def _read_meta(agg_path: str) -> dict:
    with open(os.path.join(_snap_path(agg_path), META_FILE)) as fh:
        return json.load(fh)


def _sum_name(col: str) -> str:
    return f"sum_{col}"


def _nn_name(col: str) -> str:
    return f"nn_{col}"


def _min_name(col: str) -> str:
    return f"min_{col}"


def _hll_name(col: str) -> str:
    return f"hll_{col}"


def _kll_name(col: str) -> str:
    return f"kll_{col}"


def _max_name(col: str) -> str:
    return f"max_{col}"


def _agg_exprs(
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
    hll_cols: list[str] | None = None,
    kll_cols: list[str] | None = None,
) -> list:
    """COUNT(*), and per sum column: SUM (float64) + the NON-NULL count
    that makes incremental SUM exact — SQL's SUM is NULL iff no non-null
    value remains in the group, which plain add/subtract of sums cannot
    represent (a group retracted down to only-NULL values must flip back
    to NULL, not 0). Per min/max column: MIN and MAX in the column's own
    type (the reference's A5 min/max dates) — monotone under inserts,
    recomputed per dirty group under displacing retractions (see
    ``refresh_agg_snapshot``). Per hll column: a Datasketches HLL sketch
    (``hll_sketch_agg``) — the MERGEABLE form of COUNT DISTINCT (the
    reference's A6 distinct-days): inserts fold by ``hll_union``,
    retractions flag the group for the same narrow recompute MIN/MAX
    displacement pays (sketches are not invertible). Per kll column: a
    Datasketches KLL sketch (``kll_sketch_agg_double`` over the value
    cast to double) — the MERGEABLE form of quantiles/median (q41's
    percentile family kept FRESH): inserts fold by pairwise
    ``kll_sketch_merge_double``, retractions take the displaced-recompute
    path, reads render ``apx_p50_<col>`` etc. Unlike HLL (deterministic
    registers), KLL compaction is randomized, so the maintained
    guarantee is estimate-level (exact below the sketch's k=200 items,
    rank-error-bounded above), not byte-level."""
    exprs = [F.count(F.lit(1)).alias(COUNT_COL)]
    for c in sum_cols:
        exprs.append(F.sum(F.col(c).cast("double")).alias(_sum_name(c)))
        exprs.append(F.count(F.col(c)).alias(_nn_name(c)))
    for c in minmax_cols or []:
        exprs.append(F.min(F.col(c)).alias(_min_name(c)))
        exprs.append(F.max(F.col(c)).alias(_max_name(c)))
    for c in hll_cols or []:
        exprs.append(F.hll_sketch_agg(F.col(c)).alias(_hll_name(c)))
    for c in kll_cols or []:
        exprs.append(
            F.kll_sketch_agg_double(F.col(c).cast("double")).alias(
                _kll_name(c)
            )
        )
    return exprs


def _full_aggregate(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
    hll_cols: list[str] | None = None,
    kll_cols: list[str] | None = None,
) -> DataFrame:
    return df.groupBy(*group_cols).agg(
        *_agg_exprs(sum_cols, minmax_cols, hll_cols, kll_cols)
    )


def _recover_interrupted_refresh(agg_path: str) -> bool:
    """Complete a swap interrupted by a crash. The journal is written
    before the first rename; with it present, a fully-written staged dir
    rolls FORWARD, otherwise the parked dir rolls BACK. Orphan staged
    dirs without a journal are torn writes — dropped."""
    live = _snap_path(agg_path)
    staged = live + "__staged"
    retired = live + "__retired"
    journal = os.path.join(agg_path, REFRESH_JOURNAL)
    if not os.path.exists(journal):
        shutil.rmtree(staged, ignore_errors=True)
        return False
    if not os.path.isdir(live):
        if os.path.isdir(staged):
            os.rename(staged, live)
        elif os.path.isdir(retired):
            os.rename(retired, live)
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    os.remove(journal)
    return True


def _swap_in(agg_path: str, write_staged) -> None:
    """Write a new snapshot via ``write_staged(staged_dir)`` then swap it
    live: journal → park live → rename staged in → clean. Crash at any
    point leaves old-or-new, never a mix, and the embedded meta travels
    with the data."""
    live = _snap_path(agg_path)
    staged = live + "__staged"
    retired = live + "__retired"
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    write_staged(staged)
    journal = os.path.join(agg_path, REFRESH_JOURNAL)
    with open(journal + ".tmp", "w") as fh:
        json.dump({"swap": SNAPSHOT_DIR}, fh)
    os.replace(journal + ".tmp", journal)
    if os.path.isdir(live):
        os.rename(live, retired)
    os.rename(staged, live)
    shutil.rmtree(retired, ignore_errors=True)
    os.remove(journal)


def _write_snapshot(
    df: DataFrame, agg_path: str, meta: dict, n_files: int = 1
) -> None:
    def write_staged(staged: str) -> None:
        df.repartition(n_files).write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, META_FILE + ".tmp"), "w") as fh:
            json.dump(meta, fh)
        os.replace(
            os.path.join(staged, META_FILE + ".tmp"),
            os.path.join(staged, META_FILE),
        )

    _swap_in(agg_path, write_staged)


def read_agg_snapshot(
    spark: SparkSession, agg_path: str, estimate: bool = False
) -> DataFrame:
    """The maintained aggregate: one row per group, ``n_rows`` +
    ``sum_<col>``/``min_``/``max_``/``hll_``/``kll_`` columns.
    ``estimate=True`` additionally renders each maintained HLL sketch as
    an ``apx_distinct_<col>`` estimate column (the A6 distinct-count
    read shape) and each maintained KLL sketch as ``apx_p50_<col>`` /
    ``apx_p90_<col>`` / ``apx_p99_<col>`` quantile estimates (q41's
    percentile family, kept fresh)."""
    _recover_interrupted_refresh(agg_path)
    df = spark.read.parquet(_snap_path(agg_path))
    if estimate:
        meta = _read_meta(agg_path)
        for c in meta.get("hll_cols", []):
            df = df.withColumn(
                f"apx_distinct_{c}",
                F.when(
                    F.col(_hll_name(c)).isNotNull(),
                    F.hll_sketch_estimate(F.col(_hll_name(c))),
                ),
            )
        for c in meta.get("kll_cols", []):
            kn = _kll_name(c)
            # an all-NULL group's sketch is EMPTY (not NULL) and the
            # quantile getter throws on it — guard on the item count
            has_items = F.col(kn).isNotNull() & (
                F.kll_sketch_get_n_double(F.col(kn)) > 0
            )
            for q, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
                df = df.withColumn(
                    f"apx_{tag}_{c}",
                    F.when(
                        has_items,
                        F.kll_sketch_get_quantile_double(
                            F.col(kn), F.lit(q)
                        ),
                    ),
                )
    return df


def agg_snapshot_info(agg_path: str) -> dict:
    """Cursor + spec bookkeeping (no Spark job)."""
    _recover_interrupted_refresh(agg_path)
    return _read_meta(agg_path)


@single_writer("agg_path")
def build_agg_snapshot(
    spark: SparkSession,
    mor_path: str,
    agg_path: str,
    group_cols: list[str],
    sum_cols: list[str] | None = None,
    minmax_cols: list[str] | None = None,
    hll_cols: list[str] | None = None,
    kll_cols: list[str] | None = None,
) -> dict:
    """Full compute of the aggregate from the MOR state's current
    snapshot; records the state's sequence as the refresh cursor."""
    sum_cols = list(sum_cols or [])
    minmax_cols = list(minmax_cols or [])
    hll_cols = list(hll_cols or [])
    kll_cols = list(kll_cols or [])
    os.makedirs(agg_path, exist_ok=True)
    _recover_interrupted_refresh(agg_path)
    hist = mor_history(mor_path)
    out = _full_aggregate(
        read_mor(spark, mor_path), group_cols, sum_cols, minmax_cols,
        hll_cols, kll_cols,
    )
    meta = {
        "as_of_seq": hist["seq"],
        "group_cols": list(group_cols),
        "sum_cols": sum_cols,
        "minmax_cols": minmax_cols,
        "hll_cols": hll_cols,
        "kll_cols": kll_cols,
    }
    _write_snapshot(out, agg_path, meta)
    return {"mode": "build", "as_of_seq": hist["seq"]}


@single_writer("agg_path")
def refresh_agg_snapshot(
    spark: SparkSession, mor_path: str, agg_path: str
) -> dict:
    """Fold the MOR change feed since the snapshot's cursor into the
    maintained aggregate — O(changes), the base is scanned only in the
    changed keys' buckets. Falls back to a full rebuild when the change
    history was compacted away (mode="rebuild").

    A TRICKLE-sized refresh (pending delta files ≤
    ``TRICKLE_DELTA_MAX_BYTES``, decided from fs metadata BEFORE any job)
    runs in ``session.trickle_session``: its frames are bounded by
    |changes| and its strategy is static (broadcast merge joins,
    In-pushdown retraction), so AQE's per-exchange re-plan jobs and the
    LIMIT ramp of the sizing collect are pure fixed cost there. A
    corpus-sized refresh — and the noop/rebuild decisions, also made from
    fs metadata — runs in ``spark`` with its AQE and shuffle width:
    forcing millions of changed rows through 8 static shuffle partitions
    would plan badly."""
    from presencia_etl_spark.session import trickle_session

    _recover_interrupted_refresh(agg_path)
    meta = _read_meta(agg_path)
    since = meta["as_of_seq"]
    group_cols, sum_cols = meta["group_cols"], meta["sum_cols"]
    minmax_cols = meta.get("minmax_cols", [])
    hll_cols = meta.get("hll_cols", [])
    kll_cols = meta.get("kll_cols", [])
    hist = mor_history(mor_path)
    cur = hist["seq"]
    if cur == since:
        return {"mode": "noop", "as_of_seq": since}
    if since < hist["compacted_through"]:
        # Changes ≤ the floor were folded into the base (compaction or a
        # schema-drift COW fold) — they can no longer be separated out.
        r = build_agg_snapshot(
            spark, mor_path, agg_path, group_cols, sum_cols, minmax_cols,
            hll_cols, kll_cols,
        )
        return {**r, "mode": "rebuild"}
    pending = delta_bytes_in_range(mor_path, since, cur)
    from presencia_etl_spark.plans.incremental_join import DRIVER_DELTA_MAX_BYTES
    from presencia_etl_spark.sinks import driver_mor as dm

    def _recover_after_failed_fold():
        # The gate may have swallowed an unexpected error AFTER the
        # driver fold published (e.g. an OSError on the journal
        # cleanup). Unlike every other trickle consumer, the aggregate
        # fold is an ARITHMETIC snapshot rewrite, not a hash-classified
        # idempotent upsert — re-folding the same window would add the
        # delta twice. Re-read the on-disk cursor (after crash
        # recovery): if it already advanced to ``cur``, the driver
        # publish landed — report it, don't re-fold. Runs only when
        # ``driver_fn`` was actually invoked and failed; pre-invoke
        # skips (bytes bound / kill switch) go straight to Spark.
        _recover_interrupted_refresh(agg_path)
        if _read_meta(agg_path)["as_of_seq"] == cur:
            return {"mode": "incremental", "as_of_seq": cur, "path": "driver"}
        return None

    r = dm.try_trickle(
        lambda: _refresh_agg_driver(mor_path, agg_path, meta, since, cur),
        pending_bytes=pending,
        max_bytes=min(DRIVER_DELTA_MAX_BYTES, TRICKLE_DELTA_MAX_BYTES),
        idempotent=False,
        on_failure=_recover_after_failed_fold,
    )
    if r is not None:
        return r
    if pending <= TRICKLE_DELTA_MAX_BYTES:
        spark = trickle_session(spark)
    return _refresh_agg_snapshot_inner(
        spark, mor_path, agg_path, meta, since, cur, group_cols,
        sum_cols, minmax_cols, hll_cols, kll_cols,
    )


def _snapshot_bytes(agg_path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(_snap_path(agg_path)):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _cmp_lt(a, b):
    """Spark-consistent ``a < b`` for minmax folds. Declines (raises)
    where Python ordering could diverge from the JVM's: NaN doubles
    (Spark orders NaN largest) and non-BMP strings (Java compares
    UTF-16 code units, Python code points)."""
    from presencia_etl_spark.sinks.driver_mor import DriverDecline

    for v in (a, b):
        if isinstance(v, float) and v != v:
            raise DriverDecline("NaN ordering differs from the JVM", reason="nan_order")
        if isinstance(v, str) and any(ord(ch) > 0xFFFF for ch in v):
            raise DriverDecline(
                "non-BMP string ordering differs from JVM",
                reason="nonbmp_order",
            )
    return a < b


def _refresh_agg_driver(
    mor_path: str,
    agg_path: str,
    meta: dict,
    since: int,
    cur: int,
) -> dict:
    """The aggregate rung's zero-job steady state: the change feed and
    the retraction point-reads come from pyarrow, the COUNT/SUM/nn (and
    monotone MIN/MAX) folds run in Python, and the (small) snapshot is
    rewritten through the same journaled swap as the Spark path. Raises
    ``DriverDecline`` — caller falls back to the Spark fold — for:
    oversized feeds/snapshots, HLL columns (the sketch algebra lives in
    the JVM), a retraction that could DISPLACE a stored extreme (needs
    the per-group recompute), NaN/non-BMP minmax orderings, and
    unsupported column types. Float SUMs may differ from the Spark fold
    in the last ulp (addition order), exactly as two Spark runs may —
    the documented incremental-float-SUM contract."""
    from presencia_etl_spark.sinks import driver_mor as dm
    from presencia_etl_spark.sinks.driver_mor import DriverDecline

    group_cols = meta["group_cols"]
    sum_cols = meta["sum_cols"]
    minmax_cols = meta.get("minmax_cols", [])
    if meta.get("hll_cols"):
        raise DriverDecline("HLL sketch folds need the JVM", reason="hll")
    if meta.get("kll_cols"):
        raise DriverDecline("KLL sketch folds need the JVM", reason="kll")
    # the pending change feed must be KB-sized AND the snapshot
    # itself small enough to rewrite with one pyarrow pass
    if _snapshot_bytes(agg_path) > dm.DRIVER_REWRITE_MAX_BYTES:
        raise DriverDecline(
            "snapshot too large for a driver rewrite", reason="batch_too_big"
        )
    dm.table_kinds(mor_path)  # raises on unsupported source column types

    feed = dm.latest_per_key(dm.read_delta_range_rows(mor_path, since, cur))
    if len(feed) > dm.DRIVER_BATCH_MAX_KEYS:
        raise DriverDecline(
            "change set exceeds the driver bound", reason="batch_too_big"
        )
    n_changes = len(feed)
    mpath = os.path.join(_snap_path(agg_path), META_FILE)
    if n_changes == 0:
        with open(mpath + ".tmp", "w") as fh:
            json.dump({**meta, "as_of_seq": cur}, fh)
        os.replace(mpath + ".tmp", mpath)
        return {
            "mode": "incremental", "as_of_seq": cur, "changed_rows": 0,
            "path": "driver",
        }
    old = dm.read_live_rows_for_keys(mor_path, list(feed), as_of_seq=since)

    def _gkey(row):
        return tuple(
            _nz(row.get(g)) for g in group_cols
        )

    def _nz(v):
        if isinstance(v, float):
            if v != v:
                return "\x00__nan__"
            if v == 0.0:
                return 0.0
        return v

    # per-group deltas: [count, {c: (dsum, dnn)}, {c: (ins_min, ins_max)}]
    delta: dict[tuple, list] = {}

    def _acc(row, w):
        k = _gkey(row)
        d = delta.get(k)
        if d is None:
            d = [0, {c: [0.0, 0] for c in sum_cols},
                 {c: [None, None] for c in minmax_cols}]
            delta[k] = d
        d[0] += w
        for c in sum_cols:
            x = row.get(c)
            if x is not None:
                d[1][c][0] += w * float(x)
                d[1][c][1] += w
        for c in minmax_cols:
            x = row.get(c)
            if x is None:
                continue
            if w > 0:
                mnmx = d[2][c]
                if mnmx[0] is None or _cmp_lt(x, mnmx[0]):
                    mnmx[0] = x
                if mnmx[1] is None or _cmp_lt(mnmx[1], x):
                    mnmx[1] = x
        return k

    touched: set[tuple] = set()
    retr: dict[tuple, dict] = {}  # group -> {col: [ret_min, ret_max]}
    for r in feed.values():
        if not r[DELETED_COL]:
            touched.add(_acc(r, 1))
    for r in old.values():
        k = _acc(r, -1)
        touched.add(k)
        for c in minmax_cols:
            x = r.get(c)
            if x is None:
                continue
            g = retr.setdefault(k, {})
            mn = g.setdefault(c, [None, None])
            if mn[0] is None or _cmp_lt(x, mn[0]):
                mn[0] = x
            if mn[1] is None or _cmp_lt(mn[1], x):
                mn[1] = x

    # snapshot rewrite: pyarrow read, python fold, journaled swap.
    # r14: only rows whose group key MIGHT be in the delta cross the
    # arrow→Python boundary. The old fold to_pylist'ed the WHOLE
    # snapshot into per-row dicts and rebuilt it from Python lists —
    # O(snapshot) interpreted work per KB-sized tick (2-4 s on a
    # 150K-group snapshot; the maintained-top-K bench row spent most of
    # its time here). Untouched rows now stay as arrow columns end to
    # end: a per-column is_in superset mask (exact tuple match still
    # happens in the Python loop — superset rows not in the delta pass
    # through unchanged, same as before) selects the ≤2×|delta| touched
    # rows for the fold, and the rewrite concatenates the untouched
    # arrow slice with the folded rows.
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    snap_files = [
        os.path.join(root, f)
        for root, _d, fs in os.walk(_snap_path(agg_path))
        for f in fs
        if f.endswith(".parquet")
    ]
    if not snap_files:
        raise DriverDecline("no snapshot parquet files", reason="no_footers")
    tbl = pads.dataset(snap_files, format="parquet").to_table()
    sch = pq.read_schema(snap_files[0]).remove_metadata()
    names = list(tbl.schema.names)

    mask = None
    for i, g in enumerate(group_cols):
        parts = {k[i] for k in delta}
        has_null = None in parts
        has_nan = "\x00__nan__" in parts
        vals = [v for v in parts if v is not None and v != "\x00__nan__"]
        if 0.0 in parts:
            # the fold keys -0.0 and 0.0 together (_nz); match both
            vals.append(-0.0)
        col = tbl.column(g) if tbl.num_rows else None
        if col is None:
            m = pa.array([], type=pa.bool_())
        else:
            if vals:
                try:
                    vset = pa.array(vals, type=col.type)
                except (pa.lib.ArrowException, OverflowError, TypeError):
                    raise DriverDecline(
                        f"group key values for {g!r} don't fit the "
                        "snapshot column type", reason="shape",
                    )
                m = pc.fill_null(pc.is_in(col, value_set=vset), False)
            else:
                m = pc.equal(pc.is_valid(col), pa.scalar(False))  # all-false
            if has_null:
                m = pc.or_(m, pc.is_null(col))
            if has_nan and pa.types.is_floating(col.type):
                m = pc.or_(m, pc.fill_null(pc.is_nan(col), False))
        mask = m if mask is None else pc.and_(mask, m)
    if tbl.num_rows and mask is not None:
        touched_tbl = tbl.filter(mask)
        untouched_tbl = tbl.filter(pc.invert(mask))
    else:
        touched_tbl = tbl
        untouched_tbl = tbl.slice(0, 0)
    rows = [dict(zip(names, vals)) for vals in zip(*[
        touched_tbl.column(n).to_pylist() for n in names
    ])] if touched_tbl.num_rows else []

    out_rows = []
    seen: set[tuple] = set()
    for row in rows:
        k = _gkey(row)
        if k not in delta:
            out_rows.append(row)
            continue
        seen.add(k)
        d = delta[k]
        # retraction displacement check: a retracted extreme that ties
        # or beats the stored one needs the Spark recompute path
        for c, mn in retr.get(k, {}).items():
            lo, hi = row.get(_min_name(c)), row.get(_max_name(c))
            if mn[0] is not None and (lo is None or not _cmp_lt(lo, mn[0])):
                raise DriverDecline(
                    "retraction may displace a stored MIN", reason="displacement"
                )
            if mn[1] is not None and (hi is None or not _cmp_lt(mn[1], hi)):
                raise DriverDecline(
                    "retraction may displace a stored MAX", reason="displacement"
                )
        new = dict(row)
        new[COUNT_COL] = row[COUNT_COL] + d[0]
        if new[COUNT_COL] <= 0:
            continue  # group emptied
        for c in sum_cols:
            nn = row[_nn_name(c)] + d[1][c][1]
            s = (row[_sum_name(c)] or 0.0) + d[1][c][0]
            new[_nn_name(c)] = nn
            new[_sum_name(c)] = s if nn > 0 else None
        for c in minmax_cols:
            imn, imx = delta[k][2][c]
            lo, hi = row.get(_min_name(c)), row.get(_max_name(c))
            if imn is not None and (lo is None or _cmp_lt(imn, lo)):
                new[_min_name(c)] = imn
            if imx is not None and (hi is None or _cmp_lt(hi, imx)):
                new[_max_name(c)] = imx
        out_rows.append(new)
    for k, d in delta.items():
        if k in seen or d[0] <= 0:
            continue  # brand-new groups only ever have +rows
        new = {
            g: (float("nan") if v == "\x00__nan__" else v)
            for g, v in zip(group_cols, k)
        }
        new[COUNT_COL] = d[0]
        for c in sum_cols:
            nn = d[1][c][1]
            new[_nn_name(c)] = nn
            new[_sum_name(c)] = d[1][c][0] if nn > 0 else None
        for c in minmax_cols:
            new[_min_name(c)], new[_max_name(c)] = d[2][c]
        out_rows.append(new)

    def write_staged(staged: str) -> None:
        os.makedirs(staged, exist_ok=True)
        data = {n: [r.get(n) for r in out_rows] for n in sch.names}
        folded = pa.Table.from_pydict(data, schema=sch)
        out_tbl = pa.concat_tables(
            [untouched_tbl.select(sch.names).cast(sch), folded]
        )
        pq.write_table(
            out_tbl,
            os.path.join(staged, "part-00000.parquet"),
            use_deprecated_int96_timestamps=True,
            compression="snappy",
        )
        with open(os.path.join(staged, META_FILE + ".tmp"), "w") as fh:
            json.dump({**meta, "as_of_seq": cur}, fh)
        os.replace(
            os.path.join(staged, META_FILE + ".tmp"),
            os.path.join(staged, META_FILE),
        )

    _swap_in(agg_path, write_staged)
    return {
        "mode": "incremental",
        "as_of_seq": cur,
        "changed_rows": n_changes,
        "dirty_buckets": len({r.get(BUCKET_COL) for r in feed.values()}),
        # a successful driver fold is by definition non-displacing
        "minmax_recomputed_groups": 0,
        "path": "driver",
    }


def _refresh_agg_snapshot_inner(
    spark: SparkSession,
    mor_path: str,
    agg_path: str,
    meta: dict,
    since: int,
    cur: int,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
    hll_cols: list[str] | None = None,
    kll_cols: list[str] | None = None,
) -> dict:
    minmax_cols = list(minmax_cols or [])
    hll_cols = list(hll_cols or [])
    kll_cols = list(kll_cols or [])
    # Bounded at BOTH ends: as_of_seq pins the feed to the sequence we
    # record as the new cursor, so a merge landing mid-refresh is neither
    # half-applied now nor skipped by the next refresh.
    changes = read_mor_changes(
        spark, mor_path, since_seq=since, as_of_seq=cur
    ).cache()
    try:
        # ONE bounded job sizes the refresh, yields the dirty-bucket list,
        # and (below the pushdown bound) the changed-key list — a NARROW
        # limit+collect, no shuffle — while materializing the cache every
        # later step reuses. The feed has one row per changed key, so the
        # collected keys are distinct by construction. Past the bound
        # (corpus-sized refresh) fall back to one bucket-count job.
        sample = (
            changes.select(cdc.KEY_COL, BUCKET_COL)
            .limit(KEY_PUSHDOWN_LIMIT + 1)
            .collect()
        )
        if len(sample) <= KEY_PUSHDOWN_LIMIT:
            n_changes = len(sample)
            dirty = sorted({r[BUCKET_COL] for r in sample})
            pushed_keys = [r[cdc.KEY_COL] for r in sample]
        else:
            bucket_counts = (
                changes.groupBy(BUCKET_COL)
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
            )
            n_changes = sum(r["_n"] for r in bucket_counts)
            dirty = [r[BUCKET_COL] for r in bucket_counts]
            pushed_keys = None
        if n_changes == 0:
            # Merges happened but every row was a SKIP — move only the
            # cursor. An in-place atomic meta write is safe EXACTLY when
            # the contents are unchanged: either ordering of (old cursor,
            # new cursor) with the same data is a consistent pair.
            mpath = os.path.join(_snap_path(agg_path), META_FILE)
            with open(mpath + ".tmp", "w") as fh:
                json.dump({**meta, "as_of_seq": cur}, fh)
            os.replace(mpath + ".tmp", mpath)
            return {"mode": "incremental", "as_of_seq": cur, "changed_rows": 0}

        # buckets= prunes the retraction read at the file LISTING — only
        # the dirty buckets' dirs are even enumerated (read_mor docstring).
        old_state = read_mor(spark, mor_path, as_of_seq=since, buckets=dirty)
        if pushed_keys is not None:
            # In(key) pushes into the key-sorted base files: row-group
            # skipping inside the dirty buckets (the delete_keys_mor
            # discipline), and one fewer join in the plan.
            old_rows = old_state.filter(in_list(cdc.KEY_COL, pushed_keys))
        else:
            old_rows = old_state.join(
                _maybe_broadcast(
                    changes.select(cdc.KEY_COL).distinct(), n_changes
                ),
                cdc.KEY_COL,
                "left_semi",
            )

        cols = list(
            dict.fromkeys(
                list(group_cols) + list(sum_cols) + minmax_cols + hll_cols
                + kll_cols
            )
        )
        # Tombstoned keys (row-level deletes) contribute NO +1 row — their
        # change-feed entry is the pre-delete image flagged `_deleted`, and
        # the only arithmetic effect of a delete is the retraction of the
        # old version below (whose key set intentionally includes them).
        weighted = (
            changes.filter(~F.col(DELETED_COL))
            .select(*cols)
            .withColumn("_w", F.lit(1))
            .unionByName(old_rows.select(*cols).withColumn("_w", F.lit(-1)))
        )
        delta_exprs = [F.sum("_w").cast("bigint").alias(COUNT_COL)]
        for c in sum_cols:
            delta_exprs.append(
                F.sum(F.col(c).cast("double") * F.col("_w")).alias(_sum_name(c))
            )
            delta_exprs.append(
                F.sum(
                    F.when(F.col(c).isNotNull(), F.col("_w")).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias(_nn_name(c))
            )
        for c in minmax_cols:
            # the +side extremes fold monotonically; the RETRACTED-side
            # extremes only decide whether a group's stored extreme might
            # have been displaced (-> recompute that group)
            ins = F.when(F.col("_w") > 0, F.col(c))
            ret = F.when(F.col("_w") < 0, F.col(c))
            delta_exprs += [
                F.min(ins).alias(_min_name(c)),
                F.max(ins).alias(_max_name(c)),
                F.min(ret).alias(f"_rmn_{c}"),
                F.max(ret).alias(f"_rmx_{c}"),
            ]
        for c in hll_cols:
            # insert-side values fold into a mergeable sketch; ANY
            # retracted non-null value flags the group for recompute
            # (HLL is not invertible — the MIN/MAX displacement rule,
            # conservative: a retraction of a still-present value also
            # recomputes, bounded by the delta's groups either way)
            delta_exprs += [
                F.hll_sketch_agg(F.when(F.col("_w") > 0, F.col(c))).alias(
                    _hll_name(c)
                ),
                F.max(
                    (F.col("_w") < 0) & F.col(c).isNotNull()
                ).alias(f"_hd_{c}"),
            ]
        for c in kll_cols:
            # same displaced-recompute contract as HLL: insert-side
            # values fold into a mergeable sketch, ANY retracted
            # non-null value flags the group for recompute (KLL is not
            # invertible)
            delta_exprs += [
                F.kll_sketch_agg_double(
                    F.when(F.col("_w") > 0, F.col(c).cast("double"))
                ).alias(_kll_name(c)),
                F.max(
                    (F.col("_w") < 0) & F.col(c).isNotNull()
                ).alias(f"_qd_{c}"),
            ]
        # The delta feeds THREE plan branches (the broadcast merge join,
        # the touched-groups semi probe, and the fresh-groups anti probe
        # side). The broadcast exchange is reused across the first two,
        # but the probe side would RE-RUN the retraction scan — snapshot
        # the (at most |changes|-group) delta eagerly so the scan runs
        # ONCE, fully parallel, and the snapshot write below degenerates
        # to a trivial tiny-frame job.
        delta = (
            weighted.groupBy(*group_cols).agg(*delta_exprs)
            .localCheckpoint(eager=True)
        )

        prev = read_agg_snapshot(spark, agg_path)
        d = _maybe_broadcast(delta, n_changes)
        join_cond = None
        for g in group_cols:
            c = prev[g].eqNullSafe(d[g])
            join_cond = c if join_cond is None else (join_cond & c)
        # Null-safe equality throughout: a NULL group key is a real group
        # and must match itself (plain `on=[names]` equality would split
        # it into a phantom duplicate).
        # Existing groups: previous values + (possibly NULL) delta. The
        # SUM flips back to NULL exactly when the merged non-null count
        # hits zero (retracted down to only-NULL values).
        merged_cols = [prev[g].alias(g) for g in group_cols]
        merged_cols.append(
            (prev[COUNT_COL] + F.coalesce(d[COUNT_COL], F.lit(0))).alias(
                COUNT_COL
            )
        )
        for c in sum_cols:
            nn = prev[_nn_name(c)] + F.coalesce(d[_nn_name(c)], F.lit(0))
            s = F.coalesce(prev[_sum_name(c)], F.lit(0.0)) + F.coalesce(
                d[_sum_name(c)], F.lit(0.0)
            )
            merged_cols.append(
                F.when(nn > 0, s).otherwise(F.lit(None)).alias(_sum_name(c))
            )
            merged_cols.append(nn.alias(_nn_name(c)))
        mm_dirty = F.lit(False)
        for c in hll_cols:
            hn = _hll_name(c)
            merged_cols.append(
                F.when(d[hn].isNull(), prev[hn])
                .when(prev[hn].isNull(), d[hn])
                .otherwise(F.hll_union(prev[hn], d[hn]))
                .alias(hn)
            )
            mm_dirty = mm_dirty | F.coalesce(d[f"_hd_{c}"], F.lit(False))
        for c in kll_cols:
            kn = _kll_name(c)
            merged_cols.append(
                F.when(d[kn].isNull(), prev[kn])
                .when(prev[kn].isNull(), d[kn])
                .otherwise(F.kll_sketch_merge_double(prev[kn], d[kn]))
                .alias(kn)
            )
            mm_dirty = mm_dirty | F.coalesce(d[f"_qd_{c}"], F.lit(False))
        for c in minmax_cols:
            # inserts fold monotonically (least/greatest skip NULLs); a
            # retraction can only DISPLACE a stored extreme when it ties
            # or beats it — those groups get an exact recompute below.
            merged_cols.append(
                F.least(prev[_min_name(c)], d[_min_name(c)]).alias(_min_name(c))
            )
            merged_cols.append(
                F.greatest(prev[_max_name(c)], d[_max_name(c)]).alias(
                    _max_name(c)
                )
            )
            rmn, rmx = d[f"_rmn_{c}"], d[f"_rmx_{c}"]
            mm_dirty = (
                mm_dirty
                | (
                    rmn.isNotNull()
                    & (prev[_min_name(c)].isNull() | (rmn <= prev[_min_name(c)]))
                )
                | (
                    rmx.isNotNull()
                    & (prev[_max_name(c)].isNull() | (rmx >= prev[_max_name(c)]))
                )
            )
        if minmax_cols or hll_cols or kll_cols:
            merged_cols.append(mm_dirty.alias("_mmd"))
        existing = prev.join(d, join_cond, "left_outer").select(*merged_cols)
        # Brand-new groups: in the delta, absent from the snapshot (their
        # delta rows are all +1 — retractions only hit groups the snapshot
        # already holds). A direct `delta ANTI JOIN snapshot` cannot
        # broadcast (anti joins build only the RIGHT side, and the
        # snapshot is the big frame) — so first extract the ≤|delta|
        # snapshot groups the delta touches via a broadcast SEMI join
        # (narrow scan, no shuffle), then anti-join the delta against
        # THAT small set, broadcast. The snapshot is never shuffled.
        snap_cols = [COUNT_COL]
        for c in sum_cols:
            snap_cols += [_sum_name(c), _nn_name(c)]
        for c in minmax_cols:
            # a brand-new group's extremes ARE its insert-side extremes
            snap_cols += [_min_name(c), _max_name(c)]
        for c in hll_cols:
            # a brand-new group's sketch IS its insert-side sketch
            snap_cols += [_hll_name(c)]
        for c in kll_cols:
            snap_cols += [_kll_name(c)]
        touched = prev.join(d, join_cond, "left_semi").select(*group_cols)
        dd, t = delta.alias("dd"), touched.alias("t")
        anti_cond = None
        for g in group_cols:
            c = F.col(f"dd.{g}").eqNullSafe(F.col(f"t.{g}"))
            anti_cond = c if anti_cond is None else (anti_cond & c)
        fresh = dd.join(F.broadcast(t), anti_cond, "left_anti").select(
            *group_cols, *snap_cols
        )
        n_mmd = 0
        if minmax_cols or hll_cols or kll_cols:
            fresh = fresh.withColumn("_mmd", F.lit(False))
        out = existing.unionByName(fresh).filter(F.col(COUNT_COL) > 0)
        if minmax_cols or hll_cols or kll_cols:
            # Displaced-extreme groups (bounded by the delta's groups):
            # recompute exactly those from the base — ONE narrow scan
            # restricted by a broadcast semi join, the documented honest
            # cost of non-invertible aggregates under retraction. Groups
            # cannot be pruned by bucket (they are not the key); a
            # refresh with no displacing retraction never pays this.
            dirty_rows = existing.filter(F.col("_mmd")).select(
                *group_cols
            ).collect()
            n_mmd = len(dirty_rows)
            if n_mmd:
                gdf = spark.createDataFrame(
                    dirty_rows, existing.select(*group_cols).schema
                )
                base = read_mor(spark, mor_path, as_of_seq=cur)
                bb, gg = base.alias("bb"), gdf.alias("gg")
                sc = None
                for g in group_cols:
                    c_ = F.col(f"bb.{g}").eqNullSafe(F.col(f"gg.{g}"))
                    sc = c_ if sc is None else (sc & c_)
                rc_exprs = []
                for c in minmax_cols:
                    rc_exprs.append(F.min(F.col(c)).alias(f"_rc_min_{c}"))
                    rc_exprs.append(F.max(F.col(c)).alias(f"_rc_max_{c}"))
                for c in hll_cols:
                    rc_exprs.append(
                        F.hll_sketch_agg(F.col(c)).alias(f"_rc_hll_{c}")
                    )
                for c in kll_cols:
                    rc_exprs.append(
                        F.kll_sketch_agg_double(
                            F.col(c).cast("double")
                        ).alias(f"_rc_kll_{c}")
                    )
                rc = (
                    bb.join(F.broadcast(gg), sc, "left_semi")
                    .groupBy(*group_cols)
                    .agg(*rc_exprs)
                    .withColumn("_rc", F.lit(True))
                )
                o, r_ = out.alias("o"), rc.alias("r")
                oc = None
                for g in group_cols:
                    c_ = F.col(f"o.{g}").eqNullSafe(F.col(f"r.{g}"))
                    oc = c_ if oc is None else (oc & c_)
                final_cols = [F.col(f"o.{g}").alias(g) for g in group_cols]
                final_cols.append(F.col(f"o.{COUNT_COL}").alias(COUNT_COL))
                for c in sum_cols:
                    final_cols.append(F.col(f"o.{_sum_name(c)}").alias(_sum_name(c)))
                    final_cols.append(F.col(f"o.{_nn_name(c)}").alias(_nn_name(c)))
                for c in minmax_cols:
                    # _rc distinguishes "recomputed to NULL" (all values
                    # gone/NULL now) from "not recomputed"
                    final_cols.append(
                        F.when(
                            F.col("r._rc"), F.col(f"r._rc_min_{c}")
                        ).otherwise(F.col(f"o.{_min_name(c)}")).alias(_min_name(c))
                    )
                    final_cols.append(
                        F.when(
                            F.col("r._rc"), F.col(f"r._rc_max_{c}")
                        ).otherwise(F.col(f"o.{_max_name(c)}")).alias(_max_name(c))
                    )
                for c in hll_cols:
                    final_cols.append(
                        F.when(
                            F.col("r._rc"), F.col(f"r._rc_hll_{c}")
                        ).otherwise(F.col(f"o.{_hll_name(c)}")).alias(_hll_name(c))
                    )
                for c in kll_cols:
                    final_cols.append(
                        F.when(
                            F.col("r._rc"), F.col(f"r._rc_kll_{c}")
                        ).otherwise(F.col(f"o.{_kll_name(c)}")).alias(_kll_name(c))
                    )
                out = o.join(F.broadcast(r_), oc, "left_outer").select(
                    *final_cols
                )
            else:
                out = out.drop("_mmd")
        _write_snapshot(out, agg_path, {**meta, "as_of_seq": cur})
        delta.unpersist()
    finally:
        changes.unpersist()
    return {
        "mode": "incremental",
        "as_of_seq": cur,
        "changed_rows": n_changes,
        "dirty_buckets": len(dirty),
        "minmax_recomputed_groups": n_mmd,
    }
