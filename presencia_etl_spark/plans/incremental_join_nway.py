"""Native N-way incremental join views — one view, N source cursors.

Round 10 chained 3-table stars as view-over-view, which works but
materializes the intermediate pair state: double storage and a second
refresh latency on every tick. This module propagates signed deltas
through an N-way inner equi-join NATIVELY (the reference's own 3-table
star is the shape users build — ``context/context.md:795-831``):

    V = T_0 |><| T_1 |><| ... |><| T_{N-1}

    dV = sum over i of
         (T_0..T_{i-1})@c  |><|  dT_i  |><|  (T_{i+1}..T_{N-1})@s

i.e. each changed source contributes ONE term: its signed delta joined
against the earlier sources at their NEW sequences and the later ones at
their OLD sequences (telescoping — expand each T@c = T@s + dT to verify;
every cross term lands in exactly one product). All terms net into one
frame and land as ONE atomic mixed merge into the view (upserts +
tombstones, single sequence number), so a crash can never apply half a
refresh and the view's own change feed stays a valid input for a
downstream ``plans/incremental_agg`` rollup.

Join topology: an arbitrary connected equi-join GRAPH declared
per-source (``on=[(other_col, own_col), ...]`` — each ``other_col``
must be a projection column of exactly one OTHER source). A term is
assembled by traversing the graph outward from the changed source,
probing each neighbor with the join values accumulated so far — the
same ``_big_side`` discipline as the 2-way rung: a neighbor whose join
columns ARE its primary key (star FK→PK) is bucket-pruned at the file
listing and In()-pushed; anything else is an honest narrow scan, never
a shuffle of the big side. A source with no changes contributes no term
at all (fs metadata, no job).

Join kinds: ``how="inner"`` (any connected graph) and ``how="left"``
(STAR topology only — the reference's own 3-table LEFT JOIN,
``context/context.md:795-831``, is a fact with optional dims). The
general N-way NULL-extension algebra (which unmatched combination to
materialize when several sides dangle) has no canonical SQL answer,
but a left-star DOES: source 0 is the spine, every other source is a
dimension joined FK→PK (its join columns are its primary key, so each
fact row matches at most one row per dim), and each dangling dim
NULL-extends independently — exactly SQL's chained LEFT JOINs. Under
that shape every fact row appears in the view exactly once and a dim
change at key ``pk`` affects exactly the fact rows probing ``pk``, so
the refresh stays O(changes): the fact term left-joins the signed fact
delta against key-pruned dims, and each changed dim contributes a
matched↔unmatched transition sweep over the (bounded) affected fact
rows — dense dim re-keys decline to a rebuild, the 2-way
``_DenseRefresh`` discipline. Non-star outer shapes stay on the 2-way
rung (``how="left"/"right"/"full"``), chaining where needed.

State layout mirrors the 2-way rung: ``view_path`` is a MOR state plus
``_join_meta.json`` with ``{"nway": true, "sources": [...], "seqs":
[...]}``; ``refresh_join_view`` (2-way module) dispatches here on the
flag, so one CLI/cron entry point drives both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presencia_etl_spark.plans.incremental_join import (
    TRICKLE_DELTA_MAX_BYTES,
    W_COL,
    _join_frames,
    _read_meta,
    _signed_delta,
    _big_side,
    _write_meta,
)
from presencia_etl_spark.sinks.locking import single_writer
from presencia_etl_spark.sinks.mor import (
    delta_bytes_in_range,
    merge_upsert_mor,
    mor_history,
    read_mor,
)
from presencia_etl_spark.sinks.writers import _maybe_broadcast


def _check_nway_spec(sources: list[dict], how: str = "inner") -> list[dict]:
    """Validate + resolve the join graph. Returns the sources with each
    ``on`` pair resolved to ``edges: [(other_idx, other_col, own_col)]``.
    Requirements: ≥2 sources; pairwise-disjoint projections; keys inside
    projections; every ``other_col`` owned by exactly one other source;
    the edge graph connected. ``how="left"`` additionally requires the
    STAR shape that makes N-way left-outer canonical: every non-spine
    source joins source 0 directly, on exactly its own key columns
    (FK→PK — at most one match per fact row, so dangling dims
    NULL-extend independently with no combination ambiguity)."""
    if len(sources) < 2:
        raise ValueError("an N-way view needs at least two sources")
    owner: dict[str, int] = {}
    for i, s in enumerate(sources):
        cols = list(dict.fromkeys(s["cols"]))
        s["cols"] = cols
        if not set(s["key_cols"]) <= set(cols):
            raise ValueError(
                f"source {i}: key_cols must be part of its projection"
            )
        for c in cols:
            if c in owner:
                raise ValueError(
                    f"view projection collides across sources: {c!r} is in "
                    f"source {owner[c]} and source {i}; rename one side."
                )
            owner[c] = i
    if sources[0].get("on"):
        raise ValueError("source 0 anchors the graph and takes no 'on'")
    adj: dict[int, set[int]] = {i: set() for i in range(len(sources))}
    for i, s in enumerate(sources[1:], start=1):
        pairs = [tuple(p) for p in (s.get("on") or [])]
        if not pairs:
            raise ValueError(f"source {i} needs on=[(other_col, own_col)]")
        edges = []
        for oc, own in pairs:
            if own not in set(s["cols"]):
                raise ValueError(
                    f"source {i}: own join column {own!r} not in its cols"
                )
            k = owner.get(oc)
            if k is None or k == i:
                raise ValueError(
                    f"source {i}: join column {oc!r} is not a projection "
                    "column of another source"
                )
            if k > i:
                raise ValueError(
                    f"source {i}: join column {oc!r} belongs to source {k} "
                    "— edges must reference EARLIER sources (declare the "
                    "sources in join order, like a SQL FROM chain)"
                )
            edges.append((k, oc, own))
            adj[i].add(k)
            adj[k].add(i)
        s["edges"] = edges
    seen = {0}
    frontier = [0]
    while frontier:
        n = frontier.pop()
        for m in adj[n]:
            if m not in seen:
                seen.add(m)
                frontier.append(m)
    if len(seen) != len(sources):
        raise ValueError("the join graph is not connected")
    if how == "left":
        for i, s in enumerate(sources[1:], start=1):
            if any(k != 0 for k, _oc, _own in s["edges"]):
                raise ValueError(
                    f"how='left' needs a STAR: source {i} must join "
                    "source 0 directly (snowflake edges have no canonical "
                    "N-way left semantics — chain 2-way views instead)"
                )
            own_on = {own for _k, _oc, own in s["edges"]}
            if own_on != set(s["key_cols"]):
                raise ValueError(
                    f"how='left' needs FK→PK edges: source {i}'s join "
                    f"columns {sorted(own_on)} must be exactly its "
                    f"key_cols {sorted(s['key_cols'])}"
                )
    elif how != "inner":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return sources


def _all_edges(meta: dict) -> list[tuple[int, int, str, str]]:
    """Undirected edge list: (i, j, col_on_i, col_on_j)."""
    out = []
    for j, s in enumerate(meta["sources"]):
        for k, oc, own in s.get("edges", []):
            out.append((k, j, oc, own))
    return out


def _materialize_nway(
    spark: SparkSession, meta: dict, seqs: list[int]
) -> DataFrame:
    srcs = meta["sources"]
    how = meta.get("how", "inner")
    frame = read_mor(spark, srcs[0]["path"], as_of_seq=seqs[0]).select(
        *srcs[0]["cols"]
    )
    have = list(srcs[0]["cols"])
    for i, s in enumerate(srcs[1:], start=1):
        right = read_mor(spark, s["path"], as_of_seq=seqs[i]).select(
            *s["cols"]
        )
        pairs = [(oc, own) for _k, oc, own in s["edges"]]
        # left-star: every dim hangs off the spine, so chained LEFT
        # joins are exactly SQL's semantics (each dangles independently)
        frame = _join_frames(frame, right, pairs, have, s["cols"], how=how)
        have = list(dict.fromkeys(have + s["cols"]))
    view_cols = [c for s in srcs for c in s["cols"]]
    return frame.select(*view_cols)


@single_writer("view_path")
def build_join_view_nway(
    spark: SparkSession,
    sources: list[dict],
    view_path: str,
    num_buckets: int = 64,
    compact_every: int | None = 16,
    compact_keep_last: int | None = None,
    how: str = "inner",
) -> dict:
    """Full materialization of the N-way join into a MOR view state
    keyed by the concatenation of every source's key columns; records
    each source's sequence as its refresh cursor.

    ``sources``: ``[{path, key_cols, cols}, {path, key_cols, cols,
    on=[(other_col, own_col), ...]}, ...]`` — source 0 anchors the
    graph; every other source declares equi-join edges to columns owned
    by other sources (star, chain, or any connected shape).
    ``how="left"`` (star topology only — see module docstring) keeps
    every source-0 row, NULL-extending each unmatched dimension; a
    dangling row's view key renders the missing dim keys as ''
    (normalize_key's NULL form), so matched↔unmatched transitions are
    ordinary upsert+tombstone pairs in the view's change feed."""
    sources = _check_nway_spec([dict(s) for s in sources], how=how)
    seqs = [mor_history(s["path"])["seq"] for s in sources]
    meta = {
        "nway": True,
        "how": how,
        "sources": [
            {
                "path": s["path"],
                "key_cols": list(s["key_cols"]),
                "cols": list(s["cols"]),
                "on": [list(p) for p in (s.get("on") or [])],
                "edges": [list(e) for e in s.get("edges", [])],
            }
            for s in sources
        ],
        "num_buckets": num_buckets,
        "compact_every": compact_every,
        "compact_keep_last": compact_keep_last,
        "seqs": seqs,
    }
    joined = _materialize_nway(spark, meta, seqs)
    key_cols = [c for s in sources for c in s["key_cols"]]
    r = merge_upsert_mor(
        spark,
        joined,
        view_path,
        key_cols=key_cols,
        num_buckets=num_buckets,
        compact_every=compact_every,
        compact_keep_last=compact_keep_last,
        delete_missing=True,
    )
    _write_meta(view_path, meta)
    return {"mode": "build", "seqs": seqs, **r}


@single_writer("view_path")
def refresh_join_view_nway(spark: SparkSession, view_path: str) -> dict:
    """Fold every source's change feed since its cursor into the
    N-way view — one signed-delta term per changed source, assembled by
    graph traversal with key-pruned big-side probes, netted, and landed
    as ONE atomic mixed merge. Falls back to a full rebuild when any
    source compacted past its cursor (the rebuild is a delete_missing
    merge — the view's own feed stays continuous). A trickle-sized
    refresh runs in ``session.trickle_session``."""
    from presencia_etl_spark.session import trickle_session

    meta = _read_meta(view_path)
    if not meta.get("nway"):
        raise ValueError(
            f"{view_path!r} is a 2-way view; use refresh_join_view"
        )
    srcs = meta["sources"]
    hists = [mor_history(s["path"]) for s in srcs]
    old = list(meta["seqs"])
    new = [h["seq"] for h in hists]
    if new == old:
        return {"mode": "noop", "seqs": old}
    if any(o < h["compacted_through"] for o, h in zip(old, hists)):
        r = build_join_view_nway(
            spark,
            [dict(s) for s in srcs],
            view_path,
            meta["num_buckets"],
            meta.get("compact_every", 16),
            meta.get("compact_keep_last"),
            how=meta.get("how", "inner"),
        )
        return {**r, "mode": "rebuild"}
    pending = sum(
        delta_bytes_in_range(s["path"], o, n)
        for s, o, n in zip(srcs, old, new)
    )
    from presencia_etl_spark.plans.incremental_join import DRIVER_DELTA_MAX_BYTES
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
        lambda: _refresh_driver_nway(
            view_path, meta, old, new, spark._jvm, spark=spark
        ),
        pending_bytes=pending,
        max_bytes=min(DRIVER_DELTA_MAX_BYTES, TRICKLE_DELTA_MAX_BYTES),
        on_compact=_compact,
    )
    if r is not None:
        return r
    from presencia_etl_spark.plans.incremental_join import _DenseRefresh

    ss = trickle_session(spark) if pending <= TRICKLE_DELTA_MAX_BYTES else spark
    try:
        return _refresh_nway_inner(ss, view_path, meta, old, new)
    except _DenseRefresh:
        # a dense dim re-key on a LEFT star: unbounded affected-fact
        # probes would not pay — one honest rebuild, in ``spark``
        r = build_join_view_nway(
            spark,
            [dict(s) for s in srcs],
            view_path,
            meta["num_buckets"],
            meta.get("compact_every", 16),
            meta.get("compact_keep_last"),
            how=meta.get("how", "inner"),
        )
        return {**r, "mode": "rebuild"}


def _refresh_driver_nway(
    view_path: str, meta: dict, old: list, new: list, jvm=None, spark=None
) -> dict:
    """The N-way zero-job steady state: every term assembled on the
    driver — signed deltas via pyarrow, each graph neighbor point-read
    by its primary key (required: every crossing edge's far-side columns
    ARE that source's key — the star/chain FK→PK shape), net landed as
    one atomic mixed merge. Raises ``DriverDecline`` outside that shape
    (the Spark term assembly below covers it).

    Left-star DIM changes (the matched↔unmatched transition sweep) stay
    on this path too when ``spark`` is given: the ONE thing the driver
    can't do — find the affected fact rows by join VALUE — runs as a
    single In()-pushed Spark scan of the fact (bounded collect), and
    everything else (the other dims' point reads, the changed dim's
    @old/@new probes, the net, the landing) remains driver work. The
    full Spark sweep previously paid ~50 fixed-cost jobs per KB-sized
    dim tick for the same result (see ``_driver_left_dim_term``)."""
    from presencia_etl_spark.functions import driver_parity as dp
    from presencia_etl_spark.plans.incremental_join import (
        _canon_row,
        _driver_signed,
        _probe_map,
        _repr_row,
    )
    from presencia_etl_spark.sinks import driver_mor as dm
    from presencia_etl_spark.sinks.mor import KEY_PUSHDOWN_LIMIT

    srcs = meta["sources"]
    kinds = [dm.table_kinds(s["path"]) for s in srcs]
    edges = _all_edges(meta)
    for i, j, ci, cj in edges:
        if kinds[i][ci] != kinds[j][cj]:
            raise dm.DriverDecline(
                f"edge ({ci}, {cj}) differs in type — Spark-side coercion "
                "isn't reproduced here",
                reason="shape",
            )
    deltas: dict[int, list] = {}
    ns: dict[int, int] = {}
    for idx, s in enumerate(srcs):
        if new[idx] > old[idx]:
            signed, n = _driver_signed(s["path"], old[idx], new[idx])
            if n:
                deltas[idx] = signed
                ns[idx] = n
    if sum(ns.values()) > min(KEY_PUSHDOWN_LIMIT, dm.DRIVER_BATCH_MAX_KEYS):
        raise dm.DriverDecline(
            "change set exceeds the pushdown bound", reason="batch_too_big"
        )
    how = meta.get("how", "inner")
    dim_changed = sorted(set(deltas) - {0}) if how == "left" else []
    if dim_changed and spark is None:
        # a changed dim flips matched↔unmatched on fact rows the driver
        # can't address by key (the probe is BY JOIN VALUE into the
        # fact) — without a session for the one In()-pushed fact scan,
        # the Spark transition sweep covers it
        raise dm.DriverDecline(
            "left star view with dimension changes needs the transition "
            "sweep",
            reason="shape",
        )

    view_cols = [c for s in srcs for c in s["cols"]]
    key_cols = [c for s in srcs for c in s["key_cols"]]
    net: dict[tuple, int] = {}
    reps: dict[tuple, tuple] = {}

    def _fold(vals: tuple, w: int) -> None:
        ck = _canon_row(vals)
        net[ck] = net.get(ck, 0) + w
        if ck not in reps:
            reps[ck] = _repr_row(vals)

    for i in dim_changed:
        _driver_left_dim_term(
            spark, meta, old, new, i, deltas[i], kinds, jvm, _fold
        )
    for i, signed in deltas.items():
        if i in dim_changed:
            continue
        assembled = [
            ({c: r[c] for c in srcs[i]["cols"]}, w) for r, w in signed
        ]
        joined_nodes = {i}
        remaining = set(range(len(srcs))) - joined_nodes
        while remaining and assembled:
            cand = None
            for j in sorted(remaining):
                js = [
                    (a, b, ca, cb)
                    for (a, b, ca, cb) in edges
                    if (a == j and b in joined_nodes)
                    or (b == j and a in joined_nodes)
                ]
                if js:
                    cand = (j, js)
                    break
            if cand is None:
                raise ValueError("join graph became disconnected")
            j, js = cand
            pairs = [
                (cb, ca) if a == j else (ca, cb) for a, b, ca, cb in js
            ]
            if set(p[1] for p in pairs) != set(srcs[j]["key_cols"]):
                raise dm.DriverDecline(
                    f"source {j} is not key-joined; honest scan needed",
                    reason="shape",
                )
            as_of = new[j] if j < i else old[j]
            on_cols = [p[1] for p in pairs]
            vals = {
                tuple(row[fc] for fc, _jc in pairs)
                for row, _w in assembled
            }
            jmap = _probe_map(
                srcs[j]["path"],
                on_cols,
                vals,
                kinds[j],
                as_of,
                jvm,
                srcs[j]["key_cols"],
            )
            nxt = []
            for row, w in assembled:
                jv = tuple(row[fc] for fc, _jc in pairs)
                # NULL components never match (SQL equality)
                hit = (
                    jmap.get(_canon_row(jv))
                    if all(x is not None for x in jv)
                    else None
                )
                if hit is not None:
                    merged = dict(row)
                    merged.update({c: hit[c] for c in srcs[j]["cols"]})
                    nxt.append((merged, w))
                elif how == "left":
                    # star spine row with a dangling dim: NULL-extend
                    # (this loop sees only the FACT term for left stars —
                    # dims are read @old, and a dim that also changed
                    # transitions these rows in its own sweep term)
                    merged = dict(row)
                    merged.update({c: None for c in srcs[j]["cols"]})
                    nxt.append((merged, w))
            assembled = nxt
            joined_nodes.add(j)
            remaining.discard(j)
        for row, w in assembled:
            _fold(tuple(row[c] for c in view_cols), w)

    ups = [dict(zip(view_cols, reps[ck])) for ck, w in net.items() if w > 0]
    vkinds = dm.table_kinds(view_path)
    kidx = [view_cols.index(c) for c in key_cols]
    kkinds = [vkinds[c] for c in key_cols]
    dels = [
        dp.composite_key([reps[ck][i] for i in kidx], kkinds, jvm)
        for ck, w in net.items()
        if w < 0
    ]
    out = {
        "mode": "incremental",
        "seqs": new,
        "changes": dict(ns),
        "upserts": 0,
        "deletes": 0,
        "path": "driver",
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
    _write_meta(view_path, {**meta, "seqs": new})
    return out


def _driver_left_dim_term(
    spark, meta: dict, old: list, new: list, i: int, signed: list,
    kinds: list, jvm, fold,
) -> None:
    """One changed dim's matched↔unmatched transition sweep, assembled
    on the driver: the affected fact rows (F@new probed by the dim's
    changed key VALUES — the one non-key-addressable read) come from a
    single In()-pushed, bounded Spark collect; the other dims join by
    point read at their telescoping sequences (j<i @new, j>i @old); the
    changed dim's @old row retracts (−1) and its @new row asserts (+1)
    each affected view row — exactly ``_refresh_nway_left``'s dim term,
    minus ~15 fixed-cost Spark jobs per KB-sized tick. Declines past the
    driver bound (the Spark sweep handles up to the pushdown limit; a
    dense re-key rebuilds there)."""
    from presencia_etl_spark.functions.pushdown import in_list
    from presencia_etl_spark.plans.incremental_join import (
        _canon_row,
        _probe_map,
    )
    from presencia_etl_spark.session import trickle_session
    from presencia_etl_spark.sinks import driver_mor as dm
    from presencia_etl_spark.sinks.mor import KEY_PUSHDOWN_LIMIT

    srcs = meta["sources"]
    pairs_i = [(oc, own) for _k, oc, own in srcs[i]["edges"]]
    fact_cols = list(srcs[0]["cols"])
    fcs = [fc for fc, _own in pairs_i]
    # changed key tuples from BOTH signs of the dim's signed delta;
    # NULL components never equi-match, so they probe nothing
    vals = {
        _canon_row(tuple(r[own] for _fc, own in pairs_i))
        for r, _w in signed
    }
    vals = {v for v in vals if all(x is not None for x in v)}
    if not vals:
        return
    per_col: dict[str, list] = {}
    for ci, (fc, _own) in enumerate(pairs_i):
        cvs = {v[ci] for v in vals}
        if not all(isinstance(x, (int, str, bool)) for x in cvs):
            raise dm.DriverDecline(
                "dim key values outside the In-pushable kinds — the "
                "Spark sweep's semi-join probe covers them",
                reason="shape",
            )
        per_col[fc] = sorted(cvs, key=lambda v: (str(type(v)), v))
    # ups + suppressed delete keys land as ONE trickle batch of ≤
    # 2 × n_aff rows — bound the collect so the landing can't overflow
    # the driver merge after the probes already ran
    bound = min(KEY_PUSHDOWN_LIMIT, dm.DRIVER_BATCH_MAX_KEYS // 2)
    probe = read_mor(trickle_session(spark), srcs[0]["path"], as_of_seq=new[0])
    for fc, cvs in per_col.items():
        probe = probe.filter(in_list(fc, cvs))
    rows = probe.select(*fact_cols).limit(bound + 1).collect()
    if len(rows) > bound:
        raise dm.DriverDecline(
            "affected fact rows exceed the driver bound",
            reason="batch_too_big",
        )
    # per-column In() is a superset for composite keys — exact-match here
    aff = [
        r.asDict()
        for r in rows
        if _canon_row(tuple(r[fc] for fc in fcs)) in vals
    ]
    if not aff:
        return
    # a fact state seeded with duplicate merge keys (the Spark merge's
    # documented arbitrary-winner territory) can't land driver-side —
    # trickle_merge would decline at the very end anyway; decline NOW,
    # before the dims' point reads run for nothing
    fact_keys = [
        tuple(row[k] for k in srcs[0]["key_cols"]) for row in aff
    ]
    if len(set(fact_keys)) < len(fact_keys):
        raise dm.DriverDecline(
            "duplicate fact keys among the affected rows — the Spark "
            "sweep's merge owns arbitrary-winner semantics",
            reason="duplicate_keys",
        )
    for j in range(1, len(srcs)):
        if j == i:
            continue
        pj = [(oc, own) for _k, oc, own in srcs[j]["edges"]]
        as_of = new[j] if j < i else old[j]
        pvals = {
            tuple(row[fc] for fc, _own in pj)
            for row in aff
            if all(row[fc] is not None for fc, _own in pj)
        }
        jmap = _probe_map(
            srcs[j]["path"],
            [own for _fc, own in pj],
            pvals,
            kinds[j],
            as_of,
            jvm,
            srcs[j]["key_cols"],
        )
        for row in aff:
            jv = tuple(row[fc] for fc, _own in pj)
            hit = (
                jmap.get(_canon_row(jv))
                if all(x is not None for x in jv)
                else None
            )
            row.update(
                {
                    c: (hit[c] if hit is not None else None)
                    for c in srcs[j]["cols"]
                }
            )
    pvals = {tuple(row[fc] for fc in fcs) for row in aff}
    view_srcs = [(s_idx, s["cols"]) for s_idx, s in enumerate(srcs)]
    for as_of, w in ((old[i], -1), (new[i], 1)):
        imap = _probe_map(
            srcs[i]["path"],
            [own for _fc, own in pairs_i],
            pvals,
            kinds[i],
            as_of,
            jvm,
            srcs[i]["key_cols"],
        )
        for row in aff:
            hit = imap.get(_canon_row(tuple(row[fc] for fc in fcs)))
            out: list = []
            for s_idx, cols in view_srcs:
                if s_idx == i:
                    out += [
                        hit[c] if hit is not None else None for c in cols
                    ]
                else:
                    out += [row[c] for c in cols]
            fold(tuple(out), w)


def _land_nway_terms(
    spark: SparkSession,
    view_path: str,
    meta: dict,
    new: list,
    terms: list,
    changes: dict,
) -> dict:
    """Net the signed term union and land it as ONE atomic mixed merge
    (upserts + tombstones, one sequence); cursors advance after the
    commit — a crash between them replays the same signed delta, which
    re-classifies as skips (idempotent)."""
    srcs = meta["sources"]
    view_cols = [c for s in srcs for c in s["cols"]]
    key_cols = [c for s in srcs for c in s["key_cols"]]
    if not terms:
        _write_meta(view_path, {**meta, "seqs": new})
        return {
            "mode": "incremental", "seqs": new, "changes": changes,
            "upserts": 0, "deletes": 0,
        }
    dv = terms[0]
    for t in terms[1:]:
        dv = dv.unionByName(t)
    net = (
        dv.groupBy(*view_cols)
        .agg(F.sum(W_COL).alias(W_COL))
        .filter(F.col(W_COL) != 0)
        .localCheckpoint(eager=True)
    )
    n_up = n_del = 0
    # One collect = row count + sign split (the 2-way _refresh_inner
    # discipline): an upsert-only net skips the merge's delete_keys
    # machinery entirely.
    sign_rows = (
        net.groupBy((F.col(W_COL) > 0).alias("_pos"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    n_pos = sum(r["_n"] for r in sign_rows if r["_pos"])
    n_neg = sum(r["_n"] for r in sign_rows if not r["_pos"])
    if n_pos or n_neg:
        ups = net.filter(F.col(W_COL) > 0).drop(W_COL)
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
            digest_prune=False,
            delete_keys=dels,
        )
        n_up = int(r["insert"]) + int(r["update"])
        n_del = int(r["delete"])
    _write_meta(view_path, {**meta, "seqs": new})
    return {
        "mode": "incremental", "seqs": new, "changes": changes,
        "upserts": n_up, "deletes": n_del,
    }


def _refresh_nway_inner(
    spark: SparkSession, view_path: str, meta: dict, old: list, new: list
) -> dict:
    if meta.get("how", "inner") == "left":
        return _refresh_nway_left(spark, view_path, meta, old, new)
    srcs = meta["sources"]
    view_cols = [c for s in srcs for c in s["cols"]]
    key_cols = [c for s in srcs for c in s["key_cols"]]
    edges = _all_edges(meta)
    need = [list(s["cols"]) for s in srcs]

    deltas: dict[int, tuple] = {}
    try:
        for i, s in enumerate(srcs):
            if new[i] > old[i]:
                d, n = _signed_delta(spark, s["path"], old[i], new[i], need[i])
                if d is not None:
                    deltas[i] = (d, n)
        terms = []
        for i, (d, n) in deltas.items():
            frame = _maybe_broadcast(d, n)
            have_cols = need[i] + [W_COL]
            joined_nodes = {i}
            remaining = set(range(len(srcs))) - joined_nodes
            while remaining:
                cand = None
                for j in sorted(remaining):
                    js = [
                        (a, b, ca, cb)
                        for (a, b, ca, cb) in edges
                        if (a == j and b in joined_nodes)
                        or (b == j and a in joined_nodes)
                    ]
                    if js:
                        cand = (j, js)
                        break
                if cand is None:  # unreachable: spec is connected
                    raise ValueError("join graph became disconnected")
                j, js = cand
                # pairs as (frame_col, j_col)
                pairs = []
                for a, b, ca, cb in js:
                    if a == j:
                        pairs.append((cb, ca))
                    else:
                        pairs.append((ca, cb))
                as_of = new[j] if j < i else old[j]
                own_on = [p[1] for p in pairs]
                probe = frame.select(
                    *[F.col(fc).alias(jc) for fc, jc in pairs]
                )
                big, _pr = _big_side(
                    spark,
                    srcs[j]["path"],
                    as_of,
                    srcs[j]["key_cols"],
                    own_on,
                    probe,
                    n,
                )
                frame = _join_frames(
                    frame,
                    big.select(*need[j]),
                    pairs,
                    have_cols,
                    need[j],
                )
                have_cols = list(dict.fromkeys(have_cols + need[j]))
                joined_nodes.add(j)
                remaining.discard(j)
            terms.append(frame.select(*view_cols, W_COL))

        return _land_nway_terms(
            spark, view_path, meta, new, terms,
            {i: n for i, (_d, n) in deltas.items()},
        )
    finally:
        for d, _n in deltas.values():
            d.unpersist()


def _refresh_nway_left(
    spark: SparkSession, view_path: str, meta: dict, old: list, new: list
) -> dict:
    """Left-star refresh, O(changes) per telescoping term:

    - fact term (source 0 changed): the signed fact delta LEFT-joined
      against every dim at its OLD sequence, each dim read key-pruned by
      the delta's FK values (FK→PK by the spec check) — dangling FKs and
      NULL FKs NULL-extend exactly as a recompute would;
    - dim term (dim i changed): the matched↔unmatched transition sweep.
      The affected fact rows are F@new probed BY JOIN VALUE with dim i's
      changed keys (bounded by the pushdown limit — a dense dim re-key
      raises ``_DenseRefresh`` and the caller rebuilds); each affected
      row emits −(row ⟕ dim_i@old) and +(row ⟕ dim_i@new), with the
      other dims joined once at their telescoping sequences (j<i @new,
      j>i @old).

    All terms net into one frame and land atomically
    (``_land_nway_terms``)."""
    from presencia_etl_spark.plans.incremental_join import (
        _DenseRefresh,
        _big_side,
        _collect_keyed_probe,
        _join_frames,
        _signed_delta,
    )
    from presencia_etl_spark.sinks.mor import KEY_PUSHDOWN_LIMIT

    srcs = meta["sources"]
    view_cols = [c for s in srcs for c in s["cols"]]
    K = len(srcs)
    cached = []
    try:
        deltas: dict[int, tuple] = {}
        for i, s in enumerate(srcs):
            if new[i] > old[i]:
                d, n = _signed_delta(
                    spark, s["path"], old[i], new[i], list(s["cols"])
                )
                if d is not None:
                    deltas[i] = (d, n)
                    cached.append(d)
        terms = []
        if 0 in deltas:
            d, n = deltas[0]
            frame = _maybe_broadcast(d, n)
            have = list(srcs[0]["cols"]) + [W_COL]
            for j in range(1, K):
                pairs = [(oc, own) for _k, oc, own in srcs[j]["edges"]]
                probe = frame.select(
                    *[F.col(fc).alias(jc) for fc, jc in pairs]
                )
                big, _pr = _big_side(
                    spark, srcs[j]["path"], old[j], srcs[j]["key_cols"],
                    [own for _fc, own in pairs], probe, n,
                )
                frame = _join_frames(
                    frame, big.select(*srcs[j]["cols"]), pairs, have,
                    srcs[j]["cols"], how="left",
                )
                have = list(dict.fromkeys(have + srcs[j]["cols"]))
            terms.append(frame.select(*view_cols, W_COL))
        for i in range(1, K):
            if i not in deltas:
                continue
            di, n_i = deltas[i]
            pairs_i = [(oc, own) for _k, oc, own in srcs[i]["edges"]]
            own_on_i = [own for _oc, own in pairs_i]
            vals = di.select(*own_on_i).distinct()
            # affected fact rows at F@new, probed by the changed dim
            # keys — a VALUE probe into the spine (not key-addressable).
            # _big_side In()-pushes the bounded FK value set into the
            # fact scan (row-group stats skip on an FK-clustered fact)
            # instead of decoding the full snapshot for a KB dim tick.
            probe_f = vals.select(
                *[F.col(own).alias(fc) for fc, own in pairs_i]
            )
            fact_at_new, _pr = _big_side(
                spark, srcs[0]["path"], new[0], srcs[0]["key_cols"],
                [fc for fc, _own in pairs_i], probe_f, n_i,
            )
            # ONE In-pushed fact scan: materialize the (limit-bounded)
            # affected set eagerly, then count the checkpointed rows —
            # count-then-checkpoint scanned the fact twice. The limit
            # keeps a dense sweep's materialization bounded before the
            # _DenseRefresh check fires.
            aff = (
                _join_frames(
                    fact_at_new.select(*srcs[0]["cols"]),
                    _maybe_broadcast(vals, n_i),
                    pairs_i,
                    srcs[0]["cols"],
                    [],
                    how="left_semi",
                )
                .limit(KEY_PUSHDOWN_LIMIT + 1)
                .localCheckpoint(eager=True)
            )
            n_aff = aff.count()
            if n_aff > KEY_PUSHDOWN_LIMIT:
                raise _DenseRefresh()
            if n_aff == 0:
                continue
            base = _maybe_broadcast(aff, n_aff)
            # every probe below needs only the fact's FK columns, and the
            # FK→PK dim joins preserve the fact rows 1:1 — probing off
            # the pre-join checkpoint is exactly equivalent and keeps the
            # already-joined dims out of every probe collect's plan
            fact_probe = base
            have = list(srcs[0]["cols"])
            for j in range(1, K):
                if j == i:
                    continue
                pj = [(oc, own) for _k, oc, own in srcs[j]["edges"]]
                as_of = new[j] if j < i else old[j]
                probe_j = fact_probe.select(
                    *[F.col(fc).alias(jc) for fc, jc in pj]
                )
                big, _pr = _big_side(
                    spark, srcs[j]["path"], as_of, srcs[j]["key_cols"],
                    [own for _fc, own in pj], probe_j, n_aff,
                )
                base = _join_frames(
                    base, big.select(*srcs[j]["cols"]), pj, have,
                    srcs[j]["cols"], how="left",
                )
                have = list(dict.fromkeys(have + srcs[j]["cols"]))
            probe_i = fact_probe.select(
                *[F.col(fc).alias(jc) for fc, jc in pairs_i]
            )
            # the @old and @new reads probe the SAME values — collect the
            # keyed probe once
            keyed_i = _collect_keyed_probe(
                probe_i,
                srcs[i]["key_cols"],
                mor_history(srcs[i]["path"])["num_buckets"],
            )
            for as_of, w in ((old[i], -1), (new[i], 1)):
                big_i, _pr = _big_side(
                    spark, srcs[i]["path"], as_of, srcs[i]["key_cols"],
                    own_on_i, probe_i, n_aff, keyed=keyed_i,
                )
                t = _join_frames(
                    base, big_i.select(*srcs[i]["cols"]), pairs_i, have,
                    srcs[i]["cols"], how="left",
                )
                terms.append(
                    t.withColumn(W_COL, F.lit(w)).select(*view_cols, W_COL)
                )
        return _land_nway_terms(
            spark, view_path, meta, new, terms,
            {i: n for i, (_d, n) in deltas.items()},
        )
    finally:
        for d in cached:
            d.unpersist()
