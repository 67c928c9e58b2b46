"""SQL surface over a synced warehouse.

The reference's warehouse is MySQL — its consumers just ``SELECT`` from
the synced tables (reconcile queries, the Flask endpoints, ad-hoc BI).
Our warehouse is a directory of parquet states in three layouts (flat
COW, bucketed COW, merge-on-read); this module gives SQL consumers the
same experience: one call registers every state as a temp view with the
CORRECT reader for its layout, so ``spark.sql("SELECT ... FROM socios")``
works no matter how the table is stored — a MOR table's view applies the
latest-wins delta reconciliation and tombstone filtering transparently.

Views are metadata-only (no job, no copy) — but they SNAPSHOT the file
listing (and, for MOR, the delta-dir set) at registration: a merge that
lands after ``register_state_views`` is not visible to the existing view
(verified by test). That is consistent-read behavior, not staleness —
re-register after syncs (cheap: footer reads only) to advance the
snapshot, the same move as a table format's REFRESH. Register under a
fixed prefix for multi-warehouse sessions.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks.lifecycle import state_kind
from presencia_etl_spark.sinks.mor import read_mor
from presencia_etl_spark.sinks.writers import BUCKET_COL

# Engine-internal columns SQL consumers shouldn't see by default; the
# audit envelope (id, row_hash, created_at, updated_at) IS part of the
# reference's warehouse tables and stays visible.
INTERNAL_COLS = (BUCKET_COL, cdc.KEY_COL)


def _view_name(dirname: str) -> str:
    name = re.sub(r"\W", "_", dirname).strip("_").lower()
    if not name or name[0].isdigit():
        name = f"t_{name}"
    return name


def read_state(
    spark: SparkSession, path: str, as_of_seq: int | None = None
) -> DataFrame:
    """The contents of one state dir, layout-aware; ``as_of_seq`` gives a
    snapshot read on MOR states (ignored for COW — they hold no history)."""
    if state_kind(spark, path) == "mor":
        return read_mor(spark, path, as_of_seq=as_of_seq)
    return spark.read.parquet(path)


def register_state_views(
    spark: SparkSession,
    warehouse_root: str,
    include_internal: bool = False,
    prefix: str = "",
    generation: int | None = None,
) -> dict[str, str]:
    """CREATE OR REPLACE a temp view per state dir under ``warehouse_root``.

    Returns {view_name: state_path}. A dir is a state if it is a MOR
    root, holds ``_kb=`` bucket dirs, or holds parquet files directly;
    other dirs are skipped silently (checkpoints, indexes).

    ``generation=N`` (or -1 for the latest recorded) pins every MOR view
    at the delta sequence the warehouse manifest recorded for sync run N
    (``plans.generations``) — a cross-table CONSISTENT snapshot: queries
    joining several MOR tables see exactly run N's state even while newer
    syncs land. COW tables can't time-travel and resolve to their current
    state (all-MOR warehouses get the full guarantee); a MOR table
    created AFTER run N is EXCLUDED from the pinned view set (it did not
    exist in that snapshot — querying it is a loud table-not-found, never
    a silent current-state read); ``plans.generations.
    non_snapshot_tables`` reports both sets. A generation older than a
    table's compaction floor raises, like any expired snapshot.

    Two distinct state dirs can normalize to one view name ('Socios' and
    'socios', 'a-b' and 'a_b') — that registration raises instead of
    silently overwriting the earlier view."""
    seqs: dict[str, int] = {}
    pinned_mor: set[str] | None = None
    if generation is not None:
        from presencia_etl_spark.plans.generations import generation_entry

        entry = generation_entry(
            warehouse_root, None if generation == -1 else generation
        )
        seqs = {
            d: t["seq"]
            for d, t in entry["tables"].items()
            if t["kind"] == "mor"
        }
        pinned_mor = set(seqs)
    out: dict[str, str] = {}
    from presencia_etl_spark.sinks.writers import is_reserved_sibling

    for d in sorted(os.listdir(warehouse_root)):
        path = os.path.join(warehouse_root, d)
        if (
            not os.path.isdir(path)
            or d.startswith((".", "_"))
            # A crashed journaled swap leaves its staged/retired sibling
            # holding real parquet — not a table, never a view.
            or is_reserved_sibling(d)
        ):
            continue
        is_mor = os.path.exists(os.path.join(path, "_mor_meta.json"))
        # A maintained aggregate snapshot (plans/incremental_agg) is a
        # warehouse table too: the IVM ladder's results stay SQL-visible
        # (join views are MOR states and register through the normal
        # path already). Reads the CURRENT snapshot; generation pinning
        # applies to base tables, not derived ones.
        is_agg = os.path.exists(
            os.path.join(path, "snapshot", "_agg_meta.json")
        )
        is_state = is_mor or is_agg or any(
            c.startswith(f"{BUCKET_COL}=") or c.endswith(".parquet")
            for c in os.listdir(path)
        )
        if not is_state:
            continue
        name = f"{prefix}{_view_name(d)}"
        if name in out:
            # Collision first — an excluded dir colliding with a
            # registered one must raise, never drop the registered view.
            raise ValueError(
                f"state dirs {os.path.basename(out[name])!r} and {d!r} "
                f"both normalize to view name {name!r}; rename one dir "
                "or register them under different prefixes."
            )
        if is_agg:
            from presencia_etl_spark.plans.incremental_agg import (
                read_agg_snapshot,
            )

            read_agg_snapshot(spark, path).createOrReplaceTempView(name)
            out[name] = path
            continue
        if is_mor and pinned_mor is not None and d not in pinned_mor:
            # Created after the pinned generation: not part of that
            # snapshot. Excluding beats silently serving current state —
            # and a view of the same name left behind by an EARLIER
            # unpinned registration must go too, or this session would
            # quietly join pinned tables against its current state.
            spark.catalog.dropTempView(name)
            continue
        df = read_state(spark, path, as_of_seq=seqs.get(d))
        if not include_internal:
            df = df.drop(*[c for c in INTERNAL_COLS if c in df.columns])
        df.createOrReplaceTempView(name)
        out[name] = path
    # Views from an EARLIER registration under this (session, prefix)
    # whose state dirs no longer exist (dropped table, external cleanup)
    # would otherwise survive and serve a deleted snapshot's listing —
    # drop whatever this pass did not re-register.
    key = (id(spark), prefix)
    for stale in _REGISTERED.get(key, set()) - set(out):
        spark.catalog.dropTempView(stale)
    _REGISTERED[key] = set(out)
    return out


# {(session identity, prefix): names the LAST registration created} — the
# bookkeeping that lets a re-registration retire views for vanished state
# dirs. Session identity by id(): sessions live for the process here, and
# a recycled id at worst drops a same-named temp view that the next
# registration would have replaced anyway.
_REGISTERED: dict[tuple[int, str], set[str]] = {}


# Statements the SQL surface accepts — the warehouse consumers' READ
# surface (the reference's consumers SELECT from MySQL; nothing on this
# path may mutate state). The head keyword alone is NOT sufficient:
# Spark's grammar allows a CTE prefix on DML (`WITH x AS (...) INSERT
# OVERWRITE DIRECTORY ...` parses and writes), so `_assert_read_only`
# additionally parses the statement WITHOUT executing it and rejects any
# plan tree containing a command/DML node.
READONLY_HEADS = ("select", "with", "show", "describe", "desc", "explain")
# Parse-tree node-name fragments that mean "this executes a side effect".
# Spark renders every DDL/DML parse node as *Statement or *Command, plus
# the v2 write nodes; a pure query tree (Project/Filter/Aggregate/Join/
# CTE/...) contains none of these. False positives (an identifier that
# happens to contain one of these strings verbatim) fail CLOSED — the
# right direction for a surface advertised as read-only.
_WRITE_NODE_FRAGMENTS = (
    "InsertInto",
    "WriteTo",
    "Command",
    "Statement",
    # v2 DML parse nodes carry none of the generic suffixes:
    "DeleteFrom",
    "UpdateTable",
    "MergeInto",
    "ReplaceTable",
    "ReplaceData",
    "WriteDelta",
)
# Non-DML parse nodes that still escape a read-only surface:
# - ScriptTransformation: `SELECT TRANSFORM(...) USING '<cmd>'` runs an
#   arbitrary shell command on executors (Hive script transform).
# - *WithUnresolvedIdentifier (ExpressionWithUnresolvedIdentifier /
#   PlanWithUnresolvedIdentifier): the IDENTIFIER() clause defers NAME
#   RESOLUTION to analysis time, so a smuggled reflect() call or
#   path-based relation carries none of the parse-time tokens the other
#   gates match. No legitimate warehouse-view query needs IDENTIFIER();
#   fail closed.
_ESCAPE_NODE_FRAGMENTS = (
    "ScriptTransformation",
    "WithUnresolvedIdentifier",
)
# Expression-level escapes a plain SELECT can smuggle: reflect()/
# java_method() invoke arbitrary static Java methods on executors. In the
# parse tree an unresolved CALL renders as `'name(` — a mere identifier
# named "reflect" renders without the paren, so columns/CTEs of that name
# stay legal.
_SIDE_EFFECT_FN = re.compile(r"'(?:try_)?(?:reflect|java_method)\(", re.I)
# Relation refs: registered warehouse views are all SINGLE-part names, so
# a multi-part relation (`parquet.`/any/path``, `db.t`, `global_temp.x`)
# reads outside the advertised surface — reject, fail closed.
_RELATION = re.compile(r"'UnresolvedRelation \[([^\]]*)\]")


def _assert_read_only(spark: SparkSession, stmt: str) -> None:
    head = stmt.split(None, 1)[0].lower() if stmt else ""
    if head not in READONLY_HEADS:
        raise ValueError(
            f"read-only SQL surface: statement must start with one of "
            f"{READONLY_HEADS}, got {head!r}"
        )
    if head in ("select", "with"):
        # Parse only — no analysis, no execution (spark.sql() would run a
        # smuggled DML command EAGERLY, so the check must precede it).
        # A parse failure (e.g. the multi-statement smuggle `SELECT 1;
        # DROP VIEW t` — Spark's parser takes ONE statement) surfaces as
        # the same ValueError: nothing was executed.
        try:
            tree = (
                spark._jsparkSession.sessionState()
                .sqlParser()
                .parsePlan(stmt)
                .treeString()
            )
        except Exception as e:
            first = str(e).split("\n", 1)[0]
            raise ValueError(
                f"read-only SQL surface: statement failed to parse "
                f"(one statement per call): {first}"
            ) from None
        for frag in _WRITE_NODE_FRAGMENTS:
            if frag in tree:
                raise ValueError(
                    "read-only SQL surface: the statement parses to a "
                    f"plan containing a {frag!r} node — DML/DDL (even "
                    "behind a WITH prefix) is rejected."
                )
        # Case-insensitive: expression nodes render lowercase
        # ('expressionwithunresolvedidentifier(...)'), plan nodes in
        # CamelCase ('PlanWithUnresolvedIdentifier').
        tree_l = tree.lower()
        for frag in _ESCAPE_NODE_FRAGMENTS:
            if frag.lower() in tree_l:
                raise ValueError(
                    "read-only SQL surface: the statement parses to a "
                    f"plan containing a {frag!r} node — script "
                    "transforms and IDENTIFIER() indirection are "
                    "rejected (they defer side effects or name "
                    "resolution past the parse-time gate)."
                )
        if _SIDE_EFFECT_FN.search(tree):
            raise ValueError(
                "read-only SQL surface: reflect()/java_method() invoke "
                "arbitrary JVM methods and are rejected."
            )
        for m in _RELATION.finditer(tree):
            parts = m.group(1).split(", ")
            if len(parts) > 1 or any("/" in p for p in parts):
                raise ValueError(
                    "read-only SQL surface: only single-part relation "
                    f"names (registered warehouse views) are queryable; "
                    f"got {m.group(1)!r} (path-based and qualified "
                    "references are rejected)."
                )
    # show/describe/desc/explain parse to single-purpose command nodes
    # that cannot smuggle a write (EXPLAIN never executes its child).


def run_sql(
    spark: SparkSession,
    warehouse_root: str,
    statement: str,
    generation: int | None = None,
    include_internal: bool = False,
    prefix: str = "",
    limit: int = 1000,
) -> dict:
    """Register the warehouse's state views and run ONE read-only SQL
    statement — the CLI/HTTP form of the SQL surface (the reference's
    consumers queried the warehouse through its control plane). Returns
    {'views', 'columns', 'rows', 'truncated'}; rows are capped at
    ``limit`` (the driver materializes them). ``generation`` pins MOR
    views to a recorded sync run, exactly as ``register_state_views``."""
    stmt = (statement or "").strip().rstrip(";")
    _assert_read_only(spark, stmt)
    views = register_state_views(
        spark,
        warehouse_root,
        include_internal=include_internal,
        prefix=prefix,
        generation=generation,
    )
    df = spark.sql(stmt)
    rows = [r.asDict(recursive=True) for r in df.limit(limit + 1).collect()]
    return {
        "views": views,
        "columns": list(df.columns),
        "rows": rows[:limit],
        "truncated": len(rows) > limit,
    }
