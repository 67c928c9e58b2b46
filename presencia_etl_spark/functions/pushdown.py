"""One-round-trip IN filters for driver-collected pushdown key lists.

Several operators collect a bounded key list on the driver and push it
back into a parquet scan as an ``In`` predicate (the dedup-index band
probe, MOR keyed deletes, the incremental-agg retraction). The obvious
spelling — ``F.col(c).isin(keys)`` — builds one literal ``Column`` PER
KEY through py4j (~0.5 ms of driver round-trip each): a 4096-key
pushdown costs ~2 s of pure driver time per call, measured dominating
the admit loop's marginal batch. Rendering the same predicate as ONE
SQL string and letting the JVM parse it is a single round trip and
yields the identical ``In`` expression — parquet pushdown, row-group
skipping and all.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# Past this many keys the per-key py4j cost of the isin fallback is
# macroscopic (~0.5 ms/key → ≥0.25 s/call); below it the fallback is an
# invisible correctness detail not worth a warning.
_FALLBACK_WARN_THRESHOLD = 512
_warned_fallback = False


def _render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        # Default Spark SQL parser: backslash escapes are ACTIVE inside
        # string literals (escapedStringLiterals=false) — escape the
        # escape char first, then the quote.
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(
        f"in_list renders int/str/bool/None keys only, got {type(v).__name__}"
    )


def _default_literal_mode_confirmed() -> bool:
    """True iff we can POSITIVELY read
    ``spark.sql.parser.escapedStringLiterals`` as false. The legacy/
    Hive-compat true mode keeps backslashes literal, so ``_render``'s
    escaping would produce WRONG predicates for quote/backslash keys.
    SQL conf is per session, but a trickle session mirrors its parent's
    runtime conf (``session.trickle_session``), so the parent's answer
    holds for both. When this thread has no active session
    (``run_per_table`` workers don't inherit the thread-local) the
    process-wide instantiated session answers for it — the per-key
    ``Column.isin`` fallback engages only when NO session is reachable
    at all (then the mode genuinely cannot be known)."""
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        return False
    try:
        return (
            spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
            .lower()
            == "false"
        )
    except Exception:
        return False


def in_list(col: str, values) -> Column:
    """``col IN (<values>)`` as one parsed SQL expression.

    Semantically identical to ``F.col(col).isin(values)`` (three-valued
    IN: NULLs in the column never match) at a constant driver cost.
    An empty list is ``lit(False)`` — SQL ``IN ()`` does not parse, and
    an empty isin is false for every row anyway.

    The fast path renders string keys for the DEFAULT parser
    (``escapedStringLiterals=false``). Quote/backslash-bearing keys take
    it only when that mode is POSITIVELY confirmed on this thread's
    session — if the conf is flipped (no faithful literal spelling
    exists) or unreadable (worker thread without the active-session
    thread-local), the call transparently falls back to ``Column.isin``:
    per-key py4j cost, but always the correct predicate."""
    vals = list(values)
    if not vals:
        return F.lit(False)
    if any(
        isinstance(v, str) and ("'" in v or "\\" in v) for v in vals
    ) and not _default_literal_mode_confirmed():
        # Warn ONCE when the slow path engages at a scale where it hurts:
        # a session-less worker thread (or a flipped parser conf) silently
        # paying ~0.5 ms/key of py4j would otherwise read as an
        # unexplained 2 s/call regression instead of a misconfiguration.
        global _warned_fallback
        if len(vals) >= _FALLBACK_WARN_THRESHOLD and not _warned_fallback:
            _warned_fallback = True
            warnings.warn(
                f"in_list falling back to per-key Column.isin for "
                f"{len(vals)} keys (escapedStringLiterals mode not "
                "positively confirmed — no active SparkSession on this "
                "thread, or legacy parser mode). Correct but ~0.5 ms/key "
                "of driver round-trips; ensure a session is reachable "
                "from this thread to restore the one-round-trip path.",
                stacklevel=2,
            )
        # Backquote to match the fast path: F.col parses dots as struct
        # field access, so a literal "a.b" column would silently resolve
        # differently depending on which branch the thread takes.
        return F.col(f"`{col}`").isin(vals)
    return F.expr(f"`{col}` IN ({','.join(_render(v) for v in vals)})")
