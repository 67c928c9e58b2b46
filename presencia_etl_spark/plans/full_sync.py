"""EP1 — full load pipeline (``sync_ALL.py`` shape, SURVEY §3).

Reference lifecycle per table: schema-extract → scan+filters → column-union
→ DROP/CREATE → hash+date-convert+insert → verify COUNT(*). Spark shape:
``read → filter → row_hash (raw strings) → cast plan → audit cols →
overwrite → count``. Everything is one projection + one write per table —
no joins, no extra scans. The per-table loop stays a driver loop (tables
are independent jobs; on a cluster they can be submitted concurrently from
threads since Spark's scheduler is thread-safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from presencia_etl_spark.functions.dates import parse_access_datetime
from presencia_etl_spark.functions.hashing import with_row_hash
from presencia_etl_spark.functions.inference import infer_type_by_name
from presencia_etl_spark.functions.nulls import empty_to_null
from presencia_etl_spark.operators.filters import apply_filters, semi_filter
from presencia_etl_spark.sinks.writers import overwrite_and_count, with_audit_columns
from presencia_etl_spark.sources.registry import TableConfig


def cast_data_columns(df: DataFrame, data_cols: list[str]) -> DataFrame:
    """Apply the F4 name-inference cast plan to ``data_cols`` in a single
    projection, carrying any other columns (row_hash) through untouched."""
    targets = set(data_cols)
    out = []
    for c in df.columns:
        if c not in targets:
            out.append(F.col(c))
            continue
        dt = infer_type_by_name(c)
        s = empty_to_null(c)
        if isinstance(dt, T.TimestampType):
            out.append(parse_access_datetime(s).alias(c))
        elif isinstance(dt, T.StringType):
            out.append(s.alias(c))
        else:
            out.append(s.try_cast(dt).alias(c))
    return df.select(*out)


def prepare_table(
    df: DataFrame,
    cfg: TableConfig,
    semi_source: DataFrame | None = None,
    typed: bool = True,
) -> DataFrame:
    """scan → filters → (semi join) → hash on raw strings → cast plan.

    Hash-before-cast mirrors the reference hashing raw CSV strings (F6).
    """
    out = apply_filters(df, cfg.filters)
    if cfg.semi_join is not None and semi_source is not None:
        _, key = cfg.semi_join
        out = semi_filter(out, semi_source, key)
    data_cols = list(out.columns)
    out = with_row_hash(out, data_cols)
    if typed:
        out = cast_data_columns(out, data_cols)
    return out


def run_per_table(
    configs: dict[str, TableConfig],
    tables: dict,
    work,
    max_parallel: int = 4,
) -> dict:
    """Run ``work(name, cfg)`` for every configured present table, up to
    ``max_parallel`` tables CONCURRENTLY, returning {name: result}.

    The reference loops its ~10 tables strictly sequentially
    (sync_ALL.py's per-table loop) — on Spark that serializes ~5 driver
    round-trips and a job tail per table while 32 executor cores idle.
    Table syncs are independent by construction (distinct target dirs,
    each guarded by its own single-writer lock; semi-join inputs come
    from SOURCE frames, never from another table's synced output), so
    the driver overlaps them: concurrent actions interleave fine in one
    SparkSession, and small-table fixed costs hide under big-table scan
    time. On a 1000-executor cluster this is the difference between a
    sync wall-clock of Σ(tables) and max(tables). Errors propagate after
    all submitted tables finish (no half-dispatched pool teardown);
    result order follows the registry, not completion."""
    names = [n for n in configs if n in tables]
    if max_parallel <= 1 or len(names) <= 1:
        return {n: work(n, configs[n]) for n in names}
    import concurrent.futures

    with concurrent.futures.ThreadPoolExecutor(
        max_workers=min(max_parallel, len(names))
    ) as pool:
        futs = {n: pool.submit(work, n, configs[n]) for n in names}
        return {n: f.result() for n, f in futs.items()}


def full_sync(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    configs: dict[str, TableConfig],
    target_root: str,
    record_gen: bool = True,
    max_parallel: int = 4,
) -> dict[str, int]:
    """Run the EP1 full load for every configured table; returns row counts
    (the reference's final summary report, sync_ALL.py:358-368). Each
    completed run records a warehouse generation (``plans.generations``).
    Tables load concurrently (``run_per_table``)."""

    def load_one(name: str, cfg: TableConfig) -> int:
        semi_src = None
        if cfg.semi_join is not None:
            other, _ = cfg.semi_join
            other_cfg = configs.get(other)
            if other_cfg is not None and other in tables:
                semi_src = apply_filters(tables[other], other_cfg.filters)
        prepared = prepare_table(tables[name], cfg, semi_source=semi_src)
        key_cols = cfg.key_cols or [prepared.columns[0]]
        out = with_audit_columns(prepared, key_cols)
        return overwrite_and_count(spark, out, f"{target_root}/{name}")

    counts = run_per_table(configs, tables, load_one, max_parallel)
    if record_gen and counts:
        from presencia_etl_spark.plans.generations import record_generation

        record_generation(spark, target_root)
    return counts
