"""Persisted MinHash-LSH index: incremental near-dup detection at corpus scale.

No analogue in the reference (its CDC hash state, ``sync_INCREMENTAL.py:169-176``,
is exact row identity); this is the 100 TB extension that makes near-dedup
INCREMENTAL. ``minhash_lsh_candidates`` is the right shape for a one-shot
corpus pass, but a training pipeline receives batches forever — re-shingling
and re-LSHing 100 TB of history per arriving batch is the scale killer. The
index persists the two narrow artifacts once:

- ``bands/``       (band_id, band_hash, doc_id) hive-partitioned by band_id,
                   range-sorted on band_hash → a batch probe prunes to its
                   band partitions and skips files via parquet min/max stats.
- ``signatures/``  (doc_id, sig array<long>) range-sorted on doc_id → the
                   verification join fetches only matched docs' signatures.
- ``_index_meta.json``  (k, n_hashes, bands) — probes with mismatched LSH
                   parameters would silently return nothing; fail fast.

A batch probe then costs O(|batch|) signature work + a broadcast-pruned join
against the band table: history is never re-hashed, and only matched ids'
signatures are read back. ``update_minhash_index`` appends the same two
artifacts for accepted docs, so the index grows with the corpus.

Layout is plain parquet + a staged append (no table format dependency); on a
real cluster the same frames write to Delta/Iceberg for ACID appends.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presencia_etl_spark.functions.pushdown import in_list
from presencia_etl_spark.operators.dedup import (
    band_array,
    band_rows,
    minhash_signatures,
)
from presencia_etl_spark.session import in_session, trickle_session
from presencia_etl_spark.sinks.locking import single_writer

SIG_DIR = "signatures"
BAND_DIR = "bands"
META_FILE = "_index_meta.json"
COMPACT_JOURNAL = "_compact_journal.json"


def _meta_path(index_path: str) -> str:
    return os.path.join(index_path, META_FILE)


def _read_meta(index_path: str) -> dict:
    # Every index entry point (update/query/compact) funnels through here,
    # so an interrupted compaction swap is healed before any read or write
    # touches the artifacts — mirrors the COW sink's
    # _recover_interrupted_swap discipline.
    _recover_interrupted_compact(index_path)
    with open(_meta_path(index_path)) as f:
        return json.load(f)


def _recover_interrupted_compact(index_path: str) -> bool:
    """Repair a compaction swap that a hard crash interrupted mid-rename.

    ``compact_minhash_index`` journals each artifact swap before the first
    rename; the crash window is between parking the live dir (``__retired``)
    and renaming the fully-written staged dir (``__compacting``) in — during
    it the index has NO live dir. Completion is forward-first (the staged
    copy was fully written before any rename began), falling back to the
    parked old copy. Returns True if a journal was found and repaired."""
    import shutil

    journal = os.path.join(index_path, COMPACT_JOURNAL)
    if not os.path.exists(journal):
        return False
    with open(journal) as fh:
        sub = json.load(fh)["sub"]
    live = os.path.join(index_path, sub)
    staged = live + "__compacting"
    retired = live + "__retired"
    if not os.path.exists(live):
        if os.path.exists(staged):
            os.rename(staged, live)
        elif os.path.exists(retired):
            os.rename(retired, live)
        else:
            raise RuntimeError(
                f"interrupted index compaction cannot be repaired: "
                f"{live!r} is missing and neither the staged nor the "
                "retired copy exists; restore from backup before using "
                "this index"
            )
    # Live dir present → the swap either never started renaming or fully
    # landed; leftover copies are stale either way.
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)
    os.remove(journal)
    return True


def build_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    num_files: int = 8,
) -> dict:
    """Create the index from an initial corpus. One pass computes
    signatures (persisted), bands derive from the cached signatures, and
    both artifacts land range-sorted so probes file-skip. Returns
    {'docs': n} for bookkeeping."""
    sig = minhash_signatures(docs, id_col, text_col, k, n_hashes).persist()
    (
        sig.repartitionByRange(num_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(index_path, SIG_DIR))
    )
    (
        band_rows(sig, n_hashes, bands)
        .repartitionByRange(num_files, "band_id", "band_hash")
        .sortWithinPartitions("band_hash")
        .write.mode("overwrite")
        .partitionBy("band_id")
        .parquet(os.path.join(index_path, BAND_DIR))
    )
    n = spark.read.parquet(os.path.join(index_path, SIG_DIR)).count()
    sig.unpersist()
    with open(_meta_path(index_path), "w") as f:
        json.dump({"k": k, "n_hashes": n_hashes, "bands": bands, "docs": n}, f)
    return {"docs": n}


def _staged_rows(staged: str) -> int:
    """Row count of a staged write from its parquet footers — driver-side
    metadata, no Spark job."""
    import pyarrow.parquet as pq

    n = 0
    for root, _d, files in os.walk(staged):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def _publish_staged(staged: str, live: str) -> int:
    """Move a staged write's part files into the live artifact dir
    (hive subdirs preserved). Part names carry Spark's per-job UUID, so
    renames never collide with earlier appends. Returns files moved."""
    n = 0
    for root, _d, files in os.walk(staged):
        rel = os.path.relpath(root, staged)
        for f in files:
            if not f.endswith(".parquet"):
                continue
            dst_dir = live if rel == "." else os.path.join(live, rel)
            os.makedirs(dst_dir, exist_ok=True)
            os.rename(os.path.join(root, f), os.path.join(dst_dir, f))
            n += 1
    return n


def _pa_type(dt):
    """Spark → pyarrow type for the doc-id column of a driver-side index
    append. Raises TypeError for id types the micro-append doesn't
    support — the caller falls back to the all-Spark append path."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, LongType, StringType

    if isinstance(dt, LongType):
        return pa.int64()
    if isinstance(dt, IntegerType):
        return pa.int32()
    if isinstance(dt, StringType):
        return pa.string()
    raise TypeError(f"unsupported doc-id type for driver append: {dt}")


@single_writer("index_path")
def _register_collected(
    spark: SparkSession,
    index_path: str,
    rows: list,
    id_type,
) -> dict:
    """Append a TRICKLE batch's already-collected (doc_id, sig, bands)
    rows to the index — pure driver pyarrow writes, zero Spark jobs.

    The steady-state admit loop collects its batch signatures anyway (one
    bounded narrow job yields the probe's pushdown keys); round-tripping
    those KBs back through two Spark write jobs was half the loop's fixed
    cost. Same staged-publish discipline as ``update_minhash_index``
    (bands first, signatures last — the signature store is the replay
    'seen' set), same file layout (key-sorted single file per artifact,
    Spark-compatible schema), same meta/compaction bookkeeping."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = _read_meta(index_path)
    added = len(rows)
    if added == 0:
        return {"added": 0, "docs": meta.get("docs", 0), "compacted": False}
    idt = _pa_type(id_type)
    import shutil

    sig_stage = os.path.join(index_path, ".staging_append_sig")
    band_stage = os.path.join(index_path, ".staging_append_band")
    for d in (sig_stage, band_stage):
        shutil.rmtree(d, ignore_errors=True)
    try:
        tag = uuid.uuid4().hex
        srows = sorted(rows, key=lambda r: r["doc_id"])
        os.makedirs(sig_stage)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r["doc_id"] for r in srows], idt),
                    "sig": pa.array(
                        [list(r["sig"]) for r in srows], pa.list_(pa.int64())
                    ),
                }
            ),
            os.path.join(sig_stage, f"part-admit-{tag}.parquet"),
        )
        per_band: dict[int, list] = {}
        for r in rows:
            for b in r["bands"]:
                per_band.setdefault(b["band_id"], []).append(
                    (b["band_hash"], r["doc_id"])
                )
        for bid, lst in per_band.items():
            lst.sort()
            d = os.path.join(band_stage, f"band_id={bid}")
            os.makedirs(d)
            pq.write_table(
                pa.table(
                    {
                        "band_hash": pa.array(
                            [h for h, _ in lst], pa.int64()
                        ),
                        "doc_id": pa.array([i for _, i in lst], idt),
                    }
                ),
                os.path.join(d, f"part-admit-{tag}.parquet"),
            )
        _publish_staged(band_stage, os.path.join(index_path, BAND_DIR))
        _publish_staged(sig_stage, os.path.join(index_path, SIG_DIR))
    finally:
        shutil.rmtree(sig_stage, ignore_errors=True)
        shutil.rmtree(band_stage, ignore_errors=True)
    meta["docs"] = meta.get("docs", 0) + added
    meta["appends"] = meta.get("appends", 0) + 1
    with open(_meta_path(index_path), "w") as f:
        json.dump(meta, f)
    compacted = meta["appends"] >= COLLECTED_COMPACT_EVERY
    if compacted:
        compact_minhash_index(spark, index_path)
    return {"added": added, "docs": meta["docs"], "compacted": compacted}


# Auto-compaction threshold for driver-side micro-appends (the admit
# loop's default path) — matches update_minhash_index's default.
COLLECTED_COMPACT_EVERY = 64


@single_writer("index_path")
def update_minhash_index(
    spark: SparkSession,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    num_files: int = 4,
    compact_every: int | None = 64,
    precomputed_sig: DataFrame | None = None,
) -> dict:
    """Append accepted docs to an existing index. LSH parameters come from
    the stored meta (a caller-supplied mismatch would poison the index).
    Appended files are range-sorted within the batch, so min/max skipping
    still holds per file. Every append widens the per-file band_hash
    overlap, though — after ``compact_every`` appends (tracked in the
    index meta) the index auto-compacts back to one globally range-sorted
    file set; pass ``compact_every=None`` to manage compaction yourself.
    ``precomputed_sig`` is a (doc_id, sig) frame for EXACTLY ``new_docs``
    computed with this index's parameters — the admit loop passes the
    probe's signatures so the shingling+hashing (the dominant per-batch
    CPU cost) runs once, not twice.
    Returns {'added': n, 'docs': total, 'compacted': bool}.

    Appends are STAGED: each artifact writes to a hidden dir inside the
    index, then publishes by renaming the part files in. This (a) makes
    the write safe against the admit loop's self-read lineage (the
    caller's frames read THIS index's signature store; the write job only
    ever sees the pre-append files, and publication happens after it
    finishes — no snapshot/checkpoint of the input needed), and (b) lets
    the batch size itself from the staged footers (pure driver metadata,
    no count job): an all-duplicates batch publishes nothing at all — not
    even empty files, which would bill a file open to every future probe.
    Publication order is bands FIRST, signatures LAST: the signature
    store is the 'seen' set that makes replays idempotent, so a crash
    between the two leaves docs that a replay will re-register (the
    duplicate band rows are deduped by the probe) — never docs the index
    silently stops matching."""
    meta = _read_meta(index_path)
    sig = (
        precomputed_sig
        if precomputed_sig is not None
        else minhash_signatures(
            new_docs, id_col, text_col, meta["k"], meta["n_hashes"]
        )
    )
    sig_stage = os.path.join(index_path, ".staging_append_sig")
    sig_stage2 = sig_stage + "2"
    band_stage = os.path.join(index_path, ".staging_append_band")
    import shutil

    # GC a crashed predecessor's staging (incl. a torn re-stage copy).
    for d in (sig_stage, sig_stage2, band_stage):
        shutil.rmtree(d, ignore_errors=True)

    # First staging pass keeps the batch's NATURAL parallelism (per-
    # partition doc_id sort): an unconditional coalesce(1) here would
    # funnel a corpus-sized append's entire compute — including the
    # shingle+minhash CPU when the signatures aren't precomputed —
    # through one core. The footer count then sizes the FINAL layout:
    # a trickle batch re-stages to one globally-sorted file (re-reading
    # the small staged files, not recomputing), a large batch re-stages
    # range-partitioned; a batch that already landed as one file skips
    # the re-stage entirely.
    try:
        (
            sig.sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(sig_stage)
        )
        added = _staged_rows(sig_stage)
        if added == 0:
            return {"added": 0, "docs": meta.get("docs", 0), "compacted": False}
        n_out = max(1, min(num_files, added // 200_000 + 1))
        staged_sig = spark.read.parquet(sig_stage)
        n_files = sum(
            1 for f in os.listdir(sig_stage) if f.endswith(".parquet")
        )
        if n_files != n_out or n_out > 1:
            writer = (
                staged_sig.coalesce(1).sortWithinPartitions("doc_id")
                if n_out == 1
                else staged_sig.repartitionByRange(n_out, "doc_id")
                .sortWithinPartitions("doc_id")
            )
            writer.write.mode("overwrite").parquet(sig_stage2)
            shutil.rmtree(sig_stage)
            os.rename(sig_stage2, sig_stage)
            staged_sig = spark.read.parquet(sig_stage)
        bands = band_rows(staged_sig, meta["n_hashes"], meta["bands"])
        if n_out == 1:
            bands = bands.coalesce(1).sortWithinPartitions("band_hash")
        else:
            bands = bands.repartitionByRange(
                n_out, "band_id", "band_hash"
            ).sortWithinPartitions("band_hash")
        (
            bands.write.mode("overwrite")
            .partitionBy("band_id")
            .parquet(band_stage)
        )
        _publish_staged(band_stage, os.path.join(index_path, BAND_DIR))
        _publish_staged(sig_stage, os.path.join(index_path, SIG_DIR))
    finally:
        shutil.rmtree(sig_stage, ignore_errors=True)
        shutil.rmtree(sig_stage2, ignore_errors=True)
        shutil.rmtree(band_stage, ignore_errors=True)
    meta["docs"] = meta.get("docs", 0) + added
    meta["appends"] = meta.get("appends", 0) + 1
    with open(_meta_path(index_path), "w") as f:
        json.dump(meta, f)
    compacted = False
    if compact_every is not None and meta["appends"] >= compact_every:
        compact_minhash_index(spark, index_path)
        compacted = True
    return {"added": added, "docs": meta["docs"], "compacted": compacted}


@single_writer("index_path")
def compact_minhash_index(
    spark: SparkSession, index_path: str, num_files: int | None = None
) -> dict:
    """Rewrite both index artifacts into one globally range-sorted file set.

    Thousands of micro-batch admits leave ``signatures/`` and each
    ``bands/band_id=`` partition with thousands of small files whose
    band_hash/doc_id min-max ranges all overlap — probe pushdown still
    *filters* correctly but stops *skipping* (every file's range contains
    every key), and scans pay per-file open cost. Compaction restores the
    build-time layout: signatures range-partitioned and sorted on doc_id,
    bands range-partitioned on (band_id, band_hash), sorted on band_hash,
    hive-partitioned by band_id. Staged swap (write aside, then rename) so
    a concurrent reader sees old-or-new, never a half state; on a real
    cluster this is a Delta/Iceberg OPTIMIZE instead. ``num_files=None``
    sizes output at ~128 MB/file from the current on-disk bytes.
    Resets the meta append counter. Returns file counts before/after."""
    import math
    import shutil

    meta = _read_meta(index_path)

    def _swap(sub: str, write_fn) -> tuple[int, int]:
        live = os.path.join(index_path, sub)
        before = sum(
            1
            for root, _d, files in os.walk(live)
            for f in files
            if f.endswith(".parquet")
        )
        bytes_ = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _d, files in os.walk(live)
            for f in files
            if f.endswith(".parquet")
        )
        n_out = num_files or max(1, math.ceil(bytes_ / (128 * 1024 * 1024)))
        staged = live + "__compacting"
        shutil.rmtree(staged, ignore_errors=True)
        write_fn(spark.read.parquet(live), staged, n_out)
        retired = live + "__retired"
        shutil.rmtree(retired, ignore_errors=True)
        # Journal (tmp + atomic rename) before the first rename: a hard
        # crash between the two renames leaves no live dir, and
        # _recover_interrupted_compact (run by every _read_meta) completes
        # the swap forward from the fully-written staged copy.
        journal = os.path.join(index_path, COMPACT_JOURNAL)
        with open(journal + ".tmp", "w") as fh:
            json.dump({"sub": sub}, fh)
        os.replace(journal + ".tmp", journal)
        os.rename(live, retired)
        os.rename(staged, live)
        shutil.rmtree(retired)
        os.remove(journal)
        after = sum(
            1
            for root, _d, files in os.walk(live)
            for f in files
            if f.endswith(".parquet")
        )
        return before, after

    def _write_sig(df: DataFrame, dest: str, n_out: int) -> None:
        (
            df.repartitionByRange(n_out, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(dest)
        )

    def _write_bands(df: DataFrame, dest: str, n_out: int) -> None:
        (
            df.repartitionByRange(n_out, "band_id", "band_hash")
            .sortWithinPartitions("band_hash")
            .write.mode("overwrite")
            .partitionBy("band_id")
            .parquet(dest)
        )

    sig_before, sig_after = _swap(SIG_DIR, _write_sig)
    band_before, band_after = _swap(BAND_DIR, _write_bands)
    meta["appends"] = 0
    with open(_meta_path(index_path), "w") as f:
        json.dump(meta, f)
    return {
        "sig_files": (sig_before, sig_after),
        "band_files": (band_before, band_after),
    }


PROBE_PUSHDOWN_LIMIT = 4096
PROBE_BROADCAST_LIMIT = 5_000_000
# Below this many indexed docs the signature store is a single small scan —
# the matched-id In-pushdown's two extra driver round-trips cost more than
# they save. (~1M docs ≈ 300 MB of signatures at n_hashes=32.)
SIG_PUSHDOWN_MIN_DOCS = 1_000_000


def query_minhash_index(
    spark: SparkSession,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    max_bucket: int = 1000,
    eager: bool = True,
    precomputed_sig: DataFrame | None = None,
    precollected: tuple | None = None,
) -> DataFrame:
    """Near-dup matches of a batch against the indexed history:
    (batch_id, index_id, est_jaccard), self-pairs (same id on both sides)
    excluded — a resubmitted doc is not its own duplicate.

    Scale shape: only the BATCH is shingled/hashed; the batch doc count is
    known from the (persisted) signature pass, so the probe adapts to it:

    - ≤ ``PROBE_PUSHDOWN_LIMIT`` band keys: the keys are collected (bounded
      scalar bookkeeping) and pushed as an ``In(band_hash, ...)`` parquet
      filter — the scan of a 100 TB band table then SKIPS every file and
      row group whose band_hash range misses the probe set (the band files
      are range-sorted exactly for this). Probing with a trickle batch
      reads KBs of history, not the index.
    - Larger batches: the probe side is broadcast up to
      ``PROBE_BROADCAST_LIMIT`` keys (history still never shuffles); past
      that, AQE picks a shuffle join — at which point the batch is
      corpus-sized and the one-shot ``minhash_lsh_candidates`` shape is
      the comparison anyway.

    Degenerate buckets (an empty-doc band shared by millions of docs) are
    capped at ``max_bucket`` MATCHED rows per bucket — counted on the join
    result, never on the full index. Signature verification reads back
    only the matched index ids via a second pruned join.

    ``eager=False`` returns the fully LAZY plan (no checkpoints, no
    signature cache, no matched-id pushdown on the signature store) —
    the plan-pin tests explain this form; callers want the default.
    ``precomputed_sig``: a ready (doc_id, sig) frame for the batch (the
    caller owns its persist/unpersist lifecycle); used by the admit loop
    to share one signature pass between probe and register.
    ``precollected``: ``(band_keys, n_probe_rows)`` the caller already
    collected (the admit loop's combined signature collect) — the probe
    then builds its plan with ZERO Spark actions of its own. ``band_keys``
    None means the batch overflowed the pushdown bound: no In filter,
    broadcast decided from ``n_probe_rows`` alone.
    """
    from pyspark.sql import Window

    meta = _read_meta(index_path)
    owns_sig = precomputed_sig is None
    bsig = (
        minhash_signatures(batch, id_col, text_col, meta["k"], meta["n_hashes"])
        if owns_sig
        else precomputed_sig
    )
    if eager and owns_sig:
        bsig = bsig.persist()
    bband = band_rows(bsig, meta["n_hashes"], meta["bands"])

    # ONE bounded job decides the probe strategy AND (for the common
    # trickle-batch case) yields the pushdown keys: collect at most
    # LIMIT+1 (distinct band hash, occurrence count) pairs. The groupBy is
    # the same shuffle a distinct would be, so this job also materializes
    # the persisted signature cache for every later step — previously a
    # separate count() job paid that bill. Driver memory stays bounded by
    # the limit; only when the batch overflows it (corpus-sized ingest) do
    # we pay a count() to size the broadcast decision. Carrying the counts
    # (not just the keys) matters for the broadcast decision below: a
    # duplicate-heavy batch can hit few distinct hashes yet carry millions
    # of probe ROWS, and broadcast must be sized on rows, not keys.
    iband = spark.read.parquet(os.path.join(index_path, BAND_DIR))
    if precollected is not None:
        keys, n_probe_rows = precollected
        pushdown = keys is not None
        if pushdown:
            iband = iband.filter(in_list("band_hash", keys))
    else:
        key_counts = (
            bband.groupBy("band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .limit(PROBE_PUSHDOWN_LIMIT + 1)
            .collect()
        )
        keys = [r["band_hash"] for r in key_counts]
        pushdown = len(keys) <= PROBE_PUSHDOWN_LIMIT
        if pushdown:
            iband = iband.filter(in_list("band_hash", keys))
            # Exact probe row count: the limit did not truncate, so the
            # per-hash counts sum to |batch docs| × bands.
            n_probe_rows = sum(r["_n"] for r in key_counts)
        else:
            n_probe_rows = bsig.count() * meta["bands"]
    probe = bband.select("band_id", "band_hash", F.col("doc_id").alias("batch_id"))
    if n_probe_rows <= PROBE_BROADCAST_LIMIT:
        probe = F.broadcast(probe)
    matched = iband.join(probe, ["band_id", "band_hash"]).filter(
        F.col("doc_id") != F.col("batch_id")
    )
    w = Window.partitionBy("band_id", "band_hash")
    pairs = (
        matched.withColumn("bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("bsz") <= max_bucket)
        .select("batch_id", F.col("doc_id").alias("index_id"))
        .dropDuplicates(["batch_id", "index_id"])
    )

    isig = spark.read.parquet(os.path.join(index_path, SIG_DIR))
    if eager and pushdown and meta.get("docs", 0) >= SIG_PUSHDOWN_MIN_DOCS:
        # Materialize the (tiny) pair list once so the verification scan
        # can push In(doc_id, ...) — the doc_id-range-sorted signature
        # store then file-skips to just the matched docs. This costs two
        # extra driver round-trips (a checkpoint + a collect), which only
        # repay themselves when the signature store is big enough for
        # file-skipping to beat just scanning it — below the threshold the
        # verification join reads the (small) store in the same job as the
        # final result, and the probe is two jobs shorter per batch.
        pairs = pairs.localCheckpoint(eager=True)
        ids = [r["index_id"] for r in pairs.select("index_id").distinct().collect()]
        if len(ids) <= PROBE_PUSHDOWN_LIMIT:
            isig = isig.filter(in_list("doc_id", ids))
    n_hashes = meta["n_hashes"]
    est = F.expr(
        "aggregate(zip_with(sig_b, sig_i, (x, y) -> if(x = y, 1, 0)),"
        " 0, (acc, v) -> acc + v)"
    ) / F.lit(float(n_hashes))
    out = (
        pairs.join(
            bsig.select(F.col("doc_id").alias("batch_id"), F.col("sig").alias("sig_b")),
            "batch_id",
        )
        .join(
            isig.select(F.col("doc_id").alias("index_id"), F.col("sig").alias("sig_i")),
            "index_id",
        )
        .select("batch_id", "index_id", F.round(est, 4).alias("est_jaccard"))
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        if owns_sig:
            bsig.unpersist()
    return out


def admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    est_threshold: float = 0.8,
    update_index: bool = True,
) -> DataFrame:
    """The pipeline composition: drop batch docs that near-duplicate
    indexed history (estimated Jaccard ≥ threshold), then register the
    survivors so FUTURE batches dedup against them too. Returns the
    admitted rows (original schema), materialized. Idempotent at the id
    level: a row whose id is already registered was admitted by an
    earlier run and is neither returned nor re-registered, so batch
    replays are safe. Doc ids must be NON-NULL (a NULL id cannot be
    indexed, probed by identity, or chunk-addressed — the trickle path
    raises on one; don't feed them). This is the steady-state ingest
    loop a 100 TB training corpus actually runs — per batch, work is
    O(|batch|), never O(|history|).

    Conf discipline: the bounded probe decision and the trickle path
    run in ``session.trickle_session`` (their frames are KB-sized and
    their strategy static; the batch's cached frames move there by
    ``session.in_session``); a batch past the trickle bound falls back
    to the all-Spark path in ``spark`` (AQE on, full shuffle width — it
    is corpus-scale by definition), and so does the every-Nth-append
    index compaction triggered by trickle registration. The returned
    frame belongs to ``spark``."""
    # An id already registered in the index IS the admitted doc — a replay
    # must not re-probe (it would pass, its self-pair is id-excluded) nor
    # re-register its signatures. The id probe reads only the doc_id
    # column of the signature store, file-skipped via its range sort.
    seen = spark.read.parquet(os.path.join(index_path, SIG_DIR)).select(
        F.col("doc_id").alias(id_col)
    )
    # Persisted: the signature pass AND the admitted-checkpoint job both
    # read `fresh` — uncached, the checkpoint would re-run the caller's
    # whole gate chain (quality scan, anti-join) a second time per batch.
    fresh = batch.join(seen, id_col, "left_anti").persist()
    # ONE signature pass serves both the probe and the registration —
    # shingling+hashing is the dominant per-batch CPU cost; computing it
    # twice would double the steady-state ingest bill.
    meta = _read_meta(index_path)
    fsig = minhash_signatures(
        fresh, id_col, text_col, meta["k"], meta["n_hashes"]
    ).persist()
    try:
        # COMBINED trickle collect: ONE narrow, shuffle-free job yields the
        # batch's signatures AND band rows (and materializes both caches).
        # Everything the loop previously ran separate jobs for — the
        # pushdown-key collect, the index-append writes — now derives from
        # this driver copy. Bounded: past the limit the batch is not a
        # trickle and csig stays None.
        lim = max(1, PROBE_PUSHDOWN_LIMIT // meta["bands"])
        ts = trickle_session(spark)
        tsig = in_session(ts, fsig)
        csig = None
        try:
            _pa_type(fsig.schema["doc_id"].dataType)  # driver-writable id?
            csig = (
                tsig.select(
                    "doc_id",
                    "sig",
                    band_array(meta["n_hashes"], meta["bands"]).alias("bands"),
                )
                .limit(lim + 1)
                .collect()
            )
            if len(csig) > lim:
                csig = None
        except TypeError:
            csig = None
        if csig is not None:
            if any(r["doc_id"] is None for r in csig):
                raise ValueError(
                    "admit_batch: batch contains rows with NULL "
                    f"{id_col!r} — doc ids must be non-null (they are "
                    "the index identity, the replay key, and the chunk "
                    "address); filter or assign ids upstream."
                )
            admitted, dup_ids = _admit_trickle(
                ts, in_session(ts, fresh), tsig, csig, meta, index_path,
                id_col, text_col, est_threshold,
            )
            if update_index:
                # Driver-side append; a due index compaction is a
                # corpus-scale rewrite and runs in ``spark``.
                _register_collected(
                    spark,
                    index_path,
                    [r for r in csig if r["doc_id"] not in dup_ids],
                    fsig.schema["doc_id"].dataType,
                )
            return in_session(spark, admitted)
        # Corpus-sized batch: all-Spark probe + staged append writes,
        # session defaults throughout.
        matches = query_minhash_index(
            spark, fresh, id_col, text_col, index_path,
            precomputed_sig=fsig, eager=False,
        )
        dupes = (
            matches.filter(F.col("est_jaccard") >= est_threshold)
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )
        admitted = fresh.join(dupes, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        if update_index:
            asig = fsig.join(
                admitted.select(F.col(id_col).alias("doc_id")),
                "doc_id",
                "left_semi",
            )
            update_minhash_index(
                spark, admitted, id_col, text_col, index_path,
                precomputed_sig=asig,
            )
        return admitted
    finally:
        fsig.unpersist()
        fresh.unpersist()


def _admit_trickle(
    spark: SparkSession,
    fresh: DataFrame,
    fsig: DataFrame,
    csig: list,
    meta: dict,
    index_path: str,
    id_col: str,
    text_col: str,
    est_threshold: float,
):
    """Trickle path: the probe executes ONCE, as the (bounded — the
    duplicate set is a subset of the collected batch) dup-id collect.
    Returns (admitted, dup_ids); the caller registers the survivors'
    already-collected signatures/bands with a pure-driver pyarrow write
    — zero further Spark jobs."""
    keys = list({b["band_hash"] for r in csig for b in r["bands"]})
    # eager=False: the probe plan is consumed exactly once, by the dup-id
    # collect below. Everything the lazy plan re-reads (`fresh`, the
    # signatures) is cached — nothing recomputes twice.
    matches = query_minhash_index(
        spark, fresh, id_col, text_col, index_path,
        precomputed_sig=fsig, eager=False,
        precollected=(keys, len(csig) * meta["bands"]),
    )
    dupes = (
        matches.filter(F.col("est_jaccard") >= est_threshold)
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    dup_ids = {r[id_col] for r in dupes.collect()}
    admitted = (
        fresh.filter(~in_list(id_col, list(dup_ids))) if dup_ids else fresh
    )
    # Cheap materialization: the probe already ran (the dup-id collect
    # above); this checkpoint is a narrow filter over the cached batch,
    # and it keeps the returned frame independent of the caches the
    # caller unpersists (downstream chunk/pack must not re-run the gate
    # chain per consumer).
    return admitted.localCheckpoint(eager=True), dup_ids
