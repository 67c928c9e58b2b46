"""Persisted MinHash index: incremental batch-vs-history near-dedup.

Covers: build/probe recall, bit-parity with the one-shot LSH pass (same
signatures ⇒ same candidates), the admit-batch ingest loop (history grows,
future batches dedup against admitted docs), and the on-disk layout the
scale story depends on (band_id partitioning for pruning)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from presencia_etl_spark.operators import dedup, dedup_index


BASE = "the quick brown fox jumps over the lazy dog while the cat sleeps nearby"


@pytest.fixture(scope="module")
def history(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),
        (2, "completely different text about spark partitions and shuffles"),
        (3, "another unrelated document mentioning joins aggregates windows"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestBuildAndQuery:
    def test_probe_finds_history_near_dups(self, spark, history, tmp_path):
        idx = str(tmp_path / "idx")
        r = dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)
        assert r["docs"] == 4

        batch = spark.createDataFrame(
            [
                (100, BASE.replace("cat", "kitten")),   # near-dup of 0/1
                (101, "fresh text on watermarking late events in streams"),
            ],
            ["doc_id", "text"],
        )
        m = dedup_index.query_minhash_index(spark, batch, "doc_id", "text", idx)
        got = {(r["batch_id"], r["index_id"]): r["est_jaccard"] for r in m.collect()}
        assert (100, 0) in got and got[(100, 0)] > 0.5
        assert not any(b == 101 for b, _ in got)

    def test_resubmitted_id_not_its_own_dup(self, spark, history, tmp_path):
        idx = str(tmp_path / "idx2")
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)
        m = dedup_index.query_minhash_index(
            spark, history.filter(F.col("doc_id") == 0), "doc_id", "text", idx
        )
        pairs = {(r["batch_id"], r["index_id"]) for r in m.collect()}
        assert (0, 0) not in pairs
        assert (0, 1) in pairs  # still matches its true near-dup

    def test_band_layout_partitioned_for_pruning(self, spark, history, tmp_path):
        idx = str(tmp_path / "idx3")
        dedup_index.build_minhash_index(
            spark, history, "doc_id", "text", idx, bands=8
        )
        band_dirs = sorted(
            d
            for d in os.listdir(os.path.join(idx, dedup_index.BAND_DIR))
            if d.startswith("band_id=")
        )
        assert band_dirs == [f"band_id={i}" for i in range(8)]


class TestParityWithOneShot:
    def test_index_probe_equals_one_shot_candidates(self, spark, sf_dir, tmp_path):
        """Indexing the corpus and probing it with itself must surface the
        SAME pair set (and estimates) as the one-shot LSH pass — the
        signatures are bit-identical by construction, so any drift is a
        banding/probing bug. max_bucket is unbounded on both sides because
        the two paths measure bucket size differently (corpus rows vs
        matched pairs)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        idx = str(tmp_path / "idx")
        dedup_index.build_minhash_index(spark, docs, "doc_id", "text", idx)

        one_shot = {
            (r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in dedup.minhash_lsh_candidates(
                docs, "doc_id", "text", max_bucket=1 << 30
            ).collect()
        }
        probed = dedup_index.query_minhash_index(
            spark, docs, "doc_id", "text", idx, max_bucket=1 << 30
        )
        via_index = {}
        for r in probed.collect():
            a, b = sorted((r["batch_id"], r["index_id"]))
            via_index[(a, b)] = r["est_jaccard"]
        assert via_index == one_shot
        assert one_shot, "expected candidates in testdata"


class TestAdmitLoop:
    def test_admitted_docs_gate_future_batches(self, spark, history, tmp_path):
        idx = str(tmp_path / "idx")
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)

        fresh = "a brand new essay describing broadcast joins and salting"
        b1 = spark.createDataFrame(
            [(200, BASE.replace("dog", "hound")), (201, fresh)],
            ["doc_id", "text"],
        )
        admitted = dedup_index.admit_batch(
            spark, b1, "doc_id", "text", idx, est_threshold=0.5
        )
        assert [r["doc_id"] for r in admitted.collect()] == [201]
        assert dedup_index._read_meta(idx)["docs"] == 5

        # A later batch near-duplicating the ADMITTED doc is now caught.
        b2 = spark.createDataFrame(
            [(300, fresh.replace("salting", "skew salting"))],
            ["doc_id", "text"],
        )
        m = dedup_index.query_minhash_index(spark, b2, "doc_id", "text", idx)
        pairs = {(r["batch_id"], r["index_id"]) for r in m.collect()}
        assert (300, 201) in pairs

    def test_admit_without_update_leaves_index_frozen(
        self, spark, history, tmp_path
    ):
        idx = str(tmp_path / "idx2")
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)
        b = spark.createDataFrame(
            [(400, "frozen index probe only, no registration")],
            ["doc_id", "text"],
        )
        dedup_index.admit_batch(
            spark, b, "doc_id", "text", idx, update_index=False
        )
        assert dedup_index._read_meta(idx)["docs"] == 4


class TestCompaction:
    def test_many_tiny_appends_compact_and_probe_unchanged(
        self, spark, history, tmp_path
    ):
        """Thousands of micro-batch admits accrete small files; compaction
        must shrink the file count, keep probe results bit-identical, and
        reset the meta append counter."""
        idx = str(tmp_path / "idx_compact")
        dedup_index.build_minhash_index(
            spark, history, "doc_id", "text", idx, num_files=2
        )
        for i in range(6):
            b = spark.createDataFrame(
                [(500 + i, f"tiny append batch number {i} with unique words w{i}")],
                ["doc_id", "text"],
            )
            r = dedup_index.update_minhash_index(
                spark, b, "doc_id", "text", idx, compact_every=None
            )
            assert not r["compacted"]
        assert dedup_index._read_meta(idx)["appends"] == 6

        probe = spark.createDataFrame(
            [(900, BASE.replace("dog", "hound")), (901, "tiny append batch number 3 with unique words w3")],
            ["doc_id", "text"],
        )
        before = {
            (r["batch_id"], r["index_id"], r["est_jaccard"])
            for r in dedup_index.query_minhash_index(
                spark, probe, "doc_id", "text", idx
            ).collect()
        }
        assert any(b[0] == 901 for b in before)  # appended docs are probed

        def count_files(sub):
            return sum(
                1
                for root, _d, files in os.walk(os.path.join(idx, sub))
                for f in files
                if f.endswith(".parquet")
            )

        files_before = count_files("signatures") + count_files("bands")
        stats = dedup_index.compact_minhash_index(spark, idx, num_files=2)
        files_after = count_files("signatures") + count_files("bands")
        assert files_after < files_before, (files_before, files_after, stats)
        assert dedup_index._read_meta(idx)["appends"] == 0
        assert dedup_index._read_meta(idx)["docs"] == 10

        after = {
            (r["batch_id"], r["index_id"], r["est_jaccard"])
            for r in dedup_index.query_minhash_index(
                spark, probe, "doc_id", "text", idx
            ).collect()
        }
        assert after == before

    def test_auto_compaction_triggers_at_threshold(self, spark, history, tmp_path):
        idx = str(tmp_path / "idx_auto")
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)
        for i in range(3):
            b = spark.createDataFrame(
                [(600 + i, f"auto compact batch {i} unique u{i}")],
                ["doc_id", "text"],
            )
            r = dedup_index.update_minhash_index(
                spark, b, "doc_id", "text", idx, compact_every=3
            )
        assert r["compacted"]
        assert dedup_index._read_meta(idx)["appends"] == 0

    def test_compacted_index_keeps_probe_pushdown_plan(
        self, spark, sf_dir, tmp_path
    ):
        """The plan pin from TestDedupIndexProbePlan, against a COMPACTED
        index: the In(band_hash) pushdown and probe-side broadcast must
        survive the rewrite (compaction exists precisely to keep that scan
        file-skipping)."""
        import io
        import re
        from contextlib import redirect_stdout

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        idx = str(tmp_path / "idx_plan")
        dedup_index.build_minhash_index(spark, docs, "doc_id", "text", idx)
        extra = spark.createDataFrame(
            [(10**8 + i, f"filler append {i}") for i in range(3)],
            ["doc_id", "text"],
        )
        dedup_index.update_minhash_index(
            spark, extra, "doc_id", "text", idx, compact_every=None
        )
        dedup_index.compact_minhash_index(spark, idx)

        batch = spark.createDataFrame(
            [(10**9, "the quick brown fox jumps over a sleepy dog")],
            ["doc_id", "text"],
        )
        lazy = dedup_index.query_minhash_index(
            spark, batch, "doc_id", "text", idx, eager=False
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            lazy.explain("formatted")
        p = buf.getvalue()
        assert "In(band_hash, [" in p, p
        assert re.search(
            r"BroadcastHashJoin Inner BuildRight \(\d+\)\n"
            r"([^\n]*?):- Filter \(\d+\)\n"
            r"\1:  \+- Scan parquet",
            p,
        ), p


class TestCompactionCrashRecovery:
    """compact_minhash_index's two-rename swap is journaled; a hard crash
    between the renames (no live dir at all) is healed forward by
    _recover_interrupted_compact, which every _read_meta runs."""

    def _plant_crash(self, idx, sub, keep_staged=True):
        import json as _json
        import shutil as _shutil

        live = os.path.join(idx, sub)
        if keep_staged:
            _shutil.copytree(live, live + "__compacting")
        with open(os.path.join(idx, dedup_index.COMPACT_JOURNAL), "w") as f:
            _json.dump({"sub": sub}, f)
        os.rename(live, live + "__retired")
        if not keep_staged:
            pass  # only the retired copy survives → rollback path
        assert not os.path.exists(live)

    def test_forward_completion_from_staged(self, spark, history, tmp_path):
        idx = str(tmp_path / "idx_fwd")
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)
        self._plant_crash(idx, dedup_index.SIG_DIR, keep_staged=True)

        batch = spark.createDataFrame(
            [(100, BASE.replace("cat", "kitten"))], ["doc_id", "text"]
        )
        m = dedup_index.query_minhash_index(spark, batch, "doc_id", "text", idx)
        assert (100, 0) in {(r["batch_id"], r["index_id"]) for r in m.collect()}
        live = os.path.join(idx, dedup_index.SIG_DIR)
        assert os.path.exists(live)
        assert not os.path.exists(live + "__compacting")
        assert not os.path.exists(live + "__retired")
        assert not os.path.exists(os.path.join(idx, dedup_index.COMPACT_JOURNAL))

    def test_rollback_from_retired_when_staged_missing(self, spark, history, tmp_path):
        idx = str(tmp_path / "idx_back")
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)
        self._plant_crash(idx, dedup_index.BAND_DIR, keep_staged=False)

        batch = spark.createDataFrame(
            [(100, BASE.replace("cat", "kitten"))], ["doc_id", "text"]
        )
        m = dedup_index.query_minhash_index(spark, batch, "doc_id", "text", idx)
        assert (100, 0) in {(r["batch_id"], r["index_id"]) for r in m.collect()}
        assert os.path.exists(os.path.join(idx, dedup_index.BAND_DIR))
        assert not os.path.exists(os.path.join(idx, dedup_index.COMPACT_JOURNAL))

    def test_unrepairable_crash_refuses(self, spark, history, tmp_path):
        import json as _json
        import shutil as _shutil

        import pytest as _pytest

        idx = str(tmp_path / "idx_gone")
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)
        live = os.path.join(idx, dedup_index.SIG_DIR)
        with open(os.path.join(idx, dedup_index.COMPACT_JOURNAL), "w") as f:
            _json.dump({"sub": dedup_index.SIG_DIR}, f)
        _shutil.rmtree(live)  # no live, no staged, no retired
        with _pytest.raises(RuntimeError, match="cannot be repaired"):
            dedup_index._read_meta(idx)


class TestRandomizedAppendCompactInterleaving:
    """Seeded random sequence of index appends interleaved with explicit
    compactions: the final probe must be bit-identical to a one-shot index
    over the same corpus — compaction may only change layout, never the
    candidate set or estimates."""

    def test_probe_parity_after_random_interleaving(self, spark, sf_dir, tmp_path):
        import random

        rng = random.Random(20260814)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300).cache()
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        rng.shuffle(ids)
        seed_ids, rest = ids[:100], ids[100:]

        from pyspark.sql import functions as F

        idx = str(tmp_path / "idx")
        dedup_index.build_minhash_index(
            spark, docs.filter(F.col("doc_id").isin(seed_ids)), "doc_id", "text", idx
        )
        registered = list(seed_ids)
        while rest:
            take = min(len(rest), rng.randint(20, 60))
            batch_ids, rest = rest[:take], rest[take:]
            dedup_index.update_minhash_index(
                spark,
                docs.filter(F.col("doc_id").isin(batch_ids)),
                "doc_id",
                "text",
                idx,
                compact_every=None,
            )
            registered.extend(batch_ids)
            if rng.random() < 0.5:
                dedup_index.compact_minhash_index(spark, idx)

        one_shot_idx = str(tmp_path / "one_shot")
        dedup_index.build_minhash_index(spark, docs, "doc_id", "text", one_shot_idx)

        probe = docs.limit(40)
        got = {
            (r["batch_id"], r["index_id"], r["est_jaccard"])
            for r in dedup_index.query_minhash_index(
                spark, probe, "doc_id", "text", idx, max_bucket=1 << 30
            ).collect()
        }
        want = {
            (r["batch_id"], r["index_id"], r["est_jaccard"])
            for r in dedup_index.query_minhash_index(
                spark, probe, "doc_id", "text", one_shot_idx, max_bucket=1 << 30
            ).collect()
        }
        docs.unpersist()
        assert sorted(registered) == sorted(ids)
        assert got == want
        assert want, "expected at least one candidate pair in the probe"


class TestDriverSideTrickleAppend:
    """The admit loop's trickle path registers admitted docs with a pure
    driver (pyarrow) append — it must be byte-compatible with the
    Spark-written index: same schemas, same band values, probe-visible."""

    def test_trickle_append_matches_spark_layout(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from presencia_etl_spark.operators import dedup_index
        from presencia_etl_spark.operators.dedup import band_rows

        idx = str(tmp_path / "idx")
        hist = spark.createDataFrame(
            [(i, f"historical document number {i} with words") for i in range(50)],
            ["doc_id", "text"],
        )
        dedup_index.build_minhash_index(spark, hist, "doc_id", "text", idx)
        batch = spark.createDataFrame(
            [(1000, "a brand new document nothing like history at all"),
             (1001, "another fresh text with its own unusual wording")],
            ["doc_id", "text"],
        )
        admitted = dedup_index.admit_batch(spark, batch, "doc_id", "text", idx)
        assert admitted.count() == 2

        # Spark reads both artifacts with ONE consistent schema.
        sig = spark.read.parquet(os.path.join(idx, dedup_index.SIG_DIR))
        assert dict(sig.dtypes) == {"doc_id": "bigint", "sig": "array<bigint>"}
        assert sig.filter(F.col("doc_id") >= 1000).count() == 2
        band = spark.read.parquet(os.path.join(idx, dedup_index.BAND_DIR))
        assert set(band.columns) == {"band_id", "band_hash", "doc_id"}

        # The driver-written band rows equal Spark's band_rows for the
        # same signatures (the xxhash64 values round-tripped verbatim).
        meta = dedup_index._read_meta(idx)
        want = {
            (r["band_id"], r["band_hash"], r["doc_id"])
            for r in band_rows(
                sig.filter(F.col("doc_id") >= 1000),
                meta["n_hashes"], meta["bands"],
            ).collect()
        }
        got = {
            (r["band_id"], r["band_hash"], r["doc_id"])
            for r in band.filter(F.col("doc_id") >= 1000).collect()
        }
        assert got == want and len(got) == 2 * meta["bands"]

        # A near-copy of a trickle-admitted doc is caught by the NEXT probe
        # (the micro-append is probe-visible end to end).
        copy = spark.createDataFrame(
            [(2000, "a brand new document nothing like history at all")],
            ["doc_id", "text"],
        )
        admitted2 = dedup_index.admit_batch(spark, copy, "doc_id", "text", idx)
        assert admitted2.count() == 0

        # Replay idempotency through the driver path: nothing re-registers.
        docs_before = dedup_index._read_meta(idx)["docs"]
        replay = dedup_index.admit_batch(spark, batch, "doc_id", "text", idx)
        assert replay.count() == 0
        assert dedup_index._read_meta(idx)["docs"] == docs_before

    def test_string_doc_ids_use_driver_path(self, spark, tmp_path):
        from presencia_etl_spark.operators import dedup_index

        idx = str(tmp_path / "idx_str")
        hist = spark.createDataFrame(
            [(f"h{i}", f"historical document number {i} with words") for i in range(20)],
            ["doc_id", "text"],
        )
        dedup_index.build_minhash_index(spark, hist, "doc_id", "text", idx)
        batch = spark.createDataFrame(
            [("n1", "a brand new document nothing like history at all")],
            ["doc_id", "text"],
        )
        assert dedup_index.admit_batch(
            spark, batch, "doc_id", "text", idx
        ).count() == 1
        copy = spark.createDataFrame(
            [("n2", "a brand new document nothing like history at all")],
            ["doc_id", "text"],
        )
        assert dedup_index.admit_batch(
            spark, copy, "doc_id", "text", idx
        ).count() == 0


class TestTrickleJobBudget:
    def test_trickle_admit_spark_job_budget(self, spark, tmp_path):
        """Regression guard on the admit loop's fixed cost: a trickle
        batch must stay within a bounded number of Spark jobs (the
        round-7 redesign runs ~9-10: one combined collect, the probe's
        dup-id collect + its broadcast sub-jobs, one cheap checkpoint —
        index registration is driver-side and adds ZERO jobs). A loose
        ceiling so Spark-internal sub-job accounting has headroom; a
        return to per-batch Spark write jobs or AQE re-planning would
        blow well past it."""
        from presencia_etl_spark.operators import dedup_index

        idx = str(tmp_path / "idx")
        hist = spark.createDataFrame(
            [(i, f"historical document number {i} some words") for i in range(60)],
            ["doc_id", "text"],
        )
        dedup_index.build_minhash_index(spark, hist, "doc_id", "text", idx)
        # Warm batch (Python worker spin-up, code paths JIT).
        warm = spark.createDataFrame(
            [(500, "a warm up document with plain wording")], ["doc_id", "text"]
        )
        dedup_index.admit_batch(spark, warm, "doc_id", "text", idx)

        tracker = spark.sparkContext.statusTracker()
        batch = spark.createDataFrame(
            [(600 + i, f"fresh text number {i} that matches nothing else")
             for i in range(5)],
            ["doc_id", "text"],
        )
        j0 = max(tracker.getJobIdsForGroup() or [0])
        admitted = dedup_index.admit_batch(spark, batch, "doc_id", "text", idx)
        assert admitted.count() == 5
        j1 = max(tracker.getJobIdsForGroup() or [0])
        jobs = j1 - j0 - 1  # the count() above is ours, not the loop's
        assert jobs <= 14, f"trickle admit used {jobs} Spark jobs"

    def test_trickle_admit_runs_in_trickle_session(
        self, spark, tmp_path, sql_plans
    ):
        """The combined signature collect, the probe and the admitted
        checkpoint of a trickle batch all plan in the trickle session
        (no adaptive plan outside the batch's caches, which the caller's
        session built); the admitted frame is handed back in ``spark``."""
        from presencia_etl_spark.operators import dedup_index

        idx = str(tmp_path / "idx")
        hist = spark.createDataFrame(
            [(i, f"historical document number {i} some words") for i in range(30)],
            ["doc_id", "text"],
        )
        dedup_index.build_minhash_index(spark, hist, "doc_id", "text", idx)
        batch = spark.createDataFrame(
            [(600, "fresh text that matches nothing else"),
             (601, "historical document number 3 some words")],
            ["doc_id", "text"],
        )
        admitted, trees = sql_plans(
            lambda: dedup_index.admit_batch(spark, batch, "doc_id", "text", idx)
        )
        assert len(trees) >= 3
        assert not any("AdaptiveSparkPlan" in t for t in trees), trees
        assert admitted.sparkSession is spark
        assert sorted(r["doc_id"] for r in admitted.collect()) == [600]


class TestTrickleAppendDurability:
    def test_compaction_after_driver_appends(self, spark, tmp_path):
        """compact_minhash_index must fold Spark-written build files and
        pyarrow-written trickle appends into one layout with probe parity
        before/after."""
        from pyspark.sql import functions as F

        from presencia_etl_spark.operators import dedup_index

        idx = str(tmp_path / "idx")
        hist = spark.createDataFrame(
            [(i, f"historical document number {i} about topic {i % 7}")
             for i in range(60)],
            ["doc_id", "text"],
        )
        dedup_index.build_minhash_index(spark, hist, "doc_id", "text", idx)
        for b in range(3):  # three driver-side micro-appends
            batch = spark.createDataFrame(
                [(1000 + b * 10 + i,
                  f"unique fresh text {b}-{i} with unrepeated phrasing {b*i}")
                 for i in range(4)],
                ["doc_id", "text"],
            )
            dedup_index.admit_batch(spark, batch, "doc_id", "text", idx)
        docs_before = dedup_index._read_meta(idx)["docs"]
        probe = spark.createDataFrame(
            [(9000, "unique fresh text 1-2 with unrepeated phrasing 2")],
            ["doc_id", "text"],
        )
        m_before = {
            (r["batch_id"], r["index_id"])
            for r in dedup_index.query_minhash_index(
                spark, probe, "doc_id", "text", idx
            ).collect()
        }
        # The probe's text replicates an admitted doc: some trickle-
        # appended doc (id >= 1000) must come back as a candidate.
        assert any(i >= 1000 for _b, i in m_before)

        r = dedup_index.compact_minhash_index(spark, idx)
        before, after = r["sig_files"]
        assert after <= before
        assert dedup_index._read_meta(idx)["docs"] == docs_before
        m_after = {
            (r_["batch_id"], r_["index_id"])
            for r_ in dedup_index.query_minhash_index(
                spark, probe, "doc_id", "text", idx
            ).collect()
        }
        assert m_after == m_before

    def test_partial_publish_crash_is_replay_safe(self, spark, tmp_path, monkeypatch):
        """Crash between band publish and signature publish: the doc is
        NOT in the 'seen' set (signatures publish LAST), so a replay
        re-registers it fully; the duplicate band rows from the torn
        append are tolerated by the probe (dropDuplicates on candidate
        pairs)."""
        from presencia_etl_spark.operators import dedup_index

        idx = str(tmp_path / "idx")
        hist = spark.createDataFrame(
            [(i, f"historical document number {i} some words") for i in range(40)],
            ["doc_id", "text"],
        )
        dedup_index.build_minhash_index(spark, hist, "doc_id", "text", idx)
        batch = spark.createDataFrame(
            [(700, "a singular new document with very distinct content")],
            ["doc_id", "text"],
        )

        real_publish = dedup_index._publish_staged
        calls = {"n": 0}

        def crash_after_bands(staged, live):
            calls["n"] += 1
            if calls["n"] == 1:
                real_publish(staged, live)  # bands land
                raise RuntimeError("simulated crash before signature publish")
            return real_publish(staged, live)

        monkeypatch.setattr(dedup_index, "_publish_staged", crash_after_bands)
        try:
            dedup_index.admit_batch(spark, batch, "doc_id", "text", idx)
        except RuntimeError:
            pass
        monkeypatch.undo()
        # Torn state: bands present, signature absent, meta untouched.
        import os

        sig = spark.read.parquet(os.path.join(idx, dedup_index.SIG_DIR))
        assert sig.filter("doc_id = 700").count() == 0
        band = spark.read.parquet(os.path.join(idx, dedup_index.BAND_DIR))
        assert band.filter("doc_id = 700").count() > 0

        # Replay: the doc re-registers fully (not silently skipped).
        admitted = dedup_index.admit_batch(spark, batch, "doc_id", "text", idx)
        assert admitted.count() == 1
        sig = spark.read.parquet(os.path.join(idx, dedup_index.SIG_DIR))
        assert sig.filter("doc_id = 700").count() == 1

        # And a near-copy is caught despite the duplicated band rows.
        copy = spark.createDataFrame(
            [(800, "a singular new document with very distinct content")],
            ["doc_id", "text"],
        )
        assert dedup_index.admit_batch(
            spark, copy, "doc_id", "text", idx
        ).count() == 0
