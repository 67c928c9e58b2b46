"""Engine-to-engine replica sync (plans/replica_sync.py): the no-change
sync between two managed replicas is proven from the two sidecars with
ZERO Spark jobs; sparse divergence classifies only the dirty
micro-buckets with zero digest jobs on either side; everything else
falls through to the (self-correcting) ordinary merge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from presencia_etl_spark.operators import cdc
from presencia_etl_spark.plans.replica_sync import (
    read_managed,
    sync_replica,
    table_layout,
)
from presencia_etl_spark.sinks import digest_store, mor
from presencia_etl_spark.sinks.writers import merge_upsert_parquet


def _docs(spark, n=300, salt="0", drop_mod=None, extra_mod=None):
    df = spark.range(n).select(
        F.col("id"),
        F.col("id").cast("string").alias("K"),
        F.concat(F.lit(salt), (F.col("id") % 13).cast("string")).alias("V"),
    )
    if extra_mod:
        df = df.withColumn(
            "V",
            F.when(
                F.col("id") % extra_mod == 0, F.concat(F.col("V"), F.lit("x"))
            ).otherwise(F.col("V")),
        )
    if drop_mod:
        df = df.filter(F.col("id") % drop_mod != 0)
    return df.select("K", "V")


def _state(df):
    return {r["K"]: r["V"] for r in df.select("K", "V").collect()}


def _seed_mor(spark, path, df, buckets=8):
    """Load + no-change pass (seeds the sidecar from the scan fallback)."""
    mor.merge_upsert_mor(spark, df, path, ["K"], num_buckets=buckets,
                         compact_every=None)
    mor.merge_upsert_mor(spark, df, path, ["K"], num_buckets=buckets,
                         compact_every=None)
    assert digest_store.load(path) is not None


def _jobs(spark):
    tracker = spark.sparkContext.statusTracker()
    return set(tracker.getJobIdsForGroup() or [])


class TestGreenPath:
    def test_nochange_sync_runs_zero_spark_jobs(self, spark, tmp_path):
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 300))

        r = sync_replica(spark, src_t, tgt_t, ["K"])  # initial load
        assert r["insert"] == 300 and r["proven"] is None
        r = sync_replica(spark, src_t, tgt_t, ["K"])  # seeds target sidecar
        assert r["insert"] == 0 and r["update"] == 0 and r["delete"] == 0
        assert digest_store.load(tgt_t) is not None

        j0 = _jobs(spark)
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert _jobs(spark) == j0, "green-path sync ran Spark jobs"
        assert r == {
            "insert": 0, "update": 0, "skip": 300, "delete": 0,
            "delta_files": 0, "compacted": False, "proven": "sidecar",
        }

    def test_cow_flat_replicas_green_path(self, spark, tmp_path):
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        df = _docs(spark, 200)
        merge_upsert_parquet(spark, df, src_t, ["K"])
        merge_upsert_parquet(spark, df, src_t, ["K"])
        assert table_layout(src_t) == "flat"
        sync_replica(spark, src_t, tgt_t, ["K"])
        sync_replica(spark, src_t, tgt_t, ["K"])  # seeds target sidecar
        j0 = _jobs(spark)
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert _jobs(spark) == j0
        assert r["proven"] == "sidecar" and r["skip"] == 200


class TestSparseDivergence:
    def test_converges_with_zero_digest_jobs(self, spark, tmp_path, monkeypatch):
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 300))
        sync_replica(spark, src_t, tgt_t, ["K"])
        sync_replica(spark, src_t, tgt_t, ["K"])  # target sidecar seeded

        # mutate the SOURCE through its own merge (maintains its sidecar)
        mut = _docs(spark, 302, extra_mod=150)  # upd 0,150; ins 300,301
        mor.merge_upsert_mor(spark, mut, src_t, ["K"], num_buckets=8,
                             compact_every=None)
        assert digest_store.load(src_t) is not None

        calls = []
        real = cdc._digest

        def spy(df, hash_col, micro, tag):
            calls.append(tag)
            return real(df, hash_col, micro, tag)

        monkeypatch.setattr(cdc, "_digest", spy)
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        monkeypatch.undo()
        assert calls == [], f"replica sync ran digest scans: {calls}"
        assert r["insert"] == 2 and r["update"] == 2 and r["skip"] == 298
        assert _state(read_managed(spark, tgt_t)) == _state(
            read_managed(spark, src_t)
        )

    def test_source_deletes_propagate(self, spark, tmp_path):
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 200))
        sync_replica(spark, src_t, tgt_t, ["K"])
        sync_replica(spark, src_t, tgt_t, ["K"])

        doomed = _docs(spark, 200).filter(F.col("K").cast("long") % 40 == 0)
        r = mor.delete_keys_mor(spark, src_t, doomed.select("K"), ["K"],
                                compact_every=None)
        assert r["delete"] == 5
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert r["delete"] == 5 and r["insert"] == 0 and r["update"] == 0
        assert _state(read_managed(spark, tgt_t)) == _state(
            read_managed(spark, src_t)
        )
        # and the pair is green again
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert r["proven"] == "sidecar" and r["skip"] == 195

    def test_sparse_sync_reads_only_dirty_source_buckets(
        self, spark, tmp_path, monkeypatch
    ):
        """With both sidecars valid, the SOURCE read is listing-pruned
        to the dirty micro-buckets' _kb dirs — not a full table read."""
        from presencia_etl_spark.sinks import mor as mor_mod

        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 300), buckets=16)
        sync_replica(spark, src_t, tgt_t, ["K"])
        sync_replica(spark, src_t, tgt_t, ["K"])  # seeds target sidecar

        one = _docs(spark, 300, extra_mod=299).filter(F.col("K") == "299")
        mor.merge_upsert_mor(spark, one, src_t, ["K"], num_buckets=16,
                             compact_every=None)
        bucket_args = []
        real = mor_mod.read_mor

        def spy(spark_, path, as_of_seq=None, buckets=None):
            bucket_args.append((path, buckets))
            return real(spark_, path, as_of_seq=as_of_seq, buckets=buckets)

        monkeypatch.setattr(mor_mod, "read_mor", spy)
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        monkeypatch.undo()
        assert r["update"] == 1 and r["insert"] == 0
        src_reads = [b for p, b in bucket_args if p == src_t]
        assert src_reads and src_reads[0] is not None
        assert len(src_reads[0]) < 16, f"source read unpruned: {src_reads}"
        assert _state(read_managed(spark, tgt_t)) == _state(
            read_managed(spark, src_t)
        )

    def test_trickle_sync_inside_run_per_table_worker(
        self, spark, tmp_path, monkeypatch
    ):
        """A sparse sync called from a ``run_per_table`` worker takes the
        trickle session like any other caller and returns the same
        counts and state."""
        from presencia_etl_spark import session as sess
        from presencia_etl_spark.plans import replica_sync as rs
        from presencia_etl_spark.plans.full_sync import (
            TableConfig,
            run_per_table,
        )

        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 150))
        sync_replica(spark, src_t, tgt_t, ["K"])
        sync_replica(spark, src_t, tgt_t, ["K"])
        mor.merge_upsert_mor(
            spark,
            _docs(spark, 150, extra_mod=149).filter(F.col("K") == "149"),
            src_t, ["K"], num_buckets=8, compact_every=None,
        )
        sessions = []
        real_merge = rs._merge_replica

        def spying_merge(s, *a, **kw):
            sessions.append(s)
            return real_merge(s, *a, **kw)

        monkeypatch.setattr(rs, "_merge_replica", spying_merge)
        # Two tables, so the work runs on the fan-out's pool threads.
        out = run_per_table(
            {n: TableConfig(name=n) for n in ("t", "idle")},
            {"t": None, "idle": None},
            lambda n, _c: (
                sync_replica(spark, src_t, tgt_t, ["K"]) if n == "t" else None
            ),
        )
        assert out["t"]["update"] == 1
        assert sessions == [sess.trickle_session(spark)]
        assert _state(read_managed(spark, tgt_t)) == _state(
            read_managed(spark, src_t)
        )

    def test_prune_killswitch_keeps_delete_sync_correct(
        self, spark, tmp_path, monkeypatch
    ):
        """SPARK_GRAFT_DIGEST_PRUNE=0 forces digest_compare to stand
        down entirely — the sync must then hand the merge a FULL source
        (a pruned one would classify everything outside it as missing
        and mass-delete under delete_missing)."""
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 200))
        sync_replica(spark, src_t, tgt_t, ["K"])
        sync_replica(spark, src_t, tgt_t, ["K"])
        doomed = _docs(spark, 200).filter(F.col("K") == "7").select("K")
        mor.delete_keys_mor(spark, src_t, doomed, ["K"], compact_every=None)
        monkeypatch.setenv("SPARK_GRAFT_DIGEST_PRUNE", "0")
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        monkeypatch.delenv("SPARK_GRAFT_DIGEST_PRUNE")
        assert r["delete"] == 1, f"expected exactly one delete: {r}"
        assert _state(read_managed(spark, tgt_t)) == _state(
            read_managed(spark, src_t)
        )
        assert read_managed(spark, tgt_t).count() == 199  # no mass delete

    def test_stale_target_sidecar_falls_back_correctly(
        self, spark, tmp_path, monkeypatch
    ):
        """Target touched by a digest-unaware writer: the sync must scan
        and still converge (src_digest is ignored without a valid
        target sidecar)."""
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 150))
        sync_replica(spark, src_t, tgt_t, ["K"])
        monkeypatch.setenv("SPARK_GRAFT_DIGEST_SIDECAR", "0")
        mor.merge_upsert_mor(
            spark, _docs(spark, 150, extra_mod=50), tgt_t, ["K"],
            num_buckets=8, compact_every=None,
        )
        monkeypatch.delenv("SPARK_GRAFT_DIGEST_SIDECAR")
        assert digest_store.load(tgt_t) is None
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert r["update"] == 3  # ids 0,50,100 revert to the source value
        assert _state(read_managed(spark, tgt_t)) == _state(
            read_managed(spark, src_t)
        )


class TestCli:
    def test_sync_replica_subcommand(self, spark, tmp_path, capsys):
        import json as _json

        from presencia_etl_spark.__main__ import main

        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 80))
        assert main(["sync-replica", "--source", src_t, "--target", tgt_t,
                     "--key", "K"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["result"]["insert"] == 80
        main(["sync-replica", "--source", src_t, "--target", tgt_t,
              "--key", "K"])  # seeds target sidecar
        capsys.readouterr()
        assert main(["sync-replica", "--source", src_t, "--target", tgt_t,
                     "--key", "K"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["result"]["proven"] == "sidecar"
        assert out["result"]["skip"] == 80

    def test_replicate_subcommand(self, spark, tmp_path, capsys):
        import json as _json

        from presencia_etl_spark.__main__ import main

        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 60))
        assert main(["replicate", "--source", src_t, "--target", tgt_t,
                     "--key", "K"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["result"]["mode"] == "snapshot"
        # steady state: cursor at source seq, pre-session noop
        assert main(["replicate", "--source", src_t, "--target", tgt_t,
                     "--key", "K"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["result"]["mode"] == "noop"
        # evolve source, catch up via the feed
        mor.merge_upsert_mor(
            spark, _docs(spark, 61, salt="c", extra_mod=15), src_t, ["K"],
            compact_every=None,
        )
        assert main(["replicate", "--source", src_t, "--target", tgt_t,
                     "--key", "K"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["result"]["mode"] == "feed"
        assert _state(mor.read_mor(spark, tgt_t)) == _state(
            mor.read_mor(spark, src_t)
        )


class TestGuards:
    def test_delete_missing_refused_for_cow_target(self, spark, tmp_path):
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        df = _docs(spark, 100)
        merge_upsert_parquet(spark, df, src_t, ["K"])
        merge_upsert_parquet(spark, df, tgt_t, ["K"])
        with pytest.raises(ValueError, match="MOR target"):
            sync_replica(spark, src_t, tgt_t, ["K"], delete_missing=True)

    def test_empty_precreated_target_dir_runs_initial_load(
        self, spark, tmp_path
    ):
        """mkdir'd-but-empty targets (mount points) must behave like
        absent ones: mirror the source layout and initial-load, for
        every merge family."""
        src_t = str(tmp_path / "src")
        _seed_mor(spark, src_t, _docs(spark, 90))
        tgt_t = str(tmp_path / "tgt")
        os.makedirs(tgt_t)
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert r["insert"] == 90
        assert table_layout(tgt_t) == "mor"  # mirrored, not 'flat'
        # flat family direct: empty dir → initial load, not a schema error
        flat_src = _docs(spark, 40)
        flat_t = str(tmp_path / "flat")
        os.makedirs(flat_t)
        r = merge_upsert_parquet(spark, flat_src, flat_t, ["K"])
        assert r["insert"] == 40

    def test_existing_target_bucket_count_wins(self, spark, tmp_path):
        """A 64-bucket MOR target synced from a 256-bucket source keeps
        ITS modulus — no cross-modulus adoption, no spurious warning."""
        import warnings as _warnings

        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        df = _docs(spark, 120)
        mor.merge_upsert_mor(spark, df, src_t, ["K"], num_buckets=16,
                             compact_every=None)
        mor.merge_upsert_mor(spark, df, src_t, ["K"], num_buckets=16,
                             compact_every=None)
        mor.merge_upsert_mor(spark, _docs(spark, 118), tgt_t, ["K"],
                             num_buckets=4, compact_every=None)
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")  # num_buckets mismatch warns
            r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert r["insert"] == 2
        assert _state(read_managed(spark, tgt_t)) == _state(
            read_managed(spark, src_t)
        )

    def test_cross_layout_mor_source_to_flat_target(self, spark, tmp_path):
        src_t = str(tmp_path / "src")
        tgt_t = str(tmp_path / "tgt")
        _seed_mor(spark, src_t, _docs(spark, 120))
        merge_upsert_parquet(spark, _docs(spark, 118), tgt_t, ["K"])
        r = sync_replica(spark, src_t, tgt_t, ["K"])
        assert r["insert"] == 2 and r["proven"] is None
        tgt = spark.read.parquet(tgt_t)
        assert "_kb" not in tgt.columns
        assert _state(tgt) == _state(read_managed(spark, src_t))


class TestReplicateChanges:
    """Log-shipping catch-up (replicate_changes): the replica follows the
    source's change feed — no source base scan, one atomic target
    sequence per pass."""

    def test_first_pass_snapshots_then_feed_follows(self, spark, tmp_path):
        from presencia_etl_spark.plans.replica_sync import replicate_changes

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        _seed_mor(spark, src, _docs(spark, 300))
        r = replicate_changes(spark, src, dst, ["K"])
        assert r["mode"] == "snapshot"
        assert _state(mor.read_mor(spark, dst)) == _state(
            mor.read_mor(spark, src)
        )
        # source evolves: updates + an insert + a delete, over TWO merges
        mor.merge_upsert_mor(
            spark, _docs(spark, 305, salt="1", extra_mod=50), src, ["K"],
            compact_every=None,
        )
        mor.delete_keys_mor(
            spark, src, spark.createDataFrame([("9",)], "K string"), ["K"],
            compact_every=None,
        )
        seq0 = mor.mor_history(dst)["seq"]
        r = replicate_changes(spark, src, dst, ["K"])
        assert r["mode"] == "feed"
        assert r["delete"] == 1 and (r["insert"] + r["update"]) > 0
        # N source merges collapse into ONE atomic replica sequence
        assert mor.mor_history(dst)["seq"] == seq0 + 1
        assert _state(mor.read_mor(spark, dst)) == _state(
            mor.read_mor(spark, src)
        )

    def test_noop_pass_never_needs_spark(self, spark, tmp_path):
        from presencia_etl_spark.plans.replica_sync import replicate_changes

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        _seed_mor(spark, src, _docs(spark, 100))
        replicate_changes(spark, src, dst, ["K"])
        # cursor at source seq: spark=None proves no session is touched
        r = replicate_changes(None, src, dst, ["K"])
        assert r["mode"] == "noop"

    def test_feed_pass_reads_no_source_base_files(self, spark, tmp_path):
        """The catch-up is log shipping: only delta files in range are
        read from the source — never its base buckets."""
        from presencia_etl_spark.plans.replica_sync import replicate_changes
        from presencia_etl_spark.sinks.mor import read_mor_changes

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        _seed_mor(spark, src, _docs(spark, 200))
        replicate_changes(spark, src, dst, ["K"])
        mor.merge_upsert_mor(
            spark, _docs(spark, 200, salt="2", extra_mod=40), src, ["K"],
            compact_every=None,
        )
        cursor = mor.mor_history(src)["seq"]
        feed = read_mor_changes(spark, src, since_seq=cursor - 1)
        files = feed.inputFiles()
        assert files and all("/deltas/" in f for f in files)

    def test_replay_after_cursor_crash_is_idempotent(
        self, spark, tmp_path, monkeypatch
    ):
        from presencia_etl_spark.plans import replica_sync as rs

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        _seed_mor(spark, src, _docs(spark, 150))
        rs.replicate_changes(spark, src, dst, ["K"])
        mor.merge_upsert_mor(
            spark, _docs(spark, 150, salt="3", extra_mod=30), src, ["K"],
            compact_every=None,
        )
        real = rs._write_replicate_cursor
        calls = {"n": 0}

        def crash_once(path, seq):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected cursor crash")
            real(path, seq)

        monkeypatch.setattr(rs, "_write_replicate_cursor", crash_once)
        with pytest.raises(RuntimeError, match="injected"):
            rs.replicate_changes(spark, src, dst, ["K"])
        seq_after_crash = mor.mor_history(dst)["seq"]
        r = rs.replicate_changes(spark, src, dst, ["K"])
        assert r["mode"] == "feed"
        # replay: everything skips, no second delta lands
        assert r["insert"] == 0 and r["update"] == 0 and r["delete"] == 0
        assert mor.mor_history(dst)["seq"] == seq_after_crash
        assert _state(mor.read_mor(spark, dst)) == _state(
            mor.read_mor(spark, src)
        )

    def test_compaction_past_cursor_falls_back_to_snapshot(
        self, spark, tmp_path
    ):
        from presencia_etl_spark.plans.replica_sync import replicate_changes

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        _seed_mor(spark, src, _docs(spark, 120))
        replicate_changes(spark, src, dst, ["K"])
        mor.merge_upsert_mor(
            spark, _docs(spark, 125, salt="4", extra_mod=20), src, ["K"],
            compact_every=None,
        )
        mor.compact_mor(spark, src)  # floor passes the replica's cursor
        r = replicate_changes(spark, src, dst, ["K"])
        assert r["mode"] == "snapshot"
        assert _state(mor.read_mor(spark, dst)) == _state(
            mor.read_mor(spark, src)
        )
        # and the cursor re-pins: the next pass is a noop
        assert replicate_changes(None, src, dst, ["K"])["mode"] == "noop"

    def test_randomized_feed_replication_differential(self, spark, tmp_path):
        import random

        from presencia_etl_spark.plans.replica_sync import replicate_changes

        rng = random.Random(77)
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        _seed_mor(spark, src, _docs(spark, 200))
        replicate_changes(spark, src, dst, ["K"])
        live = set(str(i) for i in range(200))
        for round_i in range(4):
            for _ in range(rng.randrange(1, 3)):
                salt = f"r{round_i}"
                mor.merge_upsert_mor(
                    spark,
                    _docs(spark, 210 + round_i, salt=salt,
                          extra_mod=rng.choice([10, 25])),
                    src, ["K"], compact_every=None,
                )
            doomed = rng.sample(sorted(live), 3)
            live -= set(doomed)
            mor.delete_keys_mor(
                spark, src,
                spark.createDataFrame([(k,) for k in doomed], "K string"),
                ["K"], compact_every=None,
            )
            r = replicate_changes(spark, src, dst, ["K"])
            assert r["mode"] == "feed"
            assert _state(mor.read_mor(spark, dst)) == _state(
                mor.read_mor(spark, src)
            )

    def test_replication_chain_source_to_replica_to_replica(
        self, spark, tmp_path
    ):
        """Log shipping composes: replica1 follows the source, replica2
        follows replica1 — each hop reads only its upstream's delta
        files, and the tail converges to the head."""
        from presencia_etl_spark.plans.replica_sync import replicate_changes

        src = str(tmp_path / "src")
        r1 = str(tmp_path / "r1")
        r2 = str(tmp_path / "r2")
        _seed_mor(spark, src, _docs(spark, 120))
        replicate_changes(spark, src, r1, ["K"])
        replicate_changes(spark, r1, r2, ["K"])
        for i in range(2):
            mor.merge_upsert_mor(
                spark, _docs(spark, 122 + i, salt=f"h{i}", extra_mod=25),
                src, ["K"], compact_every=None,
            )
            mor.delete_keys_mor(
                spark, src,
                spark.createDataFrame([(str(40 + i),)], "K string"),
                ["K"], compact_every=None,
            )
            assert replicate_changes(spark, src, r1, ["K"])["mode"] == "feed"
            assert replicate_changes(spark, r1, r2, ["K"])["mode"] == "feed"
            assert _state(mor.read_mor(spark, r2)) == _state(
                mor.read_mor(spark, src)
            )


class TestSessionlessTrickleReplication:
    def test_kb_feed_applies_without_any_spark_session(
        self, spark, tmp_path, monkeypatch
    ):
        """The cron replication steady state: a KB-sized feed pass runs
        entirely driver-side — pyarrow feed read, trusted stored hashes,
        one atomic mixed delta — with spark=None and session creation
        BLOCKED, proving no JVM is needed."""
        from presencia_etl_spark import session as sess
        from presencia_etl_spark.plans.replica_sync import replicate_changes

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        _seed_mor(spark, src, _docs(spark, 200))
        replicate_changes(spark, src, dst, ["K"])
        mor.merge_upsert_mor(
            spark, _docs(spark, 203, salt="z", extra_mod=40), src, ["K"],
            compact_every=None,
        )
        mor.delete_keys_mor(
            spark, src, spark.createDataFrame([("7",)], "K string"), ["K"],
            compact_every=None,
        )

        def _no_session(*a, **k):
            raise AssertionError("driver feed pass must not start Spark")

        monkeypatch.setattr(sess, "get_spark", _no_session)
        r = replicate_changes(None, src, dst, ["K"])
        monkeypatch.undo()
        assert r["mode"] == "feed" and r.get("driver") is True
        assert r["delete"] == 1 and (r["insert"] + r["update"]) > 0
        assert _state(mor.read_mor(spark, dst)) == _state(
            mor.read_mor(spark, src)
        )
        # idempotent replay: a second pass is a pure-fs noop
        r2 = replicate_changes(None, src, dst, ["K"])
        assert r2["mode"] == "noop"

    def test_trusted_hashes_never_recomputed(self, spark, tmp_path):
        """The feed pass must carry the source's STORED row hashes to
        the replica verbatim (they were computed over raw pre-cast
        strings; recomputing over typed values would change them and
        reclassify everything). Pinned with sentinel hashes no renderer
        would ever produce."""
        from presencia_etl_spark.plans.replica_sync import replicate_changes

        src = str(tmp_path / "hsrc")
        dst = str(tmp_path / "hdst")
        df = spark.createDataFrame(
            [(str(i), f"v{i}", f"RAWHASH-{i}") for i in range(50)],
            "K string, V string, row_hash string",
        )
        mor.merge_upsert_mor(spark, df, src, ["K"], num_buckets=4,
                             compact_every=None)
        replicate_changes(spark, src, dst, ["K"])
        df2 = spark.createDataFrame(
            [("3", "v3x", "RAWHASH-3x"), ("99", "new", "RAWHASH-99")],
            "K string, V string, row_hash string",
        )
        mor.merge_upsert_mor(spark, df2, src, ["K"], compact_every=None)
        r = replicate_changes(None, src, dst, ["K"])
        assert r["mode"] == "feed" and r.get("driver") is True
        got = {
            row["K"]: row["row_hash"]
            for row in mor.read_mor(spark, dst)
            .filter(F.col("K").isin("3", "99"))
            .collect()
        }
        assert got == {"3": "RAWHASH-3x", "99": "RAWHASH-99"}
