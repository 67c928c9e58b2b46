"""Micro-bucket digest pruning (operators/cdc.py): the classify join may
only be skipped/narrowed when the digest proves the skipped micro-buckets
identical — differential-tested against the unpruned path on every merge
family (flat COW, bucketed COW, merge-on-read incl. snapshot-diff
deletes), plus unit coverage of the digest comparator itself."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks import mor
from presencia_etl_spark.sinks.writers import (
    merge_upsert_parquet,
    merge_upsert_partitioned,
)


def _docs(spark, n=400, salt="0", drop_mod=None, extra_mod=None):
    """Keyed frame with deterministic content; ``drop_mod`` removes keys
    (for delete_missing), ``extra_mod`` perturbs values sparsely."""
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


def _audit(df):
    """key → audit envelope (id, row_hash, created_at, updated_at)."""
    return {
        r["K"]: r.asDict()
        for r in df.select("K", "id", "row_hash", "created_at", "updated_at")
        .collect()
    }


class TestDigestComparator:
    def test_identical_sides_all_clean(self, spark):
        from presencia_etl_spark.functions.hashing import with_row_hash

        a = _docs(spark, 300)
        kh = cdc.with_cdc_key(a, ["K"])
        s = with_row_hash(kh, ["K", "V"]).select(cdc.KEY_COL, "row_hash")
        t = s.withColumnRenamed("row_hash", "_tgt_hash")
        dirty, clean = cdc.digest_dirty_micro_buckets(s, t)
        assert dirty == []
        assert clean == 300

    def test_single_update_dirties_one_micro_bucket(self, spark):
        from presencia_etl_spark.functions.hashing import with_row_hash

        a = _docs(spark, 300)
        b = a.withColumn(
            "V", F.when(F.col("K") == "7", F.lit("CHANGED")).otherwise(F.col("V"))
        )
        s = with_row_hash(cdc.with_cdc_key(b, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, "row_hash"
        )
        t = with_row_hash(cdc.with_cdc_key(a, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, F.col("row_hash").alias("_tgt_hash")
        )
        dirty, clean = cdc.digest_dirty_micro_buckets(s, t)
        assert len(dirty) == 1
        assert clean == 299

    def test_insert_and_delete_both_dirty(self, spark):
        from presencia_etl_spark.functions.hashing import with_row_hash

        tgt = _docs(spark, 100)
        src = _docs(spark, 102).filter(F.col("K") != "5")  # +2 inserts, -1 key
        s = with_row_hash(cdc.with_cdc_key(src, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, "row_hash"
        )
        t = with_row_hash(cdc.with_cdc_key(tgt, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, F.col("row_hash").alias("_tgt_hash")
        )
        dirty, clean = cdc.digest_dirty_micro_buckets(s, t)
        assert dirty  # inserted keys 100,101 and removed key 5 each dirty one
        assert 1 <= len(dirty) <= 3

    def test_dense_difference_declines(self, spark):
        from presencia_etl_spark.functions.hashing import with_row_hash

        tgt = _docs(spark, 400)
        src = _docs(spark, 400, salt="z")  # every row different
        s = with_row_hash(cdc.with_cdc_key(src, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, "row_hash"
        )
        t = with_row_hash(cdc.with_cdc_key(tgt, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, F.col("row_hash").alias("_tgt_hash")
        )
        # 400 distinct keys over a tiny modulus → ≥ half dirty → declined.
        dirty, clean = cdc.digest_dirty_micro_buckets(s, t, micro=64)
        assert dirty is None and clean == 0

    def test_dense_change_on_small_table_declines_at_default_modulus(
        self, spark
    ):
        """The decline compares dirty to OCCUPIED micro-buckets: a small
        table (≪16K keys) densely changed must decline even though its
        dirty count is far below half the modulus — otherwise it pays
        the digest plus thousand-value IN filters to prune nothing."""
        from presencia_etl_spark.functions.hashing import with_row_hash

        tgt = _docs(spark, 400)
        src = _docs(spark, 400, salt="z")  # every row differs
        s = with_row_hash(cdc.with_cdc_key(src, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, "row_hash"
        )
        t = with_row_hash(cdc.with_cdc_key(tgt, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, F.col("row_hash").alias("_tgt_hash")
        )
        dirty, clean = cdc.digest_dirty_micro_buckets(s, t)  # default 16K
        assert dirty is None and clean == 0

    def test_env_kill_switch(self, spark, monkeypatch):
        from presencia_etl_spark.functions.hashing import with_row_hash

        monkeypatch.setenv("SPARK_GRAFT_DIGEST_PRUNE", "0")
        a = _docs(spark, 50)
        s = with_row_hash(cdc.with_cdc_key(a, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, "row_hash"
        )
        t = s.withColumnRenamed("row_hash", "_tgt_hash")
        assert cdc.digest_dirty_micro_buckets(s, t) == (None, 0)


class TestPersistGate:
    def test_du_until_early_exit_and_threshold(self, tmp_path):
        from presencia_etl_spark.sinks import merge_plan as w

        d = tmp_path / "t"
        d.mkdir()
        (d / "a.bin").write_bytes(b"x" * 1000)
        (d / "b.bin").write_bytes(b"x" * 1000)
        assert w._du_until(str(d), 10_000) == 2000
        assert w._du_until(str(d), 500) == 501  # capped, early exit
        assert w._du_until(str(tmp_path / "missing"), 100) == 0

    def test_merges_correct_with_persist_forced_off(
        self, spark, tmp_path, monkeypatch
    ):
        """Large-state regime (persist skipped): results must be
        identical — the gate is a cost decision, never a semantic one."""
        from presencia_etl_spark.sinks import merge_plan as w

        monkeypatch.setattr(w, "DIGEST_PERSIST_MAX_BYTES", 0)
        base = _docs(spark, 300)
        nxt = _docs(spark, 305, extra_mod=43)
        t = str(tmp_path / "flat")
        merge_upsert_parquet(spark, base, t, ["K"])
        r = merge_upsert_parquet(spark, nxt, t, ["K"])
        assert (r["insert"], r["update"]) == (5, 7)
        assert _state(spark.read.parquet(t)) == _state(nxt)
        m = str(tmp_path / "mor")
        mor.merge_upsert_mor(spark, base, m, ["K"], num_buckets=8,
                             compact_every=None)
        r = mor.merge_upsert_mor(spark, nxt, m, ["K"], num_buckets=8,
                                 compact_every=None)
        assert (r["insert"], r["update"]) == (5, 7)
        assert _state(mor.read_mor(spark, m)) == _state(nxt)


class TestMergeDifferential:
    """Pruned vs unpruned merges must produce byte-identical state and
    identical op counts, across sparse updates, inserts, deletes and
    no-change replays — randomized over several seeds."""

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_flat_merge_matches_unpruned(self, spark, tmp_path, monkeypatch, seed):
        rng = random.Random(seed)
        n = rng.randint(200, 500)
        mod = rng.choice([17, 31, 53])
        base = _docs(spark, n)
        nxt = _docs(spark, n + rng.randint(0, 20), extra_mod=mod)

        results = {}
        for label, env in (("pruned", "1"), ("plain", "0")):
            monkeypatch.setenv("SPARK_GRAFT_DIGEST_PRUNE", env)
            t = str(tmp_path / f"flat_{label}")
            merge_upsert_parquet(spark, base, t, ["K"])
            r1 = merge_upsert_parquet(spark, nxt, t, ["K"])
            r2 = merge_upsert_parquet(spark, nxt, t, ["K"])  # replay → no-op
            results[label] = (
                r1,
                r2,
                _state(spark.read.parquet(t)),
            )
        (p1, p2, ps), (u1, u2, us) = results["pruned"], results["plain"]
        assert p1 == u1 and p2 == u2
        assert ps == us
        assert p2 == {"insert": 0, "update": 0, "skip": p2["skip"]}

    @pytest.mark.parametrize("seed", [4, 5])
    def test_bucketed_merge_matches_unpruned(
        self, spark, tmp_path, monkeypatch, seed
    ):
        rng = random.Random(seed)
        n = rng.randint(300, 600)
        base = _docs(spark, n)
        nxt = _docs(spark, n + 11, extra_mod=rng.choice([29, 41]))
        results = {}
        for label, env in (("pruned", "1"), ("plain", "0")):
            monkeypatch.setenv("SPARK_GRAFT_DIGEST_PRUNE", env)
            t = str(tmp_path / f"bk_{label}")
            merge_upsert_partitioned(spark, base, t, ["K"], num_buckets=16)
            r1 = merge_upsert_partitioned(spark, nxt, t, ["K"], num_buckets=16)
            r2 = merge_upsert_partitioned(spark, nxt, t, ["K"], num_buckets=16)
            results[label] = (r1, r2, _state(spark.read.parquet(t)))
        (p1, p2, ps), (u1, u2, us) = results["pruned"], results["plain"]
        # buckets_rewritten may legitimately match too, but the contract
        # is the row-level outcome + op counts.
        for k in ("insert", "update", "skip"):
            assert p1[k] == u1[k] and p2[k] == u2[k]
        assert ps == us and p2["update"] == 0 and p2["insert"] == 0

    @pytest.mark.parametrize("seed", [6, 7])
    def test_mor_merge_with_deletes_matches_unpruned(
        self, spark, tmp_path, monkeypatch, seed
    ):
        rng = random.Random(seed)
        n = rng.randint(300, 600)
        base = _docs(spark, n)
        # snapshot-diff: some keys vanish, some mutate, some append
        nxt = _docs(
            spark,
            n + 7,
            extra_mod=rng.choice([23, 37]),
            drop_mod=rng.choice([61, 97]),
        )
        results = {}
        for label, env in (("pruned", "1"), ("plain", "0")):
            monkeypatch.setenv("SPARK_GRAFT_DIGEST_PRUNE", env)
            t = str(tmp_path / f"mor_{label}")
            mor.merge_upsert_mor(spark, base, t, ["K"], num_buckets=16,
                                 compact_every=None)
            r1 = mor.merge_upsert_mor(
                spark, nxt, t, ["K"], num_buckets=16, compact_every=None,
                delete_missing=True,
            )
            r2 = mor.merge_upsert_mor(
                spark, nxt, t, ["K"], num_buckets=16, compact_every=None,
                delete_missing=True,
            )
            results[label] = (r1, r2, _state(mor.read_mor(spark, t)))
        (p1, p2, ps), (u1, u2, us) = results["pruned"], results["plain"]
        for k in ("insert", "update", "skip", "delete"):
            assert p1[k] == u1[k], (k, p1, u1)
            assert p2[k] == u2[k], (k, p2, u2)
        assert ps == us
        assert p2["delete"] == 0 and p2["update"] == 0  # replay converged

    def test_mor_nochange_writes_nothing_without_classify(
        self, spark, tmp_path
    ):
        """The digest no-change fast path: an identical snapshot re-merge
        returns all-skip and leaves NO delta dir behind."""
        t = str(tmp_path / "mor")
        base = _docs(spark, 400)
        mor.merge_upsert_mor(spark, base, t, ["K"], num_buckets=8,
                             compact_every=None)
        r = mor.merge_upsert_mor(spark, base, t, ["K"], num_buckets=8,
                                 compact_every=None, delete_missing=True)
        assert r["insert"] == r["update"] == r["delete"] == 0
        assert r["skip"] == 400
        assert mor._delta_seqs(t) == []

    def test_diff_states_matches_unpruned_full_outer(self, spark):
        """diff_states (digest-backed table compare) must agree with the
        naive full-outer-join diff on identical/changed/one-sided keys."""
        left = _docs(spark, 320)
        right = _docs(spark, 330, extra_mod=37, drop_mod=101)
        got = {
            (r[0], r["diff"])
            for r in cdc.diff_states(left, right, ["K"]).collect()
        }
        plain = {
            (r[0], r["diff"])
            for r in cdc.diff_states(
                left, right, ["K"], digest_prune=False
            ).collect()
        }
        assert got == plain
        ls, rs = _state(left), _state(right)
        want = set()
        for k in set(ls) | set(rs):
            if k not in rs:
                want.add((k, "only_left"))
            elif k not in ls:
                want.add((k, "only_right"))
            elif ls[k] != rs[k]:
                want.add((k, "differs"))
        assert got == want

    def test_diff_states_identical_is_empty(self, spark):
        a = _docs(spark, 200)
        assert cdc.diff_states(a, _docs(spark, 200), ["K"]).count() == 0

    def test_diff_states_ignores_audit_and_engine_columns(
        self, spark, tmp_path
    ):
        """Raw source vs its own merged state (audit envelope, _kb,
        _cdc_key present, row_hash only on ONE side): identical data must
        diff as identical — surrogate columns and the one-sided persisted
        hash must not feed row identity."""
        raw = _docs(spark, 150)
        t = str(tmp_path / "state")
        merge_upsert_parquet(spark, raw, t, ["K"])
        state = spark.read.parquet(t)
        assert cdc.diff_states(raw, state, ["K"]).count() == 0
        # Two independently merged replicas of the same data (different
        # surrogate ids/timestamps, both with persisted row_hash).
        t2 = str(tmp_path / "replica")
        merge_upsert_parquet(spark, raw, t2, ["K"])
        assert cdc.diff_states(
            state, spark.read.parquet(t2), ["K"]
        ).count() == 0

    def test_diff_cli_compares_state_dirs(self, spark, tmp_path, capsys):
        """`diff --left A --right B` reads both layout-aware (MOR right
        side here), digest-compares, and reports per-kind counts."""
        import json as _json

        from presencia_etl_spark.__main__ import main

        a = _docs(spark, 120)
        b = _docs(spark, 121, extra_mod=40)  # 1 insert + 3 updates vs a
        left = str(tmp_path / "left")
        right = str(tmp_path / "right")
        merge_upsert_parquet(spark, a, left, ["K"])
        mor.merge_upsert_mor(spark, b, right, ["K"], num_buckets=4,
                             compact_every=None)
        assert main(["diff", "--left", left, "--right", right]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        r = out["result"]
        assert r["identical"] is False
        assert r["counts"]["only_right"] == 1
        assert r["counts"]["differs"] == 3
        assert "only_left" not in r["counts"]
        assert len(r["sample"]["differs"]) == 3

        # Identical states → identical verdict.
        left2 = str(tmp_path / "left2")
        merge_upsert_parquet(spark, b, left2, ["K"])
        assert main(["diff", "--left", left2, "--right", right]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["result"]["identical"] is True

    def test_empty_source_refusal_survives_pruning(self, spark, tmp_path):
        """delete_missing + EMPTY source must still refuse (the failed-
        export disaster guard) — digest pruning must not skip past it."""
        t = str(tmp_path / "mor")
        base = _docs(spark, 50)
        mor.merge_upsert_mor(spark, base, t, ["K"], num_buckets=8,
                             compact_every=None)
        empty = base.filter(F.lit(False))
        with pytest.raises(ValueError, match="EMPTY"):
            mor.merge_upsert_mor(
                spark, empty, t, ["K"], num_buckets=8, compact_every=None,
                delete_missing=True,
            )


class TestTinySourceCollectPath:
    """KB-sized snapshot sources (the trickle cron shape) fold their
    digest driver-side from ONE shuffle-free collect instead of the
    16K-modulus aggregation — same verdicts, fewer fixed-cost jobs."""

    def test_driver_fold_matches_agg(self, spark, tmp_path):
        from presencia_etl_spark.functions.hashing import with_row_hash

        src = _docs(spark, 350, extra_mod=60)
        tgt = _docs(spark, 352)
        kh_s = with_row_hash(cdc.with_cdc_key(src, ["K"]), ["K", "V"]).select(
            cdc.KEY_COL, "row_hash"
        )
        kh_t = with_row_hash(cdc.with_cdc_key(tgt, ["K"]), ["K", "V"])
        tdig = {
            r[cdc.MB_COL]: (r["_cs"], r["_xs"], r["_ys"])
            for r in cdc._digest(
                kh_t.select(cdc.KEY_COL, "row_hash"), "row_hash",
                cdc.DIGEST_MICRO_BUCKETS, "s",
            ).collect()
        }
        via_agg = cdc.digest_compare(kh_s, None, tgt_digest=tdig)
        via_fold = cdc.digest_compare(
            kh_s, None, tgt_digest=tdig, collect_src=True
        )
        assert via_fold.dirty == via_agg.dirty
        assert via_fold.clean_src == via_agg.clean_src
        assert via_fold.tgt_digest == via_agg.tgt_digest

    def test_kb_sized_nochange_sync_job_budget(self, spark, tmp_path):
        """A KB-sized file-backed snapshot against a sidecar-bearing
        state: the whole no-change merge is ≤2 Spark jobs (target
        schema listing + ONE source collect — no aggregation
        exchanges). With the tiny path disabled the same sync runs
        strictly more jobs."""
        work = tmp_path / "tiny"
        t = str(work / "state")
        df = _docs(spark, 400)
        merge_upsert_parquet(spark, df, t, ["K"])
        merge_upsert_parquet(spark, df, t, ["K"])  # seed sidecar
        srcdir = str(work / "snap")
        df.write.mode("overwrite").parquet(srcdir)
        src = spark.read.parquet(srcdir)

        tracker = spark.sparkContext.statusTracker()

        def jobs():
            return set(tracker.getJobIdsForGroup() or [])

        j0 = jobs()
        r = merge_upsert_parquet(spark, src, t, ["K"])
        n_tiny = len(jobs() - j0)
        assert r == {"insert": 0, "update": 0, "skip": 400}
        assert n_tiny <= 2, f"tiny no-change sync ran {n_tiny} jobs"

        os.environ["SPARK_GRAFT_SMALL_SRC_KB"] = "0"
        try:
            j0 = jobs()
            r = merge_upsert_parquet(spark, src, t, ["K"])
            n_agg = len(jobs() - j0)
        finally:
            os.environ.pop("SPARK_GRAFT_SMALL_SRC_KB")
        assert r == {"insert": 0, "update": 0, "skip": 400}
        assert n_agg > n_tiny, (n_agg, n_tiny)

    def test_tiny_mutated_source_still_classifies_correctly(
        self, spark, tmp_path
    ):
        """End-to-end through all three merge families with a tiny
        file-backed source carrying updates + inserts: same counts, same
        state, same per-key row_hash, identities kept on update and fresh
        ids above the old max on insert; then a schema-widening merge the
        three layouts also agree on."""
        work = tmp_path / "tinymut"
        flat, buck, m = (
            str(work / "flat"), str(work / "buck"), str(work / "mor")
        )
        df = _docs(spark, 300)
        merge_upsert_parquet(spark, df, flat, ["K"])
        merge_upsert_parquet(spark, df, flat, ["K"])
        merge_upsert_partitioned(spark, df, buck, ["K"], num_buckets=8)
        merge_upsert_partitioned(spark, df, buck, ["K"], num_buckets=8)
        mor.merge_upsert_mor(spark, df, m, ["K"], num_buckets=8,
                             compact_every=None)
        mor.merge_upsert_mor(spark, df, m, ["K"], num_buckets=8,
                             compact_every=None)
        srcdir = str(work / "snap")
        _docs(spark, 302, extra_mod=75).write.mode("overwrite").parquet(srcdir)
        src = spark.read.parquet(srcdir)
        before = {
            "flat": _audit(spark.read.parquet(flat)),
            "buck": _audit(spark.read.parquet(buck)),
            "mor": _audit(mor.read_mor(spark, m)),
        }
        r1 = merge_upsert_parquet(spark, src, flat, ["K"])
        r2 = merge_upsert_partitioned(spark, src, buck, ["K"], num_buckets=8)
        r3 = mor.merge_upsert_mor(spark, src, m, ["K"], num_buckets=8,
                                  compact_every=None)
        # ids 0,75,150,225 update; 300,301 insert (300 is perturbed AND new)
        for r in (r1, r2, r3):
            assert r["insert"] == 2 and r["update"] == 4 and r["skip"] == 296
        after = {
            "flat": _audit(spark.read.parquet(flat)),
            "buck": _audit(spark.read.parquet(buck)),
            "mor": _audit(mor.read_mor(spark, m)),
        }
        assert _state(spark.read.parquet(flat)) == _state(src)
        assert _state(spark.read.parquet(buck)) == _state(src)
        assert _state(mor.read_mor(spark, m)) == _state(src)
        updated, inserted = {"0", "75", "150", "225"}, {"300", "301"}
        for layout, rows in after.items():
            old = before[layout]
            for k in updated:  # identity kept, updated_at moves forward
                assert rows[k]["id"] == old[k]["id"], (layout, k)
                assert rows[k]["created_at"] == old[k]["created_at"], (layout, k)
                assert rows[k]["updated_at"] > old[k]["updated_at"], (layout, k)
            new_ids = [rows[k]["id"] for k in inserted]
            assert len(set(new_ids)) == 2, layout
            assert min(new_ids) > max(r["id"] for r in old.values()), layout
        hashes = {
            layout: {k: r["row_hash"] for k, r in rows.items()}
            for layout, rows in after.items()
        }
        assert hashes["flat"] == hashes["buck"] == hashes["mor"]

        # Schema widening: the source gains a column. Every key's hash
        # covers it, so every row reclassifies as UPDATE on all three
        # layouts, and the widened column lands everywhere.
        wide_dir = str(work / "wide")
        spark.read.parquet(srcdir).withColumn(
            "W", F.concat(F.col("K"), F.lit("w"))
        ).write.mode("overwrite").parquet(wide_dir)
        wide = spark.read.parquet(wide_dir)
        rw = (
            merge_upsert_parquet(spark, wide, flat, ["K"]),
            merge_upsert_partitioned(spark, wide, buck, ["K"], num_buckets=8),
            mor.merge_upsert_mor(spark, wide, m, ["K"], num_buckets=8,
                                 compact_every=None),
        )
        for r in rw:
            assert (r["insert"], r["update"], r["skip"]) == (0, 302, 0), r
        want = {r["K"]: (r["V"], r["W"]) for r in wide.collect()}
        widened = {
            "flat": spark.read.parquet(flat),
            "buck": spark.read.parquet(buck),
            "mor": mor.read_mor(spark, m),
        }
        for layout, df in widened.items():
            got = {r["K"]: (r["V"], r["W"]) for r in df.collect()}
            assert got == want, layout
        wide_hashes = [
            {r["K"]: r["row_hash"] for r in df.collect()}
            for df in widened.values()
        ]
        assert wide_hashes[0] == wide_hashes[1] == wide_hashes[2]


_MERGES = {
    "flat": lambda spark, src, t: merge_upsert_parquet(spark, src, t, ["K"]),
    "bucketed": lambda spark, src, t: merge_upsert_partitioned(
        spark, src, t, ["K"], num_buckets=8
    ),
    "mor": lambda spark, src, t: mor.merge_upsert_mor(
        spark, src, t, ["K"], num_buckets=8, compact_every=None
    ),
}


def _read_state(spark, layout, t):
    return mor.read_mor(spark, t) if layout == "mor" else spark.read.parquet(t)


def _sparse_docs(spark, n=2000):
    """``_docs(n)`` with 5 updated keys (1..5) and 3 inserted keys."""
    df = _docs(spark, n + 3)
    return df.withColumn(
        "V",
        F.when(
            F.col("K").isin("1", "2", "3", "4", "5"), F.concat("V", F.lit("x"))
        ).otherwise(F.col("V")),
    )


def _jobs_of(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    result = fn()
    return result, len(set(tracker.getJobIdsForGroup() or []) - before)


class TestMergeJobBudget:
    """Spark job counts of the three merge layouts against a state that
    carries a digest sidecar: a no-change replay and a sparse merge
    (5 updates + 3 inserts over 2000 keys, 8 buckets). The budgets are
    the counts the layouts ran before they shared one classify core;
    a merge may run fewer jobs, never more."""

    BUDGET = {
        ("flat", "nochange"): 4,
        ("flat", "sparse"): 18,
        ("bucketed", "nochange"): 4,
        ("bucketed", "sparse"): 19,
        ("mor", "nochange"): 4,
        ("mor", "sparse"): 21,
    }
    DELETE_KEYS_BUDGET = 16

    @pytest.mark.parametrize("shape", ["nochange", "sparse"])
    @pytest.mark.parametrize("layout", ["flat", "bucketed", "mor"])
    def test_merge_job_budget(self, spark, tmp_path, layout, shape):
        merge = _MERGES[layout]
        t = str(tmp_path / layout)
        base = _docs(spark, 2000)
        merge(spark, base, t)
        merge(spark, base, t)  # scan-path replay seeds the sidecar
        assert os.path.exists(os.path.join(t, "_cdc_digest.parquet"))
        src = base if shape == "nochange" else _sparse_docs(spark)
        r, n_jobs = _jobs_of(spark, lambda: merge(spark, src, t))
        want = (0, 0, 2000) if shape == "nochange" else (3, 5, 1995)
        assert (r["insert"], r["update"], r["skip"]) == want
        budget = self.BUDGET[(layout, shape)]
        assert n_jobs <= budget, f"{layout} {shape} merge ran {n_jobs} jobs"
        print(f"# jobs {layout} {shape}: {n_jobs}")

    @pytest.mark.parametrize("layout", ["bucketed", "mor"])
    def test_local_source_sparse_merge_runs_no_jobs(self, spark, tmp_path, layout):
        """The same sparse merge from a driver-local source (pandas
        through Arrow optimizes to a ``LocalRelation``) takes the
        driver plane of the bucketed merges: zero Spark jobs."""
        merge = _MERGES[layout]
        t = str(tmp_path / layout)
        base = _docs(spark, 2000)
        merge(spark, base, t)
        merge(spark, base, t)
        src = spark.createDataFrame(_sparse_docs(spark).toPandas())
        r, n_jobs = _jobs_of(spark, lambda: merge(spark, src, t))
        assert r["driver"] is True
        assert (r["insert"], r["update"], r["skip"]) == (3, 5, 1995)
        assert n_jobs == 0, f"{layout} local-source merge ran {n_jobs} jobs"
        assert _state(_read_state(spark, layout, t)) == _state(_sparse_docs(spark))

    def test_delete_keys_mor_job_budget(self, spark, tmp_path):
        """A 3-key explicit delete: one bounded key fetch, one tombstone
        delta."""
        t = str(tmp_path / "mor")
        base = _docs(spark, 2000)
        _MERGES["mor"](spark, base, t)
        _MERGES["mor"](spark, base, t)
        keys = spark.createDataFrame([("7",), ("8",), ("9",)], ["K"])
        r, n_jobs = _jobs_of(
            spark,
            lambda: mor.delete_keys_mor(
                spark, t, keys, ["K"], compact_every=None
            ),
        )
        assert r["delete"] == 3
        assert len(_state(mor.read_mor(spark, t))) == 1997
        assert n_jobs <= self.DELETE_KEYS_BUDGET, n_jobs
        print(f"# jobs delete_keys_mor: {n_jobs}")
