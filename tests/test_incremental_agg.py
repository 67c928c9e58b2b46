"""Incremental aggregate maintenance (plans/incremental_agg) — every
refresh is differential-tested against a full recompute from the MOR
state, across randomized merge sequences, NULL group keys, NULL measure
values, group emptying, compaction, and the schema-drift fold."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from presencia_etl_spark.plans import incremental_agg as ia
from presencia_etl_spark.sinks import mor

SCHEMA = StructType(
    [
        StructField("K", StringType()),
        StructField("cat", StringType()),
        StructField("amount", DoubleType()),
        StructField("qty", LongType()),
    ]
)

CATS = ["a", "b", "c", None]


def _rows(rng, keys):
    return [
        (
            str(k),
            rng.choice(CATS),
            None if rng.random() < 0.15 else round(rng.uniform(-50, 50), 2),
            rng.randrange(0, 10),
        )
        for k in keys
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _expected(spark, mor_path, agg_path):
    meta = ia.agg_snapshot_info(agg_path)
    return ia._full_aggregate(
        mor.read_mor(spark, mor_path),
        meta["group_cols"],
        meta["sum_cols"],
        meta.get("minmax_cols"),
    )


def _canon(df):
    out = []
    for r in df.collect():
        vals = []
        for c in sorted(df.columns):
            v = r[c]
            # + 0.0 folds -0.0 into 0.0: grouping-normalized refresh
            # output vs raw recompute would otherwise str-sort apart
            vals.append(round(v, 6) + 0.0 if isinstance(v, float) else v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _assert_matches_recompute(spark, mor_path, agg_path):
    # hll_ sketch bytes are asserted via estimates in TestHllMaintenance
    # (serialized form may differ between maintained and recomputed
    # sketches even when the register state is identical)
    got = ia.read_agg_snapshot(spark, agg_path)
    got = got.drop(*[c for c in got.columns if c.startswith("hll_")])
    want = _expected(spark, mor_path, agg_path)
    assert sorted(got.columns) == sorted(want.columns)
    assert _canon(got.select(*want.columns)) == _canon(want)


class TestIncrementalAgg:
    def test_build_then_incremental_refresh(self, spark, tmp_path):
        rng = random.Random(7)
        mor_t = str(tmp_path / "mor")
        agg_t = str(tmp_path / "agg")
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(500))), mor_t, ["K"],
            num_buckets=16, compact_every=None,
        )
        r = ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], ["amount", "qty"]
        )
        assert r["mode"] == "build"
        _assert_matches_recompute(spark, mor_t, agg_t)

        # Sparse merge: a few updates + a few inserts.
        upd = _rows(rng, rng.sample(range(500), 20))
        ins = _rows(rng, range(500, 530))
        mor.merge_upsert_mor(
            spark, _df(spark, upd + ins), mor_t, ["K"],
            num_buckets=16, compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["changed_rows"] <= 50
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_corpus_sized_refresh_runs_in_parent_session(
        self, spark, tmp_path, monkeypatch, sql_plans
    ):
        """A refresh whose pending delta files exceed the trickle byte
        bound must run in the CALLER's session with its defaults (AQE
        off + 8 static shuffle partitions would plan a millions-of-rows
        fold badly) and still match a full recompute; one below the
        bound runs in the trickle session, and no plan it executes is
        adaptive. The trickle decision comes from fs metadata, so it is
        forced here by shrinking the bound rather than writing GBs."""
        from presencia_etl_spark import session as sess

        rng = random.Random(23)
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(300))), mor_t, ["K"],
            num_buckets=8, compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount", "qty"])
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(250, 350))), mor_t, ["K"],
            num_buckets=8, compact_every=None,
        )
        sessions = []
        real_inner = ia._refresh_agg_snapshot_inner

        def spying_inner(s, *a, **kw):
            sessions.append(s)
            return real_inner(s, *a, **kw)

        monkeypatch.setattr(ia, "_refresh_agg_snapshot_inner", spying_inner)
        # Above the bound: corpus path, the caller's session.
        monkeypatch.setattr(ia, "TRICKLE_DELTA_MAX_BYTES", -1)
        r, trees = sql_plans(lambda: ia.refresh_agg_snapshot(spark, mor_t, agg_t))
        assert r["mode"] == "incremental" and r["changed_rows"] > 0
        assert sessions == [spark]
        assert any("AdaptiveSparkPlan" in t for t in trees)
        _assert_matches_recompute(spark, mor_t, agg_t)
        # Below the bound: trickle path, the trickle session. The
        # zero-job driver fold would normally absorb a batch this small
        # — kill it so THIS pin keeps covering the Spark trickle layer.
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        monkeypatch.setattr(ia, "TRICKLE_DELTA_MAX_BYTES", 16 << 20)
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(340, 360))), mor_t, ["K"],
            num_buckets=8, compact_every=None,
        )
        r, trees = sql_plans(lambda: ia.refresh_agg_snapshot(spark, mor_t, agg_t))
        assert r["mode"] == "incremental"
        assert sessions == [spark, sess.trickle_session(spark)]
        assert trees and not any("AdaptiveSparkPlan" in t for t in trees)
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_noop_refresh(self, spark, tmp_path):
        rng = random.Random(11)
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        src = _df(spark, _rows(rng, range(100)))
        mor.merge_upsert_mor(spark, src, mor_t, ["K"], num_buckets=8,
                             compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])
        assert ia.refresh_agg_snapshot(spark, mor_t, agg_t)["mode"] == "noop"
        # All-skip replay merge: still a noop cursor-wise (no delta lands).
        mor.merge_upsert_mor(spark, src, mor_t, ["K"], num_buckets=8,
                             compact_every=None)
        assert ia.refresh_agg_snapshot(spark, mor_t, agg_t)["mode"] == "noop"

    def test_group_emptied_by_update_disappears(self, spark, tmp_path):
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        rows = [("1", "solo", 5.0, 1), ("2", "big", 1.0, 1), ("3", "big", 2.0, 2)]
        mor.merge_upsert_mor(spark, _df(spark, rows), mor_t, ["K"],
                             num_buckets=4, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount", "qty"])
        # The only 'solo' row moves to 'big': 'solo' must vanish.
        mor.merge_upsert_mor(
            spark, _df(spark, [("1", "big", 5.0, 1)]), mor_t, ["K"],
            num_buckets=4, compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental" and r["changed_rows"] == 1
        got = ia.read_agg_snapshot(spark, agg_t)
        assert got.filter(F.col("cat") == "solo").count() == 0
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_sum_flips_back_to_null_when_only_nulls_remain(
        self, spark, tmp_path
    ):
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        rows = [("1", "g", 5.0, 1), ("2", "g", None, 1)]
        mor.merge_upsert_mor(spark, _df(spark, rows), mor_t, ["K"],
                             num_buckets=4, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])
        # Retract the only non-NULL amount (value moves to NULL).
        mor.merge_upsert_mor(
            spark, _df(spark, [("1", "g", None, 1)]), mor_t, ["K"],
            num_buckets=4, compact_every=None,
        )
        ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        row = ia.read_agg_snapshot(spark, agg_t).collect()[0]
        assert row["sum_amount"] is None and row["n_rows"] == 2
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_compaction_past_cursor_forces_rebuild(self, spark, tmp_path):
        rng = random.Random(13)
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        mor.merge_upsert_mor(spark, _df(spark, _rows(rng, range(200))),
                             mor_t, ["K"], num_buckets=8, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])
        mor.merge_upsert_mor(spark, _df(spark, _rows(rng, range(200, 220))),
                             mor_t, ["K"], num_buckets=8, compact_every=None)
        mor.compact_mor(spark, mor_t)  # floor now past the cursor
        mor.merge_upsert_mor(spark, _df(spark, _rows(rng, range(220, 230))),
                             mor_t, ["K"], num_buckets=8, compact_every=None)
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "rebuild"
        _assert_matches_recompute(spark, mor_t, agg_t)
        # And the rebuilt cursor supports incremental refreshes again.
        mor.merge_upsert_mor(spark, _df(spark, _rows(rng, range(230, 235))),
                             mor_t, ["K"], num_buckets=8, compact_every=None)
        assert ia.refresh_agg_snapshot(spark, mor_t, agg_t)["mode"] == "incremental"
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_drift_fold_bumps_floor_and_forces_rebuild(self, spark, tmp_path):
        """The MOR schema-drift path folds changes into the base outside
        the delta log; it must advance seq + floor so change-feed
        consumers rebuild instead of silently missing those rows."""
        rng = random.Random(17)
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        mor.merge_upsert_mor(spark, _df(spark, _rows(rng, range(100))),
                             mor_t, ["K"], num_buckets=8, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])
        drifted = _df(spark, _rows(rng, range(90, 120))).withColumn(
            "extra", F.lit("x")
        )
        mor.merge_upsert_mor(spark, drifted, mor_t, ["K"], num_buckets=8,
                             compact_every=None)
        h = mor.mor_history(mor_t)
        assert h["compacted_through"] == h["seq"] > 0
        with pytest.raises(ValueError, match="compact"):
            mor.read_mor_changes(spark, mor_t, since_seq=0)
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "rebuild"
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_randomized_merge_sequence_stays_exact(self, spark, tmp_path):
        """Seeded property test: 6 random merges (inserts/updates/no-ops,
        NULL keys and NULL measures), refresh after each, snapshot must
        equal a full recompute every time."""
        rng = random.Random(42)
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        live = list(range(300))
        mor.merge_upsert_mor(spark, _df(spark, _rows(rng, live)), mor_t,
                             ["K"], num_buckets=16, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount", "qty"])
        nxt = 300
        for _ in range(6):
            batch = []
            if rng.random() < 0.8:  # updates
                batch += _rows(rng, rng.sample(live, rng.randrange(1, 30)))
            if rng.random() < 0.6:  # inserts
                new = list(range(nxt, nxt + rng.randrange(1, 20)))
                nxt = new[-1] + 1
                live += new
                batch += _rows(rng, new)
            if not batch:
                batch = _rows(rng, rng.sample(live, 3))
            mor.merge_upsert_mor(spark, _df(spark, batch), mor_t, ["K"],
                                 num_buckets=16, compact_every=None)
            r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
            assert r["mode"] in ("incremental", "noop")
            _assert_matches_recompute(spark, mor_t, agg_t)

    def test_refresh_crash_recovery_rolls_forward_or_back(self, spark, tmp_path):
        """A journal + staged dir (crash between the parquet job and the
        swap completing) must recover to a consistent snapshot whose
        embedded cursor matches its contents."""
        rng = random.Random(23)
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        mor.merge_upsert_mor(spark, _df(spark, _rows(rng, range(50))), mor_t,
                             ["K"], num_buckets=4, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])

        live = ia._snap_path(agg_t)
        staged, retired = live + "__staged", live + "__retired"
        journal = os.path.join(agg_t, ia.REFRESH_JOURNAL)

        # Simulate: staged fully written, live parked, crash before final
        # rename → recovery must roll FORWARD to staged.
        import shutil

        shutil.copytree(live, staged)
        with open(journal, "w") as fh:
            fh.write("{}")
        os.rename(live, retired)
        assert ia._recover_interrupted_refresh(agg_t)
        assert os.path.isdir(live) and not os.path.exists(journal)
        _assert_matches_recompute(spark, mor_t, agg_t)

        # Simulate: crash right after the journal, staged torn (absent),
        # live still in place → journal cleaned, snapshot untouched.
        with open(journal, "w") as fh:
            fh.write("{}")
        assert ia._recover_interrupted_refresh(agg_t)
        _assert_matches_recompute(spark, mor_t, agg_t)


class TestIncrementalAggDeletes:
    """Row-level deletes flow through the change feed as tombstones: the
    refresh must apply them as pure retractions (no +1 side)."""

    def test_refresh_after_deletes_matches_recompute(self, spark, tmp_path):
        rng = random.Random(23)
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        src = _df(spark, _rows(rng, range(120)))
        mor.merge_upsert_mor(spark, src, mor_t, ["K"], num_buckets=8,
                             compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount", "qty"])

        # Interleave an update batch, a predicate delete and a key delete
        # before one refresh — the feed then mixes upserts and tombstones.
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(30, 60))), mor_t, ["K"],
            num_buckets=8, compact_every=None,
        )
        mor.delete_where_mor(spark, mor_t, F.col("qty") >= 7,
                             compact_every=None)
        mor.delete_keys_mor(
            spark, mor_t,
            spark.createDataFrame([("5",), ("77",)], ["K"]), ["K"],
            compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental" and r["changed_rows"] > 0
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_insert_then_delete_within_refresh_window_nets_zero(
        self, spark, tmp_path
    ):
        """A key born AND erased between two refreshes must contribute
        nothing: its feed entry is a tombstone, and it has no old version
        in the cursor snapshot to retract."""
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        rows = [("1", "g", 5.0, 1)]
        mor.merge_upsert_mor(spark, _df(spark, rows), mor_t, ["K"],
                             num_buckets=4, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])
        before = _canon(ia.read_agg_snapshot(spark, agg_t))

        mor.merge_upsert_mor(
            spark, _df(spark, [("ephemeral", "g", 100.0, 9)]), mor_t, ["K"],
            num_buckets=4, compact_every=None,
        )
        mor.delete_keys_mor(
            spark, mor_t, spark.createDataFrame([("ephemeral",)], ["K"]),
            ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert _canon(ia.read_agg_snapshot(spark, agg_t)) == before
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_group_fully_deleted_disappears(self, spark, tmp_path):
        mor_t, agg_t = str(tmp_path / "mor"), str(tmp_path / "agg")
        rows = [("1", "solo", 5.0, 1), ("2", "big", 1.0, 1)]
        mor.merge_upsert_mor(spark, _df(spark, rows), mor_t, ["K"],
                             num_buckets=4, compact_every=None)
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])
        mor.delete_where_mor(spark, mor_t, F.col("cat") == "solo",
                             compact_every=None)
        ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        got = ia.read_agg_snapshot(spark, agg_t)
        assert got.filter(F.col("cat") == "solo").count() == 0
        _assert_matches_recompute(spark, mor_t, agg_t)


class TestMinMaxMaintenance:
    """MIN/MAX columns (the reference's A5 min/max dates) maintained
    incrementally: inserts fold monotonically; retractions that tie or
    beat a stored extreme trigger an exact per-group recompute (one
    narrow broadcast-semi scan); everything differential vs recompute."""

    def _seeded(self, spark, tmp_path, rng, n=400):
        mor_t = str(tmp_path / "mor")
        agg_t = str(tmp_path / "agg")
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(n))), mor_t, ["K"],
            num_buckets=8, compact_every=None,
        )
        r = ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], ["qty"], minmax_cols=["amount"]
        )
        assert r["mode"] == "build"
        _assert_matches_recompute(spark, mor_t, agg_t)
        return mor_t, agg_t

    def test_inserts_fold_without_recompute(self, spark, tmp_path):
        rng = random.Random(101)
        mor_t, agg_t = self._seeded(spark, tmp_path, rng)
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(400, 430))), mor_t, ["K"],
            compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["minmax_recomputed_groups"] == 0
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_displacing_delete_recomputes_exactly(self, spark, tmp_path):
        rng = random.Random(102)
        mor_t, agg_t = self._seeded(spark, tmp_path, rng)
        # delete the global-maximum row of one group: its stored max is
        # displaced -> that group recomputes; other groups fold
        snap = ia.read_agg_snapshot(spark, agg_t).collect()
        target_cat = next(r["cat"] for r in snap if r["max_amount"] is not None)
        victim = (
            mor.read_mor(spark, mor_t)
            .filter(
                F.col("cat").eqNullSafe(F.lit(target_cat))
                & F.col("amount").isNotNull()
            )
            .orderBy(F.col("amount").desc())
            .limit(1)
            .collect()[0]["K"]
        )
        mor.delete_keys_mor(
            spark, mor_t, spark.createDataFrame([(victim,)], "K string"),
            ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["minmax_recomputed_groups"] >= 1
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_interior_update_folds_without_recompute(self, spark, tmp_path):
        """An update strictly inside the (min, max) interval retracts a
        non-extreme value — no recompute fires."""
        rng = random.Random(103)
        mor_t = str(tmp_path / "mor")
        agg_t = str(tmp_path / "agg")
        rows = [(str(i), "g", float(i), 1) for i in range(100)]
        mor.merge_upsert_mor(
            spark, _df(spark, rows), mor_t, ["K"], num_buckets=4,
            compact_every=None,
        )
        ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], [], minmax_cols=["amount"]
        )
        mor.merge_upsert_mor(
            spark, _df(spark, [("50", "g", 51.5, 2)]), mor_t, ["K"],
            compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["minmax_recomputed_groups"] == 0
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_group_emptying_and_nulls(self, spark, tmp_path):
        rng = random.Random(104)
        mor_t = str(tmp_path / "mor")
        agg_t = str(tmp_path / "agg")
        rows = [("a", "only", 5.0, 1), ("b", "only", None, 1),
                ("c", "other", 1.0, 1)]
        mor.merge_upsert_mor(
            spark, _df(spark, rows), mor_t, ["K"], num_buckets=4,
            compact_every=None,
        )
        ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], [], minmax_cols=["amount"]
        )
        # delete the only non-NULL value of 'only': min/max flip to NULL
        mor.delete_keys_mor(
            spark, mor_t, spark.createDataFrame([("a",)], "K string"),
            ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["minmax_recomputed_groups"] >= 1
        _assert_matches_recompute(spark, mor_t, agg_t)
        only = (
            ia.read_agg_snapshot(spark, agg_t)
            .filter(F.col("cat") == "only")
            .collect()[0]
        )
        assert only["min_amount"] is None and only["n_rows"] == 1
        # now empty the group entirely
        mor.delete_keys_mor(
            spark, mor_t, spark.createDataFrame([("b",)], "K string"),
            ["K"], compact_every=None,
        )
        ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_randomized_minmax_differential(self, spark, tmp_path):
        rng = random.Random(105)
        mor_t, agg_t = self._seeded(spark, tmp_path, rng, n=300)
        live = set(str(i) for i in range(300))
        nxt = 300
        for _ in range(4):
            upd = _rows(rng, rng.sample(sorted(live), 12))
            ins = _rows(rng, range(nxt, nxt + 6))
            live |= set(str(i) for i in range(nxt, nxt + 6))
            nxt += 6
            mor.merge_upsert_mor(
                spark, _df(spark, upd + ins), mor_t, ["K"],
                compact_every=None,
            )
            doomed = rng.sample(sorted(live), 4)
            live -= set(doomed)
            mor.delete_keys_mor(
                spark, mor_t,
                spark.createDataFrame([(k,) for k in doomed], "K string"),
                ["K"], compact_every=None,
            )
            r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
            assert r["mode"] == "incremental"
            _assert_matches_recompute(spark, mor_t, agg_t)


class TestHllMaintenance:
    """Mergeable-sketch COUNT DISTINCT (hll_cols): inserts fold by
    hll_union; retractions trigger the same narrow per-group recompute
    MIN/MAX displacement uses. The invariant tested everywhere: the
    MAINTAINED sketch's estimate equals the estimate of a sketch
    recomputed from scratch (identical register state), and both stay
    within HLL tolerance of the exact distinct count."""

    HSCHEMA = StructType(
        [
            StructField("K", StringType()),
            StructField("cat", StringType()),
            StructField("day", StringType()),
        ]
    )
    DAYS = [f"2024-01-{d:02d}" for d in range(1, 15)] + [None]

    def _hrows(self, rng, keys):
        return [
            (str(k), rng.choice(["a", "b", None]), rng.choice(self.DAYS))
            for k in keys
        ]

    def _hdf(self, spark, rows):
        return spark.createDataFrame(rows, self.HSCHEMA)

    def _assert_hll_matches(self, spark, mor_t, agg_t):
        got = (
            ia.read_agg_snapshot(spark, agg_t, estimate=True)
            .select("cat", "n_rows", "apx_distinct_day")
        )
        meta = ia.agg_snapshot_info(agg_t)
        want = ia._full_aggregate(
            mor.read_mor(spark, mor_t), meta["group_cols"], [],
            hll_cols=meta["hll_cols"],
        ).select(
            "cat",
            "n_rows",
            F.when(
                F.col("hll_day").isNotNull(),
                F.hll_sketch_estimate("hll_day"),
            ).alias("apx_distinct_day"),
        )
        assert _canon(got) == _canon(want)
        # ... and the estimate is within HLL tolerance of exact
        exact = {
            r["cat"]: r["d"]
            for r in mor.read_mor(spark, mor_t)
            .groupBy("cat")
            .agg(F.countDistinct("day").alias("d"))
            .collect()
        }
        for r in got.collect():
            e = exact.get(r["cat"], 0)
            a = r["apx_distinct_day"]
            if e == 0:
                assert a is None
            else:
                assert abs(a - e) <= max(1.0, 0.05 * e), (r["cat"], a, e)

    def test_build_and_insert_only_fold(self, spark, tmp_path):
        rng = random.Random(201)
        mor_t, agg_t = str(tmp_path / "hm"), str(tmp_path / "ha")
        mor.merge_upsert_mor(
            spark, self._hdf(spark, self._hrows(rng, range(80))), mor_t,
            ["K"], num_buckets=4, compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], hll_cols=["day"])
        self._assert_hll_matches(spark, mor_t, agg_t)
        # pure inserts: sketches union, no recompute
        mor.merge_upsert_mor(
            spark, self._hdf(spark, self._hrows(rng, range(100, 120))),
            mor_t, ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["minmax_recomputed_groups"] == 0
        self._assert_hll_matches(spark, mor_t, agg_t)

    def test_retraction_recomputes_group(self, spark, tmp_path):
        rng = random.Random(202)
        mor_t, agg_t = str(tmp_path / "rm"), str(tmp_path / "ra")
        mor.merge_upsert_mor(
            spark, self._hdf(spark, self._hrows(rng, range(60))), mor_t,
            ["K"], num_buckets=4, compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], hll_cols=["day"])
        # move one key to a different day (retraction + insert)
        old = mor.read_mor(spark, mor_t).filter(
            F.col("day").isNotNull()
        ).limit(1).collect()[0]
        newday = "2024-02-28"
        mor.merge_upsert_mor(
            spark, self._hdf(spark, [(old["K"], old["cat"], newday)]),
            mor_t, ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["minmax_recomputed_groups"] >= 1
        self._assert_hll_matches(spark, mor_t, agg_t)
        # row-level delete retracts too
        mor.delete_keys_mor(
            spark, mor_t, spark.createDataFrame([(old["K"],)], "K string"),
            ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        self._assert_hll_matches(spark, mor_t, agg_t)

    def test_randomized_hll_differential(self, spark, tmp_path):
        rng = random.Random(203)
        mor_t, agg_t = str(tmp_path / "zm"), str(tmp_path / "za")
        mor.merge_upsert_mor(
            spark, self._hdf(spark, self._hrows(rng, range(70))), mor_t,
            ["K"], num_buckets=4, compact_every=None,
        )
        # sums + minmax + hll together: one snapshot, all three kinds
        mor.merge_upsert_mor(
            spark, self._hdf(spark, self._hrows(rng, range(70))), mor_t,
            ["K"], compact_every=None,
        )
        ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], minmax_cols=["day"],
            hll_cols=["day"],
        )
        for step in range(4):
            ups = self._hrows(rng, rng.sample(range(90), 6))
            mor.merge_upsert_mor(
                spark, self._hdf(spark, ups), mor_t, ["K"],
                compact_every=None,
            )
            if rng.random() < 0.5:
                doomed = str(rng.randrange(70))
                mor.delete_keys_mor(
                    spark, mor_t,
                    spark.createDataFrame([(doomed,)], "K string"),
                    ["K"], compact_every=None,
                )
            r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
            assert r["mode"] == "incremental", f"step {step}"
            self._assert_hll_matches(spark, mor_t, agg_t)
            # min/max stays correct alongside
            got = ia.read_agg_snapshot(spark, agg_t)
            want = ia._full_aggregate(
                mor.read_mor(spark, mor_t), ["cat"], [], ["day"], ["day"]
            )
            assert _canon(
                got.select("cat", "min_day", "max_day")
            ) == _canon(want.select("cat", "min_day", "max_day"))

    def test_distinct_days_a6_shape(self, spark, tmp_path):
        """The reference's A6 (global distinct-days) maintained as a
        sketch: exact at these cardinalities, O(changes) to refresh."""
        rng = random.Random(204)
        mor_t, agg_t = str(tmp_path / "a6m"), str(tmp_path / "a6a")
        rows = [(str(k), "all", self.DAYS[k % 14]) for k in range(50)]
        mor.merge_upsert_mor(
            spark, self._hdf(spark, rows), mor_t, ["K"], num_buckets=4,
            compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], hll_cols=["day"])
        got = ia.read_agg_snapshot(spark, agg_t, estimate=True).collect()
        assert len(got) == 1
        assert round(got[0]["apx_distinct_day"]) == 14


class TestAggDriverPath:
    def test_trickle_fold_runs_zero_jobs(self, spark, tmp_path):
        """The agg rung's cron steady state: a KB-sized refresh folds
        entirely on the driver — zero Spark jobs — and matches the
        recompute."""
        rng = random.Random(211)
        mor_t, agg_t = str(tmp_path / "dm"), str(tmp_path / "da")
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(200))), mor_t, ["K"],
            num_buckets=8, compact_every=None,
        )
        ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], ["amount", "qty"],
            minmax_cols=["amount"],
        )
        # inserts + non-displacing updates (monotone minmax fold)
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(300, 305))), mor_t, ["K"],
            compact_every=None,
        )
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup() or [])
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        n_jobs = len(set(tracker.getJobIdsForGroup() or []) - before)
        assert r["mode"] == "incremental" and r.get("path") == "driver"
        assert n_jobs == 0, f"driver agg refresh ran {n_jobs} jobs"
        _assert_matches_recompute(spark, mor_t, agg_t)

    def test_twin_equivalence_and_declines(self, spark, tmp_path, monkeypatch):
        """The same change sequence through the driver fold and the
        Spark fold (kill switch) produces the same snapshot (round-6
        float tolerance — addition order may differ by design); deletes
        and group-emptying ride along. Displacing retractions DECLINE to
        the Spark recompute and stay correct."""
        rng = random.Random(212)
        m1, a1 = str(tmp_path / "m1"), str(tmp_path / "a1")
        m2, a2 = str(tmp_path / "m2"), str(tmp_path / "a2")
        for m, a in ((m1, a1), (m2, a2)):
            mor.merge_upsert_mor(
                spark, _df(spark, _rows(random.Random(212), range(150))),
                m, ["K"], num_buckets=8, compact_every=None,
            )
            ia.build_agg_snapshot(
                spark, m, a, ["cat"], ["amount"], minmax_cols=["qty"]
            )
        for step in range(4):
            ups = _rows(rng, rng.sample(range(180), 5))
            dels = [str(rng.randrange(150))] if rng.random() < 0.5 else []
            for m, a, drv in ((m1, a1, True), (m2, a2, False)):
                mor.merge_upsert_mor(
                    spark, _df(spark, ups), m, ["K"], compact_every=None
                )
                if dels:
                    mor.delete_keys_mor(
                        spark, m,
                        spark.createDataFrame([(d,) for d in dels], "K string"),
                        ["K"], compact_every=None,
                    )
                if not drv:
                    monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
                r = ia.refresh_agg_snapshot(spark, m, a)
                if not drv:
                    monkeypatch.delenv("SPARK_GRAFT_DRIVER_TRICKLE")
                    assert r.get("path") != "driver"
                assert r["mode"] == "incremental", f"step {step}"
                _assert_matches_recompute(spark, m, a)
            got1 = ia.read_agg_snapshot(spark, a1)
            got2 = ia.read_agg_snapshot(spark, a2).select(*got1.columns)
            assert _canon(got1) == _canon(got2), f"step {step}"

    def test_hll_snapshot_declines_to_spark(self, spark, tmp_path):
        rng = random.Random(213)
        mor_t, agg_t = str(tmp_path / "hm2"), str(tmp_path / "ha2")
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(60))), mor_t, ["K"],
            num_buckets=4, compact_every=None,
        )
        ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], ["amount"], hll_cols=["qty"]
        )
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(100, 103))), mor_t, ["K"],
            compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental" and r.get("path") != "driver"
        _assert_matches_recompute(spark, mor_t, agg_t)
        # ...and the decline was reason-tagged for the telemetry counter
        from presencia_etl_spark.sinks.driver_mor import DriverDecline

        meta = ia.agg_snapshot_info(agg_t)
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, [104])), mor_t, ["K"],
            compact_every=None,
        )
        with pytest.raises(DriverDecline) as ei:
            ia._refresh_agg_driver(
                mor_t, agg_t, meta, meta["as_of_seq"],
                mor.mor_history(mor_t)["seq"],
            )
        assert ei.value.reason == "hll"


class TestKllMaintenance:
    """Mergeable-sketch QUANTILES (kll_cols): inserts fold by pairwise
    kll_sketch_merge_double; retractions trigger the same narrow
    per-group recompute MIN/MAX and HLL displacement use. KLL compaction
    is randomized (unlike HLL's deterministic registers), so the
    invariant is ESTIMATE-level: below the sketch's k=200 items the
    sketch stores every value and quantiles are exact — the maintained
    estimate must equal the recomputed estimate exactly at these test
    cardinalities, and must sit at the right rank of the exact value
    multiset."""

    QSCHEMA = StructType(
        [
            StructField("K", StringType()),
            StructField("cat", StringType()),
            StructField("qty", DoubleType()),
        ]
    )

    def _qrows(self, rng, keys):
        return [
            (
                str(k),
                rng.choice(["a", "b", None]),
                rng.choice([None, round(rng.uniform(0, 100), 2)]),
            )
            for k in keys
        ]

    def _qdf(self, spark, rows):
        return spark.createDataFrame(rows, self.QSCHEMA)

    def _assert_kll_matches(self, spark, mor_t, agg_t):
        est_cols = ["apx_p50_qty", "apx_p90_qty", "apx_p99_qty"]
        got = (
            ia.read_agg_snapshot(spark, agg_t, estimate=True)
            .select("cat", "n_rows", *est_cols)
        )
        meta = ia.agg_snapshot_info(agg_t)
        want = ia._full_aggregate(
            mor.read_mor(spark, mor_t), meta["group_cols"], [],
            kll_cols=meta["kll_cols"],
        )
        has = F.col("kll_qty").isNotNull() & (
            F.kll_sketch_get_n_double(F.col("kll_qty")) > 0
        )
        want = want.select(
            "cat",
            "n_rows",
            *[
                F.when(
                    has,
                    F.kll_sketch_get_quantile_double(
                        F.col("kll_qty"), F.lit(q)
                    ),
                ).alias(f"apx_{t}_qty")
                for q, t in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
            ],
        )
        assert _canon(got) == _canon(want)
        # rank check against the exact value multiset (sub-k sketches
        # are exact, so the quantile must be a stored value at ~q rank)
        vals = {}
        for r in mor.read_mor(spark, mor_t).select("cat", "qty").collect():
            if r["qty"] is not None:
                vals.setdefault(r["cat"], []).append(r["qty"])
        for r in got.collect():
            xs = sorted(vals.get(r["cat"], []))
            for q, col in ((0.5, "apx_p50_qty"), (0.9, "apx_p90_qty")):
                a = r[col]
                if not xs:
                    assert a is None, (r["cat"], col, a)
                    continue
                assert a in xs, (r["cat"], col, a)
                lo = sum(1 for x in xs if x < a) / len(xs)
                hi = sum(1 for x in xs if x <= a) / len(xs)
                slack = 1.0 / len(xs) + 0.02
                assert lo - slack <= q <= hi + slack, (
                    r["cat"], col, a, lo, hi,
                )

    def test_build_and_insert_only_fold(self, spark, tmp_path):
        rng = random.Random(211)
        mor_t, agg_t = str(tmp_path / "km"), str(tmp_path / "ka")
        mor.merge_upsert_mor(
            spark, self._qdf(spark, self._qrows(rng, range(80))), mor_t,
            ["K"], num_buckets=4, compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], kll_cols=["qty"])
        self._assert_kll_matches(spark, mor_t, agg_t)
        # pure inserts: sketches merge pairwise, no recompute
        mor.merge_upsert_mor(
            spark, self._qdf(spark, self._qrows(rng, range(100, 120))),
            mor_t, ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["minmax_recomputed_groups"] == 0
        self._assert_kll_matches(spark, mor_t, agg_t)

    def test_retraction_recomputes_group(self, spark, tmp_path):
        rng = random.Random(212)
        mor_t, agg_t = str(tmp_path / "krm"), str(tmp_path / "kra")
        mor.merge_upsert_mor(
            spark, self._qdf(spark, self._qrows(rng, range(60))), mor_t,
            ["K"], num_buckets=4, compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], kll_cols=["qty"])
        old = mor.read_mor(spark, mor_t).filter(
            F.col("qty").isNotNull()
        ).limit(1).collect()[0]
        mor.merge_upsert_mor(
            spark, self._qdf(spark, [(old["K"], old["cat"], 999.5)]),
            mor_t, ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["minmax_recomputed_groups"] >= 1
        self._assert_kll_matches(spark, mor_t, agg_t)
        mor.delete_keys_mor(
            spark, mor_t, spark.createDataFrame([(old["K"],)], "K string"),
            ["K"], compact_every=None,
        )
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        self._assert_kll_matches(spark, mor_t, agg_t)

    def test_randomized_kll_differential(self, spark, tmp_path):
        rng = random.Random(213)
        mor_t, agg_t = str(tmp_path / "kzm"), str(tmp_path / "kza")
        mor.merge_upsert_mor(
            spark, self._qdf(spark, self._qrows(rng, range(70))), mor_t,
            ["K"], num_buckets=4, compact_every=None,
        )
        # all four column kinds in one snapshot
        ia.build_agg_snapshot(
            spark, mor_t, agg_t, ["cat"], sum_cols=["qty"],
            minmax_cols=["qty"], hll_cols=["K"], kll_cols=["qty"],
        )
        for step in range(4):
            ups = self._qrows(rng, rng.sample(range(90), 6))
            mor.merge_upsert_mor(
                spark, self._qdf(spark, ups), mor_t, ["K"],
                compact_every=None,
            )
            if rng.random() < 0.5:
                doomed = str(rng.randrange(70))
                mor.delete_keys_mor(
                    spark, mor_t,
                    spark.createDataFrame([(doomed,)], "K string"),
                    ["K"], compact_every=None,
                )
            r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
            assert r["mode"] == "incremental", f"step {step}"
            self._assert_kll_matches(spark, mor_t, agg_t)
            # sums and min/max stay correct alongside
            got = ia.read_agg_snapshot(spark, agg_t)
            want = ia._full_aggregate(
                mor.read_mor(spark, mor_t), ["cat"], ["qty"], ["qty"]
            )
            keep = ["cat", "n_rows", "sum_qty", "nn_qty", "min_qty", "max_qty"]
            assert _canon(got.select(*keep)) == _canon(want.select(*keep))

    def test_all_null_group_renders_null_estimates(self, spark, tmp_path):
        mor_t, agg_t = str(tmp_path / "knm"), str(tmp_path / "kna")
        rows = [("k1", "only_null", None), ("k2", "only_null", None),
                ("k3", "mixed", 5.0)]
        mor.merge_upsert_mor(
            spark, self._qdf(spark, rows), mor_t, ["K"], num_buckets=4,
            compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], kll_cols=["qty"])
        got = {
            r["cat"]: r["apx_p50_qty"]
            for r in ia.read_agg_snapshot(spark, agg_t, estimate=True).collect()
        }
        assert got["only_null"] is None  # empty sketch must not throw
        assert got["mixed"] == 5.0

    def test_kll_snapshot_declines_driver_fold(self, spark, tmp_path):
        from presencia_etl_spark.sinks.driver_mor import DriverDecline

        rng = random.Random(214)
        mor_t, agg_t = str(tmp_path / "kdm"), str(tmp_path / "kda")
        mor.merge_upsert_mor(
            spark, self._qdf(spark, self._qrows(rng, range(40))), mor_t,
            ["K"], num_buckets=4, compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], kll_cols=["qty"])
        mor.merge_upsert_mor(
            spark, self._qdf(spark, self._qrows(rng, [1])), mor_t, ["K"],
            compact_every=None,
        )
        meta = ia.agg_snapshot_info(agg_t)
        with pytest.raises(DriverDecline) as ei:
            ia._refresh_agg_driver(
                mor_t, agg_t, meta, meta["as_of_seq"],
                mor.mor_history(mor_t)["seq"],
            )
        assert ei.value.reason == "kll"
        # ...and the dispatching refresh still lands via the Spark path
        r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        self._assert_kll_matches(spark, mor_t, agg_t)


class TestPostPublishErrorGuard:
    def test_swallowed_error_after_driver_publish_does_not_double_fold(
        self, spark, tmp_path, monkeypatch
    ):
        """The agg fold is an ARITHMETIC rewrite, not an idempotent
        upsert: if the trickle gate swallows an error raised AFTER the
        driver fold published (journal cleanup OSError, say), the Spark
        fallback must NOT re-fold the same window — the cursor re-read
        in refresh_agg_snapshot catches the landed publish."""
        rng = random.Random(303)
        mor_t, agg_t = str(tmp_path / "ppm"), str(tmp_path / "ppa")
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(50))), mor_t, ["K"],
            num_buckets=4, compact_every=None,
        )
        ia.build_agg_snapshot(spark, mor_t, agg_t, ["cat"], ["amount"])
        mor.merge_upsert_mor(
            spark, _df(spark, _rows(rng, range(100, 105))), mor_t, ["K"],
            compact_every=None,
        )
        real = ia._refresh_agg_driver

        def publish_then_crash(*a, **k):
            real(*a, **k)  # the fold PUBLISHES (snapshot + cursor)...
            raise OSError("journal cleanup hiccup")  # ...then the error

        monkeypatch.setattr(ia, "_refresh_agg_driver", publish_then_crash)
        with pytest.warns(UserWarning, match="driver trickle path failed"):
            r = ia.refresh_agg_snapshot(spark, mor_t, agg_t)
        assert r["mode"] == "incremental"
        assert r["as_of_seq"] == mor.mor_history(mor_t)["seq"]
        # the delta was folded ONCE: snapshot equals the recompute
        _assert_matches_recompute(spark, mor_t, agg_t)
        # and the next refresh is a clean noop
        monkeypatch.setattr(ia, "_refresh_agg_driver", real)
        assert ia.refresh_agg_snapshot(spark, mor_t, agg_t)["mode"] == "noop"
