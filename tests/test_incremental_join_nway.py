"""Native N-way incremental join views (plans/incremental_join_nway):
one view, N cursors — differential-tested against a full N-way join
recompute across fact/dim changes, deletes, simultaneous multi-source
change batches, randomized sequences, the rebuild floor, and the
composition with the aggregate rung. Also proves the headline claim:
the native 3-table view refreshes in ONE pass with no intermediate pair
state, matching the chained view-over-view content exactly."""

from __future__ import annotations

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
from presencia_etl_spark.plans import incremental_join as ij
from presencia_etl_spark.plans import incremental_join_nway as nw
from presencia_etl_spark.sinks import mor

FACT_SCHEMA = StructType(
    [
        StructField("f_id", LongType()),
        StructField("f_did", StringType()),
        StructField("f_sid", StringType()),
        StructField("f_amt", DoubleType()),
    ]
)
D_SCHEMA = StructType(
    [StructField("d_id", StringType()), StructField("d_name", StringType())]
)
S_SCHEMA = StructType(
    [
        StructField("s_id", StringType()),
        StructField("s_name", StringType()),
        StructField("s_ref", StringType()),  # chain tests: points at d_id
    ]
)

D_IDS = [f"d{i}" for i in range(8)]
S_IDS = [f"s{i}" for i in range(6)]


def _facts(rng, keys):
    return [
        (int(k), rng.choice(D_IDS), rng.choice(S_IDS),
         round(rng.uniform(-20, 20), 2))
        for k in keys
    ]


def _dims(rng, ids):
    return [(d, f"dn{rng.randrange(100)}") for d in ids]


def _sups(rng, ids):
    return [(s, f"sn{rng.randrange(100)}", rng.choice(D_IDS)) for s in ids]


def _seed(spark, tmp_path, rng, n_facts=200):
    a = str(tmp_path / "fact")
    b = str(tmp_path / "dim")
    c = str(tmp_path / "sup")
    mor.merge_upsert_mor(
        spark, spark.createDataFrame(_facts(rng, range(n_facts)), FACT_SCHEMA),
        a, ["f_id"], num_buckets=8, compact_every=None,
    )
    mor.merge_upsert_mor(
        spark, spark.createDataFrame(_dims(rng, D_IDS), D_SCHEMA),
        b, ["d_id"], num_buckets=4, compact_every=None,
    )
    mor.merge_upsert_mor(
        spark, spark.createDataFrame(_sups(rng, S_IDS), S_SCHEMA),
        c, ["s_id"], num_buckets=4, compact_every=None,
    )
    return a, b, c


def _star_sources(a, b, c):
    return [
        {"path": a, "key_cols": ["f_id"],
         "cols": ["f_id", "f_did", "f_sid", "f_amt"]},
        {"path": b, "key_cols": ["d_id"], "cols": ["d_id", "d_name"],
         "on": [("f_did", "d_id")]},
        {"path": c, "key_cols": ["s_id"], "cols": ["s_id", "s_name"],
         "on": [("f_sid", "s_id")]},
    ]


def _build_star(spark, tmp_path, a, b, c, name="nview"):
    v = str(tmp_path / name)
    r = nw.build_join_view_nway(
        spark, _star_sources(a, b, c), v, num_buckets=8, compact_every=None
    )
    assert r["mode"] == "build"
    return v


def _canon(df):
    out = []
    for r in df.collect():
        vals = []
        for col in sorted(df.columns):
            x = r[col]
            # + 0.0 folds -0.0 into 0.0: grouping-normalized refresh
            # output vs raw recompute would otherwise str-sort apart
            vals.append(round(x, 6) + 0.0 if isinstance(x, float) else x)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _assert_matches_recompute(spark, view_path):
    meta = nw._read_meta(view_path)
    hists = [mor.mor_history(s["path"]) for s in meta["sources"]]
    assert meta["seqs"] == [h["seq"] for h in hists]
    want = nw._materialize_nway(spark, meta, meta["seqs"])
    got = ij.read_join_view(spark, view_path)
    assert sorted(got.columns) == sorted(want.columns)
    assert _canon(got.select(*want.columns)) == _canon(want)


class TestBuildAndRefresh:
    def test_build_matches_three_way_join(self, spark, tmp_path):
        rng = random.Random(301)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c)
        _assert_matches_recompute(spark, v)

    def test_noop_and_dispatch(self, spark, tmp_path):
        rng = random.Random(302)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c)
        # the 2-way entry point dispatches on the nway flag
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "noop"

    def test_fact_changes_fold_incrementally(self, spark, tmp_path):
        rng = random.Random(303)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c)
        mor.merge_upsert_mor(
            spark,
            spark.createDataFrame(
                _facts(rng, list(range(5)) + [900, 901]), FACT_SCHEMA
            ),
            a, ["f_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental"
        assert r["changes"][0] == 7 and 1 not in r["changes"]
        _assert_matches_recompute(spark, v)

    def test_each_dim_changes_fold(self, spark, tmp_path):
        rng = random.Random(304)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c)
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_dims(rng, ["d1"]), D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental" and 1 in r["changes"]
        _assert_matches_recompute(spark, v)
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_sups(rng, ["s2"]), S_SCHEMA),
            c, ["s_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental" and 2 in r["changes"]
        _assert_matches_recompute(spark, v)

    def test_simultaneous_multi_source_batch(self, spark, tmp_path):
        """All three sources move between refreshes — the cross terms
        (dFact against the NEW dims, dDim against the OLD fact) must
        telescope exactly."""
        rng = random.Random(305)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c)
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_facts(rng, range(8)), FACT_SCHEMA),
            a, ["f_id"], compact_every=None,
        )
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_dims(rng, ["d0", "d3"]), D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        mor.delete_keys_mor(
            spark, c, spark.createDataFrame([("s0",)], "s_id string"),
            ["s_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental"
        assert set(r["changes"]) == {0, 1, 2}
        _assert_matches_recompute(spark, v)

    def test_deletes_both_directions(self, spark, tmp_path):
        rng = random.Random(306)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c)
        mor.delete_keys_mor(
            spark, a, spark.createDataFrame([(3,), (4,)], "f_id long"),
            ["f_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental" and r["deletes"] >= 0
        _assert_matches_recompute(spark, v)
        got = ij.read_join_view(spark, v)
        assert got.filter(F.col("f_id").isin(3, 4)).count() == 0

    def test_randomized_differential(self, spark, tmp_path):
        rng = random.Random(307)
        a, b, c = _seed(spark, tmp_path, rng, n_facts=120)
        v = _build_star(spark, tmp_path, a, b, c)
        for step in range(5):
            mor.merge_upsert_mor(
                spark,
                spark.createDataFrame(
                    _facts(rng, rng.sample(range(160), 6)), FACT_SCHEMA
                ),
                a, ["f_id"], compact_every=None,
            )
            roll = rng.random()
            if roll < 0.35:
                mor.merge_upsert_mor(
                    spark,
                    spark.createDataFrame(
                        _dims(rng, [rng.choice(D_IDS)]), D_SCHEMA
                    ),
                    b, ["d_id"], compact_every=None,
                )
            elif roll < 0.7:
                mor.merge_upsert_mor(
                    spark,
                    spark.createDataFrame(
                        _sups(rng, [rng.choice(S_IDS)]), S_SCHEMA
                    ),
                    c, ["s_id"], compact_every=None,
                )
            r = ij.refresh_join_view(spark, v)
            assert r["mode"] == "incremental", f"step {step}: {r}"
            _assert_matches_recompute(spark, v)

    def test_floor_rebuild_keeps_feed_continuous(self, spark, tmp_path):
        rng = random.Random(308)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c)
        vseq0 = mor.mor_history(v)["seq"]
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_facts(rng, range(4)), FACT_SCHEMA),
            a, ["f_id"], compact_every=None,
        )
        mor.compact_mor(spark, a)  # folds history past the cursor
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "rebuild"
        _assert_matches_recompute(spark, v)
        # the view state was merged INTO, not recreated: seq advanced
        assert mor.mor_history(v)["seq"] > vseq0


class TestChainTopology:
    def test_chain_joins_through_middle_table(self, spark, tmp_path):
        """T0 -> T2 via T2.on referencing T1's column (fact → sup →
        dim): a CHAIN, not a star — the middle table's projection
        carries the link column."""
        rng = random.Random(309)
        a, b, c = _seed(spark, tmp_path, rng)
        v = str(tmp_path / "chain")
        r = nw.build_join_view_nway(
            spark,
            [
                {"path": a, "key_cols": ["f_id"],
                 "cols": ["f_id", "f_sid", "f_amt"]},
                {"path": c, "key_cols": ["s_id"],
                 "cols": ["s_id", "s_name", "s_ref"],
                 "on": [("f_sid", "s_id")]},
                {"path": b, "key_cols": ["d_id"],
                 "cols": ["d_id", "d_name"],
                 "on": [("s_ref", "d_id")]},
            ],
            v, num_buckets=8, compact_every=None,
        )
        assert r["mode"] == "build"
        _assert_matches_recompute(spark, v)
        # middle-table change: its term probes BOTH directions
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_sups(rng, ["s1"]), S_SCHEMA),
            c, ["s_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental"
        _assert_matches_recompute(spark, v)
        # end-table (dim) change folds too
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_dims(rng, ["d2"]), D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        assert ij.refresh_join_view(spark, v)["mode"] == "incremental"
        _assert_matches_recompute(spark, v)


class TestSpecValidation:
    def test_spec_errors(self, spark, tmp_path):
        rng = random.Random(310)
        a, b, c = _seed(spark, tmp_path, rng, n_facts=20)
        base = _star_sources(a, b, c)
        with pytest.raises(ValueError, match="at least two"):
            nw.build_join_view_nway(spark, base[:1], str(tmp_path / "x1"))
        bad = [dict(s) for s in base]
        bad[1] = {**bad[1], "cols": ["d_id", "f_amt"]}  # collision
        with pytest.raises(ValueError, match="collides"):
            nw.build_join_view_nway(spark, bad, str(tmp_path / "x2"))
        bad = [dict(s) for s in base]
        bad[1] = {**bad[1], "on": [("s_name", "d_id")]}  # later source ref
        with pytest.raises(ValueError, match="EARLIER"):
            nw.build_join_view_nway(spark, bad, str(tmp_path / "x3"))
        bad = [dict(s) for s in base]
        bad[1] = {**bad[1], "on": [("nope", "d_id")]}
        with pytest.raises(ValueError, match="not a projection"):
            nw.build_join_view_nway(spark, bad, str(tmp_path / "x4"))


class TestNativeVsChained:
    def test_native_equals_chained_and_feeds_agg(self, spark, tmp_path):
        """The native 3-way view's content equals the chained
        view-over-view construction, with NO intermediate pair state,
        and its change feed drives the aggregate rung end-to-end."""
        rng = random.Random(311)
        a, b, c = _seed(spark, tmp_path, rng, n_facts=100)
        v_n = _build_star(spark, tmp_path, a, b, c, "native")
        # chained: (fact ⋈ dim) materialized, then ⋈ sup
        v_p = str(tmp_path / "pair")
        ij.build_join_view(
            spark, a, b, v_p,
            on=[("f_did", "d_id")],
            a_key_cols=["f_id"], b_key_cols=["d_id"],
            a_cols=["f_id", "f_did", "f_sid", "f_amt"],
            b_cols=["d_id", "d_name"],
            num_buckets=8, compact_every=None,
        )
        v_c = str(tmp_path / "chained")
        ij.build_join_view(
            spark, v_p, c, v_c,
            on=[("f_sid", "s_id")],
            a_key_cols=["f_id", "d_id"], b_key_cols=["s_id"],
            a_cols=["f_id", "f_did", "f_sid", "f_amt", "d_id", "d_name"],
            b_cols=["s_id", "s_name"],
            num_buckets=8, compact_every=None,
        )
        agg = str(tmp_path / "nagg")
        ia.build_agg_snapshot(spark, v_n, agg, ["d_name"], ["f_amt"])
        for step in range(3):
            mor.merge_upsert_mor(
                spark,
                spark.createDataFrame(
                    _facts(rng, rng.sample(range(140), 5)), FACT_SCHEMA
                ),
                a, ["f_id"], compact_every=None,
            )
            assert ij.refresh_join_view(spark, v_n)["mode"] == "incremental"
            assert ij.refresh_join_view(spark, v_p)["mode"] == "incremental"
            assert ij.refresh_join_view(spark, v_c)["mode"] == "incremental"
            got_n = ij.read_join_view(spark, v_n)
            got_c = ij.read_join_view(spark, v_c).select(*got_n.columns)
            assert _canon(got_n) == _canon(got_c), f"step {step}"
            assert (
                ia.refresh_agg_snapshot(spark, v_n, agg)["mode"]
                == "incremental"
            )
        want = (
            nw._materialize_nway(
                spark, nw._read_meta(v_n), nw._read_meta(v_n)["seqs"]
            )
            .groupBy("d_name")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("f_amt").cast("double")).alias("sum_f_amt"),
                F.count(F.col("f_amt")).alias("nn_f_amt"),
            )
        )
        got = ia.read_agg_snapshot(spark, agg)
        assert _canon(got.select(*want.columns)) == _canon(want)


class TestNwayDriverPath:
    def test_fact_trickle_runs_zero_jobs(self, spark, tmp_path):
        """The N-way steady state: a fact-only trickle refresh of the
        native 3-table view folds entirely on the driver — zero Spark
        jobs — and matches the recompute."""
        rng = random.Random(401)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c, "dview")
        mor.merge_upsert_mor(
            spark,
            spark.createDataFrame(_facts(rng, [3, 900]), FACT_SCHEMA),
            a, ["f_id"], compact_every=None,
        )
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup() or [])
        r = ij.refresh_join_view(spark, v)
        n_jobs = len(set(tracker.getJobIdsForGroup() or []) - before)
        assert r["mode"] == "incremental" and r.get("path") == "driver"
        assert n_jobs == 0, f"nway driver refresh ran {n_jobs} jobs"
        _assert_matches_recompute(spark, v)

    def test_dim_change_declines_to_spark_path(self, spark, tmp_path):
        """A dimension-side change probes the fact by a non-key column —
        outside the point-read shape, so the driver path declines and
        the Spark term assembly answers (same result)."""
        rng = random.Random(402)
        a, b, c = _seed(spark, tmp_path, rng)
        v = _build_star(spark, tmp_path, a, b, c, "dview2")
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_dims(rng, ["d1"]), D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental" and r.get("path") != "driver"
        _assert_matches_recompute(spark, v)

    def test_driver_vs_spark_twin_equivalence(
        self, spark, tmp_path, monkeypatch
    ):
        from presencia_etl_spark.operators import cdc

        rng = random.Random(403)
        a, b, c = _seed(spark, tmp_path, rng, n_facts=80)
        v1 = _build_star(spark, tmp_path, a, b, c, "tw1")
        v2 = _build_star(spark, tmp_path, a, b, c, "tw2")
        for step in range(3):
            mor.merge_upsert_mor(
                spark,
                spark.createDataFrame(
                    _facts(rng, rng.sample(range(120), 4)), FACT_SCHEMA
                ),
                a, ["f_id"], compact_every=None,
            )
            r1 = ij.refresh_join_view(spark, v1)
            assert r1.get("path") == "driver"
            monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
            r2 = ij.refresh_join_view(spark, v2)
            monkeypatch.delenv("SPARK_GRAFT_DRIVER_TRICKLE")
            assert r2.get("path") != "driver"
            assert (r1["upserts"], r1["deletes"]) == (
                r2["upserts"], r2["deletes"],
            ), f"step {step}"
            got1 = _canon(ij.read_join_view(spark, v1))
            got2 = _canon(ij.read_join_view(spark, v2))
            assert got1 == got2, f"step {step}"
            d1 = cdc.state_digest(
                mor.read_mor(spark, v1).select(cdc.KEY_COL, "row_hash")
            )
            d2 = cdc.state_digest(
                mor.read_mor(spark, v2).select(cdc.KEY_COL, "row_hash")
            )
            assert d1 == d2


class TestNwayLeftStar:
    """``how="left"`` star views: SQL chained-LEFT-JOIN semantics kept
    fresh — dangling and NULL FKs NULL-extend, dim changes run the
    matched↔unmatched transition sweep, fact-only trickles stay on the
    zero-job driver path, and the chained 2-way-outer workaround
    produces identical content."""

    def _seed_left(self, spark, tmp_path, rng, n_facts=150):
        rows = [
            (
                k,
                rng.choice(D_IDS + [None]),  # d5..d7 dangle (dim holds d0-d4)
                rng.choice(S_IDS + [None, "zz"]),  # 'zz' dangles
                round(rng.uniform(-20, 20), 2),
            )
            for k in range(n_facts)
        ]
        a, b, c = (str(tmp_path / x) for x in ("fact", "dim", "sup"))
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(rows, FACT_SCHEMA), a, ["f_id"],
            num_buckets=8, compact_every=None,
        )
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_dims(rng, D_IDS[:5]), D_SCHEMA),
            b, ["d_id"], num_buckets=4, compact_every=None,
        )
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_sups(rng, S_IDS), S_SCHEMA),
            c, ["s_id"], num_buckets=4, compact_every=None,
        )
        return a, b, c

    def _build_left(self, spark, tmp_path, a, b, c, name="lview"):
        v = str(tmp_path / name)
        r = nw.build_join_view_nway(
            spark, _star_sources(a, b, c), v, num_buckets=8,
            compact_every=None, how="left",
        )
        assert r["mode"] == "build"
        return v

    def _recompute_left(self, spark, a, b, c):
        f = mor.read_mor(spark, a).select("f_id", "f_did", "f_sid", "f_amt")
        d = mor.read_mor(spark, b).select("d_id", "d_name")
        s = mor.read_mor(spark, c).select("s_id", "s_name")
        return (
            f.join(d, F.col("f_did") == F.col("d_id"), "left")
            .join(s, F.col("f_sid") == F.col("s_id"), "left")
            .select("f_id", "f_did", "f_sid", "f_amt",
                    "d_id", "d_name", "s_id", "s_name")
        )

    def _assert_left_matches(self, spark, v, a, b, c):
        want = self._recompute_left(spark, a, b, c)
        got = ij.read_join_view(spark, v)
        assert sorted(got.columns) == sorted(want.columns)
        assert _canon(got.select(*want.columns)) == _canon(want)

    def test_build_matches_sql_left_join(self, spark, tmp_path):
        rng = random.Random(501)
        a, b, c = self._seed_left(spark, tmp_path, rng)
        v = self._build_left(spark, tmp_path, a, b, c)
        self._assert_left_matches(spark, v, a, b, c)
        got = ij.read_join_view(spark, v)
        # the seed guarantees dangling rows exist — they NULL-extend
        assert got.filter(F.col("d_id").isNull()).count() > 0
        assert got.filter(F.col("s_id").isNull()).count() > 0
        # every fact row appears exactly once (FK→PK: M ≤ 1 per dim)
        assert got.count() == mor.read_mor(spark, a).count()

    def test_fact_trickle_zero_jobs_with_dangles(self, spark, tmp_path):
        """The steady state: a fact-only trickle — including a new
        dangling FK and a NULL FK — folds on the driver with zero Spark
        jobs and matches the SQL recompute."""
        rng = random.Random(502)
        a, b, c = self._seed_left(spark, tmp_path, rng)
        v = self._build_left(spark, tmp_path, a, b, c, "lview_drv")
        batch = [
            (3, "d0", "s1", 1.5),        # matched both
            (900, "d7", None, 2.5),      # dangling dim, NULL sup
            (901, None, "zz", -3.5),     # NULL dim, dangling sup
        ]
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(batch, FACT_SCHEMA), a, ["f_id"],
            compact_every=None,
        )
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup() or [])
        r = ij.refresh_join_view(spark, v)
        n_jobs = len(set(tracker.getJobIdsForGroup() or []) - before)
        assert r["mode"] == "incremental" and r.get("path") == "driver"
        assert n_jobs == 0, f"left-star driver refresh ran {n_jobs} jobs"
        self._assert_left_matches(spark, v, a, b, c)

    def test_dim_tick_hybrid_driver_sweep(self, spark, tmp_path):
        """A KB-sized dim tick rides the hybrid driver sweep: the ONE
        Spark read is the In()-pushed affected-fact probe (a bounded
        collect — a handful of jobs at most, vs ~50 on the full Spark
        sweep), the landing is a driver trickle_merge, and the content
        equals the SQL recompute."""
        rng = random.Random(507)
        a, b, c = self._seed_left(spark, tmp_path, rng)
        v = self._build_left(spark, tmp_path, a, b, c, "lview_hyb")
        mor.merge_upsert_mor(
            spark, spark.createDataFrame([("d0", "renamed")], D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup() or [])
        r = ij.refresh_join_view(spark, v)
        n_jobs = len(set(tracker.getJobIdsForGroup() or []) - before)
        assert r["mode"] == "incremental" and r.get("path") == "driver"
        assert r["changes"] == {1: 1}
        assert n_jobs <= 6, f"hybrid dim sweep ran {n_jobs} jobs"
        self._assert_left_matches(spark, v, a, b, c)

    def test_dim_tick_probe_runs_in_trickle_session(
        self, spark, tmp_path, monkeypatch, sql_plans
    ):
        """The hybrid dim sweep's affected-fact probe is read in the
        trickle session, and no plan the refresh executes is adaptive."""
        from presencia_etl_spark.session import trickle_session

        rng = random.Random(509)
        a, b, c = self._seed_left(spark, tmp_path, rng)
        v = self._build_left(spark, tmp_path, a, b, c, "lview_tss")
        mor.merge_upsert_mor(
            spark, spark.createDataFrame([("d1", "renamed")], D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        sessions = []
        real_read = nw.read_mor

        def spying_read(s, *args, **kw):
            sessions.append(s)
            return real_read(s, *args, **kw)

        monkeypatch.setattr(nw, "read_mor", spying_read)
        r, trees = sql_plans(lambda: ij.refresh_join_view(spark, v))
        monkeypatch.undo()
        assert r["mode"] == "incremental" and r.get("path") == "driver"
        assert sessions == [trickle_session(spark)]
        assert trees and not any("AdaptiveSparkPlan" in t for t in trees)
        self._assert_left_matches(spark, v, a, b, c)

    def test_dim_tick_duplicate_fact_keys_decline_early(
        self, spark, tmp_path
    ):
        """A fact state seeded with duplicate merge keys is the Spark
        merge's arbitrary-winner territory — the hybrid driver sweep
        must decline (reason=duplicate_keys) BEFORE the dims' point
        reads and leave the refresh to the Spark sweep."""
        from presencia_etl_spark.sinks import driver_mor as dm

        rng = random.Random(508)
        rows = [
            (k, rng.choice(D_IDS[:5]), rng.choice(S_IDS),
             round(rng.uniform(-20, 20), 2))
            for k in range(40)
        ]
        # two rows with the SAME f_id, both referencing d1 — only the
        # INITIAL COW load keeps duplicate keys (later merges dedupe at
        # the delta-latest read), so they go in with the seed
        rows += [(990, "d1", "s0", 1.0), (990, "d1", "s1", 2.0)]
        a, b, c = (str(tmp_path / x) for x in ("fact", "dim", "sup"))
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(rows, FACT_SCHEMA), a, ["f_id"],
            num_buckets=8, compact_every=None,
        )
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_dims(rng, D_IDS[:5]), D_SCHEMA),
            b, ["d_id"], num_buckets=4, compact_every=None,
        )
        mor.merge_upsert_mor(
            spark, spark.createDataFrame(_sups(rng, S_IDS), S_SCHEMA),
            c, ["s_id"], num_buckets=4, compact_every=None,
        )
        v = self._build_left(spark, tmp_path, a, b, c, "lview_dup")
        mor.merge_upsert_mor(
            spark, spark.createDataFrame([("d1", "renamed")], D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        dm.decline_counts(reset=True)
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental" and r.get("path") != "driver"
        assert dm.decline_counts().get("duplicate_keys", 0) >= 1

    @pytest.mark.parametrize("path", ["driver", "spark"])
    def test_dim_transition_sweep(self, spark, tmp_path, monkeypatch, path):
        """Matched↔unmatched transitions on every dim: a dim INSERT
        flips its dangling facts to matched, a dim DELETE flips its
        facts to NULL-extended, an in-place dim UPDATE rewrites the
        joined columns — each refresh equals the SQL recompute. Runs
        once on the default hybrid-driver sweep (one In()-pushed fact
        scan, dims point-read) and once with the kill switch forcing
        the full Spark sweep — identical content either way."""
        if path == "spark":
            monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        rng = random.Random(503)
        a, b, c = self._seed_left(spark, tmp_path, rng)
        v = self._build_left(spark, tmp_path, a, b, c, f"lview_dim_{path}")
        # unmatched → matched: d5 appears
        mor.merge_upsert_mor(
            spark, spark.createDataFrame([("d5", "late")], D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental"
        assert (r.get("path") == "driver") == (path == "driver")
        self._assert_left_matches(spark, v, a, b, c)
        got = ij.read_join_view(spark, v)
        assert got.filter(
            (F.col("f_did") == "d5") & (F.col("d_name") == "late")
        ).count() > 0
        # matched → unmatched: d0 vanishes
        mor.delete_keys_mor(
            spark, b, spark.createDataFrame([("d0",)], "d_id string"),
            ["d_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental"
        self._assert_left_matches(spark, v, a, b, c)
        got = ij.read_join_view(spark, v)
        assert got.filter(
            (F.col("f_did") == "d0") & F.col("d_id").isNotNull()
        ).count() == 0
        # matched → matched (value rewrite) on the OTHER dim
        mor.merge_upsert_mor(
            spark, spark.createDataFrame([("s1", "renamed", "d1")], S_SCHEMA),
            c, ["s_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental"
        self._assert_left_matches(spark, v, a, b, c)

    @pytest.mark.parametrize("path", ["driver", "spark"])
    def test_simultaneous_fact_and_dim_changes(
        self, spark, tmp_path, monkeypatch, path
    ):
        """Fact and both dims move in one refresh window — the
        telescoping terms (fact@new in dim terms, dims@old in the fact
        term) must compose exactly, on both the hybrid-driver and the
        forced-Spark sweep."""
        if path == "spark":
            monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        rng = random.Random(504)
        a, b, c = self._seed_left(spark, tmp_path, rng)
        v = self._build_left(spark, tmp_path, a, b, c, f"lview_sim_{path}")
        mor.merge_upsert_mor(
            spark,
            spark.createDataFrame(
                [(5, "d6", "s0", 9.9), (902, "d2", None, 0.5)], FACT_SCHEMA
            ),
            a, ["f_id"], compact_every=None,
        )
        mor.merge_upsert_mor(
            spark, spark.createDataFrame([("d6", "x"), ("d2", "y")], D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        mor.delete_keys_mor(
            spark, c, spark.createDataFrame([("s0",)], "s_id string"),
            ["s_id"], compact_every=None,
        )
        r = ij.refresh_join_view(spark, v)
        assert r["mode"] == "incremental"
        assert set(r["changes"]) == {0, 1, 2}
        self._assert_left_matches(spark, v, a, b, c)

    @pytest.mark.parametrize("path", ["driver", "spark"])
    def test_randomized_differential(self, spark, tmp_path, monkeypatch, path):
        if path == "spark":
            monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        rng = random.Random(505)
        a, b, c = self._seed_left(spark, tmp_path, rng, n_facts=100)
        v = self._build_left(spark, tmp_path, a, b, c, f"lview_rand_{path}")
        all_d = D_IDS + [None]
        all_s = S_IDS + [None, "zz"]
        for step in range(5):
            facts = [
                (k, rng.choice(all_d), rng.choice(all_s),
                 round(rng.uniform(-20, 20), 2))
                for k in rng.sample(range(140), 5)
            ]
            mor.merge_upsert_mor(
                spark, spark.createDataFrame(facts, FACT_SCHEMA), a,
                ["f_id"], compact_every=None,
            )
            roll = rng.random()
            if roll < 0.3:
                mor.merge_upsert_mor(
                    spark,
                    spark.createDataFrame(
                        _dims(rng, [rng.choice(D_IDS)]), D_SCHEMA
                    ),
                    b, ["d_id"], compact_every=None,
                )
            elif roll < 0.5:
                mor.delete_keys_mor(
                    spark, b,
                    spark.createDataFrame([(rng.choice(D_IDS),)], "d_id string"),
                    ["d_id"], compact_every=None,
                )
            elif roll < 0.75:
                mor.merge_upsert_mor(
                    spark,
                    spark.createDataFrame(
                        _sups(rng, [rng.choice(S_IDS)]), S_SCHEMA
                    ),
                    c, ["s_id"], compact_every=None,
                )
            r = ij.refresh_join_view(spark, v)
            assert r["mode"] == "incremental", f"step {step}: {r}"
            self._assert_left_matches(spark, v, a, b, c)

    def test_native_left_equals_chained_two_way(self, spark, tmp_path):
        """The workaround users run today — chained 2-way left views —
        must produce byte-for-byte the same rows as the native left
        star, across fact and dim changes."""
        rng = random.Random(506)
        a, b, c = self._seed_left(spark, tmp_path, rng, n_facts=80)
        v = self._build_left(spark, tmp_path, a, b, c, "lview_nat")
        v1 = str(tmp_path / "chain1")
        v2 = str(tmp_path / "chain2")
        ij.build_join_view(
            spark, a, b, v1, on=[("f_did", "d_id")],
            a_key_cols=["f_id"], b_key_cols=["d_id"],
            a_cols=["f_id", "f_did", "f_sid", "f_amt"],
            b_cols=["d_id", "d_name"],
            num_buckets=8, compact_every=None, how="left",
        )
        ij.build_join_view(
            spark, v1, c, v2, on=[("f_sid", "s_id")],
            a_key_cols=["f_id", "d_id"], b_key_cols=["s_id"],
            a_cols=["f_id", "f_did", "f_sid", "f_amt", "d_id", "d_name"],
            b_cols=["s_id", "s_name"],
            num_buckets=8, compact_every=None, how="left",
        )
        def both_refresh():
            ij.refresh_join_view(spark, v)
            ij.refresh_join_view(spark, v1)
            ij.refresh_join_view(spark, v2)
            native = _canon(ij.read_join_view(spark, v))
            chained = _canon(
                ij.read_join_view(spark, v2).select(
                    "f_id", "f_did", "f_sid", "f_amt",
                    "d_id", "d_name", "s_id", "s_name",
                )
            )
            assert native == chained

        both_refresh()
        mor.merge_upsert_mor(
            spark,
            spark.createDataFrame([(7, "d5", "zz", 4.4)], FACT_SCHEMA),
            a, ["f_id"], compact_every=None,
        )
        both_refresh()
        mor.merge_upsert_mor(
            spark, spark.createDataFrame([("d5", "arrived")], D_SCHEMA),
            b, ["d_id"], compact_every=None,
        )
        both_refresh()

    def test_left_spec_validation(self, spark, tmp_path):
        rng = random.Random(507)
        a, b, c = self._seed_left(spark, tmp_path, rng, n_facts=20)
        # snowflake edge (sup hangs off the DIM, not the spine)
        snow = [
            {"path": a, "key_cols": ["f_id"],
             "cols": ["f_id", "f_did", "f_sid", "f_amt"]},
            {"path": b, "key_cols": ["d_id"], "cols": ["d_id", "d_name"],
             "on": [("f_did", "d_id")]},
            {"path": c, "key_cols": ["s_id"], "cols": ["s_id", "s_name"],
             "on": [("d_name", "s_name")]},
        ]
        with pytest.raises(ValueError, match="STAR"):
            nw.build_join_view_nway(
                spark, snow, str(tmp_path / "bad1"), how="left"
            )
        # non-FK→PK edge (dim joined on a non-key column)
        nonpk = [
            {"path": a, "key_cols": ["f_id"],
             "cols": ["f_id", "f_did", "f_sid", "f_amt"]},
            {"path": b, "key_cols": ["d_id"], "cols": ["d_id", "d_name"],
             "on": [("f_did", "d_name")]},
        ]
        with pytest.raises(ValueError, match="FK"):
            nw.build_join_view_nway(
                spark, nonpk, str(tmp_path / "bad2"), how="left"
            )
        with pytest.raises(ValueError, match="how"):
            nw.build_join_view_nway(
                spark, _star_sources(a, b, c), str(tmp_path / "bad3"),
                how="full",
            )
