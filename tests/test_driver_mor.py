"""Differential tests: the zero-job driver-side MOR merge
(``sinks/driver_mor``) against the Spark merge it replaces. The
invariant is BIT-equivalence of the published state — same live rows,
same row hashes, same normalized keys/buckets, same digest sidecar
content — plus transparent composition (Spark merges, compaction, and
the change feed all run correctly over driver-written deltas)."""

from __future__ import annotations

import datetime
import glob
import json
import os
import random
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from presencia_etl_spark.functions import driver_parity as dp
from presencia_etl_spark.operators import cdc
from presencia_etl_spark.sinks import digest_store, driver_mor as dm, mor
from presencia_etl_spark.sinks.writers import MERGE_JOURNAL, merge_upsert_partitioned

SCHEMA = (
    "k int, name string, amt double, flag boolean, d date, ts timestamp"
)
COLS = ["k", "name", "amt", "flag", "d", "ts"]


def _row(rng: random.Random, k: int) -> dict:
    return {
        "k": k,
        "name": rng.choice([None, "", f"n{k}", f"x{rng.randrange(100)}", "a|b"]),
        "amt": rng.choice([None, rng.uniform(-1e5, 1e5), float(k) * 1.5]),
        "flag": rng.choice([None, True, False]),
        "d": rng.choice([None, datetime.date(2024, 1, 1 + k % 28)]),
        "ts": rng.choice(
            [
                None,
                datetime.datetime(2024, 1, 2, 3, 4, 5)
                + datetime.timedelta(microseconds=rng.randrange(0, 10**8)),
            ]
        ),
    }


def _df(spark, rows: list[dict]):
    return spark.createDataFrame(
        [tuple(r[c] for c in COLS) for r in rows], SCHEMA
    )


def _seed_state(spark, path: str, rng: random.Random, n: int = 60) -> None:
    rows = [_row(rng, k) for k in range(n)]
    mor.merge_upsert_mor(
        spark, _df(spark, rows), path, ["k"], num_buckets=8, compact_every=None
    )


def _local(spark, rows: list[dict]):
    """A driver-local source frame: pandas through Arrow optimizes to a
    ``LocalRelation``, the shape the public merges route to the driver
    plane (``_df``'s list of tuples is a ``LogicalRDD`` and stays on
    Spark)."""
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=COLS).astype({"k": "int32"}), SCHEMA
    )


def _local_keys(spark, ks: list[int]):
    return spark.createDataFrame(pd.DataFrame({"k": ks}).astype("int32"), "k int")


# The two public bucketed merges over one 8-bucket ``k``-keyed state.
_PUBLIC = {
    "mor": lambda spark, src, p, **kw: mor.merge_upsert_mor(
        spark, src, p, ["k"], num_buckets=8, compact_every=None, **kw
    ),
    "bucketed": lambda spark, src, p, **kw: merge_upsert_partitioned(
        spark, src, p, ["k"], num_buckets=8, **kw
    ),
}


def _read(spark, layout: str, path: str):
    return mor.read_mor(spark, path) if layout == "mor" else spark.read.parquet(path)


def _snapshot(spark, path: str, layout: str = "mor") -> dict:
    """Comparable content: per key, data columns + row_hash + bucket
    (ids/audit timestamps excluded — uniqueness-only semantics)."""
    rows = _read(spark, layout, path).collect()
    return {
        r[cdc.KEY_COL]: (
            tuple(
                (r[c] if r[c] == r[c] else "NaN") if c != "amt" or r[c] is None
                else dp.double_bits(r[c])
                for c in COLS
            ),
            r["row_hash"],
            r["_kb"],
        )
        for r in rows
    }


def _keys_of(rows: list[dict]) -> list[str]:
    return [dp.composite_key([r["k"]], ["int32"]) for r in rows]


class TestDriverMergeEquivalence:
    def test_mixed_batch_matches_spark_merge(self, spark, tmp_path):
        rng = random.Random(41)
        a, b = str(tmp_path / "spark_state"), str(tmp_path / "driver_state")
        for p in (a, b):
            _seed_state(spark, p, random.Random(41))
        ups = (
            [_row(rng, k) for k in (3, 7)]  # updates (new values)
            + [_row(rng, k) for k in (100, 101)]  # inserts
        )
        # skips: re-send the CURRENT stored values of keys 1, 2
        cur = {
            r["k"]: {c: r[c] for c in COLS}
            for r in mor.read_mor(spark, a).filter(F.col("k").isin(1, 2)).collect()
        }
        ups += [cur[1], cur[2]]
        dels = [_row(rng, k) for k in (5, 9)]
        r_spark = mor.merge_upsert_mor(
            spark, _df(spark, ups), a, ["k"],
            delete_keys=cdc.with_cdc_key(_df(spark, dels), ["k"]).select(
                "k"
            ),
            compact_every=None,
        )
        r_drv = dm.trickle_merge(
            b, ups, ["k"], delete_keys=_keys_of(dels), jvm=spark._jvm
        )
        for fld in ("insert", "update", "skip", "delete"):
            assert r_drv[fld] == r_spark[fld], fld
        assert r_drv["driver"] is True
        assert _snapshot(spark, a) == _snapshot(spark, b)

    def test_randomized_interleaved_sequence(self, spark, tmp_path):
        rng = random.Random(43)
        a, b = str(tmp_path / "s"), str(tmp_path / "d")
        for p in (a, b):
            _seed_state(spark, p, random.Random(43))
        live = set(range(60))
        nxt = 200
        for step in range(6):
            ups = []
            for _ in range(rng.randrange(1, 5)):
                if rng.random() < 0.5 and live:
                    ups.append(_row(rng, rng.choice(sorted(live))))
                else:
                    ups.append(_row(rng, nxt))
                    live.add(nxt)
                    nxt += 1
            seen = set()
            ups = [
                u for u in ups
                if u["k"] not in seen and not seen.add(u["k"])
            ]
            dels = []
            if rng.random() < 0.6 and live:
                kd = rng.choice(sorted(live - {u["k"] for u in ups}))
                dels = [{"k": kd}]
                live.discard(kd)
            live |= {u["k"] for u in ups}
            mor.merge_upsert_mor(
                spark, _df(spark, ups), a, ["k"],
                delete_keys=(
                    spark.createDataFrame([(d["k"],) for d in dels], "k int")
                    if dels
                    else None
                ),
                compact_every=None,
            )
            dm.trickle_merge(
                b, ups, ["k"],
                delete_keys=[dp.composite_key([d["k"]], ["int32"]) for d in dels],
                jvm=spark._jvm,
            )
            assert _snapshot(spark, a) == _snapshot(spark, b), f"step {step}"
        # change feed + time travel still work over driver deltas
        ch = mor.read_mor_changes(spark, b, since_seq=0)
        assert ch.count() > 0
        # spark merge + compaction compose on top
        tail = _row(rng, 999)
        for p in (a, b):
            mor.merge_upsert_mor(
                spark, _df(spark, [tail]), p, ["k"], compact_every=None
            )
            mor.compact_mor(spark, p)
        assert _snapshot(spark, a) == _snapshot(spark, b)

    def test_digest_sidecar_maintained_equals_scan(self, spark, tmp_path):
        rng = random.Random(47)
        p = str(tmp_path / "dg")
        _seed_state(spark, p, random.Random(47))
        # seed a sidecar via a Spark merge (digest_prune path saves one)
        mor.merge_upsert_mor(
            spark, _df(spark, [_row(rng, 0)]), p, ["k"], compact_every=None
        )
        assert digest_store.load(p) is not None
        r = dm.trickle_merge(
            p,
            [_row(rng, 1), _row(rng, 300)],
            ["k"],
            delete_keys=[dp.composite_key([4], ["int32"])],
            jvm=spark._jvm,
        )
        assert r["insert"] == 1 and r["delete"] == 1
        maintained = digest_store.load(p)
        assert maintained is not None, "driver merge must keep the sidecar valid"
        scan = cdc.state_digest(
            mor.read_mor(spark, p).select(cdc.KEY_COL, "row_hash")
        )
        assert maintained == scan

    def test_zero_spark_jobs(self, spark, tmp_path):
        rng = random.Random(53)
        p = str(tmp_path / "zj")
        _seed_state(spark, p, random.Random(53))
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup() or [])
        dm.trickle_merge(
            p, [_row(rng, 2), _row(rng, 500)], ["k"],
            delete_keys=[dp.composite_key([7], ["int32"])],
            jvm=spark._jvm,
        )
        after = set(tracker.getJobIdsForGroup() or [])
        assert after == before, "driver merge must launch zero Spark jobs"


def _identity(spark, layout: str, path: str) -> dict:
    """key → (id, created_at) of every live row."""
    return {
        r["k"]: (r["id"], r["created_at"])
        for r in _read(spark, layout, path).select("k", "id", "created_at").collect()
    }


COW_ORDER = [*COLS, "row_hash", cdc.KEY_COL, "id", "created_at", "updated_at"]


def _assert_bucket_files(path: str) -> None:
    """One key-sorted file per bucket dir, in Spark's column order."""
    for bdir in glob.glob(os.path.join(path, "_kb=*")):
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1, bdir
        t = pq.read_table(os.path.join(bdir, files[0]))
        assert t.schema.names == COW_ORDER, bdir
        keys = t.column(cdc.KEY_COL).to_pylist()
        assert keys == sorted(keys), bdir


class TestPublicMergeDriverPlane:
    """``mor.merge_upsert_mor`` and ``writers.merge_upsert_partitioned``
    route a driver-local source through the driver plane themselves.
    Twin states (one seeded, then copied) take the same randomized
    sequence of pandas-built batches — inserts, updates, no-ops and, on
    MOR, explicit ``delete_keys`` — with the kill switch off on one twin
    and on for the other: equal results, live content, row hashes and
    digest sidecars. Inserted ids and created_at differ by design (the
    Spark path allocates ``monotonically_increasing_id`` values and its
    own query timestamp), so identity is compared where it is carried:
    every key live before and after a step keeps its (id, created_at),
    and seed keys carry the same identity on both twins."""

    @pytest.mark.parametrize("layout", ["mor", "bucketed"])
    def test_randomized_sequence_matches_spark_plane(
        self, spark, tmp_path, monkeypatch, layout
    ):
        rng = random.Random(73)
        a, b = str(tmp_path / "spark"), str(tmp_path / "driver")
        merge = _PUBLIC[layout]
        seed = [_row(rng, k) for k in range(60)]
        merge(spark, _df(spark, seed), a)
        merge(spark, _df(spark, seed), a)  # scan-path replay seeds the sidecar
        shutil.copytree(a, b)
        live = {r["k"]: r for r in seed}
        nxt = 200
        for step in range(5):
            batch: dict[int, dict] = {}
            for _ in range(rng.randrange(2, 6)):
                roll = rng.random()
                if roll < 0.4:
                    k = rng.choice(sorted(live))
                    batch[k] = _row(rng, k)  # update (or a same-value skip)
                elif roll < 0.6:
                    k = rng.choice(sorted(live))
                    batch[k] = dict(live[k])  # no-op: the stored values
                else:
                    batch[nxt] = _row(rng, nxt)
                    nxt += 1
            ups = list(batch.values())
            dels = []
            if layout == "mor" and rng.random() < 0.7:
                dels = [rng.choice(sorted(set(live) - set(batch)))]
            before = {p: _identity(spark, layout, p) for p in (a, b)}
            res = {}
            for p, flag in ((a, "0"), (b, "1")):
                monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", flag)
                kw = {"delete_keys": _local_keys(spark, dels)} if dels else {}
                res[p] = merge(spark, _local(spark, ups), p, **kw)
            r_drv = dict(res[b])
            assert r_drv.pop("driver") is True, step
            assert "driver" not in res[a]
            assert r_drv == res[a], step
            assert _snapshot(spark, a, layout) == _snapshot(spark, b, layout), step
            after = {p: _identity(spark, layout, p) for p in (a, b)}
            for p in (a, b):
                for k in set(before[p]) & set(after[p]):
                    assert after[p][k] == before[p][k], (step, p, k)
            for k in range(60):
                if k in after[a]:
                    assert after[a][k] == after[b][k], (step, k)
            new_ids = [after[b][k][0] for k in set(after[b]) - set(before[b])]
            assert len(set(new_ids)) == len(new_ids)
            assert all(i > max(v[0] for v in before[b].values()) for i in new_ids)
            dig = digest_store.load(b)
            assert dig is not None and dig == digest_store.load(a), step
            if layout == "bucketed":
                _assert_bucket_files(b)
            live.update(batch)
            for k in dels:
                live.pop(k)
        # a later Spark-path merge of the same rows has nothing to do
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        r = merge(spark, _df(spark, ups), b)
        assert (r["insert"], r["update"], r["skip"]) == (0, 0, len(ups))

    def test_auto_compaction_keeps_the_spark_window(
        self, spark, tmp_path, monkeypatch
    ):
        """A driver-plane merge that comes due for auto-compaction
        retains the same ``compact_every // 4`` newest deltas as the
        Spark path (a fold-everything compaction would force every
        lagging view cursor into a rebuild)."""
        rng = random.Random(79)
        a, b = str(tmp_path / "spark"), str(tmp_path / "driver")
        seed = _df(spark, [_row(rng, k) for k in range(60)])
        # the no-change replay seeds the sidecar (the driver plane keeps
        # a valid one valid but, like any known-subset merge, never seeds)
        for _ in range(2):
            _PUBLIC["mor"](spark, seed, a)
        shutil.copytree(a, b)
        for i in range(4):
            batch = [_row(rng, 100 + i)]
            res = {}
            for p, flag in ((a, "0"), (b, "1")):
                monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", flag)
                res[p] = mor.merge_upsert_mor(
                    spark, _local(spark, batch), p, ["k"], compact_every=4
                )
            assert res[b]["driver"] is True
            assert res[a]["compacted"] == res[b]["compacted"] == (i == 3)
        assert mor._delta_seqs(a) == mor._delta_seqs(b) == [4]
        assert _snapshot(spark, a) == _snapshot(spark, b)
        assert digest_store.load(b) == digest_store.load(a)

    def test_declines_fall_through_to_spark(self, spark, tmp_path):
        """Shapes the driver plane can't reproduce exactly decline with a
        reason tag and the same call finishes on the Spark path."""
        p = str(tmp_path / "dec")
        _seed_state(spark, p, random.Random(83))
        dm.decline_counts(reset=True)
        dup = [_row(random.Random(1), 1), _row(random.Random(2), 1)]
        r = mor.merge_upsert_mor(spark, _local(spark, dup), p, ["k"], compact_every=None)
        assert "driver" not in r and r["update"] + r["insert"] >= 1
        # the Spark merge hashes the SOURCE's types: a float column
        # renders unlike the target's double, so it declines
        f32 = spark.createDataFrame(
            pd.DataFrame([_row(random.Random(3), 500)], columns=COLS),
            SCHEMA.replace("amt double", "amt float"),
        )
        r = mor.merge_upsert_mor(spark, f32, p, ["k"], compact_every=None)
        assert "driver" not in r and r["insert"] == 1
        assert dm.decline_counts() == {"duplicate_keys": 1, "unsupported_type": 1}
        # a non-local or oversized source is the corpus shape: no decline
        big = pd.DataFrame({"k": range(dm.DRIVER_BATCH_MAX_KEYS + 1)}).astype("int32")
        assert dm.local_rows(spark.createDataFrame(big, "k int")) is None
        assert dm.local_rows(_df(spark, dup)) is None
        assert dm.local_rows(_local(spark, dup).select("k", "name")) == [
            {"k": 1, "name": dup[0]["name"]}, {"k": 1, "name": dup[1]["name"]},
        ]
        # schema drift: the MOR drift fold's bucketed merge takes the
        # driver route again, and the one public call counts one decline
        p = str(tmp_path / "drift")
        _seed_state(spark, p, random.Random(84))
        dm.decline_counts(reset=True)
        wide = spark.createDataFrame(
            pd.DataFrame(
                [{**_row(random.Random(4), 501), "extra": "x"}], columns=[*COLS, "extra"]
            ).astype({"k": "int32"}),
            SCHEMA + ", extra string",
        )
        r = mor.merge_upsert_mor(spark, wide, p, ["k"], compact_every=None)
        assert "driver" not in r and r["insert"] == 1
        assert dm.decline_counts() == {"schema_drift": 1}

    def test_timestamps_are_utc_on_the_driver_plane(self, spark, tmp_path, monkeypatch):
        """``collect()`` renders timestamps in the process's local zone;
        ``local_rows`` hands the driver plane naive UTC whatever that
        zone is, and a session whose zone is not UTC (where the Spark
        merge would render timestamps differently) declines."""
        import time

        ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678)
        row = {**_row(random.Random(7), 1), "ts": ts}
        monkeypatch.setenv("TZ", "America/New_York")
        time.tzset()
        try:
            assert dm.local_rows(_local(spark, [row]))[0]["ts"] == ts
        finally:
            monkeypatch.undo()
            time.tzset()
        p = str(tmp_path / "tz")
        _seed_state(spark, p, random.Random(97))
        dm.decline_counts(reset=True)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            r = mor.merge_upsert_mor(spark, _local(spark, [row]), p, ["k"], compact_every=None)
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert "driver" not in r and dm.decline_counts() == {"session_tz": 1}


def _cow_twins(spark, tmp_path):
    """Twin bucketed COW states (``a`` for the Spark path, ``b`` for the
    driver path) with a valid sidecar, and a batch dirtying several
    buckets."""
    rng = random.Random(89)
    a, b = str(tmp_path / "spark"), str(tmp_path / "driver")
    merge = _PUBLIC["bucketed"]
    seed = [_row(rng, k) for k in range(60)]
    merge(spark, _df(spark, seed), a)
    merge(spark, _df(spark, seed), a)
    shutil.copytree(a, b)
    batch = [_row(rng, k) for k in (1, 2, 3, 4, 5, 300, 301)]
    assert len({dp.pmod_bucket(dp.composite_key([r["k"]], ["int32"]), 8)
                for r in batch}) >= 2
    return a, b, batch


def _fail_second_bucket_rename(monkeypatch, fail_restores: bool = False) -> list:
    """Arm ``os.rename`` to raise at the second staged bucket's rename
    into the target (and, with ``fail_restores``, at every restore of a
    parked old bucket during the rollback). Returns the list of landed
    destinations."""
    real_rename = os.rename
    landed = []

    def rename(src, dst):
        name = os.path.basename(src)
        if ".staged_merge_" in str(src) and name.startswith("_kb="):
            landed.append(dst)
            if len(landed) == 2:
                raise OSError("injected: second bucket rename")
        if fail_restores and ".staged_merge_" in str(src) and name.startswith("_old_"):
            raise OSError("injected: rollback restore")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    return landed


class TestDriverCowCrashSeam:
    def test_second_bucket_rename_failure_rolls_back(
        self, spark, tmp_path, monkeypatch
    ):
        """An ``OSError`` at the second bucket's rename during the driver
        COW swap rolls the target back inline to its before-state; the
        sidecar still validates; the public merge of the same batch then
        converges to the Spark-path state (and, with the fault armed, the
        call itself falls back to Spark)."""
        a, b, batch = _cow_twins(spark, tmp_path)
        merge = _PUBLIC["bucketed"]

        def listing(p):
            return sorted(
                (os.path.relpath(f, p), os.path.getsize(f))
                for f in glob.glob(os.path.join(p, "**", "*"), recursive=True)
                if os.path.isfile(f)
            )

        before, dig_before = listing(b), digest_store.load(b)
        assert dig_before is not None
        real_rename = os.rename

        landed = _fail_second_bucket_rename(monkeypatch)
        with pytest.raises(OSError, match="injected"):
            dm.trickle_merge_bucketed(b, batch, ["k"], 8, jvm=spark._jvm)
        assert len(landed) == 2
        assert not os.path.exists(os.path.join(b, MERGE_JOURNAL))
        assert listing(b) == before  # inline rollback: the before-state
        assert digest_store.load(b) == dig_before  # still valid

        # armed again, the public merge falls back to the Spark path
        _fail_second_bucket_rename(monkeypatch)
        dm.decline_counts(reset=True)
        with pytest.warns(UserWarning, match="driver trickle path failed"):
            r_fb = merge(spark, _local(spark, batch), b)
        assert dm.decline_counts() == {"error": 1} and "driver" not in r_fb
        monkeypatch.setattr(os, "rename", real_rename)
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        r_spark = merge(spark, _local(spark, batch), a)
        assert r_fb == r_spark
        assert _snapshot(spark, a, "bucketed") == _snapshot(spark, b, "bucketed")
        assert digest_store.load(b) == digest_store.load(a) is not None

    def test_incomplete_rollback_reaches_the_caller(
        self, spark, tmp_path, monkeypatch
    ):
        """When the rollback's restores of the parked old buckets fail
        too, buckets are missing from the target and their only copies
        sit in the journaled staging dir. The public merge must raise,
        not fall back to a Spark merge that would re-insert the missing
        keys with fresh ids and overwrite the journal; the next merge
        repairs from the journal and converges to the Spark-path state
        with every identity kept."""
        a, b, batch = _cow_twins(spark, tmp_path)
        merge = _PUBLIC["bucketed"]
        real_rename = os.rename
        _fail_second_bucket_rename(monkeypatch, fail_restores=True)
        dm.decline_counts(reset=True)
        with pytest.raises(RuntimeError, match="rollback is incomplete"):
            merge(spark, _local(spark, batch), b)
        assert dm.decline_counts() == {}
        journal = os.path.join(b, MERGE_JOURNAL)
        with open(journal) as fh:
            staged = json.load(fh)["staged"]
        assert glob.glob(os.path.join(staged, "_old_*"))  # the only copies

        monkeypatch.setattr(os, "rename", real_rename)
        r = merge(spark, _local(spark, batch), b)
        assert r["driver"] and not os.path.exists(journal)
        assert not os.path.exists(staged)
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        merge(spark, _local(spark, batch), a)
        assert _snapshot(spark, a, "bucketed") == _snapshot(spark, b, "bucketed")

        def identity(p):
            return {
                row[cdc.KEY_COL]: (row["id"], row["created_at"])
                for row in spark.read.parquet(p).filter(F.col("k") < 60).collect()
            }

        assert identity(a) == identity(b)


class TestPointReads:
    def test_live_rows_parity(self, spark, tmp_path):
        rng = random.Random(59)
        p = str(tmp_path / "pr")
        _seed_state(spark, p, random.Random(59))
        mor.merge_upsert_mor(
            spark, _df(spark, [_row(rng, k) for k in (3, 61)]), p, ["k"],
            compact_every=None,
        )
        mor.delete_keys_mor(
            spark, p, spark.createDataFrame([(8,)], "k int"), ["k"],
            compact_every=None,
        )
        keys = [dp.composite_key([k], ["int32"]) for k in (3, 8, 61, 9, 9999)]
        got = dm.read_live_rows_for_keys(p, keys)
        exp = {
            r[cdc.KEY_COL]: r
            for r in mor.read_mor(spark, p)
            .filter(F.col("k").isin(3, 8, 61, 9, 9999))
            .collect()
        }
        assert set(got) == set(exp)  # 8 deleted, 9999 never existed
        for k, row in got.items():
            assert row["row_hash"] == exp[k]["row_hash"]
            assert row["name"] == exp[k]["name"]
        # as_of: before the second merge, key 61 doesn't exist yet
        got0 = dm.read_live_rows_for_keys(
            p, keys, as_of_seq=0
        )
        assert dp.composite_key([61], ["int32"]) not in got0
        assert dp.composite_key([8], ["int32"]) in got0

    def test_delta_range_rows(self, spark, tmp_path):
        rng = random.Random(61)
        p = str(tmp_path / "dr")
        _seed_state(spark, p, random.Random(61))
        mor.merge_upsert_mor(
            spark, _df(spark, [_row(rng, 1)]), p, ["k"], compact_every=None
        )
        mor.merge_upsert_mor(
            spark, _df(spark, [_row(rng, 1), _row(rng, 70)]), p, ["k"],
            compact_every=None,
        )
        rows = dm.read_delta_range_rows(p, 0)
        latest = dm.latest_per_key(rows)
        exp = {
            r[cdc.KEY_COL]: r["row_hash"]
            for r in mor.read_mor_changes(spark, p, since_seq=0).collect()
        }
        assert {k: v["row_hash"] for k, v in latest.items()} == exp


class TestTrickleGate:
    """The consolidated gate (``driver_mor.try_trickle``) — one code
    path owning bytes bound → kill switch → decline (+ telemetry) →
    compaction escalation for every zero-job fast path."""

    def test_bytes_bound_is_not_a_decline(self):
        dm.decline_counts(reset=True)
        ran = []
        r = dm.try_trickle(
            lambda: ran.append(1) or {"x": 1},
            pending_bytes=100, max_bytes=10,
        )
        assert r is None and not ran
        assert dm.decline_counts() == {}  # corpus shape, not a decline

    def test_kill_switch(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        assert dm.try_trickle(lambda: {"x": 1}) is None
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "1")
        assert dm.try_trickle(lambda: {"x": 1}) == {"x": 1}

    def test_decline_counted_by_reason(self):
        dm.decline_counts(reset=True)

        def boom():
            raise dm.DriverDecline("nope", reason="type_drift")

        assert dm.try_trickle(boom) is None
        assert dm.try_trickle(boom) is None
        assert dm.decline_counts()["type_drift"] == 2

    def test_unexpected_errors_fall_back_not_crash(self):
        import pyarrow as pa

        dm.decline_counts(reset=True)

        def os_boom():
            raise OSError("disk says no")

        def arrow_boom():
            raise pa.lib.ArrowInvalid("bad cast")

        with pytest.warns(UserWarning, match="driver trickle path failed"):
            assert dm.try_trickle(os_boom) is None
        with pytest.warns(UserWarning, match="driver trickle path failed"):
            assert dm.try_trickle(arrow_boom) is None
        assert dm.decline_counts()["error"] == 2
        with pytest.raises(KeyError):  # genuine bugs still surface
            dm.try_trickle(lambda: {}[1])

    def test_compaction_escalation(self):
        hit = []
        r = dm.try_trickle(
            lambda: {"insert": 1, "compaction_due": True},
            on_compact=lambda: hit.append(1),
        )
        assert r == {"insert": 1, "compacted": True} and hit == [1]
        # without an escalation hook the flag is returned to the caller
        r = dm.try_trickle(lambda: {"insert": 1, "compaction_due": True})
        assert r == {"insert": 1, "compaction_due": True}
        # and a merge that isn't due stays unflagged
        r = dm.try_trickle(
            lambda: {"insert": 1, "compaction_due": False},
            on_compact=lambda: hit.append(2),
        )
        assert r == {"insert": 1} and hit == [1]

    def test_non_idempotent_requires_recovery_callback(self):
        # Forgetting the double-apply guard must fail loudly at call
        # time, not silently re-fold later.
        with pytest.raises(ValueError, match="on_failure"):
            dm.try_trickle(lambda: {"x": 1}, idempotent=False)

    def test_recovery_runs_only_after_driver_fn_was_invoked(
        self, monkeypatch
    ):
        calls = []

        def rec():
            calls.append("rec")
            return None

        # Pre-invoke skips never run recovery — driver_fn never
        # executed, so nothing could have published.
        r = dm.try_trickle(
            lambda: {"x": 1}, pending_bytes=9, max_bytes=1,
            idempotent=False, on_failure=rec,
        )
        assert r is None and calls == []
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_TRICKLE", "0")
        r = dm.try_trickle(
            lambda: {"x": 1}, idempotent=False, on_failure=rec
        )
        assert r is None and calls == []
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_TRICKLE")

        # A post-invoke failure does run it (and its None → Spark path).
        def os_boom():
            raise OSError("post-publish cleanup hiccup")

        with pytest.warns(UserWarning, match="driver trickle path failed"):
            assert (
                dm.try_trickle(os_boom, idempotent=False, on_failure=rec)
                is None
            )
        assert calls == ["rec"]

    def test_recovery_result_short_circuits_spark_fallback(self):
        landed = {"mode": "incremental", "path": "driver"}

        def os_boom():
            raise OSError("after publish")

        with pytest.warns(UserWarning, match="driver trickle path failed"):
            r = dm.try_trickle(
                os_boom, idempotent=False, on_failure=lambda: landed
            )
        assert r == landed
        # declines route through recovery too — driver_fn ran, so a
        # non-idempotent consumer still gets its landed-publish check
        dm.decline_counts(reset=True)

        def dec():
            raise dm.DriverDecline("nope", reason="hll")

        r = dm.try_trickle(dec, idempotent=False, on_failure=lambda: landed)
        assert r == landed and dm.decline_counts()["hll"] == 1


class TestDeclines:
    def test_decline_paths(self, spark, tmp_path):
        rng = random.Random(67)
        p = str(tmp_path / "dec")
        _seed_state(spark, p, random.Random(67))
        with pytest.raises(dm.DriverDecline):  # not a MOR state
            dm.trickle_merge(str(tmp_path / "nope"), [], ["k"])
        with pytest.raises(dm.DriverDecline):  # oversized batch
            dm.trickle_merge(
                p, [], ["k"],
                delete_keys=[str(i) for i in range(dm.DRIVER_BATCH_MAX_KEYS + 1)],
            )
        with pytest.raises(dm.DriverDecline):  # schema drift
            dm.trickle_merge(p, [{"k": 1, "extra": 2}], ["k"])
        with pytest.raises(dm.DriverDecline):  # duplicate in-batch keys
            dm.trickle_merge(p, [_row(rng, 1), _row(rng, 1)], ["k"])
        # unsupported column type (decimal)
        q = str(tmp_path / "decimal")
        df = spark.createDataFrame([(1,)], "k int").withColumn(
            "v", F.lit("1.5").cast("decimal(10,2)")
        )
        mor.merge_upsert_mor(spark, df, q, ["k"], num_buckets=4, compact_every=None)
        with pytest.raises(dm.DriverDecline):
            dm.trickle_merge(q, [{"k": 2, "v": None}], ["k"])

    def test_type_drift_declines_before_hashing(self, spark, tmp_path):
        """A batch value whose Python type doesn't match the target
        column kind must DECLINE (reason type_drift) — never be hashed
        with the target's kind (float 2.0 into an int column would
        render '2' where the Spark merge hashes '2.0'), and never crash
        in pyarrow at commit time (the pre-fix failure for non-integral
        floats)."""
        p = str(tmp_path / "drift")
        _seed_state(spark, p, random.Random(5))
        ok = _row(random.Random(5), 900)
        drifted = [
            {**ok, "k": 2.0},                         # float into int
            {**ok, "k": 2.5},                         # used to crash ArrowInvalid
            {**ok, "flag": 1},                        # int into bool
            {**ok, "name": 5},                        # int into string
            {**ok, "d": datetime.datetime(2024, 1, 2)},   # datetime into date
            {**ok, "ts": datetime.date(2024, 1, 2)},      # date into timestamp
            {**ok, "row_hash": 123},                  # non-string precomputed hash
        ]
        for bad in drifted:
            with pytest.raises(dm.DriverDecline) as ei:
                dm.trickle_merge(p, [bad], ["k"], jvm=spark._jvm)
            assert ei.value.reason == "type_drift", bad
        # int into a DOUBLE column is exact on both paths — accepted
        seq = mor.mor_history(p)["seq"]
        r = dm.trickle_merge(p, [{**ok, "amt": 3}], ["k"], jvm=spark._jvm)
        assert r["insert"] == 1 and mor.mor_history(p)["seq"] == seq + 1
        got = (
            mor.read_mor(spark, p).filter(F.col("k") == 900).collect()[0]
        )
        assert got["amt"] == 3.0

    def test_decline_reasons_tagged(self, spark, tmp_path):
        p = str(tmp_path / "reasons")
        _seed_state(spark, p, random.Random(8))
        cases = [
            (lambda: dm.trickle_merge(str(tmp_path / "nope"), [], ["k"]),
             "not_mor"),
            (lambda: dm.trickle_merge(
                p, [], ["k"],
                delete_keys=[str(i) for i in range(dm.DRIVER_BATCH_MAX_KEYS + 1)],
            ), "batch_too_big"),
            (lambda: dm.trickle_merge(p, [{"k": 1, "extra": 2}], ["k"]),
             "schema_drift"),
            (lambda: dm.trickle_merge(
                p,
                [_row(random.Random(1), 1), _row(random.Random(2), 1)],
                ["k"],
            ), "duplicate_keys"),
        ]
        for fn, reason in cases:
            with pytest.raises(dm.DriverDecline) as ei:
                fn()
            assert ei.value.reason == reason

    def test_unrenderable_double_declines_without_jvm(self, spark, tmp_path):
        """A double outside the proven Python/Java rendering region with
        no py4j gateway must DECLINE (reason unrenderable), not escape
        as UnsupportedValue and crash the caller."""
        p = str(tmp_path / "unrend")
        _seed_state(spark, p, random.Random(11))
        bad = {**_row(random.Random(11), 950), "amt": 1e300}
        with pytest.raises(dm.DriverDecline) as ei:
            dm.trickle_merge(p, [bad], ["k"], jvm=None)
        assert ei.value.reason == "unrenderable"
        # with the gateway the same batch renders exactly and lands
        r = dm.trickle_merge(p, [bad], ["k"], jvm=spark._jvm)
        assert r["insert"] == 1

    def test_noop_writes_nothing(self, spark, tmp_path):
        p = str(tmp_path / "noop")
        _seed_state(spark, p, random.Random(71))
        cur = {
            r["k"]: {c: r[c] for c in COLS}
            for r in mor.read_mor(spark, p).filter(F.col("k") == 1).collect()
        }
        seqs_before = mor.mor_history(p)["seq"]
        r = dm.trickle_merge(
            p, [cur[1]], ["k"],
            delete_keys=[dp.composite_key([123456], ["int32"])],
            jvm=spark._jvm,
        )
        assert r == {
            "insert": 0, "update": 0, "skip": 1, "delete": 0,
            "delta_files": 0, "compacted": False, "compaction_due": False,
            "driver": True,
        }
        assert mor.mor_history(p)["seq"] == seqs_before
