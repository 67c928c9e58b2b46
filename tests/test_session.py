"""The trickle session (``session.trickle_session``): a cached child of
the caller's session that carries the trickle conf, so trickle plans and
corpus work never see each other's conf on any thread; plus the
local-mode heap sizing of the session factory."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from presencia_etl_spark import session as sess

KNOBS = tuple(sess.TRICKLE_CONF)


def _grouped(s):
    return s.range(2000, numPartitions=2).groupBy(
        (F.col("id") % 7).alias("k")
    ).count()


def _root(df) -> str:
    return df._jdf.queryExecution().executedPlan().nodeName()


class TestTrickleSession:
    def test_one_cached_child_with_trickle_conf(self, spark):
        ts = sess.trickle_session(spark)
        assert ts is not spark
        assert ts.sparkContext is spark.sparkContext
        assert sess.trickle_session(spark) is ts
        assert sess.trickle_session(ts) is ts
        for k, v in sess.TRICKLE_CONF.items():
            assert ts.conf.get(k) == v
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def test_parent_runtime_conf_reaches_child_and_knobs_stay_put(self, spark):
        """A runtime ``spark.conf.set`` on the parent (and its unset)
        reaches the trickle session; a parent-side value of a trickle
        knob does not, and no trickle knob leaks back to the parent."""
        key = "spark.sql.files.openCostInBytes"
        parent_knobs = {k: spark.conf.get(k) for k in KNOBS}
        ts = sess.trickle_session(spark)  # exists before the parent changes
        try:
            spark.conf.set(key, "4194305")
            spark.conf.set("spark.sql.shuffle.partitions", "13")
            ts = sess.trickle_session(spark)
            assert ts.conf.get(key) == "4194305"
            assert ts.conf.get("spark.sql.shuffle.partitions") == "8"
            spark.conf.unset(key)
            assert sess.trickle_session(spark).conf.get(key) == spark.conf.get(key)
        finally:
            spark.conf.unset(key)
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                parent_knobs["spark.sql.shuffle.partitions"],
            )
        _grouped(ts).collect()
        assert {k: spark.conf.get(k) for k in KNOBS} == parent_knobs
        assert ts.conf.get("spark.sql.shuffle.partitions") == "8"

    def test_parent_query_keeps_aqe_while_trickle_plan_runs(self, spark):
        """While a trickle plan runs on one thread, a parent-session
        query planned on another still gets AQE and the session width —
        the hazard a process-global conf flip had for unguarded work."""
        width = spark.conf.get("spark.sql.shuffle.partitions")
        ts = sess.trickle_session(spark)
        done = threading.Event()
        errors: list[BaseException] = []

        def trickle():
            try:
                for _ in range(3):
                    assert _root(_grouped(ts)) != "AdaptiveSparkPlan"
                    _grouped(ts).collect()
            except BaseException as e:
                errors.append(e)
            finally:
                done.set()

        t = threading.Thread(target=trickle)
        t.start()
        checks = 0
        while not done.is_set() or checks == 0:
            assert _root(_grouped(spark)) == "AdaptiveSparkPlan"
            assert spark.conf.get("spark.sql.shuffle.partitions") == width
            checks += 1
        t.join(60)
        assert not t.is_alive() and not errors, errors

    def test_trickle_plan_inside_run_per_table_worker(self, spark):
        """Corpus fan-out needs no guard: ``run_per_table`` workers may
        run trickle plans, concurrently, next to parent-session work."""
        from presencia_etl_spark.plans.full_sync import (
            TableConfig,
            run_per_table,
        )

        cfgs = {f"t{i}": TableConfig(name=f"t{i}") for i in range(3)}

        def work(name, _cfg):
            ts = sess.trickle_session(spark)
            return (
                sorted(r["count"] for r in _grouped(ts).collect()),
                sorted(r["count"] for r in _grouped(spark).collect()),
            )

        out = run_per_table(cfgs, dict.fromkeys(cfgs), work, max_parallel=3)
        want = sorted(r["count"] for r in _grouped(spark).collect())
        assert out == {n: (want, want) for n in cfgs}

    def test_concurrent_first_calls_share_one_child(self, spark):
        """More threads than cores race the first ``trickle_session``
        call of a fresh parent while it changes a runtime conf: every
        thread gets the same child, and the child ends on the parent's
        final value with its trickle knobs intact."""
        import sys

        parent = spark.newSession()
        key = "spark.sql.files.openCostInBytes"
        got: list = []
        errors: list[BaseException] = []
        start = threading.Barrier(9)

        def racer():
            try:
                start.wait(10)
                for _ in range(20):
                    got.append(sess.trickle_session(parent))
            except BaseException as e:
                errors.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=racer) for _ in range(8)]
            for t in threads:
                t.start()
            start.wait(10)
            for v in range(4194305, 4194325):
                parent.conf.set(key, str(v))
            for t in threads:
                t.join(60)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads) and not errors, errors
        assert len(got) == 160 and len({id(c) for c in got}) == 1
        child = sess.trickle_session(parent)
        assert child is got[0]
        assert child.conf.get(key) == "4194324"
        for k, v in sess.TRICKLE_CONF.items():
            assert child.conf.get(k) == v

    def test_in_session_moves_a_cached_frame(self, spark):
        """``in_session`` rests on the JVM-internal ``Dataset.ofRows``:
        the moved frame plans in the target session (no AQE root), still
        reads the source frame's cache, and returns the same rows."""
        ts = sess.trickle_session(spark)
        src = spark.range(500).selectExpr("id", "id % 5 AS g").persist()
        try:
            src.count()
            moved = sess.in_session(ts, src)
            assert moved.sparkSession is ts
            agg = moved.groupBy("g").count()
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert _root(agg) != "AdaptiveSparkPlan"
            assert "InMemoryTableScan" in plan
            assert sorted(agg.collect()) == sorted(
                src.groupBy("g").count().collect()
            )
            back = sess.in_session(spark, moved)
            assert back.sparkSession is spark
            assert _root(back.groupBy("g").count()) == "AdaptiveSparkPlan"
        finally:
            src.unpersist()


class TestDefaultHeap:
    def test_quarter_of_ram_capped(self):
        assert sess._heap_for_kb(256 * 1024 * 1024) == "32g"  # 256 GiB host
        assert sess._heap_for_kb(64 * 1024 * 1024) == "16g"
        assert sess._heap_for_kb(16 * 1024 * 1024) == "4g"

    def test_small_box_not_floored_past_its_ram(self):
        """A 4 GiB box must not get a 4g heap (== ALL its memory); the 4g
        floor applies only when total RAM is at least 8 GiB."""
        assert sess._heap_for_kb(4 * 1024 * 1024) == "1g"
        assert sess._heap_for_kb(8 * 1024 * 1024) == "4g"

    def test_cgroup_limit_caps_host_ram(self, monkeypatch):
        """A 4 GiB-cgroup container on a 256 GiB host: /proc/meminfo shows
        the HOST total, so sizing must take min(meminfo, cgroup limit) —
        a 32g -Xmx past the cgroup limit is an OOM-kill, not a spill."""
        monkeypatch.setattr(sess, "_cgroup_limit_kb", lambda: 4 * 1024 * 1024)
        heap = sess._default_heap()
        assert heap == "1g", heap

    def test_unlimited_cgroup_ignored(self, monkeypatch):
        monkeypatch.setattr(sess, "_cgroup_limit_kb", lambda: None)
        # Whatever the host has, the result equals the pure host sizing.
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
        assert sess._default_heap() == sess._heap_for_kb(kb)
