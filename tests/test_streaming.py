"""Streaming tests: micro-batch upsert (foreachBatch) and the batch/stream
shared windowed aggregation."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from presencia_etl_spark.sources.readers import read_table
from presencia_etl_spark.streaming.micro_batch import incremental_upsert_stream
from presencia_etl_spark.streaming.windows import windowed_event_counts


class TestMicroBatchUpsert:
    def test_stream_upserts_and_is_replay_safe(self, spark, tmp_path, sf_dir):
        src_dir = str(tmp_path / "incoming")
        target = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")

        events = read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "user_id"
        )
        batch1 = events.filter(F.col("event_id") < 500)
        batch1.write.mode("append").parquet(src_dir)
        schema = batch1.schema

        q = incremental_upsert_stream(spark, src_dir, schema, target, ["event_id"], ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(target).count()
        assert n1 == 500

        # Second file: 100 overlapping (identical → SKIP via hash) + 100 new.
        batch2 = events.filter((F.col("event_id") >= 400) & (F.col("event_id") < 700))
        batch2.write.mode("append").parquet(src_dir)
        q2 = incremental_upsert_stream(spark, src_dir, schema, target, ["event_id"], ckpt)
        q2.awaitTermination(120)
        state = spark.read.parquet(target)
        assert state.count() == 700
        # No duplicate keys even though 100 ids arrived twice.
        assert state.select("event_id").distinct().count() == 700

    def test_stream_upsert_mor_mode(self, spark, tmp_path, sf_dir):
        """Same stream through the merge-on-read sink: per-trigger writes
        are O(changes) deltas; the read view converges identically."""
        from presencia_etl_spark.sinks.mor import read_mor

        src_dir = str(tmp_path / "incoming_mor")
        target = str(tmp_path / "state_mor")
        ckpt = str(tmp_path / "ckpt_mor")

        events = read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "user_id"
        )
        batch1 = events.filter(F.col("event_id") < 500)
        batch1.write.mode("append").parquet(src_dir)
        schema = batch1.schema
        q = incremental_upsert_stream(
            spark, src_dir, schema, target, ["event_id"], ckpt, mode="mor"
        )
        q.awaitTermination(120)
        assert read_mor(spark, target).count() == 500

        mutated = events.filter(
            (F.col("event_id") >= 400) & (F.col("event_id") < 700)
        ).withColumn(
            "event_type",
            F.when(F.col("event_id") == 450, F.lit("mutated")).otherwise(
                F.col("event_type")
            ),
        )
        mutated.write.mode("append").parquet(src_dir)
        q2 = incremental_upsert_stream(
            spark, src_dir, schema, target, ["event_id"], ckpt, mode="mor"
        )
        q2.awaitTermination(120)
        view = read_mor(spark, target)
        assert view.count() == 700
        assert view.select("event_id").distinct().count() == 700
        assert (
            view.filter(F.col("event_id") == 450).collect()[0]["event_type"]
            == "mutated"
        )


class TestWindowedCounts:
    def test_stream_matches_batch(self, spark, tmp_path, sf_dir):
        events = read_table(spark, sf_dir, "events")
        batch_out = {
            (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
            for r in windowed_event_counts(events, "ts", "event_type", "1 hour").collect()
        }

        # Same function over readStream + watermark, drained with
        # availableNow into a memory sink.
        src_dir = str(tmp_path / "events_stream")
        events.write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        agg = windowed_event_counts(stream, "ts", "event_type", "1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        stream_out = {
            (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        assert stream_out == batch_out


class TestDedupAdmitStream:
    def test_stream_admits_and_gates_near_dups(self, spark, tmp_path):
        from presencia_etl_spark.operators import dedup_index
        from presencia_etl_spark.streaming.micro_batch import dedup_admit_stream

        base = (
            "the quick brown fox jumps over the lazy dog while the cat "
            "sleeps nearby in the warm afternoon sun"
        )
        idx = str(tmp_path / "idx")
        src = str(tmp_path / "incoming")
        target = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")

        history = spark.createDataFrame(
            [(0, base), (1, "unrelated seed document about shuffle hash joins")],
            ["doc_id", "text"],
        )
        dedup_index.build_minhash_index(spark, history, "doc_id", "text", idx)

        b1 = spark.createDataFrame(
            [
                (100, base.replace("lazy", "sleepy")),  # near-dup of history
                (101, "fresh essay on watermarks and late arriving events"),
            ],
            ["doc_id", "text"],
        )
        b1.write.mode("append").parquet(src)
        q = dedup_admit_stream(
            spark, src, b1.schema, "doc_id", "text", idx, target, ckpt,
            est_threshold=0.5,
        )
        q.awaitTermination(120)
        assert [r["doc_id"] for r in spark.read.parquet(target).collect()] == [101]

        # Batch 2: near-dup of the ADMITTED streamed doc + replay of 101.
        b2 = spark.createDataFrame(
            [
                (200, "fresh essay on watermarks and late arriving event streams"),
                (101, "fresh essay on watermarks and late arriving events"),
                (201, "entirely new corpus entry describing salted aggregations"),
            ],
            ["doc_id", "text"],
        )
        b2.write.mode("append").parquet(src)
        q2 = dedup_admit_stream(
            spark, src, b1.schema, "doc_id", "text", idx, target, ckpt,
            est_threshold=0.5,
        )
        q2.awaitTermination(120)
        state = spark.read.parquet(target)
        ids = sorted(r["doc_id"] for r in state.collect())
        assert ids == [101, 201]  # 200 gated by 101's index entry; 101 not duplicated
        assert state.select("doc_id").distinct().count() == 2


class TestChangeFeedStream:
    def test_feed_streams_changes_exactly_once_with_tombstones(
        self, spark, tmp_path
    ):
        """The MOR delta log consumed as a Structured Streaming source:
        run 1 delivers the existing delta; run 2 (same checkpoint)
        delivers ONLY the new merge + delete events — no re-delivery —
        and a key updated-then-deleted in the window folds to one
        tombstone row carrying its pre-delete image."""
        from pyspark.sql import functions as F

        from presencia_etl_spark.sinks import mor
        from presencia_etl_spark.streaming.change_feed import mirror_mor_changes

        target = str(tmp_path / "mor")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        src = spark.range(0, 200).select(
            F.col("id").cast("string").alias("K"),
            (F.col("id") % 5).cast("string").alias("V"),
        )
        mor.merge_upsert_mor(spark, src, target, ["K"], num_buckets=4)
        m1 = src.withColumn(
            "V", F.when(F.col("K") == "7", F.lit("m1")).otherwise(F.col("V"))
        )
        mor.merge_upsert_mor(spark, m1, target, ["K"], num_buckets=4)  # seq 1

        q = mirror_mor_changes(spark, target, sink, ckpt)
        q.awaitTermination(120)
        got = spark.read.parquet(sink).collect()
        assert len(got) == 1
        assert got[0]["K"] == "7" and got[0]["_delta_seq"] == 1
        assert not got[0]["_deleted"]

        # New window: update K=9 (seq 2) then delete K=9 AND K=7 (seq 3).
        m2 = m1.withColumn(
            "V", F.when(F.col("K") == "9", F.lit("m2")).otherwise(F.col("V"))
        )
        mor.merge_upsert_mor(spark, m2, target, ["K"], num_buckets=4)  # seq 2
        mor.delete_keys_mor(
            spark, target,
            spark.createDataFrame([("9",), ("7",)], ["K"]), ["K"],
            compact_every=None,
        )  # seq 3

        q = mirror_mor_changes(spark, target, sink, ckpt)
        q.awaitTermination(120)
        rows = {
            (r["K"], r["_delta_seq"]): r for r in spark.read.parquet(sink).collect()
        }
        # Exactly-once: seq-1 event still singular.
        assert sum(1 for (k, s) in rows if s == 1) == 1
        # Latest-wins fold within the new micro-batch: K=9 arrives once,
        # as the seq-3 tombstone with its last value (the seq-2 update).
        assert ("9", 2) not in rows
        k9 = rows[("9", 3)]
        assert k9["_deleted"] and k9["V"] == "m2"
        k7 = rows[("7", 3)]
        assert k7["_deleted"] and k7["V"] == "m1"


class TestChangeFeedRetentionContract:
    def test_compaction_of_unprocessed_deltas_loses_them_keep_last_protects(
        self, spark, tmp_path
    ):
        """The documented retention contract, demonstrated both ways: a
        compaction that folds deltas a consumer hasn't processed loses
        those events to the stream (file gone before discovery), while
        keep_last retention holds the unprocessed window open — the CDF
        retention-hours / Kafka-retention analog the operator must size
        against consumer lag."""
        from pyspark.sql import functions as F

        from presencia_etl_spark.sinks import mor
        from presencia_etl_spark.streaming.change_feed import mirror_mor_changes

        src = spark.range(0, 100).select(
            F.col("id").cast("string").alias("K"),
            (F.col("id") % 5).cast("string").alias("V"),
        )

        def mutate(base, key, val):
            return base.withColumn(
                "V", F.when(F.col("K") == key, F.lit(val)).otherwise(F.col("V"))
            )

        # Case 1: compact-all BEFORE the consumer ever runs → the seq-1
        # event is folded into the base and never streams.
        t1 = str(tmp_path / "lossy")
        mor.merge_upsert_mor(spark, src, t1, ["K"], num_buckets=4)
        mor.merge_upsert_mor(spark, mutate(src, "3", "lost"), t1, ["K"],
                             num_buckets=4, compact_every=None)
        mor.compact_mor(spark, t1)  # folds seq 1, consumer hasn't run
        q = mirror_mor_changes(
            spark, t1, str(tmp_path / "s1"), str(tmp_path / "c1")
        )
        q.awaitTermination(120)
        import os

        sink1 = str(tmp_path / "s1")
        streamed = (
            spark.read.parquet(sink1).count() if os.path.isdir(sink1) and os.listdir(sink1) else 0
        )
        assert streamed == 0  # the event is gone from the log — documented loss

        # Case 2: keep_last=1 compaction retains the unprocessed delta;
        # the late consumer still receives it.
        t2 = str(tmp_path / "protected")
        mor.merge_upsert_mor(spark, src, t2, ["K"], num_buckets=4)
        mor.merge_upsert_mor(spark, mutate(src, "3", "kept"), t2, ["K"],
                             num_buckets=4, compact_every=None)
        mor.compact_mor(spark, t2, keep_last=1)
        q = mirror_mor_changes(
            spark, t2, str(tmp_path / "s2"), str(tmp_path / "c2")
        )
        q.awaitTermination(120)
        got = spark.read.parquet(str(tmp_path / "s2")).collect()
        assert len(got) == 1 and got[0]["K"] == "3" and got[0]["V"] == "kept"


class TestConsumerLagSizedCompaction:
    def test_lagging_consumer_plus_guarded_compaction_loses_zero_events(
        self, spark, tmp_path
    ):
        """consumer_progress reads an actual file-source checkpoint and
        sizes min-safe retention; compact_mor(consumer_checkpoints=...)
        refuses to fold past the consumer's cursor — a lagging consumer
        slows compaction, never loses events to it."""
        import os

        from pyspark.sql import functions as F

        from presencia_etl_spark.sinks import mor
        from presencia_etl_spark.streaming.change_feed import (
            consumer_progress,
            mirror_mor_changes,
        )

        src = spark.range(0, 100).select(
            F.col("id").cast("string").alias("K"),
            (F.col("id") % 5).cast("string").alias("V"),
        )

        def mutate(base, key, val):
            return base.withColumn(
                "V", F.when(F.col("K") == key, F.lit(val)).otherwise(F.col("V"))
            )

        t = str(tmp_path / "state")
        sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
        mor.merge_upsert_mor(spark, src, t, ["K"], num_buckets=4)
        m1 = mutate(src, "3", "m1")
        mor.merge_upsert_mor(spark, m1, t, ["K"],
                             num_buckets=4, compact_every=None)  # seq 1
        # Consumer processes seq 1, then falls behind.
        mirror_mor_changes(spark, t, sink, ckpt).awaitTermination(120)
        m2 = mutate(m1, "4", "m2")  # cumulative: one changed key per merge
        mor.merge_upsert_mor(spark, m2, t, ["K"],
                             num_buckets=4, compact_every=None)  # seq 2
        mor.merge_upsert_mor(spark, mutate(m2, "5", "m3"), t, ["K"],
                             num_buckets=4, compact_every=None)  # seq 3

        prog = consumer_progress(ckpt, t)
        assert prog["cursor"] == 1
        assert prog["unprocessed_live_seqs"] == [2, 3]
        assert prog["min_safe_keep_last"] == 2

        # Unguarded, keep_last=0 would fold ALL three deltas; the guard
        # raises it so the two unprocessed ones survive.
        r = mor.compact_mor(spark, t, consumer_checkpoints=[ckpt])
        assert r["keep_last_effective"] == 2
        assert r["deltas_folded"] == 1
        assert mor._delta_seqs(t) == [2, 3]

        # The lagging consumer resumes and receives EVERY missed event.
        mirror_mor_changes(spark, t, sink, ckpt).awaitTermination(120)
        got = {
            (row["K"], row["_delta_seq"]): row["V"]
            for row in spark.read.parquet(sink).collect()
        }
        assert got == {("3", 1): "m1", ("4", 2): "m2", ("5", 3): "m3"}

        # Fully caught up: the guard no longer constrains compaction.
        prog = consumer_progress(ckpt, t)
        assert prog["min_safe_keep_last"] == 0 and prog["cursor"] == 3
        r = mor.compact_mor(spark, t, consumer_checkpoints=[ckpt])
        assert r["deltas_folded"] == 2 and r["keep_last_effective"] == 0

    def test_compact_cli_honors_consumer_checkpoint(self, spark, tmp_path, capsys):
        """`compact --target DIR --consumer-checkpoint CKPT` — the lag
        guard reaches the CLI: an operator compacting from the command
        line with a lagging consumer's checkpoint gets keep_last raised,
        the unprocessed deltas survive, and the effective value is
        reported in the JSON result."""
        import json

        from pyspark.sql import functions as F

        from presencia_etl_spark.__main__ import main
        from presencia_etl_spark.sinks import mor
        from presencia_etl_spark.streaming.change_feed import mirror_mor_changes

        src = spark.range(0, 60).select(
            F.col("id").cast("string").alias("K"),
            F.lit("v0").alias("V"),
        )

        def mutate(base, key, val):
            return base.withColumn(
                "V", F.when(F.col("K") == key, F.lit(val)).otherwise(F.col("V"))
            )

        t = str(tmp_path / "state")
        sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
        mor.merge_upsert_mor(spark, src, t, ["K"], num_buckets=4)
        m1 = mutate(src, "3", "m1")
        mor.merge_upsert_mor(spark, m1, t, ["K"],
                             num_buckets=4, compact_every=None)  # seq 1
        mirror_mor_changes(spark, t, sink, ckpt).awaitTermination(120)
        m2 = mutate(m1, "4", "m2")
        mor.merge_upsert_mor(spark, m2, t, ["K"],
                             num_buckets=4, compact_every=None)  # seq 2
        mor.merge_upsert_mor(spark, mutate(m2, "5", "m3"), t, ["K"],
                             num_buckets=4, compact_every=None)  # seq 3

        assert main([
            "compact", "--target", t, "--consumer-checkpoint", ckpt,
        ]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        r = out["result"]
        assert r["kind"] == "mor"
        assert r["keep_last_effective"] == 2
        assert r["deltas_folded"] == 1
        assert mor._delta_seqs(t) == [2, 3]  # unprocessed deltas survive
        # The resumed consumer still receives every missed event.
        mirror_mor_changes(spark, t, sink, ckpt).awaitTermination(120)
        got = {
            (row["K"], row["_delta_seq"]): row["V"]
            for row in spark.read.parquet(sink).collect()
        }
        assert got == {("3", 1): "m1", ("4", 2): "m2", ("5", 3): "m3"}


class TestDriverMicroBatch:
    def test_tiny_batch_driver_merge_matches_spark(self, spark, tmp_path):
        """A KB-sized micro-batch re-wrapped as a driver-local frame (the
        foreachBatch body: ``limit(N + 1).toArrow()`` → ``createDataFrame``)
        lands through ``merge_upsert_mor``'s zero-job driver plane and
        produces the same state a Spark-path twin gets; absent-state,
        duplicate-key and oversized shapes run the Spark path."""
        import shutil

        from presencia_etl_spark.operators import cdc
        from presencia_etl_spark.sinks import driver_mor as dm
        from presencia_etl_spark.sinks.mor import merge_upsert_mor, read_mor

        t1, t2 = str(tmp_path / "drv"), str(tmp_path / "spk")
        base = spark.createDataFrame(
            [(i, f"t{i % 4}", float(i)) for i in range(200)],
            "event_id long, event_type string, v double",
        )
        r = merge_upsert_mor(spark, base, t1, ["event_id"], num_buckets=8,
                             compact_every=None)
        assert "driver" not in r  # the initial load is a Spark write
        shutil.copytree(t1, t2)
        batch = spark.createDataFrame(
            [(5, "mut", 9.5), (500, "new", 1.0)],
            "event_id long, event_type string, v double",
        )
        local = spark.createDataFrame(batch.limit(dm.DRIVER_BATCH_MAX_KEYS + 1).toArrow())
        r = merge_upsert_mor(spark, local, t1, ["event_id"], digest_prune=False,
                             compact_every=None)
        assert r["driver"] is True and (r["insert"], r["update"]) == (1, 1)
        r2 = merge_upsert_mor(spark, batch, t2, ["event_id"], digest_prune=False,
                              compact_every=None)
        assert "driver" not in r2 and (r2["insert"], r2["update"]) == (1, 1)
        v1 = {
            r["event_id"]: (r["event_type"], r["row_hash"])
            for r in read_mor(spark, t1).collect()
        }
        v2 = {
            r["event_id"]: (r["event_type"], r["row_hash"])
            for r in read_mor(spark, t2).collect()
        }
        assert v1 == v2 and v1[5][0] == "mut" and 500 in v1
        d1 = cdc.state_digest(
            read_mor(spark, t1).select(cdc.KEY_COL, "row_hash")
        )
        d2 = cdc.state_digest(
            read_mor(spark, t2).select(cdc.KEY_COL, "row_hash")
        )
        assert d1 == d2
        # duplicate keys within a batch decline to the Spark merge
        dm.decline_counts(reset=True)
        dup = spark.createDataFrame(spark.createDataFrame(
            [(7, "a", 1.0), (7, "b", 2.0)],
            "event_id long, event_type string, v double",
        ).toArrow())
        r = merge_upsert_mor(spark, dup, t1, ["event_id"], digest_prune=False,
                             compact_every=None)
        assert "driver" not in r and dm.decline_counts() == {"duplicate_keys": 1}
        # an oversized batch is not driver-local: no decline, Spark path
        big = spark.range(dm.DRIVER_BATCH_MAX_KEYS + 10).select(
            F.col("id").alias("event_id"),
            F.lit("x").alias("event_type"),
            F.lit(0.5).alias("v"),
        )
        assert big.limit(dm.DRIVER_BATCH_MAX_KEYS + 1).toArrow().num_rows > (
            dm.DRIVER_BATCH_MAX_KEYS
        )
        assert dm.local_rows(big) is None

    def test_stream_micro_batch_lands_on_driver_plane(
        self, spark, tmp_path, monkeypatch
    ):
        """The foreachBatch body hands a KB micro-batch to
        ``merge_upsert_mor`` as a driver-local frame, so it lands through
        the driver plane (``driver=True``) with zero merge-side Spark
        work — no hand-rolled collect-and-gate at the call site."""
        from presencia_etl_spark.sinks import driver_mor as dm
        from presencia_etl_spark.sinks.mor import merge_upsert_mor, read_mor

        src_dir, target = str(tmp_path / "in"), str(tmp_path / "state")
        schema = "event_id long, event_type string"
        merge_upsert_mor(
            spark,
            spark.createDataFrame([(i, "seed") for i in range(50)], schema),
            target, ["event_id"], num_buckets=4, compact_every=None,
        )
        spark.createDataFrame([(3, "mut"), (99, "new")], schema).write.parquet(src_dir)
        landed = []
        real = dm.trickle_merge

        def spy(*a, **kw):
            landed.append(real(*a, **kw))
            return landed[-1]

        monkeypatch.setattr(dm, "trickle_merge", spy)
        q = incremental_upsert_stream(
            spark, src_dir, spark.read.parquet(src_dir).schema, target,
            ["event_id"], str(tmp_path / "ckpt"), mode="mor",
        )
        q.awaitTermination(120)
        assert [(r["driver"], r["insert"], r["update"]) for r in landed] == [
            (True, 1, 1)
        ]
        got = {r["event_id"]: r["event_type"] for r in read_mor(spark, target).collect()}
        assert len(got) == 51 and got[3] == "mut" and got[99] == "new"
