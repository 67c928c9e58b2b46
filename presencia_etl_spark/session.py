"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for correctness-at-scale first:

- AQE on (runtime re-plan: coalesce small shuffle partitions, skew-join
  splitting, dynamic broadcast) — replaces every hand-tuned physical
  discipline the reference hard-codes (batching, key-map builds).
- ``spark.sql.session.timeZone=UTC`` so timestamp arithmetic (year/month/
  date_format) is deterministic and matches the DuckDB oracle, which treats
  parquet timestamps as naive wall-clock.
- Arrow enabled for any pandas interchange (extension operators).
- ``spark.sql.shuffle.partitions`` is env-tunable: 32 for local[32] tests;
  on a real cluster set it ≈ 2-3× total cores or rely on AQE coalescing.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession


def _cgroup_limit_kb() -> int | None:
    """The container memory limit in KiB, or None when unlimited /
    unreadable. /proc/meminfo shows HOST RAM even inside a memory-limited
    container (cgroups don't virtualize it), so sizing from it alone would
    hand a 4 GiB container a 32 GiB -Xmx on a big host — the exact
    OOM-kill this sizing exists to prevent."""
    for path in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            raw = open(path).read().strip()
            if raw == "max":
                continue
            val = int(raw)
            # v1 reports "unlimited" as a huge page-rounded sentinel.
            if 0 < val < 1 << 58:
                return val // 1024
        except Exception:
            continue
    return None


def _heap_for_kb(kb: int) -> str:
    """¼ of ``kb`` capped at 32g, floored at 4g only when the total is at
    least 8 GiB — a 4 GiB box must not get a heap equal to ALL its
    memory (the old unconditional 4g floor did exactly that)."""
    gb = min(32, max(1, kb // (4 * 1024 * 1024)))
    if gb < 4 and kb >= 8 * 1024 * 1024:
        gb = 4
    return f"{gb}g"


def _default_heap() -> str:
    """Driver/cluster heap for local mode: sized from EFFECTIVE RAM — the
    smaller of host MemTotal and the cgroup limit. Falls back to 8g when
    unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
        cg = _cgroup_limit_kb()
        if cg is not None:
            kb = min(kb, cg)
        return _heap_for_kb(kb)
    except Exception:
        return "8g"


def get_spark(
    app_name: str = "presencia-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces partitions DOWN, never up: the static shuffle width
        # is a CEILING on parallelism and a FLOOR on partition size. Start
        # fine-grained so corpus-scale shuffles don't spill at the static
        # width (measured: a 60M-row classify join at width 16 spilled to
        # 130 s; at initial 256 AQE keeps wide stages wide and still
        # coalesces small frames to a few reducers — 84 s, and the 60M MOR
        # load halved). On a real cluster size this ≈ 2-4× total cores.
        # Never BELOW the static width: a deployment setting
        # shuffle_partitions=1024 (2-3x cores on a big cluster) must not
        # have AQE silently start at 256 and cap parallelism.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                max(
                    int(os.environ.get("SPARK_GRAFT_AQE_INITIAL_PARTITIONS", "256")),
                    shuffle_partitions,
                )
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Partition discovery: below this many paths the driver lists
        # directories itself instead of launching a distributed listing
        # job. The default (32) makes EVERY read of a bucketed state
        # (256 _kb= dirs) pay a full job — 256 tasks each statting one
        # local dir, ~0.7-2 s of pure scheduling per merge/scan (r13
        # profile). Listing ≤1k dirs driver-side is milliseconds on any
        # FS; tables wider than the threshold still use the parallel
        # path, and manifest-backed formats bypass listing entirely.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PAR_DISCOVERY_THRESHOLD", "1024"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        # local[N] runs executors INSIDE the driver JVM: this one value is
        # the whole cluster's heap. 8g OOMed the 60M-row merge with 32
        # concurrent tasks' write buffers; size from the HOST (¼ of RAM,
        # clamped to [4g, 32g]) so a small container isn't handed an -Xmx
        # past its cgroup limit (JVM growth past the limit = OOM-kill, not
        # spill).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap())
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/presencia-spark-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# The conf a trickle plan runs with. Trickle plans are the steady-state
# loops (the admit loop, an incremental refresh) whose every frame is
# KB-sized and whose join strategy is decided statically (broadcast
# hints, In-pushdown). Three session knobs cost such plans more than
# they buy:
# - AQE launches a separate Spark job per exchange it re-plans (~0.1 s
#   fixed latency each, ~10 per admit batch measured) for decisions the
#   plan already made;
# - a LIMIT collect ramps over several jobs (1 partition, then 4x...);
#   scanning everything in one job is cheaper when 'everything' is one
#   small batch;
# - the session shuffle width launches more tasks than there are rows
#   to shuffle.
TRICKLE_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.limit.initialNumPartitions": "100000",
    "spark.sql.shuffle.partitions": "8",
}
# Guards the cached child and its mirror bookkeeping; no query runs under it.
_TRICKLE_LOCK = threading.Lock()


def trickle_session(spark: SparkSession) -> SparkSession:
    """The session to root TRICKLE plans in: one cached child of
    ``spark`` (``spark.newSession()`` — same SparkContext, table cache
    and JVM, its own SQL conf) with ``TRICKLE_CONF`` set once.

    SQL conf is per session, so a trickle plan never changes what a
    ``spark``-rooted query sees, on any thread, and corpus work needs no
    guard; a trickle plan may run anywhere, a ``run_per_table`` worker
    included. A plan runs under the conf of the session its frames were
    built in (a join takes its left input's), so a trickle plan builds
    every read from the returned session; ``in_session`` moves a frame
    built elsewhere.

    The child does not inherit runtime ``spark.conf.set`` values, so
    every call mirrors the parent's runtime SQL conf into it, the three
    trickle knobs excepted. One JVM ``equals`` per call detects a change;
    only then are the entries compared and the differing ones set.
    Called on a trickle session, returns it."""
    if getattr(spark, "_trickle_parent", None) is not None:
        return spark
    with _TRICKLE_LOCK:
        child = getattr(spark, "_trickle_child", None)
        if child is None:
            child = spark.newSession()
            for k, v in TRICKLE_CONF.items():
                child.conf.set(k, v)
            child._trickle_parent = spark
            child._mirrored = (None, child.conf.getAll)
            spark._trickle_child = child
        jnow = spark.conf._jconf.getAllAsJava()
        jseen, seen = child._mirrored
        if jseen is None or not jnow.equals(jseen):
            now = dict(jnow)
            for k in seen.keys() - now.keys() - TRICKLE_CONF.keys():
                child.conf.unset(k)
            for k, v in now.items():
                if k not in TRICKLE_CONF and seen.get(k) != v:
                    child.conf.set(k, v)
            child._mirrored = (jnow, now)
    return child


def in_session(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df``'s logical plan as a frame of ``spark``: planned and run
    under ``spark``'s conf from here on. The cache manager is shared by
    every session of one SparkContext, so a persisted frame moved this
    way still reads its cache. ``Dataset.ofRows`` is a JVM-internal
    entry point; ``tests/test_session.py`` pins that it still moves a
    frame."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)
