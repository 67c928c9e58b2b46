"""Outside-in spans around the benchmark's calls into the package.

Each call the benchmark makes into a public function of
``presencia_etl_spark`` goes through :meth:`Tracer.call`. With tracing off
that is a plain call. With tracing on it records, per span name:

- ``calls`` and per-call ``wall_s``;
- Spark ``jobs``, ``stages``, ``tasks`` and ``failed_tasks``. Jobs are the
  range of job ids launched while the span ran, on every thread: a
  per-thread job group would miss the jobs ``run_per_table`` launches from
  its pool threads;
- ``spark_s`` (union of those jobs' run intervals) and ``driver_s`` (the
  rest of the span);
- ``bytes_written`` / ``files_written``: new or changed files under the
  span's target directories, by a walk before and after;
- rows changed and the plane that ran (``path``), read from the result dict;
- fast-path declines by reason (``driver_mor.decline_counts``).

``task_s``, ``shuffle_bytes`` and ``spill_bytes`` come from the Spark event
log, which only the traced run turns on (:func:`attribute_event_log`).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

_ROW_KEYS = ("insert", "update", "delete", "deleted", "upserts", "deletes")


def walk_files(dirs) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} for every file under ``dirs``."""
    out = {}
    for d in dirs:
        for root, _subdirs, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files in ``after`` that are new or changed."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed), len(changed)


def rows_changed(result) -> int:
    """Sum the change counters of a sink/plan result dict (nested per
    table for the registry syncs)."""
    if isinstance(result, dict):
        n = 0
        for k, v in result.items():
            if k in _ROW_KEYS and isinstance(v, int):
                n += v
            elif isinstance(v, dict):
                n += rows_changed(v)
        return n
    return 0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanStats:
    def __init__(self) -> None:
        self.walls: list[float] = []
        self.driver: list[float] = []
        self.spark_s = 0.0
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0
        self.bytes_written = self.files_written = self.rows = 0
        self.driver_path = 0
        self.declines: dict[str, int] = defaultdict(int)
        self.job_ids: list[tuple[str, int]] = []  # (application id, job id)
        self.task_s = 0.0
        self.shuffle_bytes = self.spill_bytes = 0

    def summary(self) -> dict:
        n = len(self.walls)
        return {
            "calls": n,
            "wall_s": statistics.median(self.walls) if n else 0.0,
            "driver_s": statistics.median(self.driver) if n else 0.0,
            "spark_s": self.spark_s / n if n else 0.0,
            "jobs": self.jobs / n if n else 0.0,
            "stages": self.stages / n if n else 0.0,
            "tasks": self.tasks / n if n else 0.0,
            "failed_tasks": self.failed_tasks,
            "bytes_written": self.bytes_written / n if n else 0.0,
            "files_written": self.files_written / n if n else 0.0,
            "rows": self.rows / n if n else 0.0,
            "driver_share": self.driver_path / n if n else 0.0,
            "declines": sum(self.declines.values()),
            "declines_by_reason": dict(self.declines),
            "task_s": self.task_s / n if n else 0.0,
            "shuffle_bytes": self.shuffle_bytes / n if n else 0.0,
            "spill_bytes": self.spill_bytes / n if n else 0.0,
        }


class Tracer:
    """Wraps package calls in spans when ``enabled``; ``spark`` is a
    zero-argument callable returning the current session (set-up restarts
    it)."""

    def __init__(self, enabled: bool, spark) -> None:
        self.enabled = enabled
        self._spark = spark
        self.phase = "setup"
        self.spans: dict[str, SpanStats] = defaultdict(SpanStats)

    def _sc(self):
        s = self._spark()
        return None if s is None else s.sparkContext._jsc.sc()

    def call(self, name: str, fn, *args, targets=(), **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        from presencia_etl_spark.sinks import driver_mor

        key = name if self.phase == "run" else f"{self.phase}.{name}"
        sc = self._sc()
        j0 = sc.dagScheduler().nextJobId() if sc is not None else None
        driver_mor.decline_counts(reset=True)
        before = walk_files(targets)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - p0
            t1 = time.time()
            self._record(key, sc, j0, t0, t1, wall, before, targets)
        st = self.spans[key]
        st.rows += rows_changed(result)
        if isinstance(result, dict) and result.get("path") == "driver":
            st.driver_path += 1
        return result

    def _record(self, key, sc, j0, t0, t1, wall, before, targets) -> None:
        from presencia_etl_spark.sinks import driver_mor

        st = self.spans[key]
        st.walls.append(wall)
        for reason, n in driver_mor.decline_counts(reset=True).items():
            st.declines[reason] += n
        nbytes, nfiles = written_since(before, walk_files(targets))
        st.bytes_written += nbytes
        st.files_written += nfiles
        sc = sc or self._sc()
        if sc is None:
            st.driver.append(wall)
            return
        if j0 is None:
            j0 = 0
        j1 = sc.dagScheduler().nextJobId()
        app = sc.applicationId()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        intervals = []
        for j in range(j0, j1):
            try:
                jd = store.job(j)
            except Exception:  # evicted from the store: counted, untimed
                st.jobs += 1
                continue
            st.jobs += 1
            st.job_ids.append((app, j))
            st.stages += jd.stageIds().size() - jd.numSkippedStages()
            st.tasks += jd.numTasks() - jd.numSkippedTasks()
            st.failed_tasks += jd.numFailedTasks()
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                a = max(sub.get().getTime() / 1000.0, t0)
                b = min(end.get().getTime() / 1000.0, t1)
                if b > a:
                    intervals.append((a, b))
        spark_s = min(_union_s(intervals), wall)
        st.spark_s += spark_s
        st.driver.append(wall - spark_s)

    def summaries(self) -> dict[str, dict]:
        return {k: v.summary() for k, v in sorted(self.spans.items())}


def attribute_event_log(log_dir: str, spans: dict[str, SpanStats]) -> None:
    """Add task time, shuffle bytes (read + written) and spill bytes from
    the Spark event logs in ``log_dir`` (one per session, named by
    application id) to the span owning each job."""
    owner = {j: st for st in spans.values() for j in st.job_ids}
    for name in sorted(os.listdir(log_dir)):
        app = name.split(".")[0]
        stage_owner: dict[int, SpanStats] = {}
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    st = owner.get((app, ev["Job ID"]))
                    if st is not None:
                        for s in ev.get("Stage IDs", []):
                            stage_owner[s] = st
                elif kind == "SparkListenerTaskEnd":
                    st = stage_owner.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if st is None or not m:
                        continue
                    st.task_s += m.get("Executor Run Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    st.shuffle_bytes += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
