"""The benchmark harness: session lifetime, timed and checked operations,
the measuring loop and the result line.

A workload (``perfbench/workloads/*.py``) supplies ``inputs`` (untimed),
``setup`` (timed, repeated ``SETUP_REPS`` times on a restarted session, the
last one kept), ``warmup`` (untimed), ``cycle`` (the fixed op sequence, run
``min_cycles`` times and then until ``--seconds`` have passed),
``finish`` (untimed checkpoints on the final state) and ``detail`` (the
workload's own metrics). Every program call goes through ``bench.call`` so
the traced run can wrap it in a span.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict

from spans import Tracer, attribute_event_log

SETUP_REPS = 3


def p50(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    {"pct", "value", "n"}; None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    return {"pct": math.floor(100 * (n - 10) / n), "value": s[n - 11], "n": n}


def fingerprint(df) -> tuple:
    """(rows, order-independent sum of row hashes) of a DataFrame."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, workload, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.tracer = Tracer(trace, lambda: self.spark)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.cycle_s: list[float] = []
        self.setup_s: list[float] = []
        self._in_cycle = 0.0
        self._t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"# perfbench {time.perf_counter() - self._t0:7.2f}s {what}", file=sys.stderr, flush=True)

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        """Start a session through the package's factory. The JVM stays up
        across :meth:`stop_session`; only the first start launches it."""
        from presencia_etl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = self.call(
            "session.get_spark",
            get_spark,
            app_name=f"perfbench-{self.workload.name}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def close(self) -> int:
        """Stop the session and the JVM, wait for it to exit; returns the
        JVM's peak RSS in KiB."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        hwm = _vm_hwm_kb(proc.pid) if proc is not None and proc.poll() is None else 0
        self.stop_session()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        return hwm

    # -- operations ----------------------------------------------------------

    def call(self, span: str, fn, *args, targets=(), **kwargs):
        return self.tracer.call(span, fn, *args, targets=targets, **kwargs)

    def op(self, kind: str | None, fn, check=None):
        """One attempted operation: ``fn()`` timed into ``samples[kind]``
        (untimed when ``kind`` is None), then ``check(result)`` — an
        exception or a falsy check is a failed operation. Returns the
        result, or None when the op raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:
            self._fail(kind or "check", traceback.format_exc())
            return None
        dt = time.perf_counter() - t0
        if kind is not None:
            self.samples[kind].append(dt)
            self._in_cycle += dt
        if check is not None:
            try:
                verdict = check(res)
            except Exception:
                verdict = traceback.format_exc()
            if verdict is not True:
                self._fail(kind or "check", f"check failed: {verdict!r}")
        return res

    def _fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        self.failures.append(f"{kind}: {msg}")
        print(f"# perfbench failure in {kind}: {msg}", file=sys.stderr)

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        """The whole run; the session and the JVM are stopped on every
        path out."""
        try:
            out = self._measure()
        finally:
            jvm_kb = self.close()
            self.log("closed")
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        out["peak_rss_mb"] = (jvm_kb + py_kb) / 1024.0
        if self.trace:
            attribute_event_log(self.event_log_dir, self.tracer.spans)
        return out

    def _measure(self) -> dict:
        wl = self.workload
        wl.inputs(self)
        st = None
        for i in range(SETUP_REPS):
            root = os.path.join(self.work, f"setup{i}")
            # the previous set-up's session is torn down outside the timing
            self.stop_session()
            t0 = time.perf_counter()
            self.start_session()
            st = wl.setup(self, root)
            self.setup_s.append(time.perf_counter() - t0)
            self.log(f"setup {i} took {self.setup_s[-1]:.2f}s")
        self.tracer.phase = "warmup"
        wl.warmup(self, st)
        self.samples.clear()
        # Start timing with nothing dirty in the page cache: writeback of
        # set-up files must not land inside a timed op, and deleting a file
        # that has reached disk costs far more than deleting one that has
        # not (online discard), so every run sees set-up files on disk.
        os.sync()
        self.log("warmed up")
        self.tracer.phase = "run"
        started = time.perf_counter()
        i = 0
        while i < wl.min_cycles or time.perf_counter() - started < self.seconds:
            self._in_cycle = 0.0
            wl.cycle(self, st, i)
            self.cycle_s.append(self._in_cycle)
            i += 1
            self.log(f"cycle {i} timed ops {self._in_cycle:.2f}s")
        self.tracer.phase = "finish"
        wl.finish(self, st)
        detail = wl.detail(self, st)
        self.log("checked")
        return {
            "setup_s": p50(self.setup_s),
            "run_s": p50(self.cycle_s),
            "query_p50_s": p50(self.samples["query"]),
            "cycles": i,
            "setup_reps_s": self.setup_s,
            "query_tail": tail(self.samples["query"]),
            "error_rate": self.failed / max(self.attempted, 1),
            "samples": dict(self.samples),
            **detail,
        }
