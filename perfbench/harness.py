"""Run plumbing shared by the workloads: the Spark session (started the
way the library's own ``get_spark`` starts it, with every scratch path
inside the run's work directory), the closed-loop recorder with its
outside-in counters, and a resident-memory sampler.
"""

from __future__ import annotations

import os
import shlex
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from perfbench import metrics
from perfbench.spans import SpanLog


class CheckFailed(AssertionError):
    """An output did not match the generator's expected value."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


# --------------------------------------------------------------------- #
# Spark session
# --------------------------------------------------------------------- #

def start_spark(work: str, cpus: int, event_log: str | None):
    """Start a session through ``lazy_frame_spark.session.get_spark``.

    Launcher settings go through ``PYSPARK_SUBMIT_ARGS`` so the library's
    own session configuration is what gets measured; they only move
    scratch files (JVM temp, Spark local dirs, the event log) into
    ``work`` and silence the console progress bar."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--driver-java-options", java_opts,
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.local.dir={tmp}"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_log}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts   # the JVM that builds the command
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from lazy_frame_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the launcher JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------- #
# resident memory
# --------------------------------------------------------------------- #

def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Tracks peak resident memory on a background thread, every
    ``period`` s: the Python driver's and the driver JVM's own peaks (the
    kernel's VmHWM, so spikes between reads still count), and the JVM's
    Python workers as the largest sampled sum of proportional set sizes.

    ``peak`` is driver + JVM. The workers' figure is reported beside it,
    not in it: it swings by about 1 GB with how many workers the scheduler
    happens to fork for one Arrow stage (each imports pandas and pyarrow
    after the fork), which has nothing to do with the library's memory
    use. A JVM copy caught between fork and exec is not a worker."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_split = dict.fromkeys(("driver", "jvm", "workers"), 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _sample(self) -> None:
        me, split = os.getpid(), self.peak_split
        split["driver"] = max(split["driver"], _status_kb(me, "VmHWM:") * 1024)
        for jvm in _children(me):
            if "java" not in _cmdline(jvm):
                continue
            split["jvm"] = max(split["jvm"], _status_kb(jvm, "VmHWM:") * 1024)
            workers, todo = 0, _children(jvm)
            while todo:
                pid = todo.pop()
                if "pyspark" in _cmdline(pid):
                    workers += _pss_kb(pid) * 1024
                    todo.extend(_children(pid))
            split["workers"] = max(split["workers"], workers)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    @property
    def peak(self) -> int:
        return self.peak_split["driver"] + self.peak_split["jvm"]

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------- #
# closed-loop recorder
# --------------------------------------------------------------------- #

class Recorder:
    """Counts operations and failures, times calls into the library and,
    when tracing, records a span per call with outside-in counters:
    Spark jobs and tasks from the status tracker and the persistent-RDD
    count after the call. Untraced, a call costs two clock reads."""

    def __init__(self, spark, trace: bool, seconds: float) -> None:
        self.spark = spark
        self.trace = trace
        #: the measured work's length; workloads turn it into a fixed
        #: count of cycles or rounds
        self.seconds = seconds
        self.log = SpanLog()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.calls: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.counting = False
        self._op = None

    # -- status tracker ------------------------------------------------ #
    def _job_ids(self) -> set[int]:
        st = self.spark.sparkContext.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        if self._op is not None:
            ids.update(st.getJobIdsForGroup(f"op-{self._op.op_id}"))
        return ids

    def _tasks(self, job_ids) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                n += stage.numCompletedTasks if stage else 0
        return n

    def pins(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # -- operations and calls ------------------------------------------ #
    @contextmanager
    def op(self, name: str):
        """One operation of the warm-up or the closed loop. An exception or
        failed check inside it counts the operation as failed; the run
        goes on."""
        self.attempted += 1
        span = (self.log.open(name, "perfbench", new_op=True, counted=self.counting)
                if self.trace else None)
        if span is not None:
            self._op = span
            self.spark.sparkContext.setJobGroup(f"op-{span.op_id}", name)
        try:
            yield
        except Exception:
            self.failed += 1
            print(f"[perfbench] op {name} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
        finally:
            if span is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.log.close(span)
                self._op = None

    @contextmanager
    def call(self, name: str, layer: str, **attrs):
        """Time one call into ``layer``. The yielded dict takes extra
        attributes (returned stats, row counts) from the caller."""
        rec = dict(attrs, name=name, layer=layer)
        span = before = pins0 = None
        if self.trace:
            before, pins0 = self._job_ids(), self.pins()
            span = self.log.open(name, layer, counted=self.counting, **attrs)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            if span is not None:
                self.log.close(span)
        ms = (time.perf_counter() - t0) * 1e3
        if span is not None:
            new = sorted(self._job_ids() - before)
            rec.update(span_id=span.span_id, jobs=len(new), tasks=self._tasks(new),
                       pins_before=pins0, pins_after=self.pins())
        rec.update(ms=ms, counted=self.counting)
        self.calls.append(rec)
        if self.counting:
            self.samples[name].append(ms)


def timing(values: list[float]) -> dict:
    """Median, tail percentile and count of a list of timings."""
    pct, tail = metrics.tail(values)
    return {"p50": metrics.median(values), "tail": tail, "tail_pct": pct,
            "n": len(values)}
