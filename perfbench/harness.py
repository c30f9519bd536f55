"""Shared machinery for the benchmark workloads.

- :func:`prepare_env` pins the host-honest environment before any JVM starts.
- :func:`timed_setup` is the set-up measurement (``get_spark`` plus the
  catalog ``registry()`` import); ``setup_probe.py`` runs it in fresh
  processes, one after another, so every sample is a cold start.
- :class:`Tracer` records spans (name, start, end, parent, workload, run
  id), py4j round trips, streaming progress and JVM log counts.  It is
  only active in the traced run (``--trace 1``); untraced runs pay for a
  no-op context manager per span.
- :func:`exec_metrics` reads executor task metrics from Spark's event
  log, which is enabled for the traced run only.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shlex
import statistics
import subprocess
import sys
import time

from perfbench.metrics import TRIGGER_PHASES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROC_TIME = "2025-09-05T12:00:00.000000Z"

# JVM log lines that mark a whole-stage codegen fallback
LOG_WSCG_DISABLED = "Whole-stage codegen disabled"
LOG_COMPILE_FAILED = "Failed to compile"


def host_cpus() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, trace: bool) -> None:
    """Environment for the program and every process it starts.

    Runs at ``SPARK_GRAFT_CPUS = nproc``, puts the checkout on the Python
    workers' path, leaves the JVM heap at the program's default, and
    keeps every working directory inside ``work``.  The event log is on
    for the traced run only."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    args = ["--driver-java-options", java_opts]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def timed_setup(app_name: str):
    """One set-up sample: ``get_spark`` then ``registry()``.  Returns the
    session, the registry and ``{"get_spark_s", "registry_s", "setup_s"}``."""
    t0 = time.perf_counter()
    from chronicle_sniffer_spark.session import get_spark

    spark = get_spark(app_name)
    t1 = time.perf_counter()
    from chronicle_sniffer_spark.plans import registry

    reg = registry()
    t2 = time.perf_counter()
    return spark, reg, {"get_spark_s": t1 - t0, "registry_s": t2 - t1, "setup_s": t2 - t0}


def probe_setups(n: int) -> list[dict]:
    """``n`` cold set-ups, each in a fresh process (``setup_probe.py``), run
    one after another."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "setup_probe.py")]
    out = []
    for _ in range(n):
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=120, check=True)
        out.append(json.loads(proc.stdout.decode().strip().splitlines()[-1]))
    return out


def stop_spark(spark) -> None:
    """Stops the session, then ends the Spark JVM (it exits when its stdin
    closes) and waits for it."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def host_info() -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": host_cpus(),
        "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Py4JCounter:
    """Counts synchronous Python->JVM round trips (py4j ``send_command``),
    the technique of ``tools/count_roundtrips.py``.  Calls made while
    ``paused`` (the tracer's own bookkeeping) are not counted."""

    def __init__(self) -> None:
        self.total = 0
        self.paused = False
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        counter = self

        def counting_send_command(client, command, *args, **kwargs):
            if not counter.paused:
                counter.total += 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = counting_send_command


class Tracer:
    """Spans kept in memory and written out by :meth:`dump`.

    ``enabled`` is False in untraced runs; :meth:`span` then costs one
    generator frame and records nothing.  ``active`` can be switched off
    inside a traced run to measure the same unit untraced."""

    def __init__(self, enabled: bool, workload: str, run_id: str) -> None:
        self.enabled = enabled
        self.active = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j = Py4JCounter() if enabled else None
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "run_id": self.run_id,
            **attrs,
        }
        rec["group"] = f"pb{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        before = self.py4j.total
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j.total - before
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec: dict | None) -> None:
        """Jobs started from here on carry ``rec``'s job group."""
        if self.spark is None:
            return
        self.py4j.paused = True
        try:
            if rec is None:
                self.spark.sparkContext._jsc.clearJobGroup()
            else:
                self.spark.sparkContext.setJobGroup(rec["group"], rec["name"])
        finally:
            self.py4j.paused = False

    def jobs_in(self, rec: dict) -> int:
        """Jobs Spark started under this span's job group."""
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(rec["group"]))

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Record a span around every call of ``module.attr`` (traced run only)."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def self_times(self, since: float = 0.0) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans if s["start"] >= since}
        for s in self.spans:
            if s["start"] >= since and s["parent"] in own:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def for_seconds(tracer: Tracer, seconds: float):
    """Loop condition for :func:`measured_loop`: run for ``seconds``, and at
    least once (four times in the traced run, one U T T U round)."""
    t_end = time.perf_counter() + seconds
    least = 4 if tracer.enabled else 1
    return lambda n: n < least or time.perf_counter() < t_end


def measured_loop(tracer: Tracer, unit, more) -> tuple[list, list]:
    """Runs ``unit()`` while ``more(n)`` holds, ``n`` being the units run so
    far.  Returns ``(measured, untraced)``: in an untraced run every unit is
    measured; in the traced run units run untraced and traced in the order
    U T T U, so warm-up drift cancels in the overhead ratio, and only the
    traced ones (which carry the spans) are in ``measured``."""
    measured, untraced = [], []
    while more(len(measured) + len(untraced)):
        i = len(measured) + len(untraced)
        tracer.active = tracer.enabled and i % 4 in (1, 2)
        try:
            out = unit()
        finally:
            traced, tracer.active = tracer.active, tracer.enabled
        (measured if traced or not tracer.enabled else untraced).append(out)
    return measured, untraced


class JvmLog:
    """The Spark JVM's stderr, redirected to a file so its log lines can be
    counted.  File descriptor 2 is swapped before the JVM starts, so the JVM
    and the Python workers inherit the file."""

    def __init__(self, path: str) -> None:
        self.path = path
        sys.stderr.flush()
        self._saved = os.dup(2)
        self._fh = open(path, "w")
        os.dup2(self._fh.fileno(), 2)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def count(self, needle: str, start: int, end: int) -> int:
        with open(self.path, "rb") as fh:
            fh.seek(start)
            chunk = fh.read(end - start)
        return chunk.count(needle.encode())

    def restore(self, echo_tail: int = 0) -> None:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._fh.close()
        if echo_tail:
            with open(self.path, errors="replace") as fh:
                lines = fh.readlines()
            sys.stderr.write("".join(lines[-echo_tail:]))


class ProgressListener:
    """Collects ``StreamingQueryProgress.durationMs`` per micro-batch."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        records = self.records = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                records.append(
                    {"batchId": p.batchId, "rows": p.numInputRows, "durationMs": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def phase_means_ms(self) -> dict[str, float]:
        out = {}
        for ph in TRIGGER_PHASES:
            vals = [r["durationMs"].get(ph, 0) for r in self.records]
            out[ph] = sum(vals) / len(vals) if vals else 0.0
        return out


def exec_metrics(eventlog_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Executor task metrics of the tasks launched inside ``windows``
    (epoch seconds), summed, from the finished event log."""
    keys = (
        "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "tasks", "tasks_failed",
    )
    tot = dict.fromkeys(keys, 0.0)
    spans_ms = [(a * 1000.0, b * 1000.0) for a, b in windows]
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(eventlog_dir)
        for f in files
        if not f.startswith("appstatus")
    ]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"]
                if not any(a <= launch <= b for a, b in spans_ms):
                    continue
                tot["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    tot["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                tot["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                tot["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return {f"spark.exec.{k}": v for k, v in tot.items()}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
