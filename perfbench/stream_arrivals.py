"""``stream_arrivals``: completed capture files arriving in a watched directory.

- Cold call: one file is dropped in and ``run_udm_stream`` runs once on a
  fresh session.
- Burst phase: ``BURST_FILES`` rotation-sized files (and one corrupt-root
  file) land at once, like the backlog a restarted service finds after an
  outage, and one call drains them.  The drain also settles the JIT before
  the steady phase: without it, call walls fall by a quarter over the first
  steady calls.
- Steady phase, open loop: a generator thread renames one completed
  capture into the watched directory every ``INTERVAL_S`` seconds, on a
  schedule that does not wait for the system, for the run's seconds.  The
  main thread calls ``run_udm_stream`` again and again on one checkpoint
  whenever an uncommitted file is present.  A file's latency runs from
  its scheduled arrival to the return of the call that committed it; the
  checkpoint's file-source log says which call that was.

The output table is then checked against the corpus ledger: every file's
rows present once, no duplicates, and per-file metric rows that add up.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

from perfbench import captures
from perfbench.etl_batch import layer_probes
from perfbench.harness import PROC_TIME, measured_loop, median, percentile

# One rotated capture every 0.5 s.  With 2,000-packet files a call takes
# ~2 s for four files on a 4-core host, the default trigger size's limit,
# and the backlog grows once the host slows; at 500 packets a call takes
# ~1.2 s for two or three files, and the fixed per-trigger cost sets latency.
INTERVAL_S = 0.5
FILE_PACKETS = 500
BURST_FILES = 31


class Arrivals(threading.Thread):
    """Renames ``names`` from ``src`` into ``dst`` on a fixed schedule."""

    def __init__(self, names: list[str], src: str, dst: str, t0: float) -> None:
        super().__init__(daemon=True)
        self.names, self.src, self.dst, self.t0 = names, src, dst, t0
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.arrived = 0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, name in enumerate(self.names):
                due = self.t0 + i * INTERVAL_S
                delay = due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                os.rename(os.path.join(self.src, name), os.path.join(self.dst, name))
                self.late.append(time.monotonic() - due)
                self.due[name] = due
                self.arrived += 1
        except BaseException as exc:  # noqa: BLE001 - surfaced by the main thread
            self.error = exc


class Committed:
    """Reads the file-source log under the checkpoint: which files each
    micro-batch took."""

    def __init__(self, checkpoint: str) -> None:
        self.dir = os.path.join(checkpoint, "sources", "0")
        self.batch_of: dict[str, int] = {}

    def poll(self) -> dict[str, int]:
        """Files committed since the last poll, with their batch id."""
        new = {}
        if not os.path.isdir(self.dir):
            return new
        for entry in os.listdir(self.dir):
            if entry.startswith("."):
                continue
            with open(os.path.join(self.dir, entry)) as fh:
                for line in fh:
                    if not line.startswith("{"):
                        continue
                    rec = json.loads(line)
                    name = os.path.basename(rec["path"])
                    if name not in self.batch_of:
                        self.batch_of[name] = new[name] = rec["batchId"]
        return new


def run(ctx) -> dict:
    from chronicle_sniffer_spark.streaming import udm_pipeline

    tr = ctx.tracer
    staging = os.path.join(ctx.work, "in", "staging")
    watch = os.path.join(ctx.work, "in", "watch")
    out = os.path.join(ctx.work, "out")
    ckpt = os.path.join(ctx.work, "checkpoint")
    os.makedirs(watch)
    n_steady = math.ceil(ctx.seconds / INTERVAL_S)
    ledger = captures.json_corpus(staging, ctx.seed, n_steady + 1, FILE_PACKETS, "steady", False)
    burst = captures.json_corpus(staging, ctx.seed, BURST_FILES, FILE_PACKETS, "burst")
    ledger.update(burst)
    steady_names = sorted(n for n in ledger if n.startswith("steady"))
    cold_name, steady_names = steady_names[0], steady_names[1:]
    committed = Committed(ckpt)
    listener = None
    if tr.enabled:
        from perfbench.harness import ProgressListener

        listener = ProgressListener(ctx.spark)
        tr.wrap(udm_pipeline, "project_udm", "udm.project_udm")

    def call() -> dict:
        t = time.perf_counter()
        with tr.span("streaming.run_udm_stream"):
            udm_pipeline.run_udm_stream(ctx.spark, watch, out, PROC_TIME, checkpoint_dir=ckpt)
        wall = time.perf_counter() - t
        new = committed.poll()
        return {"wall": wall, "ret": time.monotonic(), "files": new, "batches": len(set(new.values()))}

    # cold call
    os.rename(os.path.join(staging, cold_name), os.path.join(watch, cold_name))
    cold = call()
    done = {cold_name}

    # burst phase
    log_start = ctx.log.offset()
    since = time.time()
    t0 = time.perf_counter()
    for name in sorted(burst):
        os.rename(os.path.join(staging, name), os.path.join(watch, name))
    burst_calls = 0
    while not set(burst) <= done:
        done.update(call()["files"])
        burst_calls += 1
        if burst_calls > 20:
            raise RuntimeError("burst did not drain")
    drain_s = time.perf_counter() - t0
    burst_window = (since, time.time())
    burst_pkts = sum(e["packets"] for e in burst.values())

    # steady phase
    gen = Arrivals(steady_names, staging, watch, time.monotonic() + INTERVAL_S)
    steady_start = time.time()
    gen.start()
    backlog = []  # steady files arrived but not committed when the generator ended

    def steady_call() -> dict:
        """Waits until an uncommitted steady file is present, then calls."""
        while True:
            if gen.error is not None:
                raise gen.error
            pending = gen.arrived - len(done.intersection(steady_names))
            if not backlog and not gen.is_alive():
                backlog.append(pending)
            if pending > 0:
                break
            if time.monotonic() > gen.t0 + ctx.seconds + 120:
                raise RuntimeError("steady phase did not drain")
            time.sleep(0.005)
        c = call()
        done.update(c["files"])
        return c

    traced, untraced = measured_loop(tr, steady_call, lambda n: not set(steady_names) <= done)
    calls = traced + untraced
    gen.join()
    backlog_end = backlog[0] if backlog else 0
    steady_window = (steady_start, time.time())
    ret_of = {}
    for c in calls:
        for name in c["files"]:
            ret_of[name] = c["ret"]
    latencies = [ret_of[n] - gen.due[n] for n in steady_names]
    log_end = ctx.log.offset()

    failures: list[str] = []
    failed = _check(out, ledger, failures)
    res = {
        "attempted": len(ledger),
        "failed": failed,
        "failures": failures,
        "e2e": {
            "cold_s": cold["wall"],
            "warm_s": percentile(latencies, 50),
            "throughput_per_s": burst_pkts / drain_s,
        },
        "named": {
            "stream.file_latency_p50_s": (percentile(latencies, 50), "s"),
            "stream.file_latency_p90_s": (percentile(latencies, 90), "s"),
            "stream.latency_samples": (len(latencies), "count"),
            "stream.drain_pkts_per_s": (burst_pkts / drain_s, "1/s"),
        },
        "info": {
            "steady_files": len(steady_names),
            "steady_calls": len(calls),
            "burst_calls": burst_calls,
            "interval_s": INTERVAL_S,
            "steady_call_walls_s": [c["wall"] for c in calls],
        },
        "windows": [steady_window, burst_window],
        "log_window": (log_start, log_end),
        "units": 1,
    }
    if tr.enabled:
        walls = [c["wall"] for c in calls]
        builds = tr.named("udm.project_udm", since)
        layers = {
            "streaming.udm_pipeline.call_s": median(walls),
            "streaming.udm_pipeline.batches_per_call": sum(c["batches"] for c in calls) / len(calls),
            "stream.gen_lateness_p90_s": percentile(gen.late, 90),
            "stream.backlog_end_files": backlog_end,
            "udm.build_s": median([s["end"] - s["start"] for s in builds]),
            "udm.build_py4j_calls": median([s["py4j_calls"] for s in builds]),
            "trace.overhead_ratio": median([c["wall"] for c in traced])
            / median([c["wall"] for c in untraced]),
            # share of the steady phase spent inside run_udm_stream calls
            "trace.self_time_coverage": sum(walls) / (steady_window[1] - steady_window[0]),
        }
        time.sleep(1.0)  # let the last progress events reach the listener
        for ph, ms in listener.phase_means_ms().items():
            layers[f"streaming.udm_pipeline.trigger_ms.{ph}"] = ms
        layers.update(layer_probes(ctx, watch, None))
        res["layers"] = layers
    return res


def _check(out: str, ledger: dict, failures: list) -> int:
    """Files whose rows in the output table or metric rows disagree with the ledger."""
    import duckdb

    con = duckdb.connect()
    rows = dict(
        con.execute(
            "SELECT regexp_extract(source_file, '([^/]+)$', 1), count(*) FROM read_parquet("
            f"'{out}/udm_events/**/*.parquet', hive_partitioning = true) GROUP BY 1"
        ).fetchall()
    )
    metrics = {
        f: (p, e)
        for f, p, e in con.execute(
            "SELECT file, sum(processed_packet_count), sum(error_event_count) "
            f"FROM read_parquet('{out}/file_metrics/*.parquet') GROUP BY 1"
        ).fetchall()
    }
    bad = set()
    for name, entry in ledger.items():
        if rows.get(name) != entry["packets"]:
            failures.append(f"stream: {name} has {rows.get(name)} rows, ledger {entry['packets']}")
            bad.add(name)
        if metrics.get(name) != (entry["packets"], entry["errors"]):
            failures.append(f"stream: {name} metrics {metrics.get(name)} != ledger")
            bad.add(name)
    extra = set(rows) - set(ledger)
    if extra:
        failures.append(f"stream: unexpected source files {sorted(extra)}")
    return len(bad) + len(extra)
