"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads: ``etl_batch``,
``stream_arrivals``, ``catalog_mix`` (see ``perfbench/README.md``).  Inputs
are generated from ``--seed`` before any timed region; every output is
checked after it.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The line
before it holds the workload's own figures, the host and the seed.

Working data lives in ``.bench_work/`` and is removed at exit; the traced
run's spans are written to ``.bench_out/``.  The Spark JVM's log goes to
``.bench_work/<run>/jvm.log`` and is echoed to stderr only on failure.
Exits 1 if a check fails, 2 if the program is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

WORKLOADS = ("etl_batch", "stream_arrivals", "catalog_mix")
SETUP_PROBES = 1  # cold set-ups in fresh processes, before the run's own


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    work: str
    spark: object
    reg: dict
    tracer: object
    log: object


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _measure(args, work: str, log) -> tuple[dict, dict]:
    import importlib

    from perfbench import harness
    from perfbench.metrics import E2E, EXEC, PER_LAYER

    trace = bool(args.trace)
    run_id = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    setups = harness.probe_setups(SETUP_PROBES)
    tracer = harness.Tracer(trace, args.workload, run_id)
    spark, reg, own = harness.timed_setup("perfbench")
    setups.append(own)
    if trace:
        tracer.spark = spark
    ctx = Ctx(args.workload, args.seed, args.seconds, work, spark, reg, tracer, log)
    t1 = time.perf_counter()
    res = importlib.import_module(f"perfbench.{args.workload}").run(ctx)
    t2 = time.perf_counter()
    rss = harness.jvm_peak_rss_mb(spark)
    harness.stop_spark(spark)
    res["info"]["phase_s"] = {"setups": t1 - t0, "workload": t2 - t1, "stop": time.perf_counter() - t2}

    attempted, failed = res["attempted"], res["failed"]
    named = dict(res["named"])
    named["ops_failed_ratio"] = (failed / attempted, "ratio")
    e2e = {"setup_s": harness.median([s["setup_s"] for s in setups]), **res["e2e"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": run_id,
        "host": harness.host_info(),
        **res["info"],
        "setup_samples_s": [s["setup_s"] for s in setups],
        "jvm_peak_rss_mb": rss,
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "failures": res["failures"],
    }
    if not trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    else:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["jvm_peak_rss_mb"] = rss
        layers["session.get_spark_s"] = harness.median([s["get_spark_s"] for s in setups])
        layers["session.registry_s"] = harness.median([s["registry_s"] for s in setups])
        layers.update({k: v for k, (v, _) in named.items()})
        start, end = res["log_window"]
        layers["udm.wscg_fallbacks"] = log.count(harness.LOG_WSCG_DISABLED, start, end) / res["units"]
        layers["udm.codegen_compile_failures"] = (
            log.count(harness.LOG_COMPILE_FAILED, start, end) / res["units"]
        )
        ex = harness.exec_metrics(os.path.join(work, "eventlog"), res["windows"])
        layers.update({k: ex[k] / res["units"] for k in EXEC})
        layers.update(res["layers"])
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics {sorted(unknown)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.dump(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}-{run_id}.jsonl"))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return detail, result


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "chronicle_sniffer_spark")):
        print("perfbench: chronicle_sniffer_spark/ not found beside perfbench/", file=sys.stderr)
        return 2
    from perfbench import harness

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}-{int(time.time())}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.prepare_env(work, bool(args.trace))
    log = harness.JvmLog(os.path.join(work, "jvm.log"))
    try:
        detail, result = _measure(args, work, log)
    except Exception:  # noqa: BLE001 - report and fail the run
        log.restore(echo_tail=60)
        traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    log.restore()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    if not result["correct"]:
        print("perfbench: output checks failed: " + "; ".join(detail["failures"]), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
