"""``catalog_mix``: a fixed list of catalog entries over seeded tables.

The entries and their consumption modes (noop sink or ``collect``) are in
``catalog_mix.json``; the run fails if any name is missing from
``registry()``.  Each entry is ``registry()[name].spark_fn(spark, dir)``
followed by its consumption.  The first pass is the cold one (codegen and
JIT) and collects every entry's result; warm passes use each entry's own
consumption mode and repeat until the run's seconds are spent.  After the
timed region the cold-pass rows are compared with each entry's DuckDB oracle
through ``canon.canon_rows``, as ``tools/check_correctness.py`` does; the two
rows-only entries are checked by row count.
"""

from __future__ import annotations

import glob
import json
import os
import time

from perfbench.harness import ROOT, for_seconds, geomean, measured_loop, median, noop
from perfbench.tables_gen import write_tables

SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_mix.json")
FIXTURES = os.path.join(ROOT, "tests", "fixtures")


def load_spec(reg: dict) -> tuple[float, list[dict]]:
    with open(SPEC) as fh:
        spec = json.load(fh)
    missing = [e["name"] for e in spec["entries"] if e["name"] not in reg]
    if missing:
        raise RuntimeError(f"catalog entries missing from registry(): {missing}")
    return spec["sf"], spec["entries"]


def _fixture_rows() -> dict[str, int]:
    """Rows the fixture corpus yields per file: one per packet, one for an
    unparseable file."""
    rows = {}
    for path in sorted(glob.glob(os.path.join(FIXTURES, "*.json"))):
        try:
            with open(path) as fh:
                doc = json.load(fh)
            rows[path] = len(doc) if isinstance(doc, list) else 1
        except ValueError:
            rows[path] = 1
    return rows


def _entry(ctx, entry: dict, data: str, phases: bool, consume: str) -> dict:
    tr = ctx.tracer
    spec = ctx.reg[entry["name"]]
    rows = None
    with tr.span("catalog.entry", entry=entry["name"]) as root:
        t0 = time.perf_counter()
        with tr.span("plans.build") as b:
            df = spec.spark_fn(ctx.spark, data)
        t1 = time.perf_counter()
        with tr.span("plans.consume"):
            if consume == "collect":
                rows = df.collect()
            else:
                noop(df)
        t2 = time.perf_counter()
    rec = {"df": df, "rows": rows, "wall": t2 - t0, "build": t1 - t0, "consume": t2 - t1}
    if root is not None:
        rec["build_py4j"] = b["py4j_calls"]
        rec["build_jobs"] = tr.jobs_in(b)
        if phases:
            rec["phases"] = _phases(df)
    return rec


def _phases(df) -> dict[str, float]:
    """Catalyst phase times from the QueryExecution tracker; forcing the
    executed plan completes the phases a noop write ran on its own copy."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    ph = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = ph.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def _pass(ctx, entries, data, phases=False, cold=False) -> dict:
    """One pass over the entries; the cold pass collects every result so
    it can be checked, warm passes use each entry's consumption mode."""
    start = time.time()
    recs = [_entry(ctx, e, data, phases, "collect" if cold else e["consume"]) for e in entries]
    return {"recs": recs, "sum": sum(r["wall"] for r in recs), "window": (start, time.time())}


def _canon(cols: list[str], rows: list[tuple]):
    from chronicle_sniffer_spark.canon import canon_rows

    return sorted(cols), canon_rows(cols, rows)


def _check(ctx, entries, recs, data, failures: list) -> int:
    """Compares each entry's cold-pass rows with its oracle."""
    import duckdb

    from chronicle_sniffer_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    fixture_rows = _fixture_rows()
    expected_rows = {
        "udm_projection": sum(fixture_rows.values()),
        "udm_per_file_metrics": len(fixture_rows),
    }
    failed = 0
    for entry, rec in zip(entries, recs):
        name = entry["name"]
        cols = rec["df"].columns
        rows = [tuple(r) for r in rec["rows"]]
        oracle = entry.get("oracle", ctx.reg[name].oracle)
        if oracle is None:
            if len(rows) != expected_rows[name]:
                failures.append(f"{name}: {len(rows)} rows, expected {expected_rows[name]}")
                failed += 1
            continue
        rel = con.sql(oracle)
        want = _canon(rel.columns, rel.fetchall())
        if _canon(cols, rows) != want:
            failures.append(f"{name}: result differs from its DuckDB oracle")
            failed += 1
    return failed


def run(ctx) -> dict:
    sf, entries = load_spec(ctx.reg)
    data = os.path.join(ctx.work, "catalog")
    write_tables(data, ctx.seed, sf)
    tr = ctx.tracer
    if tr.enabled:
        from chronicle_sniffer_spark import udm

        tr.wrap(udm, "project_udm", "udm.project_udm")

    t0 = time.perf_counter()
    cold = _pass(ctx, entries, data, cold=True)
    t1 = time.perf_counter()
    failures: list[str] = []
    failed = _check(ctx, entries, cold["recs"], data, failures)
    t2 = time.perf_counter()

    log_start = ctx.log.offset()
    since = time.time()
    measured, untraced = measured_loop(
        tr, lambda: _pass(ctx, entries, data, phases=tr.active), for_seconds(tr, ctx.seconds)
    )
    log_end = ctx.log.offset()
    t3 = time.perf_counter()
    walls = [median([p["recs"][i]["wall"] for p in measured]) for i in range(len(entries))]
    wall_s = sum(walls)
    geo_ms = geomean(walls) * 1e3
    n_passes = 1 + len(measured) + len(untraced)
    res = {
        "attempted": n_passes * len(entries),
        "failed": failed,
        "failures": failures,
        "e2e": {"cold_s": cold["sum"], "warm_s": wall_s, "throughput_per_s": 1e3 / geo_ms},
        "named": {
            "catalog.wall_s": (wall_s, "s"),
            "catalog.geomean_ms": (geo_ms, "ms"),
            "catalog.cold_wall_s": (cold["sum"], "s"),
        },
        "info": {
            "sf": sf,
            "entries": len(entries),
            "warm_passes": len(measured) + len(untraced),
            "entry_walls_s": {e["name"]: w for e, w in zip(entries, walls)},
            "cold_walls_s": {e["name"]: r["wall"] for e, r in zip(entries, cold["recs"])},
            "phase_s": {"cold": t1 - t0, "check": t2 - t1, "warm": t3 - t2},
        },
        "windows": [p["window"] for p in measured],
        "log_window": (log_start, log_end),
        "units": len(measured),
    }
    if tr.enabled:
        n = len(measured)

        def per_pass(key, sub=None):
            return sum(
                (r[key][sub] if sub else r[key]) for p in measured for r in p["recs"]
            ) / n

        builds = tr.named("udm.project_udm", since)
        res["layers"] = {
            "plans.build_s": per_pass("build"),
            "plans.build_py4j_calls": per_pass("build_py4j"),
            "plans.build_jobs": per_pass("build_jobs"),
            "plans.analysis_s": per_pass("phases", "analysis"),
            "plans.optimization_s": per_pass("phases", "optimization"),
            "plans.planning_s": per_pass("phases", "planning"),
            "plans.consume_s": per_pass("consume"),
            "udm.build_s": median([s["end"] - s["start"] for s in builds]),
            "udm.build_py4j_calls": median([s["py4j_calls"] for s in builds]),
            "trace.overhead_ratio": median([p["sum"] for p in measured])
            / median([p["sum"] for p in untraced]),
            "trace.self_time_coverage": _coverage(tr, since),
        }
    return res


def _coverage(tr, since: float) -> float:
    """Share of the entry spans' time covered by their build and consume spans."""
    own = tr.self_times(since)
    roots = tr.named("catalog.entry", since)
    total = sum(s["end"] - s["start"] for s in roots)
    return (total - sum(own[s["id"]] for s in roots)) / total
