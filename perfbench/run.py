#!/usr/bin/env python3
"""Benchmark of the layered real-time warehouse.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (perfbench/README.md has the why,
the layers each one stresses and bypasses, and the predictions):

    warehouse_batch    ODS → DIM → DWD → DWS build, registered operator
                       queries, then ADS requests over HTTP
    stream_microbatch  six chained streaming queries, one micro-batch at a time

Inputs are generated from ``--seed`` into ``.bench_work/`` and removed at
the end. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics of
BENCHMARK.json untraced, its per-layer metrics traced. The full record
(stamps, calibration loops, per-layer numbers, spans and self times) is
written to ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUPS = 3  # session set-ups per run; setup_s is their median


def _workloads():
    from perfbench import wl_stream, wl_warehouse

    return {
        "warehouse_batch": wl_warehouse,
        "stream_microbatch": wl_stream,
    }


def _catalog() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _program_sha() -> str:
    """Content hash of the package sources: identifies the code measured
    even where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "realtime_datawarehouse_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return h.hexdigest()[:12]


def _calib_py() -> float:
    """Single-thread Python loop (the loop bench.py stamps)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    return time.perf_counter() - t0


def _calib_spark(spark) -> float:
    """Warm 50M-row range sum (the Spark loop bench.py stamps)."""
    rng = spark.range(50_000_000).selectExpr("sum(id) AS s")
    rng.write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    rng.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _setup(run, wl, ctx) -> tuple[float, float, float]:
    """SETUPS fresh sessions, each to its first job, then the workload's
    program-side start. Returns (setup_s, cold_s, start_s)."""
    from perfbench.harness import session_conf
    from realtime_datawarehouse_spark.session import build_session
    from realtime_datawarehouse_spark.tables import table

    times = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = build_session(
            app_name="perfbench", extra_conf=session_conf(run.work, run.traced)
        )
        spark.sparkContext.setLogLevel("ERROR")
        if ctx["sf"]:
            table(spark, ctx["sf"], "orders").count()
        else:
            spark.range(100_000).count()
        times.append(time.perf_counter() - t0)
        if k < SETUPS - 1:
            spark.stop()  # the JVM stays; the next session starts from it
    run.spark = spark
    t0 = time.perf_counter()
    with run.tracer.span("setup.start"):
        wl.start(run, ctx)
    start_s = time.perf_counter() - t0
    return median(times) + start_s, times[0], start_s


def _layer_of(span: str) -> str:
    head = span.split(".")[0]
    if span.startswith("ads.http"):
        return "serving_http"
    return {"wh": "warehouse", "ads": "serving", "tables": "tables",
            "q": "registry", "st": "streaming", "setup": "session"}.get(head, head)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import realtime_datawarehouse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(workloads)}", file=sys.stderr)
        return 2
    catalog = _catalog()

    from perfbench import harness
    from perfbench.stats import Outcomes, geomean, self_times, tail

    traced = bool(args.trace)
    run = harness.new_run(args.workload, args.seed, args.seconds, traced)
    harness.prepare_env(run.work)
    wl = workloads[args.workload]
    calib_py = _calib_py()
    phases = {"start": time.perf_counter()}
    ctx = wl.prepare(run)
    phases["inputs"] = time.perf_counter()
    spark = None
    try:
        setup_s, cold_setup_s, start_s = _setup(run, wl, ctx)
        spark = run.spark
        phases["setup"] = time.perf_counter()
        calib_spark = _calib_spark(spark)
        outcomes = Outcomes()
        phases["calib"] = time.perf_counter()
        res = wl.measure(run, ctx, outcomes)
        phases["measure"] = time.perf_counter()
        ops = res["ops"]
        tail_pct, tail_s = tail(ops)
        e2e = {
            "setup_s": setup_s,
            "op_p50_ms": 1000 * median(ops),
            "op_geomean_ms": 1000 * geomean(res.get("geomean_ops", ops)),
            "rows_per_s": res["rows_per_s"],
            "ok_ratio": outcomes.ok_ratio,
        }
        layer = res["per_layer"]() if traced else {}
        jvm = harness.jvm_pid()
        peak_rss_mb = harness.vm_hwm_mb() + (harness.vm_hwm_mb(jvm) if jvm else 0.0)
    finally:
        wl.stop(ctx)
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(run.work, ignore_errors=True)
        phases["teardown"] = time.perf_counter()

    if traced:
        tr = run.tracer
        for name, s in self_times(tr.spans).items():
            key = f"self.{_layer_of(name)}_s"
            layer[key] = layer.get(key, 0.0) + s
        layer["trace.bookkeeping_ms"] = 1000 * tr.bookkeeping_s
        layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        layer["op.tail_ms"] = 1000 * tail_s
        layer["setup.cold_s"] = cold_setup_s
        layer["setup.start_s"] = start_s
        layer["mem.peak_rss_mb"] = peak_rss_mb

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": harness.nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "scale": {k: getattr(v, "__dict__", v) for k, v in vars(wl).items()
                  if k.isupper()},
        "git_commit": harness.git_commit(), "program_sha": _program_sha(),
        "calib_py_loop_s": calib_py, "calib_spark_range_s": calib_spark,
        "phase_s": {k: phases[k] - phases[p] for p, k in zip(
            list(phases)[:-1], list(phases)[1:])},
        "ops": len(ops), "op_s": ops, "geomean_op_s": res.get("geomean_ops", ops),
        "tail_percentile": tail_pct, "peak_rss_mb": peak_rss_mb,
        "outcomes": outcomes.__dict__, "end_to_end": e2e, "per_layer": layer,
    }
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if traced:
        run.tracer.dump(os.path.join(results, stem + ".spans.json"))
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["op_p50_ms"]
            record["trace_overhead_pct"] = 100 * (e2e["op_p50_ms"] / base - 1)
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    wanted = catalog["per_layer"] if traced else catalog["end_to_end"]
    values = layer if traced else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    correct = outcomes.failed == 0
    print(json.dumps({k: record[k] for k in ("workload", "seed", "nproc",
                      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "git_commit", "program_sha",
                      "calib_py_loop_s", "calib_spark_range_s")}),
          file=sys.stderr)
    if outcomes.notes:
        print("perfbench failures: " + " | ".join(outcomes.notes), file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": outcomes.attempted,
        "failed": outcomes.failed, "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
