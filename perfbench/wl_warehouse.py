"""warehouse_batch: the layered warehouse's ODS → DIM → DWD → DWS build and
its ADS step, the registered operator queries over the same fixture, and
the ADS HTTP server under an open loop of dashboard users.

In order:

1. the operator queries' checked pass (``wl_queries.check``), untimed; it
   also warms the JVM;
2. the build — ``plans.warehouse`` ``build_ods``, ``build_dim``,
   ``build_dwd``, ``build_dws``, then ``ads_gmv`` for seed-chosen dates —
   once; its time gives ``rows_per_s``. Every layer's output is checked
   against DuckDB over the raw fixture;
3. the operator queries' timed passes, each followed by a segment of
   dashboard loads, so both figures sample the host over the same stretch
   of the run. The queries' geometric mean is ``op_geomean_ms``; the
   loads' median is ``op_p50_ms``.

A load is one user opening the dashboard for one seed-chosen date:
``/gmv`` and ``/province`` on ``serving_http.make_server``, requested
together. Loads start at one fixed rate below the server's capacity and
are timed from their due time to the later answer, so a stall is charged
to every load it delays. A few closed loads first warm the request path;
they are checked but not timed. Every payload is checked against DuckDB.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from statistics import median

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, oracle, wl_queries
from perfbench.harness import dir_stats, parquet_rows
from perfbench.stats import OpenLoop, Outcomes

SCALE = gen.Scale(orders=10_000, days=120)
ADS_DATES = 4       # seed-chosen dates of the build's ads_gmv step
BUILD_LIMIT_S = 120.0
LAYERS = ("ods", "dim", "dwd", "dws")
DATES = 8           # seed-chosen dates of the dashboard requests
ROUTES = ("/gmv", "/province")
WARMUP = 3          # closed, untimed dashboard loads before the loop
LOADS = 10          # open-loop dashboard loads (more if --seconds asks)
RATE = 1.0          # loads per second: 2 requests/s, well below capacity
LIMIT_S = 5.0       # latency limit of one load


def prepare(run) -> dict:
    sf = run.path("sf")
    rows = gen.star_schema(sf, run.seed, SCALE)
    return {"sf": sf, "input_rows": rows["lineitem"] + rows["orders"] + rows["events"]}


def start(run, ctx: dict) -> None:
    """Program-side set-up: the ADS HTTP server over the fixture and the
    query registry."""
    from realtime_datawarehouse_spark import serving_http

    wl_queries.load(ctx)
    server = serving_http.make_server(run.spark, ctx["sf"])
    serving_http.start_background(server)
    ctx["server"] = server


def stop(ctx: dict) -> None:
    server = ctx.pop("server", None)
    if server is not None:
        server.shutdown()
        server.server_close()


def _get(ctx, route: str, ymd: str) -> dict:
    host, port = ctx["server"].server_address
    url = f"http://{host}:{port}{route}?date={ymd}"
    with urllib.request.urlopen(url, timeout=LIMIT_S * 4) as r:
        return json.loads(r.read().decode("utf-8"))


def _linked(tr, sc, inflight: dict, route: str, fn):
    """``fn`` spanned as the child of the in-flight HTTP request for the
    same route and date, which runs on the client's thread."""
    def call(spark, sf_dir, date):
        with tr.span(f"ads.{route[1:]}", sc=sc, parent=inflight.get((route, date))):
            return fn(spark, sf_dir, date)
    return call


def _check_layers(out_dir: str, want: dict, out: Outcomes) -> dict:
    got = {}
    for layer in LAYERS:
        for name in sorted(os.listdir(os.path.join(out_dir, layer))):
            got[f"{layer}/{name}"] = parquet_rows(os.path.join(out_dir, layer, name))
    for key, n in got.items():
        if key in want:
            out.check(n == want[key], f"{key} rows {n} != {want[key]}")
    parts = [p for p in os.listdir(os.path.join(out_dir, "dwd", "order_detail"))
             if p.startswith("dt=")]
    out.check(len(parts) == want["dws/trade_daily"], "one DWD partition per date")
    # row conservation across the log split: ODS = DWD pages + starts + dirty
    out.check(
        got["ods/topic_log"]
        == got["dwd/page_log"] + got["dwd/dirty"] + want["start_rows"],
        "ODS log rows = DWD page + start + dirty rows",
    )
    uu = pq.read_table(os.path.join(out_dir, "dws", "cart_uu")).column(0)
    out.check(int(uu[0].as_py()) == want["cart_uu_ct"], "DWS cart_uu count")
    return got


def _build(run, ctx, con, dates, out: Outcomes) -> tuple[float, dict, dict]:
    """The build and its ADS step, checked. Returns (seconds, per-step
    seconds, layer outputs as {table: (rows, files, bytes)})."""
    from realtime_datawarehouse_spark.plans import warehouse

    spark, tr, sf = run.spark, run.tracer, ctx["sf"]
    sc = spark.sparkContext
    out_dir = run.path("wh")
    want = oracle.warehouse_expected(con)
    want_gmv = oracle.ads_gmv(con, dates)
    got_gmv, step_s = {}, {}
    t0 = time.perf_counter()
    with tr.span("wh.build"):
        steps = (
            ("ods", lambda: warehouse.build_ods(spark, sf, out_dir)),
            ("dim", lambda: warehouse.build_dim(spark, out_dir)),
            ("dwd", lambda: warehouse.build_dwd(spark, sf, out_dir)),
            ("dws", lambda: warehouse.build_dws(spark, out_dir)),
            ("ads", lambda: got_gmv.update(
                (d, warehouse.ads_gmv(spark, out_dir, d)) for d in dates)),
        )
        for name, step in steps:
            a = time.perf_counter()
            with tr.span(f"wh.{name}", sc=sc):
                step()
            step_s[name] = time.perf_counter() - a
    took = time.perf_counter() - t0
    for d in dates:
        out.check(oracle.close(got_gmv[d], want_gmv[d], rel=1e-6), f"ads_gmv {d}")
    bad = out.failed
    rows = _check_layers(out_dir, want, out)
    out.add(out.failed == bad, took, BUILD_LIMIT_S)
    outputs = {k: (v, *dir_stats(os.path.join(out_dir, k))) for k, v in rows.items()}
    return took, step_s, outputs


def _serve(run, ctx, dates, want, out: Outcomes, seg: int) -> OpenLoop:
    """Segment ``seg`` of the dashboard loads: the closed warm-up loads
    (first segment only), then an open loop of this segment's share of the
    loads; returns its bookkeeping."""
    tr = run.tracer
    loads = max(LOADS, round(RATE * run.seconds)) // wl_queries.PASSES
    first = WARMUP + seg * loads

    def load(i: int, request: str) -> tuple[bool, str | None]:
        """One dashboard load: every route for one date, concurrently."""
        ymd = dates[i % len(dates)].replace("-", "")
        got: dict[str, object] = {}

        def fetch(route: str) -> None:
            with tr.span(f"ads.http{route}", request=request) as sid:
                ctx["inflight"][(route, ymd)] = sid
                try:
                    got[route] = _get(ctx, route, ymd)
                except (OSError, ValueError) as e:
                    got[route] = e

        threads = [threading.Thread(target=fetch, args=(r,)) for r in ROUTES]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=LIMIT_S * 8)
        errs = [f"{r} {ymd}: {got[r]}" for r in ROUTES
                if not isinstance(got.get(r), dict)]
        if errs:
            return False, "; ".join(errs)
        return all(oracle.payload_matches(r, got[r], want[(r, ymd)])
                   for r in ROUTES), None

    for i in range(WARMUP if seg == 0 else 0):  # untimed, checked
        ok, err = load(i, f"w{i}")
        out.add(ok, 0.0, LIMIT_S, err)

    loop = OpenLoop(time.perf_counter(), RATE)
    lock = threading.Lock()

    def user(i: int) -> None:
        sent = time.perf_counter()
        ok, err = load(first + i, f"u{first + i}")
        done = time.perf_counter()
        with lock:
            loop.record(i, sent, done)
            out.add(ok, done - loop.due(i), LIMIT_S, err)

    users = []
    for i in range(loads):
        wait = loop.due(i) - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        t = threading.Thread(target=user, args=(i,))
        t.start()
        users.append(t)
    for t in users:
        t.join(timeout=LIMIT_S * 8)
    return loop


def measure(run, ctx: dict, out: Outcomes) -> dict:
    from realtime_datawarehouse_spark import serving, tables

    tr, sc, sf = run.tracer, run.spark.sparkContext, ctx["sf"]
    wrong = wl_queries.check(run, ctx, out)  # untimed: warms the JVM
    con = oracle.connect(sf)
    pool = gen.order_dates(sf)
    rng = np.random.default_rng(run.seed + 17)
    build_dates = [str(d) for d in rng.choice(pool, ADS_DATES, replace=False)]
    serve_dates = [str(d) for d in rng.choice(pool, DATES, replace=False)]
    want_http = oracle.http_payloads(con, serve_dates)
    ctx["inflight"] = {}
    if run.traced:
        for route, attr in (("/gmv", "gmv"), ("/province", "province_stats")):
            tr.patch(serving, attr, _linked(tr, sc, ctx["inflight"], route,
                                            getattr(serving, attr)))
        tr.wrap_everywhere(tables.table, "tables.table")
    try:
        build_s, step_s, outputs = _build(run, ctx, con, build_dates, out)
        # query passes and dashboard segments alternate, so each metric
        # samples the host over the whole second half of the run
        per_query: dict = {}
        latency: list[float] = []
        late: list[float] = []
        for seg in range(wl_queries.PASSES):
            wl_queries.timed_pass(run, ctx, wrong, out, per_query)
            loop = _serve(run, ctx, serve_dates, want_http, out, seg)
            latency += loop.latency
            late += loop.late
    finally:
        con.close()
        tr.restore()
    files = {
        layer: tuple(sum(v[j] for k, v in outputs.items() if k.startswith(layer + "/"))
                     for j in (1, 2, 0))  # (files, bytes, rows)
        for layer in LAYERS
    }
    return {
        "ops": latency,
        "geomean_ops": wl_queries.op_seconds(per_query),
        "rows_per_s": ctx["input_rows"] / build_s,
        "per_layer": lambda: _per_layer(run, step_s, files, late, per_query),
    }


def _per_layer(run, step_s, files, late, per_query) -> dict[str, float]:
    tr = run.tracer
    counts = tr.job_counts(run.spark.sparkContext)
    m = wl_queries.per_layer(per_query, counts)
    for layer in LAYERS + ("ads",):
        c = counts.get(f"wh.{layer}", {"jobs": 0, "tasks": 0})
        m[f"wh.{layer}.jobs"] = c["jobs"]
        if layer == "ads":
            m["wh.ads.ms"] = 1000 * step_s["ads"]
            continue
        m[f"wh.{layer}.s"] = step_s[layer]
        m[f"wh.{layer}.tasks"] = c["tasks"]
        m[f"wh.{layer}.files"], m[f"wh.{layer}.bytes"], m[f"wh.{layer}.rows"] = files[layer]
    m["wh.build_s"] = sum(step_s.values())
    m["ads.gen_late_ms"] = 1000 * max(late)
    fn_all = []
    for route in ("gmv", "province"):
        fn = tr.durations(f"ads.{route}")
        fn_all += fn
        m[f"ads.{route}.fn_ms"] = 1000 * median(fn)
        m[f"ads.{route}.jobs"] = counts.get(f"ads.{route}", {"jobs": 0})["jobs"] / len(fn)
    client = tr.durations("ads.http/gmv") + tr.durations("ads.http/province")
    m["ads.http_ms"] = 1000 * (median(client) - median(fn_all))
    ads_ids = {s.id for s in tr.spans if s.name in ("ads.gmv", "ads.province")}
    m["ads.table_reads"] = sum(
        s.name == "tables.table" and s.parent in ads_ids for s in tr.spans
    ) / len(fn_all)
    reads = tr.durations("tables.table")
    m["tables.calls"] = len(reads)
    m["tables.s"] = sum(reads)
    return m
