"""stream_microbatch: the six-query ``full_stream_topology`` fed one seeded
micro-batch at a time.

Closed loop with one batch in flight: land a ``topic_log`` file and a
``topic_db`` file, then drain the six queries in topological order. One
operation is one batch, from landing to all six queries having committed
it. A batch holds ``BURST_MS`` of event time, the events of one live
trigger interval, and batches are ``GAP_S`` apart in event time, so within
the run event time passes the 26 h dedup watermark and the DWS windows and
the ADS daily table emit (both are MERGE-upserted into the shared table
store).

Checks: lines landed = rows read by each column's first query, and the two
served tables equal a batch recomputation from the raw lines over every
window the watermark has closed.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from perfbench import gen, oracle
from perfbench.harness import dir_stats
from perfbench.stats import Outcomes

EVENTS_PER_BATCH = 1_000   # per stream
BURST_MS = 2_000           # event time of one batch: under the 3 s watermark delay
OFFSET_S = 22 * 3600       # batch 0 lands at 22:00 on day 1
GAP_S = 28 * 3600          # batch 1 at 02:00 on day 3: day 1 closes under the 26 h watermark
WARMUP_BATCHES = 1         # untimed: the streaming machinery's first-batch cost
MIN_BATCHES = 2            # timed batches per run
OP_LIMIT_S = 60.0
NAMES = ("traffic1", "trade1", "traffic2", "trade2", "traffic3", "trade3")


def prepare(run) -> dict:
    g = gen.StreamGen(run.seed, EVENTS_PER_BATCH, BURST_MS, GAP_S, OFFSET_S)
    return {"sf": None, "gen": g}


def start(run, ctx: dict) -> None:
    """Program-side set-up: start the six queries."""
    from realtime_datawarehouse_spark.streaming import pipelines

    spark = run.spark
    ctx["in_log"], ctx["in_db"] = run.path("in_log"), run.path("in_db")
    for d in (ctx["in_log"], ctx["in_db"]):
        os.makedirs(d, exist_ok=True)

    def lines(d):
        return (spark.readStream.schema("value string")
                .option("maxFilesPerTrigger", 1).parquet(d))

    ctx["store"] = run.path("store")
    cols = pipelines.full_stream_topology(
        spark, lines(ctx["in_log"]), lines(ctx["in_db"]), run.path("work"),
        ctx["store"],
    )
    # topological order, the two columns interleaved
    ctx["queries"] = [q for pair in zip(cols["traffic"], cols["trade"]) for q in pair]


def stop(ctx: dict) -> None:
    for q in ctx.pop("queries", []):
        q.stop()


def _progress(q) -> list[dict]:
    return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]


def measure(run, ctx: dict, out: Outcomes) -> dict:
    from realtime_datawarehouse_spark.operators import table_store

    tr, g, qs = run.tracer, ctx["gen"], ctx["queries"]
    log_all: list[str] = []
    db_all: list[str] = []
    ops: list[float] = []

    def batch(b: int) -> float:
        log, db = g.next()
        log_all.extend(log)
        db_all.extend(db)
        t0 = time.perf_counter()
        with tr.span("st.batch", request=f"b{b}"):
            gen.land_lines(ctx["in_log"], b, log)
            gen.land_lines(ctx["in_db"], b, db)
            for name, q in zip(NAMES, qs):
                with tr.span(f"st.{name}"):
                    q.processAllAvailable()
        return time.perf_counter() - t0

    for b in range(WARMUP_BATCHES):  # untimed; checked with the rest
        out.add(True, batch(b), OP_LIMIT_S)
    warm = {n: max([p["batchId"] for p in _progress(q)], default=-1)
            for n, q in zip(NAMES, qs)}
    tr.wrap(table_store, "merge_upsert", "st.store.merge")
    deadline = run.deadline()
    while len(ops) < MIN_BATCHES or time.perf_counter() < deadline:
        took = batch(WARMUP_BATCHES + len(ops))
        ops.append(took)
        out.add(True, took, OP_LIMIT_S)
    tr.restore()
    progress = {n: _progress(q) for n, q in zip(NAMES, qs)}
    _check(run, ctx, log_all, db_all, progress, out)
    timed = {n: [p for p in ps if p["batchId"] > warm[n]] for n, ps in progress.items()}
    events = 2 * EVENTS_PER_BATCH * len(ops)
    return {
        "ops": ops,
        "rows_per_s": events / sum(ops),
        "per_layer": lambda: _per_layer(
            ctx, timed, tr.durations("st.store.merge"), len(ops)),
    }


def _watermark_ms(q) -> int:
    """The event-time watermark of a query's latest trigger: every window
    ending at or before it has been emitted."""
    wm = (q.lastProgress or {}).get("eventTime", {}).get("watermark")
    if wm is None:
        return 0
    t = datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(t.timestamp() * 1000)


def _check(run, ctx, log_all, db_all, progress, out: Outcomes) -> None:
    from realtime_datawarehouse_spark.operators import table_store

    # row conservation at hop 1 of each column
    for name, lines in (("traffic1", log_all), ("trade1", db_all)):
        got = sum(p["numInputRows"] for p in progress[name])
        out.check(got == len(lines), f"{name} rows_in {got} != landed {len(lines)}")

    spark, store = run.spark, ctx["store"]
    qs = dict(zip(NAMES, ctx["queries"]))

    # traffic DWS: every served row is right; every closed window is served
    want = oracle.traffic_windows(log_all)
    horizon = _watermark_ms(qs["traffic3"])
    served_df = table_store.read_state(spark, os.path.join(store, "dws_traffic_channel"))
    served = {} if served_df is None else {
        (r.stt, r.vc, r.ch, r.ar, r.is_new): r.uv_ct for r in served_df.collect()
    }
    want_by_key = {k[:1] + k[2:]: (v, k[1]) for k, v in want.items()}
    wrong = [k for k, v in served.items() if want_by_key.get(k, (None,))[0] != v]
    closed = [k for k, (_, end) in want_by_key.items() if end <= horizon]
    missing = [k for k in closed if k not in served]
    out.check(
        bool(closed) and not wrong and not missing,
        f"DWS traffic: {len(missing)}/{len(closed)} closed windows missing, "
        f"{len(wrong)} served rows wrong, e.g. {(wrong or missing)[:1]}",
    )

    # trade ADS: closed days equal distinct cart-add users; open days ≤
    days = oracle.cart_daily_uu(db_all)
    horizon = _watermark_ms(qs["trade2"])
    ads_df = table_store.read_state(spark, os.path.join(store, "ads_cart_daily"))
    ads = {} if ads_df is None else {r.dt: r.cart_add_uu for r in ads_df.collect()}
    closed_days = [d for d, (_, end) in days.items() if end <= horizon]
    bad = [d for d in closed_days if ads.get(d) != days[d][0]]
    over = [d for d, v in ads.items() if d not in days or v > days[d][0]]
    out.check(bool(closed_days) and not bad and not over,
              f"ADS daily: closed {closed_days}, wrong {bad}, over {over}")
    ctx["served_rows"] = (len(served), len(ads))


def _per_layer(ctx, progress, merges, batches: int) -> dict[str, float]:
    m: dict[str, float] = {}
    for name in NAMES:
        ps = progress[name]
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in ps)  # noqa: E731
        m[f"st.{name}.trigger_ms"] = dur("triggerExecution") / batches
        m[f"st.{name}.planning_ms"] = dur("queryPlanning") / batches
        m[f"st.{name}.addbatch_ms"] = dur("addBatch") / batches
        m[f"st.{name}.rows_in"] = sum(p["numInputRows"] for p in ps) / batches
    m["st.late_rows"] = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for ps in progress.values() for p in ps for op in p.get("stateOperators", [])
    )
    state_rows = state_bytes = 0
    for q in ctx["queries"]:
        for op in (q.lastProgress or {}).get("stateOperators", []):
            state_rows += op.get("numRowsTotal", 0)
            state_bytes += op.get("memoryUsedBytes", 0)
    m["st.state_rows"] = state_rows
    m["st.state_bytes"] = state_bytes
    m["st.store.merge_ms"] = 1000 * sum(merges) / batches
    m["st.store.merges"] = len(merges)
    versions = 0
    for table in ("dws_traffic_channel", "ads_cart_daily"):
        path = os.path.join(ctx["store"], table)
        if os.path.isdir(path):
            versions += sum(1 for v in os.listdir(path) if v.startswith("v-"))
    m["st.store.versions"] = versions
    m["st.store.bytes"] = dir_stats(ctx["store"])[1]
    m["st.dws_rows"], m["st.ads_rows"] = ctx["served_rows"]
    return m
