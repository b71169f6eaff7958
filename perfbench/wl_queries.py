"""The registered operator queries of ``warehouse_batch``: built and
executed into the noop sink and timed as a caller pays for it.

A first, untimed pass builds every query, collects its result and compares
it with the registered DuckDB oracle; it also warms the JVM for the timed
passes. One timed operation is one query's build plus execution.
"""

from __future__ import annotations

import time
from statistics import median

from perfbench import oracle
from perfbench.stats import Outcomes, geomean

# A fixed subset of the registry covering its operator families: scan
# aggregation through ``tables``, MinHash dedup, IVF top-k, hybrid
# retrieval and the BPE kernel.
QUERIES = (
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "ann_ivf_topk",
    "ext_hybrid_retrieval",
    "text_bpe_encode_roundtrip_eval",
)
PASSES = 2  # timed passes per run, after the untimed checked one
OP_LIMIT_S = 60.0


def load(ctx: dict) -> None:
    """Program-side set-up: load the registry (imports every plan module)."""
    from realtime_datawarehouse_spark.plans import registry

    ctx["fns"] = registry.get_queries()
    ctx["oracles"] = registry.get_oracles()


def check(run, ctx: dict, out: Outcomes) -> set[str]:
    """The untimed pass: every query's result against its oracle. Returns
    the names of the queries that answered wrong."""
    spark, sf, fns = run.spark, ctx["sf"], ctx["fns"]
    con = oracle.connect(sf)
    wrong: set[str] = set()
    try:
        for name in QUERIES:
            try:
                got = fns[name](spark, sf).toPandas()
                want = con.execute(ctx["oracles"][name]).fetchdf()
                diff = oracle.frames_match(got, want)
            except Exception as e:  # noqa: BLE001 — a failing query is a failed op
                diff = f"{type(e).__name__}: {e}"
            if diff is not None:
                wrong.add(name)
                out.check(False, f"{name}: {diff}")
    finally:
        con.close()
    return wrong


def timed_pass(run, ctx: dict, wrong: set[str], out: Outcomes,
               per_query: dict[str, dict[str, list[float]]]) -> None:
    """One timed pass over QUERIES; appends each query's build and execute
    seconds to ``per_query[name]["build"|"exec"]``."""
    spark, sf, tr, fns = run.spark, ctx["sf"], run.tracer, ctx["fns"]
    sc = spark.sparkContext
    for name in QUERIES:
        t = per_query.setdefault(name, {"build": [], "exec": []})
        err = None
        t0 = time.perf_counter()
        try:
            with tr.span(f"q.{name}", request=f"p{len(t['build'])}"):
                with tr.span(f"q.{name}.build", sc=sc):
                    df = fns[name](spark, sf)
                t1 = time.perf_counter()
                with tr.span(f"q.{name}.exec", sc=sc):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            err = f"{name}: {type(e).__name__}: {e}"
            t1 = time.perf_counter()
        t2 = time.perf_counter()
        t["build"].append(t1 - t0)
        t["exec"].append(t2 - t1)
        out.add(name not in wrong, t2 - t0, OP_LIMIT_S, err)


def op_seconds(per_query: dict) -> list[float]:
    return [b + e for t in per_query.values() for b, e in zip(t["build"], t["exec"])]


def per_layer(per_query: dict, counts: dict) -> dict[str, float]:
    m: dict[str, float] = {}
    n = len(per_query[QUERIES[0]]["build"])  # timed passes
    for name, t in per_query.items():
        b = counts.get(f"q.{name}.build", {"jobs": 0, "tasks": 0})
        e = counts.get(f"q.{name}.exec", {"jobs": 0, "tasks": 0})
        m[f"q.{name}.build_s"] = median(t["build"])
        m[f"q.{name}.exec_s"] = median(t["exec"])
        m[f"q.{name}.build_jobs"] = b["jobs"] / n
        m[f"q.{name}.exec_jobs"] = e["jobs"] / n
        m[f"q.{name}.tasks"] = (b["tasks"] + e["tasks"]) / n
    totals = [sum(t["build"][i] + t["exec"][i] for t in per_query.values())
              for i in range(n)]
    m["q.total_s"] = median(totals)
    m["q.geomean_s"] = geomean([median(t["build"]) + median(t["exec"])
                                for t in per_query.values()])
    return m
