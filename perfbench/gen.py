"""Seeded input generators: the star-schema fixture and the two raw streams.

Everything here is numpy + pyarrow (no Spark), so generating inputs never
touches the system under test. The same seed gives byte-identical inputs.

Star schema
    The ten tables ``realtime_datawarehouse_spark.tables`` reads, with the
    column names and types of the repo's TPC-H-like fixture. Order dates
    cover ``days`` consecutive days from 1995-01-01; the DWD layer writes
    one date partition per distinct order date, so ``days`` sets the number
    of files that layer writes. Documents carry planted near-duplicates and
    embeddings are clustered, so the dedup and ANN operators find real work.

Streams
    ``topic_log`` lines (the nested tracking-log JSON) and ``topic_db``
    lines (Maxwell ``cart_info`` envelopes). Device and user ids are
    Zipf-skewed and about 1% of log lines are corrupt. Event time strictly
    increases within each stream, and one micro-batch spans less event time
    than the streaming queries' 3 s out-of-orderness allowance, so no row
    is late however a query splits a batch into files, and the closed
    windows equal a batch recomputation.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
STREAM_T0_S = 1_704_067_200  # 2024-01-01T00:00:00Z

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "spring"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = (
    "a the data table query join agg group window stream batch spark "
    "scan filter sort merge hash key value row column line order part "
    "customer big small fast slow vector dup"
).split()
PAGES = ["home", "good_list", "good_detail", "search", "cart", "mine"]
CHANNELS = ["app", "web", "wechat", "oppo"]
AREAS = ["110000", "310000", "440000", "330000"]
VERSIONS = ["v1", "v2", "v3"]


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated star schema."""

    orders: int = 15_000
    days: int = 180
    customers: int = 1_500
    suppliers: int = 100
    parts: int = 2_000
    events: int = 10_000
    documents: int = 400
    embeddings: int = 400
    dim: int = 64


def _zipf_ids(rng: np.random.Generator, n: int, size: int, a: float = 1.3):
    """``size`` ids in [0, n) drawn from a Zipf law over a permuted id space,
    so hot ids are spread over the key range."""
    raw = (rng.zipf(a, size) - 1) % n
    return rng.permutation(n)[raw]


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def star_schema(out_dir: str, seed: int, scale: Scale = Scale()) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for the ten tables; returns row
    counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc = scale.customers
    put("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": _money(rng.uniform(-999, 9999, nc)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = scale.suppliers
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": _money(rng.uniform(-999, 9999, ns)),
    })
    npart = scale.parts
    put("part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": [
            f"{COLORS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 6, npart), rng.integers(0, 6, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": _money(900.0 + np.arange(npart) * 0.1),
    })

    no = scale.orders
    odate = EPOCH_1995 + rng.integers(0, scale.days, no) * np.timedelta64(
        86_400_000_000, "us"
    )
    nlines = rng.integers(1, 8, no)
    li_order = np.repeat(np.arange(no, dtype=np.int64), nlines)
    nli = len(li_order)
    starts = np.cumsum(nlines) - nlines
    li_num = (np.arange(nli) - np.repeat(starts, nlines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, nli).astype(np.float64)
    price = _money(qty * rng.uniform(900, 2000, nli))
    ship = odate[li_order] + rng.integers(1, 121, nli) * np.timedelta64(
        86_400_000_000, "us"
    )
    total = np.bincount(li_order, weights=price, minlength=no)
    put("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(_zipf_ids(rng, nc, no, 1.2).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(total),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    put("lineitem", {
        "l_orderkey": pa.array(li_order),
        "l_partkey": pa.array(_zipf_ids(rng, npart, nli, 1.5).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nli, dtype=np.int64)),
        "l_linenumber": pa.array(li_num),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, nli) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nli) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nli)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nli)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    ne = scale.events
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // ne, ne)
    ets = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    put("events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(_zipf_ids(rng, 150, ne, 1.4).astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng.uniform(0, 40, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = scale.documents
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.15:  # planted near-duplicate
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(src) // 20)):
                src[int(rng.integers(0, len(src)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))
                ]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    put("documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    nv, dim = scale.embeddings, scale.dim
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + 0.6 * rng.normal(size=(nv, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return rows


def order_dates(sf_dir: str) -> list[str]:
    """Distinct order dates (yyyy-MM-dd) of a generated fixture, sorted."""
    col = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"), columns=["o_orderdate"]
    ).column(0)
    days = np.unique(col.to_numpy().astype("datetime64[D]"))
    return [str(d) for d in days]


# --------------------------------------------------------------------------
# streams
# --------------------------------------------------------------------------


class StreamGen:
    """Generates micro-batches of (topic_log lines, topic_db lines).

    Batch ``b`` holds ``burst_ms`` of event time starting ``offset_s +
    b * gap_s`` after 2024-01-01: the events of one live trigger interval,
    with the quiet time between batches skipped, as the repo's streaming
    tests feed the topology. Per-mid dimensions (vc, ch, ar, is_new) are
    fixed, so the traffic DWS rows do not depend on which of a device's
    same-day events a dedup keeps first.
    """

    def __init__(self, seed: int, events_per_batch: int, burst_ms: int,
                 gap_s: int, offset_s: int = 0, mids: int = 2_000,
                 users: int = 1_000) -> None:
        if burst_ms < events_per_batch:
            raise ValueError("a batch needs a distinct millisecond per event")
        self.rng = np.random.default_rng(seed)
        self.n = events_per_batch
        self.burst_ms = burst_ms
        self.gap_s = gap_s
        self.offset_s = offset_s
        self.mids = mids
        self.users = users
        r = np.random.default_rng(seed + 1)
        self.mid_dims = [
            (VERSIONS[a], CHANNELS[b], AREAS[c], "1" if d else "0")
            for a, b, c, d in zip(
                r.integers(0, 3, mids), r.integers(0, 4, mids),
                r.integers(0, 4, mids), r.random(mids) < 0.2,
            )
        ]
        self.next_batch = 0
        self.next_cart_id = 0
        self.cart_qty: dict[int, int] = {}

    def _times_ms(self, b: int) -> np.ndarray:
        """``n`` strictly increasing epoch-ms stamps inside batch ``b``."""
        lo = (STREAM_T0_S + self.offset_s + b * self.gap_s) * 1000
        picks = self.rng.choice(self.burst_ms, self.n, replace=False)
        return lo + np.sort(picks)

    def log_lines(self, b: int) -> list[str]:
        rng = self.rng
        ts = self._times_ms(b)
        mids = _zipf_ids(rng, self.mids, self.n, 1.2)
        kind = rng.integers(0, 100, self.n)
        entry = rng.random(self.n) < 0.35
        pages = rng.integers(0, len(PAGES), self.n)
        lines = []
        for i in range(self.n):
            m = int(mids[i])
            vc, ch, ar, is_new = self.mid_dims[m]
            ev: dict = {
                "common": {"mid": f"mid_{m}", "uid": str(m % 997), "vc": vc,
                           "ch": ch, "ar": ar, "is_new": is_new},
                "ts": int(ts[i]),
            }
            k = int(kind[i])
            if k < 8:  # app launch: start branch only
                ev["start"] = {"entry": "icon"}
            else:
                ev["page"] = {
                    "page_id": PAGES[pages[i]],
                    "last_page_id": None if entry[i] else PAGES[(pages[i] + 1) % 6],
                    "item": str(k), "item_type": "sku_id",
                    "during_time": int(1000 + 37 * k),
                }
                if k < 20:
                    ev["err"] = {"error_code": str(k)}
                if k % 5 == 0:
                    ev["displays"] = [
                        {"display_type": "promo", "item": str(j),
                         "item_type": "sku", "pos_id": str(j), "order": str(j)}
                        for j in range(2)
                    ]
                if k % 7 == 0:
                    ev["actions"] = [{"action_id": "cart_add", "item": str(k),
                                      "item_type": "sku", "ts": int(ts[i])}]
            line = json.dumps(ev, separators=(",", ":"))
            if k == 99:  # ~1% corrupt lines → the dirty branch
                line = "CORRUPT{" + line
            lines.append(line)
        return lines

    def db_lines(self, b: int) -> list[str]:
        rng = self.rng
        ts_s = self._times_ms(b) // 1000
        users = _zipf_ids(rng, self.users, self.n, 1.2)
        kind = rng.integers(0, 100, self.n)
        lines = []
        for i in range(self.n):
            k = int(kind[i])
            env: dict = {"database": "gmall", "table": "cart_info",
                         "ts": str(int(ts_s[i]))}
            if k < 2:
                env.update(type="bootstrap-start", data={})
            elif k < 35 and self.cart_qty:
                cid = int(rng.integers(0, self.next_cart_id))
                old = self.cart_qty[cid]
                new = max(1, old + int(rng.integers(-2, 4)))
                self.cart_qty[cid] = new
                env.update(
                    type="update" if k < 30 else "delete",
                    old={"sku_num": str(old)},
                    data={"id": str(cid), "user_id": f"u{int(users[i])}",
                          "sku_id": str(k), "sku_num": str(new)},
                )
            else:
                cid = self.next_cart_id
                self.next_cart_id += 1
                qty = int(rng.integers(1, 6))
                self.cart_qty[cid] = qty
                env.update(
                    type="insert",
                    data={"id": str(cid), "user_id": f"u{int(users[i])}",
                          "sku_id": str(k), "sku_num": str(qty)},
                )
            lines.append(json.dumps(env, separators=(",", ":")))
        return lines

    def next(self) -> tuple[list[str], list[str]]:
        b = self.next_batch
        self.next_batch += 1
        return self.log_lines(b), self.db_lines(b)


def land_lines(dir_path: str, batch: int, lines: list[str]) -> str:
    """Land one micro-batch as one parquet file of ``value`` strings (one
    file per trigger under ``maxFilesPerTrigger=1``). The file is written
    under a hidden name and renamed, so a file-source scan never sees a
    half-written file."""
    os.makedirs(dir_path, exist_ok=True)
    final = os.path.join(dir_path, f"batch-{batch:06d}.parquet")
    tmp = os.path.join(dir_path, f".batch-{batch:06d}.parquet.tmp")
    pq.write_table(pa.table({"value": pa.array(lines, pa.string())}), tmp)
    os.replace(tmp, final)
    return final
