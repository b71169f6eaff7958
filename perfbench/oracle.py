"""Reference answers, computed without the program: DuckDB over the raw
fixture files, and plain Python over the raw stream lines."""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timezone

import duckdb
import numpy as np

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# serving.gmv / province_stats sum each value on a 1e-6 grid and round to
# cents; the same arithmetic in DuckDB makes the comparison exact
_DSUM = (
    "floor(CAST(sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) "
    "AS DOUBLE) / 10000.0 + 0.5) / 100.0"
)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def warehouse_expected(con) -> dict[str, int]:
    """Row counts every warehouse layer must produce from the fixture."""
    one = lambda sql: int(con.execute(sql).fetchone()[0])  # noqa: E731
    cart = """FROM lineitem WHERE l_linenumber <> 7
              AND (l_returnflag = 'A'
                   OR (l_returnflag = 'R' AND l_linenumber % 3 = 2))"""
    return {
        "ods/topic_db_cart": one("SELECT count(*) FROM lineitem"),
        "ods/topic_db_dims": one(
            "SELECT (SELECT count(*) FROM part) * 1"
            " + (SELECT count(*) FROM part WHERE p_partkey % 3 = 0)"
            " + (SELECT count(*) FROM part WHERE p_partkey % 7 = 0)"
            " + (SELECT count(*) FROM supplier)"
        ),
        "ods/topic_log": one("SELECT count(*) FROM events"),
        "dim/dim_part": one("SELECT count(*) FROM part WHERE p_partkey % 7 <> 0"),
        "dim/dim_supplier": one("SELECT count(*) FROM supplier"),
        "dwd/cart_add": one(f"SELECT count(*) {cart}"),
        "dwd/order_detail": one(
            "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        ),
        "dwd/page_log": one(
            "SELECT count(*) FROM events"
            " WHERE event_id % 97 <> 0 AND event_type <> 'signup'"
        ),
        "dwd/dirty": one("SELECT count(*) FROM events WHERE event_id % 97 = 0"),
        "start_rows": one(
            "SELECT count(*) FROM events"
            " WHERE event_id % 97 <> 0 AND event_type = 'signup'"
        ),
        "dws/sku_order": one("SELECT count(DISTINCT l_partkey) FROM lineitem"),
        "dws/trade_daily": one("SELECT count(DISTINCT o_orderdate) FROM orders"),
        "dws/cart_uu": 1,
        "cart_uu_ct": one(f"SELECT count(DISTINCT l_suppkey) {cart}"),
    }


def ads_gmv(con, dates: list[str]) -> dict[str, float]:
    """yyyy-MM-dd → sum(quantity × price) over that day's order lines."""
    rows = con.execute(
        """SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
                  sum(l_quantity * l_extendedprice)
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1"""
    ).fetchall()
    by_dt = {dt: float(v) for dt, v in rows}
    return {d: by_dt.get(d, 0.0) for d in dates}


def http_payloads(con, dates: list[str]) -> dict[tuple[str, str], object]:
    """(route, yyyyMMdd) → the ``data`` field the ADS server must return."""
    out: dict[tuple[str, str], object] = {}
    for d in dates:
        ymd = d.replace("-", "")
        gmv = con.execute(
            f"SELECT {_DSUM} FROM orders"
            " WHERE strftime(o_orderdate, '%Y%m%d') = ?", [ymd]
        ).fetchone()[0]
        out[("/gmv", ymd)] = float(gmv or 0.0)
        rows = con.execute(
            f"""SELECT n_name, {_DSUM} FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                WHERE strftime(o_orderdate, '%Y%m%d') = ? GROUP BY n_name""",
            [ymd],
        ).fetchall()
        out[("/province", ymd)] = {n: float(v) for n, v in rows}
    return out


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


def payload_matches(route: str, got: dict, want) -> bool:
    if got.get("status") != 0:
        return False
    if route == "/gmv":
        return close(float(got["data"]), want)
    pairs = {m["name"]: float(m["value"]) for m in got["data"]["mapData"]}
    return pairs.keys() == want.keys() and all(
        close(pairs[k], want[k]) for k in want
    )


def frames_match(got, want) -> str | None:
    """None when two pandas frames are equal up to column order, row order
    and 1e-9 on floats; otherwise the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols, ignore_index=True)
    want = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            ok = np.allclose(g.astype(float), w.astype(float), atol=1e-9,
                             rtol=0, equal_nan=True)
        else:
            ok = bool((g.astype(str) == w.astype(str)).all())
        if not ok:
            return f"column {c} differs"
    return None


# --------------------------------------------------------------------------
# streams
# --------------------------------------------------------------------------


def _utc(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


def traffic_windows(lines: list[str]) -> dict[tuple, int]:
    """(stt, edt_ms, vc, ch, ar, is_new) → uv_ct: the channel DWS table a
    batch job would compute from every log line."""
    first: dict[tuple, tuple] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        page = ev.get("page")
        if ev.get("start") is not None or page is None:
            continue
        if page.get("last_page_id") is not None:
            continue
        c, ts = ev["common"], ev["ts"]
        key = (c["mid"], _utc(ts).date())
        if key not in first or ts < first[key][0]:
            first[key] = (ts, c["vc"], c["ch"], c["ar"], c["is_new"])
    out: dict[tuple, int] = {}
    for ts, vc, ch, ar, is_new in first.values():
        lo = ts - ts % 10_000
        k = (_utc(lo).strftime("%Y-%m-%d %H:%M:%S"), lo + 10_000, vc, ch, ar, is_new)
        out[k] = out.get(k, 0) + 1
    return out


def cart_daily_uu(lines: list[str]) -> dict[str, tuple[int, int]]:
    """yyyy-MM-dd → (distinct cart-add users, day end in epoch ms)."""
    users: dict[str, set] = {}
    for line in lines:
        env = json.loads(line)
        data, old = env.get("data") or {}, env.get("old") or {}
        if env["type"] in ("bootstrap-start", "bootstrap-complete") or not data:
            continue
        keep = env["type"] == "insert" or (
            env["type"] == "update" and "sku_num" in old
            and int(data["sku_num"]) > int(old["sku_num"])
        )
        if keep:
            day = _utc(int(env["ts"]) * 1000).strftime("%Y-%m-%d")
            users.setdefault(day, set()).add(data["user_id"])
    out = {}
    for day, us in users.items():
        end = datetime.strptime(day, "%Y-%m-%d").replace(tzinfo=timezone.utc)
        out[day] = (len(us), int(end.timestamp() * 1000) + 86_400_000)
    return out
