"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed`` (same seed, same
bytes):

- ``write_logs``: Nginx "combined" access logs, one file per day, with
  Zipf-distributed endpoints, a share of ``?query`` paths, ``bytes="-"``
  and a fixed share of blank and malformed lines. Next to the files it
  writes ``totals.json``: the exact per-day and per-(date, hour,
  endpoint) figures the lakehouse must reproduce.
- ``write_warehouse``: the ten TPC-H-ish tables the registry entries
  read (same names, columns and parquet types as the project's sf
  testdata), at a chosen scale factor.

Inputs are written once per (seed, spec) into a cache directory, so
generation never counts toward a timed phase. ``in_child`` runs a
generator in a child process, so its memory never counts in the
benchmark process's peak either:

    python3 -m perfbench.gen logs <cache_root> <seed> <start> <days> <lines_per_day>
    python3 -m perfbench.gen warehouse <cache_root> <seed> <sf>
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np

_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

ENDPOINTS = tuple(
    ["/", "/login", "/logout", "/search", "/cart", "/checkout", "/health"]
    + [f"/api/v1/items/{i}" for i in range(24)]
    + [f"/api/v1/users/{i}" for i in range(12)]
    + [f"/static/app{i}.js" for i in range(7)]
)
_STATUSES = np.array([200, 201, 204, 301, 304, 400, 401, 403, 404, 500, 502, 503])
_STATUS_P = np.array([0.70, 0.03, 0.02, 0.03, 0.04, 0.02, 0.02, 0.01, 0.07, 0.03, 0.01, 0.02])
_AGENTS = (
    "Mozilla/5.0 (X11; Linux x86_64)",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64)",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_0)",
    "curl/8.5.0",
    "python-requests/2.31",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
)

#: Shares of lines that are blank or do not parse.
BLANK_SHARE = 0.01
MALFORMED_SHARE = 0.01
QUERY_SHARE = 0.2
DASH_BYTES_SHARE = 0.05


#: Part of every cache key; bump when generated bytes or totals change.
FORMAT = 1


def _digest(spec: dict) -> str:
    return hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:10]


def _cached(cache_root: str, kind: str, spec: dict, build) -> str:
    """Build ``kind`` for ``spec`` once; later calls return the directory."""
    spec = {**spec, "format": FORMAT}
    out = os.path.join(cache_root, f"{kind}-{_digest(spec)}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        json.dump(spec, fh, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _day_lines(rng: np.random.Generator, day: dt.date, n: int):
    """``n`` parseable request lines for ``day`` plus their parsed values."""
    endpoints = np.array(ENDPOINTS)
    ep_idx = rng.choice(len(ENDPOINTS), size=n, p=_zipf_weights(len(ENDPOINTS)))
    secs = np.sort(rng.integers(0, 86400, size=n))
    status = rng.choice(_STATUSES, size=n, p=_STATUS_P / _STATUS_P.sum())
    nbytes = np.minimum(rng.lognormal(7.0, 1.2, size=n).astype(np.int64), 10_000_000)
    dash = rng.random(n) < DASH_BYTES_SHARE
    nbytes[dash] = 0
    has_q = rng.random(n) < QUERY_SHARE
    qval = rng.integers(0, 1000, size=n)
    ip = rng.zipf(1.3, size=n) % 5000
    agent = rng.integers(0, len(_AGENTS), size=n)
    post = rng.random(n) < 0.15
    stamp = f"{day.day:02d}/{_MONTHS[day.month - 1]}/{day.year}"
    lines = []
    for i in range(n):
        s = int(secs[i])
        path = endpoints[ep_idx[i]] + (f"?q={qval[i]}" if has_q[i] else "")
        lines.append(
            f"10.{ip[i] // 256 % 256}.{ip[i] % 256}.{ip[i] % 7 + 1} - - "
            f"[{stamp}:{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d} +0000] "
            f'"{"POST" if post[i] else "GET"} {path} HTTP/1.1" {status[i]} '
            f'{"-" if dash[i] else nbytes[i]} "-" "{_AGENTS[agent[i]]}"'
        )
    return lines, secs // 3600, ep_idx, status, nbytes


def _grain_totals(date: str, hours, ep_idx, status, nbytes) -> dict:
    out = {}
    key = hours * len(ENDPOINTS) + ep_idx
    order = np.argsort(key, kind="stable")
    uniq, starts = np.unique(key[order], return_index=True)
    bounds = list(starts[1:]) + [len(order)]
    for k, a, b in zip(uniq, starts, bounds):
        rows = order[a:b]
        h, e = divmod(int(k), len(ENDPOINTS))
        out[f"{date}|{h:02d}|{ENDPOINTS[e]}"] = [
            int(len(rows)),
            int((status[rows] >= 400).sum()),
            float(np.percentile(nbytes[rows], 95)),
        ]
    return out


def _build_logs(out: str, seed: int, start: str, days: int, lines_per_day: int) -> None:
    day0 = dt.date.fromisoformat(start)
    totals = {"days": {}, "grains": {}, "raw_bytes": {}, "raw_lines": {}}
    for d in range(days):
        day = day0 + dt.timedelta(days=d)
        rng = np.random.default_rng([seed, d])
        lines, hours, ep_idx, status, nbytes = _day_lines(rng, day, lines_per_day)
        n_blank = int(lines_per_day * BLANK_SHARE)
        n_bad = int(lines_per_day * MALFORMED_SHARE)
        extra = [""] * n_blank + [
            f"malformed entry {i} [{day.isoformat()}] no-request-line" for i in range(n_bad)
        ]
        slots = rng.integers(0, len(lines) + 1, size=len(extra))
        for pos, text in sorted(zip(slots, extra), key=lambda t: -t[0]):
            lines.insert(int(pos), text)
        name = f"{day.isoformat()}.log"
        body = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(out, name), "wb") as fh:
            fh.write(body)
        date = day.isoformat()
        totals["days"][date] = [int(len(status)), int((status >= 400).sum())]
        totals["grains"].update(_grain_totals(date, hours, ep_idx, status, nbytes))
        totals["raw_bytes"][date] = len(body)
        totals["raw_lines"][date] = len(lines)
    with open(os.path.join(out, "totals.json"), "w") as fh:
        json.dump(totals, fh, sort_keys=True)


def write_logs(cache_root: str, seed: int, start: str, days: int, lines_per_day: int) -> str:
    """One ``<date>.log`` per day plus ``totals.json``; returns the directory."""
    spec = {"seed": seed, "start": start, "days": days, "lines_per_day": lines_per_day}
    return _cached(
        cache_root, "logs", spec,
        lambda out: _build_logs(out, seed, start, days, lines_per_day),
    )


def load_totals(log_dir: str) -> dict:
    with open(os.path.join(log_dir, "totals.json")) as fh:
        return json.load(fh)


# --- warehouse tables ------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_NATIONS = (
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
_COLORS = ("red", "blue", "green", "small", "large", "steel", "plain", "shiny")
_NOUNS = ("ring", "widget", "bolt", "nut", "gear", "panel", "valve", "spring")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _write_table(out: str, name: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _build_warehouse(out: str, seed: int, sf: float) -> None:
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7919])
    ts_us = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write_table(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write_table(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(_NATIONS),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n_cust = int(150_000 * sf)
    _write_table(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    n_supp = max(int(10_000 * sf), 10)
    _write_table(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
    })
    n_part = int(200_000 * sf)
    _write_table(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{_COLORS[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, len(_PTYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    n_ord = int(1_500_000 * sf)
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write_table(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), type=ts_us),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    per_order = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(lkey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(900.0 + (partkey % 1000) / 10.0, 2)
    ship = odate[lkey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write_table(out, "lineitem", {
        "l_orderkey": pa.array(lkey),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), type=ts_us),
    })
    n_ev = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write_table(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(t0 + ev_us.astype("timedelta64[us]"), type=ts_us),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 20), n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(money(0.0, 20.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    n_doc = int(50_000 * sf)
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # Near-duplicate of an earlier document: a few words replaced.
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    _write_table(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n_vec, dim, n_lab = int(50_000 * sf), 64, 10
    centers = rng.normal(0.0, 1.0, (n_lab, dim))
    label = rng.integers(0, n_lab, n_vec)
    vecs = (centers[label] + rng.normal(0.0, 0.35, (n_vec, dim))).astype(np.float32)
    _write_table(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write_warehouse(cache_root: str, seed: int, sf: float) -> str:
    """The ten warehouse tables at scale ``sf``; returns the directory."""
    spec = {"seed": seed, "sf": sf}
    return _cached(cache_root, "warehouse", spec, lambda out: _build_warehouse(out, seed, sf))


def main(argv: list[str]) -> None:
    kind, cache_root, seed, *rest = argv
    if kind == "logs":
        start, days, lines = rest
        print(write_logs(cache_root, int(seed), start, int(days), int(lines)))
    elif kind == "warehouse":
        (sf,) = rest
        print(write_warehouse(cache_root, int(seed), float(sf)))
    else:
        raise SystemExit(f"unknown input kind {kind!r}")


def in_child(kind: str, *args) -> str:
    """``main([kind, *args])`` in a child process; returns the directory."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "perfbench.gen", kind, *map(str, args)],
        cwd=root, check=True, capture_output=True, text=True,
    )
    return out.stdout.strip().splitlines()[-1]


if __name__ == "__main__":
    main(sys.argv[1:])
