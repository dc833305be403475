"""Seeded input generation for the benchmark.

Everything here is a function of the seed alone: the same seed gives
the same request bodies and the same table contents.

Serving inputs are written as one JSON request body per file plus a
manifest (`manifest.json`) that lists, for each body, its route and
whether it is well formed, and the round size.  Registry inputs are the
parquet tables the selected registry queries read.  Their schemas,
physical types, row counts per scale factor and value distributions are
the ones measured on the repository's test tables (`TESTDATA.md`); the README
lists each figure and `profile_tables.py` measures them.
"""
import json
import math
import os
from datetime import datetime, timedelta, timezone

import numpy as np

ROUTES = ["analyze", "saturating", "single"]
ROUTE_PATHS = {"analyze": "/analyze", "saturating": "/saturating-growth",
               "single": "/saturating-growth/single"}

# One round of serve requests: one pass over the route cycle, then one
# malformed request.  The harness runs whole rounds, so
# the malformed share of attempted requests is the same in every run.


# ------------------------------------------------------------ daily bodies

DAILY_CORRELATIONS = [
    ("c1", "purchasing_order", "data.summary.totalWithTax",
     "sales_order", "data.summary.totalWithTax"),
    ("c2", "sales_order", "data.summary.shippingCost",
     "sales_order", "data.summary.totalWithTax"),
    ("c3", "sales_order", "data.summary.totalWithTax",
     "purchasing_order", "data.summary.totalWithTax"),
    ("c4", "purchasing_order", "data.summary.shippingCost",
     "purchasing_order", "data.summary.totalWithTax"),
]


def _daily_doc(rng, start, days, n, level):
    """n order records over `days` days; some days repeat, some are empty."""
    day_idx = np.sort(rng.integers(0, days, size=n))
    day_idx[0], day_idx[-1] = 0, days - 1   # both documents span the window
    recs = []
    for d in day_idx:
        t = start + timedelta(days=int(d), seconds=int(rng.integers(0, 86400)))
        weekly = 1.0 + 0.25 * math.sin(2 * math.pi * (int(d) % 7) / 7.0)
        total = level * weekly * (1.0 + 0.004 * int(d)) * float(rng.lognormal(0.0, 0.2))
        ship = float(rng.integers(5, 60)) + round(float(rng.random()), 2)
        recs.append({
            "date": t.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "data": {"summary": {"totalWithTax": round(total, 4),
                                 "shippingCost": ship},
                     "currency": "USD"}})
    return recs


def daily_body(rng, route, malformed=False):
    start = datetime(2023, 1, 1, tzinfo=timezone.utc) + timedelta(days=int(rng.integers(0, 400)))
    days = 90
    docs = {
        "sales_order": {"description": "sales orders",
                        "data": _daily_doc(rng, start, days, 131, 5000.0)},
        "purchasing_order": {"description": "purchasing orders",
                             "data": _daily_doc(rng, start, days, 72, 3000.0)},
    }
    corrs = []
    for cid, fd, fi, td, ti in DAILY_CORRELATIONS:
        c = {"id": cid, "type": "prophet", "fromData": fd, "fromIndex": fi,
             "toData": td, "toIndex": ti, "dataSetGranularity": "D",
             "dataAggregationType": "sum"}
        if route != "analyze":
            c["ForecastingOptions"] = _saturating_options()
        corrs.append(c)
    if malformed:
        # a tab inside the dotted path: rejected by the path validator,
        # and the rejection message echoes the path
        corrs[0]["fromIndex"] = "data.summary\ttotalWithTax"
    return {"documents": docs, "analyticsOptions": {"correlations": corrs}}


def _saturating_options():
    side = {"uncertaintySamples": 1000, "changepointPriorScale": 0.5,
            "growth": "logistic"}
    return {"fromIndex": dict(side), "toIndex": dict(side)}


def write_serve(out_dir, seed, rounds):
    """Write `rounds` whole rounds of request bodies; every body carries
    distinct data."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    entries = []

    def emit(route, malformed):
        i = len(entries)
        name = f"req-{i:05d}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(daily_body(rng, route, malformed), f, separators=(",", ":"))
        entries.append({"id": i, "file": name, "route": route,
                        "path": ROUTE_PATHS[route], "wellFormed": not malformed})

    for _ in range(rounds):
        for r in ROUTES:
            emit(r, False)
        emit("analyze", True)
    manifest = {"roundSize": len(ROUTES) + 1, "requests": entries}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)


# ---------------------------------------------------------- registry tables
# Every figure below was measured on the test tables at sf 0.001, 0.01 and
# 0.1 (see the README, "Registry tables"); "uniform" means the measured
# frequencies are flat.

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, first, last):
    """Whole days drawn uniformly from [first, last], as microseconds."""
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _cents(x):
    return np.round(x, 2)


def write_tables(out_dir, seed, sf):
    """The tables the registry queries read, at scale factor `sf`."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_cust, n_part, n_supp = int(150000 * sf), int(200000 * sf), int(10000 * sf)
    n_users = int(15000 * sf)
    n_doc = max(500, int(50000 * sf))  # 500 at sf 0.001 and 0.01, 5,000 at 0.1

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def pick(values, n, p=None):
        return pa.array(np.array(values, dtype=object)[rng.choice(len(values), n, p=p)],
                        pa.string())

    save("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, n_ord))),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n_ord)})
    # l_orderkey is drawn independently per line, so lines per order are
    # Poisson(4) and about 2% of orders have none, as measured
    save("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(_cents(rng.uniform(900.0, 105000.0, n_line))),
        "l_discount": pa.array(_cents(rng.uniform(0.0, 0.1, n_line))),
        "l_tax": pa.array(_cents(rng.uniform(0.0, 0.08, n_line))),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        # independent of the order date, as measured
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))})
    # microsecond timestamps over 30 days, ascending with event_id
    ts = np.sort(np.datetime64("2024-01-01", "us") +
                 rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    save("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(_cents(rng.exponential(50.0, n_ev))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    # exactly one document in 20 is another document's text plus " dup"
    for i in sorted(rng.choice(n_doc, n_doc // 20, replace=False)):
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    save("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
