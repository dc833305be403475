#!/usr/bin/env python3
"""Seeded `/analyze` request fixtures, written to src/test/resources/requests/.

  daily_nested.json  two nested order documents (`data.summary.*` paths, ISO
                     dates, several or no orders a day), 4 correlations at
                     daily grain; c4 leaves unitsToForecast unset, so each of
                     its sides forecasts its own series length (A5)
  hourly_flat.json   two flat hourly documents with `dd-MM-yyyy HH:mm`
                     dates, 3 correlations without dataSetGranularity, so
                     the grain defaults to D; x1 leaves unitsToForecast unset
  edge/*.json        small requests for the edges no other fixture reaches:
                     W and M grains in one request that mixes sum and
                     median, a covariate and a target of one point, one
                     granger and one univariateStatistics correlation, and
                     logistic fits whose user ceiling is below the series
                     max; ResponseGoldenSpec pins the service's bodies for
                     them (src/test/resources/golden/responses/)

The daily documents have perfbench/gen.py's shape. Every value is a
function of the seed. GoldenParitySpec fits both requests and compares
them with the goldens `python3 tools/golden_gen.py --fixtures` writes, so
rerun that after regenerating these.

Run:  python3 tools/request_gen.py [seed]   (default seed 7)
"""
import json
import math
import os
import sys
from datetime import datetime, timedelta, timezone

import numpy as np

REQ_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "src", "test", "resources", "requests")


def _daily_doc(rng, start, days, n, level):
    """n order records over `days` days; some days repeat, some are empty."""
    day_idx = np.sort(rng.integers(0, days, size=n))
    day_idx[0], day_idx[-1] = 0, days - 1
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


def daily_nested(rng):
    start = datetime(2023, 3, 1, tzinfo=timezone.utc)
    docs = {
        "sales_order": {"description": "sales orders",
                        "data": _daily_doc(rng, start, 90, 131, 5000.0)},
        "purchasing_order": {"description": "purchasing orders",
                             "data": _daily_doc(rng, start, 90, 72, 3000.0)},
    }
    corrs = []
    for cid, fd, fi, td, ti, units in [
            ("c1", "purchasing_order", "data.summary.totalWithTax",
             "sales_order", "data.summary.totalWithTax", 14),
            ("c2", "sales_order", "data.summary.shippingCost",
             "sales_order", "data.summary.totalWithTax", 7),
            ("c3", "sales_order", "data.summary.totalWithTax",
             "purchasing_order", "data.summary.totalWithTax", 30),
            ("c4", "purchasing_order", "data.summary.shippingCost",
             "purchasing_order", "data.summary.totalWithTax", None)]:
        c = {"id": cid, "type": "prophet", "fromData": fd, "fromIndex": fi,
             "toData": td, "toIndex": ti, "dataSetGranularity": "D",
             "dataAggregationType": "sum"}
        if units is not None:
            c["unitsToForecast"] = units
        corrs.append(c)
    return {"documents": docs, "analyticsOptions": {"correlations": corrs}}


def hourly_flat(rng):
    days = 45
    start = datetime(2015, 1, 1, tzinfo=timezone.utc)
    demand, weather = [], []
    for h in range(days * 24):
        t = start + timedelta(hours=h)
        date = t.strftime("%d-%m-%Y %H:%M")
        cycle = math.sin(2 * math.pi * t.hour / 24)
        weekly = 1.0 + 0.1 * math.sin(2 * math.pi * (h // 24 % 7) / 7)
        demand.append({"date": date, "nat_demand": round(
            (900 + 50 * cycle + 2 * (h // 24)) * weekly + float(rng.normal(0, 15)), 4)})
        weather.append({"date": date,
                        "T2M_toc": round(25 + 3 * cycle + float(rng.normal(0, 0.5)), 4),
                        "W2M_toc": round(12 + 0.1 * (h // 24) + float(rng.normal(0, 1)), 4)})
    corrs = [
        {"id": "x1", "fromData": "weatherReport", "fromIndex": "T2M_toc",
         "toData": "electricityDemand", "toIndex": "nat_demand"},
        {"id": "x2", "fromData": "weatherReport", "fromIndex": "W2M_toc",
         "toData": "electricityDemand", "toIndex": "nat_demand", "unitsToForecast": 14},
        {"id": "x3", "fromData": "weatherReport", "fromIndex": "W2M_toc",
         "toData": "weatherReport", "toIndex": "T2M_toc", "unitsToForecast": 7},
    ]
    return {"documents": {"electricityDemand": {"description": None, "data": demand},
                          "weatherReport": {"description": None, "data": weather}},
            "analyticsOptions": {"correlations": corrs}}


def _flat_daily(rng, start, days, level, slope, noise, field="v"):
    """One record a day: a linear trend with weekly swing and noise."""
    recs = []
    for d in range(days):
        t = start + timedelta(days=d, hours=int(rng.integers(0, 24)))
        weekly = 1.0 + 0.2 * math.sin(2 * math.pi * (d % 7) / 7.0)
        recs.append({"date": t.strftime("%Y-%m-%dT%H:%M:%SZ"),
                     field: round((level + slope * d) * weekly + float(rng.normal(0, noise)), 4)})
    return recs


def _corr(cid, fd, fi, td, ti, **extra):
    c = {"id": cid, "type": "prophet", "fromData": fd, "fromIndex": fi,
         "toData": td, "toIndex": ti}
    c.update(extra)
    return c


def _request(docs, corrs):
    return {"documents": {k: {"description": None, "data": v} for k, v in docs.items()},
            "analyticsOptions": {"correlations": corrs}}


def edge_grains(rng):
    """W and M grains; one correlation sums its buckets, the other takes medians."""
    start = datetime(2023, 1, 4, tzinfo=timezone.utc)
    docs = {"sales_order": _daily_doc(rng, start, 150, 170, 5000.0),
            "purchasing_order": _daily_doc(rng, start, 150, 120, 3000.0)}
    path = "data.summary.totalWithTax"
    return _request(docs, [
        _corr("w1", "purchasing_order", "data.summary.shippingCost", "sales_order", path,
              dataSetGranularity="W", dataAggregationType="sum", unitsToForecast=4),
        _corr("m1", "purchasing_order", path, "sales_order", path,
              dataSetGranularity="M", dataAggregationType="median", unitsToForecast=2)])


def edge_short(rng):
    """A covariate of one point, and a target of one point."""
    start = datetime(2023, 5, 1, tzinfo=timezone.utc)
    docs = {"one": [{"date": "2023-05-10T08:00:00Z", "v": 42.5}],
            "many": _flat_daily(rng, start, 30, 100.0, 2.0, 3.0)}
    return _request(docs, [
        _corr("p1", "one", "v", "many", "v", dataSetGranularity="D"),
        _corr("p2", "many", "v", "one", "v", dataSetGranularity="D", unitsToForecast=5)])


def edge_types(rng):
    """One granger and one univariateStatistics correlation."""
    start = datetime(2023, 2, 1, tzinfo=timezone.utc)
    docs = {"cause": _flat_daily(rng, start, 40, 50.0, 0.5, 4.0, "x"),
            "effect": _flat_daily(rng, start, 40, 200.0, 1.5, 6.0, "y")}
    return _request(docs, [
        _corr("g1", "cause", "x", "effect", "y", type="granger", unitsToForecast=5),
        _corr("u1", "cause", "x", "effect", "y", type="univariateStatistics",
              dataAggregationType="mean", unitsToForecast=3)])


def edge_logistic(rng):
    """Logistic fits: a user ceiling below the series max, the default
    ceiling, and per-side ForecastingOptions with a logistic covariate."""
    start = datetime(2023, 6, 1, tzinfo=timezone.utc)
    docs = {"growth": _flat_daily(rng, start, 45, 100.0, 4.0, 5.0),
            "driver": _flat_daily(rng, start, 45, 20.0, 0.3, 1.0)}
    return _request(docs, [
        _corr("l1", "driver", "v", "growth", "v", growth="logistic", ceiling=200.0,
              floor=10.0, unitsToForecast=6),
        _corr("l2", "driver", "v", "growth", "v", growth="logistic", unitsToForecast=6),
        _corr("l3", "driver", "v", "growth", "v", unitsToForecast=4,
              ForecastingOptions={
                  "fromIndex": {"growth": "logistic", "changepointPriorScale": 0.4,
                                "caps": {"fromIndex": {"floor": 0, "ceiling": 30}}},
                  "toIndex": {"changepointPriorScale": 0.6}})])


EDGE = (("edge_grains", edge_grains, 3), ("edge_short", edge_short, 4),
        ("edge_types", edge_types, 5), ("edge_logistic", edge_logistic, 6))


def _write(path, body):
    with open(path, "w") as f:
        json.dump(body, f, separators=(",", ":"))
        f.write("\n")


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    os.makedirs(REQ_DIR, exist_ok=True)
    for name, make, stream in (("daily_nested", daily_nested, 1),
                               ("hourly_flat", hourly_flat, 2)):
        body = make(np.random.default_rng([seed, stream]))
        _write(os.path.join(REQ_DIR, name + ".json"), body)
        print(name, {k: len(v["data"]) for k, v in body["documents"].items()})
    os.makedirs(os.path.join(REQ_DIR, "edge"), exist_ok=True)
    for name, make, stream in EDGE:
        body = make(np.random.default_rng([seed, stream]))
        _write(os.path.join(REQ_DIR, "edge", name + ".json"), body)
        print("edge/" + name, {k: len(v["data"]) for k, v in body["documents"].items()})


if __name__ == "__main__":
    main()
