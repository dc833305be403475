#!/usr/bin/env python3
"""Seeded `/analyze` request fixtures, written to src/test/resources/requests/.

  daily_nested.json  two nested order documents (`data.summary.*` paths, ISO
                     dates, several or no orders a day), 4 correlations at
                     daily grain; c4 leaves unitsToForecast unset, so each of
                     its sides forecasts its own series length (A5)
  hourly_flat.json   two flat hourly documents with `dd-MM-yyyy HH:mm`
                     dates, 3 correlations without dataSetGranularity, so
                     the grain defaults to D; x1 leaves unitsToForecast unset

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


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    os.makedirs(REQ_DIR, exist_ok=True)
    for name, make, stream in (("daily_nested", daily_nested, 1),
                               ("hourly_flat", hourly_flat, 2)):
        body = make(np.random.default_rng([seed, stream]))
        with open(os.path.join(REQ_DIR, name + ".json"), "w") as f:
            json.dump(body, f, separators=(",", ":"))
            f.write("\n")
        print(name, {k: len(v["data"]) for k, v in body["documents"].items()})


if __name__ == "__main__":
    main()
