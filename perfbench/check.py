"""Output checks against independent computations.

* `/analyze` responses: the numpy model of `tools/golden_gen.py` (its
  `run_analyze` unchanged) within GoldenParitySpec's band of 1e-6 of the
  series scale, plus half a unit of the response's 6-decimal rounding.  ACF lags are compared with a biased ACF computed here.
* Saturating routes: properties a logistic fit must have (trend inside
  the floor/cap the request implies, ordered intervals, the history dates
  equal to the generated buckets, the future row count equal to the
  horizon).
* Registry queries: DuckDB running each query's oracle SQL over the same
  parquet files, compared cell for cell after sorting columns and rows (as
  `tools/selfcheck.py` does); queries without an oracle get property
  checks.
"""
import datetime
import importlib.util
import json
import math
import os

import numpy as np

ROUND = 5e-7  # half a unit of the response's 6-decimal rounding
VALUE_KEYS = ["prediction", "trend", "prediction_lower_bound", "prediction_upper_bound",
              "trend_lower_bound", "trend_upper_bound", "additive_terms",
              "additive_terms_lower", "additive_terms_upper"]
ZERO_KEYS = ["multiplicative_terms", "multiplicative_terms_lower",
             "multiplicative_terms_upper"]


def load_golden(root):
    spec = importlib.util.spec_from_file_location(
        "golden_gen", os.path.join(root, "tools", "golden_gen.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _epoch(date_str):
    return datetime.datetime.strptime(date_str, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def _series(golden, records, path):
    """Daily-sum series: the golden model's own extraction."""
    return golden.extract_series(records, path, "D", "sum")


def biased_acf(y, nlags):
    d = np.asarray(y, dtype=float) - np.mean(y)
    den = float(d @ d)
    return [float(d[:len(d) - k] @ d[k:]) / den for k in range(nlags + 1)]


def check_analyze(golden, body, resp):
    errs = []
    docs = body["documents"]
    corrs = body["analyticsOptions"]["correlations"]
    model = golden.run_analyze(docs, corrs)
    got = resp["correlations"]
    if sorted(got) != sorted(model):
        return [f"correlation ids {sorted(got)} != {sorted(model)}"]
    for c in corrs:
        cid, g, want = c["id"], got[c["id"]], model[c["id"]]
        tol = 1e-6 * max(1.0, want["y_abs_max"]) + ROUND
        rows = g["predictions"]["historicalForecasts"] + g["predictions"]["futureForecasts"]
        if len(rows) != len(want["target"]):
            errs.append(f"{cid}: {len(rows)} prediction rows, model has {len(want['target'])}")
            continue
        for r, w in zip(rows, want["target"]):
            if abs(_epoch(r["date"]) - w[0]) > 0.5:
                errs.append(f"{cid}: date {r['date']} != model epoch {w[0]}")
                break
            bad = [k for k, v in zip(VALUE_KEYS, w[1:]) if abs(r[k] - v) > tol]
            bad += [k for k in ZERO_KEYS if r[k] != 0]
            if bad:
                errs.append(f"{cid}@{r['date']}: {bad[0]} {r.get(bad[0])} vs model "
                            f"{dict(zip(VALUE_KEYS, w[1:])).get(bad[0], 0.0)} (tol {tol:.3g})")
                break
        for side, doc, path in (("from", c["fromData"], c["fromIndex"]),
                                ("to", c["toData"], c["toIndex"])):
            _, y = _series(golden, docs[doc]["data"], path)
            lags = g["autocorrelations"][side]["lags"]
            n = len(lags) - 1
            if sorted(int(k) for k in lags) != list(range(n + 1)):
                errs.append(f"{cid}/{side}: ACF lags {sorted(lags)} are not 0..{n}")
                continue
            if n != min(int(10 * math.log10(len(y))), len(y) - 1):
                errs.append(f"{cid}/{side}: {n} ACF lags for {len(y)} points")
            want_acf = biased_acf(y, n)
            if lags["0"] != 1:
                errs.append(f"{cid}/{side}: ACF lag 0 is {lags['0']}")
            for k in range(1, n + 1):
                if abs(lags[str(k)] - want_acf[k]) > ROUND + 1e-9:
                    errs.append(f"{cid}/{side}: ACF lag {k} {lags[str(k)]} vs {want_acf[k]:.9f}")
                    break
    return errs


def check_saturating(golden, body, resp, single):
    """Property checks of a logistic-growth response."""
    errs = []
    docs = body["documents"]
    corrs = body["analyticsOptions"]["correlations"]
    got = resp["correlations"]
    if sorted(got) != sorted(c["id"] for c in corrs):
        return [f"correlation ids {sorted(got)}"]
    step = 86400.0
    for c in corrs:
        cid, g = c["id"], got[c["id"]]
        if g["type"]["growth"] != "logistic":
            errs.append(f"{cid}: growth {g['type']['growth']}")
        tgt_t, tgt_y = _series(golden, docs[c["toData"]]["data"], c["toIndex"])
        floor = min(0.0, float(tgt_y.min()))
        cap = float(tgt_y.max()) + 3 * float(np.std(tgt_y, ddof=1))
        tol = 1e-6 * max(1.0, float(np.abs(tgt_y).max())) + ROUND
        hist, fut = g["predictions"]["historicalForecasts"], g["predictions"]["futureForecasts"]
        if [_epoch(r["date"]) for r in hist] != list(tgt_t):
            errs.append(f"{cid}: history dates differ from the generated buckets")
        h = int(c.get("unitsToForecast") or len(tgt_t))
        want_fut = tgt_t[-1] + step * np.arange(1, h + 1)
        if not single:
            # the pair route keeps future rows the covariate forecast covers
            cov_t, _ = _series(golden, docs[c["fromData"]]["data"], c["fromIndex"])
            cov_h = int(c.get("unitsToForecast") or len(cov_t))
            covered = set(cov_t) | set(cov_t[-1] + step * np.arange(1, cov_h + 1))
            want_fut = [t for t in want_fut if t in covered]
        if [_epoch(r["date"]) for r in fut] != list(want_fut):
            errs.append(f"{cid}: {len(fut)} future rows, expected {len(want_fut)}")
        for r in hist + fut:
            if not floor - tol <= r["trend"] <= cap + tol:
                errs.append(f"{cid}@{r['date']}: trend {r['trend']} outside [{floor}, {cap}]")
                break
            if not (r["prediction_lower_bound"] - ROUND <= r["prediction"]
                    <= r["prediction_upper_bound"] + ROUND):
                errs.append(f"{cid}@{r['date']}: prediction interval out of order")
                break
            if not (r["trend_lower_bound"] - ROUND <= r["trend"]
                    <= r["trend_upper_bound"] + ROUND):
                errs.append(f"{cid}@{r['date']}: trend interval out of order")
                break
    return errs


def check_serve(root, inputs, out, result):
    """Check every well-formed response the run received."""
    golden = load_golden(root)
    manifest = json.load(open(os.path.join(inputs, "manifest.json")))
    by_id = {r["id"]: r for r in manifest["requests"]}
    errs = []
    checked = 0
    for op in result["operations"]:
        if not (op["wellFormed"] and op["status"] == 200):
            continue
        req = by_id[op["id"]]
        body = json.load(open(os.path.join(inputs, req["file"])))
        with open(os.path.join(out, "responses", f"resp-{op['id']}.json")) as f:
            resp = json.load(f)
        if req["route"] == "analyze":
            e = check_analyze(golden, body, resp)
        else:
            e = check_saturating(golden, body, resp, req["route"] == "single")
        errs += [f"request {op['id']} ({req['route']}): {x}" for x in e]
        checked += 1
    return checked, errs


# ----------------------------------------------------------------- registry

def _canon(df):
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object and len(df) > 0:
            v = df[c].dropna()
            if len(v) and isinstance(v.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _forecast_properties(con, name, got):
    """A per-event-type daily forecast frame (q46): the history dates equal
    the days each event type occurs on, 14 future days follow, intervals
    are ordered."""
    import pandas as pd
    ev = con.sql("SELECT DISTINCT event_type s, CAST(date_trunc('day', ts) AS TIMESTAMP) d "
                 "FROM events").df()
    days = {s: sorted(pd.to_datetime(g["d"])) for s, g in ev.groupby("s")}
    if sorted(got["series"].unique()) != sorted(days):
        return [f"{name}: series {sorted(got['series'].unique())} != {sorted(days)}"]
    errs = []
    for s, want in days.items():
        g = got[got["series"] == s]
        if sorted(pd.to_datetime(g[g["segment"] == "historical"]["ds"])) != want:
            errs.append(f"{name}/{s}: history dates differ from the event days")
        fut = sorted(pd.to_datetime(g[g["segment"] == "future"]["ds"]))
        if fut != [want[-1] + pd.Timedelta(days=k) for k in range(1, 15)]:
            errs.append(f"{name}/{s}: {len(fut)} future rows, expected 14")
    bad = got[(got["yhat_lower"] > got["yhat"] + 1e-6) | (got["yhat"] > got["yhat_upper"] + 1e-6)]
    if len(bad):
        errs.append(f"{name}: {len(bad)} rows with yhat outside [yhat_lower, yhat_upper]")
    if got["yhat"].isna().any():
        errs.append(f"{name}: null yhat")
    return errs


def check_registry(data_dir, out, result):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in sorted(os.listdir(data_dir)):
        if p.endswith(".parquet"):
            con.sql(f"CREATE VIEW {p[:-8]} AS SELECT * FROM '{os.path.join(data_dir, p)}'")
    errs = []
    checked = 0
    for name in result["classes"]:
        path = os.path.join(out, "results", name)
        if not os.path.exists(path):
            continue  # the query failed: a failed operation, nothing to check
        checked += 1
        got = pd.read_parquet(path)
        sql = result["oracleSql"].get(name)
        if sql is None:
            errs += _forecast_properties(con, name, got)
            continue
        want = con.sql(sql).df()
        w, g = _canon(want), _canon(got)
        if list(w.columns) != list(g.columns):
            errs.append(f"{name}: columns {list(g.columns)} != oracle {list(w.columns)}")
        elif len(w) != len(g):
            errs.append(f"{name}: {len(g)} rows, oracle {len(w)}")
        elif len(w) == 0:
            errs.append(f"{name}: empty result")
        else:
            try:
                pd.testing.assert_frame_equal(w, g, check_dtype=False, check_exact=True)
            except AssertionError as e:
                errs.append(f"{name}: {str(e).splitlines()[-1] if str(e) else e}")
    return checked, errs
