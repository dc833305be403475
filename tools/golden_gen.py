#!/usr/bin/env python3
"""Golden-parity generator for the forecast pipeline.

Fits the SAME documented MAP model as graft.forecast.StructuralTS — the
published "Forecasting at Scale" design matrix (piecewise-linear trend +
Fourier seasonality + standardized extra regressor) with the repo's
documented divergences (ridge priors, documented in StructuralTS.scala) —
in an INDEPENDENT implementation (numpy normal-equations solve, separate
date/bucketing code), on the reference's OWN fixture requests:

  /root/reference/example-timestamp.json   (nested paths, 4 correlations)
  /root/reference/electricity_demand.json  (flat hourly records, grain
                                            defaulted to "D", 3 corrs)

Output: src/test/resources/golden/<name>.json with per-correlation target
and covariate forecast frames
[epoch_sec, yhat, trend, yhat_lower, yhat_upper, trend_lower, trend_upper,
 additive_terms, additive_terms_lower, additive_terms_upper]
plus the regressor coefficient. (The remaining 13-column fields — the
multiplicative terms — are constant zero by construction on both sides;
GoldenParitySpec asserts that directly rather than storing zeros here.) The interval columns mirror StructuralTS's
closed-form trend-continuation uncertainty (Campbell variance of the
Poisson-Laplace changepoint stream, Gaussian quantiles of N(0, V+sigma^2))
— deterministic, so cross-implementation parity extends to the bounds.
GoldenParitySpec runs the Scala pipeline end-to-end
(RequestParser -> AnalyzePipeline) on the same fixtures and asserts
tight-band agreement: two independent implementations of one spec.

Prophet itself cannot run in this container (no scipy/cmdstan), and the
reference ships no stored forecasts, so cross-implementation agreement on
the reference's own fixtures is the strongest available anchor.

Run:  python3 tools/golden_gen.py              (the two reference fixtures)
      python3 tools/golden_gen.py --fixtures   (the in-repo requests of
          tools/request_gen.py: golden/daily_nested.json, hourly_flat.json)
"""
import json
import math
import os
import sys
from datetime import datetime, timezone

import numpy as np

DAY = 86400.0

# ---------------------------------------------------------------- parsing

def parse_ts(s):
    """ISO8601 first, then the pipeline's fallback formats (TimeOps)."""
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()
    except ValueError:
        pass
    for fmt in ("%d-%m-%Y %H:%M", "%Y-%m-%d %H:%M:%S", "%Y/%m/%d %H:%M:%S",
                "%m/%d/%Y %H:%M"):
        try:
            return datetime.strptime(s, fmt).replace(tzinfo=timezone.utc).timestamp()
        except ValueError:
            continue
    raise ValueError(f"unparseable date: {s}")


def get_path(record, path):
    cur = record
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur.get(part)
    return cur


def extract_series(doc_records, path, grain, agg):
    """extractSeries + groupByTime: parse, drop nulls, day-bucket, agg."""
    assert grain == "D", f"golden gen only mirrors grain D, got {grain}"
    assert agg == "sum", f"golden gen only mirrors sum aggregation, got {agg}"
    buckets = {}
    for r in doc_records:
        d, y = r.get("date"), get_path(r, path)
        if d is None or y is None:
            continue
        t = math.floor(parse_ts(d) / DAY) * DAY  # date_trunc('day') in UTC
        buckets.setdefault(t, []).append(float(y))
    ts = np.array(sorted(buckets), dtype=float)
    ys = np.array([sum(buckets[t]) for t in ts], dtype=float)
    return ts, ys

# ---------------------------------------------------------------- fitting
# Mirrors StructuralTS.fit/predict (linear growth path) exactly.

WEEKLY_ORDER, YEARLY_ORDER, DAILY_ORDER = 3, 10, 4
SEAS_PRIOR, REG_PRIOR = 10.0, 10.0
N_CHANGEPOINTS, CP_RANGE = 25, 0.8
INTERVAL_WIDTH = 0.8  # Prophet default; bounds at the 10%/90% quantiles


def norm_inv(p):
    """Acklam's rational approximation — the same coefficients as
    LinAlg.normInv, so both implementations agree to ~1e-9."""
    assert 0 < p < 1
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    p_low = 0.02425
    if p < p_low:
        q = math.sqrt(-2 * math.log(p))
        return ((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) /
                ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1))
    if p <= 1 - p_low:
        q = p - 0.5
        r = q * q
        return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / \
               (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)
    return -norm_inv(1 - p)


def design(t, t0, t_scale, cps, weekly, yearly, daily, x_std=None):
    ts = (t - t0) / t_scale
    cols = [np.ones_like(ts), ts]
    for c in cps:
        d = ts - c
        cols.append(np.where(d > 0, d, 0.0))
    day = t / DAY
    if weekly:
        for k in range(1, WEEKLY_ORDER + 1):
            ang = 2 * np.pi * k * day / 7.0
            cols += [np.sin(ang), np.cos(ang)]
    if yearly:
        for k in range(1, YEARLY_ORDER + 1):
            ang = 2 * np.pi * k * day / 365.25
            cols += [np.sin(ang), np.cos(ang)]
    if daily:
        for k in range(1, DAILY_ORDER + 1):
            ang = 2 * np.pi * k * day
            cols += [np.sin(ang), np.cos(ang)]
    if x_std is not None:
        cols.append(x_std)
    return np.column_stack(cols)


def fit(t, y, x=None, cp_prior=0.8):
    n = len(t)
    t0, t_scale = t[0], max(t[-1] - t[0], 1.0)
    span_days = (t[-1] - t[0]) / DAY
    min_gap = np.diff(t).min()
    weekly = span_days >= 14 and min_gap < 7 * DAY
    yearly = span_days >= 730
    daily = span_days >= 2 and min_gap < DAY

    y_scale = np.abs(y).max() or 1.0
    z = y / y_scale

    j = min(N_CHANGEPOINTS, max(n - 2, 0))
    cutoff = int(CP_RANGE * n)
    if j == 0 or cutoff < 2:
        cps = np.array([])
    else:
        idx = [min(int((i + 1) * cutoff / (j + 1)), n - 1) for i in range(j)]
        cps = np.array(sorted({(t[i] - t0) / t_scale for i in idx}))

    if x is not None:
        x_mean = x.mean()
        x_sd = math.sqrt(((x - x_mean) ** 2).sum() / max(len(x) - 1, 1)) or 1.0
        xs = (x - x_mean) / x_sd
    else:
        x_mean, x_sd, xs = 0.0, 1.0, None

    X = design(t, t0, t_scale, cps, weekly, yearly, daily, xs)
    n_seas = ((2 * WEEKLY_ORDER if weekly else 0) +
              (2 * YEARLY_ORDER if yearly else 0) +
              (2 * DAILY_ORDER if daily else 0))
    lam = np.concatenate([
        [1e-8, 1e-8],
        np.full(len(cps), 1.0 / cp_prior ** 2),
        np.full(n_seas, 1.0 / SEAS_PRIOR ** 2),
        [1.0 / REG_PRIOR ** 2] if x is not None else []])
    beta = np.linalg.solve(X.T @ X + np.diag(lam), X.T @ z)
    # residual std (scaled space, n-1 divisor) and mean |changepoint
    # delta| — the two plug-ins of the closed-form interval scheme
    resid = z - X @ beta
    sigma_obs = math.sqrt(float((resid ** 2).sum()) / max(n - 1, 1))
    deltas = beta[2:2 + len(cps)]
    delta_mean_abs = float(np.abs(deltas).mean()) if len(deltas) else 0.0
    return dict(t0=t0, t_scale=t_scale, cps=cps, beta=beta, y_scale=y_scale,
                weekly=weekly, yearly=yearly, daily=daily,
                x_mean=x_mean, x_sd=x_sd,
                sigma_obs=sigma_obs, delta_mean_abs=delta_mean_abs)


def predict(m, t, x=None):
    """yhat, trend, and the closed-form interval bounds (linear growth:
    out(v) = v * y_scale, so everything is computed in z space and
    scaled at the end — same order of operations as StructuralTS)."""
    xs = (x - m["x_mean"]) / m["x_sd"] if x is not None else None
    X = design(t, m["t0"], m["t_scale"], m["cps"], m["weekly"], m["yearly"],
               m["daily"], xs)
    zhat = X @ m["beta"]
    ts = (t - m["t0"]) / m["t_scale"]
    trend_z = m["beta"][0] + m["beta"][1] * ts
    for i, c in enumerate(m["cps"]):
        d = ts - c
        trend_z = trend_z + m["beta"][2 + i] * np.where(d > 0, d, 0.0)

    # Campbell variance of the Poisson-Laplace trend continuation:
    # V(tau) = rate * 2 b^2 * (tau-1)^3 / 3 for tau > 1, else 0
    rate = len(m["cps"]) / CP_RANGE if len(m["cps"]) else 0.0
    delta_var = 2.0 * m["delta_mean_abs"] ** 2
    h = np.maximum(ts - 1.0, 0.0)
    v_trend = np.where((ts > 1.0) & (rate > 0.0),
                       rate * delta_var * h * h * h / 3.0, 0.0)
    s_trend = np.sqrt(v_trend)
    s_tot = np.sqrt(v_trend + m["sigma_obs"] ** 2)
    q_lo = norm_inv((1 - INTERVAL_WIDTH) / 2)
    q_hi = norm_inv(1 - (1 - INTERVAL_WIDTH) / 2)

    # additive terms = yhat - trend; bounds carry only observation noise
    # (StructuralTS.predict: out(trend + add + q*sigma_obs) - out(trend),
    # which for the linear out(v) = v*y_scale mirrored here reduces to
    # (add + q*sigma_obs)*y_scale)
    add_z = zhat - trend_z
    ys = m["y_scale"]
    return (zhat * ys, trend_z * ys,
            (zhat + q_lo * s_tot) * ys, (zhat + q_hi * s_tot) * ys,
            (trend_z + q_lo * s_trend) * ys, (trend_z + q_hi * s_trend) * ys,
            add_z * ys,
            (add_z + q_lo * m["sigma_obs"]) * ys,
            (add_z + q_hi * m["sigma_obs"]) * ys)

# ---------------------------------------------------------------- pipeline

def run_analyze(documents, correlations):
    """Mirror AnalyzePipeline.analyze for linear growth, grain D, sum."""
    out = {}
    for c in correlations:
        grain = c.get("dataSetGranularity", "D")
        agg = c.get("dataAggregationType", "sum")
        cp_prior = float(c.get("ChangePointPriorScale", 0.8))
        cov_t, cov_y = extract_series(documents[c["fromData"]]["data"],
                                      c["fromIndex"], grain, agg)
        tgt_t, tgt_y = extract_series(documents[c["toData"]]["data"],
                                      c["toIndex"], grain, agg)
        # A5: each side's horizon defaults to ITS OWN post-agg length
        cov_h = int(c.get("unitsToForecast") or len(cov_t))
        tgt_h = int(c.get("unitsToForecast") or len(tgt_t))

        # covariate forecast over history + future day grid
        cov_m = fit(cov_t, cov_y, cp_prior=cp_prior)
        cov_fut = cov_t[-1] + DAY * np.arange(1, cov_h + 1)
        cov_all = np.concatenate([cov_t, cov_fut])
        cov_cols = predict(cov_m, cov_all)
        cov_yhat = cov_cols[0]

        # J1+J2 splice: observed wins on history, forecast fills future
        cov_x = {t: y for t, y in zip(cov_t, cov_y)}
        for t, yh in zip(cov_all, cov_yhat):
            cov_x.setdefault(t, yh)

        # J3: align x onto target history (missing -> 0.0)
        tgt_x = np.array([cov_x.get(t, 0.0) for t in tgt_t])
        # J4-as-inner: future grid rows kept only where the covariate has x
        tgt_fut = [t for t in tgt_t[-1] + DAY * np.arange(1, tgt_h + 1)
                   if t in cov_x]
        tgt_all = np.concatenate([tgt_t, np.array(tgt_fut)])
        x_all = np.array([cov_x.get(t, 0.0) for t in tgt_all])

        tgt_m = fit(tgt_t, tgt_y, tgt_x, cp_prior=cp_prior)
        tgt_cols = predict(tgt_m, tgt_all, x_all)

        coef = tgt_m["beta"][-1] * tgt_m["y_scale"] / tgt_m["x_sd"]
        out[c["id"]] = {
            "target": [list(row) for row in zip(tgt_all, *tgt_cols)],
            "covariate": [list(row) for row in zip(cov_all, *cov_cols)],
            "coef": coef, "coef_center": tgt_m["x_mean"],
            "y_abs_max": float(np.abs(tgt_y).max()),
        }
    return out


def fixtures(here, golden_dir):
    """Goldens for the in-repo requests tools/request_gen.py writes."""
    req_dir = os.path.join(here, "..", "src", "test", "resources", "requests")
    for name in ("daily_nested", "hourly_flat"):
        body = json.load(open(os.path.join(req_dir, name + ".json")))
        golden = run_analyze(body["documents"], body["analyticsOptions"]["correlations"])
        json.dump(golden, open(os.path.join(golden_dir, name + ".json"), "w"))
        print(f"{name}:", {k: len(v["target"]) for k, v in golden.items()})


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    golden_dir = os.path.join(here, "..", "src", "test", "resources", "golden")
    os.makedirs(golden_dir, exist_ok=True)
    if sys.argv[1:] == ["--fixtures"]:
        fixtures(here, golden_dir)
        return

    ex = json.load(open("/root/reference/example-timestamp.json"))
    golden = run_analyze(ex["documents"], ex["analyticsOptions"]["correlations"])
    json.dump(golden, open(os.path.join(golden_dir, "example_timestamp.json"), "w"))
    print("example_timestamp:", {k: len(v["target"]) for k, v in golden.items()})

    el = json.load(open("/root/reference/electricity_demand.json"))
    docs = {k: v for k, v in el.items() if k != "analyticsOptions"}
    golden = run_analyze(docs, el["analyticsOptions"]["correlations"])
    json.dump(golden, open(os.path.join(golden_dir, "electricity_demand.json"), "w"))
    print("electricity_demand:", {k: len(v["target"]) for k, v in golden.items()})


if __name__ == "__main__":
    main()
