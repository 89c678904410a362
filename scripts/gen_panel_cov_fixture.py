#!/usr/bin/env python3
"""Independent balanced-panel covariate ATT(g,t) fixture generator.

Writes a small seeded balanced panel with two time-invariant covariates
(x1, x2) and, for each of the engine's three panel estimators, the
expected ATT(g,t) and analytic SE per cell, computed with numpy alone
from Sant'Anna & Zhao (2020)'s published panel formulas (J. Econometrics
219(1); the R DRDID package's drdid_panel, reg_did_panel and
std_ipw_did_panel) — nothing here shares code with the Scala engine.
`PanelCovFixtureSpec` fits the committed panel with
`allowUnbalancedPanel = false, xfmla = "y ~ x1 + x2"` and matches every
cell.

Conventions, mirrored from the engine's defaults: control group never
treated, varying base period (post cells compare with the period before
the cohort's first, pre cells with the period before t), anticipation 0,
weights all 1. The covariate matrix is [x1, x2] with no intercept: the
engine's formula adds one only for an explicit `1`
(`y ~ x1 + x2 + 1`). A cell holds the units of its cohort and the
never-treated ones, one row per unit with the outcome change between the
base and the post period. Its influence function is rescaled by n/n1 (n
units in the panel, n1 in the cell) and SE = sqrt(sum IF^2) / n.

Usage: python3 scripts/gen_panel_cov_fixture.py
Writes src/test/resources/panel_cov.csv (id, period, g, y, x1, x2) and
src/test/resources/panel_cov_att.csv (est, g, t, att, se).
"""
import csv

import numpy as np

N_UNITS = 400
PERIODS = list(range(1, 7))
COHORTS = [3, 4, 5]
SEED = 20260419


def sigmoid(v):
    out = np.empty_like(v)
    pos = v >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-v[pos]))
    ev = np.exp(v[~pos])
    out[~pos] = ev / (1.0 + ev)
    return out


def panel():
    """Rows (id, period, g, y, x1, x2). Never-treated status depends on
    x1, and the outcome trend on x1 and x2, so the propensity and the
    outcome regression both matter. Values are rounded to 6 decimals and
    written as text, which both sides parse to the same doubles."""
    rng = np.random.default_rng(SEED)
    rows = []
    for i in range(N_UNITS):
        x1 = round(float(rng.normal()), 6)
        x2 = round(float(rng.normal(0.5, 1.0)), 6)
        never = rng.random() < sigmoid(np.array([0.8 * x1 - 0.2]))[0]
        g = 0 if never else COHORTS[int(rng.integers(len(COHORTS)))]
        fe = rng.normal()
        for t in PERIODS:
            tau = (t - g + 1) if g > 0 and t >= g else 0.0
            y = (fe + 0.5 * t + 0.3 * x1 * t - 0.2 * x2 * t + tau
                 + 0.2 * rng.normal())
            rows.append((i, t, g, round(float(y), 6), x1, x2))
    return rows


def logit_mle(x, d, w, tol=1e-12, max_iter=200):
    """Unpenalized weighted logistic MLE (glm binomial), Newton from 0."""
    beta = np.zeros(x.shape[1])
    for _ in range(max_iter):
        mu = sigmoid(x @ beta)
        h = x.T @ (x * (w * mu * (1.0 - mu))[:, None])
        step = np.linalg.solve(h, x.T @ (w * (d - mu)))
        beta = beta + step
        if np.max(np.abs(step)) < tol:
            break
    return beta


def propensity(x, d, w):
    """Fitted propensity and its asymptotic linear representation:
    score_i (X'WX/n)^-1, the drdid `asy.lin.rep.ps`."""
    n = len(d)
    ps = np.minimum(sigmoid(x @ logit_mle(x, d, w)), 1 - 1e-16)
    hess_inv = np.linalg.inv(x.T @ (x * (w * ps * (1 - ps))[:, None]) / n)
    return ps, (x * (w * (d - ps))[:, None]) @ hess_inv


def control_ols(x, dy, w, d):
    """OLS of dy on x over the control units, the fitted values for
    every unit and the drdid `asy.lin.rep.ols`."""
    n = len(dy)
    wo = w * (1 - d)
    beta = np.linalg.solve(x.T @ (x * wo[:, None]), (x * wo[:, None]).T @ dy)
    out = x @ beta
    xpx_inv = np.linalg.inv(x.T @ (x * wo[:, None]) / n)
    return out, (x * (wo * (dy - out))[:, None]) @ xpx_inv


def col_means(x, v):
    return (x * v[:, None]).mean(axis=0)


def dr_did_panel(dy, d, w, x):
    """drdid_panel: doubly-robust DiD with panel data."""
    w = w / w.mean()
    ps, lin_ps = propensity(x, d, w)
    out, lin_ols = control_ols(x, dy, w, d)
    w_t = w * d
    w_c = w * ps * (1 - d) / (1 - ps)
    att_t = w_t * (dy - out)
    att_c = w_c * (dy - out)
    eta_t = att_t.mean() / w_t.mean()
    eta_c = att_c.mean() / w_c.mean()
    inf_t = (att_t - w_t * eta_t - lin_ols @ col_means(x, w_t)) / w_t.mean()
    inf_c = (att_c - w_c * eta_c
             + lin_ps @ col_means(x, w_c * (dy - out - eta_c))
             - lin_ols @ col_means(x, w_c)) / w_c.mean()
    return eta_t - eta_c, inf_t - inf_c


def reg_did_panel(dy, d, w, x):
    """reg_did_panel: outcome-regression DiD with panel data."""
    w = w / w.mean()
    out, lin_ols = control_ols(x, dy, w, d)
    w_t = w * d
    att_t = w_t * dy
    att_c = w_t * out
    eta_t = att_t.mean() / w_t.mean()
    eta_c = att_c.mean() / w_t.mean()
    inf_t = (att_t - w_t * eta_t) / w_t.mean()
    inf_c = (att_c - w_t * eta_c + lin_ols @ col_means(x, w_t)) / w_t.mean()
    return eta_t - eta_c, inf_t - inf_c


def ipw_did_panel(dy, d, w, x):
    """std_ipw_did_panel: Hajek-normalized IPW DiD with panel data."""
    w = w / w.mean()
    ps, lin_ps = propensity(x, d, w)
    w_t = w * d
    w_c = w * ps * (1 - d) / (1 - ps)
    eta_t = (w_t * dy).mean() / w_t.mean()
    eta_c = (w_c * dy).mean() / w_c.mean()
    inf_t = (w_t * dy - w_t * eta_t) / w_t.mean()
    inf_c = (w_c * dy - w_c * eta_c
             + lin_ps @ col_means(x, w_c * (dy - eta_c))) / w_c.mean()
    return eta_t - eta_c, inf_t - inf_c


def surface(rows, estimator):
    """(g, t, att, se) for every cell of the varying-base grid."""
    data = np.array(rows, dtype=float)
    ids = np.unique(data[:, 0])
    n = len(ids)
    y = {(int(r[0]), int(r[1])): r[3] for r in rows}
    unit = {int(r[0]): (r[2], r[4], r[5]) for r in rows}
    out = []
    for g in COHORTS:
        for ti in range(1, len(PERIODS)):
            t = PERIODS[ti]
            base = g - 1 if g <= t else PERIODS[ti - 1]
            cell = [u for u in sorted(unit) if unit[u][0] in (g, 0)]
            dy = np.array([y[(u, t)] - y[(u, base)] for u in cell])
            d = np.array([1.0 if unit[u][0] == g else 0.0 for u in cell])
            x = np.array([[unit[u][1], unit[u][2]] for u in cell])
            att, inf = estimator(dy, d, np.ones(len(cell)), x)
            inf = inf * n / len(cell)
            out.append((g, t, repr(float(att)),
                        repr(float(np.sqrt((inf * inf).sum()) / n))))
    return out


def main():
    rows = panel()
    with open("src/test/resources/panel_cov.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "period", "g", "y", "x1", "x2"])
        w.writerows(rows)
    with open("src/test/resources/panel_cov_att.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["est", "g", "t", "att", "se"])
        for name, est in [("dr", dr_did_panel), ("reg", reg_did_panel),
                          ("ipw", ipw_did_panel)]:
            for r in surface(rows, est):
                w.writerow((name,) + r)
    print(f"wrote {len(rows)} panel rows and {3 * len(COHORTS) * (len(PERIODS) - 1)}"
          " cells to src/test/resources/panel_cov*.csv")


if __name__ == "__main__":
    main()
