"""Independent checker of graft's MAS output.

It re-derives every result row from the generated input with numpy and
pandas alone — the reference semantics, not graft's code — and compares
the written output against it:

  * the full predictor x dependent grid, one row per pair;
  * exact cases/controls/total_n (binary) or n_observations (linear) after
    the pair null-drop, and the exact failed_reason text of pairs that are
    not fitted;
  * for fitted pairs, a Firth fit (logistf defaults: Jeffreys penalty, LRT
    p from chi-square with 1 df, Wald CI) iterated to 1e-9, or an OLS fit
    on RINT-transformed dependents, with per-pair constant covariates
    dropped; beta, se, pval and the CI agree within TOL;
  * OR = exp(beta); bonferroni_significant == pval < 0.05 / #non-null pvals;
  * the PheCode annotation columns, against this module's own read of the
    bundled catalog CSV;
  * the sort order (pval, then predictor, then dependent);
  * that planted-effect pairs reach p < 0.05 with the right sign, and that
    null pairs show a p < 0.05 count inside binomial bounds.

`python3 perfbench/check.py --self-test` runs the checker's own test.
"""
import glob
import math
import os
import statistics
import sys

import numpy as np
import pandas as pd

Z975 = 1.959963984540054
MIN_CASE = 20           # GraftConfig default, the reference's --min-case-count
GROUP_ROWS_MAX = 20000  # spark.graft.irls.groupRowsMax default: the gram route above it
SINGULAR = "Singular information matrix."

# Tolerances. Graft stops a Firth fit once the last Newton step and the
# penalized score are both below 1e-5; the checker iterates the same
# fixed point to 1e-9. The gap to the optimum is then at most about
# 1e-5 / (smallest information eigenvalue); for the cohorts here that is
# under 1e-6 in beta, so a 10x margin gives 1e-5. se moves with beta
# through the information matrix (relative 1e-5). The LRT statistic is
# flat at both optima, so pval differs by round-off only; near stat = 0
# the chi-square density is steep, hence the absolute term. OLS is a
# direct solve: the tolerance covers round-off of graft's centered
# co-moment merge.
TOL = {
    "firth": dict(beta_abs=1e-5, beta_rel=1e-6, se_rel=1e-5, p_abs=1e-7, p_rel=1e-5),
    "linear": dict(beta_abs=1e-9, beta_rel=1e-7, se_rel=1e-7, p_abs=1e-10, p_rel=1e-6),
}

BINARY_COLS = ["predictor", "dependent", "pval", "beta", "se", "OR", "ci_low", "ci_high",
               "cases", "controls", "total_n", "converged", "failed_reason", "equation"]
LINEAR_COLS = ["predictor", "dependent", "pval", "beta", "se", "ci_low", "ci_high",
               "n_observations", "converged", "failed_reason", "equation"]
ANNOT_COLS = ["phenotype", "sex", "category", "category_number"]


# ----------------------------------------------------------- distributions

def chi2_sf1(x):
    return 1.0 if x <= 0 else math.erfc(math.sqrt(x / 2.0))


def _betacf(a, b, x):
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 100000):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        de = d * c
        h *= de
        if abs(de - 1.0) < 1e-16:
            break
    return h


def inc_beta(a, b, x):
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbt = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(lbt) * _betacf(a, b, x) / a
    return 1.0 - math.exp(lbt) * _betacf(b, a, 1.0 - x) / b


def t_sf2(t, df):
    """Two-sided Student-t tail probability."""
    return inc_beta(df / 2.0, 0.5, df / (df + t * t))


_TQ = {}


def t_q975(df):
    """0.975 quantile of Student-t (bisection on the two-sided tail)."""
    if df not in _TQ:
        lo, hi = 0.0, 20.0
        for _ in range(200):
            mid = 0.5 * (lo + hi)
            if t_sf2(mid, df) > 0.05:
                lo = mid
            else:
                hi = mid
        _TQ[df] = 0.5 * (lo + hi)
    return _TQ[df]


_ND = statistics.NormalDist()


# ------------------------------------------------------------------- input

def load_input(cfg):
    path = cfg["input"]
    if path.endswith(".parquet"):
        return pd.read_parquet(path)
    return pd.read_csv(path, sep="\t", na_values=["NA"], keep_default_na=False)


def prepare(meta, df):
    """The reference preprocessing: drop rows with a missing covariate or
    mean-fill it, drop globally constant covariates, one-hot categoricals
    with more than two levels (first sorted level dropped, dummies
    appended), RINT the dependents with rank ties broken by the order
    column."""
    cfg = meta["config"]
    covs = [c for c in cfg["covariates"].split(",") if c]
    cats = [c for c in cfg.get("categoricalCovariates", "").split(",") if c]
    how = cfg["missingCovariateValues"]
    assert how in ("drop", "mean")
    if how == "drop":
        df = df.dropna(subset=covs).reset_index(drop=True)
    data = {}
    for c in covs:
        v = df[c].to_numpy(dtype=float)
        v = np.where(np.isnan(v), np.nanmean(v), v)
        if len(np.unique(v)) > 1:
            data[c] = v
    names = [c for c in covs if c in data and c not in cats]
    for c in cats:
        if c not in data:
            continue
        levels = sorted({str(int(v)) if float(v).is_integer() else repr(float(v)) for v in data[c]})
        if len(levels) <= 2:
            names.append(c)
            continue
        raw = df[c].to_numpy()
        for lv in levels[1:]:
            data[f"{c}_{lv}"] = (raw.astype(float) == float(lv)).astype(float)
            names.append(f"{c}_{lv}")
    cov = np.column_stack([data[c] for c in names]) if names else np.zeros((len(df), 0))
    deps = {}
    for d in meta["dependents"]:
        y = df[d].to_numpy(dtype=float)
        if cfg.get("rint") == "true":
            ids = df[cfg["orderCol"]].to_numpy()
            ok = ~np.isnan(y)
            idx = np.flatnonzero(ok)
            order = idx[np.lexsort((ids[idx], y[idx]))]
            n = len(idx)
            r = np.full(len(y), np.nan)
            r[order] = [_ND.inv_cdf((k + 1 - 0.375) / (n + 0.25)) for k in range(n)]
            y = r
        deps[d] = y
    preds = {p: df[p].to_numpy(dtype=float) for p in meta["predictors"]}
    return names, cov, preds, deps, len(df)


# -------------------------------------------------------------------- fits

def firth_batch(X, Y, M, fix0, beta0=None, tol=1e-9, maxit=200):
    """Firth-penalized logistic fits of P outcomes on one n x k design.
    Y, M: P x n outcomes and 0/1 row masks (a pair's null-dropped rows are
    masked out). fix0 holds coefficient 0 at zero (the LRT null model); the
    Jeffreys penalty stays on the full design. A pair leaves the iteration
    once its step and penalized score are both below tol. Returns beta, se
    and the penalized log-likelihood.

    Every per-pair k x k sum over rows goes through the n x k(k+1)/2 matrix
    of column products, so the information matrices and hat diagonals of
    all pairs are two matrix products per iteration."""
    P, n = Y.shape
    k = X.shape[1]
    iu = np.triu_indices(k)
    XX = X[:, iu[0]] * X[:, iu[1]]
    offdiag = np.where(iu[0] == iu[1], 1.0, 2.0)

    def info_of(w):
        t = w @ XX
        a = np.empty((len(w), k, k))
        a[:, iu[0], iu[1]] = t
        a[:, iu[1], iu[0]] = t
        return a

    free = np.arange(1, k) if fix0 else np.arange(k)
    beta = np.zeros((P, k)) if beta0 is None else beta0.copy()
    if fix0:
        beta[:, 0] = 0.0
    active = np.arange(P)
    it = 0
    while len(active) and it < maxit:
        it += 1
        b, y, m = beta[active], Y[active], M[active]
        p = 1.0 / (1.0 + np.exp(-(b @ X.T)))
        w = np.maximum(p * (1.0 - p), 1e-12) * m
        info = info_of(w)
        inv = np.linalg.inv(info)
        q = (inv[:, iu[0], iu[1]] * offdiag) @ XX.T
        score = (m * (y - p + w * q * (0.5 - p))) @ X
        sf = score[:, free]
        step = np.linalg.solve(info[:, free][:, :, free], sf[:, :, None])[:, :, 0]
        mx = np.abs(step).max(axis=1)
        scale = np.where(mx > 5.0, 5.0 / np.maximum(mx, 1e-300), 1.0)
        b[:, free] += scale[:, None] * step
        beta[active] = b
        active = active[~((mx * scale < tol) & (np.abs(sf).max(axis=1) < tol))]
    p = 1.0 / (1.0 + np.exp(-(beta @ X.T)))
    info = info_of(np.maximum(p * (1.0 - p), 1e-12) * M)
    pc = np.clip(p, 1e-15, 1 - 1e-15)
    ll = (M * (Y * np.log(pc) + (1.0 - Y) * np.log(1.0 - pc))).sum(axis=1)
    pll = ll + 0.5 * np.linalg.slogdet(info)[1]
    se = np.sqrt(np.diagonal(np.linalg.inv(info), axis1=1, axis2=2))
    return beta, se, pll


def firth_pairs(X, Y, M):
    """Full and LRT-null Firth fits (the null warm-started from the full
    optimum); returns beta0, se0, pval per pair."""
    b, se, pll = firth_batch(X, Y, M, fix0=False)
    _, _, pll0 = firth_batch(X, Y, M, fix0=True, beta0=b)
    stat = np.maximum(2.0 * (pll - pll0), 0.0)
    return np.column_stack([b[:, 0], se[:, 0], [chi2_sf1(x) for x in stat]])


def ols(x, cov, y):
    """OLS of y on [x, cov, 1]; t inference for x's coefficient."""
    X = np.column_stack([x, cov, np.ones(len(x))])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    df = len(y) - X.shape[1]
    xtx_inv = np.linalg.inv(X.T @ X)
    se = math.sqrt(float(resid @ resid) / df * xtx_inv[0, 0])
    b = float(beta[0])
    return b, se, t_sf2(b / se, df), b - t_q975(df) * se, b + t_q975(df) * se


# ---------------------------------------------------------- expected table

def _failed_row(pred, dep, reason, binary):
    r = dict(predictor=pred, dependent=dep, pval=np.nan, beta=np.nan, se=np.nan,
             ci_low=np.nan, ci_high=np.nan, converged=False, failed_reason=reason,
             equation="nan", dropped=())
    if binary:
        r.update(OR=np.nan, cases=-9, controls=-9, total_n=-9)
    else:
        r.update(n_observations=-9)
    return r


def expected(meta):
    """One expected row per (predictor, dependent) pair, plus the pair's
    dropped constant covariates and its melted row count."""
    cfg = meta["config"]
    binary = cfg["model"] != "linear"
    df = load_input(cfg)
    names, cov, preds, deps, n_rows = prepare(meta, df)
    rows, todo = [], []
    melted = 0
    for pred, x in preds.items():
        for dep, y in deps.items():
            m = ~np.isnan(x) & ~np.isnan(y)
            n = int(m.sum())
            melted += n
            if n == 0:
                rows.append(_failed_row(pred, dep, "No data after dropping nulls.", binary))
                continue
            if binary:
                cases = int(round(y[m].sum()))
                controls = n - cases
                if cases < MIN_CASE:
                    rows.append(_failed_row(pred, dep, f"Insufficient case count ({cases} cases).", True))
                    continue
                if controls < MIN_CASE:
                    rows.append(_failed_row(pred, dep, f"Insufficient control count ({controls} controls).", True))
                    continue
                if cases == n:
                    rows.append(_failed_row(pred, dep, "All observations are cases.", True))
                    continue
            elif n < MIN_CASE:
                rows.append(_failed_row(pred, dep, f"Not enough observations ({n}).", False))
                continue
            sub = cov[m]
            keep = tuple(j for j in range(len(names)) if np.ptp(sub[:, j]) > 0) if len(sub) else ()
            r = dict(predictor=pred, dependent=dep, converged=True, failed_reason="nan",
                     equation=f"{dep} ~ {pred} + {' + '.join(names[j] for j in keep)}",
                     dropped=tuple(names[j] for j in range(len(names)) if j not in keep))
            if binary:
                r.update(cases=cases, controls=controls, total_n=n)
            else:
                b, se, p, lo, hi = ols(x[m], sub[:, list(keep)], y[m])
                r.update(beta=b, se=se, pval=p, ci_low=lo, ci_high=hi, n_observations=n)
            rows.append(r)
            if binary:
                todo.append((len(rows) - 1, keep, m))
    if binary:
        # batch the Firth fits of pairs that share a predictor and kept set
        groups = {}
        for i, keep, m in todo:
            groups.setdefault((rows[i]["predictor"], keep), []).append((i, m))
        for (pred, keep), members in groups.items():
            X = np.column_stack([preds[pred], cov[:, list(keep)], np.ones(n_rows)])
            M = np.array([m for _, m in members], dtype=float)
            X = np.where(np.isnan(X), 0.0, X)
            Y = np.array([np.nan_to_num(deps[rows[i]["dependent"]]) for i, _ in members])
            fits = firth_pairs(X, Y * M, M)
            for (i, _), (b, se, p) in zip(members, fits):
                rows[i].update(beta=b, se=se, pval=p, OR=math.exp(b),
                               ci_low=b - Z975 * se, ci_high=b + Z975 * se)
    exp = pd.DataFrame(rows)
    exp.attrs["gram_route"] = binary and melted // max(1, len(rows)) > GROUP_ROWS_MAX
    return exp


# --------------------------------------------------------------- comparing

def read_output(path):
    """A Spark CSV output directory (or file) as a frame of raw strings."""
    parts = sorted(glob.glob(os.path.join(path, "part-*"))) if os.path.isdir(path) else [path]
    frames = [pd.read_csv(p, dtype=str, keep_default_na=False) for p in parts]
    frames = [f for f in frames if len(f.columns)]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def _f(s):
    return float("nan") if s == "" else float(s)


def _close(o, e, abs_tol, rel_tol):
    if math.isnan(e):
        return math.isnan(o)
    return abs(o - e) <= abs_tol + rel_tol * abs(e)


def row_problem(o, e, binary, tol, annot, thr):
    """First field of output row `o` that disagrees with expected row `e`."""
    for c in ("failed_reason", "equation"):
        if o[c] != e[c]:
            return c
    if o["converged"] != ("true" if e["converged"] else "false"):
        return "converged"
    for c in (("cases", "controls", "total_n") if binary else ("n_observations",)):
        if o[c] != str(int(e[c])):
            return c
    b, se, p = _f(o["beta"]), _f(o["se"]), _f(o["pval"])
    lo, hi = _f(o["ci_low"]), _f(o["ci_high"])
    if not _close(b, e["beta"], tol["beta_abs"], tol["beta_rel"]):
        return "beta"
    if not _close(se, e["se"], 0.0, tol["se_rel"]):
        return "se"
    if not _close(p, e["pval"], tol["p_abs"], tol["p_rel"]):
        return "pval"
    ci_tol = tol["beta_abs"] + tol["beta_rel"] * abs(e["beta"]) + 2.1 * tol["se_rel"] * e["se"] \
        if not math.isnan(e["beta"]) else 0.0
    if not (_close(lo, e["ci_low"], ci_tol, 0.0) and _close(hi, e["ci_high"], ci_tol, 0.0)):
        return "ci"
    if binary:
        orv = _f(o["OR"])
        if not (math.isnan(b) and math.isnan(orv)) and not _close(orv, math.exp(b), 0.0, 1e-12):
            return "OR"
    flag = (not math.isnan(p)) and p < thr
    if o["bonferroni_significant"] != ("true" if flag else "false"):
        return "bonferroni_significant"
    if annot is not None:
        for c, v in zip(ANNOT_COLS, annot):
            if o[c] != v:
                return c
    return None


def _sort_key(o):
    p = _f(o["pval"])
    return (math.inf if math.isnan(p) else p, 1 if math.isnan(p) else 0, o["predictor"], o["dependent"])


def compare(out, exp, meta, catalog):
    """Check one written output against the expected table. Returns
    (failed pair count, known-fault count, problem counts)."""
    cfg = meta["config"]
    binary = cfg["model"] != "linear"
    tol = TOL["firth" if binary else "linear"]
    cols = (BINARY_COLS if binary else LINEAR_COLS) + ["bonferroni_significant"] + ANNOT_COLS
    problems = {}

    def bad(key):
        problems[key] = problems.get(key, 0) + 1

    grid = len(exp)
    if list(out.columns) != cols:
        bad("columns")
        return grid, 0, problems
    on = "predictor" if cfg.get("flipwas") == "true" else "dependent"
    # #non-null pvals: NaN (a failed pair) is a value, not a null
    thr = 0.05 / int((out["pval"] != "").sum())
    out_rows = out.to_dict("records")
    seen = {}
    for i, o in enumerate(out_rows):
        seen.setdefault((o["predictor"], o["dependent"]), []).append(i)
    wrong = set()
    for i in range(1, len(out_rows)):
        if _sort_key(out_rows[i]) < _sort_key(out_rows[i - 1]):
            wrong.add(i)
    failed = known = 0
    for e in exp.to_dict("records"):
        idx = seen.pop((e["predictor"], e["dependent"]), [])
        if len(idx) != 1:
            bad("missing" if not idx else "duplicate")
            failed += 1
            continue
        o = out_rows[idx[0]]
        why = row_problem(o, e, binary, tol, catalog.get(o[on]), thr)
        if why is None and idx[0] in wrong:
            why = "order"
        if why is None:
            continue
        failed += 1
        if exp.attrs.get("gram_route") and e["dropped"] and o["failed_reason"] == SINGULAR:
            known += 1
            bad("known:gram-constant-covariate")
        else:
            bad(why)
    if seen:
        bad("unexpected_rows")
    return failed, known, problems


def statistics_check(exp, meta):
    """Planted pairs significant with the right sign; null pairs' p < 0.05
    count within the central 1 - 2e-6 of Binomial(n, 0.05). Returns a list
    of problems."""
    plant = meta["planted"]
    on = "predictor" if meta["config"].get("flipwas") == "true" else "dependent"
    fitted = exp[exp.failed_reason == "nan"]
    issues = []
    flip = meta["config"].get("flipwas") == "true"
    for r in fitted.itertuples():
        code = getattr(r, on)
        if code in plant:
            sign = plant[code]
            if flip and meta["dependents"].index(r.dependent) % 2 == 1:
                sign = -sign
            if not (r.pval < 0.05 and np.sign(r.beta) == sign):
                issues.append(f"planted {r.predictor}~{r.dependent}: p={r.pval:.3g} beta={r.beta:.3g}")
    nulls = fitted[~fitted[on].isin(list(plant))]
    if len(nulls):
        hits = int((nulls.pval < 0.05).sum())
        n = len(nulls)
        pmf = [math.comb(n, k) * 0.05 ** k * 0.95 ** (n - k) for k in range(n + 1)]
        lo = next(k for k in range(n + 1) if sum(pmf[:k + 1]) > 1e-6)
        hi = next(k for k in range(n, -1, -1) if sum(pmf[k:]) > 1e-6)
        if not lo <= hits <= hi:
            issues.append(f"null p<0.05 rate {hits}/{n} outside binomial bounds [{lo}, {hi}]")
    return issues


def load_catalog(root):
    d = pd.read_csv(os.path.join(root, "src", "main", "resources", "graft",
                                 "phecode_definitions1.2.csv"), dtype=str, keep_default_na=False)
    return {r.phecode: (r.phenotype, r.sex, r.category, r.category_number) for r in d.itertuples()}


# ---------------------------------------------------------------- self-test

def render(exp, meta, catalog):
    """The output graft should write for `exp`, as raw strings."""
    cfg = meta["config"]
    binary = cfg["model"] != "linear"
    on = "predictor" if cfg.get("flipwas") == "true" else "dependent"
    thr = 0.05 / len(exp)
    rows = []
    for e in exp.to_dict("records"):
        r = {}
        for c in BINARY_COLS if binary else LINEAR_COLS:
            v = e[c]
            if c in ("converged",):
                r[c] = "true" if v else "false"
            elif c in ("cases", "controls", "total_n", "n_observations"):
                r[c] = str(int(v))
            elif isinstance(v, float):
                r[c] = "NaN" if math.isnan(v) else repr(v)
            else:
                r[c] = v
        r["bonferroni_significant"] = "true" if e["pval"] < thr else "false"
        r.update(zip(ANNOT_COLS, catalog.get(e[on], ("",) * 4)))
        rows.append(r)
    out = pd.DataFrame(rows)
    return pd.DataFrame(sorted(out.to_dict("records"), key=_sort_key))


def self_test(exp, meta, catalog):
    """Returns a list of self-test failures (empty when the checker works):
    the closed-form Haldane 2x2 estimate, and detection of a beta shifted
    by 1e-3, a dropped row and a flipped Bonferroni flag."""
    issues = []
    # Firth on [x, 1] with binary x reproduces the Haldane-corrected log OR
    a, b, c, d = 7, 41, 3, 60  # x=1: cases, controls; x=0: cases, controls
    x = np.array([1.0] * (a + b) + [0.0] * (c + d))
    y = np.array([1.0] * a + [0.0] * b + [1.0] * c + [0.0] * d)
    beta, _, _ = firth_batch(np.column_stack([x, np.ones_like(x)]), y[None], np.ones((1, len(x))), False)
    haldane = math.log((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
    if abs(beta[0, 0] - haldane) > 1e-9:
        issues.append(f"Haldane 2x2: firth {beta[0, 0]!r} vs closed form {haldane!r}")
    good = render(exp, meta, catalog)
    f, _, pr = compare(good, exp, meta, catalog)
    if f:
        issues.append(f"rendered expected output reported {f} failures: {pr}")
    fitted = [i for i, v in enumerate(good["failed_reason"]) if v == "nan"]
    i = fitted[len(fitted) // 2]
    shifted = good.copy()
    shifted.loc[i, "beta"] = repr(float(shifted.loc[i, "beta"]) + 1e-3)
    dropped = good.drop(index=i).reset_index(drop=True)
    flipped = good.copy()
    flipped.loc[i, "bonferroni_significant"] = \
        "false" if flipped.loc[i, "bonferroni_significant"] == "true" else "true"
    for name, bad in (("beta+1e-3", shifted), ("dropped row", dropped), ("flipped flag", flipped)):
        f, _, _ = compare(bad, exp, meta, catalog)
        if f != 1:
            issues.append(f"{name}: reported {f} failed rows, expected 1")
    return issues


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-test"]:
        raise SystemExit("usage: python3 perfbench/check.py --self-test")
    import tempfile
    import workloads
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cat = load_catalog(root)
    failures = 0
    scratch = os.path.join(root, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        for name in sorted(workloads.WORKLOADS):
            meta = workloads.generate(root, name, 1, tmp)
            issues = self_test(expected(meta), meta, cat)
            print(f"{name}: {'ok' if not issues else issues}")
            failures += len(issues)
    sys.exit(1 if failures else 0)
