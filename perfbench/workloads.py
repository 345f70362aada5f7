"""Workload definitions and the seeded input generator.

Each workload is one MAS study shape: an input file made from the seed, and
the GraftConfig fields that run it. The generator uses only numpy/pandas/
pyarrow; the same (workload, seed) always gives byte-identical inputs.

Phenotype columns are named after real phecodes of the bundled catalog
(src/main/resources/graft/phecode_definitions1.2.csv). Only the catalog's
dot-free codes (008, 250, ...) are used: a column named "008.5" makes graft
fail before any fit (CHANGES.md FOUND line), which would turn every workload
into one failure.
"""
import os

import numpy as np
import pandas as pd

CATALOG = os.path.join("src", "main", "resources", "graft", "phecode_definitions1.2.csv")

FEMALE = 1  # the program's default female code


def catalog(root):
    d = pd.read_csv(os.path.join(root, CATALOG), dtype=str, keep_default_na=False)
    return d[~d.phecode.str.contains(r"\.")].reset_index(drop=True)


def _pick(cat, both, female, male):
    """Seed-independent phecode choice: the first `both` sex-neutral codes and
    the first `female`/`male` sex-specific ones, in catalog order."""
    out = []
    for sex, k in (("Both", both), ("Female", female), ("Male", male)):
        rows = cat[cat.sex == sex].head(k)
        out += list(zip(rows.phecode, rows.sex))
    return out


def _sigmoid(z):
    return 1.0 / (1.0 + np.exp(-z))


def _intercept_for(eta_rest, prevalence):
    """Intercept giving the requested mean probability (bisection)."""
    lo, hi = -20.0, 20.0
    for _ in range(30):
        mid = 0.5 * (lo + hi)
        if _sigmoid(mid + eta_rest).mean() < prevalence:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


def _binary_phecodes(rng, codes, sex, eta_base, prevalence, effect, x):
    """One 0/1 column per phecode; sex-specific codes are null for the other
    sex, as an EHR phecode table records them."""
    cols = {}
    for j, (code, csex) in enumerate(codes):
        eta_rest = eta_base + effect[j] * x
        a = _intercept_for(eta_rest, prevalence[j])
        y = (rng.random(len(x)) < _sigmoid(a + eta_rest)).astype(float)
        if csex == "Female":
            y[sex != FEMALE] = np.nan
        elif csex == "Male":
            y[sex == FEMALE] = np.nan
        cols[code] = y
    return cols


# --------------------------------------------------------------- workloads

# planted effects are fixed positions in the phecode list (seed-independent);
# the seed only draws the data
WORKLOADS = {
    # the reference's published shape: one predictor x many phecodes x 5
    # covariates, parquet, --phewas; every pair takes the per-pair Firth path
    "phewas_firth": dict(
        # its warm reps keep getting faster under the JIT, so every run takes
        # them at the same point: three untimed warm-up reps, four timed
        kind="phewas", n=2000, warmup_reps=3, timed_reps=4,
        codes=dict(both=170, female=20, male=10),
        prevalence=(0.05, 0.30), rare_every=4, rare_prevalence=0.0015,
        planted_every=29, planted_beta=0.8, planted_prevalence=0.15,
        config=dict(predictors="exposure", covariates="age,bmi,sex,site,pc1",
                    categoricalCovariates="site", model="firth",
                    missingCovariateValues="drop", phewas="true",
                    outputType="csv")),
    # a few dozen phecodes on a cohort far above the 20,000 rows-per-pair
    # auto-route threshold: the gram route, TSV with NA markers
    "biobank_firth": dict(
        kind="biobank", n=25000, timed_reps=3,
        codes=dict(both=8, female=0, male=2),
        prevalence=(0.02, 0.20), planted_every=3, planted_beta=0.15,
        planted_prevalence=0.10,
        config=dict(predictors="prs",
                    covariates="age,sex,bmi,smoker,pc1,pc2,pc3,pc4",
                    nullValues="NA", model="firth",
                    missingCovariateValues="mean", phewas="true",
                    outputType="csv")),
    # hundreds of phecode predictors x a few RINT'd quantitative traits:
    # the one-pass co-moment aggregation, wide TSV, --flipwas
    "flipwas_linear": dict(
        kind="flipwas", n=10000,
        codes=dict(both=90, female=7, male=3),
        prevalence=(0.005, 0.25), planted_every=23, planted_beta=0.30,
        planted_prevalence=0.10,
        traits=("ldl", "hba1c", "sbp"),
        config=dict(dependents="ldl,hba1c,sbp",
                    covariates="age,sex,bmi,site,pc1",
                    categoricalCovariates="site", nullValues="NA",
                    model="linear", quantitative="true", rint="true",
                    orderCol="id", missingCovariateValues="drop",
                    flipwas="true", outputType="csv")),
}


def planted(spec, codes):
    """{phecode: true beta sign} for the planted-effect phecodes."""
    out = {}
    for j in range(0, len(codes), spec["planted_every"]):
        if codes[j][1] == "Both":
            out[codes[j][0]] = 1.0 if (j // spec["planted_every"]) % 2 == 0 else -1.0
    return out


def _prevalences(spec, codes, plant):
    """Seed-independent prevalences, log-spread over the workload's range
    (a golden-ratio sequence over the phecode list), so that the seed moves
    only the sampled data, not how much fitting work a run has. Every
    `rare_every`-th code is rare instead, far enough under min_case_count
    that no seed fits it; the others are far enough above it that every
    seed does."""
    lo, hi = np.log(spec["prevalence"][0]), np.log(spec["prevalence"][1])
    frac = (np.arange(len(codes)) * 0.6180339887498949) % 1.0
    prev = np.exp(lo + (hi - lo) * frac)
    for j, (code, _) in enumerate(codes):
        if code in plant:
            prev[j] = spec["planted_prevalence"]
        elif "rare_every" in spec and j % spec["rare_every"] == spec["rare_every"] - 1:
            prev[j] = spec["rare_prevalence"]
    return prev


def generate(root, name, seed, out_dir):
    """Write the input of workload `name` for `seed`; return its path and
    the generation metadata the checker needs."""
    spec = WORKLOADS[name]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(name)])
    cat = catalog(root)
    codes = _pick(cat, **spec["codes"])
    plant = planted(spec, codes)
    n = spec["n"]
    ids = np.arange(1, n + 1, dtype=np.int64)
    sex = (rng.random(n) < 0.55).astype(np.int64) * FEMALE
    age = np.round(rng.normal(55.0, 12.0, n), 1)
    bmi = np.round(rng.normal(28.0, 5.0, n), 1)
    bmi_obs = bmi.copy()
    bmi_obs[rng.random(n) < 0.05] = np.nan
    pc1 = np.round(rng.normal(0.0, 1.0, n), 4)
    base = 0.02 * (age - 55.0) + 0.3 * (sex == FEMALE) + 0.03 * (bmi - 28.0)
    cols = {"id": ids}
    meta = {"codes": codes, "planted": plant}

    if spec["kind"] == "phewas":
        site = rng.integers(1, 4, n).astype(np.int64)
        x = rng.binomial(2, 0.3, n).astype(float)
        effect = np.array([plant.get(c, 0.0) * spec["planted_beta"] for c, _ in codes])
        prev = _prevalences(spec, codes, plant)
        ph = _binary_phecodes(rng, codes, sex, base + 0.1 * (site - 2), prev, effect, x)
        # two edge columns, fixed positions (the last two sex-neutral codes):
        # an all-null phecode, whose pair has no data after the null-drop,
        # and an all-cases phecode
        both = spec["codes"]["both"]
        ph[codes[both - 1][0]][:] = np.nan
        ph[codes[both - 2][0]][:] = 1.0
        cols.update(exposure=x, age=age, bmi=bmi_obs, sex=sex, site=site, pc1=pc1)
        cols.update(ph)
        df = pd.DataFrame(cols)
        meta["dependents"] = [c for c, _ in codes]
        meta["predictors"] = ["exposure"]
        path = os.path.join(out_dir, "cohort.parquet")
        df.to_parquet(path, index=False)
        config = dict(spec["config"], dependents="i:%d-%d" % (7, 7 + len(codes)))

    elif spec["kind"] == "biobank":
        smoker = (rng.random(n) < 0.2).astype(np.int64)
        pcs = {f"pc{k}": np.round(rng.normal(0.0, 1.0, n), 4) for k in range(2, 5)}
        x = np.round(rng.normal(0.0, 1.0, n), 4)
        effect = np.array([plant.get(c, 0.0) * spec["planted_beta"] for c, _ in codes])
        prev = _prevalences(spec, codes, plant)
        ph = _binary_phecodes(rng, codes, sex, base + 0.4 * smoker, prev, effect, x)
        cols.update(prs=x, age=age, sex=sex, bmi=bmi_obs, smoker=smoker, pc1=pc1)
        cols.update(pcs)
        cols.update(ph)
        df = pd.DataFrame(cols)
        meta["dependents"] = [c for c, _ in codes]
        meta["predictors"] = ["prs"]
        path = os.path.join(out_dir, "cohort.tsv")
        _write_tsv(df, path)
        config = dict(spec["config"], dependents=",".join(meta["dependents"]))

    else:  # flipwas
        site = rng.integers(1, 5, n).astype(np.int64)
        prev = _prevalences(spec, codes, plant)
        effect = np.zeros(len(codes))
        ph = _binary_phecodes(rng, codes, sex, base, prev, effect, np.zeros(n))
        for code in ph:
            miss = rng.random(n) < 0.02
            ph[code][miss] = np.nan
        traits = {}
        for t, trait in enumerate(spec["traits"]):
            z = 0.01 * (age - 55.0) + 0.2 * (sex == FEMALE) + 0.05 * (site - 2.5)
            for code, sign in plant.items():
                v = np.nan_to_num(ph[code])
                z = z + (sign if t % 2 == 0 else -sign) * spec["planted_beta"] * v
            # skewed noise, rounded: RINT has work to do and rank ties to break
            y = np.round(z + rng.lognormal(0.0, 0.6, n), 2)
            y[rng.random(n) < 0.03] = np.nan
            traits[trait] = y
        cols.update(age=age, sex=sex, bmi=bmi_obs, site=site, pc1=pc1)
        cols.update(traits)
        cols.update(ph)
        df = pd.DataFrame(cols)
        meta["dependents"] = list(spec["traits"])
        meta["predictors"] = [c for c, _ in codes]
        first = 6 + len(spec["traits"])
        path = os.path.join(out_dir, "cohort.tsv")
        _write_tsv(df, path)
        config = dict(spec["config"], predictors="i:%d-%d" % (first, first + len(codes)))

    meta["config"] = dict(config, input=os.path.abspath(path))
    meta["warmup_reps"] = spec.get("warmup_reps", 0)
    meta["timed_reps"] = spec.get("timed_reps", 3)
    return meta


def _write_tsv(df, path):
    """Tab-separated, NA for missing. Integral columns (ids, codes, 0/1
    phecodes) are written as integers so the reader infers them as int;
    other floats as their shortest round-trip repr."""
    cols = []
    for c in df.columns:
        v = df[c].to_numpy()
        if v.dtype.kind in "iu":
            cols.append(v.astype(str))
            continue
        na = np.isnan(v)
        if np.all(na | (v == np.round(v))):
            s = np.where(na, 0, v).astype(np.int64).astype(str).astype(object)
        else:
            s = np.array([repr(float(x)) for x in v], dtype=object)
        s[na] = "NA"
        cols.append(s)
    with open(path, "w") as f:
        f.write("\t".join(df.columns) + "\n")
        for row in zip(*cols):
            f.write("\t".join(row) + "\n")
