"""Distribution-drift gate: per-source n_tok histogram vs baseline.

Engine analogue of the reference's expected-status comparison + threshold
verdicts (/root/reference/README.md expected-status table,
bin/analyze_joss.py:302-345): observed behavior is compared to a stored
expectation, and a graded verdict is emitted.

Scale plan: the statistics run on **pre-aggregated histograms, never raw
rows**. One distributed `groupBy(source, bucket).count()` reduces 10^12
rows to (sources × 64 buckets) rows, full-outer-joined to the baseline.
That bounded table is collected to the driver, where `drift_stats_pdf`
computes KS and chi-square per source through a pandas groupby. Python
touches kilobytes, and no Python worker starts: a grouped pandas apply
would pay a shuffle and a worker round trip for the same few rows.

Statistics (numpy-only; scipy is not in the image):
- Pearson chi-square of observed bucket counts vs expected = n·p, with
  p-value via the regularized upper incomplete gamma Q(k/2, x/2)
  (standard series/continued-fraction evaluation).
- One-sample KS on the binned CDF, D = max|F_obs - F_base|, with the
  asymptotic Kolmogorov p-value Q(λ) = 2 Σ (-1)^{j-1} e^{-2 j² λ²} and
  the usual finite-n correction. KS-on-binned-data is an approximation
  (SURVEY.md section 7.3) — bucket width is pinned in CheckConfig and
  tested against raw-data KS at small scale.

Verdict (graded on the driver, `grade`): FAIL if either p < alpha or
the out-of-support fraction exceeds its maximum (given ≥ min_drift_rows
rows); UNKNOWN when the source has no baseline — mirroring the
reference's missing-input default (bin/analyze_joss.py:96-105).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokenqc.checks.base import CheckConfig
from tokenqc.schema import FAIL, PASS, UNKNOWN

CHECK = "drift"

_VERDICT_SCHEMA = (
    "source string, status string, n_rows long, chi2 double, chi2_p double, "
    "ks_d double, ks_p double, out_frac double"
)


# ---------------------------------------------------------------------------
# p-value math (pure numpy/math, standard textbook evaluations)
# ---------------------------------------------------------------------------
def _gammainc_upper_reg(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x), a>0, x>=0."""
    if x <= 0.0:
        return 1.0
    if x < a + 1.0:
        # lower series: P(a,x), return 1-P
        term = 1.0 / a
        total = term
        for n in range(1, 500):
            term *= x / (a + n)
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        p = total * math.exp(-x + a * math.log(x) - math.lgamma(a))
        return max(0.0, min(1.0, 1.0 - p))
    # continued fraction for Q(a,x) (modified Lentz)
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for n in range(1, 500):
        an = -n * (n - a)
        b += 2.0
        d = an * d + b
        d = tiny if abs(d) < tiny else d
        c = b + an / c
        c = tiny if abs(c) < tiny else c
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    return max(0.0, min(1.0, h * math.exp(-x + a * math.log(x) - math.lgamma(a))))


def chi2_sf(stat: float, dof: int) -> float:
    """P[X >= stat] for chi-square with `dof` degrees of freedom."""
    if dof <= 0:
        return 1.0
    return _gammainc_upper_reg(dof / 2.0, stat / 2.0)


def ks_pvalue(d: float, n: float) -> float:
    """Asymptotic one-sample Kolmogorov p-value with finite-n correction."""
    if n <= 0 or d <= 0:
        return 1.0
    lam = (math.sqrt(n) + 0.12 + 0.11 / math.sqrt(n)) * d
    if lam < 0.3:
        # alternating series is numerically useless here; Q(0.3) > 1-1e-7
        return 1.0
    s = 0.0
    for j in range(1, 101):
        term = 2.0 * (-1.0) ** (j - 1) * math.exp(-2.0 * j * j * lam * lam)
        s += term
        if abs(term) < 1e-12:
            break
    return max(0.0, min(1.0, s))


def drift_stats_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-source group: observed bucket counts + baseline p → statistics.

    Input columns: source, bucket, cnt (observed; 0/NaN ok), p (baseline
    probability; NaN if the source has no baseline row for that bucket).
    """
    pdf = pdf.sort_values("bucket")  # group rows arrive unordered; CDF needs order
    src = pdf["source"].iloc[0]
    has_base = bool(pdf["p"].notna().any())
    obs = pdf["cnt"].fillna(0.0).to_numpy(dtype=np.float64)
    n = float(obs.sum())
    if not has_base or n == 0:
        return pd.DataFrame(
            [{"source": src, "n_rows": int(n), "chi2": float("nan"), "chi2_p": float("nan"),
              "ks_d": float("nan"), "ks_p": float("nan"), "out_frac": float("nan"),
              "has_baseline": has_base}]
        )
    p = pdf["p"].fillna(0.0).to_numpy(dtype=np.float64)
    p = p / p.sum() if p.sum() > 0 else p
    # chi-square over the baseline's support, renormalized; mass observed
    # outside the support is reported separately as out_frac (a baseline
    # built from a finite snapshot has hard zeros in its tails — a row
    # there is evidence, but graded by *rate*, not an infinite statistic)
    support = p > 0
    n_in = float(obs[support].sum())
    out_frac = float(obs[~support].sum()) / n if n > 0 else 0.0
    if n_in > 0:
        p_in = p[support] / p[support].sum()
        exp = n_in * p_in
        chi2 = float(((obs[support] - exp) ** 2 / exp).sum())
        dof = int(support.sum()) - 1
        chi2_p = chi2_sf(chi2, dof)
        cdf_obs = np.cumsum(obs[support]) / n_in
        cdf_base = np.cumsum(p_in)
        ks_d = float(np.abs(cdf_obs - cdf_base).max())
        ks_p = ks_pvalue(ks_d, n_in)
    else:
        chi2 = chi2_p = ks_d = ks_p = float("nan")
    return pd.DataFrame(
        [{"source": src, "n_rows": int(n), "chi2": chi2, "chi2_p": chi2_p,
          "ks_d": ks_d, "ks_p": ks_p, "out_frac": out_frac, "has_baseline": True}]
    )


# ---------------------------------------------------------------------------
# DataFrame-level operator
# ---------------------------------------------------------------------------
def observed_histogram(df: DataFrame, cfg: CheckConfig) -> DataFrame:
    """groupBy(source, floor(n_tok/w)) — 10^12 rows → ~sources×64 rows.

    Only (source, n_tok) are read: column pruning keeps the tokens
    array out of this scan entirely (verify via .explain / ReadSchema).
    """
    return (
        df.where(F.col("source").isNotNull() & (F.col("n_tok") > 0))
        .groupBy(
            "source",
            F.floor(F.col("n_tok") / cfg.bucket_width).cast("int").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def grade(stats: pd.DataFrame, cfg: CheckConfig) -> pd.Series:
    """The drift verdict of each `drift_stats_pdf` row.

    A NaN statistic never selects FAIL, because a comparison with NaN is
    false. That is the grade a Spark SQL form of the rule gives too: the
    frame `verdicts` returns holds NULL where pandas has NaN, and a NULL
    comparison never selects its branch either."""
    alpha = float(cfg.drift_alpha)
    fail = (
        (stats["chi2_p"] < alpha)
        | (stats["ks_p"] < alpha)
        | (stats["out_frac"] > cfg.drift_out_frac_max)
    )
    status = np.where(fail, FAIL, PASS)
    status = np.where(stats["n_rows"] < cfg.min_drift_rows, UNKNOWN, status)
    status = np.where(stats["has_baseline"].astype(bool), status, UNKNOWN)
    return pd.Series(status, index=stats.index)


def verdicts(df: DataFrame, baseline_hist: DataFrame, cfg: CheckConfig) -> DataFrame:
    """Per-source drift verdict rows, graded on the driver.

    The observed histogram full-outer-joined to the baseline holds at
    most sources × buckets rows: it is collected, and each source (a NULL
    source included) goes through `drift_stats_pdf` and `grade`. Eager:
    the histogram jobs run before it returns a local frame of
    (source, status, n_rows, chi2, chi2_p, ks_d, ks_p, out_frac), with
    NaN statistics as NULL.
    """
    hist = observed_histogram(df, cfg)
    joined = hist.join(baseline_hist, on=["source", "bucket"], how="full_outer")
    pdf = joined.select("source", "bucket", "cnt", "p").toPandas()
    spark = df.sparkSession
    if pdf.empty:
        return spark.createDataFrame([], _VERDICT_SCHEMA)
    stats = pd.concat(
        [drift_stats_pdf(g) for _, g in pdf.groupby("source", dropna=False, sort=False)],
        ignore_index=True,
    )
    stats.insert(1, "status", grade(stats, cfg))
    return spark.createDataFrame(stats.drop(columns="has_baseline"), _VERDICT_SCHEMA)


def js_divergence(
    df: DataFrame,
    baseline_hist: DataFrame,
    cfg: CheckConfig,
    js_max: float = 0.1,
) -> DataFrame:
    """Jensen–Shannon divergence per source between the observed n_tok
    histogram and the baseline — the information-theoretic twin of the
    chi2/KS gate (log base 2, so JS ∈ [0, 1]; symmetric; defined even
    where one side has zero mass, which is exactly where KL explodes).

    Same scale discipline as `verdicts`: the statistic is computed over
    the AGGREGATED histograms (sources × buckets rows after the
    distributed groupBy) — but unlike chi2/KS it needs no special
    functions, so it stays entirely JVM-side in one aggregate expression
    (no Python at all). Output: (source, n_rows, js_divergence, status)
    with FAIL when js > js_max, UNKNOWN when the source has no baseline.
    """
    return js_from_histograms(observed_histogram(df, cfg), baseline_hist, js_max)


def js_from_histograms(
    hist: DataFrame, baseline_hist: DataFrame, js_max: float = 0.1
) -> DataFrame:
    """JS gate over an ALREADY-AGGREGATED (source, bucket, cnt) frame —
    the shared core of the n_tok gate (js_divergence) and the token gate
    (token_js_divergence)."""
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    obs = hist.join(tot, "source").select(
        "source", "bucket", "n", (F.col("cnt") / F.col("n")).alias("q")
    )
    bsum = baseline_hist.groupBy("source").agg(F.sum("p").alias("psum"))
    base = baseline_hist.join(bsum, "source").select(
        "source", "bucket", (F.col("p") / F.col("psum")).alias("p")
    )
    j = obs.join(base, ["source", "bucket"], "full_outer")
    p = F.coalesce(F.col("p"), F.lit(0.0))
    q = F.coalesce(F.col("q"), F.lit(0.0))
    # 0·log(0/x) := 0 — guard each term, not the sum
    term_q = F.when(q > 0, q * F.log2(F.lit(2.0) * q / (p + q))).otherwise(F.lit(0.0))
    term_p = F.when(p > 0, p * F.log2(F.lit(2.0) * p / (p + q))).otherwise(F.lit(0.0))
    agg = j.groupBy("source").agg(
        F.max("n").alias("n_rows"),
        (F.lit(0.5) * F.sum(term_q) + F.lit(0.5) * F.sum(term_p)).alias("js_raw"),
        F.max(F.col("p").isNotNull().cast("int")).alias("has_base"),
    )
    return agg.select(
        "source",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.round("js_raw", 6).alias("js_divergence"),
        F.when(F.col("has_base") == 0, F.lit("UNKNOWN"))
        .when(F.round("js_raw", 6) > js_max, F.lit("FAIL"))
        .otherwise(F.lit("PASS"))
        .alias("status"),
    )


def token_histogram(
    df: DataFrame,
    n_buckets: int = 256,
    tokens_col: str = "tokens",
    source_col: str = "source",
) -> DataFrame:
    """Per-source histogram over token-id residue buckets — the raw
    material of the TOKEN-unigram drift gate (drift over what the
    sequences contain, where `observed_histogram` drifts over how long
    they are).

    Bucket = ``pmod(token, n_buckets)``: a systematic hash, so any shift
    in the unigram distribution (tokenizer change, template corruption,
    degenerate repetition flooding one id) moves bucket mass. Scale
    shape: the explode is narrow (source + one int — the token arrays
    never shuffle), and the groupBy partial-aggregates map-side, so at
    10^12 rows × ~1k tokens the shuffle moves at most
    tasks × sources × n_buckets count rows. Output:
    (source, bucket, cnt) — directly consumable by js_from_histograms.
    """
    return (
        df.where(
            F.col(source_col).isNotNull()
            & F.col(tokens_col).isNotNull()
            & (F.size(tokens_col) > 0)
        )
        .select(F.col(source_col).alias("source"), F.explode(tokens_col).alias("__tok"))
        .groupBy("source", F.pmod("__tok", F.lit(n_buckets)).cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_js_divergence(
    df: DataFrame,
    baseline_hist: DataFrame,
    js_max: float = 0.1,
    n_buckets: int = 256,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Token-unigram drift verdicts: JS divergence per source between the
    observed token-residue histogram and a baseline snapshot of bucket
    probabilities (source, bucket, p). Reuses js_from_histograms — the
    exact math (and UNKNOWN-without-baseline semantics) of the n_tok JS
    gate, applied to the content distribution. Note n_rows in the output
    counts TOKENS per source, not sequences (the histogram's unit)."""
    return js_from_histograms(
        token_histogram(df, n_buckets=n_buckets, tokens_col=tokens_col),
        baseline_hist,
        js_max,
    )
