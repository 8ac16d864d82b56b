"""Drift gate: planted drift on `code` must FAIL exactly that source;
p-value math is validated against closed-form/known values."""

from __future__ import annotations

import dataclasses
import json
import math

import numpy as np
import pandas as pd

from tokenqc.checks import base as cb, drift

CFG = cb.CheckConfig(n_partitions=16)


def test_chi2_sf_known_values():
    # chi-square sf at dof=1: P[X>=3.841] ≈ 0.05; dof=10: P[X>=18.307] ≈ 0.05
    assert abs(drift.chi2_sf(3.841, 1) - 0.05) < 1e-3
    assert abs(drift.chi2_sf(18.307, 10) - 0.05) < 1e-3
    assert drift.chi2_sf(0.0, 5) == 1.0
    assert drift.chi2_sf(1e9, 5) < 1e-12


def test_ks_pvalue_monotone():
    assert drift.ks_pvalue(0.0, 1000) == 1.0
    assert drift.ks_pvalue(0.5, 1000) < 1e-10
    p1 = drift.ks_pvalue(0.05, 1000)
    p2 = drift.ks_pvalue(0.10, 1000)
    assert p2 < p1 < 1.0


def test_drift_stats_pdf_no_drift():
    rng = np.random.default_rng(0)
    p = rng.random(64)
    p /= p.sum()
    n = 100_000
    obs = (p * n).round()
    pdf = pd.DataFrame({"source": ["s"] * 64, "bucket": range(64), "cnt": obs, "p": p})
    out = drift.drift_stats_pdf(pdf)
    assert out["chi2_p"].iloc[0] > 0.5
    assert out["ks_p"].iloc[0] > 0.5


def test_drift_stats_pdf_missing_baseline():
    pdf = pd.DataFrame({"source": ["s"] * 4, "bucket": range(4), "cnt": [10.0] * 4, "p": [math.nan] * 4})
    out = drift.drift_stats_pdf(pdf)
    assert not out["has_baseline"].iloc[0]


def test_planted_drift_fails_code_only(tables):
    dv = drift.verdicts(tables["sequences"], tables["baseline_hist"], CFG)
    res = {r.source: r.status for r in dv.collect()}
    assert res["code"] == "FAIL"
    assert res["web"] == "PASS"
    assert res["books"] == "PASS"
    assert res["wiki"] == "PASS"
    # rogue source has no baseline → UNKNOWN, not FAIL
    assert res["spam9"] == "UNKNOWN"


def test_binned_ks_close_to_raw_ks(tables):
    """KS on 64-wide buckets approximates raw-data KS (SURVEY §7.3)."""
    seq = tables["sequences"].where("source = 'web' and n_tok is not null")
    ntok = np.array([r.n_tok for r in seq.select("n_tok").collect()], dtype=float)
    base = tables["baseline_hist"].where("source = 'web'").toPandas().sort_values("bucket")
    # raw empirical CDF evaluated at bucket edges vs binned CDF
    edges = (base["bucket"].to_numpy() + 1) * 64
    cdf_raw = np.searchsorted(np.sort(ntok), edges, side="right") / len(ntok)
    cdf_base = base["p"].cumsum().to_numpy()
    d_raw = np.abs(cdf_raw - cdf_base).max()
    hist = drift.observed_histogram(seq, CFG).toPandas().set_index("bucket")["cnt"]
    obs = np.array([hist.get(b, 0) for b in base["bucket"]], dtype=float)
    d_binned = np.abs(np.cumsum(obs) / obs.sum() - cdf_base).max()
    assert abs(d_raw - d_binned) < 0.01


def test_chi2_sf_matches_classical_critical_values():
    """The hand-rolled incomplete-gamma evaluation must reproduce the
    classical chi-square critical-value table (the drift FAIL boundary
    rides on it)."""
    from tokenqc.checks.drift import chi2_sf

    table = [  # (critical value, dof, alpha)
        (3.841, 1, 0.05), (5.991, 2, 0.05), (11.070, 5, 0.05),
        (18.307, 10, 0.05), (6.635, 1, 0.01), (15.086, 5, 0.01),
        (23.209, 10, 0.01),
    ]
    for crit, dof, alpha in table:
        assert abs(chi2_sf(crit, dof) - alpha) < 5e-4, (crit, dof)


def test_ks_pvalue_matches_classical_constants():
    """Asymptotic Kolmogorov quantiles: Q(1.358)≈0.05, Q(1.628)≈0.01.
    ks_pvalue(d, n) applies the finite-n lambda correction, so evaluate
    at large n where lambda -> sqrt(n)*d."""
    from tokenqc.checks.drift import ks_pvalue

    n = 1_000_000.0
    for lam, alpha in [(1.358, 0.05), (1.628, 0.01), (1.949, 0.001)]:
        d = lam / (n ** 0.5 + 0.12 + 0.11 / n ** 0.5)
        assert abs(ks_pvalue(d, n) - alpha) < 2e-3, lam


def test_js_divergence_identical_disjoint_missing(spark):
    import pyspark.sql.functions as F

    cfg = cb.CheckConfig(n_partitions=4, bucket_width=64)
    # source 'same': matches its baseline exactly -> JS 0, PASS
    # source 'far': all mass in buckets the baseline gives zero -> JS 1, FAIL
    # source 'nobase': no baseline rows -> UNKNOWN
    rows = (
        [("same", 10) for _ in range(50)] + [("same", 100) for _ in range(50)]
        + [("far", 300) for _ in range(40)]
        + [("nobase", 10) for _ in range(10)]
    )
    df = spark.createDataFrame(
        [("d", s, n) for s, n in rows], "doc_id string, source string, n_tok int"
    )
    base = spark.createDataFrame(
        [("same", 0, 0.5), ("same", 1, 0.5), ("far", 0, 1.0)],
        "source string, bucket int, p double",
    )
    out = {r.source: r for r in drift.js_divergence(df, base, cfg).collect()}
    assert out["same"].js_divergence == 0.0 and out["same"].status == "PASS"
    assert out["far"].js_divergence == 1.0 and out["far"].status == "FAIL"
    assert out["nobase"].status == "UNKNOWN"
    assert out["same"].n_rows == 100 and out["far"].n_rows == 40


def test_js_divergence_hand_computed(spark):
    import math

    cfg = cb.CheckConfig(n_partitions=4, bucket_width=64)
    # observed: 75% bucket0 / 25% bucket1 vs baseline 50/50
    rows = [("s", 10)] * 75 + [("s", 100)] * 25
    df = spark.createDataFrame(
        [("d", s, n) for s, n in rows], "doc_id string, source string, n_tok int"
    )
    base = spark.createDataFrame(
        [("s", 0, 0.5), ("s", 1, 0.5)], "source string, bucket int, p double"
    )
    got = drift.js_divergence(df, base, cfg).first().js_divergence
    q, p = [0.75, 0.25], [0.5, 0.5]
    want = 0.5 * sum(
        qi * math.log2(2 * qi / (pi + qi)) for qi, pi in zip(q, p)
    ) + 0.5 * sum(pi * math.log2(2 * pi / (pi + qi)) for qi, pi in zip(q, p))
    assert got == round(want, 6)


def test_token_histogram_residues(spark):
    """Residue-bucket counts by hand: tokens hash to pmod(id, n_buckets);
    null/empty arrays and null sources are excluded."""
    from tokenqc.checks import drift

    df = spark.createDataFrame(
        [
            ("web", [0, 4, 8, 1]),     # residues mod 4: 0,0,0,1
            ("web", [5, 2]),           # 1, 2
            ("web", None),             # excluded
            ("web", []),               # excluded
            (None, [3]),               # excluded
        ],
        "source string, tokens array<int>",
    )
    got = {
        (r.source, r.bucket): r.cnt
        for r in drift.token_histogram(df, n_buckets=4).collect()
    }
    assert got == {("web", 0): 3, ("web", 1): 2, ("web", 2): 1}


def test_token_js_divergence_planted_skew(spark):
    """A source whose unigram stream collapses onto half the residues
    must FAIL against a uniform baseline; a matching source PASSes; a
    source absent from the baseline grades UNKNOWN. n_rows counts
    tokens."""
    from tokenqc.checks import drift

    rows = (
        # ok: one token in each residue class mod 4, 3x over
        [("ok", list(range(12)))]
        # collapsed: every token ≡ 0 (mod 4)
        + [("collapsed", [0, 4, 8, 12, 16, 20])]
        # nobase: uniform too, but not in the baseline
        + [("nobase", list(range(8)))]
    )
    df = spark.createDataFrame(rows, "source string, tokens array<int>")
    base = spark.createDataFrame(
        [(s, b, 0.25) for s in ("ok", "collapsed") for b in range(4)],
        "source string, bucket int, p double",
    )
    got = {
        r.source: (r.n_rows, r.js_divergence, r.status)
        for r in drift.token_js_divergence(df, base, js_max=0.1, n_buckets=4).collect()
    }
    assert got["ok"] == (12, 0.0, "PASS")
    assert got["nobase"][2] == "UNKNOWN"
    n, js, status = got["collapsed"]
    assert n == 6 and status == "FAIL"
    # hand value: q=(1,0,0,0), p=uniform(4):
    # JS = 0.5*[1*log2(2/ (0.25+1))] + 0.5*[0.25*log2(0.5/1.25)
    #      + 3*0.25*log2(2)] = 0.5*log2(1.6) + 0.5*(0.25*log2(0.4)+0.75)
    import math

    want = 0.5 * math.log2(1.6) + 0.5 * (0.25 * math.log2(0.4) + 0.75)
    assert abs(js - round(want, 6)) < 1e-9


def test_psi_from_histograms_hand_computed(spark):
    """PSI math + graded statuses pinned by a numpy replay; eps clamp
    keeps disjoint-support finite; missing baseline -> UNKNOWN."""
    import math
    from corpusops import checks as drift

    hist = spark.createDataFrame(
        [("a", 0, 50), ("a", 1, 50),
         ("b", 0, 90), ("b", 1, 10),
         ("c", 5, 100),            # disjoint from baseline support
         ("d", 0, 10)],            # no baseline row -> UNKNOWN
        "source string, bucket int, cnt long",
    )
    base = spark.createDataFrame(
        [("a", 0, 0.5), ("a", 1, 0.5),
         ("b", 0, 0.5), ("b", 1, 0.5),
         ("c", 0, 1.0)],
        "source string, bucket int, p double",
    )
    out = {r["source"]: r for r in
           drift.psi_from_histograms(hist, base, psi_warn=0.1, psi_fail=0.25).collect()}
    assert out["a"]["psi"] == 0.0 and out["a"]["status"] == "PASS"
    exp_b = (0.9 - 0.5) * math.log(0.9 / 0.5) + (0.1 - 0.5) * math.log(0.1 / 0.5)
    assert abs(out["b"]["psi"] - exp_b) < 1e-6
    assert out["b"]["status"] == "FAIL"  # ~0.879 >= 0.25
    # c: observed all in bucket 5 (baseline eps), baseline all in bucket 0
    eps = 1e-6
    exp_c = (1.0 - eps) * math.log(1.0 / eps) + (eps - 1.0) * math.log(eps / 1.0)
    assert abs(out["c"]["psi"] - exp_c) < 1e-4
    assert out["c"]["status"] == "FAIL"
    assert out["d"]["status"] == "UNKNOWN"
    # WARN band: grade b's 0.879 against a higher fail threshold
    warn = {r["source"]: r["status"] for r in
            drift.psi_from_histograms(hist, base, psi_warn=0.1, psi_fail=5.0).collect()}
    assert warn["b"] == "WARN"


def test_embedding_drift_hand_computed(spark):
    """Mean-shift z against a numpy replay; NEW_DIM/DROPPED_DIM on
    width changes; NaN/null/empty vectors excluded from both sides."""
    import numpy as np
    from corpusops import checks as drift

    rng = [[float(i), float(i % 3)] for i in range(10)]
    base = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)] + [(99, None)],
        "vec_id long, embedding array<float>",
    )
    # dim 0 shifted by +100 sigma-ish, dim 1 untouched, dim 2 appended
    cur_rows = [(i, [v[0] + 50.0, v[1], 7.0]) for i, v in enumerate(rng)]
    cur_rows.append((98, [float("nan"), 1.0, 1.0]))  # excluded
    cur = spark.createDataFrame(cur_rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in drift.embedding_drift(cur, base, z_max=3.0).collect()}
    a = np.array(rng, dtype=np.float64)
    mb0, vb0 = a[:, 0].mean(), a[:, 0].var()
    z0 = abs((a[:, 0] + 50.0).mean() - mb0) / np.sqrt(vb0 + 1e-12)
    assert out[0]["status"] == "SHIFTED"
    assert abs(out[0]["z"] - round(z0, 6)) < 1e-5
    assert out[1]["status"] == "OK" and out[1]["z"] == 0.0
    assert out[2]["status"] == "NEW_DIM" and out[2]["n_base"] is None
    assert out[0]["n_cur"] == 10  # NaN row excluded
    # dropped width: swap roles
    back = {r["dim"]: r["status"] for r in
            drift.embedding_drift(base, cur, z_max=1e9).collect()}
    assert back[2] == "DROPPED_DIM"


# ---------------------------------------------------------------------------
# parity with the grouped-pandas-apply formulation (the oracle runs the
# same drift_stats_pdf through Spark's applyInPandas and grades in SQL)
# ---------------------------------------------------------------------------
_STATS = ("chi2", "chi2_p", "ks_d", "ks_p")
_COLS = ("source", "status", "n_rows", "chi2", "chi2_p", "ks_d", "ks_p", "out_frac")


def _applyinpandas_verdicts(df, baseline_hist, cfg):
    """drift.verdicts as a groupBy().applyInPandas(drift_stats_pdf) plus a
    Spark SQL status rule, with the to_json details of the runner's
    drift verdict rows."""
    from pyspark.sql import functions as F

    schema = (
        "source string, n_rows long, chi2 double, chi2_p double, "
        "ks_d double, ks_p double, out_frac double, has_baseline boolean"
    )
    joined = drift.observed_histogram(df, cfg).join(
        baseline_hist, on=["source", "bucket"], how="full_outer"
    )
    stats = joined.groupBy("source").applyInPandas(drift.drift_stats_pdf, schema=schema)
    alpha = float(cfg.drift_alpha)
    status = (
        F.when(~F.col("has_baseline"), F.lit("UNKNOWN"))
        .when(F.col("n_rows") < cfg.min_drift_rows, F.lit("UNKNOWN"))
        .when(
            (F.col("chi2_p") < alpha)
            | (F.col("ks_p") < alpha)
            | (F.col("out_frac") > cfg.drift_out_frac_max),
            F.lit("FAIL"),
        )
        .otherwise(F.lit("PASS"))
    )
    return stats.select(
        *_COLS[:1], status.alias("status"), *_COLS[2:],
        F.to_json(F.struct(*_STATS)).alias("details"),
    )


def _assert_parity(df, baseline_hist, cfg):
    from tokenqc.runner import _source_verdicts

    want = {r.source: r for r in _applyinpandas_verdicts(df, baseline_hist, cfg).collect()}
    got_df = drift.verdicts(df, baseline_hist, cfg)
    assert tuple(got_df.columns) == _COLS
    got = {r.source: r for r in got_df.collect()}
    assert set(got) == set(want)
    for src, w in want.items():
        assert tuple(got[src]) == tuple(w[c] for c in _COLS), src
    details = {
        r.check_name: json.loads(r.details)
        for r in _source_verdicts("drift", got_df, _STATS)
    }
    assert details == {
        f"drift:{'NULL' if s is None else s}": json.loads(w.details) for s, w in want.items()
    }
    return {src: r.status for src, r in got.items()}


def test_verdicts_match_applyinpandas_on_planted_fixture(tables):
    statuses = _assert_parity(tables["sequences"], tables["baseline_hist"], CFG)
    assert statuses["code"] == "FAIL" and statuses["spam9"] == "UNKNOWN"


def test_verdicts_match_applyinpandas_on_edge_sources(spark):
    """A source without a baseline, a baseline-only source (no observed
    rows: every statistic NaN), a source whose whole mass lies outside
    its baseline's support, and a NULL-source baseline row — graded with
    min_drift_rows=0 so the NaN statistics reach the FAIL rule, and with
    the default row floor."""
    seq = spark.createDataFrame(
        [(f"a{i}", "src_a", 10 + i % 300) for i in range(400)]
        + [(f"b{i}", "nobase", 5 + i % 7) for i in range(50)]
        + [(f"c{i}", "outside", 1000 + i) for i in range(40)],
        "doc_id string, source string, n_tok int",
    )
    base = spark.createDataFrame(
        [("src_a", b, 0.25) for b in range(4)]
        + [("baseonly", 0, 0.5), ("baseonly", 1, 0.5), ("outside", 0, 1.0), (None, 0, 1.0)],
        "source string, bucket int, p double",
    )
    edge = _assert_parity(seq, base, dataclasses.replace(CFG, min_drift_rows=0))
    # NaN statistics never select FAIL: the baseline-only source passes
    assert edge == {
        "src_a": "FAIL", "nobase": "UNKNOWN", "baseonly": "PASS", "outside": "FAIL", None: "PASS",
    }
    floor = _assert_parity(seq, base, CFG)
    assert floor["src_a"] == "FAIL" and floor["outside"] == "UNKNOWN"
