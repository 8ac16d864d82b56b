"""Driver contract: ``entry``, ``queries`` and ``oracle_sql``.

The driver runs ``entry(spark)`` as a smoke check, then runs each
``queries()[name]`` at sf0.01 and compares it with ``oracle_sql()[name]``
run by DuckDB over the same parquet (row count, schema and an
order-insensitive hash of the values). Every query calls the engine
(``tokenqc``): the row gates, uniqueness, the invariant, drift, the
token checks, the snapshot diffs, the report helpers, and
``QCRunner.run`` itself.

The queries read a ``sequences(doc_id, tokens, n_tok, source)`` table
derived from ``orders`` with pure SQL arithmetic, keyed on a dense row
number, so DuckDB can rebuild every violation set in closed form while
Spark runs the engine on a real tokens array column:

    rn      = row_number() over (order by o_orderkey) - 1
    doc_id  = NULL                      if rn % 211 = 0
            | lag(candidate)            if rn % 197 = 3 and rn > 0   (dup)
            | 'BAD_' || rn               if rn % 223 = 1
            | 'doc-' || lpad(rn, 8, '0') otherwise
    source  = 'spam9' (rn%181=2) | NULL (rn%191=4)
            | web/books/code/wiki by rn % 10 (0-6/7/8/9) — web is hot (skew)
    sz      = NULL (rn%233=5) | 0 (rn%239=6) | (rn*7919) % 997 + 1
    tokens  = int array of length sz, values (x*31 + rn) % 50257
    n_tok   = NULL (rn%251=8) | sz + 1 (rn%193=7) | sz
    partition_id = rn % 16   (modular, not xxhash64, so SQL can mirror it)
    tokens_ref   = tokens, first element + 1 when rn % 503 = 9

``QCRunner.run`` assigns its own ``partition_id = pmod(xxhash64(doc_id),
P)``, which DuckDB cannot mirror, so the runner queries project the
partition away or run with one partition.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tokenqc import report, synth
from tokenqc.checks import base as cb
from tokenqc.checks import (
    completeness,
    degeneracy,
    drift,
    format as format_check,
    invariant,
    referential,
    scoring,
    snapshot,
    structural,
    tokens as token_lints,
    uniqueness,
)
from tokenqc.runner import QCRunner, RunResult

N_PART = 16
CFG = cb.CheckConfig(n_partitions=N_PART)
ALLOWED = ("web", "books", "code", "wiki")


# ---------------------------------------------------------------------------
# derived sequences table — Spark side
# ---------------------------------------------------------------------------
def derive_sequences(spark: SparkSession, sf_dir: str, with_ref: bool = False) -> DataFrame:
    """Build the sequences table (and optionally its tokens_ref column)
    from orders, per the module-level determinism contract."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    w = Window.orderBy("o_orderkey")
    rn = (F.row_number().over(w) - 1).cast("long")
    df = orders.select(rn.alias("rn"))

    cand = F.when(
        F.col("rn") % 223 == 1, F.concat(F.lit("BAD_"), F.col("rn").cast("string"))
    ).otherwise(F.concat(F.lit("doc-"), F.lpad(F.col("rn").cast("string"), 8, "0")))
    df = df.withColumn("cand_id", cand)
    lag_cand = F.lag("cand_id").over(Window.orderBy("rn"))
    doc_id = (
        F.when(F.col("rn") % 211 == 0, F.lit(None).cast("string"))
        .when((F.col("rn") % 197 == 3) & (F.col("rn") > 0), lag_cand)
        .otherwise(F.col("cand_id"))
    )
    source = (
        F.when(F.col("rn") % 181 == 2, F.lit("spam9"))
        .when(F.col("rn") % 191 == 4, F.lit(None).cast("string"))
        .when(F.col("rn") % 10 <= 6, F.lit("web"))
        .when(F.col("rn") % 10 == 7, F.lit("books"))
        .when(F.col("rn") % 10 == 8, F.lit("code"))
        .otherwise(F.lit("wiki"))
    )
    sz = (
        F.when(F.col("rn") % 233 == 5, F.lit(None).cast("int"))
        .when(F.col("rn") % 239 == 6, F.lit(0))
        .otherwise(((F.col("rn") * 7919) % 997 + 1).cast("int"))
    )
    df = df.withColumn("doc_id", doc_id).withColumn("source", source).withColumn("sz", sz)
    tokens = F.when(
        F.col("sz").isNotNull(),
        F.transform(
            F.sequence(F.lit(1), F.col("sz")),
            lambda x: ((x * 31 + F.col("rn")) % 50257).cast("int"),
        ),
    )
    # sequence(1, 0) would count *down*; guard the empty case explicitly
    tokens = F.when(F.col("sz") == 0, F.array().cast("array<int>")).otherwise(tokens)
    n_tok = (
        F.when(F.col("rn") % 251 == 8, F.lit(None).cast("int"))
        .when(F.col("rn") % 193 == 7, (F.col("sz") + 1).cast("int"))
        .otherwise(F.col("sz"))
    )
    out = df.select(
        F.col("rn"),
        (F.col("rn") % N_PART).cast("int").alias("partition_id"),
        F.col("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.col("source"),
    )
    if with_ref:
        ref = F.when(
            (F.col("rn") % 503 == 9) & F.col("tokens").isNotNull() & (F.size("tokens") > 0),
            F.concat(
                F.array((F.element_at("tokens", 1) + 1) % 50257),
                F.slice("tokens", 2, F.greatest(F.size("tokens") - 1, F.lit(0))),
            ).cast("array<int>"),
        ).otherwise(F.col("tokens"))
        out = out.withColumn("tokens_ref", ref)
    return out


# ---------------------------------------------------------------------------
# derived sequences table — DuckDB side (shared CTE prefix)
# ---------------------------------------------------------------------------
SEQ_CTE = """
WITH base AS (
  SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn FROM orders
), raw AS (
  SELECT rn,
    CASE WHEN rn % 223 = 1 THEN 'BAD_' || CAST(rn AS VARCHAR)
         ELSE 'doc-' || lpad(CAST(rn AS VARCHAR), 8, '0') END AS cand_id,
    CASE WHEN rn % 181 = 2 THEN 'spam9'
         WHEN rn % 191 = 4 THEN NULL
         WHEN rn % 10 <= 6 THEN 'web'
         WHEN rn % 10 = 7 THEN 'books'
         WHEN rn % 10 = 8 THEN 'code'
         ELSE 'wiki' END AS source,
    CASE WHEN rn % 233 = 5 THEN NULL
         WHEN rn % 239 = 6 THEN 0
         ELSE CAST((rn * 7919) % 997 + 1 AS INTEGER) END AS sz
  FROM base
), seq AS (
  SELECT rn, CAST(rn % 16 AS INTEGER) AS partition_id,
    CASE WHEN rn % 211 = 0 THEN NULL
         WHEN rn % 197 = 3 AND rn > 0 THEN lag(cand_id) OVER (ORDER BY rn)
         ELSE cand_id END AS doc_id,
    sz,
    CASE WHEN rn % 251 = 8 THEN NULL
         WHEN rn % 193 = 7 THEN CAST(sz + 1 AS INTEGER)
         ELSE sz END AS n_tok,
    source
  FROM raw
)
"""

# (check, facet) -> (violation predicate, observed value) in portable SQL
# over `seq`; sz stands in for size(tokens): NULL sz == NULL tokens,
# 0 == empty. A violation row's observed is '<facet>: <value>'.
_FACET_SQL = {
    ("completeness", "null_doc_id"): ("doc_id IS NULL", "'NULL'"),
    ("completeness", "null_tokens"): ("sz IS NULL", "'NULL'"),
    ("completeness", "empty_tokens"): ("sz = 0", "'size=0'"),
    ("completeness", "null_n_tok"): ("n_tok IS NULL", "'NULL'"),
    ("completeness", "null_source"): ("source IS NULL", "'NULL'"),
    ("structural", "ntok_mismatch"): (
        "sz IS NOT NULL AND n_tok IS NOT NULL AND n_tok <> sz",
        "CAST(n_tok AS VARCHAR) || '!=' || CAST(sz AS VARCHAR)",
    ),
    ("format", "bad_doc_id"): (
        "doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '^doc-[0-9]{8}$')", "doc_id"
    ),
    ("referential", "unknown_source"): (
        "source IS NOT NULL AND source NOT IN ('web','books','code','wiki')", "source"
    ),
}


def _check_preds() -> dict[str, list[str]]:
    """check -> the SQL predicates of its facets, checks sorted."""
    preds: dict[str, list[str]] = {}
    for (check, _facet), (pred, _obs) in sorted(_FACET_SQL.items()):
        preds.setdefault(check, []).append(pred)
    return preds


def _any_facet_counts_sql() -> str:
    """(partition_id, check_name, n_viol): rows where ANY facet of the
    check fires (a row with two NULL fields is one violating row)."""
    return " UNION ALL ".join(
        f"SELECT partition_id, '{check}' AS check_name, "
        + "CAST(sum(CASE WHEN " + " OR ".join(f"({p})" for p in preds)
        + " THEN 1 ELSE 0 END) AS BIGINT) AS n_viol FROM seq GROUP BY partition_id"
        for check, preds in _check_preds().items()
    )


def _facet_rows_sql(where: str = "TRUE") -> str:
    """(doc_id, check_name, observed): one row per fired facet, as the
    engine's explode_flags emits them."""
    return " UNION ALL ".join(
        f"SELECT doc_id, '{check}' AS check_name, '{facet}: ' || {obs} AS observed "
        f"FROM seq WHERE ({pred}) AND {where}"
        for (check, facet), (pred, obs) in sorted(_FACET_SQL.items())
    )


def _row_facets(spark: SparkSession, df: DataFrame) -> tuple[DataFrame, list[cb.Facet]]:
    df = referential.attach(df, _allowed_sources_df(spark))
    facets = (
        completeness.facets(CFG)
        + structural.facets(CFG)
        + format_check.facets(CFG)
        + referential.facets(CFG)
    )
    return df, facets


def _allowed_sources_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(s, True) for s in ALLOWED], "source string, active boolean")


def _web_baseline(hist: DataFrame, withheld: str | None = None) -> DataFrame:
    """(source, bucket, p): web's bucket shares of an aggregated
    (source, bucket, cnt) histogram as every source's baseline, so web
    must match itself, except the `withheld` source, which has none (it
    must grade UNKNOWN)."""
    web = hist.where(F.col("source") == "web").select("bucket", "cnt")
    wtot = web.agg(F.sum("cnt").alias("bt"))
    srcs = hist.select("source").distinct()
    if withheld is not None:
        srcs = srcs.where(F.col("source") != withheld)
    return srcs.crossJoin(
        web.crossJoin(wtot).select("bucket", (F.col("cnt") / F.col("bt")).alias("p"))
    )


# ---------------------------------------------------------------------------
# row gates and verdicts
# ---------------------------------------------------------------------------
def q_seq_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(partition, check) PASS/FAIL verdicts at threshold 0 over the
    fused row-gate predicates, every (partition × row-level check)
    present."""
    df, facets = _row_facets(spark, derive_sequences(spark, sf_dir))
    aggs = []
    checks = sorted({f.check for f in facets})
    for check in checks:
        conds = [f.cond for f in facets if f.check == check]
        any_c = conds[0]
        for c in conds[1:]:
            any_c = any_c | c
        aggs.append(F.sum(any_c.cast("long")).alias(check))
    counts = df.groupBy("partition_id").agg(*aggs)
    long = counts.select(
        "partition_id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in checks]),
                F.array(*[F.col(c) for c in checks]),
            )
        ).alias("check_name", "n_viol"),
    )
    return long.select(
        "partition_id",
        "check_name",
        F.col("n_viol").cast("long").alias("n_viol"),
        F.when(F.col("n_viol") == 0, F.lit("PASS")).otherwise(F.lit("FAIL")).alias("status"),
    )


def oracle_seq_verdicts() -> str:
    return (
        SEQ_CTE
        + "SELECT partition_id, check_name, n_viol, "
        + "CASE WHEN n_viol = 0 THEN 'PASS' ELSE 'FAIL' END AS status FROM ("
        + _any_facet_counts_sql()
        + ") t"
    )


def q_seq_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(partition, check) violation-row counts of the fused row-level
    pass (one row per fired facet)."""
    df, facets = _row_facets(spark, derive_sequences(spark, sf_dir))
    viol = cb.assemble_violations(df, facets)
    return viol.groupBy("partition_id", "check_name").agg(F.count(F.lit(1)).alias("n_viol"))


def oracle_seq_violation_counts() -> str:
    # only partitions that HAVE violations: the explode drops clean ones
    return SEQ_CTE + (
        "SELECT partition_id, check_name, count(*) AS n_viol FROM ("
        + " UNION ALL ".join(
            f"SELECT partition_id, '{check}' AS check_name FROM seq WHERE {pred}"
            for (check, _facet), (pred, _obs) in sorted(_FACET_SQL.items())
        )
        + ") t GROUP BY partition_id, check_name"
    )


def q_seq_format_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (partition_id, doc_id) rows flagged by the format gate."""
    seq = derive_sequences(spark, sf_dir)
    return seq.where(format_check.facets(CFG)[0].cond).select("partition_id", "doc_id")


def oracle_seq_format_violations() -> str:
    pred, _obs = _FACET_SQL[("format", "bad_doc_id")]
    return SEQ_CTE + f"SELECT partition_id, doc_id FROM seq WHERE {pred}"


def q_seq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rogue-source rows via the broadcast whitelist join, per partition."""
    df, _ = _row_facets(spark, derive_sequences(spark, sf_dir))
    bad = df.where(referential.facets(CFG)[0].cond)
    return bad.groupBy("partition_id", "source").agg(F.count(F.lit(1)).alias("n_viol"))


def oracle_seq_referential() -> str:
    pred, _obs = _FACET_SQL[("referential", "unknown_source")]
    return SEQ_CTE + (
        f"SELECT partition_id, source, count(*) AS n_viol FROM seq WHERE {pred} "
        "GROUP BY partition_id, source"
    )


# ---------------------------------------------------------------------------
# uniqueness
# ---------------------------------------------------------------------------
def q_seq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate doc_id keys (the uniqueness shuffle), key-level."""
    seq = derive_sequences(spark, sf_dir)
    return uniqueness.violations(seq, CFG).select("doc_id", "observed")


def q_uniqueness_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage salted aggregation must emit the identical violation
    set as the plain groupBy."""
    seq = derive_sequences(spark, sf_dir)
    return uniqueness.violations(seq, CFG, salt=8).select("doc_id", "observed")


def oracle_seq_uniqueness() -> str:
    return SEQ_CTE + (
        "SELECT doc_id, 'count=' || CAST(count(*) AS VARCHAR) AS observed "
        "FROM seq WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1"
    )


def q_seq_dup_surplus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-only duplicate form (uniqueness.enumerate_counts): per
    dup key the exact surplus-row total, without shuffling the table by
    key."""
    seq = derive_sequences(spark, sf_dir)
    return (
        uniqueness.enumerate_counts(seq, CFG)
        .groupBy("doc_id")
        .agg(F.sum("n_surplus").cast("long").alias("n_surplus"))
    )


def q_seq_dup_rows_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level dup listing through the adaptive dispatcher
    (uniqueness.enumerate_rows_auto): whichever formulation the probe
    picks, the surplus rows per key must match the closed form."""
    seq = derive_sequences(spark, sf_dir)
    return (
        uniqueness.enumerate_rows_auto(seq, CFG)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_surplus"))
    )


def oracle_seq_dup_surplus() -> str:
    return SEQ_CTE + (
        "SELECT doc_id, count(*) - 1 AS n_surplus "
        "FROM seq WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1"
    )


# ---------------------------------------------------------------------------
# invariant and scores
# ---------------------------------------------------------------------------
def q_seq_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-array-equality invariant (invariant.violations) against a
    reference that keeps only the doc_ids it holds once."""
    seq = derive_sequences(spark, sf_dir, with_ref=True)
    ref = (
        seq.where(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"), F.first("tokens_ref").alias("tokens_ref"))
        .where(F.col("c") == 1)
        .select("doc_id", "tokens_ref")
    )
    return invariant.violations(seq, ref, CFG).select("doc_id")


def oracle_seq_invariant() -> str:
    # perturbed rows with nonempty tokens, among the doc_ids held once
    return SEQ_CTE + (
        "SELECT doc_id FROM seq WHERE rn % 503 = 9 AND sz IS NOT NULL AND sz > 0 "
        "AND doc_id IS NOT NULL "
        "AND doc_id IN (SELECT doc_id FROM seq WHERE doc_id IS NOT NULL "
        "GROUP BY doc_id HAVING count(*) = 1)"
    )


def q_seq_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score roll-up per partition (scoring.partition_report) of the
    seq_verdicts grid."""
    verd = q_seq_verdicts(spark, sf_dir)
    totals = derive_sequences(spark, sf_dir).groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    counts = verd.join(totals, on="partition_id").select(
        "partition_id", "check_name", "n_rows", "n_viol"
    )
    return scoring.partition_report(counts)


def oracle_seq_scores() -> str:
    return SEQ_CTE + (
        ", verd AS (" + _any_facet_counts_sql() + "), "
        "tot AS (SELECT partition_id, count(*) AS n_rows FROM seq GROUP BY partition_id), "
        "graded AS (SELECT v.partition_id, "
        "CASE WHEN (1.0 - CAST(v.n_viol AS DOUBLE)/t.n_rows) >= 0.9 THEN 1.0 "
        "     WHEN (1.0 - CAST(v.n_viol AS DOUBLE)/t.n_rows) >= 0.7 THEN 0.5 "
        "     ELSE 0.0 END AS score "
        "FROM verd v JOIN tot t ON v.partition_id = t.partition_id) "
        "SELECT partition_id, count(*) AS n_checks, sum(score) AS total_score, "
        "sum(score)/count(*) AS overall_score FROM graded GROUP BY partition_id"
    )


# ---------------------------------------------------------------------------
# drift
# ---------------------------------------------------------------------------
_HIST_SQL = (
    "hist AS (SELECT source, CAST(floor(n_tok / 64) AS INTEGER) AS bucket, count(*) AS cnt "
    "FROM seq WHERE source IS NOT NULL AND n_tok > 0 GROUP BY source, bucket)"
)


def q_seq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_tok bucket histogram (drift's distributed reduction)."""
    return drift.observed_histogram(derive_sequences(spark, sf_dir), CFG)


def oracle_seq_histogram() -> str:
    return SEQ_CTE + ", " + _HIST_SQL + " SELECT source, bucket, cnt FROM hist"


def q_drift_verdicts_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full drift gate (drift.verdicts: observed histograms, chi2/KS
    p-values and the decision, graded on the driver) reduced to its
    deterministic output: web as its own baseline must PASS, far-off
    sources FAIL, thin sources UNKNOWN."""
    seq = derive_sequences(spark, sf_dir)
    base = _web_baseline(drift.observed_histogram(seq, CFG))
    return drift.verdicts(seq, base, CFG).select("source", "status", "n_rows")


def _chi2_critical(alpha: float, dof: int) -> float:
    """Inverse of drift.chi2_sf by bisection — the FAIL boundary
    chi2_p < alpha becomes the SQL-expressible chi2 > critical."""
    lo, hi = 0.0, 10.0
    while drift.chi2_sf(hi, dof) > alpha:
        hi *= 2
    for _ in range(200):
        mid = (lo + hi) / 2
        if drift.chi2_sf(mid, dof) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def _ks_lambda_critical(alpha: float) -> float:
    """Solve Q_KS(lam) = alpha: ks_p < alpha ⟺ lam > this constant."""

    # ks_pvalue(d, n) = Q((sqrt(n)+.12+.11/sqrt(n))*d); invert on lam by
    # evaluating at n=1, d=lam/(1+0.12+0.11)
    def q(lam: float) -> float:
        return drift.ks_pvalue(lam / (1.0 + 0.12 + 0.11), 1.0)

    lo, hi = 0.3, 5.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if q(mid) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def _drift_verdicts_sql(label: str) -> str:
    """Status oracle for the full drift gate against the web baseline:
    replicates drift.drift_stats_pdf's chi-square (over the baseline
    support, obs filled 0), binned-KS D with the finite-n lambda
    correction, and out-of-support mass, with the p-value thresholds
    precomputed as critical values (chi2 per dof, one KS lambda
    constant). `label` names each output row from `source`."""
    alpha, min_rows, out_max = (
        float(CFG.drift_alpha),
        int(CFG.min_drift_rows),
        float(CFG.drift_out_frac_max),
    )
    crit_rows = ", ".join(f"({d}, {_chi2_critical(alpha, d):.10f})" for d in range(1, 129))
    lam_crit = _ks_lambda_critical(alpha)
    return SEQ_CTE + (
        ", " + _HIST_SQL + ", "
        "wb AS (SELECT bucket, cnt FROM hist WHERE source = 'web'), "
        "grid AS (SELECT s.source, w.bucket, CAST(w.cnt AS DOUBLE) / (SELECT sum(cnt) FROM wb) AS p "
        "    FROM (SELECT DISTINCT source FROM hist) s CROSS JOIN wb w), "
        "j AS (SELECT g.source, g.bucket, g.p, CAST(coalesce(h.cnt, 0) AS DOUBLE) AS obs "
        "    FROM grid g LEFT JOIN hist h ON h.source = g.source AND h.bucket = g.bucket), "
        "tot AS (SELECT source, CAST(sum(cnt) AS DOUBLE) AS n FROM hist GROUP BY source), "
        "nin AS (SELECT source, sum(obs) AS n_in, count(*) - 1 AS dof FROM j GROUP BY source), "
        "chi AS (SELECT j.source, "
        "    sum(pow(j.obs - nin.n_in * j.p, 2) / (nin.n_in * j.p)) AS chi2 "
        "    FROM j JOIN nin USING(source) GROUP BY j.source), "
        "cum AS (SELECT source, bucket, "
        "    sum(obs) OVER (PARTITION BY source ORDER BY bucket) AS cobs, "
        "    sum(p) OVER (PARTITION BY source ORDER BY bucket) AS cp "
        "    FROM j), "
        "ks AS (SELECT c.source, max(abs(c.cobs / nin.n_in - c.cp)) AS ks_d "
        "    FROM cum c JOIN nin USING(source) GROUP BY c.source), "
        f"crit(dof, cv) AS (VALUES {crit_rows}), "
        "fin AS (SELECT t.source, t.n, nin.n_in, chi.chi2, ks.ks_d, "
        "    (t.n - nin.n_in) / t.n AS out_frac, crit.cv "
        "    FROM tot t JOIN nin USING(source) JOIN chi USING(source) "
        "    JOIN ks USING(source) JOIN crit ON crit.dof = nin.dof) "
        f"SELECT {label}, "
        f"CASE WHEN n < {min_rows} THEN 'UNKNOWN' "
        f"     WHEN chi2 > cv "
        f"       OR (sqrt(n_in) + 0.12 + 0.11 / sqrt(n_in)) * ks_d > {lam_crit:.10f} "
        f"       OR out_frac > {out_max} THEN 'FAIL' "
        "      ELSE 'PASS' END AS status, "
        "CAST(n AS BIGINT) AS n_rows FROM fin"
    )


def oracle_drift_verdicts_full() -> str:
    return _drift_verdicts_sql("source")


def q_seq_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square per source against web's histogram, on the support of
    the baseline (the arithmetic of drift.drift_stats_pdf), rounded to 4
    decimals for cross-engine float stability: web must measure 0."""
    hist = drift.observed_histogram(derive_sequences(spark, sf_dir), CFG)
    base = hist.where(F.col("source") == "web").select("bucket", F.col("cnt").alias("bc"))
    tot = base.agg(F.sum("bc").alias("bt")).crossJoin(
        hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    )
    j = (
        hist.join(base, on="bucket", how="inner")
        .join(tot, on="source")
        .withColumn("e", F.col("n") * F.col("bc") / F.col("bt"))
    )
    return j.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_in"),
        F.round(F.sum((F.col("cnt") - F.col("e")) ** 2 / F.col("e")), 4).alias("chi2"),
    )


def oracle_seq_drift_stats() -> str:
    return SEQ_CTE + (
        ", " + _HIST_SQL + ", "
        "bhist AS (SELECT bucket, cnt AS bc FROM hist WHERE source = 'web'), "
        "tot AS (SELECT h.source, sum(h.cnt) AS n, (SELECT sum(bc) FROM bhist) AS bt "
        "  FROM hist h GROUP BY h.source) "
        "SELECT h.source, CAST(sum(h.cnt) AS BIGINT) AS n_in, "
        "round(sum(pow(h.cnt - t.n * b.bc / t.bt, 2) / (t.n * b.bc / t.bt)), 4) AS chi2 "
        "FROM hist h JOIN bhist b ON h.bucket = b.bucket JOIN tot t ON h.source = t.source "
        "GROUP BY h.source"
    )


def _js_sql(hist_ctes: str, js_max: float, withheld: str | None) -> str:
    """JS divergence and verdict per source of the `hist` CTE against
    web's shares (log base 2, 0·log 0 := 0, graded on the 6-decimal
    value), as drift.js_from_histograms computes them; the `withheld`
    source has no baseline and grades UNKNOWN."""
    keep = f"WHERE source <> '{withheld}'" if withheld else ""
    js = (
        "round(0.5*sum(CASE WHEN q > 0 THEN q*log2(2*q/(p+q)) ELSE 0 END) "
        "+ 0.5*sum(CASE WHEN p > 0 THEN p*log2(2*p/(p+q)) ELSE 0 END), 6)"
    )
    return SEQ_CTE + (
        ", " + hist_ctes + ", "
        "wt AS (SELECT sum(cnt) AS bt FROM hist WHERE source = 'web'), "
        "jsbase AS (SELECT s.source, h.bucket, h.cnt * 1.0 / (SELECT bt FROM wt) AS p "
        f"  FROM (SELECT DISTINCT source FROM hist {keep}) s, "
        "       (SELECT bucket, cnt FROM hist WHERE source = 'web') h), "
        "tot AS (SELECT source, sum(cnt) AS n FROM hist GROUP BY source), "
        "obs AS (SELECT h.source, h.bucket, h.cnt * 1.0 / t.n AS q, t.n AS n "
        "  FROM hist h JOIN tot t USING (source)), "
        "j AS (SELECT coalesce(o.source, b.source) AS source, coalesce(o.q, 0) AS q, "
        "             b.p AS pn, coalesce(b.p, 0) AS p, o.n AS n "
        "  FROM obs o FULL OUTER JOIN jsbase b ON o.source = b.source AND o.bucket = b.bucket) "
        f"SELECT source, CAST(coalesce(max(n), 0) AS BIGINT) AS n_rows, {js} AS js_divergence, "
        "CASE WHEN max(CASE WHEN pn IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 'UNKNOWN' "
        f"     WHEN {js} > {js_max} THEN 'FAIL' ELSE 'PASS' END AS status "
        "FROM j GROUP BY source"
    )


def q_seq_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS-divergence n_tok drift gate (drift.js_divergence) against web's
    own histogram: web measures exactly 0, the off-shape spam9 source
    FAILs at 0.001 while the near-identical books/code/wiki PASS."""
    seq = derive_sequences(spark, sf_dir)
    base = _web_baseline(drift.observed_histogram(seq, CFG))
    return drift.js_divergence(seq, base, CFG, js_max=0.001)


def oracle_seq_drift_js() -> str:
    return _js_sql(_HIST_SQL, 0.001, None)


def q_seq_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-unigram drift gate (drift.token_histogram +
    js_from_histograms) over token-id residues against web's: spam9's
    tokens are planted parity-degenerate (every id forced even), so its
    odd buckets are empty and it must FAIL; books/wiki PASS; code is
    withheld from the baseline and grades UNKNOWN. n_rows counts
    tokens."""
    seq = derive_sequences(spark, sf_dir)
    planted = seq.withColumn(
        "tokens",
        F.when(
            F.col("source") == "spam9",
            F.transform(F.col("tokens"), lambda t: t - F.pmod(t, F.lit(2))),
        ).otherwise(F.col("tokens")),
    )
    hist = drift.token_histogram(planted, n_buckets=64)
    return drift.js_from_histograms(hist, _web_baseline(hist, "code"), js_max=0.01)


def oracle_seq_token_drift() -> str:
    hist = (
        "tk AS (SELECT source, CAST((u * 31 + rn) % 50257 AS INTEGER) AS tok0 "
        "  FROM (SELECT rn, source, unnest(range(1, CAST(sz AS BIGINT) + 1)) AS u "
        "        FROM seq WHERE source IS NOT NULL AND sz IS NOT NULL AND sz > 0)), "
        "tok AS (SELECT source, "
        "  CASE WHEN source = 'spam9' THEN tok0 - (tok0 % 2) ELSE tok0 END AS tok FROM tk), "
        "hist AS (SELECT source, CAST(tok % 64 AS INTEGER) AS bucket, count(*) AS cnt "
        "  FROM tok GROUP BY 1, 2)"
    )
    return _js_sql(hist, 0.01, "code")


# ---------------------------------------------------------------------------
# token checks — planted anomalies + independent re-simulation
# ---------------------------------------------------------------------------
# Lint parameters. The planting rules are part of the determinism
# contract: both engines compute the FINAL per-position token value with
# the same priority-ordered CASE, so the oracle is an exact independent
# simulation (it re-derives max-run with gaps-and-islands SQL).
TOKEN_VOCAB = 50000   # < generator modulus 50257 so planted ids are OOB
TOKEN_BOS = 17
TOKEN_EOS = 29
TOKEN_MAX_RUN = 5

# planting rules (rn-modular, like every other rule in this module):
#   rn % 89 = 17 and sz >= 6 : positions 2..6 := (rn+62) % 50257  (5-run)
#   rn % 101 = 47 and sz >= 2: position 2 := 50000 + rn % 257     (OOB)
#   rn % 73 = 21 and sz >= 4 : position 3 := BOS                  (interior)
#   rn % 79 = 23 and sz >= 5 : position 4 := EOS                  (interior)
#   rn % 71 = 3              : position 1 := BOS      (LEGAL — must not flag)
#   rn % 83 = 2              : position sz := EOS     (LEGAL — must not flag)


def plant_token_anomalies(df: DataFrame) -> DataFrame:
    """Apply the planting rules to the tokens array in one JVM-side
    ``transform``. Natural values cannot trip the lints at small rn, so
    planting is what makes the facets non-vacuous.

    sz is recomputed from rn in closed form rather than via
    ``F.size("tokens")``: the derived tokens column is an expression that
    Catalyst inlines at every use site, so a size() inside the
    per-element lambda would rebuild the whole array per element."""
    rn = F.col("rn")
    sz = (
        F.when(rn % 233 == 5, F.lit(None).cast("int"))
        .when(rn % 239 == 6, F.lit(0))
        .otherwise(((rn * 7919) % 997 + 1).cast("int"))
    )
    mod = F.lit(50257)

    def val(t, i):
        x = i + F.lit(1)  # 1-indexed position
        return (
            F.when((rn % 89 == 17) & (sz >= 6) & (x >= 2) & (x <= 6), (rn + 62) % mod)
            .when((rn % 101 == 47) & (sz >= 2) & (x == 2), F.lit(TOKEN_VOCAB) + rn % 257)
            .when((rn % 73 == 21) & (sz >= 4) & (x == 3), F.lit(TOKEN_BOS))
            .when((rn % 79 == 23) & (sz >= 5) & (x == 4), F.lit(TOKEN_EOS))
            .when((x == 1) & (rn % 71 == 3), F.lit(TOKEN_BOS))
            .when((x == sz) & (rn % 83 == 2), F.lit(TOKEN_EOS))
            .otherwise(t)
            .cast("int")
        )

    return df.withColumn("tokens", F.transform("tokens", val))


def q_seq_token_lints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-array lint violations (checks/tokens.py): id domain,
    special-token layout and degenerate runs, all riding one narrow scan."""
    seq = plant_token_anomalies(derive_sequences(spark, sf_dir))
    cfg = cb.CheckConfig(
        n_partitions=N_PART,
        vocab_size=TOKEN_VOCAB,
        bos_id=TOKEN_BOS,
        eos_id=TOKEN_EOS,
        max_token_run=TOKEN_MAX_RUN,
    )
    return cb.assemble_violations(seq, token_lints.facets(cfg))


def oracle_seq_token_lints() -> str:
    """Per-position values via generate_series + the planting CASE,
    max-run via gaps-and-islands."""
    return SEQ_CTE + """
, pos AS (
  SELECT rn, partition_id, doc_id, sz,
    unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE sz IS NOT NULL AND sz >= 1
), toks AS (
  SELECT rn, partition_id, doc_id, sz, x,
    CAST(CASE
      WHEN rn % 89 = 17 AND sz >= 6 AND x BETWEEN 2 AND 6 THEN (rn + 62) % 50257
      WHEN rn % 101 = 47 AND sz >= 2 AND x = 2 THEN 50000 + rn % 257
      WHEN rn % 73 = 21 AND sz >= 4 AND x = 3 THEN 17
      WHEN rn % 79 = 23 AND sz >= 5 AND x = 4 THEN 29
      WHEN x = 1 AND rn % 71 = 3 THEN 17
      WHEN x = sz AND rn % 83 = 2 THEN 29
      ELSE (x * 31 + rn) % 50257
    END AS INTEGER) AS v
  FROM pos
), oob_bad AS (
  SELECT rn, partition_id, doc_id, x, v,
    row_number() OVER (PARTITION BY rn ORDER BY x) AS r,
    count(*) OVER (PARTITION BY rn) AS n_bad
  FROM toks WHERE v >= 50000
), oob AS (
  SELECT partition_id, doc_id,
    'oob_token: ' || CAST(max(n_bad) AS VARCHAR) || '@' ||
      string_agg(CAST(v AS VARCHAR), ',' ORDER BY x) AS observed,
    'all tokens in [0, 50000)' AS expected
  FROM oob_bad WHERE r <= 3 GROUP BY rn, partition_id, doc_id
), bos AS (
  SELECT partition_id, doc_id,
    'bos_interior: ' || CAST(min(x) AS VARCHAR) AS observed,
    'bos id 17 only at position 0' AS expected
  FROM toks WHERE x >= 2 AND v = 17 GROUP BY rn, partition_id, doc_id
), eos AS (
  SELECT partition_id, doc_id,
    'eos_interior: ' || CAST(min(x) AS VARCHAR) AS observed,
    'eos id 29 only at final position' AS expected
  FROM toks WHERE x <= sz - 1 AND v = 29 GROUP BY rn, partition_id, doc_id
), islands AS (
  SELECT rn, partition_id, doc_id, v,
    x - row_number() OVER (PARTITION BY rn, v ORDER BY x) AS island
  FROM toks
), runlen AS (
  SELECT rn, partition_id, doc_id, count(*) AS len
  FROM islands GROUP BY rn, partition_id, doc_id, v, island
), runmax AS (
  SELECT rn, partition_id, doc_id, max(len) AS mr
  FROM runlen GROUP BY rn, partition_id, doc_id
), runs AS (
  SELECT partition_id, doc_id,
    'long_run: ' || CAST(mr AS VARCHAR) AS observed,
    'max identical-token run < 5' AS expected
  FROM runmax WHERE mr >= 5
)
SELECT partition_id, doc_id, 'tokens' AS check_name, observed, expected FROM oob
UNION ALL SELECT partition_id, doc_id, 'tokens', observed, expected FROM bos
UNION ALL SELECT partition_id, doc_id, 'tokens', observed, expected FROM eos
UNION ALL SELECT partition_id, doc_id, 'tokens', observed, expected FROM runs
"""


def q_seq_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence token unigram entropy (degeneracy.token_entropy):
    rule rn % 97 = 11 collapses the array to its first token (entropy 0,
    flagged); clean sequences have all-distinct tokens."""
    seq = derive_sequences(spark, sf_dir)
    planted = seq.withColumn(
        "tokens",
        F.when(
            (F.col("rn") % 97 == 11) & F.col("tokens").isNotNull() & (F.size("tokens") > 0),
            F.array_repeat(F.element_at("tokens", 1), F.size("tokens")),
        ).otherwise(F.col("tokens")),
    )
    return degeneracy.token_entropy(planted, id_col="rn")


def oracle_seq_token_entropy() -> str:
    """Per-position values via generate_series + the planting CASE,
    counts via GROUP BY (no closed form)."""
    return SEQ_CTE + """
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE sz IS NOT NULL AND sz >= 1
), toks AS (
  SELECT rn, sz,
    CASE WHEN rn % 97 = 11 THEN (1 * 31 + rn) % 50257
         ELSE (x * 31 + rn) % 50257 END AS v
  FROM pos
), cnt AS (
  SELECT rn, sz, v, count(*) AS c FROM toks GROUP BY rn, sz, v
), e AS (
  SELECT rn, CAST(max(sz) AS INTEGER) AS n_tok,
    CAST(count(*) AS INTEGER) AS n_distinct,
    sum(-(c * 1.0 / sz) * ln(c * 1.0 / sz)) AS ent
  FROM cnt GROUP BY rn
)
SELECT rn, n_tok, n_distinct, round(ent, 6) AS entropy,
  round(n_distinct * 1.0 / n_tok, 6) AS distinct_ratio,
  (round(ent, 6) < 1.5) AS low_entropy
FROM e
"""


def q_seq_token_kgram_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicated 8-gram fraction
    (degeneracy.token_kgram_repetition): rule rn % 103 = 17 tiles the
    sequence with a period-4 cycle, so every window repeats and the row
    flags. The oracle counts DISTINCT actual windows, hash-free, so the
    Spark side's 64-bit window hash is certified independently."""
    seq = derive_sequences(spark, sf_dir)
    sz = F.size("tokens")
    tiled = F.transform(
        F.sequence(F.lit(1), sz),
        lambda x: (((x - 1) % 4 + 1) * 31 + F.col("rn")) % 50257,
    ).cast("array<int>")
    planted = seq.withColumn(
        "tokens",
        F.when(
            (F.col("rn") % 103 == 17) & F.col("tokens").isNotNull() & (sz > 0), tiled
        ).otherwise(F.col("tokens")),
    )
    return degeneracy.token_kgram_repetition(planted, id_col="rn")


def oracle_seq_token_kgram_rep() -> str:
    return SEQ_CTE + """
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE sz IS NOT NULL AND sz >= 8
), toks AS (
  SELECT rn, sz, x,
    CASE WHEN rn % 103 = 17 THEN (((x - 1) % 4 + 1) * 31 + rn) % 50257
         ELSE (x * 31 + rn) % 50257 END AS v
  FROM pos
), arrs AS (
  SELECT rn, max(sz) AS sz, list(v ORDER BY x) AS toks FROM toks GROUP BY rn
), wins AS (
  SELECT rn, sz, toks[CAST(x AS INTEGER):CAST(x + 7 AS INTEGER)] AS kg
  FROM arrs, LATERAL (
    SELECT unnest(generate_series(1, CAST(sz - 7 AS BIGINT))) AS x
  ) g
), st AS (
  SELECT rn, max(sz) AS sz, count(*) AS n_win, count(DISTINCT kg) AS n_dist
  FROM wins GROUP BY rn
)
SELECT rn, CAST(sz AS INTEGER) AS n_tok, CAST(n_win AS INTEGER) AS n_kgrams,
  CAST(n_dist AS INTEGER) AS n_distinct_kgrams,
  round(1.0 - n_dist * 1.0 / n_win, 6) AS dup_kgram_frac,
  (round(1.0 - n_dist * 1.0 / n_win, 6) > 0.2) AS repetitive
FROM st
"""


# ---------------------------------------------------------------------------
# snapshots and reporting
# ---------------------------------------------------------------------------
def _snapshot_versions(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(current, baseline) versions of the (rn, source) table, planted to
    hit every snapshot verdict:
      - baseline drops every rn % 23 = 0 row and the whole *books*
        source -> books is NEW_KEY, everything else grew ~4.3% (STABLE);
      - baseline adds a relabeled *legacy* slice (rn % 29 = 0) absent
        from current -> DROPPED_KEY;
      - current drops 1/5 of *code* rows -> SHRUNK;
      - current double-ingests the *spam9* slice -> ~+109% -> GROWN;
      - NULL sources ride under the __null__ sentinel key."""
    seq = derive_sequences(spark, sf_dir).select("rn", "source")
    src = F.col("source")
    cur = seq.where(~(src.isNotNull() & (src == "code") & (F.col("rn") % 5 == 0))).unionAll(
        seq.where(src.isNotNull() & (src == "spam9"))
    )
    base = seq.where((F.col("rn") % 23 != 0) & (src.isNull() | (src != "books"))).unionAll(
        seq.where(F.col("rn") % 29 == 0).select("rn", F.lit("legacy").alias("source"))
    )
    return cur, base


_SNAPSHOT_CTE = """
, slim AS (SELECT rn, source FROM seq)
, cur AS (
  SELECT coalesce(source, '__null__') AS key, rn FROM slim
  WHERE NOT (source IS NOT NULL AND source = 'code' AND rn % 5 = 0)
  UNION ALL
  SELECT source AS key, rn FROM slim WHERE source = 'spam9'
), basex AS (
  SELECT coalesce(source, '__null__') AS key, rn FROM slim
  WHERE rn % 23 <> 0 AND (source IS NULL OR source <> 'books')
  UNION ALL
  SELECT 'legacy' AS key, rn FROM slim WHERE rn % 29 = 0
)
"""


def q_seq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural snapshot diff (snapshot.table_diff) between the two
    planted versions; only the key column is read."""
    cur, base = _snapshot_versions(spark, sf_dir)
    return snapshot.table_diff(cur, base, key_col="source")


def oracle_seq_snapshot_diff() -> str:
    return SEQ_CTE + _SNAPSHOT_CTE + """
, c AS (SELECT key, count(*) AS n_cur FROM cur GROUP BY key)
, b AS (SELECT key, count(*) AS n_base FROM basex GROUP BY key)
, j AS (
  SELECT coalesce(c.key, b.key) AS key, n_cur, n_base,
    coalesce(n_cur, 0) - coalesce(n_base, 0) AS delta
  FROM c FULL OUTER JOIN b ON c.key = b.key
), d AS (
  SELECT key, n_cur, n_base, delta,
    CASE WHEN n_base IS NOT NULL THEN delta * 1000000 // n_base END AS delta_ppm
  FROM j
)
SELECT key, n_cur, n_base, CAST(delta AS BIGINT) AS delta,
  CAST(delta_ppm AS BIGINT) AS delta_ppm,
  CASE WHEN n_base IS NULL THEN 'NEW_KEY'
       WHEN n_cur IS NULL THEN 'DROPPED_KEY'
       WHEN delta < 0 THEN 'SHRUNK'
       WHEN delta_ppm > 500000 THEN 'GROWN'
       ELSE 'STABLE' END AS verdict
FROM d
"""


def q_seq_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-granularity snapshot diff (snapshot.row_diff) over the same
    two versions with rn as the row identity: books is all-added with no
    baseline (churn NULL), legacy all-removed (churn 10^6), code churns
    both ways, and spam9's double-ingest, GROWN in table_diff, adds no
    distinct row here."""
    cur, base = _snapshot_versions(spark, sf_dir)
    return snapshot.row_diff(cur, base, digest_col="rn", key_col="source")


def oracle_seq_row_diff() -> str:
    return SEQ_CTE + _SNAPSHOT_CTE + """
, cd AS (SELECT DISTINCT key, rn FROM cur)
, bd AS (SELECT DISTINCT key, rn FROM basex)
, j AS (
  SELECT coalesce(c.key, b.key) AS key,
    CASE WHEN c.rn IS NOT NULL AND b.rn IS NULL THEN 1 ELSE 0 END AS a,
    CASE WHEN b.rn IS NOT NULL AND c.rn IS NULL THEN 1 ELSE 0 END AS r,
    CASE WHEN c.rn IS NOT NULL AND b.rn IS NOT NULL THEN 1 ELSE 0 END AS k
  FROM cd c FULL OUTER JOIN bd b ON c.key = b.key AND c.rn = b.rn
), agg AS (
  SELECT key, CAST(sum(a) AS BIGINT) AS n_added,
    CAST(sum(r) AS BIGINT) AS n_removed,
    CAST(sum(k) AS BIGINT) AS n_common
  FROM j GROUP BY key
)
SELECT key, n_added, n_removed, n_common,
  CASE WHEN n_removed + n_common > 0
       THEN (n_added + n_removed) * 1000000 // (n_removed + n_common) END AS churn_ppm
FROM agg
"""


def q_top_violation_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report's top-3 violation examples per check
    (report.top_violation_examples) over the row-gate violations, as the
    set of doc_ids they show: which of a doc_id's rows takes a tied last
    rank is arbitrary, the doc_ids are not."""
    df, facets = _row_facets(spark, derive_sequences(spark, sf_dir))
    viol = cb.assemble_violations(df, facets)
    return report.top_violation_examples(viol, k=3).select("check_name", "doc_id").distinct()


def oracle_top_violation_examples() -> str:
    # a doc_id shows iff fewer than 3 distinct example rows of its check
    # sort above it (doc_id descending)
    return SEQ_CTE + (
        ", viol AS (SELECT DISTINCT check_name, doc_id, observed FROM ("
        + _facet_rows_sql("doc_id IS NOT NULL")
        + ") t), per AS (SELECT check_name, doc_id, count(*) AS n FROM viol GROUP BY 1, 2), "
        "cum AS (SELECT check_name, doc_id, coalesce(sum(n) OVER (PARTITION BY check_name "
        "  ORDER BY doc_id DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above "
        "  FROM per) "
        "SELECT check_name, doc_id FROM cum WHERE above < 3"
    )


# ---------------------------------------------------------------------------
# QCRunner.run — the production path
# ---------------------------------------------------------------------------
# one lineage partition makes the verdict grid mirrorable; the thresholds
# give it PASS and FAIL rows
GRID_CFG = cb.CheckConfig(
    n_partitions=1, thresholds={"completeness": 0.05, "structural": 0.001, "format": 0.01}
)


def _run(
    spark: SparkSession, sf_dir: str, cfg: cb.CheckConfig, n_batches: int = 1,
    crash: bool = False,
) -> RunResult:
    """One QCRunner.run of the default checks over the derived tables,
    with the reference, the allowed sources and the web baseline, written
    to a fresh temp dir that is removed at exit. With `crash`, the last
    batch's qc_state commit is deleted and the run resumed; the result is
    the resumed run's."""
    seq = derive_sequences(spark, sf_dir, with_ref=True)
    inputs = dict(
        sequences=seq.select("doc_id", "tokens", "n_tok", "source"),
        allowed_sources=_allowed_sources_df(spark),
        baseline_hist=_web_baseline(drift.observed_histogram(seq, CFG)),
        reference_tokens=seq.where(F.col("doc_id").isNotNull()).select("doc_id", "tokens_ref"),
    )
    out = tempfile.mkdtemp(prefix="tokenqc-entry-")
    atexit.register(shutil.rmtree, out, True)
    runner = QCRunner(spark, cfg, out_dir=out, n_batches=n_batches)
    res = runner.run(**inputs, run_id="entry")
    if crash:
        shutil.rmtree(os.path.join(out, "qc_state", "run_id=entry", f"batch={n_batches - 1}"))
        res = runner.run(**inputs, run_id="entry")
    return res


def _runner_violations_sql() -> str:
    """viol(doc_id, check_name, observed): every violation row of a
    default-check run. A reference doc_id held by several rows joins
    their min/max token hash: the copies conflict, and every input row
    of the doc_id is a mismatch, unless no copy has a non-empty array
    (xxhash64 of a NULL and of an empty array are both its seed)."""
    return SEQ_CTE + (
        ", refc AS (SELECT doc_id, count(*) AS n, "
        "  sum(CASE WHEN sz > 0 THEN 1 ELSE 0 END) AS n_full "
        "  FROM seq WHERE doc_id IS NOT NULL GROUP BY doc_id), "
        "viol AS (" + _facet_rows_sql() + " UNION ALL "
        "SELECT doc_id, 'uniqueness', 'count=' || CAST(n AS VARCHAR) FROM refc WHERE n > 1 "
        "UNION ALL SELECT s.doc_id, 'invariant', "
        "  'tokens_mismatch: hash(tokens) != hash(tokens_ref)' "
        "  FROM seq s JOIN refc r ON s.doc_id = r.doc_id "
        "  WHERE (r.n > 1 AND r.n_full > 0) OR (s.rn % 503 = 9 AND s.sz > 0)) "
    )


def q_runner_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A QCRunner run's violation rows, with the lineage partition
    (xxhash64 of doc_id) projected away."""
    return _run(spark, sf_dir, CFG).violations.select("doc_id", "check_name", "observed")


def oracle_runner_violations() -> str:
    return _runner_violations_sql() + "SELECT doc_id, check_name, observed FROM viol"


# chk(check_name, thr): the checks graded per partition, with GRID_CFG's
# thresholds
_GRADED_SQL = "chk(check_name, thr) AS (VALUES " + ", ".join(
    f"('{c}', CAST({GRID_CFG.threshold(c)} AS DOUBLE))" for c in GRID_CFG.checks if c != "drift"
) + ")"


def q_runner_verdict_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A one-partition QCRunner run's verdict grid: per check, its status
    at the configured threshold, the rows and the violation rows."""
    verd = _run(spark, sf_dir, GRID_CFG).verdicts
    return verd.where("partition_id >= 0").select("check_name", "status", "n_rows", "n_viol")


def oracle_runner_verdict_totals() -> str:
    return _runner_violations_sql() + (
        ", " + _GRADED_SQL + ", "
        "nv AS (SELECT check_name, count(*) AS n_viol FROM viol GROUP BY 1) "
        "SELECT c.check_name, "
        "CASE WHEN CAST(coalesce(nv.n_viol, 0) AS DOUBLE) / t.n_rows <= c.thr "
        "     THEN 'PASS' ELSE 'FAIL' END AS status, "
        "t.n_rows, coalesce(nv.n_viol, 0) AS n_viol "
        "FROM chk c CROSS JOIN (SELECT count(*) AS n_rows FROM seq) t "
        "LEFT JOIN nv ON nv.check_name = c.check_name"
    )


def q_runner_drift_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A QCRunner run's run-level drift verdicts (partition -1), one per
    source, against the web baseline."""
    verd = _run(spark, sf_dir, CFG).verdicts
    return verd.where("partition_id < 0").select("check_name", "status", "n_rows")


def oracle_runner_drift_verdicts() -> str:
    return _drift_verdicts_sql("'drift:' || source AS check_name")


def q_runner_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 2-batch QCRunner run that loses its last qc_state commit and is
    resumed: per check, the verdict grid's row and violation totals, the
    violation rows and the qc_state row total must equal an uninterrupted
    run's (no orphan slice counted, no partition lost)."""
    res = _run(spark, sf_dir, CFG, n_batches=2, crash=True)
    verd = res.verdicts.where("partition_id >= 0").groupBy("check_name").agg(
        F.sum("n_rows").alias("n_rows"), F.sum("n_viol").alias("n_viol")
    )
    viol = res.violations.groupBy("check_name").agg(F.count(F.lit(1)).alias("n_viol_rows"))
    state = res.state.agg(F.sum("n_rows").alias("state_rows"))
    return (
        verd.join(viol, "check_name", "left")
        .fillna(0, ["n_viol_rows"])
        .crossJoin(state)
    )


def oracle_runner_resume() -> str:
    return _runner_violations_sql() + (
        ", " + _GRADED_SQL + ", "
        "nv AS (SELECT check_name, count(*) AS n_viol FROM viol GROUP BY 1) "
        "SELECT c.check_name, t.n_rows, coalesce(nv.n_viol, 0) AS n_viol, "
        "coalesce(nv.n_viol, 0) AS n_viol_rows, t.n_rows AS state_rows "
        "FROM chk c CROSS JOIN (SELECT count(*) AS n_rows FROM seq) t "
        "LEFT JOIN nv ON nv.check_name = c.check_name"
    )


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the verdict grid of one QCRunner run (default checks,
    16 lineage partitions) over a 2,000-row `synth` dataset — the
    production path, as the CLI runs it."""
    data = tempfile.mkdtemp(prefix="tokenqc-entry-")
    atexit.register(shutil.rmtree, data, True)
    paths = synth.write_dataset(os.path.join(data, "in"), 2000, 42)
    tables = {name: spark.read.parquet(p) for name, p in paths.items()}
    res = QCRunner(spark, CFG, out_dir=os.path.join(data, "qc_out")).run(
        tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        reference_tokens=tables["reference_tokens"],
        run_id="entry",
    )
    return res.verdicts.select("partition_id", "check_name", "status", "n_rows", "n_viol")


_SURFACE: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str]]] = {
    # QCRunner.run itself
    "runner_violations": (q_runner_violations, oracle_runner_violations),
    "runner_verdict_totals": (q_runner_verdict_totals, oracle_runner_verdict_totals),
    "runner_drift_verdicts": (q_runner_drift_verdicts, oracle_runner_drift_verdicts),
    "runner_resume": (q_runner_resume, oracle_runner_resume),
    # row gates and verdicts
    "seq_verdicts": (q_seq_verdicts, oracle_seq_verdicts),
    "seq_violation_counts": (q_seq_violation_counts, oracle_seq_violation_counts),
    "seq_format_violations": (q_seq_format_violations, oracle_seq_format_violations),
    "seq_referential": (q_seq_referential, oracle_seq_referential),
    # uniqueness
    "seq_uniqueness": (q_seq_uniqueness, oracle_seq_uniqueness),
    "uniqueness_salted": (q_uniqueness_salted, oracle_seq_uniqueness),
    "seq_dup_surplus": (q_seq_dup_surplus, oracle_seq_dup_surplus),
    "seq_dup_rows_auto": (q_seq_dup_rows_auto, oracle_seq_dup_surplus),
    # invariant and scores
    "seq_invariant": (q_seq_invariant, oracle_seq_invariant),
    "seq_scores": (q_seq_scores, oracle_seq_scores),
    # drift
    "seq_histogram": (q_seq_histogram, oracle_seq_histogram),
    "drift_verdicts_full": (q_drift_verdicts_full, oracle_drift_verdicts_full),
    "seq_drift_stats": (q_seq_drift_stats, oracle_seq_drift_stats),
    "seq_drift_js": (q_seq_drift_js, oracle_seq_drift_js),
    "seq_token_drift": (q_seq_token_drift, oracle_seq_token_drift),
    # token checks
    "seq_token_lints": (q_seq_token_lints, oracle_seq_token_lints),
    "seq_token_entropy": (q_seq_token_entropy, oracle_seq_token_entropy),
    "seq_token_kgram_rep": (q_seq_token_kgram_rep, oracle_seq_token_kgram_rep),
    # snapshots and reporting
    "seq_snapshot_diff": (q_seq_snapshot_diff, oracle_seq_snapshot_diff),
    "seq_row_diff": (q_seq_row_diff, oracle_seq_row_diff),
    "top_violation_examples": (q_top_violation_examples, oracle_top_violation_examples),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query of the surface, each oracle-paired (the driver records
    at most 50 rows)."""
    return {name: q for name, (q, _oracle) in _SURFACE.items()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle() for name, (_q, oracle) in _SURFACE.items()}
