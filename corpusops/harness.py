"""Oracle harness: engine checks as (spark, sf_dir) queries + DuckDB SQL.

The driver's correctness gate runs each query in Spark AND its ANSI-SQL
twin in DuckDB over the same parquet, comparing row counts, schemas and
order-insensitive value hashes. To make the *engine's own gates* (not
just TPC-H lookalikes) oracle-checkable, this module derives a
`sequences(doc_id, tokens, n_tok, source)` table **deterministically from
the `orders` table with pure SQL arithmetic** — the same modular
planting rules as tokenqc.synth, keyed on a dense row number — so DuckDB
can reproduce every violation set in closed form while Spark runs the
real check operators on a real tokens array column.

Determinism contract (both engines, identical arithmetic):
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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tokenqc.checks import base as cb
from tokenqc.checks import completeness, format as format_check, referential, structural

N_PART = 16
CFG = cb.CheckConfig(n_partitions=N_PART)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# derived sequences table — Spark side
# ---------------------------------------------------------------------------
def derive_sequences(spark: SparkSession, sf_dir: str, with_ref: bool = False) -> DataFrame:
    """Build the sequences table (and optionally reference_tokens columns)
    from orders, per the module-level determinism contract."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
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
        # reference tokens: same array, first element perturbed when rn % 503 = 9
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

# per-facet violation predicates in portable SQL (sz stands in for
# size(tokens): NULL sz == NULL tokens, 0 == empty)
_FACET_SQL = {
    ("completeness", "null_doc_id"): "doc_id IS NULL",
    ("completeness", "null_tokens"): "sz IS NULL",
    ("completeness", "empty_tokens"): "sz = 0",
    ("completeness", "null_n_tok"): "n_tok IS NULL",
    ("completeness", "null_source"): "source IS NULL",
    ("structural", "ntok_mismatch"): "sz IS NOT NULL AND n_tok IS NOT NULL AND n_tok <> sz",
    ("format", "bad_doc_id"): "doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '^doc-[0-9]{8}$')",
    ("referential", "unknown_source"): "source IS NOT NULL AND source NOT IN ('web','books','code','wiki')",
}


def _facet_count_sql() -> str:
    """UNION ALL of per-check violation counts per partition."""
    checks: dict[str, list[str]] = {}
    for (check, _facet), pred in _FACET_SQL.items():
        checks.setdefault(check, []).append(pred)
    parts = [
        f"SELECT partition_id, '{check}' AS check_name, "
        + "CAST(" + " + ".join(f"sum(CASE WHEN {p} THEN 1 ELSE 0 END)" for p in preds)
        + " AS BIGINT) AS n_viol FROM seq GROUP BY partition_id"
        for check, preds in sorted(checks.items())
    ]
    return SEQ_CTE + " UNION ALL ".join(parts)


def _spark_row_facets(df: DataFrame, allowed: DataFrame) -> tuple[DataFrame, list[cb.Facet]]:
    df = referential.attach(df, allowed)
    facets = (
        completeness.facets(CFG)
        + structural.facets(CFG)
        + format_check.facets(CFG)
        + referential.facets(CFG)
    )
    return df, facets


def _allowed_sources_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(s, True) for s in ["web", "books", "code", "wiki"]], "source string, active boolean"
    )


# ---------------------------------------------------------------------------
# queries (engine side) + oracle SQL, in registration order
# ---------------------------------------------------------------------------
def q_seq_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(partition, check) violation counts from the fused row-level pass."""
    seq = derive_sequences(spark, sf_dir)
    df, facets = _spark_row_facets(seq, _allowed_sources_df(spark))
    viol = cb.assemble_violations(df, facets)
    return viol.groupBy("partition_id", "check_name").agg(
        F.count(F.lit(1)).alias("n_viol")
    )


def oracle_seq_violation_counts() -> str:
    # DuckDB side counts only partitions that HAVE violations; align by
    # filtering zero rows (Spark's explode drops clean partitions too).
    return (
        "SELECT partition_id, check_name, n_viol FROM ("
        + _facet_count_sql()
        + ") t WHERE n_viol > 0"
    )


def q_seq_format_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (partition_id, doc_id) rows flagged by the format gate."""
    seq = derive_sequences(spark, sf_dir)
    f = format_check.facets(CFG)[0]
    return seq.where(f.cond).select("partition_id", "doc_id")


def oracle_seq_format_violations() -> str:
    return SEQ_CTE + (
        "SELECT partition_id, doc_id FROM seq "
        "WHERE doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '^doc-[0-9]{8}$')"
    )


def q_seq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate doc_id keys (engine's shuffle-heavy gate), key-level."""
    from tokenqc.checks import uniqueness

    seq = derive_sequences(spark, sf_dir)
    return uniqueness.violations(seq, CFG).select("doc_id", "observed")


def oracle_seq_uniqueness() -> str:
    return SEQ_CTE + (
        "SELECT doc_id, 'count=' || CAST(count(*) AS VARCHAR) AS observed "
        "FROM seq WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1"
    )


def q_seq_dup_surplus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-only duplicate consumer form (uniqueness.enumerate_counts,
    r5): per dup key the exact surplus-row total, computed without ever
    shuffling the table by key — at 10^12 rows the enumerated listing is
    itself terabytes; this is the bounded contract reports join against."""
    from tokenqc.checks import uniqueness

    seq = derive_sequences(spark, sf_dir)
    return (
        uniqueness.enumerate_counts(seq, CFG)
        .groupBy("doc_id")
        .agg(F.sum("n_surplus").cast("long").alias("n_surplus"))
    )


def q_seq_dup_rows_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level dup listing through the adaptive dispatcher
    (uniqueness.enumerate_rows_auto, r5): the sampled probe picks the
    formulation, and the emitted multiset must match the window form's
    exactly — verified per key against the closed-form surplus count."""
    from tokenqc.checks import uniqueness

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


def q_seq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rogue-source rows via broadcast left-anti semantics, per partition."""
    seq = derive_sequences(spark, sf_dir)
    df, _ = _spark_row_facets(seq, _allowed_sources_df(spark))
    bad = df.where(referential.facets(CFG)[0].cond)
    return bad.groupBy("partition_id", "source").agg(F.count(F.lit(1)).alias("n_viol"))


def oracle_seq_referential() -> str:
    return SEQ_CTE + (
        "SELECT partition_id, source, count(*) AS n_viol FROM seq "
        "WHERE source IS NOT NULL AND source NOT IN ('web','books','code','wiki') "
        "GROUP BY partition_id, source"
    )


def q_seq_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-(partition, check) PASS/FAIL verdicts at threshold 0,
    every (partition × row-level check) present — the engine's status row
    (ProcessRepo.nf:85 analogue)."""
    seq = derive_sequences(spark, sf_dir)
    df, facets = _spark_row_facets(seq, _allowed_sources_df(spark))
    aggs = []
    checks = sorted({f.check for f in facets})
    for check in checks:
        conds = [f.cond for f in facets if f.check == check]
        any_c = conds[0]
        for c in conds[1:]:
            any_c = any_c | c
        aggs.append(F.sum(any_c.cast("long")).alias(check))
    counts = df.groupBy("partition_id").agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    long = counts.select(
        "partition_id",
        "n_rows",
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
    # count rows where ANY facet of the check fires (a row with two null
    # fields is one violating row for completeness, not two)
    checks: dict[str, list[str]] = {}
    for (check, _facet), pred in _FACET_SQL.items():
        checks.setdefault(check, []).append(pred)
    parts = [
        f"SELECT partition_id, '{check}' AS check_name, "
        + "CAST(sum(CASE WHEN " + " OR ".join(f"({p})" for p in preds)
        + " THEN 1 ELSE 0 END) AS BIGINT) AS n_viol FROM seq GROUP BY partition_id"
        for check, preds in sorted(checks.items())
    ]
    return (
        SEQ_CTE
        + "SELECT partition_id, check_name, n_viol, "
        + "CASE WHEN n_viol = 0 THEN 'PASS' ELSE 'FAIL' END AS status FROM ("
        + " UNION ALL ".join(parts)
        + ") t"
    )


def q_seq_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-array-equality invariant: engine join vs closed-form oracle."""
    from tokenqc.checks import invariant

    seq = derive_sequences(spark, sf_dir, with_ref=True)
    # drop duplicated ids from the reference side (unique-by-key contract)
    ref = (
        seq.where(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"), F.first("tokens_ref").alias("tokens_ref"))
        .where(F.col("c") == 1)
        .select("doc_id", "tokens_ref")
    )
    return invariant.violations(seq, ref, CFG).select("doc_id")


def oracle_seq_invariant() -> str:
    # mismatches = perturbation rule rows with nonempty tokens, excluding
    # doc_ids that appear more than once (dropped from the reference side)
    return SEQ_CTE + (
        "SELECT doc_id FROM seq WHERE rn % 503 = 9 AND sz IS NOT NULL AND sz > 0 "
        "AND doc_id IS NOT NULL "
        "AND doc_id IN (SELECT doc_id FROM seq WHERE doc_id IS NOT NULL "
        "GROUP BY doc_id HAVING count(*) = 1)"
    )


def q_seq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_tok bucket histogram (drift's distributed reduction)."""
    from tokenqc.checks import drift

    seq = derive_sequences(spark, sf_dir)
    return drift.observed_histogram(seq, CFG).withColumnRenamed("cnt", "cnt")


def oracle_seq_histogram() -> str:
    return SEQ_CTE + (
        "SELECT source, CAST(floor(n_tok / 64) AS INTEGER) AS bucket, count(*) AS cnt "
        "FROM seq WHERE source IS NOT NULL AND n_tok > 0 GROUP BY source, bucket"
    )


def q_seq_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats profile (Almanack analogue) — exact-distinct variant so
    the oracle can match (the engine's HLL path is benchmarked separately)."""
    seq = derive_sequences(spark, sf_dir)
    return (
        seq.groupBy(F.coalesce(F.col("source"), F.lit("__null__")).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("doc_id").isNull().cast("long")).alias("null_doc_id"),
            F.sum(F.col("tokens").isNull().cast("long")).alias("null_tokens"),
            F.sum(F.col("n_tok").isNull().cast("long")).alias("null_n_tok"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
            F.round(F.avg("n_tok"), 6).alias("avg_n_tok"),
            F.countDistinct("doc_id").alias("distinct_doc_id"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


def oracle_seq_stats() -> str:
    return SEQ_CTE + (
        "SELECT coalesce(source, '__null__') AS source, count(*) AS n_rows, "
        "CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_doc_id, "
        "CAST(sum(CASE WHEN sz IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_tokens, "
        "CAST(sum(CASE WHEN n_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_n_tok, "
        "min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok, "
        "round(avg(n_tok), 6) AS avg_n_tok, "
        "count(DISTINCT doc_id) AS distinct_doc_id, "
        "CAST(sum(n_tok) AS BIGINT) AS total_tokens "
        "FROM seq GROUP BY source"
    )


def q_seq_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score roll-up per partition (analyze_joss.py:505-508 semantics)."""
    from tokenqc.checks import scoring

    verd = q_seq_verdicts(spark, sf_dir)
    counts = verd.join(
        derive_sequences(spark, sf_dir).groupBy("partition_id").agg(F.count(F.lit(1)).alias("n_rows")),
        on="partition_id",
    ).select("partition_id", "check_name", "n_rows", "n_viol")
    return scoring.partition_report(counts)


def oracle_seq_scores() -> str:
    checks: dict[str, list[str]] = {}
    for (check, _facet), pred in _FACET_SQL.items():
        checks.setdefault(check, []).append(pred)
    union = " UNION ALL ".join(
        f"SELECT partition_id, '{check}' AS check_name, "
        + "CAST(sum(CASE WHEN " + " OR ".join(f"({p})" for p in preds)
        + " THEN 1 ELSE 0 END) AS BIGINT) AS n_viol FROM seq GROUP BY partition_id"
        for check, preds in sorted(checks.items())
    )
    return SEQ_CTE + (
        ", verd AS (" + union + "), "
        "tot AS (SELECT partition_id, count(*) AS n_rows FROM seq GROUP BY partition_id), "
        "graded AS (SELECT v.partition_id, "
        "CASE WHEN (1.0 - CAST(v.n_viol AS DOUBLE)/t.n_rows) >= 0.9 THEN 1.0 "
        "     WHEN (1.0 - CAST(v.n_viol AS DOUBLE)/t.n_rows) >= 0.7 THEN 0.5 "
        "     ELSE 0.0 END AS score "
        "FROM verd v JOIN tot t ON v.partition_id = t.partition_id) "
        "SELECT partition_id, count(*) AS n_checks, sum(score) AS total_score, "
        "sum(score)/count(*) AS overall_score FROM graded GROUP BY partition_id"
    )


def q_seq_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token-id frequencies over the derived tokens arrays
    (explode → map-side partial agg → TakeOrderedAndProject)."""
    from corpusops.textops import textqc

    return textqc.vocab_topk(derive_sequences(spark, sf_dir), k=50)


def oracle_seq_vocab_topk() -> str:
    # tokens are closed-form: [(x*31 + rn) % 50257 for x in 1..sz]
    return SEQ_CTE + (
        ", tok AS (SELECT CAST((u * 31 + rn) % 50257 AS INTEGER) AS token FROM ("
        "  SELECT rn, unnest(range(1, CAST(sz AS BIGINT) + 1)) AS u "
        "  FROM seq WHERE sz IS NOT NULL)), "
        "counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token) "
        "SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank "
        "FROM counts ORDER BY cnt DESC, token LIMIT 50"
    )


def q_seq_vocab_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 token ids (window partitioned by source)."""
    from corpusops.textops import textqc

    seq = derive_sequences(spark, sf_dir)
    return textqc.vocab_topk(seq.where(F.col("source").isNotNull()), k=5, by="source")


def oracle_seq_vocab_by_source() -> str:
    return SEQ_CTE + (
        ", tok AS (SELECT source, CAST((u * 31 + rn) % 50257 AS INTEGER) AS token FROM ("
        "  SELECT source, rn, unnest(range(1, CAST(sz AS BIGINT) + 1)) AS u "
        "  FROM seq WHERE sz IS NOT NULL AND source IS NOT NULL)), "
        "counts AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2) "
        "SELECT source, token, cnt, CAST(row_number() OVER "
        "  (PARTITION BY source ORDER BY cnt DESC, token) AS INTEGER) AS rank "
        "FROM counts QUALIFY rank <= 5"
    )


def q_seq_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries sketch run with k above the vocabulary size: no
    eviction fires, so the mergeable-summary machinery must reproduce the
    exact token frequencies — verified against closed-form counts."""
    from corpusops.textops import textqc

    return textqc.mg_heavy_hitters(derive_sequences(spark, sf_dir), k=65536)


def oracle_seq_heavy_hitters() -> str:
    return SEQ_CTE + (
        ", tok AS (SELECT CAST((u * 31 + rn) % 50257 AS INTEGER) AS token FROM ("
        "  SELECT rn, unnest(range(1, CAST(sz AS BIGINT) + 1)) AS u "
        "  FROM seq WHERE sz IS NOT NULL)) "
        "SELECT token, count(*) AS est_count FROM tok GROUP BY token"
    )


def q_seq_drift_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL drift gate — observed histograms, driver-side chi2/KS
    p-values, threshold decision — reduced to its deterministic output
    (source, status, n_rows) so DuckDB can oracle it: web as its own
    baseline must PASS, far-off sources FAIL, thin sources UNKNOWN."""
    from tokenqc.checks import drift

    seq = derive_sequences(spark, sf_dir)
    hist = drift.observed_histogram(seq, CFG)
    total = hist.where("source = 'web'").groupBy().sum("cnt").first()[0]
    base = hist.where("source = 'web'").selectExpr(
        "bucket", f"cnt / {total} as p"
    )
    srcs = seq.where("source is not null").select("source").distinct()
    base_all = srcs.crossJoin(base)
    return drift.verdicts(seq, base_all, CFG).select("source", "status", "n_rows")


def _chi2_critical(alpha: float, dof: int) -> float:
    """Inverse of drift.chi2_sf by bisection — the FAIL boundary
    chi2_p < alpha becomes the SQL-expressible chi2 > critical."""
    from tokenqc.checks.drift import chi2_sf

    lo, hi = 0.0, 10.0
    while chi2_sf(hi, dof) > alpha:
        hi *= 2
    for _ in range(200):
        mid = (lo + hi) / 2
        if chi2_sf(mid, dof) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def _ks_lambda_critical(alpha: float) -> float:
    """Solve Q_KS(lam) = alpha: ks_p < alpha ⟺ lam > this constant."""
    from tokenqc.checks.drift import ks_pvalue

    # ks_pvalue(d, n) = Q((sqrt(n)+.12+.11/sqrt(n))*d); invert on lam by
    # evaluating at n=1, d=lam/(1+0.12+0.11)
    def q(lam: float) -> float:
        return ks_pvalue(lam / (1.0 + 0.12 + 0.11), 1.0)

    lo, hi = 0.3, 5.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if q(mid) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def oracle_seq_drift_verdicts() -> str:
    """Status oracle for the full drift gate: replicates
    drift.drift_stats_pdf's chi-square (over the baseline support, obs
    filled 0), binned-KS D with the finite-n lambda correction, and
    out-of-support mass — with the p-value thresholds precomputed as
    critical values (chi2 per dof, one KS lambda constant)."""
    alpha, min_rows, out_max = (
        float(CFG.drift_alpha),
        int(CFG.min_drift_rows),
        float(CFG.drift_out_frac_max),
    )
    crit_rows = ", ".join(
        f"({d}, {_chi2_critical(alpha, d):.10f})" for d in range(1, 129)
    )
    lam_crit = _ks_lambda_critical(alpha)
    return SEQ_CTE + (
        ", hist AS (SELECT source, CAST(floor(n_tok/64) AS INTEGER) AS bucket, "
        "    CAST(count(*) AS DOUBLE) AS cnt FROM seq "
        "    WHERE source IS NOT NULL AND n_tok > 0 GROUP BY 1, 2), "
        "wb AS (SELECT bucket, cnt FROM hist WHERE source = 'web'), "
        "grid AS (SELECT s.source, w.bucket, w.cnt / (SELECT sum(cnt) FROM wb) AS p "
        "    FROM (SELECT DISTINCT source FROM seq WHERE source IS NOT NULL) s "
        "    CROSS JOIN wb w), "
        "j AS (SELECT g.source, g.bucket, g.p, coalesce(h.cnt, 0) AS obs "
        "    FROM grid g LEFT JOIN hist h ON h.source = g.source AND h.bucket = g.bucket), "
        "tot AS (SELECT source, sum(cnt) AS n FROM hist GROUP BY source), "
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
        "SELECT source, "
        f"CASE WHEN n < {min_rows} THEN 'UNKNOWN' "
        f"     WHEN chi2 > cv "
        f"       OR (sqrt(n_in) + 0.12 + 0.11 / sqrt(n_in)) * ks_d > {lam_crit:.10f} "
        f"       OR out_frac > {out_max} THEN 'FAIL' "
        "      ELSE 'PASS' END AS status, "
        "CAST(n AS BIGINT) AS n_rows FROM fin"
    )


def q_seq_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift statistics per source vs a baseline derived in-SQL: the
    baseline histogram is the observed histogram of the *web* source
    (scaled to probabilities) applied to every source — so web must match
    itself (chi2 ~ 0) and other sources show their true distance. The
    chi-square/KS arithmetic here mirrors drift.drift_stats_pdf on the
    support of the baseline; rounded to 4 decimals for cross-engine float
    stability."""
    from tokenqc.checks import drift

    seq = derive_sequences(spark, sf_dir)
    hist = drift.observed_histogram(seq, CFG)
    base = (
        hist.where(F.col("source") == "web")
        .select("bucket", F.col("cnt").alias("bc"))
    )
    tot = base.agg(F.sum("bc").alias("bt")).crossJoin(
        hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    )
    j = (
        hist.join(base, on="bucket", how="inner")  # support of baseline only
        .join(tot, on="source")
        .withColumn("e", F.col("n") * F.col("bc") / F.col("bt"))
    )
    return (
        j.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_in"),
            F.round(F.sum((F.col("cnt") - F.col("e")) ** 2 / F.col("e")), 4).alias("chi2"),
        )
    )


def oracle_seq_drift_stats() -> str:
    return SEQ_CTE + (
        ", hist AS (SELECT source, CAST(floor(n_tok/64) AS INTEGER) AS bucket, count(*) AS cnt "
        "  FROM seq WHERE source IS NOT NULL AND n_tok > 0 GROUP BY source, bucket), "
        "bhist AS (SELECT bucket, cnt AS bc FROM hist WHERE source = 'web'), "
        "tot AS (SELECT h.source, sum(h.cnt) AS n, (SELECT sum(bc) FROM bhist) AS bt "
        "  FROM hist h GROUP BY h.source) "
        "SELECT h.source, CAST(sum(h.cnt) AS BIGINT) AS n_in, "
        "round(sum(pow(h.cnt - t.n * b.bc / t.bt, 2) / (t.n * b.bc / t.bt)), 4) AS chi2 "
        "FROM hist h JOIN bhist b ON h.bucket = b.bucket JOIN tot t ON h.source = t.source "
        "GROUP BY h.source"
    )


def q_seq_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS-divergence drift gate (the information-theoretic twin of the
    chi2/KS verdicts): baseline = web's own histogram as probabilities,
    applied to every source. web must measure exactly 0; the off-shape
    spam9 source (0.013 bits) FAILs at the 0.001 threshold while the
    near-identical books/code/wiki (~5e-05) PASS — so both the statistic
    and the verdict logic carry real variance. Entirely JVM-side: no
    pandas, one full-outer join of two aggregated histograms."""
    from tokenqc.checks import drift

    seq = derive_sequences(spark, sf_dir)
    hist = drift.observed_histogram(seq, CFG)
    web = hist.where(F.col("source") == "web").select("bucket", "cnt")
    wtot = web.agg(F.sum("cnt").alias("bt"))
    base = (
        hist.select("source").distinct()
        .crossJoin(web.crossJoin(wtot).select("bucket", (F.col("cnt") / F.col("bt")).alias("p")))
    )
    return drift.js_divergence(seq, base, CFG, js_max=0.001)


def oracle_seq_drift_js() -> str:
    return SEQ_CTE + (
        ", hist AS (SELECT source, CAST(floor(n_tok/64) AS INTEGER) AS bucket, count(*) AS cnt "
        "  FROM seq WHERE source IS NOT NULL AND n_tok > 0 GROUP BY source, bucket), "
        "wt AS (SELECT sum(cnt) AS bt FROM hist WHERE source = 'web'), "
        "jsbase AS (SELECT s.source, h.bucket, h.cnt * 1.0 / (SELECT bt FROM wt) AS p "
        "  FROM (SELECT DISTINCT source FROM hist) s, "
        "       (SELECT bucket, cnt FROM hist WHERE source = 'web') h), "
        "tot AS (SELECT source, sum(cnt) AS n FROM hist GROUP BY source), "
        "obs AS (SELECT h.source, h.bucket, h.cnt * 1.0 / t.n AS q, t.n AS n "
        "  FROM hist h JOIN tot t USING (source)), "
        "j AS (SELECT coalesce(o.source, b.source) AS source, coalesce(o.q, 0) AS q, "
        "             coalesce(b.p, 0) AS p, o.n AS n "
        "  FROM obs o FULL OUTER JOIN jsbase b ON o.source = b.source AND o.bucket = b.bucket) "
        "SELECT source, CAST(coalesce(max(n), 0) AS BIGINT) AS n_rows, "
        "round(0.5*sum(CASE WHEN q > 0 THEN q*log2(2*q/(p+q)) ELSE 0 END) "
        "    + 0.5*sum(CASE WHEN p > 0 THEN p*log2(2*p/(p+q)) ELSE 0 END), 6) AS js_divergence, "
        "CASE WHEN round(0.5*sum(CASE WHEN q > 0 THEN q*log2(2*q/(p+q)) ELSE 0 END) "
        "    + 0.5*sum(CASE WHEN p > 0 THEN p*log2(2*p/(p+q)) ELSE 0 END), 6) > 0.001 "
        "     THEN 'FAIL' ELSE 'PASS' END AS status "
        "FROM j GROUP BY source"
    )


def q_seq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift gate (drift.psi_from_histograms,
    warn=0.05 / fail=0.5): baseline = web's histogram applied to every
    source except code (withheld -> UNKNOWN). books is planted with a
    +512 n_tok shift, pushing its whole histogram 8 buckets off the
    baseline support — every bucket pair degenerates to the eps clamp,
    PSI explodes, hard FAIL. At sf0.01 spam9's real off-shape lands in
    [0.05, 0.5) -> WARN, wiki tracks web -> PASS — all four statuses
    from one plant. The gate grades on the 6-decimal-rounded statistic,
    so Spark and DuckDB verdicts agree exactly at any scale."""
    from tokenqc.checks import drift

    seq = derive_sequences(spark, sf_dir)
    planted = seq.withColumn(
        "n_tok",
        F.when(
            F.col("source") == "books", F.col("n_tok") + 512
        ).otherwise(F.col("n_tok")),
    )
    hist = drift.observed_histogram(planted, CFG)
    web = hist.where(F.col("source") == "web").select("bucket", "cnt")
    wtot = web.agg(F.sum("cnt").alias("bt"))
    base = (
        hist.select("source").distinct()
        .where(F.col("source") != "code")
        .crossJoin(
            web.crossJoin(wtot).select(
                "bucket", (F.col("cnt") / F.col("bt")).alias("p")
            )
        )
    )
    return drift.psi_from_histograms(hist, base, psi_warn=0.05, psi_fail=0.5)


def oracle_seq_drift_psi() -> str:
    psi = (
        "sum((greatest(q, 0.000001) - greatest(p, 0.000001)) "
        "* ln(greatest(q, 0.000001) / greatest(p, 0.000001)))"
    )
    return SEQ_CTE + (
        ", pl AS (SELECT source, "
        "    CASE WHEN source = 'books' THEN n_tok + 512 ELSE n_tok END AS nt "
        "  FROM seq), "
        "hist AS (SELECT source, CAST(floor(nt/64) AS INTEGER) AS bucket, count(*) AS cnt "
        "  FROM pl WHERE source IS NOT NULL AND nt > 0 GROUP BY source, bucket), "
        "wt AS (SELECT sum(cnt) AS bt FROM hist WHERE source = 'web'), "
        "pb AS (SELECT s.source, h.bucket, h.cnt * 1.0 / (SELECT bt FROM wt) AS p "
        "  FROM (SELECT DISTINCT source FROM hist WHERE source <> 'code') s, "
        "       (SELECT bucket, cnt FROM hist WHERE source = 'web') h), "
        "tot AS (SELECT source, sum(cnt) AS n FROM hist GROUP BY source), "
        "obs AS (SELECT h.source, h.bucket, h.cnt * 1.0 / t.n AS q, t.n AS n "
        "  FROM hist h JOIN tot t USING (source)), "
        "j AS (SELECT coalesce(o.source, b.source) AS source, "
        "             coalesce(o.q, 0) AS q, b.p AS bp, coalesce(b.p, 0) AS p, o.n AS n "
        "  FROM obs o FULL OUTER JOIN pb b ON o.source = b.source AND o.bucket = b.bucket) "
        "SELECT source, CAST(coalesce(max(n), 0) AS BIGINT) AS n_rows, "
        f"round({psi}, 6) AS psi, "
        "CASE WHEN max(CASE WHEN bp IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 'UNKNOWN' "
        f"     WHEN round({psi}, 6) >= 0.5 THEN 'FAIL' "
        f"     WHEN round({psi}, 6) >= 0.05 THEN 'WARN' "
        "     ELSE 'PASS' END AS status "
        "FROM j GROUP BY source"
    )


def q_seq_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-unigram drift gate (drift.token_histogram +
    js_from_histograms): JS divergence per source between token-id
    residue distributions and a web-derived baseline — drift over what
    the sequences CONTAIN, where seq_drift_js drifts over how long they
    are. spam9's token stream is planted parity-degenerate (every id
    forced even, a collapsed-decoder artifact), so its residue histogram
    puts zero mass on odd buckets and must FAIL; books/wiki track web's
    residue shape and PASS; code is withheld from the baseline and must
    grade UNKNOWN. n_rows counts tokens (the histogram's unit)."""
    from tokenqc.checks import drift

    seq = derive_sequences(spark, sf_dir)
    planted = seq.withColumn(
        "tokens",
        F.when(
            F.col("source") == "spam9",
            F.transform(F.col("tokens"), lambda t: t - F.pmod(t, F.lit(2))),
        ).otherwise(F.col("tokens")),
    )
    hist = drift.token_histogram(planted, n_buckets=64)
    web = hist.where(F.col("source") == "web").select("bucket", "cnt")
    wtot = web.agg(F.sum("cnt").alias("bt"))
    base = (
        hist.select("source").distinct()
        .where(F.col("source") != "code")
        .crossJoin(
            web.crossJoin(wtot).select(
                "bucket", (F.col("cnt") / F.col("bt")).alias("p")
            )
        )
    )
    return drift.js_from_histograms(hist, base, js_max=0.01)


def oracle_seq_token_drift() -> str:
    return SEQ_CTE + (
        ", tk AS (SELECT source, CAST((u * 31 + rn) % 50257 AS INTEGER) AS tok0 "
        "  FROM (SELECT rn, source, unnest(range(1, CAST(sz AS BIGINT) + 1)) AS u "
        "        FROM seq WHERE source IS NOT NULL AND sz IS NOT NULL AND sz > 0)), "
        "tok AS (SELECT source, "
        "  CASE WHEN source = 'spam9' THEN tok0 - (tok0 % 2) ELSE tok0 END AS tok FROM tk), "
        "hist AS (SELECT source, CAST(tok % 64 AS INTEGER) AS bucket, count(*) AS cnt "
        "  FROM tok GROUP BY 1, 2), "
        "wt AS (SELECT sum(cnt) AS bt FROM hist WHERE source = 'web'), "
        "jsbase AS (SELECT s.source, h.bucket, h.cnt * 1.0 / (SELECT bt FROM wt) AS p "
        "  FROM (SELECT DISTINCT source FROM hist WHERE source <> 'code') s, "
        "       (SELECT bucket, cnt FROM hist WHERE source = 'web') h), "
        "tot AS (SELECT source, sum(cnt) AS n FROM hist GROUP BY source), "
        "obs AS (SELECT h.source, h.bucket, h.cnt * 1.0 / t.n AS q, t.n AS n "
        "  FROM hist h JOIN tot t USING (source)), "
        "j AS (SELECT coalesce(o.source, b.source) AS source, coalesce(o.q, 0) AS q, "
        "             b.p AS pn, coalesce(b.p, 0) AS p, o.n AS n "
        "  FROM obs o FULL OUTER JOIN jsbase b ON o.source = b.source AND o.bucket = b.bucket) "
        "SELECT source, CAST(coalesce(max(n), 0) AS BIGINT) AS n_rows, "
        "round(0.5*sum(CASE WHEN q > 0 THEN q*log2(2*q/(p+q)) ELSE 0 END) "
        "    + 0.5*sum(CASE WHEN p > 0 THEN p*log2(2*p/(p+q)) ELSE 0 END), 6) AS js_divergence, "
        "CASE WHEN max(CASE WHEN pn IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 'UNKNOWN' "
        "     WHEN round(0.5*sum(CASE WHEN q > 0 THEN q*log2(2*q/(p+q)) ELSE 0 END) "
        "    + 0.5*sum(CASE WHEN p > 0 THEN p*log2(2*p/(p+q)) ELSE 0 END), 6) > 0.01 "
        "     THEN 'FAIL' ELSE 'PASS' END AS status "
        "FROM j GROUP BY source"
    )


def q_seq_token_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-shingle contamination gate
    (textqc.token_contamination_flags, k=8): training rows (rn % 509
    != 0) are flagged when they share an 8-token shingle with the
    held-out "benchmark" subset (rn % 509 == 0). The generator's
    structure gives the oracle a closed form: tokens are
    (u*31 + rn) mod 50257, so consecutive values differ by the constant
    31 and a k-shingle is fully determined by its FIRST value — shingle
    equality is first-value equality, and DuckDB re-derives the exact
    hit counts with a plain integer semi-join (no hashing needed).
    Keyed by rn (the unique row key)."""
    from corpusops.textops import textqc

    seq = derive_sequences(spark, sf_dir).where(
        F.col("tokens").isNotNull() & (F.size("tokens") >= 8)
    )
    bench = seq.where(F.col("rn") % 509 == 0)
    train = seq.where(F.col("rn") % 509 != 0)
    return textqc.token_contamination_flags(train, bench, k=8, id_col="rn")


def oracle_seq_token_contamination() -> str:
    return SEQ_CTE + (
        ", valid AS (SELECT rn, sz FROM seq WHERE sz IS NOT NULL AND sz >= 8), "
        "bench AS (SELECT DISTINCT (u * 31 + rn) % 50257 AS v "
        "  FROM (SELECT rn, unnest(range(1, CAST(sz AS BIGINT) - 6)) AS u "
        "        FROM valid WHERE rn % 509 = 0)), "
        "train AS (SELECT rn, (u * 31 + rn) % 50257 AS v "
        "  FROM (SELECT rn, unnest(range(1, CAST(sz AS BIGINT) - 6)) AS u "
        "        FROM valid WHERE rn % 509 <> 0)) "
        "SELECT t.rn, CAST(count(*) AS INTEGER) AS n_shingles, "
        "CAST(sum(CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_contaminated, "
        "sum(CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END) >= 1 AS contaminated "
        "FROM train t LEFT JOIN bench b ON t.v = b.v GROUP BY t.rn"
    )


# ---------------------------------------------------------------------------
# token-array lints (checks/tokens.py) — planted anomalies + oracle
# ---------------------------------------------------------------------------
# Lint parameters for the oracle query. The planting rules below are part
# of the determinism contract: both engines compute the FINAL per-position
# token value with the same priority-ordered CASE, so the oracle is an
# exact independent simulation (it re-derives max-run with gaps-and-islands
# SQL, not the engine's fold).
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
    """Apply the module-contract planting rules to the tokens array.

    One JVM-side ``transform`` over the existing array — no shuffle, no
    Python. Natural values can't trigger the lints at small rn (ids are
    (x*31+rn) % 50257, so OOB/BOS/EOS hits need rn ≳ 19k and identical
    neighbours never occur: consecutive ids differ by 31 mod 50257), so
    planting is what makes the facets non-vacuous at test scale.

    sz is recomputed from rn in closed form (the module contract) rather
    than via ``F.size("tokens")``: the derived tokens column is an
    expression, and Catalyst inlines it at every use site — a size() call
    INSIDE the per-element lambda would rebuild the whole array per
    element (O(n²) per row; measured minutes at sf0.001).
    """
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
    """Token-array lint violations (checks/tokens.py): id domain, special-
    token layout, degenerate runs — the payload-domain gates the reference
    applies to each tool's fields (/root/reference/main.nf:62-66, bin/analyze_joss.py:199-266)
    re-expressed over a pre-tokenized corpus. All four facets ride the
    single narrow scan (higher-order array functions, zero Python)."""
    from tokenqc.checks import tokens as token_lints

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
    """Independent DuckDB simulation: per-position values via
    generate_series + the contract CASE, max-run via gaps-and-islands."""
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
    """Per-sequence token unigram entropy gate (degeneracy.token_entropy):
    the degenerate-text detector — planted rule rn % 97 = 11 collapses
    the whole array to its first token (entropy 0, flagged), every
    clean sequence has all-distinct tokens by the generator contract
    (31*997 < 50257: no wraparound) so its entropy is ln(sz). The
    oracle does NOT use that closed form — it re-derives per-position
    values and counts independently (the token-lints pattern)."""
    from tokenqc.checks import degeneracy

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
    """Independent DuckDB re-simulation: per-position values via
    generate_series + the planting CASE, counts via GROUP BY."""
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
    """Within-document duplicated k-gram fraction
    (degeneracy.token_kgram_repetition, k=8): planted rule rn % 103 = 17
    tiles the sequence with a period-4 cycle — unigram entropy stays
    ln(4) (the entropy gate passes it at its default threshold region)
    but every window repeats, so dup_kgram_frac → 1 and the row flags.
    Clean sequences have all-distinct tokens by the generator contract,
    hence all-distinct windows and frac 0. The oracle does NOT use
    either closed form — it re-derives per-position values and counts
    DISTINCT actual 8-token windows (no hashing at all), so the Spark
    side's 64-bit window hash is independently certified."""
    from tokenqc.checks import degeneracy

    seq = derive_sequences(spark, sf_dir)
    sz = F.size("tokens")
    tiled = F.transform(
        F.sequence(F.lit(1), sz),
        lambda x: (((x - 1) % 4 + 1) * 31 + F.col("rn")) % 50257,
    ).cast("array<int>")
    planted = seq.withColumn(
        "tokens",
        F.when(
            (F.col("rn") % 103 == 17) & F.col("tokens").isNotNull() & (sz > 0),
            tiled,
        ).otherwise(F.col("tokens")),
    )
    return degeneracy.token_kgram_repetition(planted, id_col="rn")


def oracle_seq_token_kgram_rep() -> str:
    """Independent DuckDB re-simulation: per-position values via
    generate_series + the planting CASE, windows as actual list slices,
    distinctness via count(DISTINCT list) — hash-free."""
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


def q_seq_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage (dedup.dup_span_coverage,
    k=8, min_docs=2) over a systematic rn % 3 = 0 stratum of the
    sequences table. The generator makes this query carry real variance
    WITHOUT planting: tokens are (31x + rn) mod 50257, so docs rn and
    rn + 93 (both in the stratum) share the same progression shifted by
    3 positions — near-total span overlap where both are long, partial
    coverage at the boundaries, zero for docs whose stratum neighbours
    are short. The oracle re-derives the windows as ACTUAL 8-token list
    slices (no hashing), finds cross-doc duplicates by grouping the
    materialized window content, and counts coverage as DISTINCT
    covered positions via generate_series — a formulation disjoint from
    the engine's xxhash64 windows + sorted interval sweep, so both the
    64-bit window hashing and the merge arithmetic are certified."""
    from corpusops.textops import dedup

    seq = derive_sequences(spark, sf_dir).where(F.col("rn") % 3 == 0)
    return dedup.dup_span_coverage(seq, id_col="rn", k=8, min_docs=2)


def oracle_seq_dup_spans() -> str:
    return SEQ_CTE + """
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE rn % 3 = 0 AND sz IS NOT NULL AND sz >= 8
), toks AS (
  SELECT rn, sz, x, (x * 31 + rn) % 50257 AS v FROM pos
), arrs AS (
  SELECT rn, max(sz) AS sz, list(v ORDER BY x) AS t FROM toks GROUP BY rn
), wins AS (
  SELECT rn, sz, x AS p,
    array_to_string(t[CAST(x AS INTEGER):CAST(x + 7 AS INTEGER)], ',') AS kg
  FROM arrs, LATERAL (
    SELECT unnest(generate_series(1, CAST(sz - 7 AS BIGINT))) AS x
  ) g
), duph AS (
  SELECT kg FROM wins GROUP BY kg HAVING count(DISTINCT rn) >= 2
), dupw AS (
  SELECT w.rn, w.sz, w.p FROM wins w JOIN duph USING (kg)
), cov AS (
  -- count(DISTINCT p), not count(*): the LATERAL fans each window out
  -- to its 8 covered positions, so raw row counts are windows x 8
  SELECT rn, max(sz) AS sz, count(DISTINCT p) AS n_dup_kgrams,
    count(DISTINCT c) AS covered
  FROM dupw, LATERAL (SELECT unnest(generate_series(p, p + 7)) AS c) u
  GROUP BY rn
)
SELECT rn, CAST(sz AS INTEGER) AS n_tok,
  CAST(n_dup_kgrams AS BIGINT) AS n_dup_kgrams,
  CAST(covered AS BIGINT) AS covered_tokens,
  CAST(covered AS BIGINT) * 1000000 // sz AS dup_span_ppm
FROM cov
"""


def q_seq_dup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup removal (dedup.dup_span_scrub, k=8,
    min_docs=2) over the same rn % 3 = 0 stratum as seq_dup_spans —
    the docs rn / rn+93 share a shifted token progression, so real
    spans get scrubbed. Every rewritten array is certified byte-exactly
    (the token_remap idiom): the oracle re-derives duplicated windows
    as ACTUAL 8-token list slices (no hashing), marks covered
    positions via generate_series, anti-joins them out, and compares
    the md5 of each kept-token string — fully-scrubbed and empty docs
    survive as md5(''). Certifies the window hashing, the
    gaps-and-islands interval merge, AND the in-row positional filter
    in one row per doc."""
    from corpusops.textops import dedup

    seq = derive_sequences(spark, sf_dir).where(
        (F.col("rn") % 3 == 0) & F.col("tokens").isNotNull()
    )
    out = dedup.dup_span_scrub(seq, id_col="rn", k=8, min_docs=2)
    joined = F.array_join(
        F.transform("tokens_clean", lambda t: t.cast("string")), " "
    )
    return out.select("rn", "n_tok", "n_kept", F.md5(joined).alias("tokens_md5"))


def oracle_seq_dup_scrub() -> str:
    return SEQ_CTE + """
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE rn % 3 = 0 AND sz IS NOT NULL AND sz >= 1
), toks AS (
  SELECT rn, sz, x, (x * 31 + rn) % 50257 AS v FROM pos
), arrs AS (
  SELECT rn, max(sz) AS sz, list(v ORDER BY x) AS t FROM toks GROUP BY rn
), wins AS (
  SELECT rn, x AS p,
    array_to_string(t[CAST(x AS INTEGER):CAST(x + 7 AS INTEGER)], ',') AS kg
  FROM arrs, LATERAL (
    SELECT unnest(generate_series(1, CAST(sz - 7 AS BIGINT))) AS x
  ) g
  WHERE sz >= 8
), duph AS (
  SELECT kg FROM wins GROUP BY kg HAVING count(DISTINCT rn) >= 2
), covpos AS (
  SELECT DISTINCT w.rn, c
  FROM wins w JOIN duph USING (kg),
       LATERAL (SELECT unnest(generate_series(p, p + 7)) AS c) u
), kept AS (
  SELECT t.rn, t.x, t.v
  FROM toks t LEFT JOIN covpos cp ON cp.rn = t.rn AND cp.c = t.x
  WHERE cp.c IS NULL
), agg AS (
  SELECT rn, CAST(count(*) AS INTEGER) AS n_kept,
    md5(string_agg(CAST(v AS VARCHAR), ' ' ORDER BY x)) AS tokens_md5
  FROM kept GROUP BY rn
)
SELECT s.rn, CAST(s.sz AS INTEGER) AS n_tok,
  coalesce(a.n_kept, 0) AS n_kept,
  coalesce(a.tokens_md5, md5('')) AS tokens_md5
FROM seq s LEFT JOIN agg a USING (rn)
WHERE s.rn % 3 = 0 AND s.sz IS NOT NULL
"""


def q_seq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural snapshot diff (checks/snapshot.table_diff) between two
    deterministic versions of the sequences table, planted to hit every
    verdict branch at sf0.001 and sf0.01:
      - baseline drops every rn % 23 = 0 row and the whole *books*
        source -> books is NEW_KEY, everything else grew ~4.3% (STABLE);
      - baseline adds a relabeled *legacy* slice (rn % 29 = 0) absent
        from current -> DROPPED_KEY;
      - current drops 1/5 of *code* rows (> the 1/23 baseline trim) ->
        SHRUNK;
      - current double-ingests the *spam9* slice -> ~+109% -> GROWN;
      - NULL sources ride under the __null__ sentinel key.
    Only the key column is projected — the diff never touches tokens."""
    from tokenqc.checks import snapshot

    seq = derive_sequences(spark, sf_dir).select("rn", "source")
    src = F.col("source")
    cur = seq.where(
        ~(src.isNotNull() & (src == "code") & (F.col("rn") % 5 == 0))
    ).unionAll(seq.where(src.isNotNull() & (src == "spam9")))
    base = seq.where(
        (F.col("rn") % 23 != 0) & (src.isNull() | (src != "books"))
    ).unionAll(
        seq.where(F.col("rn") % 29 == 0).select("rn", F.lit("legacy").alias("source"))
    )
    return snapshot.table_diff(cur, base, key_col="source")


def oracle_seq_snapshot_diff() -> str:
    return SEQ_CTE + """
, slim AS (SELECT rn, source FROM seq)
, cur AS (
  SELECT coalesce(source, '__null__') AS key FROM slim
  WHERE NOT (source IS NOT NULL AND source = 'code' AND rn % 5 = 0)
  UNION ALL
  SELECT source AS key FROM slim WHERE source = 'spam9'
), basex AS (
  SELECT coalesce(source, '__null__') AS key FROM slim
  WHERE rn % 23 <> 0 AND (source IS NULL OR source <> 'books')
  UNION ALL
  SELECT 'legacy' AS key FROM slim WHERE rn % 29 = 0
), c AS (SELECT key, count(*) AS n_cur FROM cur GROUP BY key)
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
    """Row-granularity snapshot diff (checks/snapshot.row_diff) over
    the SAME two planted snapshot versions as seq_snapshot_diff, with
    rn as the row identity: books is all-added with NO baseline ->
    churn_ppm NULL; legacy is all-removed -> churn exactly 10^6; code
    churns both ways (1/5 removed, 1/23 added back); and spam9's
    double-ingest — GROWN in table_diff — collapses under DISTINCT to
    zero added rows here, pinning the complementarity of the two
    diffs."""
    from tokenqc.checks import snapshot

    seq = derive_sequences(spark, sf_dir).select("rn", "source")
    src = F.col("source")
    cur = seq.where(
        ~(src.isNotNull() & (src == "code") & (F.col("rn") % 5 == 0))
    ).unionAll(seq.where(src.isNotNull() & (src == "spam9")))
    base = seq.where(
        (F.col("rn") % 23 != 0) & (src.isNull() | (src != "books"))
    ).unionAll(
        seq.where(F.col("rn") % 29 == 0).select("rn", F.lit("legacy").alias("source"))
    )
    return snapshot.row_diff(cur, base, digest_col="rn", key_col="source")


def oracle_seq_row_diff() -> str:
    return SEQ_CTE + """
, slim AS (SELECT rn, source FROM seq)
, cur AS (
  SELECT DISTINCT key, rn FROM (
    SELECT coalesce(source, '__null__') AS key, rn FROM slim
    WHERE NOT (source IS NOT NULL AND source = 'code' AND rn % 5 = 0)
    UNION ALL
    SELECT source AS key, rn FROM slim WHERE source = 'spam9') u
), basex AS (
  SELECT DISTINCT key, rn FROM (
    SELECT coalesce(source, '__null__') AS key, rn FROM slim
    WHERE rn % 23 <> 0 AND (source IS NULL OR source <> 'books')
    UNION ALL
    SELECT 'legacy' AS key, rn FROM slim WHERE rn % 29 = 0) u
), j AS (
  SELECT coalesce(c.key, b.key) AS key,
    CASE WHEN c.rn IS NOT NULL AND b.rn IS NULL THEN 1 ELSE 0 END AS a,
    CASE WHEN b.rn IS NOT NULL AND c.rn IS NULL THEN 1 ELSE 0 END AS r,
    CASE WHEN c.rn IS NOT NULL AND b.rn IS NOT NULL THEN 1 ELSE 0 END AS k
  FROM cur c FULL OUTER JOIN basex b ON c.key = b.key AND c.rn = b.rn
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


def q_seq_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruning health audit (layout.clustering_audit) of the
    SAME data under two layouts at once: 'hash' partitions by rn % 16
    (every partition spans nearly the full n_tok domain -> ~15 overlaps
    each, pruning-hostile) vs 'range' partitions by n_tok DIV 64
    (disjoint closed ranges -> 0 overlaps, pruning-perfect) — the audit
    must read maximally bad and maximally good off the same rows."""
    from corpusops import layout

    seq = derive_sequences(spark, sf_dir).select("rn", "partition_id", "n_tok")
    hash_l = layout.clustering_audit(
        seq.select(F.col("partition_id").alias("p"), "n_tok"), "p", "n_tok"
    ).withColumn("layout", F.lit("hash"))
    range_l = layout.clustering_audit(
        seq.where(F.col("n_tok").isNotNull()).select(
            F.expr("n_tok DIV 64").cast("int").alias("p"), "n_tok"
        ),
        "p",
        "n_tok",
    ).withColumn("layout", F.lit("range"))
    return hash_l.unionByName(range_l)


def oracle_seq_clustering_audit() -> str:
    return SEQ_CTE + """
, src AS (
  SELECT 'hash' AS layout, CAST(rn % 16 AS INTEGER) AS part, n_tok
  FROM seq WHERE n_tok IS NOT NULL
  UNION ALL
  SELECT 'range' AS layout, CAST(n_tok // 64 AS INTEGER) AS part, n_tok
  FROM seq WHERE n_tok IS NOT NULL
), rng AS (
  SELECT layout, part, min(n_tok) AS lo, max(n_tok) AS hi,
    CAST(count(*) AS BIGINT) AS n_rows
  FROM src GROUP BY 1, 2
), ov AS (
  SELECT a.layout, a.part, CAST(count(b.part) AS BIGINT) AS n_overlaps
  FROM rng a LEFT JOIN rng b
    ON a.layout = b.layout AND a.lo <= b.hi AND b.lo <= a.hi AND a.part <> b.part
  GROUP BY 1, 2
)
SELECT r.part, r.lo, r.hi, r.n_rows, o.n_overlaps, r.layout
FROM rng r JOIN ov o ON r.layout = o.layout AND r.part = o.part
"""


_Z_BITS = 8


def q_seq_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order sort key (layout.zorder_key, 8 bits per column)
    over (n_tok, rn % 251): integer-exact bit interleaving after the
    floor(x+0.5) affine cell mapping, certified value-for-value; rows
    with NULL n_tok pin the NULL-key branch."""
    from corpusops import layout

    seq = derive_sequences(spark, sf_dir).select(
        "rn", "n_tok", (F.col("rn") % 251).cast("int").alias("r2")
    )
    out = layout.zorder_key(seq, cols=("n_tok", "r2"), bits=_Z_BITS)
    return out.select("rn", "zkey")


def oracle_seq_zorder_key() -> str:
    mx = (1 << _Z_BITS) - 1
    cell = (
        "CASE WHEN {hi} = {lo} THEN 0 "
        "ELSE CAST(least({mx}.0, greatest(0.0, "
        "floor((CAST({v} AS DOUBLE) - {lo}) / ({hi} - {lo}) * {mx}.0 + 0.5))) AS BIGINT) END"
    )
    c0 = cell.format(v="n_tok", lo="b.lo0", hi="b.hi0", mx=mx)
    c1 = cell.format(v="r2", lo="b.lo1", hi="b.hi1", mx=mx)
    terms = " + ".join(
        f"(((c{ci} >> {i}) & 1) << {i * 2 + ci})"
        for i in range(_Z_BITS)
        for ci in range(2)
    )
    return SEQ_CTE + f"""
, src AS (SELECT rn, n_tok, CAST(rn % 251 AS INTEGER) AS r2 FROM seq)
, b AS (
  SELECT min(CAST(n_tok AS DOUBLE)) AS lo0, max(CAST(n_tok AS DOUBLE)) AS hi0,
         min(CAST(r2 AS DOUBLE)) AS lo1, max(CAST(r2 AS DOUBLE)) AS hi1
  FROM src
), cells AS (
  SELECT rn, n_tok, {c0} AS c0, {c1} AS c1 FROM src, b
)
SELECT rn,
  CASE WHEN n_tok IS NULL THEN NULL ELSE CAST({terms} AS BIGINT) END AS zkey
FROM cells
"""


def q_seq_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan (pack.length_buckets) over the
    sequences table: buckets 64..512, so the generator's 1..997 token
    range exercises every bucket AND the truncation path (n_tok > 512
    clamps into the top bucket with tokens_dropped > 0)."""
    from corpusops.textops import pack

    return pack.length_buckets(
        derive_sequences(spark, sf_dir),
        max_len=512, min_bucket=64, batch_tokens=8192,
    )


def oracle_seq_length_buckets() -> str:
    bucket = (
        "CASE WHEN least(n_tok, 512) <= 64 THEN 64 "
        "WHEN least(n_tok, 512) <= 128 THEN 128 "
        "WHEN least(n_tok, 512) <= 256 THEN 256 ELSE 512 END"
    )
    return SEQ_CTE + f"""
, b AS (
  SELECT source, CAST({bucket} AS INTEGER) AS bucket_len,
    least(n_tok, 512) AS eff,
    CASE WHEN n_tok > 512 THEN 1 ELSE 0 END AS tr,
    greatest(n_tok - 512, 0) AS dr
  FROM seq WHERE source IS NOT NULL AND n_tok IS NOT NULL AND n_tok > 0
)
SELECT source, bucket_len, count(*) AS n_seqs,
  CAST(sum(tr) AS BIGINT) AS n_truncated,
  CAST(sum(eff) AS BIGINT) AS sum_tokens,
  CAST(sum(dr) AS BIGINT) AS tokens_dropped,
  count(*) * bucket_len AS padded_tokens,
  (count(*) * bucket_len - CAST(sum(eff) AS BIGINT)) * 1000000
    // (count(*) * bucket_len) AS waste_ppm,
  (count(*) * bucket_len + 8191) // 8192 AS n_batches
FROM b GROUP BY source, bucket_len
"""


STRAT_COUNTS = {"web": 600, "books": 100000, "code": 0, "wiki": 40}


def q_seq_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampler (textqc.stratified_sample): web
    takes the two-phase threshold path, books the n >= |source|
    take-all path, code the n = 0 empty path, wiki a boundary-heavy
    small count — keyed on the unique rn (doc_id carries planted
    dups/NULLs, which the op's docstring excludes)."""
    from corpusops.textops import textqc

    out = textqc.stratified_sample(
        derive_sequences(spark, sf_dir), STRAT_COUNTS, id_col="rn"
    )
    return out.select("rn", "doc_id", "n_tok", "source")


def oracle_seq_stratified_sample() -> str:
    case = " ".join(
        f"WHEN '{s}' THEN {n}" for s, n in STRAT_COUNTS.items()
    )
    srcs = ", ".join(f"'{s}'" for s in STRAT_COUNTS)
    return SEQ_CTE + f"""
SELECT rn, doc_id, n_tok, source FROM seq
WHERE source IN ({srcs})
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY md5('strat-v1' || CAST(rn AS VARCHAR))
) <= CASE source {case} END
"""


def q_seq_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard layout (pack.shard_plan) over the sequences
    table keyed on the unique rn: shard membership AND within-shard
    positions must be a pure function of the data — the oracle's
    per-shard row_number re-derives both independently."""
    from corpusops.textops import pack

    out = pack.shard_plan(
        derive_sequences(spark, sf_dir), n_shards=8, id_cols=("rn",)
    )
    return out.select("rn", "shard_id", "pos_in_shard")


def oracle_seq_shard_plan() -> str:
    key = "md5('shard-v1' || '|' || CAST(rn AS VARCHAR))"
    shard = f"CAST(CAST(('0x' || substr({key}, 1, 8)) AS BIGINT) % 8 AS INTEGER)"
    return SEQ_CTE + f"""
SELECT rn, {shard} AS shard_id,
  row_number() OVER (PARTITION BY {shard} ORDER BY {key}) - 1 AS pos_in_shard
FROM seq
"""


INTERLEAVE_WEIGHTS = {"web": 6, "books": 1, "wiki": 2}  # lcm 6 -> strides 1/6/3


def q_seq_interleave_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-ordered read plan (pack.interleave_plan)
    keyed on the unique rn: weights 6/1/2 over web/books/wiki (code and
    spam9 dropped — not in the mixture). The oracle re-derives both the
    per-source md5 rank (a window the op deliberately avoids) and the
    stride arithmetic independently."""
    from corpusops.textops import pack

    out = pack.interleave_plan(
        derive_sequences(spark, sf_dir), INTERLEAVE_WEIGHTS, id_cols=("rn",)
    )
    return out.select("rn", "source", "rank_in_source", "order_key")


def oracle_seq_interleave_plan() -> str:
    case = "CASE source WHEN 'web' THEN 1 WHEN 'books' THEN 6 WHEN 'wiki' THEN 3 END"
    return SEQ_CTE + f"""
SELECT rn, source, r AS rank_in_source, r * m AS order_key FROM (
  SELECT rn, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5('interleave-v1' || '|' || CAST(rn AS VARCHAR))
    ) AS r,
    {case} AS m
  FROM seq WHERE source IN ('web', 'books', 'wiki')
)
"""


def q_seq_score_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-30%-per-source quality curation
    (textqc.score_top_sample, keep_ppm=300000): score derived in closed
    form q = ((rn*37) % 1001)/1000.0 — 1001 distinct values over many
    more rows, so SCORE TIES are guaranteed and the md5 tie-break +
    boundary-bucket walk are both load-bearing. The oracle is the
    direct per-source window formulation the operator deliberately
    avoids."""
    from corpusops.textops import textqc

    seq = derive_sequences(spark, sf_dir).where(F.col("source").isNotNull())
    scored = seq.withColumn("q", (F.col("rn") * 37 % 1001) / F.lit(1000.0))
    out = textqc.score_top_sample(
        scored, keep_ppm=300_000, score_col="q", id_col="rn"
    )
    return out.select("rn", "source", "q")


def oracle_seq_score_top() -> str:
    return SEQ_CTE + """
SELECT rn, source, q FROM (
  SELECT rn, source, q,
    row_number() OVER (
      PARTITION BY source
      ORDER BY q DESC, md5('qtop-v1' || CAST(rn AS VARCHAR))
    ) AS r,
    count(*) OVER (PARTITION BY source) AS n_s
  FROM (
    SELECT rn, source, ((rn * 37) % 1001) / 1000.0 AS q
    FROM seq WHERE source IS NOT NULL
  )
) WHERE r <= (300000 * n_s + 999999) // 1000000
"""


def q_seq_ntok_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust length-outlier gate (stats.robust_outliers): planted rule
    rn % 131 = 19 inflates n_tok to 50000 + rn % 7 — far outside the
    Tukey fence of the near-uniform 1..997 base (q3 + 3·IQR ≈ 2200) —
    while every natural row stays inside. The oracle re-derives the
    discrete quantiles, fences and membership with its own window
    cumulative walk."""
    from tokenqc.checks import stats

    seq = derive_sequences(spark, sf_dir)
    planted = seq.withColumn(
        "n_tok",
        F.when(
            F.col("rn") % 131 == 19, (F.lit(50000) + F.col("rn") % 7).cast("int")
        ).otherwise(F.col("n_tok")),
    )
    return stats.robust_outliers(planted, id_col="rn")


def oracle_seq_ntok_outliers() -> str:
    return SEQ_CTE + """
, planted AS (
  SELECT rn, source,
    CASE WHEN rn % 131 = 19 THEN CAST(50000 + rn % 7 AS INTEGER)
         ELSE n_tok END AS n_tok
  FROM seq WHERE source IS NOT NULL
), h AS (
  SELECT source, n_tok, count(*) AS c FROM planted
  WHERE n_tok IS NOT NULL GROUP BY source, n_tok
), cumed AS (
  SELECT source, n_tok, sum(c) OVER (
      PARTITION BY source ORDER BY n_tok
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY source) AS n_s
  FROM h
), fences AS (
  SELECT source,
    min(CASE WHEN cum >= ceil(n_s * 0.25) THEN n_tok END) AS q1,
    min(CASE WHEN cum >= ceil(n_s * 0.75) THEN n_tok END) AS q3
  FROM cumed GROUP BY source
)
SELECT rn, p.source, p.n_tok, q1, q3,
  q1 - 3.0 * (q3 - q1) AS lo, q3 + 3.0 * (q3 - q1) AS hi
FROM planted p JOIN fences f ON p.source = f.source
WHERE p.n_tok IS NOT NULL
  AND (p.n_tok < q1 - 3.0 * (q3 - q1) OR p.n_tok > q3 + 3.0 * (q3 - q1))
"""


def q_seq_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-overlap pairs via winnowed fingerprints
    (dedup.winnow_fingerprints + winnow_overlap_pairs, k=8, w=8):
    planted rule rn % 499 = 23 overwrites the first min(64, sz)
    positions with one SHARED phrase ((x*37+11) % 50257 — identical
    across planted docs), so every planted pair shares the phrase's
    winnowed fingerprints while the rest of each document stays the
    per-rn generator stream; clean docs have no >= w+k-1 common run.
    The oracle recomputes the IDENTICAL mod-P polynomial hashes in
    plain 64-bit integer SQL (every product < 2^62 — exact), replays
    the winnow minimum as a window min, and re-joins pairs — certifying
    hash arithmetic, winnow selection, dedup, df-cap, and threshold."""
    from corpusops.textops import dedup

    seq = derive_sequences(spark, sf_dir)
    sz = F.size("tokens")
    phrase = F.transform(
        F.sequence(F.lit(1), sz),
        lambda x: F.when(x <= 64, (x * 37 + 11) % 50257)
        .otherwise((x * 31 + F.col("rn")) % 50257)
        .cast("int"),
    )
    planted = seq.withColumn(
        "tokens",
        F.when(
            (F.col("rn") % 499 == 23) & F.col("tokens").isNotNull() & (sz > 0),
            phrase,
        ).otherwise(F.col("tokens")),
    )
    fps = dedup.winnow_fingerprints(planted, id_col="rn", k=8, w=8)
    return dedup.winnow_overlap_pairs(fps, id_col="rn", min_shared=3, max_fp_df=1000)


def oracle_seq_winnow_pairs() -> str:
    """Independent DuckDB re-derivation: per-position values via
    generate_series + the planting CASE, the same k-term polynomial
    mod-P hash in BIGINT arithmetic, winnow via a window min, pairs
    via the fingerprint self-join with the same df cap and threshold."""
    p = (1 << 31) - 1
    b = 1000003
    pw = [1]
    for _ in range(7):
        pw.append(pw[-1] * b % p)
    pw = pw[::-1]
    hexpr = " + ".join(f"toks[CAST(x + {j} AS INTEGER)] * {pw[j]}" for j in range(8))
    return SEQ_CTE + f"""
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE sz IS NOT NULL AND sz >= 15
), tok AS (
  SELECT rn, sz, x,
    CASE WHEN rn % 499 = 23 AND x <= 64 THEN (x * 37 + 11) % 50257
         ELSE (x * 31 + rn) % 50257 END AS v
  FROM pos
), arrs AS (
  SELECT rn, max(sz) AS sz, list(v ORDER BY x) AS toks FROM tok GROUP BY rn
), h AS (
  SELECT rn, x, ({hexpr}) % {p} AS hv
  FROM arrs, LATERAL (
    SELECT unnest(generate_series(1, CAST(sz - 7 AS BIGINT))) AS x
  ) g
), wmin AS (
  SELECT rn, x,
    min(hv) OVER (PARTITION BY rn ORDER BY x
                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp,
    max(x) OVER (PARTITION BY rn) AS mx
  FROM h
), fps AS (
  SELECT DISTINCT rn, fp FROM wmin WHERE x <= mx - 7
), kept AS (
  SELECT rn, fp FROM fps
  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000)
)
SELECT a.rn AS id_a, b.rn AS id_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.rn < b.rn
GROUP BY 1, 2 HAVING count(*) >= 3
"""


def q_seq_token_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary surgery (textqc.remap_tokens): ids with old % 7 = 2
    renumber to (old*11 + 5) % 50257, everything else becomes UNK=3 —
    a strict tokenizer swap. The result is certified byte-exactly: the
    oracle re-simulates per-position values, applies the SAME remap
    CASE, and compares the md5 of each rewritten array (the
    seq_pack_tokens idiom). Empty arrays survive as md5('')."""
    from corpusops.textops import textqc

    seq = derive_sequences(spark, sf_dir)
    remap = (
        spark.range(0, 50257)
        .where(F.col("id") % 7 == 2)
        .select(
            F.col("id").cast("int").alias("old_id"),
            ((F.col("id") * 11 + 5) % 50257).cast("int").alias("new_id"),
        )
    )
    out = textqc.remap_tokens(seq, remap, id_col="rn", unk_id=3)
    joined = F.array_join(F.transform("tokens", lambda t: t.cast("string")), " ")
    return out.select("rn", "n_tok", F.md5(joined).alias("tokens_md5"))


def oracle_seq_token_remap() -> str:
    return SEQ_CTE + """
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE sz IS NOT NULL AND sz >= 1
), toks AS (
  SELECT rn, x, (x * 31 + rn) % 50257 AS v FROM pos
), mapped AS (
  SELECT rn, x,
    CASE WHEN v % 7 = 2 THEN (v * 11 + 5) % 50257 ELSE 3 END AS m
  FROM toks
), agg AS (
  SELECT rn, CAST(count(*) AS INTEGER) AS n_tok,
    md5(string_agg(CAST(m AS VARCHAR), ' ' ORDER BY x)) AS tokens_md5
  FROM mapped GROUP BY rn
)
SELECT rn, n_tok, tokens_md5 FROM agg
UNION ALL
SELECT rn, 0 AS n_tok, md5('') AS tokens_md5 FROM seq WHERE sz = 0
"""


def q_seq_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (pack.window_chunks, size=128 stride=96
    — 32-token overlap, tails kept): every chunk is certified
    byte-exactly via the md5 of its token string; the oracle re-derives
    window starts with generate_series and rebuilds each window from
    re-simulated per-position values."""
    from corpusops.textops import pack

    seq = derive_sequences(spark, sf_dir)
    out = pack.window_chunks(seq, size=128, stride=96, id_col="rn")
    joined = F.array_join(F.transform("chunk", lambda t: t.cast("string")), " ")
    return out.select(
        "rn", "chunk_id", "start", "chunk_len", F.md5(joined).alias("chunk_md5")
    )


def oracle_seq_window_chunks() -> str:
    return SEQ_CTE + """
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE sz IS NOT NULL AND sz >= 1
), toks AS (
  SELECT rn, sz, x, (x * 31 + rn) % 50257 AS v FROM pos
), starts AS (
  SELECT rn, max(sz) AS sz, unnest(generate_series(0, (max(sz) - 1) // 96)) AS c
  FROM toks GROUP BY rn
), win AS (
  SELECT s.rn, s.c AS chunk_id, s.c * 96 AS start,
    least(128, s.sz - s.c * 96) AS chunk_len,
    md5(string_agg(CAST(t.v AS VARCHAR), ' ' ORDER BY t.x)) AS chunk_md5
  FROM starts s JOIN toks t
    ON t.rn = s.rn AND t.x > s.c * 96 AND t.x <= s.c * 96 + 128
  GROUP BY 1, 2, 3, 4
)
SELECT rn, CAST(chunk_id AS INTEGER) AS chunk_id,
  CAST(start AS INTEGER) AS start, CAST(chunk_len AS INTEGER) AS chunk_len,
  chunk_md5
FROM win
"""


def q_seq_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning plan (textqc.vocab_prune_plan, keep_v=1000,
    one reserved UNK slot): the top-1000 corpus token ids renumbered
    densely by (freq DESC, old_id ASC). The oracle recounts frequencies
    from re-simulated per-position values and re-ranks with QUALIFY."""
    from corpusops.textops import textqc

    seq = derive_sequences(spark, sf_dir)
    return textqc.vocab_prune_plan(seq, keep_v=1000)


def oracle_seq_vocab_prune() -> str:
    return SEQ_CTE + """
, pos AS (
  SELECT rn, sz, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
  FROM seq WHERE sz IS NOT NULL AND sz >= 1
), toks AS (
  SELECT CAST((x * 31 + rn) % 50257 AS INTEGER) AS old_id FROM pos
), freqs AS (
  SELECT old_id, count(*) AS freq FROM toks GROUP BY old_id
), top AS (
  SELECT old_id, freq,
    row_number() OVER (ORDER BY freq DESC, old_id ASC) - 1 + 1 AS new_id
  FROM freqs
  QUALIFY row_number() OVER (ORDER BY freq DESC, old_id ASC) <= 1000
)
SELECT old_id, CAST(new_id AS INTEGER) AS new_id, CAST(freq AS BIGINT) AS freq
FROM top
"""
