"""Oracle harness of the corpusops sequence operators: (spark, sf_dir)
queries + DuckDB SQL, registered in corpusops/surface.py.

tests/test_entry.py runs each query in Spark AND its ANSI-SQL twin in
DuckDB over the same parquet, comparing row counts, schemas and
order-insensitive value hashes. To make the operators oracle-checkable
on a real tokens array column, this module derives a
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

# ---------------------------------------------------------------------------
# queries (engine side) + oracle SQL, in registration order
# ---------------------------------------------------------------------------


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


def q_seq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift gate (checks.psi_from_histograms,
    warn=0.05 / fail=0.5): baseline = web's histogram applied to every
    source except code (withheld -> UNKNOWN). books is planted with a
    +512 n_tok shift, pushing its whole histogram 8 buckets off the
    baseline support — every bucket pair degenerates to the eps clamp,
    PSI explodes, hard FAIL. At sf0.01 spam9's real off-shape lands in
    [0.05, 0.5) -> WARN, wiki tracks web -> PASS — all four statuses
    from one plant. The gate grades on the 6-decimal-rounded statistic,
    so Spark and DuckDB verdicts agree exactly at any scale."""
    from corpusops import checks
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
    return checks.psi_from_histograms(hist, base, psi_warn=0.05, psi_fail=0.5)


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
    """Robust length-outlier gate (checks.robust_outliers): planted rule
    rn % 131 = 19 inflates n_tok to 50000 + rn % 7 — far outside the
    Tukey fence of the near-uniform 1..997 base (q3 + 3·IQR ≈ 2200) —
    while every natural row stays inside. The oracle re-derives the
    discrete quantiles, fences and membership with its own window
    cumulative walk."""
    from corpusops import checks

    seq = derive_sequences(spark, sf_dir)
    planted = seq.withColumn(
        "n_tok",
        F.when(
            F.col("rn") % 131 == 19, (F.lit(50000) + F.col("rn") % 7).cast("int")
        ).otherwise(F.col("n_tok")),
    )
    return checks.robust_outliers(planted, id_col="rn")


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
