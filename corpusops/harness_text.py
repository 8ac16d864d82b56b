"""Oracle harness part 2: dedup / similarity / text-QC / TPC-H-shaped
checks over the driver's documents, embeddings, events, lineitem, orders
tables — each Spark query an engine operator, each oracle pure DuckDB SQL.

Near-dup fixtures are derived in closed form from `documents`: a corpus =
documents ∪ mutated copies (doc_id+100000, text + 3 extra words, every
20th doc) ∪ exact copies (doc_id+200000, every 25th doc) — expressible in
both engines, so dedup results are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from corpusops.harness import load
from corpusops.textops import dedup, simsearch, textqc

# ---------------------------------------------------------------------------
# derived dedup corpus
# ---------------------------------------------------------------------------
def derive_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" pad pad pad")).alias("text"),
    )
    exact = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact)


CORPUS_CTE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' pad pad pad' AS text
  FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
)
"""

# DuckDB word-3-gram shingles, identical to dedup._shingles
_SHINGLE_CTE = (
    ", sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "  range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),"
    "  i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))) AS s"
    "  FROM corpus)"
)


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------
def q_doc_exact_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(derive_corpus(spark, sf_dir))


def oracle_doc_exact_dup() -> str:
    return CORPUS_CTE + (
        "SELECT md5(text) AS text_hash, count(*) AS cnt FROM corpus "
        "GROUP BY md5(text) HAVING count(*) > 1"
    )


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df cap engaged (hot-shingle guard) but a no-op at this corpus size,
    # so the exact oracle still matches bit-for-bit
    return dedup.ngram_jaccard_pairs(
        derive_corpus(spark, sf_dir), threshold=0.6, max_shingle_df=10000
    )


def oracle_doc_ngram_jaccard() -> str:
    return CORPUS_CTE + _SHINGLE_CTE + (
        ", sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT id_a, id_b, round(CAST(i AS DOUBLE)/(sa.sz + sb.sz - i), 6) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) >= 0.6"
    )


def q_embed_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_pairs(load(spark, sf_dir, "embeddings"), threshold=0.45)


def oracle_embed_cosine_pairs() -> str:
    cos = (
        "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
    )
    return (
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cosine "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        f"WHERE {cos} >= 0.45"
    )


def derive_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector corpus with planted near-dups: embeddings ∪ perturbed copies
    (vec_id+10000, first coordinate +0.05, every 10th vector) — closed
    form in both engines, cosine(original, copy) ≈ 0.995+."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.05)).cast("float")),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    return emb.unionByName(pert)


_VECS_CTE = """
WITH vecs AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         list_concat([CAST(embedding[1] + 0.05 AS REAL)], embedding[2:64]) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
)
"""


def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (multi-table hyperplane LSH) near-dup pairs at the
    threshold the operator is built for — candidates from sign-signature
    buckets, cosine verified exactly in-bucket. The oracle is the
    brute-force all-pairs join, so a green row certifies LSH recall."""
    return dedup.embedding_near_pairs(
        derive_vecs(spark, sf_dir), threshold=0.95, mode="lsh",
        n_planes=12, n_tables=8,
    )


def oracle_embed_neardup_lsh() -> str:
    cos = (
        "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
    )
    return _VECS_CTE + (
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cosine "
        "FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id "
        f"WHERE {cos} >= 0.95"
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simsearch.brute_force_topk(load(spark, sf_dir, "embeddings"), query_id=0, k=10)


def oracle_ann_topk() -> str:
    cos = (
        "list_cosine_similarity(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(q.embedding, x -> CAST(x AS DOUBLE)))"
    )
    return (
        "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), "
        f"scored AS (SELECT e.vec_id, {cos} AS cos FROM embeddings e, q WHERE e.vec_id <> 0) "
        "SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INTEGER) AS rank, vec_id "
        "FROM scored ORDER BY cos DESC, vec_id LIMIT 10"
    )


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: top-5 neighbours for 3 query vectors in one pass
    (broadcast query set, per-query ranking window)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return simsearch.batch_topk(emb, qs, k=5)


def oracle_ann_batch_topk() -> str:
    cos = (
        "list_cosine_similarity(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(q.qvec, x -> CAST(x AS DOUBLE)))"
    )
    return (
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3), "
        f"scored AS (SELECT q.query_id, e.vec_id, {cos} AS cos "
        "  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id) "
        "SELECT query_id, CAST(row_number() OVER "
        "  (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank, "
        "  vec_id, round(cos, 6) AS cos "
        "FROM scored QUALIFY rank <= 5"
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation (simsearch.topk_recall): ground truth =
    exact top-5 over the full corpus; candidates = exact top-5 over the
    even-vec_id half (a deterministic stand-in for any candidate-
    restricting index — IVF probe set, LSH bucket union). Per-query
    recall@5 is then a pure set-coverage measure, integer-exact in both
    engines; queries whose true neighbours are mostly odd ids score
    low, so the metric carries real variance."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    truth = simsearch.batch_topk(emb, qs, k=5)
    cand = simsearch.batch_topk(
        emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0), qs, k=5
    )
    return simsearch.topk_recall(cand, truth, k=5)


def oracle_ann_recall() -> str:
    cos = (
        "list_cosine_similarity(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(q.qvec, x -> CAST(x AS DOUBLE)))"
    )
    return (
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8), "
        f"st AS (SELECT query_id, vec_id FROM (SELECT q.query_id, e.vec_id, {cos} AS cos, "
        "    row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"      {cos} DESC, e.vec_id) AS rnk "
        "  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id) z WHERE rnk <= 5), "
        f"sc AS (SELECT query_id, vec_id FROM (SELECT q.query_id, e.vec_id, {cos} AS cos, "
        "    row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"      {cos} DESC, e.vec_id) AS rnk "
        "  FROM embeddings e CROSS JOIN q "
        "  WHERE e.vec_id <> q.query_id AND e.vec_id % 2 = 0) z WHERE rnk <= 5), "
        "tot AS (SELECT query_id, count(*) AS n_truth FROM st GROUP BY 1), "
        "hit AS (SELECT st.query_id, count(*) AS n_hit "
        "  FROM st JOIN sc ON st.query_id = sc.query_id AND st.vec_id = sc.vec_id "
        "  GROUP BY 1) "
        "SELECT t.query_id, CAST(n_truth AS BIGINT) AS n_truth, "
        "  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit, "
        "  CAST(coalesce(n_hit, 0) AS BIGINT) * 1000000 // n_truth AS recall_ppm "
        "FROM tot t LEFT JOIN hit h ON t.query_id = h.query_id"
    )


# ---------------------------------------------------------------------------
# text QC
# ---------------------------------------------------------------------------
def q_doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.token_count(load(spark, sf_dir, "documents"))


def oracle_doc_token_count() -> str:
    return (
        "SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words, "
        "CAST(list_aggregate(list_transform(string_split_regex(trim(text), '\\s+'), "
        "  x -> CAST(ceil(length(x) / 4.0) AS BIGINT)), 'sum') AS BIGINT) AS n_tokens_est "
        "FROM documents"
    )


def _stoplist_sql(stops: list[str]) -> str:
    return ", ".join(f"'{s}'" for s in stops)


def q_doc_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher hard-filter rule bundle (textqc.gopher_rules): seven
    named boolean rules + keep, all in-row over one scan. Booleans
    only — no float columns — so the oracle comparison is exact by
    construction; the oracle re-derives every rule from the same
    word/line splits."""
    return textqc.gopher_rules(load(spark, sf_dir, "documents"))


def oracle_doc_gopher() -> str:
    stops = " + ".join(
        f"CAST(list_contains(lw, '{s}') AS INTEGER)"
        for s in textqc.GOPHER_STOPWORDS
    )
    return (
        "WITH f AS (SELECT doc_id, text, "
        "  string_split_regex(trim(text), '\\s+') AS w, "
        "  string_split(text, chr(10)) AS lines, "
        "  string_split_regex(lower(text), '\\s+') AS lw "
        "  FROM documents), "
        "g AS (SELECT doc_id, len(w) AS n_words, "
        "  CAST(len(w) AS DOUBLE) AS nwd, "
        "  CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) AS wlen_sum, "
        "  CAST(len(regexp_extract_all(text, '#')) "
        "     + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) AS sym, "
        "  CAST(len(list_filter(lines, l -> starts_with(l, '- ') "
        "     OR starts_with(l, '* ') OR starts_with(l, '•'))) AS DOUBLE) AS bullet, "
        "  CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS DOUBLE) AS ell, "
        "  CAST(len(lines) AS DOUBLE) AS n_lines, "
        "  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS alpha, "
        f"  ({stops}) AS n_stop "
        "  FROM f) "
        "SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, "
        "  coalesce(n_words >= 50 AND n_words <= 100000, FALSE) AS rule_word_count, "
        "  coalesce(wlen_sum / nwd >= 3.0 AND wlen_sum / nwd <= 10.0, FALSE) AS rule_mean_word_len, "
        "  coalesce(sym / nwd <= 0.1, FALSE) AS rule_symbol_ratio, "
        "  coalesce(bullet / n_lines <= 0.9, FALSE) AS rule_bullet_lines, "
        "  coalesce(ell / n_lines <= 0.3, FALSE) AS rule_ellipsis_lines, "
        "  coalesce(alpha / nwd >= 0.8, FALSE) AS rule_alpha_words, "
        "  coalesce(n_stop >= 2, FALSE) AS rule_stop_words, "
        "  coalesce(n_words >= 50 AND n_words <= 100000, FALSE) "
        "  AND coalesce(wlen_sum / nwd >= 3.0 AND wlen_sum / nwd <= 10.0, FALSE) "
        "  AND coalesce(sym / nwd <= 0.1, FALSE) "
        "  AND coalesce(bullet / n_lines <= 0.9, FALSE) "
        "  AND coalesce(ell / n_lines <= 0.3, FALSE) "
        "  AND coalesce(alpha / nwd >= 0.8, FALSE) "
        "  AND coalesce(n_stop >= 2, FALSE) AS keep "
        "FROM g"
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.quality_score(load(spark, sf_dir, "documents"))


def oracle_doc_quality() -> str:
    return _quality_sql("documents")


def _quality_sql(src: str) -> str:
    """quality_score's DuckDB twin over any (doc_id, text) relation
    `src` — shared by oracle_doc_quality and the cluster-representative
    oracle (which scores the derived corpus, not documents)."""
    all_stop = sorted({s for v in textqc.LANG_STOPWORDS.values() for s in v})
    return (
        "WITH f AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w, "
        f"  CAST(length(text) AS DOUBLE) AS n_chars FROM {src}), "
        "g AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS n_words, n_chars, "
        f"  CAST(len(list_filter(w, x -> x IN ({_stoplist_sql(all_stop)}))) AS DOUBLE) AS n_stop, "
        "  CAST(len(list_distinct(w)) AS DOUBLE) AS n_distinct FROM f) "
        "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
        "round((n_chars - (n_words - 1)) / n_words, 6) AS mean_word_len, "
        "round(n_stop / n_words, 6) AS stop_ratio, "
        "round(n_distinct / n_words, 6) AS distinct_ratio, "
        "round(0.3 * (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 ELSE 0.0 END) "
        "    + 0.2 * (CASE WHEN (n_chars - (n_words - 1)) / n_words >= 2.5 "
        "            AND (n_chars - (n_words - 1)) / n_words <= 12.0 THEN 1.0 ELSE 0.0 END) "
        "    + 0.2 * least(n_stop / n_words * 5, 1.0) "
        "    + 0.3 * least(n_distinct / n_words * 2, 1.0), 6) AS quality_score "
        "FROM g"
    )


def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.lang_id(load(spark, sf_dir, "documents"))


def oracle_doc_langid() -> str:
    hits = {
        lang: f"len(list_filter(w, x -> x IN ({_stoplist_sql(stops)})))"
        for lang, stops in textqc.LANG_STOPWORDS.items()
    }
    gmax = "greatest(" + ", ".join(f"h_{g}" for g in textqc.LANG_ORDER) + ")"
    case = " ".join(f"WHEN h_{g} = {gmax} THEN '{g}'" for g in textqc.LANG_ORDER)
    sel = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return (
        "WITH f AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents), "
        f"g AS (SELECT doc_id, {sel} FROM f) "
        f"SELECT doc_id, CASE WHEN {gmax} = 0 THEN 'und' {case} END AS lang_pred FROM g"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.fingerprint(load(spark, sf_dir, "documents")).select(
        "doc_id", "md5_fingerprint"
    )


def oracle_doc_fingerprint() -> str:
    return (
        "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
        "AS md5_fingerprint FROM documents"
    )


# ---------------------------------------------------------------------------
# QC gates applied to the TPC-H-ish tables (the engine generalizes past
# the sequences schema: same check operators, different table)
# ---------------------------------------------------------------------------
def q_events_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_value"),
        F.sum(F.col("props").isNull().cast("long")).alias("null_props"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_user"),
    )


def oracle_events_completeness() -> str:
    return (
        "SELECT event_type, count(*) AS n_rows, "
        "CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value, "
        "CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props, "
        "CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user "
        "FROM events GROUP BY event_type"
    )


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value histogram per event_type + json-extracted props.k stats."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.floor(F.col("value") / 50).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        )
    )


def oracle_events_histogram() -> str:
    return (
        "SELECT event_type, CAST(floor(value / 50) AS INTEGER) AS bucket, count(*) AS cnt, "
        "CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k "
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2"
    )


def q_lineitem_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key uniqueness gate on (l_orderkey, l_linenumber)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
    )


def oracle_lineitem_uniqueness() -> str:
    return (
        "SELECT l_orderkey, l_linenumber, count(*) AS cnt FROM lineitem "
        "GROUP BY 1, 2 HAVING count(*) > 1"
    )


def q_lineitem_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast left-anti referential gate: lineitem → supplier, orders
    (counts per returnflag; empty when clean — also a valid oracle match)."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("l_suppkey"))
    orphans = li.join(F.broadcast(supp), on="l_suppkey", how="left_anti")
    return orphans.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_orphans"))


def oracle_lineitem_referential() -> str:
    return (
        "SELECT l_returnflag, count(*) AS n_orphans FROM lineitem "
        "WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier) "
        "GROUP BY l_returnflag"
    )


def q_lineitem_structural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-domain structural gate per returnflag/linestatus."""
    li = load(spark, sf_dir, "lineitem")
    bad_disc = (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bad_disc.cast("long")).alias("bad_discount"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bad_quantity"),
        F.sum((F.col("l_extendedprice") < 0).cast("long")).alias("bad_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


def oracle_lineitem_structural() -> str:
    return (
        "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, "
        "CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount, "
        "CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_quantity, "
        "CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem GROUP BY 1, 2"
    )


def q_customer_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format gate on customer names (reference URL-regex analogue)."""
    c = load(spark, sf_dir, "customer")
    ok = F.col("c_name").rlike(r"^Customer#\d{9}$")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~ok).cast("long")).alias("bad_name"),
    )


def oracle_customer_format() -> str:
    return (
        "SELECT c_mktsegment, count(*) AS n_rows, "
        "CAST(sum(CASE WHEN NOT regexp_matches(c_name, '^Customer#[0-9]{9}$') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS bad_name FROM customer GROUP BY c_mktsegment"
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (relops.funnel_counts) view -> click ->
    purchase over the events stream: each stage anchors at the user's
    earliest qualifying event strictly after the previous anchor.
    Counts are integer-exact; conv_ppm uses integer DIV. Restricted to
    each user's FIRST 8 events (row_number over (ts, event_id)) so the
    funnel has real drop-off — with the full ~70-event histories every
    ordering exists for every user and all conversions read 100%. The
    oracle replays the rank filter and the three chained
    min-after-anchor aggregations."""
    from corpusops import relops

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev8 = ev.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") <= 8)
    return relops.funnel_counts(ev8, steps=("view", "click", "purchase"))


def oracle_events_funnel() -> str:
    return (
        "WITH ev8 AS (SELECT * FROM (SELECT user_id, ts, event_type, "
        "    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk "
        "  FROM events) z WHERE rk <= 8), "
        "s1 AS (SELECT user_id, min(epoch(ts)) AS t FROM ev8 "
        "  WHERE event_type = 'view' GROUP BY 1), "
        "s2 AS (SELECT e.user_id, min(epoch(e.ts)) AS t FROM ev8 e "
        "  JOIN s1 ON e.user_id = s1.user_id AND epoch(e.ts) > s1.t "
        "  WHERE e.event_type = 'click' GROUP BY 1), "
        "s3 AS (SELECT e.user_id, min(epoch(e.ts)) AS t FROM ev8 e "
        "  JOIN s2 ON e.user_id = s2.user_id AND epoch(e.ts) > s2.t "
        "  WHERE e.event_type = 'purchase' GROUP BY 1), "
        "c AS ("
        "  SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1 "
        "  UNION ALL SELECT 2, 'click', count(*) FROM s2 "
        "  UNION ALL SELECT 3, 'purchase', count(*) FROM s3) "
        "SELECT CAST(step AS INTEGER) AS step, event_type, n_users, "
        "  CASE WHEN lag(n_users) OVER (ORDER BY step) > 0 "
        "    THEN n_users * 1000000 // lag(n_users) OVER (ORDER BY step) END AS conv_ppm "
        "FROM c"
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on >30-min gaps (window
    lag + running sum of gap flags — the classic batch formulation;
    `session_window` covers the streaming case). Output: per user,
    number of sessions and events."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")  # TIMESTAMP_NTZ: no direct long cast in ANSI
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def oracle_events_sessions() -> str:
    return (
        "WITH g AS (SELECT user_id, event_id, ts, "
        "  epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap "
        "  FROM events), "
        "s AS (SELECT user_id, event_id, "
        "  sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) "
        "    OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id "
        "  FROM g) "
        "SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, "
        "count(*) AS n_events FROM s GROUP BY user_id"
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event gains the latest prior snapshot value for
    its user (snapshots = every 7th event, aggregated to one row per
    (user, ts)). Oracle = DuckDB's native ASOF JOIN, so the union+window
    formulation is verified against an independent implementation."""
    from corpusops import relops

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    snaps = (
        ev.where((F.col("event_id") % 7 == 0) & F.col("value").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap_value"))
    )
    out = relops.asof_join(ev, snaps, on="user_id", left_ts="ts", right_ts="ts")
    return out.select("event_id", "user_id", "value", F.round("snap_value", 6).alias("snap_value"))


def q_seq_e2e_train_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data plan in one oracle-checked composition:
    row-level QC gates (completeness + structural + format +
    referential) → exact dedup (first occurrence per doc_id, no window:
    min-rn semi-join) → token-budget mixture sampling → packing
    assignment (distributed prefix sum). The DuckDB twin rebuilds every
    stage closed-form, so a green row certifies the COMPOSITION — the
    whole validate→mix→pack path a training pipeline runs — not just
    each operator in isolation."""
    from corpusops.harness import derive_sequences
    from corpusops.textops import pack

    seq = derive_sequences(spark, sf_dir)
    clean = seq.where(
        F.col("doc_id").isNotNull()
        & F.col("tokens").isNotNull()
        & (F.size("tokens") > 0)
        & F.col("n_tok").isNotNull()
        & (F.col("n_tok") == F.size("tokens"))
        & F.col("doc_id").rlike("^doc-[0-9]{8}$")
        & F.col("source").isin("web", "books", "code", "wiki")
    ).select("rn", "doc_id", "source", "n_tok")
    first = clean.groupBy("doc_id").agg(F.min("rn").alias("rn"))
    deduped = clean.join(first, ["doc_id", "rn"], "left_semi")
    plan = textqc.mixture_plan(deduped, _MIX_BUDGET, _MIX_WEIGHTS)
    sampled = textqc.mixture_sample(deduped, plan, id_col="rn").select(
        "rn", "source", "n_tok"
    )
    packed = pack.pack_assignment(sampled, cap=_PACK_CAP, order_cols=("rn",))
    return packed.select("rn", "source", "n_tok", "offset", "pack_id", "pack_pos")


def oracle_seq_e2e_train_plan() -> str:
    from corpusops.harness import SEQ_CTE

    sw = sum(_MIX_WEIGHTS.values())
    targets = ", ".join(
        f"('{s}', {_MIX_BUDGET * w // sw})" for s, w in _MIX_WEIGHTS.items()
    )
    c = _PACK_CAP
    return SEQ_CTE + f"""
, clean AS (
  SELECT rn, doc_id, source, n_tok FROM seq
  WHERE doc_id IS NOT NULL AND sz IS NOT NULL AND sz > 0
    AND n_tok IS NOT NULL AND n_tok = sz
    AND regexp_matches(doc_id, '^doc-[0-9]{{8}}$')
    AND source IN ('web','books','code','wiki')),
 ded AS (
  SELECT rn, source, n_tok FROM clean
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY rn) = 1),
 tot AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tok FROM ded GROUP BY 1),
 plan AS (
  SELECT source, least(1000000, (CAST(target_tok AS BIGINT) * 1000000) // total_tok) AS rate_ppm
  FROM tot JOIN (VALUES {targets}) AS w(source, target_tok) USING (source)),
 samp AS (
  SELECT rn, source, n_tok FROM ded JOIN plan USING (source)
  WHERE CAST(('0x' || substr(md5('mix-v1' || CAST(rn AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < rate_ppm),
 off AS (
  SELECT rn, source, n_tok,
    CAST(coalesce(sum(n_tok) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM samp)
SELECT rn, source, n_tok, "offset", "offset" // {c} AS pack_id, "offset" % {c} AS pack_pos
FROM off
"""


def q_events_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key-safe as-of formulation (window per (key, time
    bucket) + bucket-granularity carry) — must produce the identical
    result as the plain union+window against DuckDB's native ASOF."""
    from corpusops import relops

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    snaps = (
        ev.where((F.col("event_id") % 7 == 0) & F.col("value").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap_value"))
    )
    out = relops.asof_join_bucketed(
        ev, snaps, on="user_id", left_ts="ts", right_ts="ts", bucket_seconds=6 * 3600
    )
    return out.select("event_id", "user_id", "value", F.round("snap_value", 6).alias("snap_value"))


def oracle_events_asof() -> str:
    return (
        "WITH snaps AS (SELECT user_id, ts, max(value) AS snap_value FROM events "
        "  WHERE event_id % 7 = 0 AND value IS NOT NULL GROUP BY user_id, ts) "
        "SELECT e.event_id, e.user_id, e.value, round(s.snap_value, 6) AS snap_value "
        "FROM events e ASOF LEFT JOIN snaps s "
        "ON e.user_id = s.user_id AND e.ts >= s.ts"
    )


def q_lineitem_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: orders priced within derived [lo, hi) bands
    (quadratic theta-join avoided via bucket equi-join + exact filter)."""
    from corpusops import relops

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 1000).cast("long").alias("v")
    )
    bands = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("band_id"),
        ((F.col("s_suppkey") * 97) % 900).cast("long").alias("lo"),
        (((F.col("s_suppkey") * 97) % 900) + 20 + F.col("s_suppkey") % 80).cast("long").alias("hi"),
    )
    joined = relops.range_bucket_join(orders, bands, value_col="v")
    return joined.groupBy("band_id").agg(F.count(F.lit(1)).alias("n_in_band"))


def oracle_lineitem_range_join() -> str:
    return (
        "WITH o AS (SELECT o_orderkey, CAST(o_orderkey % 1000 AS BIGINT) AS v FROM orders), "
        "bands AS (SELECT s_suppkey AS band_id, "
        "  CAST((s_suppkey * 97) % 900 AS BIGINT) AS lo, "
        "  CAST((s_suppkey * 97) % 900 + 20 + s_suppkey % 80 AS BIGINT) AS hi FROM supplier) "
        "SELECT band_id, count(*) AS n_in_band FROM o JOIN bands "
        "ON o.v BETWEEN bands.lo AND bands.hi GROUP BY band_id"
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (minute→hour→day): coarser levels
    re-aggregate the finer level's partials; the oracle computes EVERY
    level directly from raw rows, so the re-aggregation (mergeability)
    is what's being verified."""
    from corpusops import relops

    return relops.time_rollup(load(spark, sf_dir, "events"))


def oracle_events_rollup() -> str:
    lvl = (
        "SELECT '{lv}' AS level, event_type, "
        "CAST(epoch(date_trunc('{lv}', ts)) AS BIGINT) AS bucket_start, "
        "count(*) AS n_rows, round(sum(value), 6) AS sum_value, "
        "min(value) AS min_value, max(value) AS max_value "
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3"
    )
    return " UNION ALL ".join(lvl.format(lv=lv) for lv in ("minute", "hour", "day"))


def q_seq_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles of n_tok per source (profile extension A7):
    continuous-interpolation percentiles, matching across engines.

    Scale contract: exact `percentile` buffers a value→count map per
    group — safe exactly when the value DOMAIN is bounded (n_tok here is
    an int in [0, 997], so the buffer is ≤998 entries regardless of row
    count). For unbounded domains (floats, raw lengths) at 100× this is
    a per-group memory hazard; use the approx twin below
    (q_seq_quantiles_approx) — a constant-memory mergeable sketch."""
    from corpusops.harness import derive_sequences

    seq = derive_sequences(spark, sf_dir)
    return (
        seq.where(F.col("source").isNotNull() & F.col("n_tok").isNotNull())
        .groupBy("source")
        .agg(
            F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(n_tok, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(n_tok, 0.99)"), 4).alias("p99"),
        )
    )


def oracle_seq_quantiles() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + (
        "SELECT source, "
        "round(quantile_cont(n_tok, 0.5), 4) AS p50, "
        "round(quantile_cont(n_tok, 0.9), 4) AS p90, "
        "round(quantile_cont(n_tok, 0.99), 4) AS p99 "
        "FROM seq WHERE source IS NOT NULL AND n_tok IS NOT NULL GROUP BY source"
    )


_APPROX_ACC = 1000  # GK-sketch accuracy: rank error <= n/acc per group


def q_seq_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile scale twin of q_seq_quantiles (VERDICT r2 #6):
    the GK sketch is the 100-TB quantile plan — constant memory per
    group, mergeable partials, rank error ≤ n/accuracy. The query
    verifies the sketch's ACTUAL guarantee per (source, p): the returned
    element v is an ε-approximate p-quantile, i.e.
    frac(x < v) ≤ p + ε  AND  frac(x ≤ v) ≥ p − ε, with
    ε = 4/accuracy + 2/n (4× the sketch's rank-error bound plus the
    discreteness slack — a returned element moves the empirical CDF in
    1/n steps, so tiny groups need the additive term). A value-bracket
    check against continuous `percentile` is WRONG for this operator:
    approx_percentile returns an actual element while percentile
    interpolates, so on small or gappy groups a correct answer can sit
    far outside the interpolated bracket. The oracle states the bound in
    closed form (all-true). The verification is 2-pass by design (sketch
    pass + rank-check pass); the production operator is the sketch pass
    alone."""
    from corpusops.harness import derive_sequences

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("source").isNotNull() & F.col("n_tok").isNotNull())
        .select("source", "n_tok")
    )
    ps = ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
    ap = seq.groupBy("source").agg(
        F.expr(
            f"approx_percentile(n_tok, array({', '.join(str(p) for p, _ in ps)}),"
            f" {_APPROX_ACC})"
        ).alias("ap")
    )
    joined = seq.join(F.broadcast(ap), "source")
    slack = F.lit(4.0 / _APPROX_ACC) + F.lit(2.0) / F.count(F.lit(1))
    aggs = []
    for i, (p, name) in enumerate(ps):
        v = F.col("ap")[i]
        frac_below = F.avg((F.col("n_tok") < v).cast("double"))
        frac_at_or_below = F.avg((F.col("n_tok") <= v).cast("double"))
        ok = (frac_below <= F.lit(p) + slack) & (frac_at_or_below >= F.lit(p) - slack)
        aggs.append(ok.alias(f"{name}_in_bound"))
    return joined.groupBy("source").agg(*aggs)


def oracle_seq_quantiles_approx() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + (
        "SELECT source, true AS p50_in_bound, true AS p90_in_bound, "
        "true AS p99_in_bound "
        "FROM seq WHERE source IS NOT NULL AND n_tok IS NOT NULL GROUP BY source"
    )


# a synthetic test-log corpus derived from documents: every 3rd doc gets
# appended outcome markers keyed on doc_id arithmetic — SQL-reproducible
_LOGS_CTE = """
WITH logs AS (
  SELECT doc_id,
    text || ' collected ' || CAST(doc_id % 7 + 3 AS VARCHAR) || ' items'
         || repeat(' PASSED', CAST(doc_id % 3 AS INTEGER))
         || repeat(' FAILED', CAST(doc_id % 2 AS INTEGER))
         || CASE WHEN doc_id % 5 = 0 THEN ' SKIPPED XPASS PASSED' ELSE '' END
      AS text
  FROM documents
)
"""


def _derive_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" collected "), (F.col("doc_id") % 7 + 3).cast("string"), F.lit(" items"),
            F.repeat(F.lit(" PASSED"), (F.col("doc_id") % 3).cast("int")),
            F.repeat(F.lit(" FAILED"), (F.col("doc_id") % 2).cast("int")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" SKIPPED XPASS PASSED")).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_outcome_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_tests.py-style outcome parsing (A1/A2) over derived logs."""
    return textqc.outcome_counts(_derive_logs(spark, sf_dir))


def oracle_outcome_counts() -> str:
    def c(word: str) -> str:
        return f"CAST(len(regexp_extract_all(text, '\\b{word}\\b')) AS BIGINT)"

    passed, failed, skipped, xfail, xpass = (
        c("PASSED"), c("FAILED"), c("SKIPPED"), c("XFAIL"), c("XPASS")
    )
    return _LOGS_CTE + (
        "SELECT doc_id, "
        + f"{passed} - {xpass} AS passed, "
        + f"{failed} - {xfail} AS failed, "
        + f"{skipped} AS skipped, "
        + f"{xfail} AS xfail, "
        + f"{xpass} AS xpass, "
        + "coalesce(CAST(nullif(regexp_extract(text, 'collected (\\d+) items', 1), '') AS BIGINT), "
        + f"  {passed} - {xpass} + {failed} - {xfail} + {skipped} + {xfail} + {xpass}) AS total "
        + "FROM logs"
    )


_CONTENT_PHRASES = {
    "query": ["query", "scan"],
    "join": ["join", "merge"],
    "stream": ["stream", "batch"],
}


def q_content_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README-content keyword flags (P8) over documents."""
    return textqc.content_flags(load(spark, sf_dir, "documents"), _CONTENT_PHRASES)


def oracle_content_flags() -> str:
    cols = []
    conds = []
    for name, phrases in _CONTENT_PHRASES.items():
        cond = " OR ".join(f"contains(lower(text), '{p.lower()}')" for p in phrases)
        cols.append(f"({cond}) AS has_{name}")
        conds.append(f"({cond})")
    return (
        "SELECT doc_id, " + ", ".join(cols) + ", (" + " AND ".join(conds) + ") AS has_all "
        "FROM documents"
    )


def q_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline (language gate → quality gate → exact
    dedup → near-dup components → split) as one audit frame; every stage
    is an engine operator and the whole composition has a SQL twin."""
    from corpusops.textops import curate

    # the derived corpus plants exact copies AND near copies, so every
    # stage (lang, quality, exact_dup, near_dup) fires in the audit
    return curate.curate(derive_corpus(spark, sf_dir))


def oracle_doc_curation() -> str:
    all_stop = sorted({s for v in textqc.LANG_STOPWORDS.values() for s in v})
    hits = ", ".join(
        f"len(list_filter(w, x -> x IN ({_stoplist_sql(stops)}))) AS h_{lang}"
        for lang, stops in textqc.LANG_STOPWORDS.items()
    )
    gmax = "greatest(" + ", ".join(f"h_{g}" for g in textqc.LANG_ORDER) + ")"
    lang_case = (
        f"CASE WHEN {gmax} = 0 THEN 'und' "
        + " ".join(f"WHEN h_{g} = {gmax} THEN '{g}'" for g in textqc.LANG_ORDER)
        + " END"
    )
    sh = (
        "list_distinct(list_transform("
        "  range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),"
        "  i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))"
    )
    b = "CAST(CAST(('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS INTEGER)"
    return CORPUS_CTE + (
        ", f AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w, "
        "  CAST(length(text) AS DOUBLE) AS n_chars FROM corpus), "
        f"g AS (SELECT doc_id, text, {hits}, "
        "  CAST(len(w) AS DOUBLE) AS n_words, n_chars, "
        f"  CAST(len(list_filter(w, x -> x IN ({_stoplist_sql(all_stop)}))) AS DOUBLE) AS n_stop, "
        "  CAST(len(list_distinct(w)) AS DOUBLE) AS n_distinct FROM f), "
        f"lq AS (SELECT doc_id, text, {lang_case} AS lang_pred, "
        "  round(0.3 * (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 ELSE 0.0 END) "
        "      + 0.2 * (CASE WHEN (n_chars - (n_words - 1)) / n_words >= 2.5 "
        "              AND (n_chars - (n_words - 1)) / n_words <= 12.0 THEN 1.0 ELSE 0.0 END) "
        "      + 0.2 * least(n_stop / n_words * 5, 1.0) "
        "      + 0.3 * least(n_distinct / n_words * 2, 1.0), 6) AS quality_score FROM g), "
        "ann AS (SELECT *, lang_pred IN ('en') AS lang_ok, quality_score >= 0.5 AS qual_ok FROM lq), "
        "ex AS (SELECT doc_id, text, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS exact_ok "
        "  FROM ann WHERE lang_ok AND qual_ok), "
        "surv AS (SELECT doc_id, text FROM ex WHERE exact_ok), "
        f"ssh AS (SELECT doc_id, unnest({sh}) AS s FROM surv), "
        "sizes AS (SELECT doc_id, count(*) AS sz FROM ssh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
        "  FROM ssh a JOIN ssh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT id_a, id_b FROM inter "
        "  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "  WHERE CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) >= 0.6), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), "
        "walk AS (WITH RECURSIVE wk(src, reach) AS ("
        "    SELECT src, src FROM edges UNION "
        "    SELECT wk.src, e.dst FROM wk JOIN edges e ON e.src = wk.reach) SELECT * FROM wk), "
        "near AS (SELECT src AS doc_id FROM walk GROUP BY src HAVING src <> min(reach)), "
        "final AS (SELECT a.doc_id, a.lang_pred, a.quality_score, "
        "  CASE WHEN NOT a.lang_ok THEN 'lang' "
        "       WHEN NOT a.qual_ok THEN 'quality' "
        "       WHEN e.exact_ok IS NOT NULL AND NOT e.exact_ok THEN 'exact_dup' "
        "       WHEN n.doc_id IS NOT NULL THEN 'near_dup' END AS drop_reason "
        "  FROM ann a LEFT JOIN ex e ON a.doc_id = e.doc_id "
        "  LEFT JOIN near n ON a.doc_id = n.doc_id) "
        "SELECT doc_id, lang_pred, quality_score, drop_reason, "
        "  drop_reason IS NULL AS kept, "
        f"  CASE WHEN drop_reason IS NULL THEN (CASE WHEN {b} < 95 THEN 'train' "
        f"       WHEN {b} < 99 THEN 'val' ELSE 'test' END) END AS split "
        "FROM final"
    )


def q_doc_curation_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale curation path (VERDICT r2 #8): the same 5-stage
    pipeline with near-dup pair generation through MinHash-LSH banding
    (use_lsh=True) instead of the exact inverted index. LSH candidates
    are still exact-Jaccard-verified, and per-pair bucket collision is
    deterministic and independent of the rest of the corpus — the
    minhash_lsh_pairs oracle row already certifies total recall on this
    corpus at threshold 0.6 — so the SAME exact-SQL twin applies: a
    green row certifies the 100-TB pair-generation plan end-to-end."""
    from corpusops.textops import curate

    return curate.curate(derive_corpus(spark, sf_dir), use_lsh=True)


def q_simhash_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form containment check for the SimHash path (VERDICT r2
    #5): the derived corpus plants byte-identical copies (doc_id+200000
    for every 25th doc) whose signatures are bit-equal, so at ANY radius
    the pair (doc_id, doc_id+200000) MUST appear in simhash_near_pairs'
    output with hamming = 0. The query inner-joins the engine's d=8 pair
    output to the planted key set; the oracle is that set in closed form
    — a missing planted pair shrinks the row count and goes red, so the
    driver now verifies SimHash recall, not just that it runs (the
    xxhash64 signatures themselves still have no SQL twin; full
    recall-vs-brute-Hamming stays unit-tested)."""
    pairs = dedup.simhash_near_pairs(derive_corpus(spark, sf_dir), max_hamming=8)
    planted = load(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 200000).alias("id_b")
    )
    return pairs.join(planted, ["id_a", "id_b"], "inner").select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def oracle_simhash_planted_recall() -> str:
    return (
        "SELECT doc_id AS id_a, doc_id + 200000 AS id_b, "
        "CAST(0 AS INTEGER) AS hamming FROM documents WHERE doc_id % 25 = 0"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (iterative min-label
    propagation) over the exact near-dup pair graph — every node labeled
    with its cluster's minimum id. Oracle = DuckDB transitive closure
    via recursive CTE, so the fixpoint itself is verified."""
    pairs = dedup.ngram_jaccard_pairs(derive_corpus(spark, sf_dir), threshold=0.6)
    return dedup.connected_components(pairs)


def oracle_dedup_clusters() -> str:
    # pair derivation identical to oracle_doc_ngram_jaccard, then
    # reachability closure: component(x) = min id reachable from x
    return CORPUS_CTE + _SHINGLE_CTE + (
        ", sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT id_a, id_b FROM inter "
        "  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "  WHERE CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) >= 0.6), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "  UNION SELECT id_b, id_a FROM pairs), "
        "walk AS (WITH RECURSIVE w(src, reach) AS ("
        "    SELECT src, src FROM edges "
        "    UNION "
        "    SELECT w.src, e.dst FROM w JOIN edges e ON e.src = w.reach) "
        "  SELECT * FROM w) "
        "SELECT src AS id, min(reach) AS component FROM walk GROUP BY src"
    )


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test assignment by md5-bucket
    of doc_id (portable across engines, stable under corpus growth)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return textqc.deterministic_split(docs).select("doc_id", "bucket", "split")


def oracle_doc_split() -> str:
    # same md5(salt || id) first-8-hex-chars mod 100 arithmetic
    b = "CAST(CAST(('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS INTEGER)"
    return (
        f"SELECT doc_id, {b} AS bucket, "
        f"CASE WHEN {b} < 95 THEN 'train' WHEN {b} < 99 THEN 'val' ELSE 'test' END AS split "
        "FROM documents"
    )


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination gate: every 50th document plays the
    held-out benchmark; training docs sharing a 3-gram shingle with it
    are flagged (broadcast benchmark shingles, one corpus scan)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return textqc.contamination_flags(docs, bench, n=3)


def oracle_doc_contamination() -> str:
    sh = (
        "list_distinct(list_transform("
        "  range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),"
        "  i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))"
    )
    return (
        f"WITH dsh AS (SELECT doc_id, unnest({sh}) AS s FROM documents), "
        f"bsh AS (SELECT DISTINCT unnest({sh}) AS s FROM documents WHERE doc_id % 50 = 0) "
        "SELECT d.doc_id, count(*) AS n_shingles, "
        "CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated, "
        "sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) >= 1 AS contaminated "
        "FROM dsh d LEFT JOIN bsh b ON d.s = b.s GROUP BY d.doc_id"
    )


def q_top_violation_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 violation examples per check (window top-k for reports)."""
    from corpusops import harness as H
    from tokenqc.checks import base as cb

    seq = H.derive_sequences(spark, sf_dir)
    df, facets = H._spark_row_facets(seq, H._allowed_sources_df(spark))
    viol = cb.assemble_violations(df, facets).where(F.col("doc_id").isNotNull())
    w = Window.partitionBy("check_name").orderBy(F.desc("doc_id"))
    return (
        viol.select("check_name", "doc_id")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("check_name", "doc_id", F.col("rk").cast("int").alias("rk"))
    )


def oracle_top_violation_examples() -> str:
    from corpusops.harness import SEQ_CTE, _FACET_SQL

    preds = {}
    for (check, _f), pred in _FACET_SQL.items():
        preds.setdefault(check, []).append(pred)
    union = " UNION ALL ".join(
        f"SELECT DISTINCT '{check}' AS check_name, doc_id FROM seq "
        + "WHERE doc_id IS NOT NULL AND (" + " OR ".join(f"({p})" for p in ps) + ")"
        for check, ps in sorted(preds.items())
    )
    return SEQ_CTE + (
        ", viol AS (" + union + ") "
        "SELECT check_name, doc_id, CAST(row_number() OVER "
        "(PARTITION BY check_name ORDER BY doc_id DESC) AS INTEGER) AS rk "
        "FROM viol QUALIFY rk <= 3"
    )


# ---------------------------------------------------------------------------
# round-3 additions: repetition filter, PII detect/scrub, sequence packing
# ---------------------------------------------------------------------------
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition stats on the derived corpus. Thresholds
    are tightened from the operator's real-world defaults (0.3/0.5) to
    values that SPLIT this word-soup corpus (top 0.053–0.25 median
    0.092; dup 0–0.138 median 0.026), so the `repetitive` verdict column
    carries real variance for the oracle instead of a constant."""
    return textqc.repetition_stats(
        derive_corpus(spark, sf_dir), top_word_threshold=0.12, dup_2gram_threshold=0.05
    )


def oracle_doc_repetition() -> str:
    # tokenizer mirrors the ENGINE's words_expr = split(trim(text), '\\s+')
    # (ADVICE r3: string_split on a single space diverges on any document
    # with consecutive whitespace — regexp_split_to_array is the twin)
    return CORPUS_CTE + """
, w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM corpus),
 wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
 top AS (SELECT doc_id, max(c) AS mc, CAST(sum(c) AS BIGINT) AS nw FROM wc GROUP BY 1),
 g AS (SELECT doc_id,
        greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 0) AS total2,
        len(list_distinct(list_transform(
            range(0, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 0)),
            i -> (regexp_split_to_array(trim(text), '\\s+'))[i+1] || ' ' || (regexp_split_to_array(trim(text), '\\s+'))[i+2]))) AS d2
      FROM corpus)
SELECT t.doc_id, t.nw AS n_words,
       round(t.mc * 1.0 / t.nw, 6) AS top_word_frac,
       round(CASE WHEN g.total2 > 0 THEN 1.0 - g.d2 * 1.0 / g.total2 ELSE 0.0 END, 6) AS dup_2gram_frac,
       (round(t.mc * 1.0 / t.nw, 6) > 0.12
        OR round(CASE WHEN g.total2 > 0 THEN 1.0 - g.d2 * 1.0 / g.total2 ELSE 0.0 END, 6) > 0.05) AS repetitive
FROM top t JOIN g USING (doc_id)
"""


# documents with deterministically planted PII (emails every 7th doc,
# IPv4 every 11th, phone numbers every 13th, SSN-alikes every 17th,
# card-alikes every 19th) — identical arithmetic in Spark and SQL so
# detection counts are oracle-checkable
_PII_CTE = """
WITH pii AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
    CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END ||
    CASE WHEN doc_id % 13 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
    CASE WHEN doc_id % 17 = 0 THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
    CASE WHEN doc_id % 19 = 0 THEN ' card 4' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    AS text
  FROM documents
)
"""


def derive_pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    email = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    ip = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1")),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(
            F.lit(" call +1-555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ssn = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(
            F.lit(" ssn "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    cc = F.when(
        F.col("doc_id") % 19 == 0,
        F.concat(
            F.lit(" card 4"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-1111-1111-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, ip, phone, ssn, cc).alias("text")
    )


def q_doc_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection counts over the planted corpus — the oracle knows
    exactly which docs carry which PII, so every count is verified."""
    return textqc.pii_flags(derive_pii_corpus(spark, sf_dir))


def oracle_doc_pii() -> str:
    # built from the SAME RE2-portable pattern constants the engine
    # compiles (textqc.PII_PATTERNS) — pattern set can't silently drift
    from corpusops.textops.textqc import PII_PATTERNS

    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS INTEGER) AS n_{n}"
        for n, p in PII_PATTERNS.items()
    )
    anyof = "\n   OR ".join(
        f"len(regexp_extract_all(text, '{p}')) > 0" for p in PII_PATTERNS.values()
    )
    return _PII_CTE + f"""
SELECT doc_id,
  {counts},
  ({anyof}) AS has_pii
FROM pii
"""


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub transform: every planted PII span replaced by its typed
    placeholder; the oracle re-derives the scrubbed text in SQL so the
    replacement (order included) is verified byte-for-byte."""
    return textqc.pii_scrub(derive_pii_corpus(spark, sf_dir))


def oracle_doc_pii_scrub() -> str:
    # same replacement ORDER as textqc.PII_PATTERNS — the chain is
    # generated from the engine's own pattern dict (order included)
    from corpusops.textops.textqc import PII_PATTERNS

    expr = "text"
    for n, p in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{p}', '[{n.upper()}]', 'g')"
    return _PII_CTE + f"\nSELECT doc_id, {expr} AS text\nFROM pii\n"


_PACK_CAP = 2048


def q_seq_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, phase 1: the distributed prefix-sum token
    offsets (two-phase scan, see tokenqc/textops/pack.py — never a
    global single-task window) + the closed-form pack assignment. The
    oracle is the definitional single-node cumulative-sum window."""
    from corpusops.harness import derive_sequences
    from corpusops.textops import pack

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("n_tok").isNotNull())
        .select("rn", "n_tok")
    )
    return pack.pack_assignment(seq, cap=_PACK_CAP, order_cols=("rn",)).select(
        "rn", "n_tok", "offset", "pack_id", "pack_pos"
    )


def oracle_seq_pack_offsets() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + f"""
, off AS (
  SELECT rn, n_tok,
    CAST(coalesce(sum(n_tok) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM seq WHERE n_tok IS NOT NULL)
SELECT rn, n_tok, "offset", "offset" // {_PACK_CAP} AS pack_id, "offset" % {_PACK_CAP} AS pack_pos
FROM off
"""


def q_seq_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, phase 2: each doc exploded into its per-pack
    (start, len) spans — the exact slices a training loader reads. The
    oracle re-derives every span from the cumulative offsets."""
    from corpusops.harness import derive_sequences
    from corpusops.textops import pack

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("n_tok").isNotNull())
        .select("rn", "n_tok")
    )
    return pack.chunk_spans(seq, cap=_PACK_CAP, order_cols=("rn",)).select(
        "rn", "pack_id", "start", "len"
    )


def oracle_seq_pack_spans() -> str:
    from corpusops.harness import SEQ_CTE

    c = _PACK_CAP
    return SEQ_CTE + f"""
, off AS (
  SELECT rn, n_tok,
    CAST(coalesce(sum(n_tok) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM seq WHERE n_tok IS NOT NULL)
SELECT rn, p AS pack_id,
  greatest("offset", p*{c}) - p*{c} AS start,
  least("offset" + n_tok, (p+1)*{c}) - greatest("offset", p*{c}) AS "len"
FROM off, LATERAL unnest(generate_series("offset" // {c}, ("offset" + n_tok - 1) // {c})) AS t(p)
WHERE n_tok > 0
"""


def q_seq_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, phase 3 (NEW r4): the MATERIALIZED packs — each
    pack's actual token array gathered from the per-doc slices (one
    pack_id hash shuffle beyond token_offsets' range shuffle; groups are
    cap-bounded so no skew is possible). The pack content is compared
    byte-exactly via md5 over the canonical comma-joined token string —
    array columns hash differently across engines' pandas bridges, a
    digest of the canonical text form does not. The oracle rebuilds
    every pack in DuckDB from the closed-form token values via LATERAL
    slices + ordered string_agg.

    n_col is size(tokens), not the (deliberately corrupted) n_tok
    column: packing runs on a validated corpus where the two agree."""
    from corpusops.harness import derive_sequences
    from corpusops.textops import pack

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("tokens").isNotNull())
        .select("rn", "tokens", F.size("tokens").cast("int").alias("nt"))
    )
    packed = pack.pack_tokens(
        seq, cap=_PACK_CAP, order_cols=("rn",), tokens_col="tokens", n_col="nt"
    )
    return packed.select(
        "pack_id",
        "n_tokens",
        F.md5(F.array_join(F.col("tokens").cast("array<string>"), ",")).alias("tokens_md5"),
    )


def oracle_seq_pack_tokens() -> str:
    from corpusops.harness import SEQ_CTE

    c = _PACK_CAP
    # token at 1-based in-doc position x of doc rn = (x*31 + rn) % 50257
    # (the SEQ_CTE determinism contract) — each pack is rebuilt from the
    # closed form, sliced laterally, ordered by in-pack position
    return SEQ_CTE + f"""
, off AS (
  SELECT rn, sz,
    CAST(coalesce(sum(sz) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
  FROM seq WHERE sz IS NOT NULL),
 spans AS (
  SELECT rn, p,
    greatest(o, p*{c}) - p*{c} AS pos,
    greatest(o, p*{c}) - o + 1 AS ds,
    least(o + sz, (p+1)*{c}) - greatest(o, p*{c}) AS ln
  FROM off, LATERAL unnest(generate_series(o // {c}, (o + sz - 1) // {c})) AS t(p)
  WHERE sz > 0),
 pieces AS (
  SELECT p AS pack_id, pos, ln,
    array_to_string(list_transform(generate_series(ds, ds + ln - 1),
                                   x -> CAST((x*31 + rn) % 50257 AS VARCHAR)), ',') AS piece
  FROM spans)
SELECT pack_id, CAST(sum(ln) AS INTEGER) AS n_tokens,
       md5(string_agg(piece, ',' ORDER BY pos)) AS tokens_md5
FROM pieces GROUP BY pack_id
"""


def q_seq_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence mean unigram log2-probability (cheap perplexity
    filter) — scored per rn (the unique row key, so planted duplicate
    doc_ids don't merge two documents' token bags). The oracle rebuilds
    the whole model from the closed-form token values."""
    from corpusops.harness import derive_sequences

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("tokens").isNotNull())
        .select("rn", "tokens")
    )
    return textqc.unigram_logprob(seq, id_col="rn")


def oracle_seq_unigram_logprob() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + """
, tk AS (
  SELECT rn, unnest(list_transform(range(1, sz + 1),
                                   x -> CAST((x*31 + rn) % 50257 AS INTEGER))) AS tok
  FROM seq WHERE sz IS NOT NULL AND sz > 0),
 c AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
 t AS (SELECT sum(c) AS t FROM c),
 m AS (SELECT tok, log2(c * 1.0 / t) AS logp FROM c, t)
SELECT rn, CAST(count(*) AS INTEGER) AS n_scored, round(avg(logp), 5) AS mean_logp
FROM tk JOIN m USING (tok) GROUP BY rn
"""


def q_seq_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence mean log2-probability under the interpolated BIGRAM
    model (textqc.bigram_logprob, lam=0.75) — the next perplexity-
    filter rung above seq_unigram_logprob. The oracle rebuilds pairs,
    both count trees, and the interpolation formula from the
    closed-form token values; identical left-associated arithmetic
    keeps engine agreement ~1e-13, far inside the 5-decimal round."""
    from corpusops.harness import derive_sequences

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("tokens").isNotNull())
        .select("rn", "tokens")
    )
    return textqc.bigram_logprob(seq, id_col="rn")


def oracle_seq_bigram_logprob() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + """
, tk AS (
  SELECT rn, x, CAST((x*31 + rn) % 50257 AS INTEGER) AS tok
  FROM (SELECT rn, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
        FROM seq WHERE sz IS NOT NULL AND sz > 0) s),
 pr AS (
  SELECT a.rn, a.tok AS prev, b.tok AS cur
  FROM tk a JOIN tk b ON a.rn = b.rn AND b.x = a.x + 1),
 dp AS (SELECT rn, prev, cur, count(*) AS n FROM pr GROUP BY 1, 2, 3),
 bg AS (SELECT prev, cur, count(*) AS cb FROM pr GROUP BY 1, 2),
 pt AS (SELECT prev, sum(cb) AS cp FROM bg GROUP BY 1),
 un AS (SELECT tok AS cur, count(*) AS cu FROM tk GROUP BY 1),
 tt AS (SELECT sum(cu) AS t FROM un),
 m AS (
  SELECT bg.prev, bg.cur,
    log2(0.75 * cb / cp + 0.25 * cu / t) AS logp
  FROM bg JOIN pt USING (prev) JOIN un USING (cur), tt)
SELECT rn, CAST(sum(n) AS INTEGER) AS n_scored,
  round(sum(n * logp) / sum(n), 5) AS mean_logp
FROM dp JOIN m USING (prev, cur) GROUP BY rn
"""


def q_seq_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI (textqc.pmi_top_pairs,
    min_count=5). Ranking runs on the 6-decimal-ROUNDED pmi with
    (prev, cur) tie-breaks, so the top-k set and order are exactly
    reproducible cross-engine; the oracle replays pair/unigram counts
    and the identical left-associated formula."""
    from corpusops.harness import derive_sequences

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("tokens").isNotNull())
        .select("rn", "tokens")
    )
    return textqc.pmi_top_pairs(seq, k=20, min_count=5)


def oracle_seq_pmi_pairs() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + """
, tk AS (
  SELECT rn, x, CAST((x*31 + rn) % 50257 AS INTEGER) AS tok
  FROM (SELECT rn, unnest(generate_series(1, CAST(sz AS BIGINT))) AS x
        FROM seq WHERE sz IS NOT NULL AND sz > 0) s),
 pr AS (
  SELECT a.tok AS prev, b.tok AS cur
  FROM tk a JOIN tk b ON a.rn = b.rn AND b.x = a.x + 1),
 bg AS (SELECT prev, cur, count(*) AS n_pair FROM pr GROUP BY 1, 2),
 un AS (SELECT tok, count(*) AS cu FROM tk GROUP BY 1),
 tb AS (SELECT sum(n_pair) AS tb FROM bg),
 tu AS (SELECT sum(cu) AS tu FROM un),
 scored AS (
  SELECT bg.prev, bg.cur, bg.n_pair,
    round(ln(CAST(bg.n_pair AS DOUBLE) / tb.tb)
        - ln(CAST(up.cu AS DOUBLE) / tu.tu)
        - ln(CAST(uc.cu AS DOUBLE) / tu.tu), 6) AS pmi
  FROM bg
  JOIN un up ON up.tok = bg.prev
  JOIN un uc ON uc.tok = bg.cur, tb, tu
  WHERE bg.n_pair >= 5)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, prev, cur) AS INTEGER) AS rank,
  prev, cur, n_pair, pmi
FROM scored
QUALIFY rank <= 20
"""


def q_seq_pack_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle keys over the pack ids (portable md5,
    so the oracle recomputes every key byte-for-byte)."""
    from corpusops.harness import derive_sequences
    from corpusops.textops import pack

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("n_tok").isNotNull())
        .select("rn", "n_tok")
    )
    packs = (
        pack.pack_assignment(seq, cap=_PACK_CAP, order_cols=("rn",))
        .select("pack_id")
        .distinct()
    )
    return pack.epoch_order(packs, seed=17).select("pack_id", "epoch_key")


def oracle_seq_pack_epoch() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + f"""
, off AS (
  SELECT rn, n_tok,
    CAST(coalesce(sum(n_tok) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM seq WHERE n_tok IS NOT NULL),
 packs AS (SELECT DISTINCT "offset" // {_PACK_CAP} AS pack_id FROM off)
SELECT pack_id, md5('17|' || CAST(pack_id AS VARCHAR)) AS epoch_key FROM packs
"""


_MIX_BUDGET = 1_000_000
_MIX_WEIGHTS = {"web": 1, "books": 1, "code": 1, "wiki": 1}  # spam9 excluded


def q_seq_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (domain re-weighting): equal-weight
    1M-token budget over the four clean sources (spam9 excluded via the
    weight dict). The sample is a pure function of (salt, rn, the
    per-source totals) — the oracle reproduces every kept row."""
    from corpusops.harness import derive_sequences

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("n_tok").isNotNull())
        .select("rn", "source", "n_tok")
    )
    plan = textqc.mixture_plan(seq, _MIX_BUDGET, _MIX_WEIGHTS)
    return textqc.mixture_sample(seq, plan, id_col="rn").select("rn", "source", "n_tok")


def oracle_seq_mixture_sample() -> str:
    from corpusops.harness import SEQ_CTE

    sw = sum(_MIX_WEIGHTS.values())
    targets = ", ".join(
        f"('{s}', {_MIX_BUDGET * w // sw})" for s, w in _MIX_WEIGHTS.items()
    )
    return SEQ_CTE + f"""
, tot AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tok
  FROM seq WHERE source IS NOT NULL AND n_tok IS NOT NULL GROUP BY 1),
 plan AS (
  SELECT source, least(1000000, (CAST(target_tok AS BIGINT) * 1000000) // total_tok) AS rate_ppm
  FROM tot JOIN (VALUES {targets}) AS w(source, target_tok) USING (source))
SELECT rn, source, n_tok
FROM seq JOIN plan USING (source)
WHERE n_tok IS NOT NULL
  AND CAST(('0x' || substr(md5('mix-v1' || CAST(rn AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < rate_ppm
"""


def q_seq_pack_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-separated packing: every source gets its own token stream
    (offsets restart at 0 per source, packs never mix sources —
    curriculum/domain-separated packing). Same two-phase prefix-sum
    plan, range-partitioned on (source, rn); the oracle is the
    per-source cumulative-sum window."""
    from corpusops.harness import derive_sequences
    from corpusops.textops import pack

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("n_tok").isNotNull() & F.col("source").isNotNull())
        .select("rn", "source", "n_tok")
    )
    return pack.pack_assignment(
        seq, cap=_PACK_CAP, order_cols=("rn",), stream_col="source"
    ).select("rn", "source", "n_tok", "offset", "pack_id", "pack_pos")


def oracle_seq_pack_by_source() -> str:
    from corpusops.harness import SEQ_CTE

    return SEQ_CTE + f"""
, off AS (
  SELECT rn, source, n_tok,
    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY rn
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM seq WHERE n_tok IS NOT NULL AND source IS NOT NULL)
SELECT rn, source, n_tok, "offset",
       "offset" // {_PACK_CAP} AS pack_id, "offset" % {_PACK_CAP} AS pack_pos
FROM off
"""


# ---------------------------------------------------------------------------
# dedup curation: cluster representatives + incremental (delta) dedup
# ---------------------------------------------------------------------------
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best curation over duplicate clusters: connected components
    of the exact near-dup graph, each cluster resolved to its
    highest-quality member (tie-break min doc_id) via the map-side
    aggregation argmax — the decision step after dedup_clusters. Oracle
    = recursive-CTE closure + the quality formula over the derived
    corpus + a window argmax, fully independent of the engine path."""
    corpus = derive_corpus(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.6)
    labels = dedup.connected_components(pairs)
    scores = textqc.quality_score(corpus).select(
        F.col("doc_id").alias("id"), "quality_score"
    )
    return dedup.cluster_representatives(labels, scores, id_col="id")


def oracle_dedup_keep_best() -> str:
    # closure identical to oracle_dedup_clusters, then score the corpus
    # (nested WITH in a subquery so the quality twin stays shared) and
    # pick per-component argmax with an explicit (score DESC, id ASC)
    # window — a formulation disjoint from the engine's struct-min agg
    return CORPUS_CTE + _SHINGLE_CTE + (
        ", sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT id_a, id_b FROM inter "
        "  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "  WHERE CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) >= 0.6), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "  UNION SELECT id_b, id_a FROM pairs), "
        "walk AS (WITH RECURSIVE w(src, reach) AS ("
        "    SELECT src, src FROM edges "
        "    UNION "
        "    SELECT w.src, e.dst FROM w JOIN edges e ON e.src = w.reach) "
        "  SELECT * FROM w), "
        "labels AS (SELECT src AS id, min(reach) AS component FROM walk GROUP BY src), "
        "qual AS (SELECT doc_id, quality_score FROM (" + _quality_sql("corpus") + ")), "
        "ranked AS (SELECT l.component, l.id, q.quality_score, "
        "  row_number() OVER (PARTITION BY l.component "
        "    ORDER BY q.quality_score DESC, l.id ASC) AS rk, "
        "  count(*) OVER (PARTITION BY l.component) AS n_members "
        "  FROM labels l JOIN qual q ON q.doc_id = l.id) "
        "SELECT component, id AS rep_id, quality_score AS rep_score, "
        "n_members FROM ranked WHERE rk = 1"
    )


def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta dedup: an incoming batch (the derived near/exact copies
    plus every 7th original re-submitted) admitted against the digests
    of the existing documents corpus — exact-copy and re-submitted rows
    must be rejected, padded near-dups admitted once per digest."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = derive_corpus(spark, sf_dir).where(F.col("doc_id") >= 100000).unionByName(
        docs.where(F.col("doc_id") % 7 == 0)
    )
    seen = docs.select(F.md5("text").alias("text_hash"))
    return dedup.incremental_new_docs(batch, seen)


def oracle_doc_incremental_dedup() -> str:
    return (
        "WITH batch AS ("
        "  SELECT doc_id + 100000 AS doc_id, text || ' pad pad pad' AS text "
        "  FROM documents WHERE doc_id % 20 = 0 "
        "  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0 "
        "  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0), "
        "seen AS (SELECT DISTINCT md5(text) AS h FROM documents) "
        "SELECT min(b.doc_id) AS doc_id, md5(b.text) AS text_hash FROM batch b "
        "WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.h = md5(b.text)) "
        "GROUP BY md5(b.text)"
    )


# ---------------------------------------------------------------------------
# multimodal plumbing: oracle rows for the pure-SQL plan half
# ---------------------------------------------------------------------------
def derive_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table from `documents`: typed metadata in the
    MEDIA_SCHEMA map (n_frames / sample_rate / n_samples in closed form
    from doc_id, sample_rate withheld for every 5th row to exercise the
    coalesce default), NULL payloads — the decode stub stays unit-level,
    the planning half becomes oracle-checkable."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "video")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("image")
    )
    sr = F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string")).otherwise(
        F.lit("22050")
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        kind.alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        F.create_map(
            F.lit("n_frames"), (F.col("doc_id") % 977).cast("string"),
            F.lit("sample_rate"), sr,
            F.lit("n_samples"),
            ((F.col("doc_id") % 89) * 16000 + F.col("doc_id") % 997).cast("string"),
        ).alias("meta"),
    )


def q_media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (multimodal.frame_sample_plan): per-row
    frame index lists from map metadata, JVM-side sequence arithmetic
    only — the decision half a decode UDF consumes. Arrays compared as
    joined strings (the oracle harness stringifies object columns)."""
    from corpusops.textops import multimodal

    plan = multimodal.frame_sample_plan(
        derive_media(spark, sf_dir).where(F.col("kind") == "video")
    )
    return plan.select(
        "media_id", "n_frames", F.array_join("frame_indices", ",").alias("frames")
    )


def oracle_media_frame_plan() -> str:
    # every_n=30, max_frames=8; n_frames = doc_id % 977 on video rows
    return (
        "WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS media_id, "
        "  CAST(doc_id % 977 AS INTEGER) AS n_frames FROM documents WHERE doc_id % 3 = 0) "
        "SELECT media_id, n_frames, array_to_string(list_slice("
        "  list_transform(generate_series(0, greatest(n_frames - 1, 0), 30), x -> CAST(x AS INTEGER)), "
        "  1, 8), ',') AS frames FROM m"
    )


def q_media_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan (multimodal.audio_chunk_plan): per-file
    (start, end) sample windows from map metadata, exploded to one row
    per chunk so downstream feature UDFs parallelize across chunks —
    a 10-hour file becomes independent tasks, not one straggler."""
    from corpusops.textops import multimodal

    return multimodal.audio_chunk_plan(derive_media(spark, sf_dir))


def oracle_media_audio_chunks() -> str:
    # chunk_seconds=30, overlap=1: step = sr*29; sr defaults to 16000
    # when withheld (doc_id % 5 = 0); n_samples = (doc_id%89)*16000 + doc_id%997
    return (
        "WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS media_id, "
        "  CASE WHEN doc_id % 5 = 0 THEN 16000 ELSE 22050 END AS sr, "
        "  CAST((doc_id % 89) * 16000 + doc_id % 997 AS BIGINT) AS n "
        "  FROM documents WHERE doc_id % 3 = 1), "
        "s AS (SELECT media_id, sr, n, unnest(generate_series(0, greatest(n - 1, 0), "
        "  CAST(sr * 29.0 AS BIGINT))) AS start_sample FROM m), "
        "f AS (SELECT media_id, sr, n, start_sample, "
        "  row_number() OVER (PARTITION BY media_id ORDER BY start_sample) - 1 AS chunk_idx "
        "  FROM s WHERE start_sample < n OR start_sample = 0) "
        "SELECT media_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, start_sample, "
        "least(start_sample + CAST(sr * 30.0 AS BIGINT), n) AS end_sample FROM f"
    )


# ---------------------------------------------------------------------------
# IVF k-means refinement (quantized Lloyd's) — iterative op with SQL twin
# ---------------------------------------------------------------------------
def q_ivf_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations over the seeded IVF centroids
    (simsearch.kmeans_refine, round_decimals=5), exploded to
    (cell, dim, val) long format. The quantization makes the iteration
    reproducible across engines, so DuckDB replays BOTH iterations
    exactly: assignment = per-vector argmin of squared distance
    (cell tie-break), new centroid = per-(cell, dim) rounded mean."""
    emb = load(spark, sf_dir, "embeddings")
    cents = simsearch.seed_centroids(emb, n_cells=8)
    refined = simsearch.kmeans_refine(emb, cents, n_iter=2)
    return refined.select(
        "cell", F.posexplode("cvec").alias("dim", "valf")
    ).select(
        "cell", "dim", F.round(F.col("valf").cast("double"), 5).alias("val")
    )


def oracle_ivf_kmeans_centroids() -> str:
    assign = (
        "SELECT v.vec_id, c.cell, "
        "sum((v.val - c.m) * (v.val - c.m)) AS d "
        "FROM vdim v JOIN {cents} c USING (dim) GROUP BY 1, 2 "
        "QUALIFY row_number() OVER (PARTITION BY v.vec_id ORDER BY d, c.cell) = 1"
    )
    step = (
        ", m{i} AS (SELECT a.cell, v.dim, CAST(round(avg(v.val), 5) AS FLOAT) AS mf "
        "  FROM a{i} a JOIN vdim v USING (vec_id) GROUP BY 1, 2) "
        ", c{i} AS (SELECT p.cell, p.dim, "
        "  coalesce(CAST(m{i}.mf AS DOUBLE), p.m) AS m "
        "  FROM c{p} p LEFT JOIN m{i} USING (cell, dim))"
    )
    return (
        "WITH vdim AS (SELECT vec_id, u[2] - 1 AS dim, "
        "  CAST(u[1] AS DOUBLE) AS val FROM (SELECT vec_id, "
        "  unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS u "
        "  FROM embeddings)), "
        "seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell "
        "  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)), "
        "c0 AS (SELECT s.cell, v.dim, v.val AS m FROM seeds s "
        "  JOIN vdim v USING (vec_id)), "
        "a1 AS (" + assign.format(cents="c0") + ")"
        + step.format(i=1, p=0)
        + ", a2 AS (" + assign.format(cents="c1") + ")"
        + step.format(i=2, p=1)
        + " SELECT cell, CAST(dim AS INTEGER) AS dim, round(m, 5) AS val FROM c2"
    )


def q_doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (word-window) duplicate-chunk ratio per doc —
    RefinedWeb-style paragraph dedup over 20-word chunks
    (dedup.chunk_dup_stats); a chunk is duplicated when it occurs in
    >= 2 distinct docs."""
    return dedup.chunk_dup_stats(load(spark, sf_dir, "documents"))


def oracle_doc_chunk_dedup() -> str:
    return (
        r"WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws "
        "FROM documents), "
        "c AS (SELECT doc_id, md5(array_to_string(ws[i*20+1:i*20+20], ' ')) AS chash "
        "  FROM w, unnest(range(0, CAST(ceil(len(ws)/20.0) AS BIGINT))) AS t(i)), "
        "dup AS (SELECT chash FROM c GROUP BY chash "
        "  HAVING count(DISTINCT doc_id) >= 2), "
        "per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks "
        "  FROM c GROUP BY doc_id), "
        "dpd AS (SELECT c.doc_id, count(*) AS n_dup FROM c "
        "  JOIN dup USING (chash) GROUP BY c.doc_id) "
        "SELECT per.doc_id, per.n_chunks, "
        "  CAST(coalesce(dpd.n_dup, 0) AS BIGINT) AS n_dup_chunks, "
        "  round(coalesce(dpd.n_dup, 0) / CAST(per.n_chunks AS DOUBLE), 6) "
        "    AS dup_chunk_ratio "
        "FROM per LEFT JOIN dpd USING (doc_id)"
    )


def _lined_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic lined view of `documents` for line-level operators:
    the raw corpus is single-line, so plant the structure a web crawl
    has — a per-source NAV header on every doc, the words re-wrapped
    into 10-word lines, and a per-source copyright footer on even
    doc_ids. With ~25 docs per source both chrome lines exceed any
    small max_df while content lines stay (almost surely) rare."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(ws) / F.lit(10.0)).cast("int")
    content = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(F.slice(ws, i * F.lit(10) + F.lit(1), F.lit(10)), " "),
    )
    lined = F.concat_ws(
        "\n",
        F.concat(F.lit("NAV | "), F.col("source")),
        F.array_join(content, "\n"),
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.lit("(c) 2026 "), F.col("source"))
        ),
    )
    return docs.select("doc_id", "source", lined.alias("text"))


# the identical lined view, replayed in DuckDB for the oracle
_ORACLE_LINED = (
    r"w AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ws "
    "FROM documents), "
    "lc AS (SELECT doc_id, source, 'NAV | ' || source || chr(10) || "
    "  array_to_string(list_transform("
    "    range(0, CAST(ceil(len(ws)/10.0) AS BIGINT)), "
    "    i -> array_to_string(ws[i*10+1:i*10+10], ' ')), chr(10)) || "
    "  CASE WHEN doc_id % 2 = 0 THEN chr(10) || '(c) 2026 ' || source "
    "       ELSE '' END AS text "
    "FROM w)"
)


def q_doc_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-frequency boilerplate scrub (CCNet/C4 chrome removal) over
    the deterministically lined corpus: a line repeated in > 6 distinct
    docs of the same source is chrome; kept lines re-join in order
    (textqc.boilerplate_scrub). The planted NAV header (25 docs/source)
    and even-doc footer (~12/source) must be scrubbed from every doc."""
    return textqc.boilerplate_scrub(_lined_documents(spark, sf_dir), max_df=6)


def oracle_doc_boilerplate() -> str:
    return (
        f"WITH {_ORACLE_LINED}, "
        "l AS (SELECT doc_id, source, ls[i+1] AS line, i AS pos "
        "  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls "
        "        FROM lc), unnest(range(0, len(ls))) AS t(i)), "
        "f AS (SELECT source, line FROM l GROUP BY source, line "
        "  HAVING count(DISTINCT doc_id) > 6) "
        "SELECT l.doc_id, l.source, "
        "  CAST(count(*) AS BIGINT) AS n_lines, "
        "  CAST(count(f.line) AS BIGINT) AS n_boiler_lines, "
        "  coalesce(string_agg(CASE WHEN f.line IS NULL THEN l.line END, "
        "    chr(10) ORDER BY l.pos), '') AS scrubbed "
        "FROM l LEFT JOIN f ON l.source = f.source AND l.line = f.line "
        "GROUP BY l.doc_id, l.source"
    )


def q_doc_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights with the English slice as the target
    distribution (textqc.dsir_weights): hashed word uni+bigram bucket
    models (4096 buckets, portable md5 hash), Laplace-smoothed
    log-likelihood ratio per doc."""
    docs = load(spark, sf_dir, "documents")
    return textqc.dsir_weights(docs, F.col("lang") == "en")


def oracle_doc_dsir() -> str:
    b = "CAST(('0x' || substr(md5('dsir-v1' || feat), 1, 8)) AS BIGINT) % 4096"
    return (
        r"WITH w AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws "
        "  FROM documents WHERE length(trim(text)) > 0), "
        "f AS (SELECT doc_id, lang, unnest(list_concat(ws, "
        "    CASE WHEN len(ws) >= 2 THEN list_transform(range(0, len(ws) - 1), "
        "      i -> ws[i+1] || ' ' || ws[i+2]) "
        "    ELSE [] END)) AS feat FROM w), "
        f"fb AS (SELECT doc_id, lang = 'en' AS tgt, {b} AS bkt FROM f), "
        "m AS (SELECT bkt, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct, "
        "  CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY bkt), "
        "t AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM m), "
        "lam AS (SELECT bkt, ln(ct + 1) - ln(tt + 4096) - ln(cr + 1) + ln(tr + 4096) "
        "  AS lam FROM m, t) "
        "SELECT fb.doc_id, CAST(count(*) AS INTEGER) AS n_feats, "
        "  round(sum(lam.lam), 5) AS dsir_logratio "
        "FROM fb JOIN lam USING (bkt) GROUP BY fb.doc_id"
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives over the planted-near-dup vector
    corpus: exact near-pairs (cos >= 0.95) -> connected components ->
    top-5 most-similar NON-cluster-mates per query (vec_id < 4). Query
    0's planted twin (vec_id 10000, cos ~0.999) must be absent from its
    negatives — the false-negative the operator exists to remove."""
    vecs = derive_vecs(spark, sf_dir)
    pairs = dedup.embedding_near_pairs(vecs, threshold=0.95, mode="exact")
    comps = dedup.connected_components(pairs)
    qs = vecs.where(F.col("vec_id") < 4)
    return simsearch.hard_negatives(vecs, comps, qs, k=5)


def oracle_hard_negatives() -> str:
    cos_ab = (
        "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
    )
    cos_lq = (
        "list_cosine_similarity(list_transform(l.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(q.qvec, x -> CAST(x AS DOUBLE)))"
    )
    return _VECS_CTE + (
        f", pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b "
        f"  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id WHERE {cos_ab} >= 0.95), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "  UNION SELECT id_b, id_a FROM pairs), "
        "walk AS (WITH RECURSIVE w(src, reach) AS ("
        "    SELECT src, src FROM edges "
        "    UNION "
        "    SELECT w.src, e.dst FROM w JOIN edges e ON e.src = w.reach) "
        "  SELECT * FROM w), "
        "comp AS (SELECT src AS id, min(reach) AS component FROM walk GROUP BY src), "
        "lab AS (SELECT v.vec_id, v.embedding, coalesce(c.component, v.vec_id) AS cl "
        "  FROM vecs v LEFT JOIN comp c ON c.id = v.vec_id), "
        "q AS (SELECT vec_id AS query_id, embedding AS qvec, cl AS qcl "
        "  FROM lab WHERE vec_id < 4), "
        f"scored AS (SELECT q.query_id, l.vec_id, {cos_lq} AS cos "
        "  FROM lab l CROSS JOIN q "
        "  WHERE l.vec_id <> q.query_id AND l.cl <> q.qcl) "
        "SELECT query_id, CAST(row_number() OVER "
        "  (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank, "
        "  vec_id, round(cos, 6) AS cos "
        "FROM scored QUALIFY rank <= 5"
    )


def q_source_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by TF-IDF with doc-level
    idf (textqc.tfidf_top_terms); ranking happens over the 6-dp-rounded
    score so tie order is engine-independent."""
    return textqc.tfidf_top_terms(load(spark, sf_dir, "documents"), k=5)


def oracle_source_tfidf() -> str:
    return (
        r"WITH w AS (SELECT doc_id, source, "
        r"    unnest(string_split_regex(trim(text), '\s+')) AS word "
        "  FROM documents), "
        "tf AS (SELECT source, word, CAST(count(*) AS BIGINT) AS tf "
        "  FROM w GROUP BY source, word), "
        "df AS (SELECT word, count(DISTINCT doc_id) AS dfreq FROM w GROUP BY word), "
        "n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents), "
        "scored AS (SELECT tf.source, tf.word, tf.tf, "
        "    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.dfreq), 6) AS tfidf "
        "  FROM tf JOIN df USING (word), n) "
        "SELECT source, CAST(row_number() OVER "
        "  (PARTITION BY source ORDER BY tfidf DESC, word) AS INTEGER) AS rank, "
        "  word, tf, tfidf "
        "FROM scored QUALIFY rank <= 5"
    )


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier-proxy labels: majority label of the 5 nearest
    labeled seeds (vec_id % 5 == 0) by cosine, ties to smaller seed id
    then smaller label (simsearch.knn_label_vote)."""
    return simsearch.knn_label_vote(load(spark, sf_dir, "embeddings"))


def oracle_knn_label_vote() -> str:
    cos = (
        "list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(s.embedding, x -> CAST(x AS DOUBLE)))"
    )
    return (
        "WITH s AS (SELECT vec_id AS sid, label AS slabel, embedding "
        "  FROM embeddings WHERE vec_id % 5 = 0), "
        "q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0), "
        f"scored AS (SELECT q.vec_id, s.sid, s.slabel, {cos} AS cos FROM q, s), "
        "knn AS (SELECT vec_id, slabel FROM ("
        "  SELECT vec_id, slabel, row_number() OVER ("
        "    PARTITION BY vec_id ORDER BY cos DESC, sid) AS rn FROM scored) z "
        "  WHERE rn <= 5), "
        "v AS (SELECT vec_id, slabel, count(*) AS votes FROM knn "
        "  GROUP BY vec_id, slabel) "
        "SELECT vec_id, CAST(slabel AS INTEGER) AS pred_label, votes FROM ("
        "  SELECT vec_id, slabel, votes, row_number() OVER ("
        "    PARTITION BY vec_id ORDER BY votes DESC, slabel) AS rn FROM v) z "
        "WHERE rn = 1"
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (simsearch.scalar_quantize, 256 levels)
    over the embeddings table. Codes are certified byte-exactly (md5 of
    the code string — floor(x+0.5) affine math is deterministic IEEE in
    both engines); the reconstruction MSE rounds at 9 decimals, ~7
    orders above engine sum-order noise."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = simsearch.scalar_quantize(emb)
    joined = F.array_join(F.transform("qvec", lambda q: q.cast("string")), " ")
    return out.select("vec_id", F.md5(joined).alias("qvec_md5"), "mse")


def oracle_embed_quantize() -> str:
    nan_max = (
        "list_aggregate(list_transform(embedding, "
        "x -> CAST(isnan(CAST(x AS DOUBLE)) AS INTEGER)), 'max') = 1"
    )
    recon = "(lo + (q / 255.0) * (hi - lo))"
    return (
        "WITH valid AS ("
        "  SELECT vec_id, embedding FROM embeddings "
        "  WHERE embedding IS NOT NULL AND len(embedding) > 0 "
        f"    AND NOT coalesce({nan_max}, FALSE)"
        "), dims AS ("
        "  SELECT vec_id, generate_subscripts(embedding, 1) AS dim, "
        "    CAST(unnest(embedding) AS DOUBLE) AS v FROM valid"
        "), rng AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM dims GROUP BY 1), "
        "qd AS ("
        "  SELECT d.vec_id, d.dim, d.v, r.lo, r.hi, "
        "    CASE WHEN r.hi = r.lo THEN 0 "
        "      ELSE CAST(least(255.0, greatest(0.0, "
        "        floor((d.v - r.lo) / (r.hi - r.lo) * 255.0 + 0.5))) AS INTEGER) "
        "    END AS q "
        "  FROM dims d JOIN rng r USING (dim)) "
        "SELECT vec_id, "
        "  md5(string_agg(CAST(q AS VARCHAR), ' ' ORDER BY dim)) AS qvec_md5, "
        f"  round(sum((v - {recon}) * (v - {recon})) / count(*), 9) AS mse "
        "FROM qd GROUP BY vec_id"
    )


def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-snapshot drift (drift.embedding_drift, z_max=3):
    current = the store with dimension 3 planted +0.5 (an embedding-
    model swap signature) and an appended 65th value for every 11th
    vector (a width change -> NEW_DIM); baseline = the unshifted store
    minus every 5th vector. Dim 3 must grade SHIFTED, dim 64 NEW_DIM,
    all others OK — and the statistic is replayed per-dim in SQL with
    identical double math (graded on the 6dp-rounded z)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shifted = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double")
        + F.when(i == 3, F.lit(0.5)).otherwise(F.lit(0.0)),
    )
    cur = emb.withColumn(
        "embedding",
        F.when(
            F.pmod(F.col("vec_id"), F.lit(11)) == 0,
            F.concat(shifted, F.array(F.lit(0.25))),
        ).otherwise(shifted),
    )
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) != 4)
    from tokenqc.checks import drift as drift_mod

    return drift_mod.embedding_drift(cur, base, z_max=3.0)


def oracle_embed_drift() -> str:
    return (
        "WITH curd AS ("
        "  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim, "
        "    CAST(unnest(embedding) AS DOUBLE) "
        "      + CASE WHEN generate_subscripts(embedding, 1) - 1 = 3 "
        "             THEN 0.5 ELSE 0.0 END AS v "
        "  FROM embeddings "
        "  UNION ALL "
        "  SELECT vec_id, 64 AS dim, 0.25 AS v FROM embeddings WHERE vec_id % 11 = 0"
        "), based AS ("
        "  SELECT generate_subscripts(embedding, 1) - 1 AS dim, "
        "    CAST(unnest(embedding) AS DOUBLE) AS v "
        "  FROM embeddings WHERE vec_id % 5 <> 4"
        "), c AS (SELECT dim, count(*) AS n_cur, sum(v) AS s, sum(v*v) AS q "
        "  FROM curd GROUP BY 1), "
        "b AS (SELECT dim, count(*) AS n_base, sum(v) AS s, sum(v*v) AS q "
        "  FROM based GROUP BY 1), "
        "j AS ("
        "  SELECT coalesce(c.dim, b.dim) AS dim, c.n_cur, b.n_base, "
        "    c.s / c.n_cur AS mean_c, b.s / b.n_base AS mean_b, "
        "    b.q / b.n_base - (b.s / b.n_base) * (b.s / b.n_base) AS var_b "
        "  FROM c FULL OUTER JOIN b ON c.dim = b.dim) "
        "SELECT CAST(dim AS INTEGER) AS dim, n_cur, n_base, "
        "  round(mean_c, 6) AS mean_cur, round(mean_b, 6) AS mean_base, "
        "  round(abs(mean_c - mean_b) / sqrt(var_b + 1e-12), 6) AS z, "
        "  CASE WHEN n_base IS NULL THEN 'NEW_DIM' "
        "       WHEN n_cur IS NULL THEN 'DROPPED_DIM' "
        "       WHEN round(abs(mean_c - mean_b) / sqrt(var_b + 1e-12), 6) > 3.0 "
        "         THEN 'SHIFTED' ELSE 'OK' END AS status "
        "FROM j"
    )


def q_embed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table ingest gate: dimension consistency, NaN/null
    content, zero-norm count, norm spread (simsearch.embedding_profile)."""
    return simsearch.embedding_profile(load(spark, sf_dir, "embeddings"))


def oracle_embed_profile() -> str:
    nan_max = (
        "list_aggregate(list_transform(embedding, "
        "x -> CAST(isnan(CAST(x AS DOUBLE)) AS INTEGER)), 'max') = 1"
    )
    return (
        "WITH per AS (SELECT vec_id, len(embedding) AS ndim, "
        "  (embedding IS NULL) AS is_null, "
        f"  coalesce({nan_max}, FALSE) AS hasnan, "
        f"  CASE WHEN embedding IS NOT NULL AND NOT coalesce({nan_max}, FALSE) "
        "    THEN sqrt(list_aggregate(list_transform(embedding, "
        "      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) END AS norm "
        "  FROM embeddings) "
        "SELECT CAST(count(*) AS BIGINT) AS n_vecs, "
        "  CAST(count(DISTINCT ndim) AS BIGINT) AS n_dims, "
        "  CAST(sum(CAST(is_null AS INTEGER)) AS BIGINT) AS n_null_vecs, "
        "  CAST(sum(CAST(hasnan AS INTEGER)) AS BIGINT) AS n_nan_vecs, "
        "  CAST(sum(CAST(norm = 0.0 AS INTEGER)) AS BIGINT) AS n_zero_norm, "
        "  round(avg(norm), 6) AS mean_norm, round(min(norm), 6) AS min_norm, "
        "  round(max(norm), 6) AS max_norm FROM per"
    )


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-leakage matrix (dedup.cross_source_dup_matrix)
    over a sourced corpus with planted cross-source copies: every 25th
    doc duplicated into a synthetic 'heldout' split and every 40th doc
    into the NEXT source bucket ('src0' text reappearing under 'src1'),
    so the matrix must report both heldout-vs-corpus overlap and a
    genuine source-pair leak — closed form in both engines."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    heldout = docs.where(F.col("doc_id") % 25 == 0).select(
        "doc_id", "text", F.lit("heldout").alias("source")
    )
    shifted = docs.where(F.col("doc_id") % 40 == 0).select(
        "doc_id",
        "text",
        F.concat(F.lit("src"), ((F.col("doc_id") % 20 + 1) % 20).cast("string")).alias(
            "source"
        ),
    )
    corpus = docs.unionByName(heldout).unionByName(shifted)
    return dedup.cross_source_dup_matrix(corpus)


def oracle_cross_source_dups() -> str:
    return """
WITH corpus AS (
  SELECT text, source FROM documents
  UNION ALL
  SELECT text, 'heldout' AS source FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT text, 'src' || CAST((doc_id % 20 + 1) % 20 AS VARCHAR) AS source
  FROM documents WHERE doc_id % 40 = 0
), d AS (
  SELECT DISTINCT md5(text) AS dg, source FROM corpus
  WHERE text IS NOT NULL AND source IS NOT NULL
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.dg = b.dg AND a.source < b.source
GROUP BY 1, 2
"""


def q_dedup_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split (dedup.cluster_split): train/val/test by the
    near-dup cluster canonical, over the same planted-dup corpus and
    jaccard pair graph as dedup_clusters — so the oracle re-derives the
    closure AND the split arithmetic independently."""
    corpus = derive_corpus(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.6)
    out = dedup.cluster_split(corpus, pairs)
    return out.select("doc_id", "group_id", "bucket", "split")


def oracle_dedup_cluster_split() -> str:
    b = (
        "CAST(CAST(('0x' || substr(md5('split-v1' || CAST(g AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 100 AS INTEGER)"
    )
    return CORPUS_CTE + _SHINGLE_CTE + (
        ", sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT id_a, id_b FROM inter "
        "  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "  WHERE CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) >= 0.6), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "  UNION SELECT id_b, id_a FROM pairs), "
        "walk AS (WITH RECURSIVE w(src, reach) AS ("
        "    SELECT src, src FROM edges "
        "    UNION "
        "    SELECT w.src, e.dst FROM w JOIN edges e ON e.src = w.reach) "
        "  SELECT * FROM w), "
        "comp AS (SELECT src AS id, min(reach) AS component FROM walk GROUP BY src), "
        "grouped AS (SELECT c.doc_id, coalesce(p.component, c.doc_id) AS g "
        "  FROM corpus c LEFT JOIN comp p ON p.id = c.doc_id) "
        f"SELECT doc_id, g AS group_id, {b} AS bucket, "
        f"CASE WHEN {b} < 95 THEN 'train' WHEN {b} < 99 THEN 'val' "
        "ELSE 'test' END AS split FROM grouped"
    )


def derive_card_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies (doc_id % 25 = 0, shifted ids, SAME
    source) — the datacard input: keeps the source column (unlike
    derive_corpus) and plants a known per-source duplication rate."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    copies = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "source"
    )
    return docs.unionByName(copies)


def q_doc_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus data card (textqc.corpus_datacard): docs,
    words, mean quality, language mix, exact-dup rate — planted copies
    make every source's dup_ppm nonzero; the oracle recomposes the
    quality formula, the lang argmax CASE, and the digest dup tree
    from first principles in one SQL query."""
    return textqc.corpus_datacard(derive_card_corpus(spark, sf_dir))


def oracle_doc_datacard() -> str:
    all_stop = _stoplist_sql(sorted({s for v in textqc.LANG_STOPWORDS.values() for s in v}))
    hits = ", ".join(
        f"len(list_filter(w, x -> x IN ({_stoplist_sql(stops)}))) AS h_{lang}"
        for lang, stops in textqc.LANG_STOPWORDS.items()
    )
    gmax = "greatest(" + ", ".join(f"h_{g}" for g in textqc.LANG_ORDER) + ")"
    case = " ".join(f"WHEN h_{g} = {gmax} THEN '{g}'" for g in textqc.LANG_ORDER)
    return f"""
WITH card AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 200000, text, source FROM documents WHERE doc_id % 25 = 0
), f AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS w,
    CAST(length(text) AS DOUBLE) AS n_chars, md5(text) AS digest
  FROM card WHERE text IS NOT NULL AND source IS NOT NULL
), g AS (
  SELECT source, digest, CAST(len(w) AS BIGINT) AS n_words,
    round(0.3 * (CASE WHEN len(w) >= 10 AND len(w) <= 1000 THEN 1.0 ELSE 0.0 END)
        + 0.2 * (CASE WHEN (n_chars - (len(w) - 1)) / len(w) >= 2.5
                AND (n_chars - (len(w) - 1)) / len(w) <= 12.0 THEN 1.0 ELSE 0.0 END)
        + 0.2 * least(CAST(len(list_filter(w, x -> x IN ({all_stop}))) AS DOUBLE) / len(w) * 5, 1.0)
        + 0.3 * least(CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 2, 1.0), 6) AS q,
    {hits}
  FROM f
), l AS (
  SELECT source, digest, n_words, q,
    CASE WHEN {gmax} = 0 THEN 'und' {case} END AS lang_pred
  FROM g
), m AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_words,
    round(avg(q), 6) AS mean_quality,
    CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_en,
    CAST(sum(CASE WHEN lang_pred = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_und
  FROM l GROUP BY source
), pd AS (
  SELECT digest, source, count(*) AS cnt FROM l GROUP BY digest, source
), t AS (
  SELECT digest, sum(cnt) AS tot FROM pd GROUP BY digest
), d AS (
  SELECT pd.source, CAST(sum(pd.cnt) AS BIGINT) AS n_dup_docs
  FROM pd JOIN t ON pd.digest = t.digest AND t.tot > 1
  GROUP BY pd.source
)
SELECT m.source, m.n_docs, m.n_words, m.mean_quality, m.n_lang_en,
  m.n_lang_und, coalesce(d.n_dup_docs, 0) AS n_dup_docs,
  coalesce(d.n_dup_docs, 0) * 1000000 // m.n_docs AS dup_ppm
FROM m LEFT JOIN d ON m.source = d.source
"""


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality-weighted sampling (textqc.score_weighted_sample,
    gamma=2, max 900k ppm): keep probability ∝ quality², md5-Bernoulli
    deterministic keep. The oracle recomputes the quality formula, the
    explicit clamp·clamp product, the floor(x+0.5) rate, and the md5
    bucket arithmetic — certifying the whole soft-sampling path."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    e = textqc._quality_exprs("text")
    scored = docs.select("doc_id", F.round(e["score"], 6).alias("quality_score"))
    return textqc.score_weighted_sample(scored, gamma=2, max_keep_ppm=900000)


def oracle_doc_weighted_sample() -> str:
    all_stop = _stoplist_sql(sorted({s for v in textqc.LANG_STOPWORDS.values() for s in v}))
    u = "CAST(('0x' || substr(md5('swsample-v1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"
    return f"""
WITH f AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
    CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents
), g AS (
  SELECT doc_id,
    round(0.3 * (CASE WHEN len(w) >= 10 AND len(w) <= 1000 THEN 1.0 ELSE 0.0 END)
        + 0.2 * (CASE WHEN (n_chars - (len(w) - 1)) / len(w) >= 2.5
                AND (n_chars - (len(w) - 1)) / len(w) <= 12.0 THEN 1.0 ELSE 0.0 END)
        + 0.2 * least(CAST(len(list_filter(w, x -> x IN ({all_stop}))) AS DOUBLE) / len(w) * 5, 1.0)
        + 0.3 * least(CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 2, 1.0), 6) AS quality_score
  FROM f
), r AS (
  SELECT doc_id, quality_score,
    CAST(floor(least(greatest(quality_score, 0.0), 1.0)
             * least(greatest(quality_score, 0.0), 1.0) * 900000.0 + 0.5) AS INTEGER) AS rate_ppm
  FROM g
)
SELECT doc_id, quality_score, rate_ppm FROM r WHERE {u} < rate_ppm
"""


def q_seq_pack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing provenance audit (pack.pack_audit) over DELIBERATELY
    corrupted spans, so every audit check is certified on its nonzero
    path: rn % 241 = 3 drops a doc's spans (coverage + tiling holes),
    rn % 227 = 9 inflates a span length (coverage + fill + seams),
    rn % 229 = 4 shifts a span start (tiling seams, possibly bounds).
    The oracle re-derives the spans definitionally, replays the same
    corruption CASEs, and recomputes all four audit aggregates."""
    from corpusops.harness import derive_sequences
    from corpusops.textops import pack

    seq = (
        derive_sequences(spark, sf_dir)
        .where(F.col("n_tok").isNotNull())
        .select("rn", "n_tok")
    )
    sp = pack.chunk_spans(seq, cap=_PACK_CAP, order_cols=("rn",))
    rn = F.col("rn")
    corrupted = (
        sp.where(rn % 241 != 3)
        .withColumn(
            "start", F.when(rn % 229 == 4, F.col("start") + 1).otherwise(F.col("start"))
        )
        .withColumn(
            "len", F.when(rn % 227 == 9, F.col("len") + 1).otherwise(F.col("len"))
        )
    )
    return pack.pack_audit(corrupted, seq, cap=_PACK_CAP)


def oracle_seq_pack_audit() -> str:
    from corpusops.harness import SEQ_CTE

    c = _PACK_CAP
    return SEQ_CTE + f"""
, off AS (
  SELECT rn, n_tok,
    CAST(coalesce(sum(n_tok) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM seq WHERE n_tok IS NOT NULL
), sp0 AS (
  SELECT rn, p AS pack_id,
    greatest("offset", p*{c}) - p*{c} AS start,
    least("offset" + n_tok, (p+1)*{c}) - greatest("offset", p*{c}) AS "len"
  FROM off, LATERAL unnest(generate_series("offset" // {c}, ("offset" + n_tok - 1) // {c})) AS t(p)
  WHERE n_tok > 0
), sp AS (
  SELECT rn, pack_id,
    CASE WHEN rn % 229 = 4 THEN start + 1 ELSE start END AS start,
    CASE WHEN rn % 227 = 9 THEN "len" + 1 ELSE "len" END AS "len"
  FROM sp0 WHERE rn % 241 <> 3
), docs AS (
  SELECT rn, CAST(n_tok AS BIGINT) AS n FROM seq
  WHERE n_tok IS NOT NULL AND n_tok > 0
), cov AS (
  SELECT d.rn, d.n, coalesce(s.cvr, 0) AS cvr
  FROM docs d LEFT JOIN (SELECT rn, sum("len") AS cvr FROM sp GROUP BY rn) s
  USING (rn)
), seams AS (
  SELECT pack_id, "len",
    CASE WHEN lag(start + "len") OVER
           (PARTITION BY pack_id ORDER BY start, "len", rn) IS NULL
         THEN CASE WHEN start <> 0 THEN 1 ELSE 0 END
         ELSE CASE WHEN lag(start + "len") OVER
           (PARTITION BY pack_id ORDER BY start, "len", rn) <> start
           THEN 1 ELSE 0 END END AS seam_bad
  FROM sp
), packst AS (
  SELECT pack_id, sum(seam_bad) AS n_seams, sum("len") AS fill
  FROM seams GROUP BY pack_id
), lastp AS (SELECT max(pack_id) AS lastp FROM packst)
SELECT 'doc_coverage' AS check_name, count(*) AS n_checked,
  CAST(sum(CASE WHEN cvr <> n THEN 1 ELSE 0 END) AS BIGINT) AS n_bad FROM cov
UNION ALL
SELECT 'span_bounds', count(*),
  CAST(sum(CASE WHEN start < 0 OR "len" <= 0 OR start + "len" > {c} THEN 1 ELSE 0 END) AS BIGINT)
FROM sp
UNION ALL
SELECT 'pack_tiling', count(*),
  CAST(sum(CASE WHEN n_seams > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM packst
UNION ALL
SELECT 'pack_fill', count(*),
  CAST(sum(CASE WHEN (pack_id < lastp AND fill <> {c})
              OR (pack_id = lastp AND fill > {c}) THEN 1 ELSE 0 END) AS BIGINT)
FROM packst, lastp
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: 8 seeded cells, within-cell
    cosine >= 0.45 near-dup groups, min-id representative per group
    (simsearch.semdedup). The oracle replays the argmin assignment in
    long format (the ivf_kmeans pattern), the rounded-cosine pair join,
    and the reachability closure (recursive CTE) end to end."""
    emb = load(spark, sf_dir, "embeddings")
    cents = simsearch.seed_centroids(emb, n_cells=8)
    return simsearch.semdedup(emb, cents, threshold=0.45)


def oracle_semdedup() -> str:
    cos = (
        "round(list_cosine_similarity("
        "list_transform(ea.embedding, v -> CAST(v AS DOUBLE)), "
        "list_transform(eb.embedding, v -> CAST(v AS DOUBLE))), 6)"
    )
    return f"""
WITH vdim AS (
  SELECT vec_id, u[2] - 1 AS dim, CAST(u[1] AS DOUBLE) AS val
  FROM (SELECT vec_id,
        unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS u
        FROM embeddings)
), seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)
), c0 AS (
  SELECT s.cell, v.dim, v.val AS m FROM seeds s JOIN vdim v USING (vec_id)
), a1 AS (
  SELECT v.vec_id, c.cell, sum((v.val - c.m) * (v.val - c.m)) AS d
  FROM vdim v JOIN c0 c USING (dim) GROUP BY 1, 2
  QUALIFY row_number() OVER (PARTITION BY v.vec_id ORDER BY d, c.cell) = 1
), pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM a1 x JOIN a1 y ON x.cell = y.cell AND x.vec_id < y.vec_id
  JOIN embeddings ea ON ea.vec_id = x.vec_id
  JOIN embeddings eb ON eb.vec_id = y.vec_id
  WHERE {cos} >= 0.45
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), walk AS (
  WITH RECURSIVE w(src, reach) AS (
    SELECT src, src FROM edges
    UNION
    SELECT w.src, e.dst FROM w JOIN edges e ON e.src = w.reach)
  SELECT * FROM w
), comp AS (
  SELECT src AS id, min(reach) AS component FROM walk GROUP BY src
)
SELECT a1.vec_id, CAST(a1.cell AS INTEGER) AS cell,
  coalesce(c.component, a1.vec_id) AS rep,
  (coalesce(c.component, a1.vec_id) = a1.vec_id) AS keep
FROM a1 LEFT JOIN comp c ON c.id = a1.vec_id
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster_split CLAIM, measured (dedup.split_leakage_audit):
    the same corpus + near-dup pair graph split two ways — the naive
    per-doc md5 splitter vs the cluster-holdout splitter — and the
    leakage matrix computed for both. The cluster rows must be purely
    diagonal (split_a = split_b); the naive rows carry whatever
    off-diagonal leakage the md5 buckets produce (deterministic, so
    the oracle reproduces the exact counts)."""
    corpus = derive_corpus(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.6)
    naive = textqc.deterministic_split(corpus)
    safe = dedup.cluster_split(corpus, pairs)
    a = dedup.split_leakage_audit(naive, pairs).withColumn(
        "splitter", F.lit("per_doc_md5")
    )
    b = dedup.split_leakage_audit(safe, pairs).withColumn(
        "splitter", F.lit("cluster_holdout")
    )
    return a.unionByName(b).select("splitter", "split_a", "split_b", "n_pairs")


def oracle_split_leakage() -> str:
    bdoc = (
        "CAST(CAST(('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 100 AS INTEGER)"
    )
    bgrp = (
        "CAST(CAST(('0x' || substr(md5('split-v1' || CAST(g AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 100 AS INTEGER)"
    )
    case = "CASE WHEN {b} < 95 THEN 'train' WHEN {b} < 99 THEN 'val' ELSE 'test' END"
    return CORPUS_CTE + _SHINGLE_CTE + f"""
, sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) >= 0.6),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
walk AS (WITH RECURSIVE w(src, reach) AS (
    SELECT src, src FROM edges
    UNION
    SELECT w.src, e.dst FROM w JOIN edges e ON e.src = w.reach)
  SELECT * FROM w),
comp AS (SELECT src AS id, min(reach) AS component FROM walk GROUP BY src),
naive AS (SELECT doc_id, {case.format(b=bdoc)} AS split FROM corpus),
grp AS (SELECT c.doc_id, coalesce(cm.component, c.doc_id) AS g FROM corpus c
  LEFT JOIN comp cm ON cm.id = c.doc_id),
safe AS (SELECT doc_id, {case.format(b=bgrp)} AS split FROM grp),
lk AS (
  SELECT 'per_doc_md5' AS splitter,
    least(na.split, nb.split) AS split_a, greatest(na.split, nb.split) AS split_b
  FROM pairs p JOIN naive na ON na.doc_id = p.id_a JOIN naive nb ON nb.doc_id = p.id_b
  UNION ALL
  SELECT 'cluster_holdout',
    least(sa2.split, sb2.split), greatest(sa2.split, sb2.split)
  FROM pairs p JOIN safe sa2 ON sa2.doc_id = p.id_a JOIN safe sb2 ON sb2.doc_id = p.id_b
)
SELECT splitter, split_a, split_b, count(*) AS n_pairs
FROM lk GROUP BY 1, 2, 3
"""


def q_events_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate spike gate (relops.rate_spikes): the 12:00 click
    bucket is tripled (two extra copies of its rows), so the gate must
    grade that bucket SPIKE against its trailing 6-hour baseline while
    warmup/flat/ok paths ride the natural data. The oracle replays the
    planting union, the hourly counts, and the identical rows-based
    rolling window."""
    from corpusops import relops

    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    hot = ev.where(
        (F.date_trunc("hour", F.col("ts")) == F.lit("2024-01-01 12:00:00").cast("timestamp"))
        & (F.col("event_type") == "click")
    )
    planted = ev.unionByName(hot).unionByName(hot)
    out = relops.rate_spikes(planted, window=6)
    # pandas renders Spark timestamps at ns and DuckDB's at µs: compare
    # the bucket as epoch seconds (the events_rollup precedent)
    return out.withColumn("bucket_ts", F.unix_timestamp("bucket_ts"))


def oracle_events_rate_spikes() -> str:
    return """
WITH ev AS (
  SELECT ts, event_type FROM events
  UNION ALL
  SELECT ts, event_type FROM events
  WHERE date_trunc('hour', ts) = TIMESTAMP '2024-01-01 12:00:00'
    AND event_type = 'click'
  UNION ALL
  SELECT ts, event_type FROM events
  WHERE date_trunc('hour', ts) = TIMESTAMP '2024-01-01 12:00:00'
    AND event_type = 'click'
), hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS cnt
  FROM ev WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), rolled AS (
  SELECT event_type, bucket_ts, cnt,
    round(avg(cnt) OVER w, 6) AS baseline_mean,
    round(stddev(cnt) OVER w, 6) AS baseline_sd,
    count(*) OVER w AS n_prev,
    round((cnt - avg(cnt) OVER w) / stddev(cnt) OVER w, 6) AS z_raw,
    stddev(cnt) OVER w AS sd_raw
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts, cnt,
  baseline_mean, baseline_sd, n_prev,
  CASE WHEN n_prev >= 6 AND sd_raw > 0 THEN z_raw END AS z,
  CASE WHEN n_prev < 6 THEN 'WARMUP'
       WHEN baseline_sd = 0 THEN 'FLAT'
       WHEN (CASE WHEN n_prev >= 6 AND sd_raw > 0 THEN z_raw END) > 3.0
         THEN 'SPIKE'
       ELSE 'OK' END AS status
FROM rolled
"""
