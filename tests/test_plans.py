"""Physical-plan assertions: the scale-critical plan properties must not
regress — column pruning (the tokens array stays out of scans that don't
need it), filter pushdown, and broadcast dimension joins.

These are the `.explain("formatted")` checks from BENCH/BASELINE.md
turned into tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tokenqc.checks import base as cb, drift, referential, uniqueness
from tokenqc.checks import completeness, structural
from tokenqc.checks import format as fmt

CFG = cb.CheckConfig(n_partitions=8)


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def seq_parquet(spark, synth_dir):
    return spark.read.parquet(f"{synth_dir}/sequences.parquet")


def test_uniqueness_prunes_to_doc_id(seq_parquet):
    plan = plan_of(uniqueness.violations(seq_parquet, CFG))
    assert "ReadSchema: struct<doc_id:string>" in plan
    assert "IsNotNull(doc_id)" in plan  # pushed filter
    assert "tokens" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_drift_histogram_never_reads_tokens(seq_parquet):
    plan = plan_of(drift.observed_histogram(seq_parquet, CFG))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "tokens" not in read_schema
    assert "n_tok" in read_schema and "source" in read_schema
    assert "PushedFilters" in plan and "GreaterThan(n_tok,0)" in plan


def test_referential_dim_is_broadcast(spark, seq_parquet):
    allowed = spark.createDataFrame(
        [("web", True), ("books", True)], "source string, active boolean"
    )
    plan = plan_of(referential.attach(seq_parquet, allowed))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_row_gates_single_scan(spark, seq_parquet):
    allowed = spark.createDataFrame([("web", True)], "source string, active boolean")
    df = referential.attach(
        seq_parquet.withColumn("partition_id", cb.partition_id_col(CFG)), allowed
    )
    facets = completeness.facets(CFG) + structural.facets(CFG) + fmt.facets(CFG) + referential.facets(CFG)
    plan = plan_of(cb.assemble_violations(df, facets))
    # exactly one scan of the fact table (the dim side is its own tiny scan)
    import re

    scans = re.findall(r"^\(\d+\) Scan \w+", plan, re.M)
    assert len(scans) == 2, scans
    assert sum("parquet" in s for s in scans) == 1, scans
    assert "BroadcastHashJoin" in plan


def test_aqe_and_skew_confs(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_topk_is_take_ordered_not_global_window(spark, synth_dir):
    """VERDICT r1 #1: top-k must plan TakeOrderedAndProject (per-task
    k-row heaps) — never a global unpartitioned window that moves every
    scored row to one partition."""
    from corpusops.textops import simsearch

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    for q in (
        simsearch.brute_force_topk(emb, query_id=0, k=5),
        simsearch.ivf_topk(emb, simsearch.seed_centroids(emb, 4), query_id=0, k=5),
        simsearch.pandas_cosine_topk(emb, 0, k=5),
        simsearch.seed_centroids(emb, 4),
    ):
        plan = plan_of(q)
        assert "TakeOrderedAndProject" in plan, plan
        # any Window left operates on the <=k survivors and is partitioned
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                pytest.fail(f"unexpected raw window spec in plan: {line}")
        assert plan.count("TakeOrderedAndProject") >= 1


def test_batch_topk_window_input_is_partial_topk(spark):
    """VERDICT r2 #3: the per-query ranking window must consume the
    map-side partial top-k output (queries × partitions × k rows), never
    the raw scored frame (queries × corpus rows). In the physical plan
    the exchange feeding the Window sits ABOVE the MapInPandas partial —
    i.e. the partial runs before any shuffle."""
    import re

    from corpusops.textops import simsearch

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    qs = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = plan_of(simsearch.batch_topk(emb, qs, k=5))
    # operator ids are leaf-first (scan = 1, root = max): the partial
    # MapInPandas must sit BELOW the window and below every shuffle
    # exchange — i.e. the raw scored frame never shuffles, only the
    # bounded partial output does
    map_ids = [int(m) for m in re.findall(r"\((\d+)\) MapInPandas\b", plan)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window\b", plan)]
    exch_ids = [int(m) for m in re.findall(r"\((\d+)\) Exchange\b", plan)]
    assert map_ids and win_ids, plan
    assert min(win_ids) > min(map_ids), plan
    assert all(e > min(map_ids) for e in exch_ids), plan


def test_stats_profile_scan_shape(seq_parquet):
    """stats.profile reads tokens only for null-ness (definition levels);
    the histogram never reads tokens at all — pin both ReadSchemas."""
    from tokenqc.checks import stats

    plan = plan_of(stats.profile(seq_parquet, CFG))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # the profile needs doc_id/n_tok/source values + tokens null-ness
    for col in ("doc_id", "n_tok", "source", "tokens"):
        assert col in read_schema, read_schema

    hplan = plan_of(stats.histogram(seq_parquet, CFG))
    hread = [l for l in hplan.splitlines() if "ReadSchema" in l][0]
    assert "tokens" not in hread, hread


def test_contamination_benchmark_is_broadcast(spark):
    from corpusops.textops import textqc

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(200)],
        "doc_id long, text string",
    )
    bench = docs.where("doc_id % 50 = 0")
    plan = plan_of(textqc.contamination_flags(docs, bench))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" not in plan  # the corpus side must not shuffle


def test_vocab_topk_partial_aggregates_and_take_ordered(spark):
    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(i, list(range(i % 7))) for i in range(100)], "doc_id long, tokens array<int>"
    )
    plan = plan_of(textqc.vocab_topk(df, k=10))
    # map-side combine before the exchange, then per-task top-k heaps
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "TakeOrderedAndProject" in plan


def test_enumerate_rows_skewsafe_no_key_window(spark):
    """The skew-safe enumeration must contain NO window at all (the
    straggler shape it replaces). The dup-key dimension join carries no
    static broadcast hint (its cardinality is data-dependent — r4
    ADVICE), so broadcast is asserted on the FINAL adaptive plan: AQE
    must upgrade the small dup dimension to a broadcast at runtime."""
    from tokenqc.checks import uniqueness
    from tokenqc.checks.base import CheckConfig

    df = spark.createDataFrame(
        [(f"d{i % 30}", [i % 7, i % 5]) for i in range(200)],
        "doc_id string, tokens array<int>",
    )
    out = uniqueness.enumerate_rows_skewsafe(df, CheckConfig())
    plan = plan_of(out)
    assert "Window" not in plan, plan
    out.collect()  # finalize AQE so executedPlan shows runtime strategies
    # executedPlan prints "== Final Plan ==" then "== Initial Plan ==";
    # only the final (runtime) section is the pinned behavior
    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final


def test_unigram_logprob_model_is_broadcast(spark):
    """The vocab-bounded model must join back BROADCAST onto the exploded
    tokens (never a shuffle of the corpus by token id), and the per-doc
    mean must partial-aggregate before its exchange."""
    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(i, list(range(1, 2 + i % 7))) for i in range(100)],
        "doc_id long, tokens array<int>",
    )
    plan = plan_of(textqc.unigram_logprob(df))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_avg" in plan or "HashAggregate" in plan


def test_heavy_hitters_merge_input_is_bounded(spark):
    """The MG final merge must receive per-partition summaries (<=k rows
    each), never raw tokens: the plan between the two Python stages is a
    shuffle of the small summary frame."""
    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(list(range(20)),) for _ in range(50)], "tokens array<int>"
    )
    plan = plan_of(textqc.mg_heavy_hitters(df, k=8))
    import re

    assert re.search(r"\(\d+\) MapInPandas\b", plan), plan
    assert "FlatMapGroupsInPandas" in plan
    # no explode: tokens reach Python as whole arrays, counts leave as rows
    assert "Generate explode" not in plan


def test_token_lints_fuse_into_single_scan(spark, seq_parquet):
    """The four token lints (incl. the max-run aggregate fold) must ride
    the same single parquet scan as the other row gates — zero extra
    scans, zero exchanges: at 10^12 rows they are free riders on the
    fused row-gate pass."""
    import re

    from tokenqc.checks import tokens as token_lints

    cfg = cb.CheckConfig(
        n_partitions=8, vocab_size=50257, bos_id=1, eos_id=2, max_token_run=8
    )
    df = seq_parquet.withColumn("partition_id", cb.partition_id_col(cfg))
    facets = (
        completeness.facets(cfg)
        + structural.facets(cfg)
        + fmt.facets(cfg)
        + token_lints.facets(cfg)
    )
    plan = plan_of(cb.assemble_violations(df, facets))
    scans = re.findall(r"^\(\d+\) Scan \w+", plan, re.M)
    assert len(scans) == 1, scans
    assert "Exchange" not in plan


def test_token_histogram_partial_aggregates_before_shuffle(seq_parquet):
    """Token-unigram drift's explode is narrow and its counts combine
    map-side: the scan reads only (source, tokens), and the only
    exchange hashes on (source, bucket) AFTER a partial HashAggregate —
    token arrays never cross a shuffle."""
    plan = plan_of(drift.token_histogram(seq_parquet, n_buckets=64))
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "source" in read and "tokens" in read
    assert "doc_id" not in read and "n_tok" not in read
    # exactly one exchange, keyed on (source, <bucket groupingexpression>)
    assert plan.count("+- Exchange") == 1, plan
    ex = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(ex) == 1, plan
    assert "source" in ex[0] and "tokens" not in ex[0]
    # counts combine map-side BEFORE the exchange
    assert "partial_count" in plan
    # the null/empty filters reach the parquet scan
    assert "PushedFilters: [IsNotNull(source), IsNotNull(tokens)]" in plan


def test_cluster_representatives_aggregates_without_window(spark):
    """The per-cluster argmax must be a partial-aggregating struct-min —
    NO per-cluster window (a degenerate 10^9-member boilerplate cluster
    would sort inside one task) — and must partial-aggregate before its
    exchange."""
    from corpusops.textops import dedup

    labels = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, component long"
    )
    scores = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(30)], "id long, quality_score double"
    )
    plan = plan_of(dedup.cluster_representatives(labels, scores))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "partial min" in plan.lower(), plan


def test_token_contamination_is_shuffle_free(spark):
    """The contamination gate must read the train corpus exactly once
    with NO exchange anywhere: hashing + hit-count happen in one Arrow
    stage against the driver-broadcast benchmark set, and the output is
    already per-doc (the join-based formulation moved every (id, hash)
    row back through Arrow AND a shuffle)."""
    from corpusops.textops import textqc

    train = spark.createDataFrame(
        [(f"d{i}", [i, i + 1, i + 2, i + 3]) for i in range(50)],
        "doc_id string, tokens array<int>",
    )
    bench = spark.createDataFrame([("b", [1, 2, 3])], "doc_id string, tokens array<int>")
    out = textqc.token_contamination_flags(train, bench, k=3)
    plan = plan_of(out)
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan, plan


def test_knn_label_vote_broadcasts_seeds_no_query_shuffle(spark):
    """The scoring pass must be narrow: seeds arrive as a broadcast
    struct array (BroadcastNestedLoopJoin of a 1-row aggregate) and the
    only exchanges are the two bounded vote aggregations on Q x k rows
    — never a hashpartitioning of Q x S scored rows."""
    from corpusops.textops import simsearch

    rows = [(i, [float(i % 7), 1.0, float(i % 3)], i % 4) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    plan = plan_of(simsearch.knn_label_vote(df, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no sort-based per-query ranking window anywhere
    assert "Window" not in plan


def test_chunk_dup_stats_shuffles_digests_only(spark, synth_dir):
    """Text never crosses an exchange: every Exchange input below the
    scan carries only doc_id/digest/count columns (the md5 happens in
    the scan-side project)."""
    from corpusops.textops import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y")], "doc_id long, text string"
    )
    plan = plan_of(dedup.chunk_dup_stats(docs, chunk_words=3))
    for line in plan.splitlines():
        if "Arguments: hashpartitioning" in line:
            assert "text" not in line
    # partial aggregation before each exchange
    assert "partial_count" in plan or "HashAggregate" in plan


def test_embedding_profile_single_global_agg(spark):
    from corpusops.textops import simsearch

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)], "vec_id long, embedding array<float>"
    )
    plan = plan_of(simsearch.embedding_profile(df))
    # exactly one single-partition exchange: the final scalar aggregate
    assert plan.count("SinglePartition") == 1


def test_token_entropy_zero_shuffle(spark):
    """Entropy is a within-row statistic: ONE Arrow stage, no Exchange."""
    from tokenqc.checks import degeneracy

    df = spark.createDataFrame(
        [(1, [1, 2, 3])], "doc_id long, tokens array<int>"
    )
    plan = plan_of(degeneracy.token_entropy(df))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan


def test_token_kgram_repetition_zero_shuffle(spark):
    """Duplicated-k-gram fraction is a within-row statistic: ONE Arrow
    stage, no Exchange."""
    from tokenqc.checks import degeneracy

    df = spark.createDataFrame(
        [(1, list(range(10)))], "doc_id long, tokens array<int>"
    )
    plan = plan_of(degeneracy.token_kgram_repetition(df, k=4))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan


def test_length_buckets_partial_agg_single_exchange(spark):
    """The plan ledger moves <= tasks x sources x n_buckets rows: one
    hash exchange on (source, bucket) with map-side partial agg below."""
    from corpusops.textops import pack

    df = spark.createDataFrame(
        [("web", 100)], "source string, n_tok int"
    )
    plan = plan_of(pack.length_buckets(df))
    # one hash exchange (the formatted plan names each node twice:
    # tree line + detail header)
    assert plan.count("hashpartitioning") == 1
    assert "partial_count" in plan  # map-side combine below the exchange


def test_stratified_sample_window_is_boundary_bounded(spark):
    """The only Window ranks the BOUNDARY bucket, never the corpus: the
    threshold dim joins broadcast and exactly one Window survives, fed
    by the bucket-equality filter branch."""
    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(i, "web") for i in range(50)], "doc_id long, source string"
    )
    import re

    plan = plan_of(textqc.stratified_sample(df, {"web": 10}))
    # exactly one Window node (formatted plans name each node twice)
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_score_top_sample_window_is_boundary_bounded(spark):
    """Same shape pin as stratified_sample: the only Window ranks the
    boundary SCORE bucket, the threshold dim broadcasts."""
    import re

    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(i, "web", i / 100.0) for i in range(50)],
        "doc_id long, source string, q double",
    )
    plan = plan_of(textqc.score_top_sample(df, keep_ppm=200_000, score_col="q"))
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_degeneracy_fused_single_pass_zero_shuffle(spark):
    """Both facets enabled -> ONE fused zero-shuffle Arrow pass (the r6
    re-measured optimum: the corpus is read and crosses Arrow once —
    module docstring, checks/degeneracy.py). Pin: exactly one MapInArrow,
    NO Exchange anywhere; a single enabled facet still runs exactly one
    standalone pass."""
    import re

    from tokenqc.checks import degeneracy
    from tokenqc.checks.base import CheckConfig

    df = spark.createDataFrame(
        [(0, "doc-a", list(range(20)))],
        "partition_id int, doc_id string, tokens array<int>",
    )
    cfg = CheckConfig(
        n_partitions=4, checks=("degenerate",),
        min_entropy=1.5, max_dup_kgram_frac=0.2,
    )
    plan = plan_of(degeneracy.violations(df, cfg))
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1, plan
    one = CheckConfig(n_partitions=4, checks=("degenerate",), min_entropy=1.5)
    plan1 = plan_of(degeneracy.violations(df, one))
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan1, re.M)) == 1, plan1


def test_winnow_fingerprints_zero_shuffle(spark):
    """Fingerprinting is within-row: ONE Arrow stage, arrays cross once
    as a per-doc fps array, the explode is JVM-side — no Exchange."""
    from corpusops.textops import dedup

    df = spark.createDataFrame(
        [(1, list(range(20)))], "doc_id long, tokens array<int>"
    )
    plan = plan_of(dedup.winnow_fingerprints(df, k=4, w=4))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan


def test_corpus_datacard_aggregates_before_dup_join(spark):
    """The dup tree joins per-(digest, source) AGGREGATES, never per-doc
    rows, and nothing in the card needs a Window."""
    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(1, "a b c", "s")], "doc_id long, text string, source string"
    )
    plan = plan_of(textqc.corpus_datacard(df))
    assert "Window" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_score_weighted_sample_zero_shuffle(spark):
    """The soft sampler is row-local: filter in the scan stage, no
    Exchange, no Python."""
    from corpusops.textops import textqc

    df = spark.createDataFrame([(1, 0.5)], "doc_id long, quality_score double")
    plan = plan_of(textqc.score_weighted_sample(df))
    assert "Exchange" not in plan, plan
    # no Python evaluation nodes (the local-fixture scan node mentions
    # "PythonRDD" — that's createDataFrame, not the operator)
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_remap_tokens_zero_shuffle(spark):
    """The rewrite pass is ONE Arrow stage over the corpus — the
    bounded remap LUT ships as a broadcast variable, never a join."""
    from corpusops.textops import textqc

    remap = spark.createDataFrame([(1, 2)], "old_id int, new_id int")
    df = spark.createDataFrame([(0, [1, 1])], "doc_id long, tokens array<int>")
    plan = plan_of(textqc.remap_tokens(df, remap))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan


def test_window_chunks_zero_shuffle_no_python(spark):
    """Window chunking is sequence+explode+slice — all codegen'd JVM,
    sliced in the scan stage: no Exchange, no Python nodes."""
    from corpusops.textops import pack

    df = spark.createDataFrame([(0, list(range(10)))], "rn long, tokens array<int>")
    plan = plan_of(pack.window_chunks(df, size=4, stride=3))
    assert "Exchange" not in plan, plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_vocab_prune_plan_partial_agg_and_take_ordered(spark):
    """Frequency counts partial-aggregate map-side; the top-V is
    TakeOrderedAndProject (per-task heaps), never a vocab-wide sort."""
    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(i, list(range(i % 9))) for i in range(50)], "doc_id long, tokens array<int>"
    )
    plan = plan_of(textqc.vocab_prune_plan(df, keep_v=5))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "TakeOrderedAndProject" in plan


def test_boilerplate_scrub_text_crosses_one_exchange(spark):
    """Line text is hashed in place and only the final doc-side join
    moves text: every Exchange except the last join's doc side must
    carry no string line/text payload — the frequency tree and the
    position collection shuffle (id, source, pos, 16-byte digest) only."""
    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(i, f"s{i % 2}", "a\nb\nc") for i in range(20)],
        "doc_id long, source string, text string",
    )
    plan = plan_of(textqc.boilerplate_scrub(df, max_df=2))
    # the in-place hash: a transform(..., md5) projection, no posexplode
    # of raw line text feeding an exchange
    assert "md5" in plan
    # exactly one exchange may reference the doc text column: count the
    # Exchange operators whose input schema still carries __lines
    import re

    sections = re.split(r"\n\(\d+\) ", plan)
    exchanges_with_text = [
        s for s in sections if s.startswith("Exchange") and "__lines" in s
    ]
    n_exch = sum(1 for s in sections if s.startswith("Exchange"))
    assert n_exch >= 2  # freq agg + collect + final join exist
    assert len(exchanges_with_text) <= 1, plan


def test_dsir_weights_broadcast_model_no_text_shuffle(spark):
    """The bucket models join back broadcast (<= n_buckets rows) and no
    exchange carries the text column — features hash to longs in-row."""
    from pyspark.sql import functions as F

    from corpusops.textops import textqc

    df = spark.createDataFrame(
        [(i, "a few plain words here", i % 3 == 0) for i in range(30)],
        "doc_id long, text string, t boolean",
    )
    plan = plan_of(textqc.dsir_weights(df, F.col("t"), n_buckets=64))
    assert "BroadcastExchange" in plan
    import re

    sections = re.split(r"\n\(\d+\) ", plan)
    assert not any(
        s.startswith("Exchange") and "text" in s for s in sections
    ), plan


def test_zorder_key_no_shuffle_beyond_broadcast(spark, synth_dir):
    """zorder_key = one broadcast bounds row + in-row bit math: the
    key projection adds NO Exchange over the scan (the only exchange
    is the broadcast of the 1-row global min/max aggregate)."""
    from corpusops import layout

    df = spark.read.parquet(f"{synth_dir}/sequences.parquet").select(
        "n_tok", F.pmod(F.xxhash64("doc_id"), F.lit(251)).cast("int").alias("r2")
    )
    plan = plan_of(layout.zorder_key(df, cols=("n_tok", "r2"), bits=8))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no key-based shuffle of the data side anywhere: the only
    # exchanges are the codebook broadcast and the 1-row bounds
    # aggregate (SinglePartition)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_funnel_no_window_over_raw_stream(spark):
    """funnel_counts never runs a Window over the event stream — each
    stage is a partial-aggregated min; the only Window in the plan is
    the conv_ppm lag over the len(steps)-row summary."""
    import datetime as dt

    from corpusops import relops

    ev = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    plan = plan_of(relops.funnel_counts(ev, steps=("view", "click", "purchase")))
    # partial aggregation before every stage exchange
    assert "partial_min" in plan or "HashAggregate" in plan
    # exactly one Window operator (the 3-row summary lag)
    assert plan.count("Window") <= 2  # operator + its detail block


def test_clustering_audit_overlap_join_is_broadcast(spark):
    """The pairwise overlap self-join runs on the P-row range table and
    must broadcast (metadata-sized), never shuffle the data side."""
    from corpusops import layout

    df = spark.createDataFrame(
        [(i % 4, i) for i in range(100)], "p int, v int"
    )
    plan = plan_of(layout.clustering_audit(df, "p", "v"))
    assert "BroadcastExchange" in plan
