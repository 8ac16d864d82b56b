"""Unit tests per check operator: exact violation sets vs planted fixtures.

Mirrors the reference's expected-status ground truth (known-good /
known-bad items with exact expected verdicts, /root/reference/README.md)
— every planted bad row must be flagged, and nothing else.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tokenqc.checks import base as cb
from tokenqc.checks import completeness, format as format_check, invariant, referential, structural, uniqueness
from tokenqc.checks import degeneracy

CFG = cb.CheckConfig(n_partitions=16)


def _flagged_ids(df, facets, facet_name):
    f = next(x for x in facets if x.facet == facet_name)
    return df.where(f.cond)


def _planted_ids(seq_pa, idx):
    ids = seq_pa.column("doc_id").to_pylist()
    return sorted(ids[i] for i in idx if ids[i] is not None)


def test_completeness_facets(tables, seq_pa, expected):
    df = tables["sequences"]
    fs = completeness.facets(CFG)
    assert df.where(_cond(fs, "null_doc_id")).count() == len(expected.null_doc_id)
    assert df.where(_cond(fs, "null_tokens")).count() == len(expected.null_tokens)
    assert df.where(_cond(fs, "empty_tokens")).count() == len(expected.empty_tokens)
    assert df.where(_cond(fs, "null_n_tok")).count() == len(expected.null_ntok)
    assert df.where(_cond(fs, "null_source")).count() == len(expected.null_source)


def _cond(facets, name):
    return next(x for x in facets if x.facet == name).cond


def test_structural_exact_ids(tables, seq_pa, expected):
    df = tables["sequences"]
    fs = structural.facets(CFG)
    got = sorted(
        r.doc_id
        for r in df.where(_cond(fs, "ntok_mismatch")).select("doc_id").collect()
        if r.doc_id is not None
    )
    assert got == _planted_ids(seq_pa, expected.ntok_mismatch)
    assert df.where(_cond(fs, "negative_n_tok")).count() == 0


def test_format_exact_ids(tables, seq_pa, expected):
    df = tables["sequences"]
    fs = format_check.facets(CFG)
    got = sorted(r.doc_id for r in df.where(_cond(fs, "bad_doc_id")).select("doc_id").collect())
    assert got == _planted_ids(seq_pa, expected.bad_format)


def test_referential_exact(tables, expected):
    df = referential.attach(tables["sequences"], tables["allowed_sources"])
    fs = referential.facets(CFG)
    bad = df.where(_cond(fs, "unknown_source"))
    assert bad.count() == len(expected.rogue_source)
    assert {r.source for r in bad.select("source").distinct().collect()} == {"spam9"}


def test_uniqueness_exact(tables, seq_pa, expected):
    v = uniqueness.violations(tables["sequences"], CFG)
    got = sorted(r.doc_id for r in v.select("doc_id").collect())
    want = sorted({seq_pa.column("doc_id").to_pylist()[i] for i in expected.dup_pairs})
    assert got == want
    obs = {r.observed for r in v.collect()}
    assert obs == {"count=2"}


def test_uniqueness_salted_matches_plain(tables):
    plain = uniqueness.violations(tables["sequences"], CFG).select("doc_id", "observed")
    salted = uniqueness.violations(tables["sequences"], CFG, salt=8).select("doc_id", "observed")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_key_totals_feed_violations_and_row_totals(tables):
    """The once-per-run uniqueness frame gives both outputs exactly: its
    dup_key rows are the plain dup-count violations, and its
    per-partition sums are the per-partition row counts (NULL doc_ids
    included)."""
    seq = tables["sequences"]
    kt = uniqueness.key_totals(seq, CFG)
    cols = ["partition_id", "doc_id", "check_name", "observed", "expected"]
    got = uniqueness.violations(seq, CFG, key_totals=kt).select(*cols).collect()
    want = uniqueness.violations(seq, CFG).select(*cols).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and want
    totals = {r[0]: r[1] for r in kt.groupBy("partition_id").agg(F.sum("n")).collect()}
    counts = seq.groupBy(cb.partition_id_col(CFG).alias("p")).count().collect()
    assert totals == {r.p: r["count"] for r in counts}
    assert seq.where("doc_id is null").count() > 0


def test_key_totals_scan_the_input_once(tables, synth_dir):
    """One linear plan: the final plan of the persisted frame holds exactly
    one FileScan, of the input (AQE's plan string also prints the initial
    plan, which is not counted)."""
    kt = uniqueness.key_totals(tables["sequences"], CFG).persist()
    try:
        kt.count()
        plan = kt._jdf.queryExecution().executedPlan().toString()
    finally:
        kt.unpersist()
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    scans = [ln for ln in final.splitlines() if "FileScan" in ln]
    assert len(scans) == 1 and f"{synth_dir}/sequences.parquet" in scans[0]


def test_enumerate_rows_skewsafe_matches_window(spark, tables):
    """The skew-safe enumeration (agg + broadcast dup-dimension join,
    no per-key window) must emit the exact (doc_id → surplus count)
    multiset of the window formulation — including ties (identical
    tokens within a group) and a planted hot key."""
    from pyspark.sql import functions as F

    base = tables["sequences"].where("doc_id is not null").select("doc_id", "tokens")
    hot = base.limit(50).select(F.lit("hotdoc").alias("doc_id"), "tokens")
    df = base.unionByName(hot)  # hot key: 50 rows, mixed dup/distinct tokens
    plain = {
        (r.doc_id): r.c
        for r in uniqueness.enumerate_rows(df, CFG).groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    safe = {
        (r.doc_id): r.c
        for r in uniqueness.enumerate_rows_skewsafe(df, CFG).groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert plain == safe and plain["hotdoc"] == 49


def test_enumerate_rows_skewsafe_chunked_explode(spark, monkeypatch):
    """With the chunk size forced tiny, a large exact-duplicate group
    (ONE (doc_id, sig) group — the r4-ADVICE OOM case) must still emit
    exactly group-size-minus-one rows, spread over multiple chunks."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(uniqueness, "_EXPLODE_CHUNK", 7)
    df = spark.createDataFrame(
        [("hot", [1, 2, 3])] * 100 + [("cold", [i, i]) for i in range(5)],
        "doc_id string, tokens array<int>",
    )
    out = (
        uniqueness.enumerate_rows_skewsafe(df, CFG)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    assert {r.doc_id: r.c for r in out} == {"hot": 99, "cold": 4}


def test_enumerate_counts_matches_enumeration(tables):
    """sum(n_surplus) of the counts form == the enumerated row count,
    per key (the aggregate-only consumer contract)."""
    from pyspark.sql import functions as F

    df = tables["sequences"]
    counts = {
        r.doc_id: r.s
        for r in uniqueness.enumerate_counts(df, CFG)
        .groupBy("doc_id")
        .agg(F.sum("n_surplus").alias("s"))
        .collect()
    }
    enum = {
        r.doc_id: r.c
        for r in uniqueness.enumerate_rows(df, CFG)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert counts == enum and counts  # non-empty: fixtures plant dups


def test_enumerate_rows_auto_dispatch(spark, tables):
    """The auto dispatcher must pick the window on balanced keys and
    the skew-safe formulation past the hot-share threshold — via BOTH
    signals (the free violations-derived share and the sampled probe) —
    and the chosen branch must return the window form's exact multiset."""
    from pyspark.sql import functions as F

    balanced = spark.createDataFrame(
        [(f"d{i % 40}", [i]) for i in range(400)], "doc_id string, tokens array<int>"
    )
    hot = balanced.unionByName(
        spark.createDataFrame([("hot", [9, 9])] * 600, "doc_id string, tokens array<int>")
    )
    # engine flow: dispatch from the run's own violations output
    cold_v, hot_v = uniqueness.violations(balanced, CFG), uniqueness.violations(hot, CFG)
    assert uniqueness.hot_share_from_violations(cold_v, 400) <= 10 / 400
    assert uniqueness.hot_share_from_violations(hot_v, 1000) == 0.6
    cold_plan = uniqueness.enumerate_rows_auto(balanced, CFG, violations_df=cold_v, n_rows=400)
    hot_plan = uniqueness.enumerate_rows_auto(hot, CFG, violations_df=hot_v, n_rows=1000)
    cold_str = cold_plan._jdf.queryExecution().optimizedPlan().toString()
    hot_str = hot_plan._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in cold_str  # balanced → window formulation
    assert "Window" not in hot_str  # hot → skew-safe formulation
    # standalone flow: the sampled probe on a frame large enough that a
    # 2% sample is stable (6000 rows → ~120 sampled)
    big_hot = spark.createDataFrame(
        [(f"d{i}", [i]) for i in range(3000)] + [("hot", [7])] * 3000,
        "doc_id string, tokens array<int>",
    )
    assert uniqueness.probe_hot_share(big_hot) > 0.2
    hot_probe_plan = uniqueness.enumerate_rows_auto(big_hot, CFG)
    assert "Window" not in hot_probe_plan._jdf.queryExecution().optimizedPlan().toString()
    want = {
        r.doc_id: r.c
        for r in uniqueness.enumerate_rows(hot, CFG)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    got = {
        r.doc_id: r.c
        for r in hot_plan.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == want and want["hot"] == 599


def test_invariant_exact(tables, seq_pa, expected):
    v = invariant.violations(tables["sequences"], tables["reference_tokens"], CFG)
    got = sorted(r.doc_id for r in v.select("doc_id").collect())
    assert got == _planted_ids(seq_pa, expected.perturbed_ref)
    # exact-array mode agrees with the hash mode on this data
    v2 = invariant.violations(tables["sequences"], tables["reference_tokens"], CFG, exact=True)
    assert sorted(r.doc_id for r in v2.select("doc_id").collect()) == got


def test_invariant_repeated_reference_doc_id(spark):
    """A doc_id the reference repeats joins once: identical copies are one
    copy, conflicting copies are one mismatch, in hash and exact mode."""
    seq = spark.createDataFrame(
        [("a", [1, 2]), ("b", [3]), ("c", [4]), ("d", None), ("e", None)],
        "doc_id string, tokens array<int>",
    )
    ref = spark.createDataFrame(
        [("a", [1, 2])] * 3                   # identical copies, tokens equal
        + [("b", [3]), ("b", [3, 0])]          # conflicting copies
        + [("c", [5]), ("c", [5])]             # identical copies, tokens differ
        + [("d", None), ("d", None)]           # identical NULL copies
        + [("e", None), ("e", [])],            # NULL vs empty: exact mode only
        "doc_id string, tokens_ref array<int>",
    )
    got = sorted(r.doc_id for r in invariant.violations(seq, ref, CFG).collect())
    assert got == ["b", "c"]
    got = sorted(r.doc_id for r in invariant.violations(seq, ref, CFG, exact=True).collect())
    assert got == ["b", "c", "e"]

def test_assemble_violations_long_format(tables, expected):
    df = referential.attach(
        tables["sequences"], tables["allowed_sources"]
    ).withColumn("partition_id", cb.partition_id_col(CFG))
    facets = (
        completeness.facets(CFG)
        + structural.facets(CFG)
        + format_check.facets(CFG)
        + referential.facets(CFG)
    )
    viol = cb.assemble_violations(df, facets)
    counts = {r.check_name: r.cnt for r in viol.groupBy("check_name").agg(F.count("*").alias("cnt")).collect()}
    assert counts["format"] == len(expected.bad_format)
    assert counts["referential"] == len(expected.rogue_source)
    assert counts["structural"] == len(expected.ntok_mismatch)
    assert counts["completeness"] == (
        len(expected.null_doc_id)
        + len(expected.null_tokens)
        + len(expected.empty_tokens)
        + len(expected.null_ntok)
        + len(expected.null_source)
    )


# ---------------------------------------------------------------------------
# token-array lints (checks/tokens.py)
# ---------------------------------------------------------------------------
def test_token_lint_config_validation():
    import pytest

    with pytest.raises(ValueError):
        cb.CheckConfig(vocab_size=0)
    with pytest.raises(ValueError):
        cb.CheckConfig(max_token_run=1)
    # all-None (the default) is valid and yields zero facets
    from tokenqc.checks import tokens as token_lints

    assert token_lints.facets(cb.CheckConfig()) == []


def test_max_run_col(spark):
    from tokenqc.checks.tokens import max_run_col

    rows = [
        ("empty", []),
        ("one", [5]),
        ("tail3", [1, 1, 2, 2, 2]),
        ("nulls_break", [None, None, 3]),
        ("null_gap", [4, 4, None, 4, 4]),
        ("allnull", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {
        r.doc_id: r.mr
        for r in df.select("doc_id", max_run_col(F.col("tokens")).alias("mr")).collect()
    }
    assert got == {
        "empty": 0, "one": 1, "tail3": 3, "nulls_break": 1, "null_gap": 2, "allnull": 0,
    }


def test_token_lint_facets_exact(spark):
    """Planted fixture per facet; legal BOS-at-head / EOS-at-tail must NOT
    flag, and observed values carry the bounded evidence exactly."""
    from tokenqc.checks import tokens as token_lints

    cfg = cb.CheckConfig(n_partitions=4, vocab_size=100, bos_id=1, eos_id=2, max_token_run=3)
    rows = [
        ("ok", [1, 5, 6, 7, 2]),          # legal layout — clean
        ("oob", [1, 5, 100, -1, 107, 2]),  # three out-of-domain ids
        ("bos_mid", [1, 5, 1, 7, 2]),      # bos at absolute position 3
        ("eos_mid", [1, 2, 6, 7, 2]),      # eos at absolute position 2
        ("run", [5, 9, 9, 9, 2]),          # 3-run of 9s
        ("empty", []),
        ("nulltok", None),
    ]
    df = (
        spark.createDataFrame(rows, "doc_id string, tokens array<int>")
        .withColumn("partition_id", F.lit(0))
    )
    viol = cb.assemble_violations(df, token_lints.facets(cfg))
    got = {(r.doc_id, r.observed) for r in viol.collect()}
    assert got == {
        ("oob", "oob_token: 3@100,-1,107"),
        ("bos_mid", "bos_interior: 3"),
        ("eos_mid", "eos_interior: 2"),
        ("run", "long_run: 3"),
    }


# ---------------------------------------------------------------------------
# degenerate-content gate (checks/degeneracy.py)
# ---------------------------------------------------------------------------
def test_degeneracy_facets_opt_in_and_null_safe(spark):
    from tokenqc.checks import degeneracy
    from tokenqc.checks.base import CheckConfig

    df = spark.createDataFrame(
        [(0, "doc-a", [5] * 20), (1, "doc-b", [1, 2])],
        "partition_id int, doc_id string, tokens array<int>",
    )
    # nothing configured -> empty frame, standard schema, no Arrow job
    none_cfg = CheckConfig(n_partitions=4, checks=("degenerate",))
    out = degeneracy.violations(df, none_cfg)
    assert out.count() == 0
    assert out.columns == ["partition_id", "doc_id", "check_name", "observed", "expected"]
    # only repetitive configured: the sub-k row (NULL dup_kgram_frac)
    # must NOT flag — NULL-safe predicate
    rep_cfg = CheckConfig(
        n_partitions=4, checks=("degenerate",), max_dup_kgram_frac=0.2
    )
    rows = degeneracy.violations(df, rep_cfg).collect()
    assert {r.doc_id for r in rows} == {"doc-a"}
    assert rows[0].observed.startswith("repetitive: ")
    # config validation
    import pytest as _pytest

    with _pytest.raises(ValueError):
        CheckConfig(max_dup_kgram_frac=1.5)
    with _pytest.raises(ValueError):
        CheckConfig(min_entropy=-1.0)
    with _pytest.raises(ValueError):
        CheckConfig(degen_kgram_k=0)


def test_degeneracy_fused_equals_two_standalone_passes(spark):
    """r6 optimization pin: with BOTH facets enabled the gate runs one
    fused Arrow pass (degeneracy.token_degen_stats) — its violation rows
    must equal the union the two standalone ops produce, byte for byte
    (same rounded stats, same observed/expected strings), including the
    sub-k-row NULL and the single-token entropy-0 edge cases."""
    from pyspark.sql import functions as F

    from tokenqc.checks import degeneracy
    from tokenqc.checks.base import CheckConfig

    df = spark.createDataFrame(
        [
            (0, "doc-a", [5] * 20),             # entropy 0 + repetitive
            (1, "doc-b", [1, 2]),               # sub-k: kgram NULL
            (2, "doc-c", list(range(40)) * 3),  # healthy entropy, tiling
            (3, "doc-d", [7]),                  # single token
            (4, "doc-e", list(range(200))),     # clean
        ],
        "partition_id int, doc_id string, tokens array<int>",
    )
    cfg = CheckConfig(
        n_partitions=8, checks=("degenerate",),
        min_entropy=1.5, max_dup_kgram_frac=0.2,
    )
    fused = degeneracy.violations(df, cfg)
    ent = degeneracy.token_entropy(
        df, id_col="doc_id", min_entropy=1.5, carry_cols=("partition_id",)
    )
    rep = degeneracy.token_kgram_repetition(
        df, id_col="doc_id", k=cfg.degen_kgram_k, max_dup_frac=0.2,
        carry_cols=("partition_id",),
    )
    expected = degeneracy._rows(
        ent, F.col("low_entropy"), "low_entropy", F.col("entropy"),
        f"token unigram entropy >= {cfg.min_entropy}",
    ).unionByName(
        degeneracy._rows(
            rep, F.col("repetitive"), "repetitive", F.col("dup_kgram_frac"),
            f"duplicated {cfg.degen_kgram_k}-gram fraction <= "
            f"{cfg.max_dup_kgram_frac}",
        )
    )
    got = sorted(map(tuple, fused.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want and len(got) >= 3, (got, want)
    # the fused stats themselves match the standalone ops row-for-row
    st = degeneracy.token_degen_stats(df, id_col="doc_id").collect()
    ent_by_id = {r.doc_id: r for r in ent.collect()}
    rep_by_id = {r.doc_id: r for r in rep.collect()}
    for r in st:
        assert r.entropy == ent_by_id[r.doc_id].entropy
        if r.doc_id in rep_by_id:
            assert r.dup_kgram_frac == rep_by_id[r.doc_id].dup_kgram_frac
        else:
            assert r.dup_kgram_frac is None


def test_robust_outliers_discrete_fences(spark):
    from corpusops import checks as stats

    rows = [(i, "web", v) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 100])]
    rows += [(100, "books", 50), (101, "books", 51), (102, None, 999),
             (103, "web", None)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    out = stats.robust_outliers(df).collect()
    # web: n=9 -> q1 = value at ceil(2.25)=3rd = 3, q3 at ceil(6.75)=7th = 7
    # IQR 4 -> fence [3-12, 7+12] = [-9, 19]: only 100 flags
    assert len(out) == 1
    r = out[0]
    assert (r.doc_id, r.n_tok, r.q1, r.q3, r.lo, r.hi) == (8, 100, 3, 7, -9.0, 19.0)
    # null source / null value rows never flag; 2-row books group has
    # q1 = q3 = 50? n=2: ceil(0.5)=1 -> q1=50, ceil(1.5)=2 -> q3=51,
    # IQR 1 -> [47, 54]: nothing flags
    tight = stats.robust_outliers(df, k=0.0).collect()
    # k=0: fence collapses to [q1, q3]; web flags 1,2 (<3) and 8,100 (>7)
    web = {r.doc_id for r in tight if r.source == "web"}
    assert web == {0, 1, 7, 8}


# ---------------------------------------------------------------------------
# structural snapshot diff
# ---------------------------------------------------------------------------
def test_table_diff_all_verdicts(spark):
    """Every verdict branch + the __null__ sentinel, hand-computed."""
    from tokenqc.checks import snapshot

    cur = spark.createDataFrame(
        [("web",)] * 10 + [("spam",)] * 9 + [("books",)] * 3
        + [("code",)] * 4 + [(None,)] * 2,
        "source string",
    )
    base = spark.createDataFrame(
        [("web",)] * 10 + [("spam",)] * 4 + [("code",)] * 6
        + [("legacy",)] * 5 + [(None,)] * 2,
        "source string",
    )
    out = {r["key"]: r for r in snapshot.table_diff(cur, base).collect()}
    assert out["web"]["verdict"] == "STABLE" and out["web"]["delta"] == 0
    # spam 4 -> 9: +125% > the 50% warn threshold
    assert out["spam"]["verdict"] == "GROWN"
    assert out["spam"]["delta_ppm"] == 5 * 1_000_000 // 4
    assert out["books"]["verdict"] == "NEW_KEY"
    assert out["books"]["n_base"] is None and out["books"]["delta_ppm"] is None
    assert out["code"]["verdict"] == "SHRUNK" and out["code"]["delta"] == -2
    assert out["legacy"]["verdict"] == "DROPPED_KEY" and out["legacy"]["delta"] == -5
    assert out["__null__"]["verdict"] == "STABLE"
    # threshold is a parameter: at 10% warn, web's 0% stays STABLE but
    # a +25% source would flag — verify via grow_warn_ppm=200_000 on spam
    loose = {
        r["key"]: r["verdict"]
        for r in snapshot.table_diff(cur, base, grow_warn_ppm=2_000_000).collect()
    }
    assert loose["spam"] == "STABLE"


def test_schema_diff_metadata_only(spark):
    from tokenqc.checks import snapshot

    cur = spark.createDataFrame([], "a int, b string, c double")
    base = spark.createDataFrame([], "a bigint, b string, d string")
    out = {r["column"]: r for r in snapshot.schema_diff(cur, base).collect()}
    assert out["a"]["change"] == "TYPE_CHANGED"
    assert (out["a"]["cur_type"], out["a"]["base_type"]) == ("int", "bigint")
    # bigint -> int is a NARROWING: breaking, not a safe widening
    assert out["a"]["compat"] == "BREAKING"
    assert out["c"]["change"] == "ADDED" and out["c"]["base_type"] is None
    assert out["c"]["compat"] == "COMPATIBLE"
    assert out["d"]["change"] == "DROPPED" and out["d"]["cur_type"] is None
    assert out["d"]["compat"] == "BREAKING"
    assert "b" not in out
    # identical schemas -> empty diff
    assert snapshot.schema_diff(cur, cur).count() == 0
    # the Iceberg-safe promotions grade WIDENED
    w = {r["column"]: r["compat"] for r in snapshot.schema_diff(
        spark.createDataFrame([], "a bigint, f double, s string"),
        spark.createDataFrame([], "a int, f float, s string"),
    ).collect()}
    assert w == {"a": "WIDENED", "f": "WIDENED"}


def test_row_diff_hand_computed(spark):
    """Added/removed/common per key; duplicate ingests collapse under
    DISTINCT; no-baseline key has NULL churn; all-removed key churns
    at exactly 10^6."""
    from tokenqc.checks import snapshot

    cur = spark.createDataFrame(
        [("web", 1), ("web", 2), ("web", 2), ("web", 3),
         ("new", 9),
         (None, 5)],
        "source string, rid long",
    )
    base = spark.createDataFrame(
        [("web", 2), ("web", 3), ("web", 4),
         ("gone", 7), ("gone", 8),
         (None, 5)],
        "source string, rid long",
    )
    out = {r["key"]: r for r in
           snapshot.row_diff(cur, base, digest_col="rid").collect()}
    w = out["web"]
    assert (w["n_added"], w["n_removed"], w["n_common"]) == (1, 1, 2)
    assert w["churn_ppm"] == 2 * 1_000_000 // 3
    assert out["new"]["churn_ppm"] is None and out["new"]["n_added"] == 1
    g = out["gone"]
    assert (g["n_added"], g["n_removed"], g["n_common"]) == (0, 2, 0)
    assert g["churn_ppm"] == 1_000_000
    assert out["__null__"]["n_common"] == 1 and out["__null__"]["churn_ppm"] == 0


# ---------------------------------------------------------------------------
# token entropy gate
# ---------------------------------------------------------------------------
def test_token_entropy_flags_degenerate(spark):
    import math

    rows = [
        (0, [5, 5, 5, 5]),          # degenerate: entropy 0
        (1, [1, 2, 3, 4]),          # ln(4) ~ 1.386 < 1.5 -> flagged
        (2, list(range(100))),      # ln(100) ~ 4.6 -> clean
        (3, [1, 1, 2, 2]),          # ln(2)
        (4, []),                    # excluded
        (5, None),                  # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r.doc_id: r for r in degeneracy.token_entropy(df).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0].entropy == 0.0 and out[0].low_entropy and out[0].n_distinct == 1
    assert out[1].entropy == round(math.log(4), 6) and out[1].low_entropy
    assert out[2].entropy == round(math.log(100), 6) and not out[2].low_entropy
    assert out[3].entropy == round(math.log(2), 6)
    assert out[3].distinct_ratio == 0.5 and out[2].distinct_ratio == 1.0


# ---------------------------------------------------------------------------
# duplicated k-gram fraction (Gopher repetition rule over tokens)
# ---------------------------------------------------------------------------
def test_token_kgram_repetition_stats(spark):
    rows = [
        (0, list(range(20))),    # all distinct -> every window distinct
        (1, [1, 2, 3, 4] * 10),  # period-4 tile: 33 windows, 4 distinct
        (2, [7] * 12),           # constant: 5 windows, 1 distinct
        (3, [1, 2, 3]),          # < k -> excluded (no window exists)
        (4, None),               # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r.doc_id: r for r in degeneracy.token_kgram_repetition(df, k=8).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].dup_kgram_frac == 0.0 and not out[0].repetitive
    assert out[0].n_kgrams == 13 and out[0].n_distinct_kgrams == 13
    r1 = out[1]
    assert r1.n_tok == 40 and r1.n_kgrams == 33 and r1.n_distinct_kgrams == 4
    assert r1.dup_kgram_frac == round(1 - 4 / 33, 6) and r1.repetitive
    r2 = out[2]
    assert r2.n_kgrams == 5 and r2.n_distinct_kgrams == 1
    assert r2.dup_kgram_frac == 0.8 and r2.repetitive


def test_token_kgram_repetition_order_sensitive(spark):
    # same multiset of windows' tokens, different order -> different
    # window sets: the polynomial hash keeps positional sensitivity
    rows = [(0, [1, 2, 3, 1, 2, 3]), (1, [3, 2, 1, 3, 2, 1])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r.doc_id: r for r in degeneracy.token_kgram_repetition(df, k=3).collect()}
    # both tile with period 3: 4 windows, 3 distinct phases
    assert out[0].n_distinct_kgrams == 3 and out[1].n_distinct_kgrams == 3
    assert out[0].dup_kgram_frac == 0.25
