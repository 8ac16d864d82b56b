"""Sequence packing: distributed prefix-sum offsets + pack chunking
(tokenqc/textops/pack.py). The invariants that matter at scale:

- offsets equal the single-node cumulative sum for ANY partition count
  (range-partition boundaries must cancel out);
- spans partition each doc exactly (contiguous, sum to n_tok) and tile
  every non-final pack to exactly `cap` tokens;
- the physical plan contains NO global window and NO data-sized shuffle
  beyond the one range exchange.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from corpusops.textops import pack


def _mk(spark, n=500, seed=7, parts=None):
    rnd = random.Random(seed)
    rows = [(i, rnd.choice([0, 1, 3, 17, 120, 997, 2048, 5000])) for i in range(n)]
    df = spark.createDataFrame(rows, "rn long, n_tok int")
    return rows, (df.repartition(parts) if parts else df)


def test_token_offsets_match_cumsum_any_partitioning(spark):
    rows, df = _mk(spark)
    want = {}
    acc = 0
    for rn, n in rows:
        want[rn] = acc
        acc += n
    for num_partitions in (1, 3, 8, 64):
        got = {
            r.rn: r.offset
            for r in pack.token_offsets(
                df, order_cols=("rn",), num_partitions=num_partitions
            ).collect()
        }
        assert got == want, f"num_partitions={num_partitions}"


def test_token_offsets_independent_of_input_layout(spark):
    rows, df_shuffled = _mk(spark, parts=13)
    base = {
        r.rn: r.offset for r in pack.token_offsets(df_shuffled, ("rn",)).collect()
    }
    _, df_plain = _mk(spark)
    plain = {r.rn: r.offset for r in pack.token_offsets(df_plain, ("rn",)).collect()}
    assert base == plain


def test_pack_assignment_fields(spark):
    _, df = _mk(spark)
    out = pack.pack_assignment(df, cap=2048, order_cols=("rn",))
    rows = out.collect()
    for r in rows:
        assert r.pack_id == r.offset // 2048
        assert r.pack_pos == r.offset % 2048


def test_chunk_spans_partition_each_doc_and_tile_packs(spark):
    rows, df = _mk(spark)
    spans = pack.chunk_spans(df, cap=2048, order_cols=("rn",)).collect()
    # per-doc: spans contiguous in pack order, lens sum to n_tok
    by_doc: dict[int, list] = {}
    for s in spans:
        by_doc.setdefault(s.rn, []).append(s)
    n_of = dict(rows)
    for rn, ss in by_doc.items():
        ss.sort(key=lambda s: s.pack_id)
        assert sum(s.len for s in ss) == n_of[rn]
        assert all(s.len > 0 for s in ss)
        # middle spans start at 0; only the first span may start mid-pack
        for s in ss[1:]:
            assert s.start == 0
    # zero-token docs emit nothing
    for rn, n in rows:
        if n == 0:
            assert rn not in by_doc
    # packs: every pack except the last is covered by exactly cap tokens
    per_pack: dict[int, int] = {}
    for s in spans:
        per_pack[s.pack_id] = per_pack.get(s.pack_id, 0) + s.len
    last = max(per_pack)
    for pid, tot in per_pack.items():
        assert tot == (2048 if pid != last else sum(n for _, n in rows) - 2048 * last)


def test_chunk_spans_rejects_bad_cap(spark):
    _, df = _mk(spark, n=10)
    with pytest.raises(ValueError):
        pack.chunk_spans(df, cap=0)
    with pytest.raises(ValueError):
        pack.pack_assignment(df, cap=-5)


def test_token_offsets_plan_has_no_global_window(spark):
    """The scale contract: one RangePartitioning exchange for the data,
    a MapInPandas local scan, a broadcast join for the bases — and never
    a partition-less Window (the single-task scale-killer) nor a
    hash-repartition of the data by partition id."""
    import re

    _, df = _mk(spark, n=200)
    out = pack.token_offsets(df, ("rn",), num_partitions=8)
    jvm = out.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    assert "Window" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only exchanges: the range partition + tiny broadcast; the big
    # side must NOT hash-shuffle again after the range exchange
    # (match the bare partitioning spec: formatted mode puts it on an
    # "Arguments:" line, so "Exchange hashpartitioning" never occurs)
    hash_ex = re.findall(r"hashpartitioning\([^)]*\)", plan)
    assert not hash_ex, hash_ex


def test_stream_offsets_restart_per_stream(spark):
    """stream_col: every stream's offsets are an independent exclusive
    prefix sum over the order key — verified against per-stream python
    cumsums on a multi-stream frame, across partition counts."""
    rnd = random.Random(11)
    rows = [
        (i, rnd.choice(["a", "bb", "c"]), rnd.choice([0, 1, 5, 40, 1000]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "rn long, src string, n_tok int")
    want: dict[int, int] = {}
    acc: dict[str, int] = {}
    for rn, s, n in rows:  # rows already in rn order
        want[rn] = acc.get(s, 0)
        acc[s] = acc.get(s, 0) + n
    for parts in (1, 5, 32):
        got = {
            r.rn: r.offset
            for r in pack.token_offsets(
                df, ("rn",), num_partitions=parts, stream_col="src"
            ).collect()
        }
        assert got == want, f"parts={parts}"


def test_stream_pack_never_mixes_streams(spark):
    rows = [(i, "s" + str(i % 2), 700) for i in range(40)]
    df = spark.createDataFrame(rows, "rn long, src string, n_tok int")
    out = pack.pack_assignment(df, cap=2048, order_cols=("rn",), stream_col="src")
    spans = pack.chunk_spans(df, cap=2048, order_cols=("rn",), stream_col="src")
    # per (stream, pack) coverage: all non-final packs tile to exactly cap
    per = {}
    for r in spans.collect():
        per[(r.src, r.pack_id)] = per.get((r.src, r.pack_id), 0) + r.len
    for s in ("s0", "s1"):
        packs = sorted(p for (src, p) in per if src == s)
        total = 700 * 20
        for p in packs[:-1]:
            assert per[(s, p)] == 2048
        assert per[(s, packs[-1])] == total - 2048 * packs[-1]
    # offsets restart per stream
    firsts = {r.src: r.offset for r in out.where(F.col("rn") < 2).collect()}
    assert firsts == {"s0": 0, "s1": 0}


def test_stream_cardinality_guard(spark):
    """The per-stream driver prefix is P × streams rows — a
    high-cardinality stream key must be rejected loudly (pack.py guard,
    VERDICT r3 #5), never silently collected."""
    rows = [(i, f"s{i % 10}", 5) for i in range(100)]
    df = spark.createDataFrame(rows, "rn long, src string, n_tok int")
    with pytest.raises(ValueError, match="max_streams"):
        pack.token_offsets(df, ("rn",), stream_col="src", max_streams=3)
    # at/below the bound it runs (the guard count is exact)
    assert pack.token_offsets(df, ("rn",), stream_col="src", max_streams=10).count() == 100


def _py_pack(rows, cap):
    """Reference packing: concatenate tokens in rn order, slice every cap."""
    stream = []
    for _rn, toks in rows:
        stream.extend(toks)
    return {
        pid: stream[pid * cap : (pid + 1) * cap]
        for pid in range((len(stream) + cap - 1) // cap)
    }


def test_pack_tokens_materializes_exact_packs(spark):
    """pack_tokens must reproduce the definitional single-node packing —
    every pack byte-identical, every non-final pack exactly cap long —
    for any partition count (assembly order is restored by the in-pack
    position sort, not by collect_list luck)."""
    rnd = random.Random(23)
    rows = [
        (i, [rnd.randrange(1000) for _ in range(rnd.choice([0, 1, 3, 7, 20, 53]))])
        for i in range(120)
    ]
    df = spark.createDataFrame(
        [(rn, toks, len(toks)) for rn, toks in rows], "rn long, tokens array<int>, nt int"
    )
    want = _py_pack(rows, cap=17)
    for parts in (1, 4, 16):
        out = pack.pack_tokens(
            df.repartition(parts), cap=17, order_cols=("rn",), tokens_col="tokens", n_col="nt"
        )
        got = {r.pack_id: list(r.tokens) for r in out.collect()}
        assert got == want, f"parts={parts}"
        sizes = {r.pack_id: r.n_tokens for r in out.collect()}
        last = max(sizes)
        assert all(s == 17 for p, s in sizes.items() if p != last)


def test_epoch_order_deterministic_and_spread(spark):
    """epoch_order: same seed → identical keys; different seeds → a
    different permutation; keys are distinct per pack (md5 of distinct
    ids) so the sort order is total."""
    df = spark.createDataFrame([(i,) for i in range(50)], "pack_id long")
    k17a = {r.pack_id: r.epoch_key for r in pack.epoch_order(df, 17).collect()}
    k17b = {r.pack_id: r.epoch_key for r in pack.epoch_order(df, 17).collect()}
    k18 = {r.pack_id: r.epoch_key for r in pack.epoch_order(df, 18).collect()}
    assert k17a == k17b
    assert len(set(k17a.values())) == 50
    order17 = sorted(k17a, key=k17a.get)
    order18 = sorted(k18, key=k18.get)
    assert order17 != order18 and order17 != list(range(50))


def test_pack_tokens_plan_shape(spark):
    """Scale shape: exactly ONE hashpartitioning on pack_id assembles the
    packs; no partition-less Window anywhere; and the token arrays never
    enter the Python prefix-sum scan — the MapInPandas node's schema is
    the slim (order, n) projection (arrays ride only the JVM-side offset
    join and the assembly shuffle)."""
    import re

    rnd = random.Random(5)
    rows = [(i, [rnd.randrange(100) for _ in range(10)], 10) for i in range(50)]
    df = spark.createDataFrame(rows, "rn long, tokens array<int>, nt int")
    out = pack.pack_tokens(df, cap=64, order_cols=("rn",), tokens_col="tokens", n_col="nt")
    jvm = out.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    assert "Window" not in plan, plan
    # formatted mode details exchanges as "Arguments: hashpartitioning(...)"
    pack_ex = [e for e in re.findall(r"hashpartitioning\([^)]*\)", plan) if "pack_id" in e]
    assert len(pack_ex) == 1, plan
    mip = re.search(r"MapInPandas[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert mip is not None, plan
    assert "tokens" not in mip.group(1), mip.group(1)


# ---------------------------------------------------------------------------
# shard_plan: deterministic shard layout
# ---------------------------------------------------------------------------
def test_shard_plan_partition_invariant_and_dense(spark):
    """The layout is a pure function of the data: identical (shard_id,
    pos_in_shard) for every row at ANY partitioning, positions dense
    0..n_s-1 per shard, membership matching the md5 arithmetic."""
    import hashlib

    from corpusops.textops import pack

    rows = [(i,) for i in range(400)]
    df = spark.createDataFrame(rows, "pack_id long")
    a = {
        r.pack_id: (r.shard_id, r.pos_in_shard)
        for r in pack.shard_plan(df, 4, num_partitions=3).collect()
    }
    b = {
        r.pack_id: (r.shard_id, r.pos_in_shard)
        for r in pack.shard_plan(df.repartition(13), 4, num_partitions=11).collect()
    }
    assert a == b
    # independent python re-derivation
    def key(i):
        return hashlib.md5(f"shard-v1|{i}".encode()).hexdigest()

    for i in range(400):
        sid = int(key(i)[:8], 16) % 4
        assert a[i][0] == sid
    for s in range(4):
        pos = sorted(p for i, (sid, p) in a.items() if sid == s)
        assert pos == list(range(len(pos)))
        ids = sorted((i for i in range(400) if a[i][0] == s), key=key)
        assert [a[i][1] for i in ids] == list(range(len(ids)))


def test_shard_plan_validates_n_shards(spark):
    import pytest as _pytest

    from corpusops.textops import pack

    df = spark.createDataFrame([(1,)], "pack_id long")
    with _pytest.raises(ValueError):
        pack.shard_plan(df, 0)
    out = pack.shard_plan(df, 1).collect()
    assert out[0].shard_id == 0 and out[0].pos_in_shard == 0


# ---------------------------------------------------------------------------
# interleave_plan: deterministic mixture-ordered read plan
# ---------------------------------------------------------------------------
def test_interleave_plan_stride_property_and_invariance(spark):
    """After any virtual-time prefix K, source s has contributed exactly
    min(floor(K / stride_s), |s|) rows — the WFQ guarantee; the plan is
    a pure function of the data at any partitioning."""
    import hashlib

    from corpusops.textops import pack

    rows = [(i, ["web", "books", "wiki", "web", "web", "code"][i % 6]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"web": 3, "books": 1, "wiki": 2}  # lcm 6 -> strides 2/6/3
    a = {
        r.doc_id: (r.source, r.rank_in_source, r.order_key)
        for r in pack.interleave_plan(df, weights, num_partitions=3).collect()
    }
    b = {
        r.doc_id: (r.source, r.rank_in_source, r.order_key)
        for r in pack.interleave_plan(
            df.repartition(13), weights, num_partitions=11
        ).collect()
    }
    assert a == b
    # code is not in the mixture
    assert all(s != "code" for s, _, _ in a.values())
    strides = {"web": 2, "books": 6, "wiki": 3}
    counts = {s: sum(1 for t, _, _ in a.values() if t == s) for s in strides}
    # independent python re-derivation of ranks
    def key(i):
        return hashlib.md5(f"interleave-v1|{i}".encode()).hexdigest()

    for s in strides:
        ids = sorted(
            (i for i, (t, _, _) in a.items() if t == s), key=key
        )
        for rank0, i in enumerate(ids):
            assert a[i][1] == rank0 + 1
            assert a[i][2] == (rank0 + 1) * strides[s]
    # WFQ prefix property at several cutoffs
    for K in (6, 60, 300, 1200):
        for s, stride in strides.items():
            got = sum(1 for t, _, k in a.values() if t == s and k <= K)
            assert got == min(K // stride, counts[s]), (K, s)


def test_interleave_plan_validates_weights(spark):
    import pytest as _pytest

    from corpusops.textops import pack

    df = spark.createDataFrame([(1, "web")], "doc_id long, source string")
    with _pytest.raises(ValueError):
        pack.interleave_plan(df, {})
    with _pytest.raises(ValueError):
        pack.interleave_plan(df, {"web": 0})
    with _pytest.raises(ValueError):
        pack.interleave_plan(df, {"web": 1.5})
    with _pytest.raises(ValueError):
        # 15 pairwise-coprime ~4-digit primes: lcm blows past 1e9
        pack.interleave_plan(
            df, {f"s{i}": p for i, p in enumerate(
                [1009, 1013, 1019, 1021, 1031, 1033, 1039, 1049, 1051, 1061]
            )}
        )


def test_pack_audit_clean_plan_is_all_zero(spark):
    from corpusops.textops import pack

    src = spark.createDataFrame(
        [(i, n) for i, n in enumerate([7, 3, 10, 5, 5, 4])], "rn long, n_tok int"
    )
    sp = pack.chunk_spans(src, cap=10, order_cols=("rn",))
    out = {r.check_name: (r.n_checked, r.n_bad) for r in
           pack.pack_audit(sp, src, cap=10).collect()}
    assert set(out) == {"doc_coverage", "span_bounds", "pack_tiling", "pack_fill"}
    assert all(bad == 0 for _, bad in out.values()), out
    assert out["doc_coverage"][0] == 6
    # 34 tokens at cap 10 -> packs 0..3
    assert out["pack_tiling"][0] == 4


def test_pack_audit_flags_each_corruption(spark):
    from pyspark.sql import functions as F

    from corpusops.textops import pack

    src = spark.createDataFrame(
        [(i, n) for i, n in enumerate([7, 3, 10, 5, 5, 4])], "rn long, n_tok int"
    )
    sp = pack.chunk_spans(src, cap=10, order_cols=("rn",))

    def audit(s):
        return {r.check_name: r.n_bad for r in pack.pack_audit(s, src, cap=10).collect()}

    # dropped doc: coverage bad, and its pack gains a seam or short fill
    dropped = audit(sp.where(F.col("rn") != 1))
    assert dropped["doc_coverage"] == 1
    assert dropped["pack_tiling"] >= 1 or dropped["pack_fill"] >= 1
    # inflated len: coverage + fill flag; bounds may also flag
    longer = audit(sp.withColumn(
        "len", F.when(F.col("rn") == 2, F.col("len") + 1).otherwise(F.col("len"))))
    assert longer["doc_coverage"] == 1 and longer["pack_fill"] >= 1
    # shifted start: tiling seam, never a coverage change
    shifted = audit(sp.withColumn(
        "start", F.when((F.col("rn") == 0) & (F.col("pack_id") == 0),
                        F.col("start") + 1).otherwise(F.col("start"))))
    assert shifted["doc_coverage"] == 0 and shifted["pack_tiling"] >= 1
    # out-of-bounds span
    oob = audit(sp.withColumn(
        "start", F.when(F.col("rn") == 3, F.lit(9)).otherwise(F.col("start"))))
    assert oob["span_bounds"] >= 1
    import pytest

    with pytest.raises(ValueError):
        pack.pack_audit(sp, src, cap=0)


def test_window_chunks_semantics(spark):
    import pytest

    from corpusops.textops import pack

    df = spark.createDataFrame(
        [(0, list(range(10))), (1, list(range(4))), (2, []), (3, None)],
        "rn long, tokens array<int>",
    )
    out = [r for r in pack.window_chunks(df, size=4, stride=3).collect()]
    by = {}
    for r in out:
        by.setdefault(r.rn, []).append(r)
    # doc 0: starts 0,3,6,9 -> lens 4,4,4,1
    c0 = sorted(by[0], key=lambda r: r.chunk_id)
    assert [(r.start, r.chunk_len, list(r.chunk)) for r in c0] == [
        (0, 4, [0, 1, 2, 3]), (3, 4, [3, 4, 5, 6]), (6, 4, [6, 7, 8, 9]), (9, 1, [9]),
    ]
    # coverage: every token in >= 1 chunk; overlap = size - stride
    seen = sorted({t for r in c0 for t in r.chunk})
    assert seen == list(range(10))
    assert by[1][0].chunk_len == 4 and len(by[1]) == 2
    assert 2 not in by and 3 not in by
    # drop-last contract
    full = pack.window_chunks(df, size=4, stride=3, keep_tail=False).collect()
    assert all(r.chunk_len == 4 for r in full)
    assert len([r for r in full if r.rn == 0]) == 3
    # disjoint when stride == size
    dj = [r for r in pack.window_chunks(df, size=5).collect() if r.rn == 0]
    assert [list(r.chunk) for r in sorted(dj, key=lambda r: r.chunk_id)] == [
        [0, 1, 2, 3, 4], [5, 6, 7, 8, 9],
    ]
    with pytest.raises(ValueError):
        pack.window_chunks(df, size=0)
    with pytest.raises(ValueError):
        pack.window_chunks(df, size=4, stride=5)
