"""Table-layout validation: clustering audit + Z-order keys."""
from __future__ import annotations


def test_clustering_audit_hand_computed(spark):
    """Disjoint ranges -> 0 overlaps; identical ranges all overlap;
    boundary-touching closed intervals overlap; nulls excluded."""
    from corpusops import layout

    rows = (
        [(0, v) for v in (1, 10)]      # [1,10]
        + [(1, v) for v in (10, 20)]   # [10,20] touches part 0 at 10
        + [(2, v) for v in (30, 40)]   # disjoint
        + [(3, None)]                  # null-only partition vanishes
    )
    df = spark.createDataFrame(rows, "p int, v int")
    out = {r["part"]: r for r in layout.clustering_audit(df, "p", "v").collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["n_overlaps"] == 1 and out[1]["n_overlaps"] == 1
    assert out[2]["n_overlaps"] == 0
    assert (out[0]["lo"], out[0]["hi"], out[0]["n_rows"]) == (1, 10, 2)


def test_zorder_key_hand_computed(spark):
    """Bit interleave pinned: with 2-bit cells and values already on
    the 0..3 grid, the cell map is identity and the key is the classic
    Morton number; null column -> null key."""
    from corpusops import layout

    rows = [(i, x, y) for i, (x, y) in enumerate(
        [(0, 0), (3, 0), (0, 3), (3, 3), (1, 2), (None, 1)]
    )]
    df = spark.createDataFrame(rows, "rid long, x int, y int")
    out = {r["rid"]: r["zkey"] for r in
           layout.zorder_key(df, cols=("x", "y"), bits=2).collect()}
    # x occupies even bit positions, y odd: z = interleave(x, y)
    def morton(x, y):
        return sum(((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
                   for i in range(2))
    assert out[0] == morton(0, 0) == 0
    assert out[1] == morton(3, 0) == 5
    assert out[2] == morton(0, 3) == 10
    assert out[3] == morton(3, 3) == 15
    assert out[4] == morton(1, 2) == 9
    assert out[5] is None


def test_zorder_key_guards(spark):
    import pytest
    from corpusops import layout

    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError):
        layout.zorder_key(df, cols=("a",))
    with pytest.raises(ValueError):
        layout.zorder_key(df, cols=("a", "b"), bits=32)  # 64 > 63
