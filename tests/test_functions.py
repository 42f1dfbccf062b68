"""Tensor-function surface tests (SURVEY §2.C parity) + date_bin."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

import ella_spark.functions as T


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.0, -1.0, None], [1.0, 1.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "id long, a array<double>, b array<double>")


def test_arith_ops(vec_df):
    out = vec_df.where("id = 1").select(
        T.t_add(F.col("a"), F.col("b")).alias("add"),
        T.t_mul(F.col("a"), F.col("b")).alias("mul"),
        T.t_scale(F.col("a"), 2.0).alias("scale"),
        T.t_neg(F.col("a")).alias("neg"),
    ).first()
    assert out["add"] == [5.0, 7.0, 9.0]
    assert out["mul"] == [4.0, 10.0, 18.0]
    assert out["scale"] == [2.0, 4.0, 6.0]
    assert out["neg"] == [-1.0, -2.0, -3.0]


def test_unary_math(vec_df):
    out = vec_df.where("id = 1").select(T.t_sqrt(F.col("a")).alias("s")).first()
    assert out["s"] == pytest.approx([1.0, math.sqrt(2), math.sqrt(3)])


def test_cmp_and_boolean_reduce(vec_df):
    out = vec_df.where("id = 1").select(
        T.t_lt(F.col("a"), F.col("b")).alias("lt"),
        T.t_all(T.t_lt(F.col("a"), F.col("b"))).alias("all_lt"),
        T.t_any(T.t_gt(F.col("a"), F.col("b"))).alias("any_gt"),
    ).first()
    assert out["lt"] == [True, True, True]
    assert out["all_lt"] is True and out["any_gt"] is False


def test_reductions(vec_df):
    out = vec_df.where("id = 1").select(
        T.t_sum(F.col("a")).alias("s"),
        T.t_mean(F.col("a")).alias("m"),
        T.t_dot(F.col("a"), F.col("b")).alias("d"),
        T.t_norm(F.col("a")).alias("n"),
    ).first()
    assert out["s"] == 6.0 and out["m"] == 2.0
    assert out["d"] == 32.0
    assert out["n"] == pytest.approx(math.sqrt(14))


def test_mask_ops(vec_df):
    out = vec_df.where("id = 2").select(
        T.t_fill_masked(F.col("a"), 0.0).alias("filled"),
        T.t_compress(F.col("a")).alias("compressed"),
    ).first()
    assert out["filled"] == [0.0, -1.0, 0.0]
    assert out["compressed"] == [0.0, -1.0]


def test_slice_index_concat(vec_df):
    out = vec_df.where("id = 1").select(
        T.t_slice(F.col("a"), 2, 2).alias("sl"),
        T.t_index(F.col("a"), 3).alias("ix"),
        T.t_concat(F.col("a"), F.col("b")).alias("cc"),
    ).first()
    assert out["sl"] == [2.0, 3.0]
    assert out["ix"] == 3.0
    assert out["cc"] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]


def test_date_bin_and_trunc(spark):
    ns = 1_000_000_000
    df = spark.createDataFrame(
        [(0,), (4 * ns,), (5 * ns,), (61 * ns,), (1_700_000_000_123_456_789,)],
        "t long",
    )
    out = df.select(
        T.date_bin(5, "second", F.col("t")).alias("b"),
        T.time_to_timestamp(F.col("t")).alias("ts"),
    ).collect()
    assert [r["b"] for r in out[:4]] == [0, 0, 5 * ns, 60 * ns]
    # exact µs conversion at full ns magnitude (no double rounding)
    assert out[4]["ts"].microsecond == 123456


def test_date_bin_origin_and_negative(spark):
    df = spark.createDataFrame([(-1,), (-5_000_000_000,)], "t long")
    out = df.select(T.date_bin(5, "second", F.col("t")).alias("b")).collect()
    # floor semantics for negatives
    assert out[0]["b"] == -5_000_000_000
    assert out[1]["b"] == -5_000_000_000


def test_approx_aggs_close_to_exact(spark):
    """Sketch aggregates must land near exact answers (the oracle
    can't hash-compare engine-specific sketch estimates)."""
    import pyspark.sql.functions as F

    from ella_spark.queries import all_queries
    from ella_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    approx = {
        r["l_returnflag"]: r
        for r in all_queries()["q_approx_aggs"](spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("median_price"),
        )
        .collect()
    }
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["approx_orders"] - e["orders"]) <= max(2, 0.05 * e["orders"])
        assert abs(a["approx_median_price"] - e["median_price"]) <= 0.1 * e["median_price"]


def test_constructors_numpy_parity(spark):
    """constructors.rs:11-84 parity: full/zeros/ones/range/linspace/eye."""
    import numpy as np

    row = spark.range(1).select(
        T.t_full(4, 7.5).alias("full"),
        T.t_zeros(3).alias("zeros"),
        T.t_ones(3).alias("ones"),
        T.t_range(2, 10, 3).alias("rng"),
        T.t_linspace(0.0, 1.0, 5).alias("lin"),
        T.t_eye(3).alias("eye"),
    ).first()
    assert row["full"] == [7.5] * 4
    assert row["zeros"] == [0.0, 0.0, 0.0]
    assert row["ones"] == [1.0, 1.0, 1.0]
    assert row["rng"] == list(range(2, 10, 3))
    assert row["lin"] == pytest.approx(np.linspace(0.0, 1.0, 5).tolist())
    assert row["eye"] == np.eye(3).ravel().tolist()


def test_extended_unary_numpy_parity(spark):
    """unary_arith.rs:23-46 parity: tan/asin/acos/atan/atan2/exp2/log2/log10."""
    import numpy as np

    vals = [0.1, 0.5, 0.9]
    df = spark.createDataFrame([(vals, [1.0, 2.0, 4.0])], "a array<double>, b array<double>")
    row = df.select(
        T.t_tan(F.col("a")).alias("tan"),
        T.t_asin(F.col("a")).alias("asin"),
        T.t_acos(F.col("a")).alias("acos"),
        T.t_atan(F.col("a")).alias("atan"),
        T.t_atan2(F.col("a"), F.col("b")).alias("atan2"),
        T.t_exp2(F.col("b")).alias("exp2"),
        T.t_log2(F.col("b")).alias("log2"),
        T.t_log10(F.col("b")).alias("log10"),
    ).first()
    a, b = np.array(vals), np.array([1.0, 2.0, 4.0])
    assert row["tan"] == pytest.approx(np.tan(a).tolist())
    assert row["asin"] == pytest.approx(np.arcsin(a).tolist())
    assert row["acos"] == pytest.approx(np.arccos(a).tolist())
    assert row["atan"] == pytest.approx(np.arctan(a).tolist())
    assert row["atan2"] == pytest.approx(np.arctan2(a, b).tolist())
    assert row["exp2"] == pytest.approx(np.exp2(b).tolist())
    assert row["log2"] == pytest.approx(np.log2(b).tolist())
    assert row["log10"] == pytest.approx(np.log10(b).tolist())


def test_extended_cmp(vec_df):
    """cmp.rs:87-128 parity: ne/lte/gte."""
    out = vec_df.where("id = 1").select(
        T.t_ne(F.col("a"), F.col("a")).alias("ne_self"),
        T.t_lte(F.col("a"), F.col("a")).alias("lte_self"),
        T.t_gte(F.col("a"), F.col("b")).alias("gte"),
    ).first()
    assert out["ne_self"] == [False, False, False]
    assert out["lte_self"] == [True, True, True]
    assert out["gte"] == [False, False, False]


def test_mask_ops_full_set(vec_df):
    """masked.rs:30-62 parity: mask/with_mask/drop_mask/get_mask."""
    out = vec_df.where("id = 1").select(
        T.t_mask(F.col("a"), F.array(F.lit(True), F.lit(False), F.lit(True))).alias("m"),
        T.t_get_mask(
            T.t_mask(F.col("a"), F.array(F.lit(True), F.lit(False), F.lit(True)))
        ).alias("gm"),
    ).first()
    assert out["m"] == [1.0, None, 3.0]
    assert out["gm"] == [True, False, True]
    out2 = vec_df.where("id = 2").select(
        T.t_drop_mask(F.col("a"), fill=-9.0).alias("dm")
    ).first()
    assert out2["dm"] == [0.0, -1.0, -9.0]


def test_stack_unstack(vec_df):
    row = vec_df.where("id = 1").select(
        T.t_stack(F.col("a"), F.col("b")).alias("s")
    ).first()
    assert row["s"] == [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]
    cols = T.t_unstack(T.t_stack(F.col("a"), F.col("b")), 2)
    back = vec_df.where("id = 1").select(
        cols[0].alias("u0"), cols[1].alias("u1")
    ).first()
    assert back["u0"] == [1.0, 2.0, 3.0] and back["u1"] == [4.0, 5.0, 6.0]


def test_lazy_rows_dataclass(spark, tmp_path):
    """RowFormat-derive analog: Lazy.rows(dataclass) maps by name."""
    import dataclasses

    from ella_spark import Column, Ella

    @dataclasses.dataclass
    class Point:
        time: int
        x: float

    db = Ella.create(str(tmp_path / "rowsdb"), spark)
    t = db.create_topic("pts", [Column("x", "float64")])
    with t.publish() as pub:
        pub.write(1_000, 1.5)
        pub.write(2_000, 2.5)
    got = list(db.query("SELECT time, x FROM pts ORDER BY time").rows(Point))
    assert got == [Point(1_000, 1.5), Point(2_000, 2.5)]
    # extra result columns are ignored; missing ones raise
    got2 = list(db.query("SELECT *, x + 1 AS x1 FROM pts").rows(Point))
    assert len(got2) == 2 and isinstance(got2[0], Point)
    with pytest.raises(ValueError, match="lacks columns"):
        list(db.query("SELECT time FROM pts").rows(Point))


def test_shape_ops_reference_parity():
    """Named shape/slice/index ops mirror the reference's OWN tests:
    invert_axis + roll (shape.rs:204-239), slice_axis + slice
    (slice.rs:82-100), diag (slice.rs:70-77)."""
    import numpy as np

    x = np.array([[1, 2, 3], [4, 5, 6]])
    assert (T.t_invert_axis(x, 0) == [[4, 5, 6], [1, 2, 3]]).all()
    assert (T.t_invert_axis(x, 1) == [[3, 2, 1], [6, 5, 4]]).all()

    x3 = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]])
    assert (T.t_roll(x3, 0, 2) == [[4, 5, 6], [7, 8, 9], [1, 2, 3]]).all()
    assert (T.t_roll(x3, 0, -1) == [[4, 5, 6], [7, 8, 9], [1, 2, 3]]).all()
    assert (T.t_roll(x3, 0, 5) == [[4, 5, 6], [7, 8, 9], [1, 2, 3]]).all()
    assert (T.t_roll(x3, -1, 1) == [[3, 1, 2], [6, 4, 5], [9, 7, 8]]).all()

    y = np.array([[1, 2, 3, 4], [5, 6, 7, 8]])
    # slice_axis(Axis(1), ..=1) / 2.. / 1..-2 / (Axis(0), 1..)
    assert (T.t_slice_axis(y, 1, None, 2) == [[1, 2], [5, 6]]).all()
    assert (T.t_slice_axis(y, 1, 2) == [[3, 4], [7, 8]]).all()
    assert (T.t_slice_axis(y, 1, 1, -2) == [[2], [6]]).all()
    assert (T.t_slice_axis(y, 0, 1) == [[5, 6, 7, 8]]).all()
    # slice![..1, 1..=2] and slice![NewAxis, ..;-1, 0..3;2]
    assert (T.t_slice_nd(y, slice(None, 1), slice(1, 3)) == [[2, 3]]).all()
    assert (
        T.t_slice_nd(y, None, slice(None, None, -1), slice(0, 3, 2))
        == [[[5, 7], [1, 3]]]
    ).all()
    assert (T.t_diag(y) == [1, 6]).all()
    assert (T.t_diag(np.arange(27).reshape(3, 3, 3)) == [0, 13, 26]).all()


def test_shape_ops_combine_roundtrip():
    """combine.rs:227-249 mirror: index_axis decomposition re-stacks to
    the original along every axis; stacking axis-1 slices on the last
    axis equals swap_axes(1, 2)."""
    import numpy as np

    x = np.arange(1, 19).reshape(3, 2, 3)
    for ax in range(3):
        parts = [T.t_index_axis(x, ax, i) for i in range(x.shape[ax])]
        assert (np.stack(parts, axis=ax) == x).all()
    c = np.stack([T.t_index_axis(x, 1, 0), T.t_index_axis(x, 1, 1)], axis=-1)
    assert (T.t_swap_axes(x, 1, 2) == c).all()
    # collapse keeps the axis at size 1; squeeze removes it again
    col = T.t_collapse_axis(x, 1, 1)
    assert col.shape == (3, 1, 3)
    assert (T.t_squeeze(col, 1) == T.t_index_axis(x, 1, 1)).all()
    # reshape/flatten/unsqueeze/broadcast round-trips
    assert T.t_reshape(x, (6, 3)).shape == (6, 3)
    assert T.t_flatten(x).shape == (18,)
    assert T.t_unsqueeze(x, 0).shape == (1, 3, 2, 3)
    assert T.t_broadcast_to(np.array([1, 2, 3]), (2, 3)).shape == (2, 3)
    a2, b2 = T.t_broadcast_with(np.ones((2, 1)), np.ones((1, 4)))
    assert a2.shape == b2.shape == (2, 4)
    with pytest.raises(ValueError):
        T.t_squeeze(x, 0)  # size-3 axis cannot squeeze


def test_shape_ops_column_variants(spark):
    """The 1-D per-row cases stay JVM expressions: reverse, cyclic
    roll, python-semantics slice — equal to the numpy path."""
    import numpy as np

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "id long, a array<double>"
    )
    out = df.select(
        T.t_invert_axis(F.col("a")).alias("rev"),
        T.t_roll(F.col("a"), 0, 1).alias("r1"),
        T.t_roll(F.col("a"), 0, -1).alias("rm1"),
        T.t_roll(F.col("a"), 0, 6).alias("r6"),
        T.t_slice_axis(F.col("a"), 0, 1, -1).alias("mid"),
        T.t_slice_axis(F.col("a"), 0, None, 2).alias("head"),
        T.t_slice_axis(F.col("a"), 0, -2).alias("tail"),
    ).first()
    v = np.array([1.0, 2.0, 3.0, 4.0])
    assert out["rev"] == list(T.t_invert_axis(v))
    assert out["r1"] == list(T.t_roll(v, 0, 1))
    assert out["rm1"] == list(T.t_roll(v, 0, -1))
    assert out["r6"] == list(T.t_roll(v, 0, 6))
    assert out["mid"] == list(T.t_slice_axis(v, 0, 1, -1))
    assert out["head"] == list(T.t_slice_axis(v, 0, None, 2))
    assert out["tail"] == list(T.t_slice_axis(v, 0, -2))


# tensor ops nothing else in the package calls, against numpy; ``a`` has
# negatives and a zero, ``b`` is positive (``t_ln``, ``t_div``)
_NUMPY_OPS = [
    ("t_sub", lambda a, b: T.t_sub(a, b), lambda a, b: a - b),
    ("t_div", lambda a, b: T.t_div(a, b), lambda a, b: a / b),
    ("t_offset", lambda a, b: T.t_offset(a, 1.5), lambda a, b: a + 1.5),
    ("t_abs", lambda a, b: T.t_abs(a), lambda a, b: np.abs(a)),
    ("t_exp", lambda a, b: T.t_exp(a), lambda a, b: np.exp(a)),
    ("t_ln", lambda a, b: T.t_ln(b), lambda a, b: np.log(b)),
    ("t_pow", lambda a, b: T.t_pow(a, 3), lambda a, b: np.power(a, 3)),
    ("t_eq", lambda a, b: T.t_eq(a, b), lambda a, b: a == b),
    ("t_min", lambda a, b: T.t_min(a), lambda a, b: np.min(a)),
    ("t_max", lambda a, b: T.t_max(a), lambda a, b: np.max(a)),
]


@pytest.mark.parametrize("name,op,ref", _NUMPY_OPS, ids=[o[0] for o in _NUMPY_OPS])
def test_tensor_ops_match_numpy(spark, name, op, ref):
    rows = [
        (1, [1.5, -4.0, 0.5], [2.0, 4.0, 0.25]),
        (2, None, None),
        (3, [-2.0, 0.0, 3.0], [1.0, 8.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = df.select("id", op(F.col("a"), F.col("b")).alias("r")).orderBy("id").collect()
    for (_, a, b), r in zip(rows, got):
        if a is None:
            assert r.r is None
        else:
            assert np.asarray(r.r, dtype=float) == pytest.approx(
                np.asarray(ref(np.array(a), np.array(b)), dtype=float)
            )
