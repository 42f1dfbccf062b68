"""Function surface: the reference's tensor math ops (SURVEY.md §2.C)
over ArrayType columns plus the date/time workhorses its SQL dialect
inherits from DataFusion (date_bin / date_trunc over ns time).

All ops are column expressions built from Spark higher-order functions
— JVM-side, codegen-friendly, no UDFs. Shape-changing ops that don't
distribute (reshape/transpose/stack across rows) belong on the driver:
pull with ``Lazy.col`` → numpy (the reference does the same — its
tensor math is client-side, not SQL: SURVEY.md §2.C header).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# -- elementwise arithmetic (ops/builtin_arith.rs, unary_arith.rs) ----------


def t_add(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x + y)


def t_sub(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x - y)


def t_mul(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x * y)


def t_div(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x / y)


def t_scale(a: Column, s) -> Column:
    return F.transform(a, lambda x: x * s)


def t_offset(a: Column, s) -> Column:
    return F.transform(a, lambda x: x + s)


def t_neg(a: Column) -> Column:
    return F.transform(a, lambda x: -x)


def t_abs(a: Column) -> Column:
    return F.transform(a, F.abs)


def t_exp(a: Column) -> Column:
    return F.transform(a, F.exp)


def t_ln(a: Column) -> Column:
    # not F.log itself: its optional second argument makes transform
    # pass the element index too
    return F.transform(a, lambda x: F.log(x))


def t_sqrt(a: Column) -> Column:
    return F.transform(a, F.sqrt)


def t_sin(a: Column) -> Column:
    return F.transform(a, F.sin)


def t_cos(a: Column) -> Column:
    return F.transform(a, F.cos)


def t_pow(a: Column, p) -> Column:
    return F.transform(a, lambda x: F.pow(x, p))


def t_tan(a: Column) -> Column:
    return F.transform(a, F.tan)


def t_asin(a: Column) -> Column:
    return F.transform(a, F.asin)


def t_acos(a: Column) -> Column:
    return F.transform(a, F.acos)


def t_atan(a: Column) -> Column:
    return F.transform(a, F.atan)


def t_atan2(a: Column, b: Column) -> Column:
    """Elementwise atan2(y, x) (ops/binary_arith.rs:13)."""
    return F.zip_with(a, b, lambda y, x: F.atan2(y, x))


def t_exp2(a: Column) -> Column:
    return F.transform(a, lambda x: F.pow(F.lit(2.0), x))


def t_log2(a: Column) -> Column:
    return F.transform(a, F.log2)


def t_log10(a: Column) -> Column:
    return F.transform(a, F.log10)


# -- constructors (ops/constructors.rs:11-84) -------------------------------
# Column forms: each builds a length-`n` array value per row — the Spark
# analog of the reference's client-side tensor constructors.


def t_full(n: int, value) -> Column:
    return F.array_repeat(F.lit(value), n)


def t_zeros(n: int) -> Column:
    return t_full(n, 0.0)


def t_ones(n: int) -> Column:
    return t_full(n, 1.0)


def t_range(start, stop, step=1) -> Column:
    """Half-open integer range [start, stop) like constructors.rs range.
    (F.sequence is inclusive of its stop, so pull it in by one unit.)"""
    return F.sequence(
        F.lit(start), F.lit(stop - (1 if step > 0 else -1)), F.lit(step)
    )


def t_linspace(start: float, stop: float, n: int) -> Column:
    """n evenly spaced doubles over [start, stop] (inclusive ends)."""
    if n < 2:
        return F.array(F.lit(float(start)))
    step = (float(stop) - float(start)) / (n - 1)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.lit(float(start)) + i.cast("double") * F.lit(step),
    )


def t_eye(n: int, flat: bool = True) -> Column:
    """Identity matrix as a flattened row-major array<double> of n*n
    elements — the storage form of a [n, n] tensor column (§1.2
    tensor-valued columns are FixedSizeList-flattened)."""
    idx = F.sequence(F.lit(0), F.lit(n * n - 1))
    return F.transform(
        idx,
        lambda i: F.when((i % n) == F.floor(i / n), 1.0).otherwise(0.0),
    )


# -- comparison → bool tensor (ops/cmp.rs:87-128) ---------------------------


def t_eq(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x == y)


def t_ne(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x != y)


def t_lt(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x < y)


def t_lte(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x <= y)


def t_gt(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x > y)


def t_gte(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x >= y)


# -- boolean reduce (ops/boolean.rs:8-14) -----------------------------------


def t_all(a: Column) -> Column:
    return F.forall(a, lambda x: x)


def t_any(a: Column) -> Column:
    return F.exists(a, lambda x: x)


# -- reductions (reference leaves reduce.rs EMPTY — ours are a superset) ----


def t_sum(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double"))


def t_min(a: Column) -> Column:
    return F.array_min(a)


def t_max(a: Column) -> Column:
    return F.array_max(a)


def t_mean(a: Column) -> Column:
    return t_sum(a) / F.size(a)


def t_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def t_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


# -- slice / index (ops/slice.rs, ops/index.rs) -----------------------------


def t_slice(a: Column, start: int, length: int) -> Column:
    """1-based start, like F.slice (reference slice is 0-based axis op;
    driver-side numpy handles multi-axis)."""
    return F.slice(a, start, length)


def t_index(a: Column, i: int) -> Column:
    return F.element_at(a, i)


# -- mask / null (ops/masked.rs:30-62) --------------------------------------


def t_fill_masked(a: Column, fill) -> Column:
    return F.transform(a, lambda x: F.coalesce(x, F.lit(fill)))


def t_compress(a: Column) -> Column:
    """Drop masked (null) elements (ops/masked.rs compress)."""
    return F.filter(a, lambda x: x.isNotNull())


def t_mask(a: Column, keep: Column) -> Column:
    """Apply a boolean mask elementwise: null where ``keep`` is false
    (ops/masked.rs mask/with_mask — null IS the mask in Arrow terms)."""
    return F.zip_with(a, keep, lambda x, k: F.when(k, x))


def t_with_mask(a: Column, keep: Column) -> Column:
    return t_mask(a, keep)


def t_drop_mask(a: Column, fill=0.0) -> Column:
    """Discard the mask, exposing raw values (ops/masked.rs drop_mask).
    Arrow keeps undefined values under the mask; Spark nulls carry no
    value, so masked slots surface as ``fill``."""
    return F.transform(a, lambda x: F.coalesce(x, F.lit(fill)))


def t_get_mask(a: Column) -> Column:
    """The validity mask itself: true where a value is present."""
    return F.transform(a, lambda x: x.isNotNull())


# -- combine (ops/combine.rs) ------------------------------------------------


def t_concat(*arrays: Column) -> Column:
    return F.concat(*arrays)


def t_stack(*arrays: Column) -> Column:
    """Stack k length-n arrays into one array<array> of shape [k, n]
    (ops/combine.rs:68 stack along a new leading axis)."""
    return F.array(*arrays)


def t_unstack(a: Column, k: int) -> list[Column]:
    """Inverse of t_stack: split an array<array> of k rows back into k
    array columns (ops/combine.rs:97)."""
    return [F.element_at(a, i + 1) for i in range(k)]


# -- time bucketing (the DataFusion date_bin workhorse, SURVEY §2.B) --------

_UNITS_NS = {
    "ns": 1,
    "us": 1_000,
    "ms": 1_000_000,
    "second": 1_000_000_000,
    "minute": 60 * 1_000_000_000,
    "hour": 3_600 * 1_000_000_000,
    "day": 86_400 * 1_000_000_000,
}


def date_bin(stride: int, unit: str, time_ns: Column, origin_ns: int = 0) -> Column:
    """`date_bin(interval, time, origin)` over epoch-ns longs: floor
    time into fixed bins. Returns the bin start in ns."""
    if unit not in _UNITS_NS:
        raise ValueError(f"unit {unit!r} not in {sorted(_UNITS_NS)}")
    width = stride * _UNITS_NS[unit]
    shifted = time_ns - F.lit(origin_ns)
    return (
        (shifted - ((shifted % width) + width) % width) + F.lit(origin_ns)
    ).alias("date_bin")


def time_to_timestamp(time_ns: Column) -> Column:
    """ns long → µs TimestampType (the SQL-ergonomics view, §1.4.1).

    Integer division via decimal: a double intermediate would lose
    precision above 2^53 (epoch-ns values are ~1.7e18)."""
    us = F.floor(time_ns.cast("decimal(38,0)") / 1000).cast("long")
    return F.timestamp_micros(us)


def date_trunc(unit: str, time_ns: Column) -> Column:
    """date_trunc over ns longs via the µs timestamp view; returns a
    TimestampType (like DataFusion's date_trunc)."""
    return F.date_trunc(unit, time_to_timestamp(time_ns))


# -- named shape/slice/index parity surface (shape.rs, slice.rs,
# index.rs) — driver-side numpy on the Lazy.col path, JVM expressions
# for the 1-D array-column cases; see functions/shape.py
from ella_spark.functions.shape import (  # noqa: E402, F401
    t_broadcast_to,
    t_broadcast_with,
    t_collapse_axis,
    t_diag,
    t_flatten,
    t_index_axis,
    t_invert_axis,
    t_reshape,
    t_roll,
    t_slice_axis,
    t_slice_nd,
    t_squeeze,
    t_swap_axes,
    t_t,
    t_unsqueeze,
)
