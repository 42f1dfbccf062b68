"""Skew and serial-stage mitigation: salted joins, two-phase
aggregation, and distributed global ranking.

AQE's skew-join splitting (enabled in session.PERF_CONFS) handles
most runtime skew; these explicit operators cover the cases AQE
can't — a single pathological hot key in a shuffle join, hot-key
aggregations where the map-side combine alone is not enough, and
the empty-partition Window (global ntile/percent_rank/cume_dist),
which Spark plans as ONE task sorting the whole input. All are pure
DataFrame rewrites: deterministic, no RDDs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ella_spark.session import local_frame


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join resilient to hot keys on the (large) ``left`` side.

    Left rows get a deterministic salt in [0, salt); each right row is
    replicated once per salt value. The shuffle key becomes
    (keys..., _salt), spreading a hot key over ``salt`` reducers at the
    cost of replicating the right side salt×: use when right is the
    smaller side but too big to broadcast.

    Only ``inner`` and left-outer/semi/anti joins are correct here:
    with a right/full join, every unmatched right row was replicated
    ``salt`` times and would surface as ``salt`` duplicate null-padded
    output rows.
    """
    normalized = how.lower().replace("_", "")
    if normalized in {"right", "rightouter", "full", "fullouter", "outer",
                      "rightsemi", "rightanti"}:
        raise ValueError(
            f"salted_join does not support how={how!r}: unmatched right rows "
            "are replicated salt times (use inner/left/left_semi/left_anti)"
        )
    l_salted = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(salt))
    )
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>"))
    )
    out = l_salted.join(r_salted, keys + ["_salt"], how)
    return out.drop("_salt")


def salted_agg_sum(
    df: DataFrame, keys: list[str], value_cols: list[str], salt: int = 16
) -> DataFrame:
    """Two-phase sum aggregation for hot grouping keys.

    Phase 1 shuffles on (keys, salt) — a hot key spreads over ``salt``
    partial groups; phase 2 combines the (tiny) partials. Output
    columns: keys + ``sum_<col>``.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        *[F.sum(c).alias(f"_p_{c}") for c in value_cols]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"_p_{c}").alias(f"sum_{c}") for c in value_cols]
    )


def global_order_stats(
    df: DataFrame,
    order_cols: list[str],
    ntile_n: int | None = None,
    num_partitions: int | None = None,
):
    """Distributed global ranking — the single-partition-Window
    mitigation (r14): Spark plans any ``Window.orderBy(...)`` with an
    empty partition spec as ONE task sorting the entire input, which
    is the last unbounded serial stage a 100 TB global
    ntile/percent_rank/cume_dist query would hit. This rewrite gets
    the same numbers from a fully distributed plan:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
       columns — the distributed sort Spark already does well;
    2. ``monotonically_increasing_id`` — partition id in the high
       bits, the row's index WITHIN its sorted partition in the low
       33 bits: per-row local positions JVM-side, no window, no
       Python;
    3. one O(P)-row count-per-partition aggregate folded on the
       driver into cumulative offsets (the bounded-driver-fold
       class), broadcast-joined back: global pos = offset + local
       index + 1;
    4. ntile/percent_rank/cume_dist from (pos, total) in pure column
       arithmetic — total is driver-known, so the ntile bucket
       boundaries (first ``total % n`` buckets one row larger, the
       SQL-standard fill Spark and DuckDB share) are literal integer
       math, exact at any size.

    REQUIREMENT: ``order_cols`` must be a TOTAL order (include a
    unique tiebreaker). With ties, SQL ``rank``/``cume_dist`` count
    peer groups, which positional arithmetic cannot see — callers
    with ties must stay on the Window form or add a tiebreaker.

    The frame is ``localCheckpoint``-ed between the count job and the
    scoring job: range boundaries are sampled per job and the id
    assignment depends on partition contents, so both jobs MUST read
    the same materialization (same cost class as the sort shuffle it
    replaces; the context cleaner reclaims it when unreferenced).

    Returns ``df`` plus ``_pos`` (1-based global position) and
    ``_total`` (constant), and — when ``ntile_n`` is given —
    ``_ntile``. percent_rank = (_pos-1)/(_total-1) (0.0 when _total
    is 1), cume_dist = _pos/_total; leave rounding to the caller.
    """
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    s = (
        df.repartitionByRange(P, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    # partition id lives in bits 33+; the local index in the low 33
    pid = (F.col("_mid").bitwiseAND(F.lit(-1 << 33))).alias("_pid")
    counts = (
        s.groupBy(pid).agg(F.count(F.lit(1)).alias("_n"))
        .orderBy("_pid")
        .collect()  # O(P) rows — bounded driver fold
    )
    total = sum(r._n for r in counts)
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r._pid, acc))
        acc += r._n
    off = F.broadcast(local_frame(spark, offsets or [(0, 0)], "_pid long, _off long"))
    out = (
        s.join(off, s["_mid"].bitwiseAND(F.lit(-1 << 33)) == off["_pid"], "left")
        .withColumn(
            "_pos",
            F.col("_off") + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1,
        )
        .withColumn("_total", F.lit(total).cast("long"))
        .drop("_mid", "_pid", "_off")
    )
    if ntile_n is not None:
        q, r = divmod(total, ntile_n)
        if q == 0:
            # fewer rows than buckets: one row per bucket, in order
            out = out.withColumn("_ntile", F.col("_pos").cast("int"))
        else:
            thr = r * (q + 1)
            # integer ceil via (x + d - 1) div d (`div` = long integer
            # division — float quotients lose exactness at 2^53+):
            # the first r buckets hold q+1 rows, the rest q — the
            # SQL-standard ntile fill Spark and DuckDB share
            out = out.withColumn(
                "_ntile",
                F.when(
                    F.col("_pos") <= thr,
                    F.expr(f"(_pos + {q}) div {q + 1}"),
                )
                .otherwise(F.expr(f"{r} + (_pos - {thr} + {q - 1}) div {q}"))
                .cast("int"),
            )
    return out
