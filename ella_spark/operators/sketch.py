"""Bounded-memory frequency sketches over DataFrame columns.

Spark's hash aggregate already does map-side partial counting, but its
per-task hash map grows with the number of DISTINCT keys in the task's
input and spills to disk when it doesn't fit — fine for word counts,
pathological for open-ended key spaces (all n-grams of a 100 TB
corpus, URL paths, join-key profiling). The Misra-Gries summary keeps
AT MOST ``counters`` entries per task no matter how many distinct keys
stream through, at the cost of undercounting by a bounded amount.

Guarantees (Misra-Gries '82; merge form Agarwal et al., "Mergeable
Summaries", PODS'12):

- each per-task summary undercounts any key by at most n_task/(c+1)
  where c = ``counters`` and n_task = rows seen by that task;
- summaries merge by summing counts (the union is again an MG
  summary), so the final exact groupBy over the ≤ c * n_tasks summary
  rows bounds the global undercount by n_total/(c+1);
- every key with true frequency > n_total/(c+1) is GUARANTEED present;
- when a task sees ≤ c distinct keys, no eviction ever fires and its
  counts are EXACT (so exact whenever the key space is small —
  the registry query's oracle relies on this).

The reference has no sketch operators at all (its only approximate
aggregates are DataFusion's HLL approx_distinct / approx_percentile,
SURVEY.md §2.B); this is beyond-reference surface for the
training-data-pipeline profile.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _mg_update(summary: dict[str, int], batch_counts: dict[str, int], c: int) -> None:
    """Merge exact batch counts into an MG summary of ≤ c entries."""
    for key, n in batch_counts.items():
        if key in summary:
            summary[key] += n
        else:
            summary[key] = n
    # Evict down to c entries by subtracting the (c+1)-th largest
    # count from everyone (the batched form of MG's decrement-all).
    if len(summary) > c:
        cut = sorted(summary.values(), reverse=True)[c]
        for key in list(summary):
            summary[key] -= cut
            if summary[key] <= 0:
                del summary[key]


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    counters: int = 256,
) -> DataFrame:
    """Top-k most frequent values of ``col`` via per-partition
    Misra-Gries summaries.

    Plan shape: one narrow mapInPandas pass producing ≤ ``counters``
    (value, count) rows per task, one exact aggregate over those
    summary rows (shuffle volume ≤ counters x n_tasks — independent of
    both row count and distinct-key count), TakeOrderedAndProject for
    the top-k. Counts are exact lower bounds; see module docstring for
    when they are exactly right.

    Returns (value, approx_count, rank).
    """
    field = df.schema[col]

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary: dict = {}
        for pdf in batches:
            counts = pdf[col].value_counts(dropna=True)
            _mg_update(summary, counts.to_dict(), counters)
        if summary:
            yield pd.DataFrame(
                {"value": list(summary), "partial": list(summary.values())}
            )

    summaries = df.select(col).mapInPandas(
        summarize, schema=f"value {field.dataType.simpleString()}, partial long"
    )
    from pyspark.sql import Window

    agg = summaries.groupBy("value").agg(F.sum("partial").alias("approx_count"))
    w = Window.orderBy(F.col("approx_count").desc(), "value")
    return (
        # rank BEFORE casting: a cast on the row_number breaks the
        # rank-filter → TakeOrderedAndProject rewrite, which would
        # funnel every merged (value, count) row through the global
        # window's single partition instead of forwarding only each
        # partition's top-k (r14 plan audit pins the rewrite)
        agg.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            "value", "approx_count", F.col("_rn").cast("int").alias("rank")
        )
    )


def distinct_rollup(
    df: DataFrame,
    key_col: str,
    bucket_col: Column | str,
    lgk: int = 12,
) -> DataFrame:
    """Per-bucket mergeable distinct-count sketches (Apache DataSketches
    HLL via Spark's hll_sketch_agg).

    The continuous-aggregate pattern for COUNT(DISTINCT) at 100 TB:
    plain distinct counts don't merge (yesterday's count + today's
    count ≠ the two-day count), so a rollup must either rescan raw
    history per query or store sketches. Each bucket row carries a
    binary sketch; ``merge_distinct`` unions any subset of buckets to
    an estimate without touching raw data. lgk=12 → ~1.6% relative
    standard error, 4KB per sketch.

    Returns (bucket, sketch binary, per-bucket estimate).
    """
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    return (
        df.groupBy(b.alias("bucket"))
        .agg(F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("sketch"))
        .select(
            "bucket",
            "sketch",
            F.hll_sketch_estimate("sketch").alias("bucket_estimate"),
        )
    )


def merge_distinct(rollup: DataFrame) -> DataFrame:
    """Union bucket sketches (optionally pre-filtered to a time range)
    into one distinct-count estimate — reads sketch rows only."""
    return rollup.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_estimate")
    )


# -- mergeable quantile sketches (KLL, derandomized) -------------------------
#
# The quantile counterpart of distinct_rollup: plain percentiles don't
# merge (yesterday's p99 + today's p99 ≠ the two-day p99), so a
# continuous rollup must either rescan raw history per query or store
# mergeable summaries. KLL (Karnin-Lang-Liberty, FOCS'16) keeps
# O(k · log(n/k)) values with rank error O(n/k); two sketches merge by
# level-wise concatenation + recompaction, so per-bucket sketches
# union over arbitrary time ranges without touching raw rows.
#
# This implementation derandomizes the compaction coin (parity
# alternates with a per-sketch counter), so a sketch is a PURE
# FUNCTION of the sorted input multiset — build it twice, get the
# same bytes. Whenever a bucket's rows fit level 0 (n ≤ k) no
# compaction fires and the sketch IS the sorted data: estimates are
# then exactly `quantile_disc` (the registry query's oracle relies on
# this, the same exact-when-fits contract as heavy_hitters).

_KLL_MIN_CAP = 8


def _kll_cap(k: int, depth_above: int) -> int:
    """Capacity of a level ``depth_above`` levels below the top
    (KLL's geometric (2/3)^d schedule, floored)."""
    return max(_KLL_MIN_CAP, int(k * (2.0 / 3.0) ** depth_above))


def _kll_compact(levels: list, k: int, state: dict) -> list:
    """Compact the lowest overfull level until all fit. ``state``
    carries the derandomized parity counter."""
    import numpy as np

    levels = [np.sort(np.asarray(l, dtype=np.float64)) for l in levels]
    while True:
        H = len(levels)
        over = next(
            (
                i
                for i in range(H)
                if len(levels[i]) > _kll_cap(k, H - 1 - i)
            ),
            None,
        )
        if over is None:
            return levels
        lvl = levels[over]
        parity = state["c"] & 1
        state["c"] += 1
        keep = lvl[parity::2]  # every other element, alternating start
        if over + 1 == len(levels):
            levels.append(np.array([], dtype=np.float64))
        levels[over] = np.array([], dtype=np.float64)
        levels[over + 1] = np.sort(np.concatenate([levels[over + 1], keep]))


def kll_build(values, k: int = 256) -> list:
    """Build a KLL sketch (list of sorted numpy arrays, level i
    holding items of weight 2^i) from a value array."""
    import numpy as np

    v = np.sort(np.asarray(values, dtype=np.float64))
    v = v[~np.isnan(v)]
    return _kll_compact([v], k, {"c": 0})


def kll_merge(a: list, b: list, k: int = 256) -> list:
    """Merge two sketches: level-wise concat + recompaction."""
    import numpy as np

    depth = max(len(a), len(b))
    out = []
    for i in range(depth):
        xs = a[i] if i < len(a) else []
        ys = b[i] if i < len(b) else []
        out.append(np.sort(np.concatenate([
            np.asarray(xs, dtype=np.float64),
            np.asarray(ys, dtype=np.float64),
        ])))
    return _kll_compact(out, k, {"c": 0})


def kll_quantiles(levels: list, probs) -> list[float]:
    """quantile_disc semantics over the weighted summary: for each p,
    the smallest value whose cumulative weight reaches rank
    max(1, ceil(p · N)) (N = total weight) — the 1-based discrete
    quantile rule DuckDB's quantile_disc implements (probed: n=10,
    p=.75 → rank 8), so exact sketches line up with the oracle."""
    import numpy as np

    vals = np.concatenate([np.asarray(l) for l in levels]) if levels else np.array([])
    wts = np.concatenate(
        [np.full(len(l), 1 << i, dtype=np.int64) for i, l in enumerate(levels)]
    ) if levels else np.array([], dtype=np.int64)
    if not len(vals):
        return [float("nan") for _ in probs]
    order = np.argsort(vals, kind="stable")
    vals, wts = vals[order], wts[order]
    cum = np.cumsum(wts)
    N = int(cum[-1])
    out = []
    for p in probs:
        target = max(1, int(np.ceil(p * N)))
        idx = int(np.searchsorted(cum, target, side="left"))
        out.append(float(vals[min(idx, len(vals) - 1)]))
    return out


def quantile_rollup(
    df: DataFrame,
    value_col: str,
    bucket_col: Column | str,
    k: int = 256,
) -> DataFrame:
    """Per-bucket mergeable quantile sketches.

    Plan shape: one shuffle on the bucket key (applyInPandas builds
    each bucket's sketch from its rows — a bucket is a bounded unit
    like a compaction day-dir); each output row carries the sketch as
    ``array<array<double>>`` plus its total count. At 100 TB the raw
    rows are read ONCE at rollup build; every later quantile query
    over any time range reads only sketch rows
    (``merge_quantile_rollup``).

    Returns (bucket, levels, n).
    """
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    src = df.select(b.alias("bucket"), F.col(value_col).alias("v"))
    bucket_type = src.schema["bucket"].dataType.simpleString()

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        levels = kll_build(pdf["v"].to_numpy(dtype=float), k)
        return pd.DataFrame(
            {
                "bucket": [pdf["bucket"].iloc[0]],
                "levels": [[list(map(float, l)) for l in levels]],
                "n": [int(pdf["v"].notna().sum())],
            }
        )

    return src.groupBy("bucket").applyInPandas(
        build,
        schema=f"bucket {bucket_type}, levels array<array<double>>, n long",
    )


def merge_quantile_rollup(rollup: DataFrame, probs, k: int = 256):
    """Union bucket sketches (optionally pre-filtered to a range) into
    one estimate per prob — reads sketch rows only, never raw data.
    Driver-side fold over ≤ n_buckets sketches of O(k log n) doubles
    each (the same bounded shape as reading HLL sketch rows)."""
    # sort by bucket before folding: collect() order is partition-
    # nondeterministic, and once compaction fires during merging
    # kll_merge is order-sensitive — a fixed fold order makes repeated
    # range queries reproducible (the build side is already
    # derandomized)
    rows = sorted(
        rollup.select("bucket", "levels").collect(),
        key=lambda r: (r.bucket is None, r.bucket),
    )
    merged: list = []
    for r in rows:
        merged = kll_merge(merged, [list(l) for l in r.levels], k)
    return kll_quantiles(merged, probs)


def kll_quantile_udf(prob: float):
    """Arrow-batched UDF: serialized KLL levels -> the prob-quantile
    estimate (None for empty state — count-like aggregates over zero
    non-null rows are NULL in Spark too). Used by the incremental-MV
    approx_percentile family (incremental.FAMILIES)."""
    import math

    @F.pandas_udf("double")
    def _q(levels: pd.Series) -> pd.Series:
        out = []
        for lv in levels:
            if lv is None:
                out.append(None)
                continue
            vals = kll_quantiles([list(l) for l in lv], [prob])
            out.append(None if math.isnan(vals[0]) else vals[0])
        return pd.Series(out, dtype="float64")

    return _q


def kll_merge_states_udf(k: int):
    """Arrow-batched fold of collected per-partial KLL states (array
    of levels-arrays) into one merged state per group. Used by the
    incremental-MV approx_percentile family (incremental.FAMILIES)."""

    @F.pandas_udf("array<array<double>>")
    def _m(states: pd.Series) -> pd.Series:
        out = []
        for st in states:
            merged: list = []
            for lv in st if st is not None else []:
                if lv is None:
                    continue
                merged = kll_merge(merged, [list(l) for l in lv], k)
            out.append([[float(x) for x in l] for l in merged])
        return pd.Series(out)

    return _m


# ── KMV (bottom-k) distinct-value sketches ───────────────────────────
#
# The one distinct-cardinality shape HLL cannot serve: set INTERSECTION
# estimates (HLL unions losslessly but inclusion-exclusion error blows
# up for small overlaps). A KMV sketch keeps the k smallest hash values
# of a set (Bar-Yossef et al. '02; Beyer et al., SIGMOD'07 for the
# unbiased (k-1)/h_(k) estimator and the bottom-k union/Jaccard form).
# Mergeable: bottom-k of a union of bottom-k sketches is the union's
# bottom-k. Entirely JVM-side here — hash + distinct + per-group
# row_number window, no Python in the pipeline.

_KMV_TWO64 = float(2**64)
_KMV_SHIFT = float(2**63) + 1.0  # int64 hash -> (0, 1] uniform


def _kmv_unit(col: Column) -> Column:
    """Map a signed-int64 hash to a uniform double in (0, 1]."""
    return (col.cast("double") + F.lit(_KMV_SHIFT)) / F.lit(_KMV_TWO64)


def kmv_sketch(
    df: DataFrame, group_col: str, value_col: str, k: int = 4096
) -> DataFrame:
    """Per-group bottom-k sketch of ``value_col``'s distinct values.

    Plan shape: project + hash (xxhash64, whole-stage codegen), one
    distinct on (group, hash), one window row_number over the same
    (group)-partitioning — at 100 TB this is ONE shuffle keyed on the
    group; output is ≤ k rows per group regardless of input size.
    When a group has < k distinct values the sketch holds ALL of them
    and every downstream estimate is exact (the registry query's
    oracle relies on this, same exact-when-fits contract as
    quantile_rollup / approx_top_k).

    Returns (grp, h) rows, ≤ k per group, h ascending-dense per group.
    """
    from pyspark.sql import Window

    src = df.select(
        F.col(group_col).alias("grp"),
        F.xxhash64(F.col(value_col)).alias("h"),
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    return src.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    ).drop("rn")


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-count estimate per group from a kmv_sketch result:
    exact count when the group kept < k hashes (nothing was evicted),
    else the unbiased (k-1)/h_(k) estimator. Returns (grp, cnt, est)."""
    agg = sketch.groupBy("grp").agg(
        F.count("h").alias("cnt"), F.max("h").alias("kth")
    )
    return agg.select(
        "grp",
        "cnt",
        F.when(F.col("cnt") < k, F.col("cnt").cast("double"))
        .otherwise(F.lit(float(k - 1)) / _kmv_unit(F.col("kth")))
        .alias("est"),
    )


def kmv_overlap(
    df: DataFrame, group_col: str, value_col: str, k: int = 4096
) -> DataFrame:
    """Pairwise distinct-overlap estimates between every pair of
    groups: distinct |A|, |B|, |A ∪ B|, Jaccard, and |A ∩ B|.

    Method (Beyer et al., SIGMOD'07): merge the two bottom-k sketches
    and re-cut at k; the merged bottom-k is a uniform sample of
    A ∪ B, so shared/|merged| estimates Jaccard and
    jaccard x union_est estimates the intersection. Exact whenever
    the UNION still fits in k.

    Plan shape: the sketch build is one shuffle on the group key; the
    pair stage joins sketch rows against the (G choose 2) pair
    dimension — every later shuffle is keyed on the pair and bounded
    by 2k rows per pair. Meant for group-overlap profiling (sources,
    languages, event types): G is dozens-to-hundreds, never a
    high-cardinality id. Restrict ``df`` first if G is large.

    Returns (grp_a, grp_b, est_a, est_b, union_est, jaccard,
    inter_est) for grp_a < grp_b, all estimates double.
    """
    from pyspark.sql import Window

    sk = kmv_sketch(df, group_col, value_col, k).localCheckpoint(eager=False)
    per = kmv_estimate(sk, k)
    pairs = (
        per.select(F.col("grp").alias("ga"), F.col("est").alias("est_a"))
        .join(
            per.select(F.col("grp").alias("gb"), F.col("est").alias("est_b")),
            F.col("ga") < F.col("gb"),
        )
    )
    ua = pairs.select("ga", "gb").join(
        sk, F.col("ga") == F.col("grp")
    ).select("ga", "gb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    ub = pairs.select("ga", "gb").join(
        sk, F.col("gb") == F.col("grp")
    ).select("ga", "gb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    u = (
        ua.unionAll(ub)
        .groupBy("ga", "gb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    merged = u.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    m = merged.groupBy("ga", "gb").agg(
        F.count("h").alias("m"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("shared"),
    )
    est = m.select(
        "ga",
        "gb",
        "shared",
        F.when(F.col("m") < k, F.col("m").cast("double"))
        .otherwise(F.lit(float(k - 1)) / _kmv_unit(F.col("kth")))
        .alias("union_est"),
        (F.col("shared").cast("double") / F.col("m")).alias("jaccard"),
    )
    return (
        est.join(pairs, ["ga", "gb"])
        .select(
            F.col("ga").alias("grp_a"),
            F.col("gb").alias("grp_b"),
            "est_a",
            "est_b",
            "union_est",
            "jaccard",
            (F.col("jaccard") * F.col("union_est")).alias("inter_est"),
        )
    )


def set_churn_buckets(
    df: DataFrame,
    group_col: str,
    value_col: str,
    time_col: str = "time",
    bucket_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """Bucket-over-bucket set churn per group — the EXACT batch twin
    of streaming.stateful.set_churn_per_group, resolved per time
    bucket (default daily): for each (group, bucket), how much of the
    bucket's distinct-value set was already present in the PREVIOUS
    bucket. The crawl-freshness / content-rotation profile: a source
    whose novelty collapses toward 0 is re-serving yesterday's
    content; one that jumps to 1.0 rotated its corpus.

    Exact set arithmetic (no sketches — the batch side can afford
    it), but over xxhash64(value) so wide text never shuffles, only
    8-byte digests (the exact_dedup discipline):

    - shuffle 1: distinct (group, bucket, hash);
    - shuffle 2: lag(bucket) per (group, hash) marks which values
      were present in the immediately-previous bucket (a gap breaks
      adjacency — values from bucket b-3 do NOT count for b);
    - shuffle 3: per-(group, bucket) counts;
    - shuffle 4: the group-keyed lag over the bucket sequence for the
      previous bucket's size — deliberately a SEPARATE exchange: it
      carries only the O(groups × buckets) aggregate rows, whereas
      folding it away (pre-partitioning everything by group alone)
      would funnel each group's whole O(distinct) hash set through
      one partition and skew the heavy agg.

    All four exchanges are keyed; the three that carry O(distinct)
    rows spread by (bucket, hash) sub-keys — the shape survives any
    corpus size. Times are epoch-ns and assumed non-negative (the
    topic contract); `div` truncates toward zero, so pre-epoch
    timestamps would straddle bucket 0 (the drift.py convention,
    shared knowingly). Returns (group, bucket_start,
    cur_distinct, prev_distinct, inter, uni, jaccard, novelty) with
    novelty = |cur \\ prev| / |cur| and jaccard = inter / uni; a
    group's first bucket (or one after a gap) scores novelty 1.0 /
    jaccard 0.0 against an empty previous set.
    """
    from pyspark.sql import Window

    src = df.select(
        F.col(group_col).cast("string").alias("grp"),
        # integer `div` — a double quotient loses precision at
        # epoch-ns magnitudes (> 2^53)
        F.expr(
            f"CAST(`{time_col}` AS BIGINT) div {int(bucket_ns)}"
        ).alias("b"),
        F.xxhash64(F.col(value_col)).alias("h"),
    ).distinct()
    wh = Window.partitionBy("grp", "h").orderBy("b")
    marked = src.withColumn("prev_b", F.lag("b").over(wh))
    per_bucket = marked.groupBy("grp", "b").agg(
        F.count(F.lit(1)).alias("cur_distinct"),
        F.sum(
            (F.col("prev_b") == F.col("b") - 1).cast("long")
        ).alias("inter"),
    )
    wb = Window.partitionBy("grp").orderBy("b")
    out = (
        per_bucket.withColumn("lag_cnt", F.lag("cur_distinct").over(wb))
        .withColumn("lag_b", F.lag("b").over(wb))
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .withColumn(
            "prev_distinct",
            F.when(
                F.col("lag_b") == F.col("b") - 1, F.col("lag_cnt")
            ).otherwise(F.lit(0)),
        )
    )
    uni = F.col("cur_distinct") + F.col("prev_distinct") - F.col("inter")
    return out.select(
        F.col("grp").alias("group"),
        (F.col("b") * F.lit(int(bucket_ns))).alias("bucket_start"),
        "cur_distinct",
        "prev_distinct",
        "inter",
        uni.alias("uni"),
        F.when(uni > 0, F.round(F.col("inter") / uni, 6))
        .otherwise(0.0)
        .alias("jaccard"),
        F.round(
            (F.col("cur_distinct") - F.col("inter"))
            / F.col("cur_distinct"),
            6,
        ).alias("novelty"),
    )
