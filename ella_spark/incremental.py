"""Incremental materialized-view refresh: SQL shape analysis and the
table of mergeable aggregate families.

The reference declares materialized views but cannot execute them
(ella-engine/src/table/view.rs:36-39 `todo!()`); this repo's MVs work,
and this module makes `REFRESH MATERIALIZED VIEW` O(new data) instead
of O(history) for these shapes:

- **SPF** (select/project/filter over one topic, no aggregation): the
  view over (history ∪ delta) equals snapshot ∪ view(delta), so a
  refresh scans only the shards published since the last snapshot and
  appends their projected rows.
- **Mergeable aggregate** (`SELECT keys…, agg(expr) AS a… FROM topic
  [WHERE …] [GROUP BY keys…]`): every aggregate belongs to one family
  of ``FAMILIES``, which states how it keeps mergeable state, how that
  state merges over snapshot ∪ delta partials and how the visible
  column is derived from it. A GROUP BY with no aggregates (a
  DISTINCT-keys view) merges by dropping duplicate keys.
- **Inner-join CHAIN of n ≥ 2 distinct topics** (`SELECT … FROM t1 JOIN
  t2 ON … [JOIN t3 ON …] [WHERE …] [GROUP BY …]`), SPF or aggregate:
  for append-only inputs the leapfrog insert-delta identity
  Δ(T1 ⋈ … ⋈ Tn) = ⋃ᵢ T1ᵒˡᵈ ⋈ … ⋈ Tᵢ₋₁ᵒˡᵈ ⋈ ΔTᵢ ⋈ Tᵢ₊₁ⁿᵉʷ ⋈ … ⋈ Tnⁿᵉʷ
  partitions the new result rows exactly (every new row contains a
  delta row from some FIRST position i; terms are disjoint because
  positions before i are bound to old data only). Inner joins only:
  outer variants can RETRACT earlier null-padded rows on insert,
  which append-only snapshots cannot express. Families whose state
  comes from a side query (KLL, mode) do not ride joins. A self-join
  falls back to a full recompute: a refresh binds each topic name by
  one CTE, which cannot hold the old and the delta file subsets at once.

Shared contract:

- **Shard cursor.** A snapshot records the immutable shard basenames
  it consumed per topic; a refresh reads only the shards not in that
  set. Compaction renames shards, which invalidates the cursor and
  forces a full recompute.
- **Full-recompute fallback.** Anything the analyzer does not fully
  understand (outer joins, subqueries, windows, other DISTINCT forms,
  set ops, an argument shape a family refuses) falls back to a full
  recompute — correctness first; every token it does not understand
  disqualifies the plan. So does a snapshot whose hidden-state layout
  no longer unions with the delta partials.
- **The ``__mv_`` namespace.** Hidden state lives in snapshot columns
  ``__mv_<part>__<alias>``; every read projects them away, and a user
  output column in that namespace is refused.

At 100 TB this is the difference between a rollup refresh that reads a
day of new shards and one that rescans the whole fact history. The
same partial-aggregate + merge shape is what Spark itself does
map-side within one job; here it is carried ACROSS refreshes via the
snapshot.
"""

from __future__ import annotations

import functools
import operator
import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tokens whose presence disqualifies delta refresh (conservative:
#: matching plain words, not a parser — false positives only cause a
#: full recompute, never a wrong delta)
_BANNED = re.compile(
    r"\b(join|union|intersect|except|distinct|over|limit|offset|having|"
    r"window|with|qualify|values|pivot|unpivot|lateral|tablesample|"
    r"order\s+by|cluster\s+by|sort\s+by|distribute\s+by)\b|\(\s*select",
    re.I,
)

#: the one DISTINCT form the agg rewrite supports (masked out before
#: the banned-token scan; see analyze_mv_sql)
_COUNT_DISTINCT = re.compile(
    r"\b(?:count|sum|avg)\s*\(\s*distinct\b", re.I
)

_SHAPE = re.compile(
    r"^\s*select\s+(?P<select>.+?)\s+from\s+(?P<table>[A-Za-z0-9_]+)"
    r"(?:\s+(?:as\s+)?(?P<alias>[A-Za-z0-9_]+))?"
    r"(?:\s+where\s+(?P<where>.+?))?"
    r"(?:\s+group\s+by\s+(?P<group>.+?))?\s*;?\s*$",
    re.I | re.S,
)

#: ANY aggregate-function call (used to reject un-mergeable aggs and
#: to tell SPF apart from a global aggregate)
_ANY_AGG = re.compile(
    r"\b(sum|count|min|max|avg|mean|stddev\w*|std|variance|var_\w+|"
    r"corr|covar_\w+|regr_\w+|approx_\w+|percentile\w*|median|mode|"
    r"collect_\w+|array_agg|string_agg|listagg|first|last|first_value|"
    r"last_value|any_value|any|some|every|bool_and|bool_or|bit_\w+|"
    r"count_if|grouping|grouping_id|histogram\w*|kurtosis|skewness|"
    r"hll_\w+|max_by|min_by|try_\w+|sum_distinct|"
    r"count_min_sketch|bitmap_\w+|bloom_filter_agg|mode_agg)\s*\(",
    re.I,
)
# NOTE: this blacklist is the FIRST line of defense only. For an SPF
# view over one topic or a join chain, the delta path additionally
# inspects the analyzed Spark plan of the bound delta query
# (engine.Ella._refresh_delta) and refuses the append if any Aggregate
# node appears, or if the plan cannot be inspected (Spark Connect) —
# so an aggregate this regex does not know can never silently append
# partial results; worst case is a full recompute.

_ALIASED = re.compile(r"^(?P<expr>.+?)\s+as\s+(?P<alias>[A-Za-z0-9_]+)$", re.I | re.S)

#: inner-join CHAIN of distinct topics (optionally GROUP BY): the
#: chain body is parsed by _parse_chain (n >= 2 tables)
_JOIN_SHAPE = re.compile(
    r"^\s*select\s+(?P<select>.+?)\s+from\s+(?P<chain>.+?)"
    r"(?:\s+where\s+(?P<where>.+?))?"
    r"(?:\s+group\s+by\s+(?P<group>.+?))?\s*;?\s*$",
    re.I | re.S,
)
_CHAIN_HEAD = re.compile(
    r"^\s*(?P<t>[A-Za-z0-9_]+)(?:\s+(?:as\s+)?(?P<a>[A-Za-z0-9_]+))?\s*$",
    re.I,
)
_CHAIN_LINK = re.compile(
    r"^\s*(?P<t>[A-Za-z0-9_]+)(?:\s+(?:as\s+)?(?P<a>[A-Za-z0-9_]+))?"
    r"\s+on\s+(?P<on>.+?)\s*$",
    re.I | re.S,
)
_JOIN_SPLIT = re.compile(r"\s+(?:inner\s+)?join\s+", re.I)
#: disqualifiers for the join shape: everything in _BANNED except the
#: INNER JOIN keywords themselves, plus every non-inner join flavor
_BANNED_JOIN = re.compile(
    r"\b(union|intersect|except|distinct|over|limit|offset|having|"
    r"window|with|qualify|values|pivot|unpivot|lateral|tablesample|"
    r"left|right|full|outer|cross|semi|anti|natural|using|"
    r"order\s+by|cluster\s+by|sort\s+by|distribute\s+by)\b"
    r"|\(\s*select",
    re.I,
)
_DOTTED_IDENT = re.compile(r"^[A-Za-z0-9_]+(\.[A-Za-z0-9_]+)?$")


@dataclass(frozen=True)
class Family:
    """One mergeable aggregate family: an entry of ``FAMILIES``."""

    name: str
    #: the function names it accepts (lower case)
    fns: frozenset[str]
    #: argument shape: the item's top-level arguments -> its literal
    #: parameters, or None to refuse the item (full recompute)
    shape: Callable[[list[str]], tuple | None]
    #: merge over snapshot ∪ delta partials: item -> (aggregate
    #: columns, post-aggregation (column, expression) steps)
    merge: Callable[[AggItem], tuple[list, list]]
    #: hidden snapshot columns, ``__mv_<part>__<alias>`` each; none for
    #: the plain family, whose visible column is its own state
    parts: tuple[str, ...] = ()
    #: partial-aggregate SQL, one expression per hidden column (the
    #: plain family re-emits its select item); None when ``side``
    #: builds the state instead
    partial: Callable[[AggItem], list[str]] | None = None
    #: side query for state the one-pass partial SQL cannot express:
    #: (query, keys, items) -> state frames holding the keys and the
    #: hidden columns, where query(extra select items) replays the
    #: view's FROM/WHERE binding with the group keys selected
    side: Callable | None = None
    #: visible column from the hidden state: (item, dtype) -> Column
    visible: Callable[[AggItem, object], Column] | None = None
    #: True: the DISTINCT form of ``fns``
    distinct: bool = False


@dataclass(frozen=True)
class AggItem:
    """One parsed aggregate select item ``fn(arg) AS alias``."""

    family: Family
    fn: str
    alias: str
    text: str  # the select item as written
    arg: str  # the argument text (DISTINCT stripped)
    args: tuple[str, ...]  # its top-level arguments
    params: tuple = ()  # literal parameters from ``Family.shape``

    @property
    def hidden(self) -> tuple[str, ...]:
        return tuple(f"__mv_{p}__{self.alias}" for p in self.family.parts)

    @property
    def partial_sql(self) -> list[str]:
        """Select items of the hidden partial-aggregate SQL."""
        if self.family.partial is None:
            return []
        exprs = self.family.partial(self)
        if not self.hidden:
            return exprs
        return [f"{e} AS {h}" for e, h in zip(exprs, self.hidden)]


def _arity(n: int):
    return lambda args: () if len(args) == n else None


def _any_args(args):
    return ()


def _kll_shape(args):
    # one scalar literal probability: prob arrays, an accuracy argument
    # or a column refuse
    if len(args) != 2:
        return None
    try:
        prob = float(args[1])
    except ValueError:
        return None
    return (prob,) if 0.0 <= prob <= 1.0 else None


def _top_k_shape(args):
    # literal k / maxItemsTracked (Spark's defaults 5 / 10000)
    if len(args) > 3:
        return None
    try:
        k = int(args[1]) if len(args) > 1 else 5
        tracked = int(args[2]) if len(args) > 2 else 10000
    except ValueError:
        return None
    return (k, tracked)


def _each(agg: Callable[[str], Column]):
    """Merge that re-aggregates every hidden column with ``agg``."""
    return lambda it: ([agg(h).alias(h) for h in it.hidden], [])


def _fold(fold: Callable[[str], Column]):
    """Merge that collects the per-partial states of the one hidden
    column (bounded: one per partial — the snapshot plus one delta
    term, or one per leapfrog join term — never one per input row)
    and folds the list with ``fold(list column name)``."""

    def merge(it):
        (h,) = it.hidden
        tmp = f"__mv_tmp__{it.alias}"
        return [F.collect_list(F.col(h)).alias(tmp)], [(h, fold(tmp))]

    return merge


def _weighted_sum(mean: str):
    return lambda acc, s: acc + s["n"] * s[mean]


def _welford(n_means: int, *moments):
    """Merge for a Welford family whose hidden layout is (n, means…,
    centered moments…). Counts merge exactly via SUM; means and
    centered moments merge via the grand-mean identities over the
    collected per-partial structs:

        mean = Σ nᵢ·meanᵢ / N
        M2   = Σ M2ᵢ + Σ nᵢ·(meanᵢ − mean)²
        C    = Σ Cᵢ  + Σ nᵢ·(mxᵢ − mx)(myᵢ − my)

    Subtracting NEARBY means is stable where re-deriving from raw Σx²
    is not (values ~1e9 with variance ~1 cancel catastrophically).
    Each of ``moments`` maps (nᵢ, d, q) to the summands one partial
    adds, where d(j) is its j-th mean minus the merged mean and q(j)
    its j-th centered moment."""

    def merge(it):
        n, *state = it.hidden
        means, qs = state[:n_means], state[n_means:]
        tmp = f"__mv_tmp__{it.alias}"
        zero = F.lit(0.0)
        aggs = [
            F.sum(n).alias(n),
            F.collect_list(
                F.struct(
                    F.col(n).cast("double").alias("n"),
                    *[F.coalesce(F.col(c), zero).alias(c) for c in state],
                )
            ).alias(tmp),
        ]
        arr = F.col(tmp)
        total = F.col(n).cast("double")
        post = [
            (
                m,
                F.when(
                    F.col(n) > 0,
                    F.aggregate(arr, zero, _weighted_sum(m)) / total,
                ),
            )
            for m in means
        ]
        # the merged means (columns replaced by the steps above)
        grand = [F.coalesce(F.col(m), zero) for m in means]

        def summed(terms):
            def step(acc, s):
                d = functools.cache(lambda j: s[means[j]] - grand[j])
                q = functools.cache(lambda j: s[qs[j]])
                return functools.reduce(operator.add, terms(s["n"], d, q), acc)

            return F.aggregate(arr, zero, step)

        return aggs, post + [(q, summed(t)) for q, t in zip(qs, moments)]

    return merge


def _as_double(arg: str) -> str:
    return f"CAST(({arg}) AS DOUBLE)"


def _variance_partial(it):
    # avg and var_pop are Welford-computed inside Spark
    # (CentralMomentAgg), so the partial never forms a catastrophic
    # sum of squares
    d = _as_double(it.arg)
    return [f"count({it.arg})", f"avg({d})", f"var_pop({d}) * count({it.arg})"]


def _variance_visible(it, dtype):
    hcnt, _, hm2 = it.hidden
    n = F.col(hcnt).cast("double")
    # M2 is already the centered second moment; clamp tiny negative
    # rounding from the merge
    m2 = F.greatest(F.col(hm2), F.lit(0.0))
    if it.fn in ("var_pop", "stddev_pop"):
        var, floor = m2 / n, 1
    else:
        var, floor = m2 / (n - 1), 2  # sample stats: NULL at n < 2
    val = F.sqrt(var) if it.fn.startswith("stddev") else var
    return F.when(F.col(hcnt) >= floor, val).cast(dtype)


def _corr_partial(it):
    # over BOTH-non-null rows (Spark's pair semantics): the
    # cross-guards make each per-row value NULL when the OTHER argument
    # is NULL, and covar_pop skips incomplete pairs natively
    x, y = it.args
    dx, dy = _as_double(x), _as_double(y)
    gx = f"CASE WHEN ({y}) IS NOT NULL THEN {dx} END"
    gy = f"CASE WHEN ({x}) IS NOT NULL THEN {dy} END"
    return [
        f"count({dx} + {dy})",
        f"avg({gx})",
        f"avg({gy})",
        f"var_pop({gx}) * count({gx})",
        f"var_pop({gy}) * count({gy})",
        f"covar_pop({dx}, {dy}) * count({dx} + {dy})",
    ]


def _corr_visible(it, dtype):
    # positional state: 1 = FIRST argument (y for regr_*(y, x)), 2 =
    # second; q's are the centered moments, c the co-moment
    hn, hm1, hm2, hq1, hq2, hc = it.hidden
    cnt, c = F.col(hn), F.col(hc)
    n = cnt.cast("double")
    m11 = F.greatest(F.col(hq1), F.lit(0.0))
    m22 = F.greatest(F.col(hq2), F.lit(0.0))
    one = cnt >= 1
    val, guard = {
        "covar_pop": lambda: (c / n, one),
        "covar_samp": lambda: (c / (n - 1), cnt >= 2),
        # zero-variance sides -> NULL (PostgreSQL convention; Spark's
        # native ANSI corr raises here)
        "corr": lambda: (
            c / F.sqrt(m11 * m22), one & (m11 > 0) & (m22 > 0)
        ),
        "regr_count": lambda: (cnt, F.lit(True)),
        "regr_avgx": lambda: (F.col(hm2), one),
        "regr_avgy": lambda: (F.col(hm1), one),
        "regr_slope": lambda: (c / m22, one & (m22 > 0)),
        "regr_intercept": lambda: (
            F.col(hm1) - (c / m22) * F.col(hm2), one & (m22 > 0)
        ),
        # Spark/PostgreSQL: NULL when var(x) = 0; 1.0 when var(y) = 0
        # (x varying); else corr²
        "regr_r2": lambda: (
            F.when(m11 > 0, c * c / (m22 * m11)).otherwise(1.0),
            one & (m22 > 0),
        ),
        "regr_sxx": lambda: (m22, one),
        "regr_syy": lambda: (m11, one),
        "regr_sxy": lambda: (c, one),
    }[it.fn]()
    return F.when(guard, val).cast(dtype)


def _moments_partial(it):
    # central-moment state recovered from Spark's own CentralMomentAgg
    # outputs (probed: var_pop = M2/n, skewness = (M3/n)/(M2/n)^1.5,
    # kurtosis = (M4/n)/(M2/n)^2 - 3; both NULL when M2 = 0, so the
    # coalesce(…) * var_pop^k product is exactly 0 there)
    d = _as_double(it.arg)
    n = f"count({it.arg})"
    return [
        n,
        f"avg({d})",
        f"var_pop({d}) * {n}",
        f"coalesce(skewness({d}), 0) * {n} * pow(var_pop({d}), 1.5)",
        f"(coalesce(kurtosis({d}), 0) + 3) * {n} * pow(var_pop({d}), 2)",
    ]


def _moments_visible(it, dtype):
    # population central-moment forms (probed against Spark: NULL when
    # M2 = 0 — constant or single-value groups)
    hn, _, hq2, hq3, hq4 = it.hidden
    n = F.col(hn).cast("double")
    m2 = F.greatest(F.col(hq2), F.lit(0.0))
    guard = (F.col(hn) >= 1) & (m2 > 0)
    if it.fn == "skewness":
        val = (F.col(hq3) / n) / F.pow(m2 / n, 1.5)
    else:  # kurtosis (excess)
        val = (F.col(hq4) / n) / F.pow(m2 / n, 2.0) - 3.0
    return F.when(guard, val).cast(dtype)


#: KLL capacity for approx_percentile MV state: groups up to this many
#: rows keep an uncompacted sketch (estimates exactly the discrete
#: quantile); larger groups stay within the KLL rank error. ~16 KB of
#: doubles per group at the cap.
KLL_K = 2048


def _kll_side(query, keys, items):
    # ONE side query + ONE applyInPandas pass builds every percentile
    # column's state (several percentiles over the same argument would
    # otherwise scan the source once each); one bucket-keyed shuffle,
    # and the sketch rows are O(groups), never O(rows)
    import pandas as pd

    from ella_spark.operators.sketch import kll_build

    val_cols = {it.hidden[0]: f"__v_{i}" for i, it in enumerate(items)}
    src = query(
        [
            f"{_as_double(it.args[0])} AS {val_cols[it.hidden[0]]}"
            for it in items
        ]
    )
    state_fields = ", ".join(f"{h} array<array<double>>" for h in val_cols)
    if keys:
        grouped = src.groupBy(*keys)
        key_fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in src.schema.fields
            if f.name in keys
        )
        out_schema = f"{key_fields}, {state_fields}"
    else:
        src = src.withColumn("__g", F.lit(1))
        grouped = src.groupBy("__g")
        out_schema = f"__g int, {state_fields}"

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {
            c: [pdf[c].iloc[0]] for c in pdf.columns if not c.startswith("__v_")
        }
        for h, vc in val_cols.items():
            levels = kll_build(pdf[vc].to_numpy(dtype=float), KLL_K)
            row[h] = [[list(map(float, l)) for l in levels]]
        return pd.DataFrame(row)

    state = grouped.applyInPandas(build, schema=out_schema)
    return [state if keys else state.drop("__g")]


def _kll_merge(tmp):
    from ella_spark.operators.sketch import kll_merge_states_udf

    return kll_merge_states_udf(KLL_K)(F.col(tmp))


def _kll_visible(it, dtype):
    # None for empty state: Spark's own approx_percentile over zero
    # non-null rows is NULL too
    from ella_spark.operators.sketch import kll_quantile_udf

    return kll_quantile_udf(it.params[0])(F.col(it.hidden[0])).cast(dtype)


def _distinct_fold_visible(it, dtype):
    # fold the SORTED distinct set so float folds are order-
    # deterministic (delta merge == full recompute bit-for-bit);
    # empty/NULL set -> NULL, matching sum/avg over zero non-null rows
    (h,) = it.hidden
    t = dtype.simpleString()
    if it.fn == "sum":
        val = F.expr(
            f"aggregate(array_sort({h}), CAST(0 AS {t}), "
            f"(acc, x) -> acc + CAST(x AS {t}))"
        )
    else:  # avg: fold in double, divide by the set size
        val = F.expr(
            f"aggregate(array_sort({h}), CAST(0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE))"
        ) / F.size(F.col(h))
    return F.when(F.col(h).isNotNull() & (F.size(F.col(h)) > 0), val).cast(
        dtype
    )


def _mode_side(query, keys, items):
    # two shuffles per mode column: (keys, value) counts, then (keys)
    # map assembly; groups whose argument is all-NULL are absent from
    # the state frame -> NULL state -> NULL mode, matching plain mode()
    # over zero non-null rows
    states = []
    for it in items:
        src = query([f"({it.args[0]}) AS __mv_x"])
        counts = (
            src.where(F.col("__mv_x").isNotNull())
            .groupBy(*keys, "__mv_x")
            .agg(F.count(F.lit(1)).alias("__mv_n"))
        )
        states.append(
            counts.groupBy(*keys).agg(
                F.map_from_entries(
                    F.collect_list(F.struct("__mv_x", "__mv_n"))
                ).alias(it.hidden[0])
            )
        )
    return states


def _mode_merge(tmp):
    # map_zip_with summing counts: exact and order-free. collect_list
    # skips NULL maps; the empty list (every partial had NULL state)
    # becomes a NULL map rather than an ANSI error on element_at
    return F.expr(
        f"CASE WHEN size({tmp}) = 0 THEN NULL ELSE "
        f"aggregate(slice({tmp}, 2, size({tmp})), element_at({tmp}, 1), "
        "(acc, m) -> map_zip_with(acc, m, "
        "(k, a, b) -> coalesce(a, 0L) + coalesce(b, 0L))) END"
    )


def _mode_visible(it, dtype):
    # the entry with the highest count, ties to the SMALLEST value;
    # NULL/empty state -> NULL, matching mode() over zero non-null rows
    return F.expr(
        f"try_element_at(array_sort(map_entries({it.hidden[0]}), "
        "(a, b) -> CASE WHEN a.value > b.value THEN -1 "
        "WHEN a.value < b.value THEN 1 "
        "WHEN a.key < b.key THEN -1 "
        "WHEN a.key > b.key THEN 1 ELSE 0 END), 1).key"
    ).cast(dtype)


#: re-aggregating plain partials with these gives the total: sum/count
#: via SUM; min/max, the bool and the bit families are associative and
#: idempotent — bit_xor is associative and each input row lands in
#: exactly one partial, so partial-xor folds exactly
_SELF_MERGE = {
    "sum": F.sum, "count": F.sum, "count_if": F.sum,
    "min": F.min, "max": F.max,
    "bool_and": F.bool_and, "every": F.bool_and, "bool_or": F.bool_or,
    "bit_and": F.bit_and, "bit_or": F.bit_or, "bit_xor": F.bit_xor,
}

#: Every aggregate family a mergeable-aggregate MV keeps incrementally.
#: Each entry states its accepted functions and argument shape, its
#: hidden snapshot columns, its partial SQL (or side query), its merge
#: and its visible column. The table order is the order of the hidden
#: columns in a snapshot (family-major, then select order), which
#: snapshots already written depend on.
FAMILIES = (
    # sum, count, min, max, count_if, bool_and/bool_or/every,
    # bit_and/bit_or/bit_xor: self-mergeable; the visible column is
    # its own state, merged by re-aggregating (_SELF_MERGE).
    Family(
        "plain",
        frozenset(_SELF_MERGE),
        _any_args,
        lambda it: ([_SELF_MERGE[it.fn](it.alias).alias(it.alias)], []),
        partial=lambda it: [it.text],
    ),
    # avg(e): hidden sum and count, merged via SUM; visible sum/count —
    # exactly the evaluation Spark's own Average performs.
    Family(
        "avg",
        frozenset({"avg"}),
        _any_args,
        _each(F.sum),
        parts=("sum", "cnt"),
        partial=lambda it: [f"sum({it.arg})", f"count({it.arg})"],
        visible=lambda it, t: F.when(
            F.col(it.hidden[1]) > 0,
            F.col(it.hidden[0]) / F.col(it.hidden[1]),
        ).cast(t),
    ),
    # stddev[_samp], stddev_pop, variance, var_samp, var_pop: Welford
    # state (count, mean, M2), the state Spark's CentralMomentAgg
    # carries between partitions; with values ~1e9 and variance ~1 it
    # keeps ~9 significant digits where sumsq − sum²/n kept none
    # (test_stats_mv_large_magnitude_stability). Visible M2/n
    # (/(n−1) for sample stats, NULL below 2 rows), sqrt for stddev.
    Family(
        "variance",
        frozenset({
            "stddev", "stddev_samp", "stddev_pop",
            "variance", "var_samp", "var_pop",
        }),
        _any_args,
        _welford(1, lambda n, d, q: [q(0), n * d(0) * d(0)]),
        parts=("cnt", "mean", "m2"),
        partial=_variance_partial,
        visible=_variance_visible,
    ),
    # corr, covar_samp, covar_pop and the nine regr_* (two arguments;
    # regr_*(y, x) passes y first): Welford co-moment state (n, mean₁,
    # mean₂, M2₁, M2₂, C) over BOTH-non-null pairs, the state of
    # Spark's Covariance. Deviation: corr over a zero-variance side is
    # NULL (PostgreSQL) where Spark's ANSI corr raises DIVIDE_BY_ZERO.
    Family(
        "corr",
        frozenset({
            "corr", "covar_samp", "covar_pop",
            "regr_count", "regr_avgx", "regr_avgy", "regr_slope",
            "regr_intercept", "regr_r2", "regr_sxx", "regr_syy", "regr_sxy",
        }),
        _arity(2),
        _welford(
            2,
            lambda n, d, q: [q(0), n * d(0) * d(0)],
            lambda n, d, q: [q(1), n * d(1) * d(1)],
            lambda n, d, q: [q(2), n * d(0) * d(1)],
        ),
        parts=("n", "m1", "m2a", "q1", "q2", "c"),
        partial=_corr_partial,
        visible=_corr_visible,
    ),
    # skewness, kurtosis: (n, mean, M2, M3, M4) recovered from Spark's
    # own outputs per partial (exact inversions of CentralMomentAgg),
    # merged by the grand-mean binomial identities
    # M3 += M3ᵢ + 3dᵢM2ᵢ + nᵢdᵢ³, M4 += M4ᵢ + 4dᵢM3ᵢ + 6dᵢ²M2ᵢ + nᵢdᵢ⁴
    # (dᵢ = meanᵢ − mean). NULL when M2 = 0, as Spark.
    Family(
        "moments",
        frozenset({"skewness", "kurtosis"}),
        _any_args,
        _welford(
            1,
            lambda n, d, q: [q(0), n * d(0) * d(0)],
            lambda n, d, q: [
                q(1), F.lit(3.0) * d(0) * q(0), n * d(0) * d(0) * d(0)
            ],
            lambda n, d, q: [
                q(2),
                F.lit(4.0) * d(0) * q(1),
                F.lit(6.0) * d(0) * d(0) * q(0),
                n * d(0) * d(0) * d(0) * d(0),
            ],
        ),
        parts=("n", "m1", "q2", "q3", "q4"),
        partial=_moments_partial,
        visible=_moments_visible,
    ),
    # approx_count_distinct(x) (no rsd argument: the rewrite cannot
    # honor it): a DataSketches HLL sketch (hll_sketch_agg), merged by
    # hll_union_agg — the union Spark applies across partitions, so no
    # new error class, though union-built and direct-built sketches may
    # differ by a fraction of the ~1.6% lgK=12 error. Visible
    # hll_sketch_estimate, 0 for an all-NULL group. Deviation: the
    # estimator is DataSketches HLL, not HyperLogLog++.
    Family(
        "hll",
        frozenset({"approx_count_distinct"}),
        _arity(1),
        _each(F.hll_union_agg),
        parts=("hll",),
        partial=lambda it: [f"hll_sketch_agg({it.arg})"],
        visible=lambda it, t: F.coalesce(
            F.hll_sketch_estimate(F.col(it.hidden[0])), F.lit(0)
        ).cast(t),
    ),
    # max_by/min_by(arg, ord): the (o=ord, a=arg) PAIR as a struct,
    # merged by lexicographic max/min, visible state.a. Rows with NULL
    # ord contribute nothing (the CASE guard nulls the struct); a NULL
    # arg loses ties under max and wins them under min. Deviation: on
    # ord ties the lexicographically extreme arg wins in both refresh
    # paths, where plain max_by leaves the pick implementation-defined.
    Family(
        "max_by",
        frozenset({"max_by", "min_by"}),
        _arity(2),
        lambda it: _each(F.max if it.fn == "max_by" else F.min)(it),
        parts=("ord",),
        partial=lambda it: [
            ("max" if it.fn == "max_by" else "min")
            + f"(CASE WHEN ({it.args[1]}) IS NOT NULL THEN "
            f"named_struct('o', ({it.args[1]}), 'a', ({it.args[0]})) END)"
        ],
        visible=lambda it, t: F.col(it.hidden[0]).getField("a").cast(t),
    ),
    # approx_percentile/percentile_approx(e, p), scalar literal p: a
    # KLL sketch (operators.sketch, derandomized compaction: the state
    # is a pure function of the group's sorted multiset) as
    # array<array<double>>, built by an applyInPandas side query and
    # merged with kll_merge. Deviation: KLL, not Spark's GK; exact
    # discrete quantile (rank ceil(p·n)) while a group has ≤ KLL_K rows.
    Family(
        "kll",
        frozenset({"approx_percentile", "percentile_approx"}),
        _kll_shape,
        _fold(_kll_merge),
        parts=("kll",),
        side=_kll_side,
        visible=_kll_visible,
    ),
    # count(DISTINCT x), one argument: EXACT via the group's distinct
    # set (collect_set), merged by distinct-flatten; visible its size
    # (0 for a NULL set). State is O(distinct values per group), as in
    # any exact engine; approx_count_distinct is the bounded one.
    Family(
        "count_distinct",
        frozenset({"count"}),
        _arity(1),
        _each(lambda h: F.array_distinct(F.flatten(F.collect_list(F.col(h))))),
        parts=("set",),
        partial=lambda it: [f"collect_set({it.arg})"],
        visible=lambda it, t: F.when(F.col(it.hidden[0]).isNull(), F.lit(0))
        .otherwise(F.size(F.col(it.hidden[0])))
        .cast(t),
        distinct=True,
    ),
    # sum/avg(DISTINCT x), one argument: the same distinct-set state;
    # the visible value folds the SORTED set (sum in the result dtype;
    # avg in double — a hair of deviation from Spark's decimal-avg
    # rounding, the same in both refresh paths).
    Family(
        "distinct_fold",
        frozenset({"sum", "avg"}),
        _arity(1),
        _each(lambda h: F.array_distinct(F.flatten(F.collect_list(F.col(h))))),
        parts=("set",),
        partial=lambda it: [f"collect_set({it.arg})"],
        visible=_distinct_fold_visible,
        distinct=True,
    ),
    # mode(x), one argument (not the deterministic flag): EXACT via a
    # value -> count map built by a SQL side query (a count per value
    # needs a second grouping level), merged by map_zip_with count
    # sums. Deviation: count ties go to the SMALLEST value in both
    # refresh paths, where plain mode() picks implementation-defined.
    Family(
        "mode",
        frozenset({"mode"}),
        _arity(1),
        _fold(_mode_merge),
        parts=("cmap",),
        side=_mode_side,
        visible=_mode_visible,
    ),
    # approx_top_k(x[, k[, maxItemsTracked]]), literal k and
    # maxItemsTracked: a DataSketches frequent-items sketch
    # (approx_top_k_accumulate), merged by approx_top_k_combine,
    # visible approx_top_k_estimate. Exact while distinct items fit
    # maxItemsTracked; beyond it the sketch's error band, the same in
    # both refresh paths.
    Family(
        "top_k",
        frozenset({"approx_top_k"}),
        _top_k_shape,
        lambda it: _each(
            lambda h: F.expr(f"approx_top_k_combine({h}, {it.params[1]})")
        )(it),
        parts=("topk",),
        partial=lambda it: [
            f"approx_top_k_accumulate(({it.args[0]}), {it.params[1]})"
        ],
        visible=lambda it, t: F.expr(
            f"approx_top_k_estimate({it.hidden[0]}, {it.params[0]})"
        ).cast(t),
    ),
)

#: a mergeable aggregate select item: fn(arg) AS alias
_AGG_ITEM = re.compile(
    r"^(?P<fn>"
    + "|".join(sorted({f for fam in FAMILIES for f in fam.fns}, key=len, reverse=True))
    + r")\s*\((?P<arg>.+)\)\s+as\s+(?P<alias>[A-Za-z0-9_]+)$",
    re.I | re.S,
)


@dataclass
class MvAnalysis:
    """Delta-refresh plan for a 1..n-topic materialized view."""

    table: str  # the FROM identifier (the topic's registered view name)
    mode: str  # "spf" | "agg" | "spf_join" | "agg_join"
    keys: list[str] = field(default_factory=list)  # agg: group-key out cols
    out_cols: list[str] = field(default_factory=list)  # agg: select order
    table2: str | None = None  # join: the second topic (compat accessor)
    #: every FROM-chain table in join order (len 1 for single-topic)
    tables: list[str] = field(default_factory=list)
    #: the aggregate select items, in select order
    items: list[AggItem] = field(default_factory=list)
    #: raw SELECT items for the group keys (side queries re-select them)
    key_items: list[str] = field(default_factory=list)
    #: FROM body + optional WHERE of the analyzed SQL (side queries
    #: replay them)
    from_text: str | None = None
    where: str | None = None
    #: SQL computing the MERGEABLE partials (every item with hidden
    #: state replaced by its partial items); None when no item has any
    hidden_sql: str | None = None

    def __post_init__(self):
        if not self.tables:
            self.tables = [self.table] + ([self.table2] if self.table2 else [])

    @property
    def aggs(self) -> dict[str, str]:
        """Aggregate output column -> function name."""
        return {it.alias: it.fn for it in self.items}

    @property
    def derived(self) -> list[AggItem]:
        """Items whose visible column is derived from hidden state."""
        return [it for it in self.items if it.hidden]

    def by_family(self):
        """(family, its items) for each family present, in table order."""
        for fam in FAMILIES:
            items = [it for it in self.items if it.family is fam]
            if items:
                yield fam, items

    @property
    def hidden_cols(self) -> list[str]:
        """Every hidden snapshot column, in snapshot order."""
        return [
            h for _, items in self.by_family() for it in items for h in it.hidden
        ]


def _split_top_level(text: str) -> list[str]:
    """Split a select/group list on commas outside parentheses."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(text[start:i].strip())
            start = i + 1
    items.append(text[start:].strip())
    return [i for i in items if i]


def _norm(expr: str) -> str:
    return re.sub(r"\s+", " ", expr.strip()).lower()


def analyze_mv_sql(sql: str) -> MvAnalysis | None:
    """Classify a stored MV SQL as delta-refreshable, or None."""
    m = _SHAPE.match(sql)
    # count/sum/avg(DISTINCT x) are the DISTINCT forms the families
    # handle — mask them so the conservative banned-token scan does not
    # reject them; every other DISTINCT (SELECT DISTINCT, multi-arg,
    # min(DISTINCT)) still disqualifies here or in _agg_analysis.
    scan_sql = _COUNT_DISTINCT.sub("count(", sql)
    if m is None or _BANNED.search(scan_sql):
        return _analyze_join(sql)
    table = m.group("table")
    group = m.group("group")
    if group is None and not _ANY_AGG.search(m.group("select")):
        # plain select/project/filter: append-only delta
        return MvAnalysis(table=table, mode="spf")
    alias = m.group("alias")
    return _agg_analysis(
        m.group("select"),
        group,
        table + (f" {alias}" if alias else ""),
        m.group("where"),
        table=table,
        mode="agg",
    )


def _agg_item(text: str) -> AggItem | None:
    """Parse one aggregate select item, or None when no family merges
    it (full recompute)."""
    am = _AGG_ITEM.match(text)
    if am is None:
        return None  # an aggregate shape we can't merge (expr-of-aggs, …)
    fn, arg = am.group("fn").lower(), am.group("arg")
    if _ANY_AGG.search(arg):
        return None  # nested aggregate: not mergeable
    dm = re.match(r"^\s*distinct\b(?P<inner>.+)$", arg, re.I | re.S)
    if dm is not None:
        arg = dm.group("inner").strip()
    family = next(
        (
            fam
            for fam in FAMILIES
            if fn in fam.fns and fam.distinct == (dm is not None)
        ),
        None,
    )
    if family is None:
        return None  # another DISTINCT aggregate: full recompute
    args = _split_top_level(arg)
    params = family.shape(args)
    if params is None:
        return None
    return AggItem(
        family, fn, am.group("alias"), text, arg, tuple(args), params
    )


def _agg_analysis(select, group, from_text, where, **kw) -> MvAnalysis | None:
    """The mergeable-aggregate analysis of a select list (single-topic
    or join), or None when any item disqualifies."""
    group_exprs = [_norm(g) for g in _split_top_level(group or "")]
    keys: list[str] = []
    out_cols: list[str] = []
    items: list[AggItem] = []
    key_items: list[str] = []
    partial: list[str] = []
    for text in _split_top_level(select):
        if _ANY_AGG.search(text):
            it = _agg_item(text)
            if it is None:
                return None
            items.append(it)
            out_cols.append(it.alias)
            partial += it.partial_sql
            continue
        # must be a group key with a derivable output column name
        alm = _ALIASED.match(text)
        if alm is not None:
            expr, alias = alm.group("expr"), alm.group("alias")
        else:
            expr, alias = text, None
        # the key may appear in GROUP BY as the expression or its alias
        if _norm(expr) not in group_exprs and (
            alias is None or _norm(alias) not in group_exprs
        ):
            return None
        if alias is None:
            if not _DOTTED_IDENT.match(expr):
                return None  # unaliased computed key: output name unknowable
            alias = expr.split(".")[-1]
        keys.append(alias)
        out_cols.append(alias)
        key_items.append(text)
        partial.append(text)
    if not partial:
        # e.g. a GLOBAL percentile/mode with no sibling aggregate or
        # key: the partial SQL would select nothing — full recompute
        # (add e.g. count(*) to the view to make it delta)
        return None
    return MvAnalysis(
        keys=keys,
        out_cols=out_cols,
        items=items,
        key_items=key_items,
        from_text=from_text,
        where=where,
        hidden_sql=_rebuild(partial, from_text, where, group)
        if any(it.hidden for it in items)
        else None,
        **kw,
    )


def _rebuild(select_items, from_text, where, group) -> str:
    """Reassemble a SELECT from parsed pieces (hidden-partials SQL)."""
    sql = f"SELECT {', '.join(select_items)} FROM {from_text}"
    if where:
        sql += f" WHERE {where}"
    if group:
        sql += f" GROUP BY {group}"
    return sql


def _parse_chain(chain: str) -> list[str] | None:
    """Parse a FROM body of chained inner joins into the table list,
    or None when it is not a plain ``t1 [a1] JOIN t2 [a2] ON … [JOIN
    t3 [a3] ON …]…`` chain of n >= 2 DISTINCT tables. Subqueries are
    impossible here (the banned-token scan rejected ``( select`` and
    every non-inner join flavor before this runs), so splitting on the
    JOIN keyword is unambiguous."""
    parts = _JOIN_SPLIT.split(chain)
    if len(parts) < 2:
        return None
    head = _CHAIN_HEAD.match(parts[0])
    if head is None:
        return None
    tables = [head.group("t")]
    for seg in parts[1:]:
        link = _CHAIN_LINK.match(seg)
        if link is None:
            return None
        tables.append(link.group("t"))
    if len({t.lower() for t in tables}) != len(tables):
        return None  # self-join: one CTE name cannot bind two file subsets
    return tables


def _analyze_join(sql: str) -> MvAnalysis | None:
    """Inner-join chain of n >= 2 DISTINCT topics (see module
    docstring): SPF (``spf_join``) or mergeable GROUP BY aggregate
    (``agg_join`` — the fact-join-dims rollup; the join-delta terms
    arrive already partially aggregated and merge with the snapshot
    exactly like the single-topic agg mode).

    Self-joins are rejected: the delta identity needs the same table
    bound to different file subsets simultaneously, which one CTE name
    of a refresh (``Ella._bound_sql``) cannot express. Outer flavors /
    subqueries reject.
    """
    m = _JOIN_SHAPE.match(sql)
    if m is None or _BANNED_JOIN.search(sql):
        return None
    tables = _parse_chain(m.group("chain"))
    if tables is None:
        return None
    group = m.group("group")
    if group is None:
        if _ANY_AGG.search(m.group("select")):
            return None  # global agg over a join: not yet supported
        return MvAnalysis(
            table=tables[0], mode="spf_join", table2=tables[1], tables=tables
        )
    a = _agg_analysis(
        m.group("select"),
        group,
        m.group("chain"),
        m.group("where"),
        table=tables[0],
        mode="agg_join",
        table2=tables[1],
        tables=tables,
    )
    if a is None or not a.items:
        return None  # distinct-keys over a join: keep it simple, full
    if any(it.family.side for it in a.items):
        return None  # percentile/mode over a join: full recompute (no
        # side query over a join chain yet)
    return a
