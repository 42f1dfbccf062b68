"""SQL table functions (TVFs): one table drives every rewrite.

A call such as ``psi_drift('events', 'value', 'kind')`` in a statement
is replaced by a placeholder for its entry's operator applied to the
named catalog object, and that frame goes to ``spark.sql`` as a
DataFrame argument, so the statement around it stays ordinary Spark
SQL (``Ella._rewrite_reads``). Every entry shares one contract:

- Stored views and materialized views keep the durable call text and
  rewrite it again whenever their frame is rebuilt (``Ella._frame_for``;
  ``Ella._bound_frame`` rebuilds it once an input changed), so a saved
  dashboard always scores current data; ``Lazy`` keeps the text from
  before the rewrite for the same reason.
- A stored view's result is computed once per input version, not once
  per statement (``Ella._bound_frame``): on a local master the view's
  kept frame is a lazy ``localCheckpoint`` of its result, and every
  later read scans it while the frames bound to its inputs and the
  session confs are unchanged. Views calling an entry with
  ``reads_table`` are never kept; off a local master every read
  computes it again, and so does every call written directly in a
  statement.
- Every call gets its own frame. ``spark.sql`` gives it a temp view
  of a fresh name for the length of that one call and drops it after
  (Spark Connect inlines it instead), so statements sharing a session
  never bind each other's result and no read leaves a view behind.

A call is ``<name>(`` right after a word boundary, then the quoted
table argument and the entry's argument shapes, separated by commas
with optional spaces; trailing optional arguments may be left out.
Anything else (a space before ``(``, an extra or mistyped argument, an
empty quoted name) is not a call and stays as written. Entries run one
pass each in table order, whatever the order of the calls in the text.
"""

from __future__ import annotations

import importlib
import re
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from ella_spark.topic import DAY_NS, Topic
from ella_spark.types import TIME_COLUMN

# argument shapes, one regex group each

#: a quoted non-empty name: a table, a column
_NAME = r"'([^']+)'"
#: an unsigned integer
_INT = r"(\d+)"
#: an unsigned decimal
_DEC = r"(\d+(?:\.\d+)?)"
#: an unsigned decimal that may omit its leading zero (``.5``)
_FRAC = r"(\d*\.\d+|\d+)"
#: a possibly negative number or a possibly empty quoted string
_LITERAL = r"('[^']*'|-?\d+(?:\.\d+)?)"


@dataclass(frozen=True)
class Tvf:
    """``name('<table>', *args[, *optional])``: the result is
    ``op(frame, *bind(*args))`` over the table's frame, or with
    ``reads_table`` ``op(db, table, *bind(*args))``."""

    name: str
    args: tuple[str, ...]
    op: Callable
    #: regex groups -> operator arguments: defaults, rebinds, validation
    bind: Callable[..., tuple] = lambda *args: args
    optional: tuple[str, ...] = ()
    #: the operator reads its table argument itself (a pruned
    #: ``Topic.read``, a vector index), so a statement registers
    #: nothing for that argument (``own_tables_blanked``)
    reads_table: bool = False

    @cached_property
    def pattern(self) -> re.Pattern:
        required = r"\s*,\s*".join((_NAME, *self.args))
        optional = "".join(rf"(?:\s*,\s*{a})?" for a in self.optional)
        return re.compile(rf"\b{self.name}\(\s*{required}{optional}\s*\)", re.I)


def _op(module: str, fn: str) -> Callable:
    """``ella_spark.operators.<module>.<fn>``, imported at its first
    call: the operator package is slow to import, and most statements
    call no table function."""

    def call(*args, **kwargs):
        mod = importlib.import_module(f"ella_spark.operators.{module}")
        return getattr(mod, fn)(*args, **kwargs)

    return call


def _positive_buckets(arg: "str | None", default: int = 10) -> int:
    """Validate an optional TVF bucket-count argument: the patterns
    match any digit run, so `psi_drift('t','v','k', 0)` would reach
    the operator and divide the bucket width by zero (NULL buckets
    under non-ANSI Spark — a silent degenerate histogram). Fail at
    rewrite time with guidance instead."""
    if arg is None:
        return default
    n = int(arg)
    if n < 1:
        raise ValueError(f"bucket count must be >= 1, got {n}")
    return n


def _fraction(what: str, arg: "str | None", default: float) -> float:
    value = float(arg) if arg else default
    if not 0.0 < value <= 1.0:
        raise ValueError(f"{what} must be in (0, 1], got {value}")
    return value


def _day_buckets(a, b, time_col, days) -> tuple:
    """``(a, b, time_col, bucket_ns)`` of a day-bucketed function. A
    QUOTED number in the time slot is a bucket width quoted by habit,
    not a time column named '7' (an all-digit time column would be
    unresolvable anyway, just with a worse error)."""
    if time_col and time_col.isdigit() and days is None:
        time_col, days = None, time_col
    n_days = int(days) if days else 1
    if n_days < 1:
        raise ValueError(f"bucket_days must be >= 1, got {n_days}")
    return a, b, time_col or TIME_COLUMN, n_days * DAY_NS


def _sketch_size(group_col, value_col, k) -> tuple:
    n = int(k) if k else 4096
    if n < 2:
        raise ValueError(f"k must be >= 2, got {n}")
    return group_col, value_col, n


def _neardup(vec_col, id_col, bucket_col, cosine) -> tuple:
    # a QUOTED number in the bucket slot is a threshold quoted by habit.
    # Only the unquoted slot's shape rebinds: a float() form such as
    # '1e-1' stays a bucket column, never a silent 0.1 threshold
    if bucket_col and cosine is None and re.fullmatch(_FRAC, bucket_col):
        bucket_col, cosine = None, bucket_col
    threshold = _fraction("cosine threshold", cosine, 0.95)
    return vec_col, id_col, threshold, bucket_col


def _with_time(value_col, slice_col, time_col, *rest) -> tuple:
    return value_col, slice_col, time_col or TIME_COLUMN, *rest


def _ann_search(db, table, column, queries, k, n_probe):
    return db.vector_search(
        table,
        db.spark.table(queries),
        column=column,
        k=int(k) if k else 5,
        n_probe=int(n_probe) if n_probe else 4,
    )


def _point_lookup(db, table, column, literal):
    if literal.startswith("'"):
        value: object = literal[1:-1]
    elif "." in literal:
        value = float(literal)
    else:
        value = int(literal)
    entry = db.store.resolve(table)
    if entry is None or entry.kind != "topic":
        raise ValueError(f"point_lookup: {table!r} is not a topic")
    return Topic(db.store, entry).read(db.spark, col_eq={column: value})


TVFS: tuple[Tvf, ...] = (
    # ann_search('table', 'vec', 'queries'[, k=5][, n_probe=4]) -> Ella.vector_search
    Tvf("ann_search", (_NAME, _NAME), _ann_search, optional=(_INT, _INT), reads_table=True),
    # point_lookup('topic', 'col', 42 | -1.5 | 'text') -> Topic.read(col_eq=...)
    Tvf("point_lookup", (_NAME, _LITERAL), _point_lookup, reads_table=True),
    # psi_drift('table', 'value', 'slice'[, buckets=10]) -> drift.psi_by_slice
    Tvf(
        "psi_drift",
        (_NAME, _NAME),
        _op("drift", "psi_by_slice"),
        lambda v, s, n: (v, s, _positive_buckets(n)),
        optional=(_INT,),
    ),
    # chi2_drift('table', 'slice', 'category') -> drift.chi2_by_slice
    Tvf("chi2_drift", (_NAME, _NAME), _op("drift", "chi2_by_slice")),
    # ks_drift('table', 'value', 'slice') -> drift.ks_by_slice
    Tvf("ks_drift", (_NAME, _NAME), _op("drift", "ks_by_slice")),
    # cusum_drift('table', 'value', 'slice'[, 'time']) -> drift.cusum_by_slice
    Tvf(
        "cusum_drift",
        (_NAME, _NAME),
        _op("drift", "cusum_by_slice"),
        _with_time,
        optional=(_NAME,),
    ),
    # js_divergence('table', 'value', 'slice'[, buckets=10]) -> drift.js_by_slice
    Tvf(
        "js_divergence",
        (_NAME, _NAME),
        _op("drift", "js_by_slice"),
        lambda v, s, n: (v, s, _positive_buckets(n)),
        optional=(_INT,),
    ),
    # earth_movers('table', 'value', 'slice') -> drift.emd_by_slice
    Tvf("earth_movers", (_NAME, _NAME), _op("drift", "emd_by_slice")),
    # page_hinkley('table', 'value', 'slice'[, 'time'][, lambda=50])
    # -> drift.page_hinkley_by_slice
    Tvf(
        "page_hinkley",
        (_NAME, _NAME),
        _op("drift", "page_hinkley_by_slice"),
        lambda v, s, t, lam: _with_time(v, s, t, float(lam) if lam else 50.0),
        optional=(_NAME, _DEC),
    ),
    # mann_whitney | grubbs | levene('table', 'value', 'slice') -> statqa.*_by_slice
    Tvf("mann_whitney", (_NAME, _NAME), _op("statqa", "mann_whitney_by_slice")),
    Tvf("grubbs", (_NAME, _NAME), _op("statqa", "grubbs_by_slice")),
    Tvf("levene", (_NAME, _NAME), _op("statqa", "levene_by_slice")),
    # runs_test('table', 'value', 'slice'[, 'time']) -> statqa.runs_test_by_slice
    Tvf(
        "runs_test",
        (_NAME, _NAME),
        _op("statqa", "runs_test_by_slice"),
        _with_time,
        optional=(_NAME,),
    ),
    # trend_robust('table', 'value', 'slice'[, 'time'][, days=1]) -> drift.trend_robust
    Tvf(
        "trend_robust",
        (_NAME, _NAME),
        _op("drift", "trend_robust"),
        _day_buckets,
        optional=(_NAME, _INT),
    ),
    # near_dup_pairs('table', 'text', 'id'[, min_jaccard=0.5]) -> dedup.minhash_lsh_pairs
    Tvf(
        "near_dup_pairs",
        (_NAME, _NAME),
        lambda df, text, ids, jaccard: _op("dedup", "minhash_lsh_pairs")(
            df, text_col=text, id_col=ids, jaccard_threshold=jaccard
        ),
        lambda text, ids, j: (text, ids, _fraction("min_jaccard", j, 0.5)),
        optional=(_DEC,),
    ),
    # exact_dup_groups('table', 'text', 'id') -> dedup.exact_dedup
    Tvf("exact_dup_groups", (_NAME, _NAME), _op("dedup", "exact_dedup")),
    # distinct_overlap('table', 'group', 'value'[, k=4096]) -> sketch.kmv_overlap
    Tvf(
        "distinct_overlap",
        (_NAME, _NAME),
        _op("sketch", "kmv_overlap"),
        _sketch_size,
        optional=(_INT,),
    ),
    # set_churn('table', 'group', 'value'[, 'time'][, days=1]) -> sketch.set_churn_buckets
    Tvf(
        "set_churn",
        (_NAME, _NAME),
        _op("sketch", "set_churn_buckets"),
        _day_buckets,
        optional=(_NAME, _INT),
    ),
    # minhash_drift('table', 'group', 'text'[, 'time'][, days=1])
    # -> dedup.minhash_drift_buckets
    Tvf(
        "minhash_drift",
        (_NAME, _NAME),
        _op("dedup", "minhash_drift_buckets"),
        _day_buckets,
        optional=(_NAME, _INT),
    ),
    # embedding_neardup('table', 'vec', 'id'[, 'bucket'=all pairs][, cosine=0.95])
    # -> dedup.embedding_neardup_pairs
    Tvf(
        "embedding_neardup",
        (_NAME, _NAME),
        _op("dedup", "embedding_neardup_pairs"),
        _neardup,
        optional=(_NAME, _FRAC),
    ),
)


def own_tables_blanked(sql: str) -> str:
    """``sql`` with the table argument of every ``reads_table`` call
    emptied (``point_lookup('', 'k', 1)``), for finding the names a
    statement must register: that table is read by the operator."""
    for tvf in TVFS:
        if tvf.reads_table:
            sql = tvf.pattern.sub(
                lambda m: m.string[m.start() : m.start(1)] + m.string[m.end(1) : m.end()],
                sql,
            )
    return sql
