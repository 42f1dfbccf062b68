#!/usr/bin/env python
"""Fresh-seed adversarial stress driver for incremental materialized
views (the per-round insurance run — NOT part of the deterministic
pytest battery, which is derandomized by design).

Each trial builds a random MV (random aggregate subset / grouping /
row permutation / batch splits — single-topic mode) or a random 2-3
topic join chain (join mode: random per-generation inserts to random
sides), refreshes incrementally after EVERY generation, and asserts
the MV equals direct SQL over all rows (exact for order-independent
aggregates, 1e-9-relative for float accumulations).

Usage:
    python tools/mv_stress.py [--trials 14] [--join-trials 8] [--seed N]

Seed defaults to a fresh random one (printed, so a failure is
replayable with --seed). Exit code 0 = all trials clean.
"""

from __future__ import annotations

import argparse
import math
import random
import sys
import tempfile
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)

FAMILIES = [
    ("count(*) AS n", "exact"),
    ("sum(v) AS s", "approx"),
    ("min(v) AS lo", "exact"),
    ("max(v) AS hi", "exact"),
    ("avg(v) AS m", "approx"),
    ("stddev(v) AS sd", "approx"),
    ("var_pop(v) AS vp", "approx"),
    ("corr(v, w) AS r", "approx"),
    ("regr_slope(w, v) AS sl", "approx"),
    ("skewness(v) AS sk", "approx"),
    ("kurtosis(v) AS ku", "approx"),
    ("max_by(u, v) AS mb", "exact"),
    ("min_by(u, v) AS nb", "exact"),
    ("approx_percentile(v, 0.5) AS p50", "exact"),
    ("count(DISTINCT u % 97) AS cd", "exact"),
    ("sum(DISTINCT u % 97) AS sdv", "exact"),
    ("count_if(v > 10) AS ci", "exact"),
    ("bool_and(v >= 0) AS ba", "exact"),
    ("bool_or(v > 1000) AS bo", "exact"),
    ("bit_xor(u) AS bx", "exact"),
    ("avg(DISTINCT u % 97) AS adv", "approx"),
    ("stddev_pop(v) AS sdp", "approx"),
    ("covar_samp(v, w) AS cs", "approx"),
    ("regr_intercept(w, v) AS ri", "approx"),
    ("regr_r2(w, v) AS rr2", "approx"),
    ("bit_and(u) AS ban", "exact"),
    ("bit_or(u) AS bor", "exact"),
    ("every(v >= 0) AS ev", "exact"),
]


def _rows_equal(got, exp, kinds) -> bool:
    def norm(rows):
        out = []
        for r in rows:
            d = r.asDict()
            t = []
            for c in sorted(d):
                v = d[c]
                if isinstance(v, float):
                    # snap numerical zero first: a true-zero statistic
                    # (e.g. skewness of symmetric data) comes out as
                    # ±1e-17 noise whose NOISE BITS differ between the
                    # merge and direct paths — 9-significant-digit
                    # rounding of noise compares garbage to garbage
                    if abs(v) < 1e-9:
                        v = 0.0
                    else:
                        v = round(v, 9 - 1 - int(math.floor(math.log10(abs(v)))))
                t.append((c, v))
            out.append(tuple(t))
        return sorted(out)

    return norm(got) == norm(exp)


def single_topic_trial(db, spark, rng: random.Random, i: int) -> None:
    from ella_spark.types import Column

    name = f"st{i}"
    items = rng.sample(FAMILIES, rng.randint(1, 6))
    grouped = rng.random() < 0.5
    mult = rng.choice([7, 13, 37, 101])
    n_rows = rng.randint(20, 300)
    while math.gcd(mult, n_rows) != 1:
        n_rows += 1
    gens = rng.randint(2, 4)
    cuts = sorted(rng.sample(range(1, n_rows), gens - 1)) + [n_rows]

    t = db.create_topic(
        name,
        [Column("k", "int64"), Column("v", "float64"),
         Column("w", "float64"), Column("u", "int64")],
    )
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id * 1000 AS time",
        "id % 3 AS k",
        f"CAST(pmod(id * {mult}, {n_rows}) AS double) AS v",
        f"CAST(pmod(id * {mult}, {n_rows}) AS double) * 0.5 "
        "+ CAST(id % 5 AS double) AS w",
        "id * 11 AS u",
    )
    sel = ", ".join(s for s, _ in items)
    sql = (
        f"SELECT k, {sel} FROM {name} GROUP BY k"
        if grouped
        else f"SELECT {sel}, count(*) AS __n FROM {name}"
    )
    t.insert(mk(0, cuts[0]))
    mv = f"{name}_mv"
    db.create_materialized_view(mv, sql)
    assert db.store.resolve(mv).refresh_state is not None, sql
    prev = cuts[0]
    for c in cuts[1:]:
        t.insert(mk(prev, c))
        prev = c
        db.refresh_materialized(mv)
        got = db.query(f"SELECT * FROM {mv}").df.collect()
        exp = db.query(sql).df.collect()
        assert _rows_equal(got, exp, items), (sql, mult, n_rows, cuts)


def join_chain_trial(db, spark, rng: random.Random, i: int) -> None:
    from ella_spark.types import Column

    n_topics = rng.choice([2, 3])
    names = [f"jt{i}{c}" for c in "abc"[:n_topics]]
    topics = []
    for nm in names:
        t = db.create_topic(
            nm, [Column("k", "int64"), Column("v", "float64")]
        )
        topics.append(t)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id * 1000 AS time", "id % 3 AS k", "CAST(id AS double) AS v"
    )
    for t in topics:
        t.insert(mk(0, rng.randint(8, 20)))

    a, b = names[0], names[1]
    joins = f"FROM {a} JOIN {b} ON {a}.time = {b}.time"
    vsum = f"{a}.v + {b}.v"
    if n_topics == 3:
        c = names[2]
        joins += f" JOIN {c} ON {b}.time = {c}.time"
        vsum += f" + {c}.v"
    if rng.random() < 0.5:
        sql = (
            f"SELECT {a}.time AS ts, {vsum} AS s {joins} "
            f"WHERE {a}.v >= {rng.choice([0.0, 1.0, 3.0])}"
        )
    else:
        agg = rng.choice(
            [f"sum({vsum}) AS s", f"avg({vsum}) AS m", "count(*) AS n"]
        )
        sql = f"SELECT {a}.k AS k, {agg} {joins} GROUP BY {a}.k"
    mv = f"jmv{i}"
    db.create_materialized_view(mv, sql)
    assert db.store.resolve(mv).refresh_state is not None, sql

    hi = {nm: 40 for nm in names}
    for _ in range(rng.randint(2, 5)):  # generations
        for t, nm in zip(topics, names):
            if rng.random() < 0.7:
                lo = hi[nm]
                hi[nm] = lo + rng.randint(3, 15)
                t.insert(mk(lo, hi[nm]))
        db.refresh_materialized(mv)
        got = db.query(f"SELECT * FROM {mv}").df.collect()
        exp = db.query(sql).df.collect()
        assert _rows_equal(got, exp, None), sql


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=14)
    ap.add_argument("--join-trials", type=int, default=8)
    ap.add_argument("--seed", type=int, default=None)
    args = ap.parse_args()
    seed = args.seed if args.seed is not None else random.SystemRandom().randrange(2**32)
    rng = random.Random(seed)
    print(f"mv_stress seed={seed}")

    from ella_spark.engine import Ella
    from ella_spark.session import get_session

    spark = get_session("mv_stress", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="mv_stress_")
    db = Ella.create(root + "/db", spark)

    # Every generated shape is analyzable (each trial asserts
    # refresh_state is not None), so a post-create refresh that lands
    # in _refresh_full means the incremental path DIED and the
    # AnalysisException fallback silently downgraded O(delta) to
    # O(history) — results stay right, trials stay green, and the
    # regression hides (exactly how the r11 containsNull cast bug
    # survived until someone read stderr). Spy and fail loudly.
    fallbacks: list[str] = []
    orig_full = db._refresh_full

    depth: list[int] = []

    def _spy_full(entry, analysis, topics, *a, **kw):
        # *a/**kw: _refresh_full retries itself with a 4th positional
        # arg on the stale-shard repair path (engine.py) — the spy
        # must pass it through, not crash the retry. The depth guard
        # keeps that re-entrant retry from being recorded as a NEW
        # fallback: a repair retry of a legitimate initial build (the
        # commit bumps version before the staleness check) would
        # otherwise fail the run, and a true fallback's retry would
        # be recorded twice.
        if not depth and analysis is not None and entry.version > 0:
            fallbacks.append(f"{entry.name} v{entry.version}: {entry.sql}")
        depth.append(1)
        try:
            return orig_full(entry, analysis, topics, *a, **kw)
        finally:
            depth.pop()

    db._refresh_full = _spy_full

    for i in range(args.trials):
        single_topic_trial(db, spark, rng, i)
        print(f"single-topic trial {i + 1}/{args.trials} ok")
    for i in range(args.join_trials):
        join_chain_trial(db, spark, rng, i)
        print(f"join-chain trial {i + 1}/{args.join_trials} ok")
    assert not fallbacks, (
        "incremental refresh silently fell back to full recompute:\n"
        + "\n".join(fallbacks)
    )
    print(f"ALL CLEAN seed={seed} trials={args.trials}+{args.join_trials}")


if __name__ == "__main__":
    main()
