#!/usr/bin/env python
"""Replayable 10x scale probe (the SCALING.md evidence driver).

Builds replicated copies of the test corpora (events x10 with shifted
event/user ids, documents x10 with shifted doc ids — same shapes the
round-7/8 probes used) under a scratch dir, then times named registry
queries at the base SF and at 10x (min of WARM_RUNS warm runs each)
and prints one table row per query.

Usage:
    python tools/scale_probe.py q_psi_drift q_zipf_slope ...
    python tools/scale_probe.py --sf /root/testdata/sf0.1 --runs 2 <names>

A flat ratio (~1x) means the query is fixed-overhead-dominated at this
scale — the per-query cost is stage setup, not data. A ratio near the
replication factor means the linear data term is visible; anything
super-linear is a red flag (see the q_hard_negatives fixed-centroid
demonstration in SCALING.md).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)

REPLICAS = 10


def build_corpora(spark, sf_dir: str, out_dir: str) -> None:
    import pyspark.sql.functions as F

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    reps = None
    for r in range(REPLICAS):
        part = ev.select(
            (F.col("event_id") + F.lit(r * 10_000_000)).alias("event_id"),
            "ts",
            # shift far past any real user_id range (r9 ADVICE: r*1000
            # collided with the base 0-1499 ids at sf0.1, folding
            # replicas into existing users with identical timestamps —
            # fewer distinct users, doubled per-user density — which
            # distorted the probe for per-user-window queries)
            (F.col("user_id") + F.lit(r * 10_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        reps = part if reps is None else reps.unionByName(part)
    reps.write.mode("overwrite").parquet(str(out / "events.parquet"))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = None
    for r in range(REPLICAS):
        part = docs.select(
            (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        reps = part if reps is None else reps.unionByName(part)
    reps.write.mode("overwrite").parquet(str(out / "documents.parquet"))

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    reps = None
    for r in range(REPLICAS):
        # replica 0 is verbatim; later replicas get a DETERMINISTIC
        # directional jitter (cosine is scale-invariant, so plain
        # copies would be exact cosine-duplicates — a degenerate ANN
        # corpus where every cell pair is a hit; jittered replicas
        # keep realistic neighborhood structure at 10x density)
        vec = (
            F.col("embedding")
            if r == 0
            else F.transform(
                "embedding",
                lambda x, i: (
                    x
                    + F.lit(0.015 * r)
                    * F.cos(
                        i.cast("double") * F.lit(float(r + 1))
                        + F.col("vec_id").cast("double")
                    )
                ).cast("float"),
            )
        )
        part = emb.select(
            (F.col("vec_id") + F.lit(r * 10_000_000)).alias("vec_id"),
            vec.alias("embedding"),
            "label",
        )
        reps = part if reps is None else reps.unionByName(part)
    reps.write.mode("overwrite").parquet(str(out / "embeddings.parquet"))


def _tvf_specs():
    """TVF-dispatch probe specs (VERDICT r12 #2): each entry is
    (tvf_sql_template, direct_operator_callable, table_paths) where
    the template's {t} is the external-table name. Timing BOTH the
    `Ella.query` dispatch route (regex rewrite → operator → frame
    passed to spark.sql over the spliced statement, re-run per
    call per the durable-text contract) and the direct operator call
    on the same files isolates the route's per-call planning
    overhead — the question is whether the rewrite adds any
    super-constant term, not whether the operator scales (the
    operator-level 10x rows already exist in SCALING.md)."""
    from ella_spark.operators.dedup import (
        embedding_neardup_pairs,
        exact_dedup,
        minhash_drift_buckets,
        minhash_lsh_pairs,
    )
    from ella_spark.operators.sketch import set_churn_buckets

    day_ns = 86_400_000_000_000
    return {
        "near_dup_pairs": (
            "SELECT * FROM near_dup_pairs('{t}', 'text', 'doc_id', 0.4)",
            lambda df: minhash_lsh_pairs(
                df, text_col="text", id_col="doc_id", jaccard_threshold=0.4
            ),
            "documents.parquet",
        ),
        "exact_dup_groups": (
            "SELECT * FROM exact_dup_groups('{t}', 'text', 'doc_id')",
            lambda df: exact_dedup(df, "text", "doc_id"),
            "documents.parquet",
        ),
        "embedding_neardup": (
            "SELECT * FROM embedding_neardup("
            "'{t}', 'embedding', 'vec_id', 'label', 0.95)",
            lambda df: embedding_neardup_pairs(
                df, "embedding", "vec_id", 0.95, "label"
            ),
            "embeddings.parquet",
        ),
        "set_churn": (
            "SELECT * FROM set_churn("
            "'{t}', 'event_type', 'user_id', 'ts_ns', 1)",
            lambda df: set_churn_buckets(
                df, "event_type", "user_id", "ts_ns", bucket_ns=day_ns
            ),
            "events_ns.parquet",
        ),
        "minhash_drift": (
            "SELECT * FROM minhash_drift("
            "'{t}', 'source', 'text', 'ts_ns', 1)",
            lambda df: minhash_drift_buckets(
                df, "source", "text", "ts_ns", bucket_ns=day_ns
            ),
            "docs_ns.parquet",
        ),
    }


def _ensure_events_ns(spark, src_events: str, dst: Path) -> None:
    """set_churn needs an epoch-ns long time column; derive one from
    the events table's native ts (timestamp µs or long ns depending on
    the round's file flavor — reuse load_table's normalization)."""
    if dst.exists():
        return
    import pyspark.sql.functions as F

    from ella_spark.sources import load_table

    ev = load_table(spark, str(Path(src_events).parent), "events")
    ev.select(
        "event_type", "user_id", F.col("ts").alias("ts_ns")
    ).write.mode("overwrite").parquet(str(dst))


def _ensure_docs_ns(spark, src_docs: str, dst: Path) -> None:
    """minhash_drift needs an epoch-ns long time column on a TEXT
    table; documents has none, so derive a deterministic 30-day
    spread from doc_id (same docs land on the same day at every
    scale, so the per-bucket signature work is what grows)."""
    if dst.exists():
        return
    import pyspark.sql.functions as F

    day_ns = 86_400_000_000_000
    spark.read.parquet(src_docs).select(
        "source",
        "text",
        "doc_id",
        (F.col("doc_id") % 30 * F.lit(day_ns)).alias("ts_ns"),
    ).write.mode("overwrite").parquet(str(dst))


def probe_tvf_route(args) -> None:
    """--tvf mode: for each TVF, time the Ella.query dispatch route vs
    the direct operator at base SF and at 10x; print one row per
    (tvf, scale) with the route/operator delta."""
    import tempfile

    from ella_spark.engine import Ella
    from ella_spark.session import get_session

    spark = get_session("ella_scale_probe_tvf")
    spark.sparkContext.setLogLevel("ERROR")

    out = Path(args.out)
    if args.rebuild or not (out / "embeddings.parquet").exists():
        print(f"building {REPLICAS}x corpora under {out} ...", flush=True)
        build_corpora(spark, args.sf, str(out))
    # the ns-time derivative of events, at both scales
    scratch = Path(tempfile.mkdtemp(prefix="ella_tvf_probe_base_"))
    _ensure_events_ns(spark, f"{args.sf}/events.parquet",
                      scratch / "events_ns.parquet")
    _ensure_events_ns(spark, f"{out}/events.parquet",
                      out / "events_ns.parquet")
    _ensure_docs_ns(spark, f"{args.sf}/documents.parquet",
                    scratch / "docs_ns.parquet")
    _ensure_docs_ns(spark, f"{out}/documents.parquet",
                    out / "docs_ns.parquet")
    base_paths = {
        "documents.parquet": f"{args.sf}/documents.parquet",
        "embeddings.parquet": f"{args.sf}/embeddings.parquet",
        "events_ns.parquet": str(scratch / "events_ns.parquet"),
        "docs_ns.parquet": str(scratch / "docs_ns.parquet"),
    }
    tenx_paths = {
        "documents.parquet": str(out / "documents.parquet"),
        "embeddings.parquet": str(out / "embeddings.parquet"),
        "events_ns.parquet": str(out / "events_ns.parquet"),
        "docs_ns.parquet": str(out / "docs_ns.parquet"),
    }

    specs = _tvf_specs()
    names = args.names or sorted(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown TVFs: {unknown} (have {sorted(specs)})")

    db = Ella.create(str(Path(tempfile.mkdtemp(prefix="ella_tvf_db_")) / "db"))
    registered: dict[str, str] = {}

    def table_for(path: str) -> str:
        if path not in registered:
            tname = f"probe_t{len(registered)}"
            db.query(
                f"CREATE EXTERNAL TABLE {tname} STORED AS PARQUET "
                f"LOCATION '{path}'"
            )
            registered[path] = tname
        return registered[path]

    print(
        f"{'tvf':20s} {'scale':>5s} {'route':>8s} {'operator':>9s} "
        f"{'delta':>7s}"
    )
    for name in names:
        sql_tpl, op, file_key = specs[name]
        for label, paths in (("base", base_paths), ("10x", tenx_paths)):
            path = paths[file_key]
            tname = table_for(path)
            sql = sql_tpl.format(t=tname)
            df = spark.read.parquet(path)
            op(df).count()  # warm: codegen, shuffles, file listing
            db.query(sql).df.count()
            t_op = min(_timed(lambda s, d: op(df), spark, None)
                       for _ in range(args.runs))
            t_route = min(
                _timed(lambda s, d: db.query(sql).df, spark, None)
                for _ in range(args.runs)
            )
            print(
                f"{name:20s} {label:>5s} {t_route:7.3f}s {t_op:8.3f}s "
                f"{t_route - t_op:+6.3f}s",
                flush=True,
            )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/ella_scale_probe_10x")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument(
        "--tvf",
        action="store_true",
        help="probe the Ella.query TVF dispatch route vs the direct "
        "operator (VERDICT r12 #2); names default to all four TVFs",
    )
    args = ap.parse_args()
    if args.tvf:
        probe_tvf_route(args)
        return
    if not args.names:
        ap.error("names required (or pass --tvf)")

    from ella_spark.queries import all_queries
    from ella_spark.session import get_session

    spark = get_session("ella_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    out = Path(args.out)
    # guard on the NEWEST corpus artifact (embeddings, added r12) so a
    # probe dir built by an earlier round is rebuilt, not half-used
    if args.rebuild or not (out / "embeddings.parquet").exists():
        print(f"building {REPLICAS}x corpora under {out} ...", flush=True)
        build_corpora(spark, args.sf, str(out))

    print(f"{'query':32s} {'base':>8s} {'10x':>8s} {'ratio':>6s}")
    for name in args.names:
        times = {}
        for label, d in (("base", args.sf), ("10x", str(out))):
            qs[name](spark, d).count()  # warm: codegen + caches
            best = min(
                _timed(qs[name], spark, d) for _ in range(args.runs)
            )
            times[label] = best
        ratio = times["10x"] / times["base"] if times["base"] else float("inf")
        print(
            f"{name:32s} {times['base']:7.3f}s {times['10x']:7.3f}s "
            f"{ratio:5.1f}x",
            flush=True,
        )
    spark.stop()


def _timed(fn, spark, d) -> float:
    t0 = time.perf_counter()
    fn(spark, d).count()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
