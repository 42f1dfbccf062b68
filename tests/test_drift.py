"""Semantic property tests for the drift / distribution-monitor family
(round 8): each statistic is checked against a synthetic corpus whose
ground truth is known in closed form — independent of the DuckDB
oracle (which proves cross-engine agreement, not statistical
correctness).
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import REPO  # noqa: F401  (sys.path side effect)


def _write_events(spark, tmp_path, rows):
    """rows: list of (event_id, ts_us, user_id, event_type, value)."""
    df = spark.createDataFrame(
        [(i, t, u, e, v, None) for (i, t, u, e, v) in rows],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _write_documents(spark, tmp_path, rows):
    """rows: list of (doc_id, text, lang, source, n_chars)."""
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_psi_zero_when_distributions_identical(spark, tmp_path):
    """PSI is exactly 0 when every slice's value distribution equals
    the pooled one (p == q per bucket → every term vanishes)."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    rows = []
    i = 0
    for et in ("a", "b"):
        for v in (1.0, 11.0, 21.0, 31.0, 41.0):  # identical per type
            rows.append((i, datetime(2024, 1, 1, 0, 0, i % 60), i, et, v))
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = all_queries()["q_psi_drift"](spark, sf).toPandas()
    assert len(out) == 2
    assert (out.psi == 0.0).all()


def test_chi2_zero_under_independence(spark, tmp_path):
    """Chi-squared is 0 when the contingency table is an exact product
    of its margins (every observed cell equals its expectation)."""
    from ella_spark.queries import all_queries

    # counts[lang][source] = rowtot * coltot / N exactly:
    # langs weights 1:2, sources weights 1:3, N = 24
    rows, did = [], 0
    for lang, lw in (("en", 1), ("fr", 2)):
        for src, sw in (("s1", 1), ("s2", 3)):
            for _ in range(lw * sw * 2):
                rows.append((did, "text", lang, src, 100))
                did += 1
    sf = _write_documents(spark, tmp_path, rows)
    out = all_queries()["q_chi2_drift"](spark, sf).toPandas()
    assert len(out) == 2
    assert (out.chi2 == 0.0).all()
    assert (out.dof == 1).all()  # 2 sources - 1


def test_benford_uniform_single_digit(spark, tmp_path):
    """All values sharing first digit d=1 → the digit-1 deviation is
    |1 - log10(2)| and every other digit contributes its expectation;
    both emitted statistics match the closed form."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    rows = [
        (i, datetime(2024, 1, 1, 0, 0, i % 60), i, "a", 1.0)  # vc=100, digit 1
        for i in range(10)
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = all_queries()["q_benford_deviation"](spark, sf).toPandas()
    assert len(out) == 1 and out.n.iloc[0] == 10
    e = [math.log10(1 + 1 / d) for d in range(1, 10)]
    want_max = max(abs(1.0 - e[0]), *e[1:])
    want_tot = abs(1.0 - e[0]) + sum(e[1:])
    assert abs(out.max_abs_dev.iloc[0] - round(want_max, 6)) < 1e-9
    assert abs(out.total_abs_dev.iloc[0] - round(want_tot, 6)) < 1e-9


def test_hill_recovers_pareto_exponent(spark, tmp_path):
    """On exact Pareto order statistics x_(i) = C * (i)^(-1/alpha) the
    Hill estimator equals (1/k)·sum ln(x_i/x_k+1) = (1/alpha)·(1/k)·
    sum ln((k+1)/i) → alpha within a few percent for k=50."""
    from ella_spark.queries import all_queries, curation

    alpha = 2.0
    k = curation._HILL_K
    rows = []
    for i in range(1, 200):
        size = int(round(1_000_000 * i ** (-1.0 / alpha)))
        rows.append((i, "t", "en", "s1", size))
    sf = _write_documents(spark, tmp_path, rows)
    out = all_queries()["q_hill_tail_index"](spark, sf).toPandas()
    assert len(out) == 1 and out.k.iloc[0] == k
    # closed form of the estimator on this exact sequence
    want_hill = sum(math.log((k + 1) / i) for i in range(1, k + 1)) / (alpha * k)
    assert abs(out.hill.iloc[0] - want_hill) < 0.02
    assert abs(out.tail_index.iloc[0] - alpha) < 0.2


def test_ngram_novelty_bounds(spark, tmp_path):
    """A source whose text duplicates another's has novelty 0; a
    source with entirely unique text has novelty 1."""
    from ella_spark.queries import all_queries

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    unique = "one two three four five six seven eight nine"
    rows = [
        (1, shared, "en", "dup_src", len(shared)),
        (2, shared, "en", "orig_src", len(shared)),
        (3, unique, "en", "novel_src", len(unique)),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    out = (
        all_queries()["q_ngram_novelty"](spark, sf)
        .toPandas()
        .set_index("source")
    )
    assert out.loc["dup_src", "novelty"] == 0.0
    assert out.loc["orig_src", "novelty"] == 0.0
    assert out.loc["novel_src", "novelty"] == 1.0


def test_zipf_slope_exact_power_law(spark, tmp_path):
    """A corpus engineered so token frequency = floor(C/rank) yields a
    regression slope close to -1 (the Zipf exponent)."""
    from ella_spark.queries import all_queries

    # token_r appears floor(120/r) times, r = 1..30 → freq ∝ 1/rank
    words = []
    for r in range(1, 31):
        words += [f"tok{r:02d}"] * (120 // r)
    text = " ".join(words)
    sf = _write_documents(spark, tmp_path, [(1, text, "en", "s1", len(text))])
    out = all_queries()["q_zipf_slope"](spark, sf).toPandas()
    assert len(out) == 1
    assert out.n_ranks.iloc[0] == 30
    assert -1.12 < out.zipf_slope.iloc[0] < -0.88


def test_neyman_shares_match_closed_form(spark, tmp_path):
    """Allocation shares equal N_h·S_h / sum(N·S) with S_h the sample
    stddev computed from exact centi-unit sums — verified against the
    same closed form evaluated in the test."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    strata = {
        "small": [10.0, 20.0, 30.0, 40.0],
        "big": [10.0, 10.0, 20.0, 20.0, 30.0, 30.0, 40.0, 40.0],
    }
    rows, i = [], 0
    for et, vals in strata.items():
        for v in vals:
            rows.append((i, datetime(2024, 1, 1, 0, 0, i % 60), i, et, v))
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = (
        all_queries()["q_neyman_allocation"](spark, sf)
        .toPandas()
        .set_index("event_type")
    )

    def s_h(vals):
        vc = [int(math.floor(v * 100 + 0.5)) for v in vals]
        n, s, sq = len(vc), sum(vc), sum(c * c for c in vc)
        return math.sqrt((n * sq - s * s) / (10000.0 * n * (n - 1)))

    w = {et: len(v) * s_h(v) for et, v in strata.items()}
    tot = sum(w.values())
    for et in strata:
        assert abs(out.loc[et, "alloc_share"] - w[et] / tot) < 1e-5, et
        assert abs(out.loc[et, "s_h"] - s_h(strata[et])) < 1e-5, et
    # more rows at equal-or-larger spread ⇒ strictly larger share
    assert out.loc["big", "alloc_share"] > out.loc["small", "alloc_share"]


def test_psi_drift_sql_tvf(spark, tmp_path):
    """SQL surface: psi_drift('<table>', 'value', 'slice' [, buckets])
    rewrites to the operator frame; a stored VIEW keeps the durable
    psi_drift(...) text and re-scores CURRENT data on every read (the
    ann_search/point_lookup contract)."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i, v in enumerate([1.0, 11.0, 21.0, 31.0]):
            pub.write((i + 1) * ns, "a", v)
            pub.write((100 + i) * ns, "b", v)  # identical distribution

    out = db.query(
        "SELECT * FROM psi_drift('m', 'v', 'kind') ORDER BY kind"
    ).df.toPandas()
    assert list(out.kind) == ["a", "b"]
    assert (out.psi == 0.0).all() and (out.n == 4).all()

    # stored view: durable text, re-scored per read
    db.query("CREATE VIEW drift_v AS SELECT * FROM psi_drift('m', 'v', 'kind')")
    assert "psi_drift" in db.store.resolve("drift_v").sql
    with t.publish() as pub:  # skew kind b upward
        for i in range(8):
            pub.write((200 + i) * ns, "b", 31.0)
    out2 = db.query("SELECT * FROM drift_v ORDER BY kind").df.toPandas()
    assert out2[out2.kind == "b"].psi.iloc[0] > 0.05  # drift now visible
    assert out2[out2.kind == "b"].n.iloc[0] == 12

    # explicit bucket count arg parses
    out3 = db.query(
        "SELECT * FROM psi_drift('m', 'v', 'kind', 4) ORDER BY kind"
    ).df.toPandas()
    assert len(out3) == 2

    with pytest.raises(ValueError, match="unknown table"):
        db.query("SELECT * FROM psi_drift('nope', 'v', 'kind')")


def test_chi2_drift_sql_tvf(spark, tmp_path):
    """SQL surface: chi2_drift('<table>', 'slice', 'category')
    computes the per-slice independence statistic; exact 0 under
    margin-product independence, > 0 once a slice's category mix
    diverges; durable-view text re-scores current data."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db2"), spark)
    t = db.create_topic(
        "docs_t",
        [Column("lang", "string", required=True),
         Column("src", "string", required=True)],
    )
    ns = 1_000_000_000
    i = 0
    with t.publish() as pub:  # exact margin product: counts lw*sw*2
        for lang, lw in (("en", 1), ("fr", 2)):
            for src, sw in (("s1", 1), ("s2", 3)):
                for _ in range(lw * sw * 2):
                    pub.write(i * ns, lang, src)
                    i += 1
    out = db.query(
        "SELECT * FROM chi2_drift('docs_t', 'lang', 'src') ORDER BY lang"
    ).df.toPandas()
    assert list(out.lang) == ["en", "fr"]
    assert (out.chi2 == 0.0).all() and (out.dof == 1).all()

    db.query(
        "CREATE VIEW chi_v AS SELECT * FROM chi2_drift('docs_t', 'lang', 'src')"
    )
    with t.publish() as pub:  # skew en toward s1
        for j in range(20):
            pub.write((1000 + j) * ns, "en", "s1")
    out2 = db.query("SELECT * FROM chi_v ORDER BY lang").df.toPandas()
    assert (out2.chi2 > 0).all()


def test_mutual_information_properties(spark, tmp_path):
    """MI is exactly 0 under margin-product independence and equals
    the (shared) marginal entropy when lang determines source
    (perfect coupling ⇒ NMI = 1)."""
    from ella_spark.queries import all_queries

    # independence: the chi2 grid
    rows, did = [], 0
    for lang, lw in (("en", 1), ("fr", 2)):
        for src, sw in (("s1", 1), ("s2", 3)):
            for _ in range(lw * sw * 2):
                rows.append((did, "t", lang, src, 10))
                did += 1
    sf = _write_documents(spark, tmp_path / "ind", rows)
    out = all_queries()["q_mutual_information"](spark, sf).toPandas().iloc[0]
    assert out.mi == 0.0 and out.nmi == 0.0

    # perfect coupling: source = f(lang), equal masses
    rows2 = []
    for i in range(40):
        lang = ("en", "fr")[i % 2]
        rows2.append((i, "t", lang, "src_" + lang, 10))
    sf2 = _write_documents(spark, tmp_path / "cpl", rows2)
    out2 = all_queries()["q_mutual_information"](spark, sf2).toPandas().iloc[0]
    assert out2.nmi == 1.0
    assert out2.mi == out2.h_lang == out2.h_source  # = ln 2 rounded
    assert abs(out2.mi - round(math.log(2), 6)) < 1e-9


def test_tvf_rewrite_views_are_unique_and_span_spliced(spark, tmp_path):
    """Regression (r9 ADVICE): every table-function call in a read gets
    its own frame, passed to ``spark.sql`` as a DataFrame argument, so
    two statements sharing a session (two Ella instances, or two Lazy
    reads of stored drift views) never bind each other's result, and
    substitution is span-based so identical text inside a string
    literal is never rewritten."""
    from ella_spark import Column, Ella
    from ella_spark.engine import _splice_spans

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i, v in enumerate([1.0, 11.0, 21.0, 31.0]):
            pub.write((i + 1) * ns, "a", v)
            pub.write((100 + i) * ns, "b", v)

    # two rewrites of the SAME call text -> distinct frames, and both
    # statements return their rows
    s1, f1 = db._rewrite_reads("SELECT * FROM psi_drift('m', 'v', 'kind')")
    s2, f2 = db._rewrite_reads("SELECT * FROM psi_drift('m', 'v', 'kind')")
    [(k1, df1)], [(k2, df2)] = f1.items(), f2.items()
    assert df1 is not df2 and k1.startswith("psi_drift_")
    assert s1 == "SELECT * FROM {%s}" % k1 and s2 == "SELECT * FROM {%s}" % k2
    assert spark.sql(s1, **f1).count() == 2 and spark.sql(s2, **f2).count() == 2

    # a string literal containing the substituted text (or any text
    # equal to another occurrence) survives: replacement is by match
    # span, not global str.replace
    out = _splice_spans("SELECT 'xyz' FROM xyz", [(18, 21, "v9")])
    assert out == "SELECT 'xyz' FROM {v9}"

    # two distinct calls in ONE statement each get their own frame
    s3, f3 = db._rewrite_reads(
        "SELECT * FROM psi_drift('m', 'v', 'kind') "
        "UNION ALL SELECT * FROM psi_drift('m', 'v', 'kind', 4)"
    )
    assert len(f3) == 2 and all("{%s}" % k in s3 for k in f3)
    assert spark.sql(s3, **f3).count() == 4


def _catalog_names(session) -> list[str]:
    return sorted(t.name for t in session.catalog.listTables())


def _drift_and_mv_db(spark, root):
    """A topic ``m`` and a materialized view ``mv`` over it with two
    retained versions; returns (db, commit time of version 1)."""
    from ella_spark import Column, Ella

    db = Ella.create(str(root), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i, v in enumerate([1.0, 11.0, 21.0, 31.0]):
            pub.write((i + 1) * ns, "a", v)
            pub.write((100 + i) * ns, "b", v)
    db.create_materialized_view(
        "mv", "SELECT kind, count(*) AS n FROM m GROUP BY kind", keep_versions=2
    )
    with t.publish() as pub:
        pub.write(200 * ns, "a", 5.0)
    db.refresh_materialized("mv")
    return db, dict(db.store.resolve("mv").version_log)[1]


def test_reads_leave_no_temp_view(spark, tmp_path):
    """Table functions, information_schema and time travel reach Spark
    as DataFrame arguments of one ``spark.sql`` call, so a read leaves
    the session catalog exactly as it found it, on the session the
    datastore was opened with and on a second one."""
    from ella_spark import Ella

    db, ts1 = _drift_and_mv_db(spark, tmp_path / "db")
    spark2 = spark.newSession()
    for session, ella in ((spark, db), (spark2, Ella.open(str(db.store.root), spark2))):
        before = _catalog_names(session)
        for sql, n in (
            ("SELECT * FROM psi_drift('m', 'v', 'kind')", 2),
            ("SELECT * FROM psi_drift('m', 'v', 'kind')", 2),
            ("SELECT * FROM information_schema.tables", 2),
            ("SELECT * FROM mv FOR VERSION AS OF 1", 2),
            (f"SELECT * FROM mv FOR TIMESTAMP AS OF {ts1}", 2),
        ):
            assert len(ella.query(sql).df.collect()) == n, sql
        assert _catalog_names(session) == before


def test_braces_reach_spark_verbatim(spark, tmp_path):
    """A read that passes frames is formatted by ``spark.sql``; every
    brace of the statement's own text must still reach Spark as
    written, next to a table function and next to time travel."""
    db, _ = _drift_and_mv_db(spark, tmp_path / "db")
    rows = db.query(
        "SELECT '{x}' AS s, * FROM psi_drift('m', 'v', 'kind')"
    ).df.collect()
    assert [r.s for r in rows] == ["{x}", "{x}"]
    rows = db.query("SELECT '}{' AS s, * FROM mv FOR VERSION AS OF 1").df.collect()
    assert sorted((r.s, r.kind, r.n) for r in rows) == [("}{", "a", 4), ("}{", "b", 4)]
    # no frame: the text reaches Spark unformatted
    assert db.query("SELECT '{x}' AS s").df.collect()[0].s == "{x}"


def test_literals_and_comments_are_not_rewritten(spark, tmp_path):
    """A name inside a string literal is data, and a quote inside a
    comment or a backslash-escaped one opens no literal: only the real
    references around them are rewritten."""
    db, _ = _drift_and_mv_db(spark, tmp_path / "db")
    rows = db.query(
        "SELECT 'information_schema.tables' AS s FROM information_schema.tables"
    ).df.collect()
    assert [r.s for r in rows] == ["information_schema.tables"] * 2
    rows = db.query(
        "SELECT 'it\\'s' AS s, * -- don't\n"
        "FROM psi_drift('m', 'v', 'kind') /* 'mv FOR VERSION AS OF 1' */"
    ).df.collect()
    assert [r.s for r in rows] == ["it's", "it's"]


def test_ks_zero_when_distributions_identical(spark, tmp_path):
    """Two-sample KS D is exactly 0 when every slice's value multiset
    equals the pooled distribution (F_t == F_p at every step point)."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    rows, i = [], 0
    for et in ("a", "b"):
        for v in (1.0, 11.0, 21.0, 31.0, 41.0):
            rows.append((i, datetime(2024, 1, 1, 0, 0, i % 60), i, et, v))
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = all_queries()["q_ks_drift"](spark, sf).toPandas()
    assert len(out) == 2 and (out.n == 5).all()
    assert (out.d_stat == 0.0).all()


def test_ks_matches_brute_force_ecdf(spark, tmp_path):
    """D per slice equals the brute-force sup over pooled points of
    |ECDF_slice − ECDF_pooled| computed in numpy — including the
    disjoint-support case whose closed form is 0.5 for both types
    (a = {10,20}, b = {30,40}: the gap at v=20 is |1 − 0.5|)."""
    import random
    from datetime import datetime

    import numpy as np

    from ella_spark.queries import all_queries

    # closed-form case
    rows = [
        (0, datetime(2024, 1, 1), 0, "a", 10.0),
        (1, datetime(2024, 1, 1), 1, "a", 20.0),
        (2, datetime(2024, 1, 1), 2, "b", 30.0),
        (3, datetime(2024, 1, 1), 3, "b", 40.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = all_queries()["q_ks_drift"](spark, sf).toPandas().set_index("event_type")
    assert out.loc["a", "d_stat"] == 0.5 and out.loc["b", "d_stat"] == 0.5

    # randomized case vs brute force (ties included via round to 0.1)
    rng = random.Random(42)
    data = {
        "x": [round(rng.uniform(0, 50), 1) for _ in range(40)],
        "y": [round(rng.uniform(20, 90), 1) for _ in range(25)],
    }
    rows, i = [], 0
    for et, vals in data.items():
        for v in vals:
            rows.append((i, datetime(2024, 1, 1, 0, 0, i % 60), i, et, v))
            i += 1
    sf2 = _write_events(spark, tmp_path / "r2", rows)
    out2 = (
        all_queries()["q_ks_drift"](spark, sf2).toPandas().set_index("event_type")
    )
    pooled = np.sort(np.array(data["x"] + data["y"]))
    grid = np.unique(pooled)
    for et, vals in data.items():
        s = np.sort(np.array(vals))
        f_t = np.searchsorted(s, grid, side="right") / len(s)
        f_p = np.searchsorted(pooled, grid, side="right") / len(pooled)
        want = float(np.max(np.abs(f_t - f_p)))
        assert abs(out2.loc[et, "d_stat"] - round(want, 6)) < 1e-9, et


def test_cusum_localizes_level_shift(spark, tmp_path):
    """CUSUM changepoint: a series at 10.0 for days 1-10 then 50.0
    for days 11-20 (one observation per day) peaks exactly at the
    last pre-shift day with |W| = 10·|10 − 30| = 200; a constant
    series scores 0 with the min-day tie-break."""
    from datetime import datetime, timezone

    from ella_spark.queries import all_queries

    rows, i = [], 0
    for d in range(1, 21):
        v = 10.0 if d <= 10 else 50.0
        rows.append((i, datetime(2024, 1, d), i, "shift", v))
        i += 1
    for d in range(1, 21):
        rows.append((i, datetime(2024, 1, d), i, "flat", 7.0))
        i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = (
        all_queries()["q_changepoint_cusum"](spark, sf)
        .toPandas()
        .set_index("event_type")
    )
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    day10 = (datetime(2024, 1, 10, tzinfo=timezone.utc) - epoch).days
    day1 = (datetime(2024, 1, 1, tzinfo=timezone.utc) - epoch).days
    assert int(out.loc["shift", "cp_day"]) == day10
    assert out.loc["shift", "cusum_max"] == 200.0
    assert (out.n_days == 20).all()
    assert out.loc["flat", "cusum_max"] == 0.0
    assert int(out.loc["flat", "cp_day"]) == day1  # min-day tie-break


def test_ks_drift_sql_tvf(spark, tmp_path):
    """SQL surface: ks_drift('<table>', 'value', 'slice') rewrites to
    the ks_by_slice frame; a stored VIEW keeps the durable text and
    re-scores CURRENT data per read (the psi_drift/chi2_drift
    contract); D == 0 for identical slices, rises once one slice's
    distribution shifts."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i, v in enumerate([1.0, 11.0, 21.0, 31.0]):
            pub.write((i + 1) * ns, "a", v)
            pub.write((100 + i) * ns, "b", v)  # identical distribution

    out = db.query(
        "SELECT * FROM ks_drift('m', 'v', 'kind') ORDER BY kind"
    ).df.toPandas()
    assert list(out.kind) == ["a", "b"]
    assert (out.d_stat == 0.0).all() and (out.n == 4).all()

    db.query("CREATE VIEW ksv AS SELECT * FROM ks_drift('m', 'v', 'kind')")
    assert "ks_drift" in db.store.resolve("ksv").sql
    with t.publish() as pub:  # shift kind b upward
        for i in range(4):
            pub.write((200 + i) * ns, "b", 100.0 + i)
    out2 = db.query("SELECT * FROM ksv ORDER BY kind").df.toPandas()
    # b: 8 values, 4 at >= 100. At v=31: F_b = 4/8, F_pooled = 8/12
    # (the pooled side contains b itself) -> sup = 1/6 for BOTH slices
    assert abs(out2[out2.kind == "b"].d_stat.iloc[0] - round(1 / 6, 6)) < 1e-9
    assert out2[out2.kind == "b"].n.iloc[0] == 8

    with pytest.raises(ValueError, match="unknown table"):
        db.query("SELECT * FROM ks_drift('nope', 'v', 'kind')")


def test_page_hinkley_batch_matches_sequential_replay(spark, tmp_path):
    """The batch q_page_hinkley window formulation (cumulative of a
    cumulative) equals the detector's sequential recurrence replayed
    in pure Python — the algebraic identity m_t = cs_t − Σ cs_i/i the
    streaming operator relies on, plus the alarm on a known shift."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    series = {
        "shift": [10.0] * 8 + [60.0] * 8,   # +50 mean shift
        "flat": [5.0] * 16,
    }
    rows, i = [], 0
    for et, vals in series.items():
        for v in vals:
            rows.append((i, datetime(2024, 1, 1, 0, 0, i % 60, i), i, et, v))
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = (
        all_queries()["q_page_hinkley"](spark, sf)
        .toPandas()
        .set_index("event_type")
    )

    def replay(seq):
        n, total, m, mn, mx = 0, 0.0, 0.0, 0.0, 0.0
        for x in seq:
            n += 1
            total += x
            m += x - total / n
            mn = min(mn, m)
            mx = max(mx, m)
        return n, round(m - mn, 6), round(mx - m, 6)

    for et, vals in series.items():
        n, up, dn = replay(vals)
        assert out.loc[et, "n"] == n
        assert out.loc[et, "ph_up"] == up, et
        assert out.loc[et, "ph_down"] == dn, et
    assert bool(out.loc["shift", "alarm_up"]) is True
    assert bool(out.loc["flat", "alarm_up"]) is False
    assert not out.alarm_down.any()


def test_js_divergence_bounds_and_identity(spark, tmp_path):
    """JS is exactly 0 when every slice equals the pooled mix, and
    equals its closed form (in [0, ln 2]) on a disjoint-support pair —
    for a = {bucket 0}, b = {bucket 9} with equal mass the pooled mix
    is 50/50, so per slice JS = 0.5·ln 2 + 0.5·0.5·ln(0.5/0.5)…
    computed exactly in the test."""
    import math
    from datetime import datetime

    from ella_spark.queries import all_queries

    rows, i = [], 0
    for et in ("a", "b"):
        for v in (1.0, 11.0, 21.0, 31.0, 41.0):
            rows.append((i, datetime(2024, 1, 1, 0, 0, i % 60), i, et, v))
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = all_queries()["q_js_divergence"](spark, sf).toPandas()
    assert len(out) == 2 and (out.js == 0.0).all()

    # disjoint: a all at the low edge, b all at the high edge
    rows = [
        (0, datetime(2024, 1, 1), 0, "a", 0.0),
        (1, datetime(2024, 1, 1), 1, "a", 0.0),
        (2, datetime(2024, 1, 1), 2, "b", 100.0),
        (3, datetime(2024, 1, 1), 3, "b", 100.0),
    ]
    sf2 = _write_events(spark, tmp_path / "d2", rows)
    out2 = all_queries()["q_js_divergence"](spark, sf2).toPandas()
    # each slice, own bucket (p=1, q=.5): 0.5*ln(4/3) + 0.25*ln(2/3);
    # other bucket (p=0, q=.5): 0.25*ln 2 -> total 0.75*ln(4/3)
    want = round(0.75 * math.log(4.0 / 3.0), 6)
    assert (out2.js == want).all()
    assert (out2.js <= math.log(2.0)).all()


def test_cusum_drift_sql_tvf(spark, tmp_path):
    """SQL surface: cusum_drift('<table>', 'value', 'slice') localizes
    each slice's level shift over day buckets of the topic's time
    column; matches the closed form on a one-observation-per-day
    series (peak |W| at the last pre-shift day = n_pre*|mu_pre − mu|);
    stored VIEW keeps the durable text; unknown table raises."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    day = 86_400_000_000_000
    with t.publish() as pub:
        for d in range(1, 21):  # shift at day 11: 10 -> 50
            pub.write(d * day + 1, "s", 10.0 if d <= 10 else 50.0)
        for d in range(1, 21):
            pub.write(d * day + 2, "f", 7.0)  # flat

    out = db.query(
        "SELECT * FROM cusum_drift('m', 'v', 'kind') ORDER BY kind"
    ).df.toPandas().set_index("kind")
    assert out.loc["s", "cp_bucket"] == 10  # last pre-shift day
    assert out.loc["s", "cusum_max"] == 200.0  # 10 * |10 - 30|
    assert out.loc["f", "cusum_max"] == 0.0
    assert out.loc["f", "cp_bucket"] == 1  # min-bucket tie-break
    assert (out.n_buckets == 20).all()

    db.query("CREATE VIEW cpv AS SELECT * FROM cusum_drift('m', 'v', 'kind')")
    assert "cusum_drift" in db.store.resolve("cpv").sql
    out2 = db.query("SELECT * FROM cpv ORDER BY kind").df.toPandas()
    assert len(out2) == 2

    with pytest.raises(ValueError, match="unknown table"):
        db.query("SELECT * FROM cusum_drift('nope', 'v', 'kind')")


def test_earth_movers_closed_form_and_identity(spark, tmp_path):
    """EMD is 0 for identical slices; on the disjoint pair a = {0},
    b = {100} with equal mass, each slice's |F_t − F_p| is 0.5 across
    the whole [0, 100] gap → EMD = 0.5 · 100 = 50 value units — and
    unlike KS (which is 0.5 for ANY disjoint pair) it scales with the
    shift distance: moving b to {200} doubles it."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    rows, i = [], 0
    for et in ("a", "b"):
        for v in (1.0, 11.0, 21.0, 31.0, 41.0):
            rows.append((i, datetime(2024, 1, 1, 0, 0, i % 60), i, et, v))
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = all_queries()["q_earth_movers"](spark, sf).toPandas()
    assert len(out) == 2 and (out.emd == 0.0).all()

    def disjoint(hi, sub):
        rows = [
            (0, datetime(2024, 1, 1), 0, "a", 0.0),
            (1, datetime(2024, 1, 1), 1, "a", 0.0),
            (2, datetime(2024, 1, 1), 2, "b", hi),
            (3, datetime(2024, 1, 1), 3, "b", hi),
        ]
        sfx = _write_events(spark, tmp_path / sub, rows)
        return all_queries()["q_earth_movers"](spark, sfx).toPandas()

    out100 = disjoint(100.0, "d1")
    assert (out100.emd == 50.0).all()
    out200 = disjoint(200.0, "d2")
    assert (out200.emd == 100.0).all()  # scales with distance


def test_autocorrelation_exact_alternating_and_linear(spark, tmp_path):
    """ACF closed forms: an exactly alternating daily series has
    acf1 = −1, acf2 = +1, acf3 = −1; a linear trend has every lag's
    ACF = +1 (both series are affine images of each other)."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    rows, i = [], 0
    for d in range(1, 13):
        rows.append((i, datetime(2024, 1, d), i, "alt", 10.0 if d % 2 else -10.0))
        i += 1
    for d in range(1, 13):
        rows.append((i, datetime(2024, 1, d), i, "lin", float(d)))
        i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = (
        all_queries()["q_autocorrelation"](spark, sf)
        .toPandas()
        .set_index("event_type")
    )
    assert (out.n_days == 12).all()
    assert out.loc["alt", "acf1"] == -1.0
    assert out.loc["alt", "acf2"] == 1.0
    assert out.loc["alt", "acf3"] == -1.0
    assert out.loc["lin", "acf1"] == 1.0
    assert out.loc["lin", "acf3"] == 1.0


def test_trend_robust_closed_forms(spark, tmp_path):
    """Mann-Kendall / Theil-Sen closed forms: a strictly increasing
    daily series has S = n_pairs = C(n,2) and Sen slope = the exact
    common step; a constant series has S = 0 and slope 0; one wild
    outlier day does NOT move the Sen slope (robustness — the
    property regr_slope lacks)."""
    from datetime import datetime

    from ella_spark.queries import all_queries

    rows, i = [], 0
    for d in range(1, 11):
        rows.append((i, datetime(2024, 1, d), i, "up", 2.0 * d))
        i += 1
    for d in range(1, 11):
        rows.append((i, datetime(2024, 1, d), i, "flat", 5.0))
        i += 1
    for d in range(1, 11):  # linear slope 1 except day 5 at 1000
        v = 1000.0 if d == 5 else float(d)
        rows.append((i, datetime(2024, 1, d), i, "outlier", v))
        i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = (
        all_queries()["q_trend_robust"](spark, sf)
        .toPandas()
        .set_index("event_type")
    )
    assert (out.n_pairs == 45).all()  # C(10,2)
    assert out.loc["up", "mk_s"] == 45 and out.loc["up", "sen_slope"] == 2.0
    assert out.loc["flat", "mk_s"] == 0 and out.loc["flat", "sen_slope"] == 0.0
    # 9 of 10 points sit on slope 1; the median pairwise slope is 1
    assert out.loc["outlier", "sen_slope"] == 1.0


def test_burstiness_closed_forms(spark, tmp_path):
    """Burstiness closed forms: a metronome (constant gaps, σ = 0)
    scores B = −1 and CV = 0; a two-gap pattern alternating 1 s and
    3 s has μ = 2, σ² = sample variance of {1,3,...} — checked
    against the exact numpy computation."""
    from datetime import datetime, timedelta

    import numpy as np

    from ella_spark.queries import all_queries

    rows, i = [], 0
    t0 = datetime(2024, 1, 1)
    for k in range(10):  # metronome: exact 60 s gaps
        rows.append((i, t0 + timedelta(seconds=60 * k), i, "tick", 1.0))
        i += 1
    acc = 0
    gaps = [1, 3] * 5  # alternating-gap bursty-ish series
    for k, gsec in enumerate([0] + gaps[:-1]):
        acc += gsec
        rows.append((i, t0 + timedelta(seconds=acc), i, "alt", 1.0))
        i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = (
        all_queries()["q_burstiness"](spark, sf)
        .toPandas()
        .set_index("event_type")
    )
    assert out.loc["tick", "burstiness"] == -1.0
    assert out.loc["tick", "cv"] == 0.0
    assert out.loc["tick", "mean_gap_s"] == 60.0
    g = np.array(gaps[:-1], dtype=float)  # 9 observed gaps
    mu, sd = g.mean(), g.std(ddof=1)
    assert out.loc["alt", "n_gaps"] == 9
    assert abs(out.loc["alt", "burstiness"] - round((sd - mu) / (sd + mu), 6)) < 1e-9
    assert abs(out.loc["alt", "cv"] - round(sd / mu, 6)) < 1e-9


def test_js_divergence_sql_tvf(spark, tmp_path):
    """SQL surface: js_divergence('<table>', 'value', 'slice'
    [, buckets]) rewrites to the js_by_slice frame (the
    psi/chi2/ks/cusum durable-text contract). JS == 0 for identical
    slices, in (0, ln 2] once one slice's mix diverges."""
    import math

    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i, v in enumerate([1.0, 11.0, 21.0, 31.0]):
            pub.write((i + 1) * ns, "a", v)
            pub.write((100 + i) * ns, "b", v)  # identical distribution

    out = db.query(
        "SELECT * FROM js_divergence('m', 'v', 'kind') ORDER BY kind"
    ).df.toPandas()
    assert list(out.kind) == ["a", "b"]
    assert (out.js == 0.0).all() and (out.n == 4).all()

    # stored view keeps the durable text; re-scores current data
    db.query("CREATE VIEW jsv AS SELECT * FROM js_divergence('m', 'v', 'kind')")
    assert "js_divergence" in db.store.resolve("jsv").sql
    with t.publish() as pub:  # pile kind b into the top bucket
        for i in range(12):
            pub.write((200 + i) * ns, "b", 31.0)
    out2 = db.query("SELECT * FROM jsv ORDER BY kind").df.toPandas()
    js_b = out2[out2.kind == "b"].js.iloc[0]
    assert 0.0 < js_b <= math.log(2) + 1e-9
    assert out2[out2.kind == "b"].n.iloc[0] == 16

    # explicit bucket count parses
    out3 = db.query(
        "SELECT * FROM js_divergence('m', 'v', 'kind', 4) ORDER BY kind"
    ).df.toPandas()
    assert len(out3) == 2

    with pytest.raises(ValueError, match="unknown table"):
        db.query("SELECT * FROM js_divergence('nope', 'v', 'kind')")

    # bucket count 0 fails at rewrite time with guidance (would be a
    # silent zero-width-bucket degenerate histogram otherwise)
    with pytest.raises(ValueError, match="bucket count"):
        db.query("SELECT * FROM js_divergence('m', 'v', 'kind', 0)")
    with pytest.raises(ValueError, match="bucket count"):
        db.query("SELECT * FROM psi_drift('m', 'v', 'kind', 0)")


def test_earth_movers_sql_tvf(spark, tmp_path):
    """SQL surface: earth_movers('<table>', 'value', 'slice') — EMD in
    the value's own units; hand-computable on a two-point shift."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i in range(4):
            pub.write((i + 1) * ns, "a", 0.0)
            pub.write((100 + i) * ns, "b", 10.0)
    out = db.query(
        "SELECT * FROM earth_movers('m', 'v', 'kind') ORDER BY kind"
    ).df.toPandas()
    # pooled = half at 0, half at 10. |F_slice - F_pooled| = 1/2 on
    # the whole [0, 10) gap -> EMD = 5.0 for both slices
    assert list(out.kind) == ["a", "b"]
    assert (out.emd == 5.0).all() and (out.n == 4).all()

    db.query("CREATE VIEW emv AS SELECT * FROM earth_movers('m', 'v', 'kind')")
    assert "earth_movers" in db.store.resolve("emv").sql
    with pytest.raises(ValueError, match="unknown table"):
        db.query("SELECT * FROM earth_movers('nope', 'v', 'kind')")


def test_page_hinkley_sql_tvf(spark, tmp_path):
    """SQL surface: page_hinkley('<table>', 'value', 'slice'
    [, 'time'] [, lambda]) — flat series scores ~0 / no alarm; a +50
    mean shift alarms upward; explicit lambda arg changes the alarm
    threshold; unknown table raises."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i in range(8):
            pub.write((i + 1) * ns, "flat", 5.0)
        for i in range(8):
            pub.write((i + 1) * ns, "shift", 10.0)
        for i in range(8):
            pub.write((20 + i) * ns, "shift", 60.0)

    out = db.query(
        "SELECT * FROM page_hinkley('m', 'v', 'kind') ORDER BY kind"
    ).df.toPandas().set_index("kind")
    assert out.loc["flat"].ph_up == 0.0 and not out.loc["flat"].alarm_up
    assert out.loc["shift"].ph_up > 50.0 and bool(out.loc["shift"].alarm_up)
    assert not out.loc["shift"].alarm_down
    assert out.loc["shift"].n == 16

    # explicit lambda: a threshold above the statistic silences the alarm
    hi = db.query(
        "SELECT * FROM page_hinkley('m', 'v', 'kind', 'time', 100000.0) "
        "ORDER BY kind"
    ).df.toPandas().set_index("kind")
    assert not hi.loc["shift"].alarm_up
    assert hi.loc["shift"].ph_up == out.loc["shift"].ph_up  # stat unchanged

    db.query("CREATE VIEW phv AS SELECT * FROM page_hinkley('m', 'v', 'kind')")
    assert "page_hinkley" in db.store.resolve("phv").sql
    with pytest.raises(ValueError, match="unknown table"):
        db.query("SELECT * FROM page_hinkley('nope', 'v', 'kind')")


def test_emd_degenerate_single_value_grid_emits_rows(spark):
    """ADVICE r10: when the pooled grid has ONE distinct value, every
    row is dropped by the _next_v interval filter — the operator must
    still emit one row per slice with emd = 0.0 (a dashboard must see
    a row, not silence — the mann_whitney_by_slice contract)."""
    from ella_spark.operators.drift import emd_by_slice

    df = spark.createDataFrame(
        [("a", 5.0)] * 4 + [("b", 5.0)] * 3, "kind string, v double"
    )
    out = emd_by_slice(df, "v", "kind").toPandas().set_index("kind")
    assert set(out.index) == {"a", "b"}
    assert out.loc["a"].n == 4 and out.loc["b"].n == 3
    assert (out.emd == 0.0).all()


def test_ecdf_grid_cap_bounds_and_approximates(spark, tmp_path):
    """r9 VERDICT #5: past max_grid distinct values, ks_by_slice /
    emd_by_slice re-quantize the checkpointed (slice, value) frame
    onto <= max_grid points — the grid stays bounded at ANY value
    cardinality — and the binned statistics stay close to the exact
    ones (error O(1/max_grid) for a smooth shift)."""
    import numpy as np

    from ella_spark.operators.drift import emd_by_slice, ks_by_slice

    rng = np.random.default_rng(7)
    # 4000 distinct uniform doubles per slice; slice b shifted +0.5
    a = rng.uniform(0.0, 1.0, 4000)
    b = rng.uniform(0.5, 1.5, 4000)
    df = spark.createDataFrame(
        [("a", float(v)) for v in a] + [("b", float(v)) for v in b],
        "kind string, v double",
    )

    exact = ks_by_slice(df, "v", "kind").toPandas().set_index("kind")
    capped = (
        ks_by_slice(df, "v", "kind", max_grid=100)
        .toPandas()
        .set_index("kind")
    )
    # counts intact, statistic within the binning error
    assert (capped.n == 4000).all()
    for k in ("a", "b"):
        assert abs(capped.loc[k].d_stat - exact.loc[k].d_stat) < 0.05

    e_exact = emd_by_slice(df, "v", "kind").toPandas().set_index("kind")
    e_capped = (
        emd_by_slice(df, "v", "kind", max_grid=100)
        .toPandas()
        .set_index("kind")
    )
    for k in ("a", "b"):  # true EMD vs pooled is ~0.25 per slice
        assert abs(e_capped.loc[k].emd - e_exact.loc[k].emd) < 0.05

    # the internal frame really is bounded: <= max_grid distinct points
    from ella_spark.operators.drift import _bounded_value_frame
    import pyspark.sql.functions as F

    tv = (
        df.select(F.col("kind").alias("_slice"), F.col("v").alias("_v"))
        .groupBy("_slice", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint()
    )
    bounded = _bounded_value_frame(tv, 100)
    assert bounded.select("_v").distinct().count() <= 100
    # under the cap the frame is returned untouched (exact path)
    assert _bounded_value_frame(tv, 10**6) is tv


def test_pooled_ecdf_frame_grid_cap(spark, tmp_path):
    """The registry queries' shared _pooled_ecdf_frame enforces the
    same cap: with max_grid below the distinct-centi-value count the
    evaluation grid re-quantizes onto <= max_grid int64 points and
    q_ks_drift-style cumulative counts stay exact."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from ella_spark.queries.relational import _pooled_ecdf_frame

    rows = []
    for i in range(3000):  # 3000 distinct centi-values, 1 type
        rows.append((i, datetime(2024, 1, 1, 0, i % 60, i % 60), i, "a", i / 100.0))
    sf = _write_events(spark, tmp_path, rows)
    from ella_spark.sources import load_table

    ev = load_table(spark, sf, "events")
    ft = _pooled_ecdf_frame(ev, max_grid=64)
    grid_points = ft.select("vc").distinct().count()
    assert grid_points <= 64
    # totals exact after coarsening
    tot = ft.agg(F.max("big_n").alias("n")).collect()[0].n
    assert tot == 3000


def test_trend_robust_operator_bucket_width(spark, tmp_path):
    """r9 VERDICT #6: the operator-level trend_robust makes the
    bucket width callable. A 120-day rising series: day buckets give
    ~119 ordered pairs per slice with mk_s == n_pairs (strictly
    monotone); WEEK buckets collapse the grid ~7x (pairs shrink
    quadratically) while the Theil-Sen slope scales by exactly the
    bucket-width ratio (slope is per-bucket units)."""
    from ella_spark.operators.drift import trend_robust

    DAY = 86_400_000_000_000
    rows = []
    for day in range(120):  # mean rises 1.0/day, two obs per day
        for j in (0, 1):
            rows.append(("up", day * DAY + j * 1000, float(day) + 0.5 * j))
    df = spark.createDataFrame(rows, "kind string, t long, v double")

    daily = trend_robust(df, "v", "kind", "t").toPandas().iloc[0]
    assert daily.n_buckets == 120
    assert daily.n_pairs == 120 * 119 // 2
    assert daily.mk_s == daily.n_pairs  # strictly rising
    assert abs(daily.sen_slope - 1.0) < 1e-6  # 1 value-unit per day

    weekly = trend_robust(
        df, "v", "kind", "t", bucket_ns=7 * DAY
    ).toPandas().iloc[0]
    assert weekly.n_buckets == 18  # ceil(120/7)
    assert weekly.n_pairs == 18 * 17 // 2
    assert weekly.mk_s == weekly.n_pairs
    assert abs(weekly.sen_slope - 7.0) < 0.5  # per-WEEK units

    # an outlier bucket cannot move the Theil-Sen slope
    rows2 = rows + [("up", 60 * DAY + 5000, 1e6)]
    df2 = spark.createDataFrame(rows2, "kind string, t long, v double")
    robust = trend_robust(df2, "v", "kind", "t").toPandas().iloc[0]
    assert abs(robust.sen_slope - 1.0) < 0.1


def test_nested_tvf_via_stored_view_reentrancy(spark, tmp_path):
    """End-to-end re-entrancy: a TVF whose TABLE ARGUMENT is a stored
    view that itself contains a TVF. Resolving the outer rewrite's
    argument calls _frame_for -> _sql on the inner text while the
    outer statement is still being rewritten. Both levels must produce
    correct rows and the outer statement's frames must survive to
    analysis."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    ns = 1_000_000_000
    with t.publish() as pub:
        for i, v in enumerate([1.0, 11.0, 21.0, 31.0]):
            pub.write((i + 1) * ns, "a", v)
            pub.write((100 + i) * ns, "b", v)

    # inner TVF stored as a view (durable text, re-rewritten per read)
    db.query(
        "CREATE VIEW psi_v AS SELECT * FROM psi_drift('m', 'v', 'kind')"
    )
    # outer TVF whose table argument IS that view: grubbs over the
    # per-slice psi scores (a QA-on-QA dashboard shape)
    out = db.query(
        "SELECT * FROM mann_whitney('psi_v', 'psi', 'kind')"
    ).df.toPandas()
    # identical distributions -> psi == 0 for both kinds -> all ties
    assert len(out) == 2 and (out.auc == 0.5).all()
    # and a plain re-read of the inner view still works
    assert db.query("SELECT count(*) AS n FROM psi_v").df.collect()[0].n == 2


def test_trend_robust_sql_tvf(spark, tmp_path):
    """SQL surface: trend_robust('<table>', 'value', 'slice'
    [, 'time'] [, bucket_days]) — the r9-verdict bucket knob callable
    from SQL: day buckets vs 7-day buckets shrink the pair count
    quadratically while a monotone series keeps mk_s == n_pairs."""
    from ella_spark import Column, Ella

    db = Ella.create(str(tmp_path / "db"), spark)
    t = db.create_topic(
        "m", [Column("kind", "string", required=True), Column("v", "float64")]
    )
    day = 86_400_000_000_000
    with t.publish() as pub:
        for d in range(28):  # rising 1/day, 28 days
            pub.write(d * day, "up", float(d))

    daily = db.query(
        "SELECT * FROM trend_robust('m', 'v', 'kind')"
    ).df.toPandas().iloc[0]
    assert daily.n_buckets == 28 and daily.n_pairs == 28 * 27 // 2
    assert daily.mk_s == daily.n_pairs
    assert abs(daily.sen_slope - 1.0) < 1e-9

    weekly = db.query(
        "SELECT * FROM trend_robust('m', 'v', 'kind', 'time', 7)"
    ).df.toPandas().iloc[0]
    assert weekly.n_buckets == 4 and weekly.n_pairs == 6
    assert abs(weekly.sen_slope - 7.0) < 1e-9  # per-WEEK units

    db.query("CREATE VIEW tr_v AS SELECT * FROM trend_robust('m', 'v', 'kind')")
    assert "trend_robust" in db.store.resolve("tr_v").sql

    import pytest

    with pytest.raises(ValueError, match="unknown table"):
        db.query("SELECT * FROM trend_robust('nope', 'v', 'kind')")
