"""Engine-layer tests: topic lifecycle, publisher semantics, views,
catalog durability, compaction — modeled on the reference's examples
(ella-engine/examples/pubsub.rs, pyella/examples/publisher.py) and
FIXTURES.md behaviors."""

from __future__ import annotations

import numpy as np
import pytest

from ella_spark import Column, Ella, Maintainer, compact_topic


@pytest.fixture()
def db(spark, tmp_path):
    return Ella.create(str(tmp_path / "db"), spark)


def test_pubsub_roundtrip(db):
    """pubsub.rs:43-82 analog: publish typed rows, query ordered."""
    topic = db.create_topic(
        "point", [Column("x", "float32", required=True), Column("y", "int64")]
    )
    with topic.publish() as pub:
        pub.write(3_000, 1.5, 10)
        pub.write(1_000, 0.5, 20)
        pub.write(2_000, -0.5, None)
    out = db.query("SELECT time, x, y FROM point ORDER BY time").execute()
    assert list(out["time"]) == [1_000, 2_000, 3_000]
    assert list(out["x"]) == [0.5, -0.5, 1.5]
    assert out["y"].iloc[1] is None or np.isnan(out["y"].iloc[1])


def test_auto_time_now(db):
    """publisher.rs:119-123: omitted time auto-filled with now() ns."""
    import time

    topic = db.create_topic("t_auto", [Column("v", "float64")])
    before = time.time_ns()
    with topic.publish() as pub:
        pub.write(1.0)
    after = time.time_ns()
    out = db.query("SELECT time FROM t_auto").execute()
    assert before <= out["time"].iloc[0] <= after


def test_capacity_flush(db):
    """RowSink flushes at capacity (sink.rs:60-71): shards appear
    without explicit flush."""
    topic = db.create_topic("t_cap", [Column("v", "int32")])
    pub = topic.publish(capacity=10)
    for i in range(25):
        pub.write(i * 1000, i)
    assert len(topic.shards()) == 2  # two full buffers flushed
    pub.close()
    assert len(topic.shards()) == 3
    assert db.query("SELECT count(*) AS n FROM t_cap").execute()["n"].iloc[0] == 25


def test_tensor_column_roundtrip(db):
    """pyella publisher example: fixed-shape tensor rows round-trip
    (column.rs:137-155 encode / 157-178 decode parity)."""
    topic = db.create_topic(
        "tensors", [Column("m", "float32", row_shape=(2, 2)), Column("tag", "string")]
    )
    mat = np.array([[1.0, 2.0], [3.0, 4.0]], dtype=np.float32)
    with topic.publish() as pub:
        pub.write(1_000, mat, "a")
        pub.write(2_000, mat * 2, "b")
    lazy = db.query("SELECT m FROM tensors ORDER BY time")
    col = lazy.col("m")
    assert col.shape == (2, 4)  # flattened row-major
    np.testing.assert_allclose(col[0], [1, 2, 3, 4])
    np.testing.assert_allclose(col[1], [2, 4, 6, 8])
    # shape metadata survives in the catalog
    entry = db.store.resolve("tensors")
    assert next(c for c in entry.columns if c.name == "m").row_shape == (2, 2)


def test_tensor_shape_validation(db):
    topic = db.create_topic("t_shape", [Column("m", "float32", row_shape=(3,))])
    pub = topic.publish()
    with pytest.raises(ValueError, match="shape"):
        pub.write(1_000, np.zeros((2, 2), dtype=np.float32))


def test_required_column_enforced(db):
    topic = db.create_topic("t_req", [Column("v", "int64", required=True)])
    pub = topic.publish()
    with pytest.raises(ValueError, match="required"):
        pub.write(1_000, None)


def test_view_inlining(db):
    """Views re-plan at scan (view.rs:131-166): new data published
    after CREATE VIEW is visible through the view."""
    topic = db.create_topic("ev", [Column("v", "float64")])
    with topic.publish() as pub:
        pub.write(1_000, 1.0)
    db.query("SELECT time, v * 2 AS v2 FROM ev").create_view("ev2")
    assert db.query("SELECT v2 FROM ev2").execute()["v2"].iloc[0] == 2.0
    with topic.publish() as pub:
        pub.write(2_000, 5.0)
    out = db.query("SELECT v2 FROM ev2 ORDER BY v2").execute()
    assert list(out["v2"]) == [2.0, 10.0]


def test_materialized_view_lifecycle(db):
    """Materialized views — declared but todo!()'d in the reference
    (view.rs:36-39); implemented here: versioned parquet snapshot,
    stale until refreshed, atomic version flip, SQL dispatch."""
    topic = db.create_topic("mv_src", [Column("v", "float64")])
    with topic.publish() as pub:
        pub.write(1_000, 2.0)
        pub.write(2_000, 4.0)
    out = db.query(
        "CREATE MATERIALIZED VIEW mv AS SELECT sum(v) AS s FROM mv_src"
    ).execute()
    assert out["count"].iloc[0] == 1
    assert db.query("SELECT s FROM mv").execute()["s"].iloc[0] == 6.0

    # snapshot semantics: new source rows are invisible until refresh
    with topic.publish() as pub:
        pub.write(3_000, 10.0)
    assert db.query("SELECT s FROM mv").execute()["s"].iloc[0] == 6.0
    db.query("REFRESH MATERIALIZED VIEW mv").execute()
    assert db.query("SELECT s FROM mv").execute()["s"].iloc[0] == 16.0
    # only the current snapshot version remains on disk
    entry = db.store.resolve("mv")
    assert entry.version == 2
    vdirs = sorted(p.name for p in db.store.table_path(entry).glob("v=*"))
    assert vdirs == ["v=2"]

    db.query("DROP MATERIALIZED VIEW mv").execute()
    assert not any(t.endswith(".mv") for t in db.tables())
    assert not db.store.table_path(entry).exists()


def test_create_existing_materialized_view_keeps_it(db):
    """CREATE MATERIALIZED VIEW without OR REPLACE over an existing
    view is refused before any side effect: the view keeps its catalog
    entry and still reads its old snapshot (API and SQL forms)."""
    topic = db.create_topic("mvk_src", [Column("v", "float64")])
    with topic.publish() as pub:
        pub.write(1_000, 2.0)
    db.create_materialized_view("mvk", "SELECT sum(v) AS s FROM mvk_src")
    with topic.publish() as pub:
        pub.write(2_000, 5.0)
    for attempt in (
        lambda: db.create_materialized_view(
            "mvk", "SELECT count(*) AS s FROM mvk_src", replace=False
        ),
        lambda: db.query(
            "CREATE MATERIALIZED VIEW mvk AS SELECT count(*) AS s FROM mvk_src"
        ).execute(),
    ):
        with pytest.raises(ValueError, match="already exists"):
            attempt()
        assert "ella.public.mvk" in db.tables()
        assert db.store.resolve("mvk").sql == "SELECT sum(v) AS s FROM mvk_src"
        assert db.query("SELECT s FROM mvk").execute()["s"].tolist() == [2.0]


def test_create_schema_in_named_catalog(db):
    """``CREATE SCHEMA catalog.schema`` creates the schema in that
    catalog, and DROP SCHEMA parses the name the same way."""
    db.query("CREATE CATALOG side").execute()
    db.query("CREATE SCHEMA side.sx").execute()
    assert ("side", "sx") in db.store.schemas
    assert ("ella", "side.sx") not in db.store.schemas
    db.create_schema("side.sy")
    assert ("side", "sy") in db.store.schemas
    with pytest.raises(ValueError, match="already exists"):
        db.query("CREATE SCHEMA side.sx").execute()
    db.query("CREATE SCHEMA IF NOT EXISTS side.sx").execute()
    with pytest.raises(ValueError, match="invalid schema name"):
        db.create_schema("a.b.c")
    db.query("DROP SCHEMA side.sx").execute()
    assert ("side", "sx") not in db.store.schemas


def test_materialized_view_via_lazy_and_durability(spark, tmp_path):
    """Lazy.create_view(materialize=True) + reopen sees the snapshot."""
    root = str(tmp_path / "mvdb")
    db = Ella.create(root, spark)
    t = db.create_topic("msrc", [Column("v", "int64")])
    with t.publish() as pub:
        pub.write(1_000, 5)
    db.query("SELECT v * 2 AS v2 FROM msrc").create_view("m2", materialize=True)
    assert db.query("SELECT v2 FROM m2").execute()["v2"].iloc[0] == 10
    db.shutdown()
    db2 = Ella.open(root, spark)
    assert db2.query("SELECT v2 FROM m2").execute()["v2"].iloc[0] == 10


def test_ddl_matrix(db):
    """create/drop × if_not_exists/replace (state.rs:156-279)."""
    db.create_topic("d1", [Column("v", "int64")])
    with pytest.raises(ValueError, match="exists"):
        db.create_topic("d1", [Column("v", "int64")])
    db.create_topic("d1", [Column("v", "int64")], if_not_exists=True)  # no-op
    db.create_topic("d1", [Column("w", "float64")], replace=True)
    assert [c.name for c in db.store.resolve("d1").columns] == ["time", "w"]
    db.drop_table("d1")
    with pytest.raises(ValueError, match="does not exist"):
        db.drop_table("d1")
    db.create_schema("aux")
    db.create_topic("aux.t2", [Column("v", "int64")])
    assert "ella.aux.t2" in db.tables()


def test_unsigned_widening(db):
    """SURVEY §1.2: unsigned types widen; original recorded in metadata."""
    topic = db.create_topic(
        "u", [Column("a", "uint8"), Column("b", "uint32"), Column("c", "uint64")]
    )
    with topic.publish() as pub:
        pub.write(1_000, 255, 2**31, 2**63)
    out = db.query("SELECT a, b, c FROM u").execute()
    assert out["a"].iloc[0] == 255
    assert out["b"].iloc[0] == 2**31
    assert int(out["c"].iloc[0]) == 2**63
    entry = db.store.resolve("u")
    assert {c.name: c.dtype for c in entry.columns} == {
        "time": "timestamp", "a": "uint8", "b": "uint32", "c": "uint64"
    }


def test_catalog_durability(spark, tmp_path):
    """Transaction log + snapshot replay (transaction_log.rs:41-70,
    snapshot.rs:28-66): reopen sees tables and data; snapshot squashes."""
    root = str(tmp_path / "db")
    db = Ella.create(root, spark)
    t = db.create_topic("persist", [Column("v", "int64")])
    with t.publish() as pub:
        pub.write(1_000, 42)
    db.query("SELECT v + 1 AS v1 FROM persist").create_view("pv")
    # reopen WITHOUT snapshot: replay from log
    db2 = Ella.open(root, spark)
    assert sorted(db2.tables()) == ["ella.public.persist", "ella.public.pv"]
    assert db2.query("SELECT v1 FROM pv").execute()["v1"].iloc[0] == 43
    db2.shutdown()  # snapshot + truncate log
    assert not list(db2.store.log_dir.glob("*.json"))
    db3 = Ella.open(root, spark)
    assert db3.query("SELECT v FROM persist").execute()["v"].iloc[0] == 42


def test_compaction(db):
    """compact_shards parity: many small shards merge into one,
    preserving rows and time order."""
    topic = db.create_topic("comp", [Column("v", "int64")])
    for i in range(5):
        with topic.publish() as pub:
            pub.write((5 - i) * 1_000, i)  # descending times across shards
    assert len(topic.shards()) == 5
    out = compact_topic(topic, target_rows=1 << 20)
    assert out is not None and len(topic.shards()) == 1
    res = db.query("SELECT time, v FROM comp ORDER BY time").execute()
    assert list(res["v"]) == [4, 3, 2, 1, 0]


def test_maintainer_cleanup(db, tmp_path):
    topic = db.create_topic("m1", [Column("v", "int64")])
    with topic.publish() as pub:
        pub.write(1_000, 1)
    # orphan dir not in catalog
    orphan = db.store.root / "ella" / "public" / "ghost"
    orphan.mkdir(parents=True)
    (orphan / "part-x.parquet").write_bytes(b"junk")
    report = Maintainer(db).run_once()
    assert any("ghost" in p for p in report["cleaned"])
    assert not orphan.exists()


def test_compact_while_publishing(db):
    """A live publisher flushing new shards while compact_topic runs
    must lose no rows and leave no lock file behind."""
    import threading

    topic = db.create_topic("c_live", [Column("v", "int64")])
    n_rows = 2_000
    stop = threading.Event()
    errors: list[BaseException] = []

    def publish():
        try:
            pub = topic.publish(capacity=50)  # flush every 50 rows
            for i in range(n_rows):
                pub.write(i * 1_000, i)
            pub.close()
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=publish)
    t.start()
    while not stop.is_set():
        compact_topic(topic, target_rows=1 << 20)
    t.join()
    compact_topic(topic, target_rows=1 << 20)  # final pass
    assert not errors, errors
    res = db.query("SELECT count(*) AS n, count(DISTINCT v) AS d FROM c_live").execute()
    assert int(res["n"].iloc[0]) == n_rows
    assert int(res["d"].iloc[0]) == n_rows
    assert not list(topic.path.glob("*/.compact.lock"))


def test_concurrent_compactors_no_duplication(db):
    """Two compactors racing on the same buckets: the per-bucket lock
    makes one win per bucket; rows are never duplicated or lost."""
    import threading

    topic = db.create_topic("c_race", [Column("v", "int64")])
    for i in range(12):
        with topic.publish() as pub:
            pub.write(i * 1_000, i)
    assert len(topic.shards()) == 12

    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def compact():
        try:
            barrier.wait()
            for _ in range(3):
                compact_topic(topic, target_rows=1 << 20)
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=compact) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    res = db.query("SELECT count(*) AS n, count(DISTINCT v) AS d FROM c_race").execute()
    assert int(res["n"].iloc[0]) == 12
    assert int(res["d"].iloc[0]) == 12


def test_bucket_lock_stale_break(db, tmp_path):
    """A lock left by a crashed compactor is broken after stale_sec."""
    import os
    import time as _time

    from ella_spark.maintenance import BucketLock

    bucket = tmp_path / "bucket"
    bucket.mkdir()
    stale = bucket / ".compact.lock"
    stale.write_text("999999")
    old = _time.time() - 3600
    os.utime(stale, (old, old))
    with BucketLock(bucket, stale_sec=300.0) as held:
        assert held
    assert not stale.exists()


def test_insert_distributed(db, spark):
    """INSERT INTO path (topic.rs:205-213): Spark-side write."""
    topic = db.create_topic("ins", [Column("v", "double" if False else "float64")])
    src = spark.range(100).selectExpr("id * 1000 AS time", "CAST(id AS double) AS v")
    n = topic.insert(src)
    assert n == 100
    out = db.query("SELECT count(*) AS n, sum(v) AS s FROM ins").execute()
    assert out["n"].iloc[0] == 100 and out["s"].iloc[0] == sum(range(100))


def test_insert_sql_routing(db):
    """`ella.query('INSERT INTO t ...')` routes to the topic sink and
    returns the row count (state-dispatch parity: the reference wires
    INSERT through the topic's DataSink, topic.rs:205-213)."""
    from ella_spark.types import Column

    db.create_topic("ins_sql", [Column("v", "float64")])
    out = db.query(
        "INSERT INTO ins_sql SELECT id * 1000 AS time, CAST(id AS double) AS v "
        "FROM range(50)"
    ).execute()
    assert out["count"].iloc[0] == 50
    got = db.query("SELECT count(*) AS n FROM ins_sql").execute()
    assert got["n"].iloc[0] == 50
    # VALUES form + omitted time column (auto-filled with now())
    out2 = db.query("INSERT INTO ins_sql VALUES (CAST(7.5 AS DOUBLE))").execute()
    assert out2["count"].iloc[0] == 1
    got2 = db.query(
        "SELECT count(*) AS n, count_if(v = 7.5) AS hits FROM ins_sql"
    ).execute()
    assert got2["n"].iloc[0] == 51 and got2["hits"].iloc[0] == 1


def test_ddl_sql_routing(db):
    """SQL-string DDL dispatches to the catalog (LocalBackend::stream
    parity, lazy/backend.rs:66-161), not to Spark temp state."""
    from ella_spark.types import Column

    db.create_topic("src_t", [Column("v", "float64")])
    db.query("INSERT INTO src_t VALUES (1000, CAST(2.0 AS DOUBLE))").execute()

    db.query("CREATE VIEW doubled AS SELECT time, v * 2 AS v2 FROM src_t").execute()
    assert any(t.endswith("doubled") for t in db.tables())
    out = db.query("SELECT v2 FROM doubled").execute()
    assert list(out["v2"]) == [4.0]

    db.query("CREATE OR REPLACE VIEW doubled AS SELECT v * 3 AS v2 FROM src_t").execute()
    assert list(db.query("SELECT v2 FROM doubled").execute()["v2"]) == [6.0]

    db.query("CREATE SCHEMA IF NOT EXISTS aux").execute()
    db.query("CREATE CATALOG IF NOT EXISTS side").execute()

    db.query("DROP VIEW doubled").execute()
    assert not any(t.endswith("doubled") for t in db.tables())
    db.query("DROP TABLE IF EXISTS nonexistent_t").execute()  # no raise
    import pytest as _pytest

    with _pytest.raises(ValueError):
        db.query("DROP TABLE nonexistent_t").execute()


def test_rollup_refresh_incremental(db):
    """Continuous-aggregate rollup: refresh, append late+new rows,
    refresh again — open bucket re-aggregates, closed buckets stay."""
    from ella_spark.maintenance import refresh_rollup
    from ella_spark.types import Column

    sec = 1_000_000_000
    db.create_topic("metrics", [Column("v", "float64")])
    with db.publish("metrics") as pub:
        for t, v in [(1, 1.0), (2, 3.0), (61, 10.0)]:
            pub.write(t * sec, v)
    n = refresh_rollup(db, "metrics", "metrics_1m", 60 * sec)
    assert n == 2  # buckets [0,60) and [60,120)

    with db.publish("metrics") as pub:
        pub.write(62 * sec, 20.0)   # late row in the open bucket
        pub.write(130 * sec, 5.0)   # new bucket
    n2 = refresh_rollup(db, "metrics", "metrics_1m", 60 * sec)
    assert n2 == 2  # re-aggregated open bucket + the new one

    out = db.query(
        "SELECT time, n, v_sum, v_avg FROM metrics_1m ORDER BY time"
    ).execute()
    assert list(out["time"]) == [0, 60 * sec, 120 * sec]
    assert list(out["n"]) == [2, 2, 1]
    assert list(out["v_sum"]) == [4.0, 30.0, 5.0]


def test_drop_schema_show_describe_sql(db):
    """DROP SCHEMA / SHOW TABLES / DESCRIBE dispatch (LocalBackend
    DropSchema parity, lazy/backend.rs:104-128)."""
    from ella_spark.types import Column

    db.query("CREATE SCHEMA staging").execute()
    db.create_topic("staging.s1", [Column("v", "float64")])

    shown = db.query("SHOW TABLES").execute()
    assert ("ella", "staging", "s1", "topic") in {
        tuple(r) for r in shown.itertuples(index=False)
    }

    desc = db.query("DESCRIBE staging.s1").execute()
    assert list(desc["col_name"]) == ["time", "v"]
    assert list(desc["nullable"]) == [False, True]

    # non-empty without CASCADE → error; with CASCADE → gone incl. data
    with pytest.raises(ValueError, match="CASCADE"):
        db.query("DROP SCHEMA staging").execute()
    data_dir = db.store.table_path(db.store.resolve("staging.s1"))
    db.query("DROP SCHEMA staging CASCADE").execute()
    assert "ella.staging.s1" not in db.tables()
    assert not data_dir.exists()
    db.query("DROP SCHEMA IF EXISTS staging").execute()  # no raise
    with pytest.raises(ValueError, match="does not exist"):
        db.query("DROP SCHEMA staging").execute()


def test_describe_view(db):
    from ella_spark.types import Column

    db.create_topic("dv_src", [Column("v", "float64")])
    db.query("CREATE VIEW dv AS SELECT time, v * 2 AS v2 FROM dv_src").execute()
    desc = db.query("DESCRIBE dv").execute()
    assert list(desc["col_name"]) == ["time", "v2"]
    assert list(desc["data_type"]) == ["bigint", "double"]


def test_coerce_ns_floats_and_numpy_ints():
    """ADVICE r1: floats are epoch SECONDS; numpy ints pass through as ns."""
    import numpy as np

    from ella_spark.topic import _coerce_ns

    assert _coerce_ns(1.5) == 1_500_000_000
    assert _coerce_ns(np.int64(123)) == 123
    assert _coerce_ns(np.uint32(7)) == 7
    with pytest.raises(TypeError):
        _coerce_ns("2024-01-01")


def test_rollup_backfill_distributed(db, spark):
    """Backfill from empty uses the distributed topic sink, never a
    driver collect of all buckets (VERDICT r1 'what's wrong' #3)."""
    from ella_spark.maintenance import refresh_rollup

    sec = 1_000_000_000
    topic = db.create_topic("bf", [Column("v", "float64")])
    src = spark.range(600).selectExpr(
        f"id * {sec} AS time", "CAST(id AS double) AS v"
    )
    topic.insert(src)
    n = refresh_rollup(db, "bf", "bf_1m", 60 * sec)
    assert n == 10  # 600 s of data -> 10 one-minute buckets
    out = db.query("SELECT count(*) AS c, sum(n) AS rows FROM bf_1m").execute()
    assert out["c"].iloc[0] == 10 and out["rows"].iloc[0] == 600


def test_time_bucket_partition_pruning(db, spark):
    """SURVEY §7 Phase 3: shards land in __bucket=<day> dirs and a
    time-range read prunes to one bucket dir via PartitionFilters —
    at 100 TB this skips whole directories, not just parquet footers."""
    from ella_spark.topic import DAY_NS

    topic = db.create_topic("buck", [Column("v", "float64")])
    with topic.publish() as pub:
        for day in range(3):
            pub.write(day * DAY_NS + 1_000, float(day))
            pub.flush()  # one shard per day
    dirs = topic.bucket_dirs()
    assert [d.name for d in dirs] == ["__bucket=0", "__bucket=1", "__bucket=2"]

    pruned = topic.read(spark, start_ns=DAY_NS, end_ns=2 * DAY_NS)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan and "PartitionFilters" in plan
    rows = pruned.collect()
    assert [r.v for r in rows] == [1.0]
    # the pruned scan must list exactly one of the three bucket dirs
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip()  # non-empty partition filters

    # full scan still sees everything, ordered
    assert [r.v for r in topic.read(spark).orderBy("time").collect()] == [
        0.0, 1.0, 2.0,
    ]


def test_insert_writes_bucket_dirs(db, spark):
    """Distributed INSERT also lands in __bucket dirs (same layout as
    the publisher) and negative times bucket left like Python //."""
    from ella_spark.topic import DAY_NS

    topic = db.create_topic("buck2", [Column("v", "float64")])
    src = spark.createDataFrame(
        [(-1, -1.0), (5, 0.0), (DAY_NS + 5, 1.0)], "time long, v double"
    )
    topic.insert(src)
    names = {d.name for d in topic.bucket_dirs()}
    assert names == {"__bucket=-1", "__bucket=0", "__bucket=1"}
    out = db.query("SELECT time, v FROM buck2 ORDER BY time").execute()
    assert list(out["v"]) == [-1.0, 0.0, 1.0]


def test_insert_empty_source_returns_zero(db, spark):
    """Observation-based count must not hang on a zero-row write."""
    topic = db.create_topic("empty_ins", [Column("v", "float64")])
    src = spark.range(0).selectExpr("id AS time", "CAST(id AS double) AS v")
    assert topic.insert(src) == 0


def test_topic_scan_filter_pushdown(db, spark):
    """Time filters reach the parquet scan (PushedFilters) — row-group
    stats prune within a bucket because shards are time-sorted."""
    topic = db.create_topic("pushd", [Column("v", "float64")])
    with topic.publish() as pub:
        for i in range(10):
            pub.write(i * 1_000, float(i))
    import pyspark.sql.functions as F

    df = topic.read(spark).where(F.col("time") > 5_000).select("v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(time), GreaterThan(time,5000)]" in plan
    # column pruning: the scan reads only what the projection needs
    assert "ReadSchema: struct<time:bigint,v:double>" in plan


def test_insert_shards_time_sorted(db, spark):
    """Distributed-INSERT shards stay time-sorted within each bucket
    (row-group pruning + cheap merge reads depend on it)."""
    import pyarrow.parquet as pq

    from ella_spark.topic import DAY_NS

    topic = db.create_topic("sorted_ins", [Column("v", "double" if False else "float64")])
    # adversarial order: descending times across two day buckets
    src = spark.createDataFrame(
        [((2 * DAY_NS - i * 1_000_000), float(i)) for i in range(1000)],
        "time long, v double",
    ).repartition(4)
    topic.insert(src)
    assert topic.shards(), "no shards written"
    for shard in topic.shards():
        t = pq.read_table(shard, columns=["time"])["time"].to_pylist()
        assert t == sorted(t), f"unsorted shard {shard}"


def test_drop_catalog_and_show_dispatch(db):
    """DROP CATALOG [CASCADE] + SHOW SCHEMAS/CATALOGS SQL dispatch."""
    db.query("CREATE CATALOG side").execute()
    cats = db.query("SHOW CATALOGS").execute()
    assert set(cats["catalog"]) == {"ella", "side"}
    schemas = db.query("SHOW SCHEMAS").execute()
    assert ("ella", "public") in set(
        zip(schemas["catalog"], schemas["schema"])
    )
    db.query("DROP CATALOG side").execute()  # empty → no CASCADE needed
    assert set(db.query("SHOW CATALOGS").execute()["catalog"]) == {"ella"}

    # non-empty requires CASCADE and removes table data
    db.query("CREATE CATALOG full_c").execute()
    db.store.create_schema("s1", catalog="full_c")
    db.create_topic("full_c.s1.t1", [Column("v", "int64")])
    with pytest.raises(ValueError, match="CASCADE"):
        db.query("DROP CATALOG full_c").execute()
    data = db.store.table_path(db.store.resolve("full_c.s1.t1"))
    db.query("DROP CATALOG full_c CASCADE").execute()
    assert not data.exists()
    db.query("DROP CATALOG IF EXISTS full_c").execute()  # no raise


def test_datafusion_sql_compat_functions(db):
    """DataFusion-dialect fns a pyella user's SQL would call: date_bin
    / strpos / to_timestamp_* (SQL UDFs — inline expressions, no
    Python round-trip)."""
    topic = db.create_topic("dfc", [Column("v", "float64")])
    with topic.publish() as pub:
        for t in (100, 350, 620):
            pub.write(t * 1_000_000_000, 1.0)
    out = db.query(
        "SELECT date_bin(300000000000, time, 0) AS b, count(*) AS n "
        "FROM dfc GROUP BY 1 ORDER BY 1"
    ).execute()
    assert list(out["b"]) == [0, 300_000_000_000, 600_000_000_000]
    misc = db.query(
        "SELECT strpos('hello', 'll') AS p, "
        "to_timestamp_seconds(86400) AS ts1, "
        "to_timestamp_millis(86400000) AS ts2, "
        "to_timestamp_micros(86400000000) AS ts3"
    ).execute()
    assert misc["p"].iloc[0] == 3
    assert str(misc["ts1"].iloc[0])[:10] == "1970-01-02"
    assert misc["ts1"].iloc[0] == misc["ts2"].iloc[0] == misc["ts3"].iloc[0]


def test_explain_sql(db):
    """EXPLAIN [ANALYZE] parity: DataFusion-shaped (plan_type, plan)
    rows (the reference inherits EXPLAIN from its SessionState)."""
    db.create_topic("expl_t", [Column("v", "float64")])
    db.query("INSERT INTO expl_t VALUES (1000, CAST(2.0 AS DOUBLE))").execute()

    out = db.query("EXPLAIN SELECT v FROM expl_t WHERE v > 1.0").execute()
    kinds = list(out["plan_type"])
    assert kinds == ["logical_plan", "physical_plan"]
    assert "expl_t" in out["plan"][0] or "Relation" in out["plan"][0]

    out = db.query("EXPLAIN ANALYZE SELECT v FROM expl_t").execute()
    kinds = list(out["plan_type"])
    assert kinds == [
        "logical_plan",
        "row_count",
        "plan_with_metrics",
        "physical_plan",
    ]
    assert out["plan"][kinds.index("row_count")] == "1"
    # DataFusion "Plan with Metrics" analog: per-operator SQLMetrics
    # populated from executing THIS QueryExecution (a numOutputRows of
    # the scan must reflect the actual run, not sit at zero)
    metrics = out["plan"][kinds.index("plan_with_metrics")]
    assert "numOutputRows=1" in metrics, metrics
    # ADVICE r7: ANALYZE must report the AQE-FINAL physical plan
    # (re-captured after execution, not the isFinalPlan=false preview)
    phys = out["plan"][kinds.index("physical_plan")]
    if "AdaptiveSparkPlan" in phys:
        assert "isFinalPlan=true" in phys, phys


def test_information_schema(db):
    """state.rs:115-133 parity: with_information_schema(true) exposes
    ANSI information_schema.tables / .columns over the catalog."""
    db.create_topic(
        "t_info", [Column("x", "float64", required=True), Column("s", "string")]
    )
    db.create_view("v_info", "SELECT x FROM t_info")
    t = db.query(
        "SELECT table_name, table_type FROM information_schema.tables "
        "ORDER BY table_name"
    ).df.collect()
    names = {(r.table_name, r.table_type) for r in t}
    assert ("t_info", "BASE TABLE") in names
    assert ("v_info", "VIEW") in names
    c = db.query(
        "SELECT column_name, ordinal_position, is_nullable, data_type "
        "FROM information_schema.columns WHERE table_name = 't_info' "
        "ORDER BY ordinal_position"
    ).df.collect()
    assert [r.column_name for r in c] == ["time", "x", "s"]
    assert c[0].data_type == "timestamp"  # auto-prepended ns time column
    assert c[1].is_nullable == "NO" and c[2].is_nullable == "YES"


def test_table_accessor_pyella_parity(db):
    """ella/src/table.rs:75-226 + pyella lib.rs module fns: declare a
    schema with topic()/column(), drive CRUD through db.table(name)."""
    import ella_spark as ella

    info = ella.topic(
        [ella.column("x", "float64", required=True), ella.column("tag", "string")],
        index=[("x", True)],
    )
    ref = db.table("acc")
    assert not ref.exists()
    t = ref.or_create(info)
    assert ref.exists()
    assert [c.name for c in t.entry.columns] == ["time", "x", "tag"]
    # or_create on an existing table returns it unchanged
    again = ref.or_create(info)
    assert [c.name for c in again.entry.columns] == ["time", "x", "tag"]
    # replace drops and recreates with the new schema
    t2 = ref.replace(ella.topic([ella.column("y", "int64")]))
    assert [c.name for c in t2.entry.columns] == ["time", "y"]
    # write a row stamped with ella.now() ns and read it back
    ts = ella.now()
    with t2.publish() as pub:
        pub.write(ts, 7)
    assert db.query("SELECT y FROM acc").df.collect()[0].y == 7
    ref.drop()
    assert not ref.exists()
    ref.drop(if_exists=True)  # idempotent with the flag


def test_topic_add_column_schema_evolution(db, spark):
    """Adding a nullable column never rewrites history: old shards
    read as NULL for it, new shards carry values; SQL ALTER works."""
    import pytest as _pt

    t = db.create_topic("evo", [Column("v", "float64")])
    with t.publish() as pub:
        pub.write(1_000, 1.0)
    db.query("ALTER TABLE evo ADD COLUMN tag VARCHAR").execute()
    t = db.topic("evo")
    assert [c.name for c in t.entry.columns] == ["time", "v", "tag"]
    with t.publish() as pub:
        pub.write(2_000, 2.0, "new")
    rows = {r.time: (r.v, r.tag) for r in db.read("evo").collect()}
    assert rows[1_000] == (1.0, None)  # history: NULL, not rewritten
    assert rows[2_000] == (2.0, "new")
    # catalog-logged: survives reopen
    db.shutdown()
    from ella_spark.engine import Ella

    db2 = Ella.open(str(db.store.root), spark)
    assert [c.name for c in db2.store.resolve("evo").columns] == [
        "time", "v", "tag",
    ]
    # guards
    with _pt.raises(ValueError, match="already exists"):
        db2.topic("evo").add_column(Column("tag", "string"))
    with _pt.raises(ValueError, match="nullable"):
        db2.topic("evo").add_column(Column("req", "int64", required=True))


def test_topic_drop_column(db, spark):
    """Dropping a column is a catalog-only change: old shards' bytes
    stay but reads stop selecting them; the time column is protected."""
    import pytest as _pt

    t = db.create_topic(
        "evo2", [Column("v", "float64"), Column("tag", "string")]
    )
    with t.publish() as pub:
        pub.write(1_000, 1.0, "a")
    db.query("ALTER TABLE evo2 DROP COLUMN tag").execute()
    t = db.topic("evo2")
    assert [c.name for c in t.entry.columns] == ["time", "v"]
    rows = db.read("evo2").collect()
    assert not hasattr(rows[0], "tag") and rows[0].v == 1.0
    with t.publish() as pub:
        pub.write(2_000, 2.0)  # new schema: two args
    assert db.read("evo2").count() == 2
    with _pt.raises(ValueError, match="time"):
        t.drop_column("time")
    with _pt.raises(ValueError, match="does not exist"):
        t.drop_column("ghost")


def test_compaction_across_schema_evolution(db, spark):
    """Compaction merges shard generations written before and after
    ADD/DROP COLUMN: the merged shard carries the CURRENT schema
    (null-fill for added, dropped bytes reclaimed)."""
    from ella_spark.maintenance import compact_topic

    t = db.create_topic("evc", [Column("v", "float64"), Column("old", "string")])
    with t.publish() as pub:
        pub.write(1_000, 1.0, "x")
    t.drop_column("old")
    t.add_column(Column("tag", "string"))
    with t.publish() as pub:
        pub.write(2_000, 2.0, "y")
    assert len(t.shards()) == 2
    out = compact_topic(t, min_shards=2)
    assert out is not None and len(t.shards()) == 1
    import pyarrow.parquet as pq_

    merged = pq_.read_table(out)
    assert merged.schema.names == ["time", "v", "tag"]
    db._register(t.entry)
    rows = {r.time: (r.v, r.tag) for r in db.read("evc").collect()}
    assert rows == {1_000: (1.0, None), 2_000: (2.0, "y")}


def test_create_mv_refuses_replacing_non_mv_entry(db):
    """CREATE [OR REPLACE] MATERIALIZED VIEW over an existing TOPIC
    (or plain view) must refuse loudly: put_table(replace=True) would
    silently overwrite the entry and the failure-cleanup branch would
    then drop it entirely — the stash/restore protection only guards
    MV -> MV replaces."""
    topic = db.create_topic("prot", [Column("v", "float64")])
    with topic.publish() as pub:
        pub.write(1_000, 1.0)
        pub.write(2_000, 2.0)
    with pytest.raises(ValueError, match="kind 'topic'"):
        db.create_materialized_view("prot", "SELECT count(*) AS n FROM prot")
    # the topic survives untouched, entry and data both
    assert db.store.resolve("prot").kind == "topic"
    assert db.query("SELECT count(*) AS n FROM prot").execute()["n"].iloc[0] == 2

    db.query("SELECT time, v FROM prot").create_view("protv")
    with pytest.raises(ValueError, match="kind 'view'"):
        db.create_materialized_view("protv", "SELECT count(*) AS n FROM prot")
    assert db.store.resolve("protv").kind == "view"


def test_create_topic_as_select(db, spark):
    """CTAS: schema derives from the SELECT (must carry the epoch-ns
    time column), rows flow through the distributed sink, and the new
    topic is immediately queryable."""
    import pytest as _pytest

    src = db.create_topic("ctas_src", [Column("v", "float64")])
    src.insert(spark.range(10).selectExpr("id * 1000 AS time", "CAST(id AS double) AS v"))
    out = db.query(
        "CREATE TOPIC ctas_dst AS "
        "SELECT time, v * 2 AS dv FROM ctas_src WHERE v >= 5"
    ).df.collect()
    assert out[0]["count"] == 5
    got = db.query("SELECT dv FROM ctas_dst ORDER BY dv").df.collect()
    assert [r.dv for r in got] == [10.0, 12.0, 14.0, 16.0, 18.0]
    # missing time column -> clear error
    with _pytest.raises(ValueError, match="time"):
        db.query("CREATE TOPIC bad_ctas AS SELECT v FROM ctas_src")


def test_copy_to_parquet_and_csv(db, spark, tmp_path):
    t = db.create_topic("cp", [Column("v", "int64")])
    t.insert(spark.range(7).selectExpr("id * 1000 AS time", "id AS v"))
    p1 = str(tmp_path / "out_parquet")
    n = db.query(
        f"COPY (SELECT v FROM cp WHERE v < 5) TO '{p1}'"
    ).df.collect()[0]["count"]
    assert n == 5
    assert spark.read.parquet(p1).count() == 5
    p2 = str(tmp_path / "out_csv")
    n2 = db.query(
        f"COPY (SELECT v FROM cp) TO '{p2}' (FORMAT CSV)"
    ).df.collect()[0]["count"]
    assert n2 == 7


def test_ctas_if_not_exists_noop_on_existing(db, spark):
    """Re-running CREATE TOPIC IF NOT EXISTS ... AS SELECT must be a
    no-op when the topic already exists (Spark/Postgres CTAS
    semantics) — not a silent second append."""
    src = db.create_topic("ctas_ine_src", [Column("v", "float64")])
    src.insert(
        spark.range(4).selectExpr("id * 1000 AS time", "CAST(id AS double) AS v")
    )
    stmt = (
        "CREATE TOPIC IF NOT EXISTS ctas_ine_dst AS "
        "SELECT time, v FROM ctas_ine_src"
    )
    assert db.query(stmt).df.collect()[0]["count"] == 4
    assert db.query(stmt).df.collect()[0]["count"] == 0
    n = db.query("SELECT count(*) AS n FROM ctas_ine_dst").df.collect()[0]["n"]
    assert n == 4
    # ADVICE r7: the no-op only applies to an existing TOPIC — a
    # same-named view is a KIND conflict and must raise, exactly as
    # plain create_topic would
    import pytest as _pytest

    db.query("CREATE VIEW ctas_ine_view AS SELECT 1 AS x")
    with _pytest.raises(ValueError, match="view"):
        db.query(
            "CREATE TOPIC IF NOT EXISTS ctas_ine_view AS "
            "SELECT time, v FROM ctas_ine_src"
        )


def test_ctas_timestamp_time_converts_to_epoch_ns(db, spark):
    """A TIMESTAMP time column in the CTAS SELECT lands as epoch-NS
    longs (not cast-to-seconds, which would bucket rows in 1970)."""
    import pytest as _pytest

    src = db.create_topic("ctas_ts_src", [Column("v", "float64")])
    src.insert(
        spark.range(3).selectExpr("id * 1000 AS time", "CAST(id AS double) AS v")
    )
    db.query(
        "CREATE TOPIC ctas_ts AS SELECT "
        "timestamp'2024-05-01 00:00:00' + make_interval(0,0,0,0,0,0,v) AS time, "
        "v FROM ctas_ts_src"
    )
    times = sorted(
        r.time for r in db.query("SELECT time FROM ctas_ts").df.collect()
    )
    # epoch-ns magnitude (year >= 2020), not epoch-seconds
    assert all(t > 1_600_000_000 * 10**9 for t in times)
    # 1-second source steps survive as exactly 1e9 ns
    assert times[1] - times[0] == 10**9 and times[2] - times[1] == 10**9
    # non-integral, non-timestamp time -> clear error, no topic created
    with _pytest.raises(ValueError, match="epoch-ns or TIMESTAMP"):
        db.query(
            "CREATE TOPIC ctas_bad_time AS "
            "SELECT CAST(time AS double) AS time, v FROM ctas_ts_src"
        )


def test_copy_to_csv_quoted_newline_count(db, spark, tmp_path):
    """COPY TO counts via an Observation on the write job itself; a
    naive CSV re-read would split exported quoted-newline values into
    two records each and miscount."""
    t = db.create_topic("cp_nl", [Column("s", "string")])
    t.insert(
        spark.createDataFrame(
            [(i * 1000, f"first\nsecond-{i}") for i in range(5)],
            "time long, s string",
        )
    )
    p = str(tmp_path / "out_nl_csv")
    n = db.query(
        f"COPY (SELECT s FROM cp_nl) TO '{p}' (FORMAT CSV)"
    ).df.collect()[0]["count"]
    assert n == 5


def test_vacuum_analyze_show_create_sql(db, spark):
    """Housekeeping verbs: VACUUM <topic> compacts + rebuilds the
    manifest; ANALYZE <topic> (cols) builds blooms; SHOW CREATE TABLE
    prints reconstructable DDL for topics and views."""
    import json

    from ella_spark.topic import Topic

    t = db.create_topic("hk", [Column("k", "int64"), Column("v", "float64")])
    for b in range(3):
        t.insert(
            spark.range(10)
            .coalesce(1)
            .selectExpr(f"(id + {b*10}) * 1000 AS time", "id AS k", "CAST(id AS double) AS v")
        )
    rep = json.loads(
        db.query("VACUUM hk").df.collect()[0]["report"]
    )
    assert "manifest_entries" in rep
    n = db.query("ANALYZE hk (k)").df.collect()[0]["count"]
    assert n >= 0
    m = Topic(db.store, db.store.resolve("hk")).manifest()
    assert m and all("k" in e.get("b", {}) for e in m.values())

    [r] = db.query("SHOW CREATE TABLE hk").df.collect()
    assert r.ddl.startswith("CREATE TOPIC hk (time timestamp NOT NULL")
    assert "k int64" in r.ddl
    db.query("CREATE VIEW hk_v AS SELECT k FROM hk")
    [rv] = db.query("SHOW CREATE TABLE hk_v").df.collect()
    assert rv.ddl == "CREATE VIEW hk_v AS SELECT k FROM hk"
    # global VACUUM runs a full maintenance pass
    rep2 = json.loads(db.query("VACUUM").df.collect()[0]["report"])
    assert "errors" in rep2


def test_create_external_table_sql(db, spark, tmp_path):
    """CREATE EXTERNAL TABLE (the reference parses this DataFusion
    verb but todo!()s it — lazy/backend.rs:81-83): files queried in
    place, schema inferred, new files visible on the next query, DROP
    never deletes the external data, and the entry survives reopen."""
    ext = str(tmp_path / "ext_parquet")
    spark.range(10).selectExpr("id", "id * 2 AS y").write.parquet(ext)

    db.query(
        f"CREATE EXTERNAL TABLE extp STORED AS PARQUET LOCATION '{ext}'"
    )
    got = db.query("SELECT sum(y) AS s, count(*) AS n FROM extp").df.collect()[0]
    assert (got.s, got.n) == (90, 10)

    # joins against engine-native topics work like any view
    t = db.create_topic("ext_join_t", [Column("k", "int64")])
    t.insert(spark.range(5).selectExpr("id * 1000 AS time", "id AS k"))
    j = db.query(
        "SELECT count(*) AS n FROM extp JOIN ext_join_t ON extp.id = ext_join_t.k"
    ).df.collect()[0]
    assert j.n == 5

    # listing-table behavior: files added later are picked up
    spark.range(10, 15).selectExpr("id", "id * 2 AS y").write.mode(
        "append"
    ).parquet(ext)
    assert db.query("SELECT count(*) AS n FROM extp").df.collect()[0].n == 15

    # DESCRIBE + SHOW CREATE TABLE round-trip
    desc = {r.col_name: r.data_type for r in db.query("DESCRIBE extp").df.collect()}
    assert desc == {"id": "bigint", "y": "bigint"}
    ddl = db.query("SHOW CREATE TABLE extp").df.collect()[0].ddl
    assert ddl == f"CREATE EXTERNAL TABLE extp STORED AS PARQUET LOCATION '{ext}'"

    # IF NOT EXISTS is a no-op; plain re-create errors
    db.query(f"CREATE EXTERNAL TABLE IF NOT EXISTS extp STORED AS PARQUET LOCATION '{ext}'")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        db.create_external_table("extp", "parquet", ext)

    # durability: a reopened engine resolves and queries the entry
    from ella_spark.engine import Ella

    db2 = Ella.open(str(db.store.root), spark)
    assert db2.query("SELECT count(*) AS n FROM extp").df.collect()[0].n == 15

    # DROP removes the catalog entry but NEVER the external files
    db.query("DROP TABLE extp")
    assert db.store.resolve("extp") is None
    assert spark.read.parquet(ext).count() == 15


def test_create_external_table_csv_header(db, spark, tmp_path):
    import csv

    d = tmp_path / "ext_csv"
    d.mkdir()
    with open(d / "part.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "score"])
        w.writerows([["a", 1], ["b", 2], ["c", 3]])
    db.query(
        f"CREATE EXTERNAL TABLE extc STORED AS CSV WITH HEADER ROW LOCATION '{d}'"
    )
    rows = db.query(
        "SELECT name, score FROM extc ORDER BY score"
    ).df.collect()
    assert [(r.name, r.score) for r in rows] == [("a", 1), ("b", 2), ("c", 3)]


def test_ctas_from_external_table(db, spark, tmp_path):
    """External-source ingest: CREATE TOPIC ... AS SELECT over an
    external table pulls files into the engine's native shard layout
    in one statement (timestamp time converts to epoch-ns)."""
    ext = str(tmp_path / "ingest_src")
    spark.range(6).selectExpr(
        "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS t",
        "id AS k",
        "CAST(id AS double) * 1.5 AS v",
    ).write.parquet(ext)
    db.query(f"CREATE EXTERNAL TABLE ing_ext STORED AS PARQUET LOCATION '{ext}'")
    n = db.query(
        "CREATE TOPIC ing_topic AS SELECT t AS time, k, v FROM ing_ext"
    ).df.collect()[0]["count"]
    assert n == 6
    got = db.query(
        "SELECT k, v FROM ing_topic ORDER BY k"
    ).df.collect()
    assert [(r.k, r.v) for r in got] == [(i, i * 1.5) for i in range(6)]
    # time landed as epoch-ns (2024 magnitude, 1-second steps)
    ts = sorted(r.time for r in db.query("SELECT time FROM ing_topic").df.collect())
    assert ts[0] > 1_600_000_000 * 10**9 and ts[1] - ts[0] == 10**9


def test_external_table_schema_pinned_at_creation(db, spark, tmp_path):
    """External-table schema is inferred ONCE at registration and
    pinned (DataFusion's fixed-at-creation contract — and csv/json
    inference is a full scan, so per-query re-inference would read
    the location twice every query). A later file that contradicts
    the pinned column type reads as NULL under the pinned schema; it
    must NOT flip the whole column to string via re-inference."""
    import csv

    d = tmp_path / "ext_pin"
    d.mkdir()
    with open(d / "a.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "score"])
        w.writerows([["a", 1], ["b", 2]])
    db.query(
        f"CREATE EXTERNAL TABLE extpin STORED AS CSV WITH HEADER ROW LOCATION '{d}'"
    )
    entry = db.store.resolve("extpin")
    assert entry.refresh_state.get("schema_json"), "schema not pinned"
    with open(d / "b.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "score"])
        w.writerow(["c", "xyz"])
    rows = db.query(
        "SELECT name, score FROM extpin ORDER BY name"
    ).df.collect()
    assert dict(db.query("SELECT * FROM extpin").df.dtypes)["score"] == "int"
    assert [(r.name, r.score) for r in rows] == [
        ("a", 1), ("b", 2), ("c", None)]


def test_ctas_from_ntz_timestamp(db, spark, tmp_path):
    """Raw parquet surfaces TIMESTAMP_NTZ; CTAS must convert it to
    epoch-ns like TIMESTAMP (session tz is pinned UTC) instead of
    rejecting it."""
    ext = str(tmp_path / "ntz_src")
    spark.range(3).selectExpr(
        "CAST(timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
        " AS timestamp_ntz) AS t",
        "id AS k",
    ).write.parquet(ext)
    db.query(f"CREATE EXTERNAL TABLE ntz_ext STORED AS PARQUET LOCATION '{ext}'")
    assert dict(db.query("SELECT t FROM ntz_ext").df.dtypes)["t"] == "timestamp_ntz"
    n = db.query(
        "CREATE TOPIC ntz_topic AS SELECT t AS time, k FROM ntz_ext"
    ).df.collect()[0]["count"]
    assert n == 3
    ts = sorted(r.time for r in db.query("SELECT time FROM ntz_topic").df.collect())
    assert ts[0] == 1709251200 * 10**9 and ts[1] - ts[0] == 10**9


def test_set_statement(db, spark):
    """DataFusion `SET k = v` / `SET k TO v` (a Statement plan the
    reference unimplemented!()s, backend.rs:163) routes to the Spark
    session conf; static confs surface Spark's own error."""
    import pytest as _pytest

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        db.query("SET spark.sql.shuffle.partitions = 7")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        db.query("SET spark.sql.shuffle.partitions TO '9'")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "9"
        # ADVICE r7: unwrap exactly ONE matching quote pair — a value
        # that legitimately starts/ends with a quote survives
        db.query("SET spark.ella.test.quoted = '''inner'''")
        assert spark.conf.get("spark.ella.test.quoted") == "''inner''"
        db.query("SET spark.ella.test.mixed = \"don't\"")
        assert spark.conf.get("spark.ella.test.mixed") == "don't"
        with _pytest.raises(Exception, match="(?i)cannot|static"):
            db.query("SET spark.executor.cores = 4")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_parameterized_query(db, spark):
    """Named (:name) and positional (?) parameter binding through
    engine.query — the Flight SQL prepared-statement analog; DDL
    takes no params and fails loud."""
    import pytest as _pytest

    t = db.create_topic(
        "pq_t", [Column("k", "int64", required=True), Column("v", "float64")]
    )
    with t.publish() as pub:
        for i in range(5):
            pub.write(i + 1, i, float(i) * 2)
    rows = db.query(
        "SELECT k, v FROM pq_t WHERE k >= :lo AND k < :hi ORDER BY k",
        params={"lo": 1, "hi": 4},
    ).df.collect()
    assert [(r.k, r.v) for r in rows] == [(1, 2.0), (2, 4.0), (3, 6.0)]
    rows = db.query(
        "SELECT k FROM pq_t WHERE k = ? OR k = ? ORDER BY k", params=[0, 4]
    ).df.collect()
    assert [r.k for r in rows] == [0, 4]
    n = db.query(
        "INSERT INTO pq_t SELECT 100 AS time, :k AS k, :v AS v",
        params={"k": 99, "v": 1.5},
    ).df.collect()[0]["count"]
    assert n == 1
    assert db.query("SELECT v FROM pq_t WHERE k = 99").df.collect()[0].v == 1.5
    with _pytest.raises(ValueError, match="params"):
        db.query("DROP TABLE pq_t", params={"x": 1})


# ── per-statement registration: only what a statement references ────


@pytest.fixture()
def topic_reads(monkeypatch):
    """Names of the topics ``Topic.read`` is called on, in call order."""
    from ella_spark.topic import Topic

    reads: list[str] = []
    orig = Topic.read

    def counting(self, *a, **kw):
        reads.append(self.entry.name)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Topic, "read", counting)
    return reads


def test_query_reads_only_referenced_topics(db, topic_reads):
    """A statement's registration cost is its footprint, not the
    catalog: counts, not timings, so the check cannot be flaky."""
    cols = [Column("v", "float64"), Column("kind", "string")]
    for i in range(40):
        with db.create_topic(f"t{i:02d}", cols).publish() as pub:
            pub.write(1_000, float(i), "a")
            pub.write(2_000, float(i) + 1, "b")
    db.create_view("v_base", "SELECT * FROM t03")
    db.create_view("v_drift", "SELECT * FROM psi_drift('v_base', 'v', 'kind')")
    db.create_view("v_top", "SELECT kind, sum(v) AS s FROM v_base GROUP BY kind")
    topic_reads.clear()

    assert db.query("SELECT 1 AS one").df.collect()[0].one == 1
    assert topic_reads == []

    assert db.query("SELECT sum(v) AS s FROM t07").df.collect()[0].s == 15.0
    assert topic_reads == ["t07"]

    # views over a view: only the one topic underneath, once each
    topic_reads.clear()
    rows = db.query("SELECT kind, s FROM v_top ORDER BY kind").df.collect()
    assert [(r.kind, r.s) for r in rows] == [("a", 3.0), ("b", 4.0)]
    assert topic_reads == ["t03"]
    topic_reads.clear()
    rows = db.query("SELECT kind, n FROM v_drift ORDER BY kind").df.collect()
    assert [(r.kind, r.n) for r in rows] == [("a", 1), ("b", 1)]
    assert topic_reads == ["t03"]


def test_query_through_view_sees_new_shards(db):
    """A publish to `a` after view `v` over it exists is visible through
    `v` alone; re-registering `a` leaves another view over it intact."""
    a = db.create_topic("a", [Column("x", "int64")])
    with a.publish() as pub:
        pub.write(1_000, 1)
    db.create_view("v", "SELECT * FROM a")
    db.create_view("w", "SELECT x FROM a WHERE x > 1")
    assert db.query("SELECT count(*) AS n FROM v").df.collect()[0].n == 1

    with a.publish() as pub:
        pub.write(2_000, 2)
    assert db.query("SELECT count(*) AS n FROM v").df.collect()[0].n == 2

    # `a` re-registered directly; `w` (not referenced) is left as it was
    assert db.query("SELECT sum(x) AS s FROM a").df.collect()[0].s == 3
    with a.publish() as pub:
        pub.write(3_000, 3)
    rows = db.query("SELECT x FROM w ORDER BY x").df.collect()
    assert [r.x for r in rows] == [2, 3]

    # a name bound by a string parameter counts as referenced
    with a.publish() as pub:
        pub.write(4_000, 4)
    lazy = db.query("SELECT count(*) AS n FROM IDENTIFIER(:t)", params={"t": "a"})
    assert lazy.df.collect()[0].n == 4


_TVF_NAMES = (
    "psi_drift chi2_drift ks_drift cusum_drift js_divergence earth_movers "
    "page_hinkley mann_whitney grubbs levene runs_test trend_robust "
    "near_dup_pairs exact_dup_groups distinct_overlap set_churn "
    "minhash_drift embedding_neardup"
).split()

#: (statement, the part of it Spark's parser accepts)
_REFERENCE_CASES = [
    (s, s)
    for s in (
        "SELECT * FROM hot WHERE time > 5",
        "SELECT h.k, c.v FROM hot h JOIN c01 c ON h.k = c.k",
        "SELECT * FROM a LEFT JOIN b USING (k) FULL OUTER JOIN c ON a.k = c.k",
        "WITH x AS (SELECT * FROM a), y AS (SELECT * FROM x JOIN b USING (k)) "
        "SELECT * FROM y",
        "SELECT * FROM a WHERE k IN (SELECT k FROM b) "
        "AND EXISTS (SELECT 1 FROM c WHERE c.k = a.k)",
        "SELECT (SELECT max(v) FROM b) AS m, s.* FROM (SELECT * FROM a) s",
        "SELECT * FROM a, LATERAL (SELECT * FROM b WHERE b.k = a.k)",
        "SELECT kind FROM a GROUP BY kind HAVING count(*) > (SELECT count(*) FROM b)",
        "SELECT k FROM a INTERSECT SELECT k FROM b EXCEPT SELECT k FROM c",
        "SELECT * FROM `Odd-Name` JOIN `t03` USING (k)",
        "SELECT * FROM MixedCase UNION ALL SELECT * FROM MIXEDCASE",
        "SELECT * FROM sales__orders o JOIN sales.items i ON o.k = i.k",
        "SELECT /*+ BROADCAST(b) */ * FROM a JOIN b USING (k)",
        "SELECT * FROM a PIVOT (sum(v) FOR kind IN ('x', 'y'))",
        "SELECT * FROM mv FOR VERSION AS OF 2",
        "CREATE VIEW v AS SELECT kind, count(*) AS n FROM a GROUP BY kind",
        "CREATE OR REPLACE VIEW v2 AS SELECT * FROM v JOIN b ON v.k = b.k",
        "CREATE TABLE t2 AS SELECT * FROM a",
        "INSERT INTO tgt SELECT * FROM src",
        "SELECT * FROM point_lookup('hot', 'k', 42)",
        "SELECT * FROM ann_search('vecs', 'embedding', 'qv', 5, 6)",
        "SELECT d.kind FROM v_drift d "
        "JOIN psi_drift('v_base', 'v', 'kind', 20) p ON d.kind = p.kind",
        *(f"SELECT * FROM {fn}('src_t', 'col', 'col2')" for fn in _TVF_NAMES),
    )
] + [
    # the engine's own DDL: Spark parses only the query part
    (
        "CREATE MATERIALIZED VIEW m AS SELECT kind, sum(v) FROM a "
        "JOIN b USING (k) GROUP BY kind",
        "SELECT kind, sum(v) FROM a JOIN b USING (k) GROUP BY kind",
    ),
    (
        "CREATE TOPIC IF NOT EXISTS t3 AS SELECT * FROM ext WHERE k > 0",
        "SELECT * FROM ext WHERE k > 0",
    ),
]


def _parsed_names(spark, sql: str) -> set[str]:
    """Every relation name part Spark's parser finds in ``sql`` (and
    the literal arguments of table-valued function calls)."""
    from py4j.java_gateway import JavaObject

    plan_cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.LogicalPlan"
    )

    def seq(s):
        it = s.iterator()
        while it.hasNext():
            yield it.next()

    names: set[str] = set()
    todo = [spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)]
    while todo:
        plan = todo.pop()
        kind = plan.getClass().getSimpleName()
        if kind == "UnresolvedRelation":
            names.update(seq(plan.multipartIdentifier()))
        elif kind == "UnresolvedTableValuedFunction":
            names.update(
                str(a.value())
                for a in seq(plan.functionArgs())
                if a.getClass().getSimpleName() == "Literal"
            )
        todo.extend(seq(plan.children()))
        todo.extend(seq(plan.innerChildren()))
        todo.extend(seq(plan.subqueries()))
        # plans held outside children: INSERT's target, time travel
        todo.extend(
            x
            for x in seq(plan.productIterator())
            if isinstance(x, JavaObject) and plan_cls.isInstance(x)
        )
    return names


@pytest.mark.parametrize("sql,parsable", _REFERENCE_CASES)
def test_name_tokens_cover_parsed_relations(spark, sql, parsable):
    """Token matching may register too much but never too little: every
    relation Spark's parser finds is among the statement's tokens."""
    from ella_spark.engine import _name_tokens

    parsed = _parsed_names(spark, parsable)
    assert parsed, parsable  # the oracle itself found something
    assert {n.lower() for n in parsed} <= _name_tokens(sql)


def test_every_tvf_has_a_parser_oracle_case():
    """The SQL table functions are exactly the ones the parser-oracle
    cases call (``ann_search`` and ``point_lookup`` have their own), so
    a new function cannot skip the name-token check above."""
    from ella_spark.tvf import TVFS

    assert {t.name for t in TVFS} == {*_TVF_NAMES, "ann_search", "point_lookup"}


def test_drop_registers_nothing(db, topic_reads):
    """A DROP reads nothing: dropping a view runs neither its plan nor
    its table functions, and a view whose table is gone can still be
    dropped from SQL."""
    cols = [Column("v", "float64"), Column("kind", "string")]
    with db.create_topic("t", cols).publish() as pub:
        pub.write(1_000, 1.0, "a")
    db.query("CREATE VIEW v AS SELECT * FROM t")
    db.query("CREATE VIEW w AS SELECT * FROM psi_drift('t', 'v', 'kind')")
    topic_reads.clear()
    db.query("DROP VIEW w")
    assert topic_reads == []
    db.query("DROP TABLE t")
    db.query("DROP VIEW v")
    assert db.tables() == []


# ── time-window registration: a topic over the window a statement needs ──


def _day_sharded(db, name, days, per_day, rows=4):
    """A topic of ``per_day`` shards in each day bucket of ``days``;
    shard ``s`` of day ``d`` holds ``rows`` rows from ``d * DAY + s *
    DAY / per_day`` on, so shards cover disjoint, increasing ranges."""
    from ella_spark.topic import DAY_NS

    topic = db.create_topic(name, [Column("k", "int64"), Column("v", "float64")])
    with topic.publish() as pub:
        for d in days:
            for s in range(per_day):
                t0 = d * DAY_NS + s * (DAY_NS // per_day)
                pub.write_batch(
                    [(t0 + i * 1_000, (d * per_day + s + i) % 7, float(i)) for i in range(rows)]
                )
                pub.flush()
    return topic


def _window_cases():
    """(statements, params of each, whether the last one must register
    ``ev`` over a window: True / False / None for either)."""
    from ella_spark.topic import DAY_NS as D

    x = D + D // 3 + 2_000  # an existing time
    return [
        ([f"SELECT * FROM ev WHERE {D} <= time AND {2 * D} > time"], None, True),
        ([f"SELECT * FROM ev WHERE time BETWEEN {D // 2} AND {D + D // 2}"], None, True),
        ([f"SELECT k, v FROM ev WHERE time = {x}"], None, True),
        ([f"SELECT * FROM ev WHERE time >= {D + 5}"], None, True),
        ([f"SELECT count(*) AS n FROM ev WHERE time < now() - {D}"], None, True),
        ([f"SELECT * FROM ev WHERE time >= {-D // 2} AND time < 0"], None, True),
        ([f"SELECT * FROM ev WHERE time < {-D + 5_000}"], None, True),
        ([f"SELECT e.k, e.v FROM ev AS e WHERE e.TIME >= {D} AND e.time < {2 * D}"], None, True),
        ([f"SELECT * FROM EV WHERE TIME < {D}"], None, True),
        ([f"SELECT * FROM `ev` WHERE `time` >= {2 * D}"], None, True),
        ([f"SELECT * FROM ev WHERE time < {D} OR time >= {2 * D}"], None, False),
        (
            [
                "SELECT o.k, o.time FROM other o WHERE EXISTS "
                f"(SELECT 1 FROM ev WHERE ev.k = o.k AND o.time > {D})"
            ],
            None,
            False,
        ),
        (
            [
                "SELECT a.k, a.v, b.v AS w FROM "
                f"(SELECT * FROM ev WHERE time >= 0 AND time < {D}) a "
                f"JOIN (SELECT * FROM ev WHERE time >= {2 * D}) b ON a.k = b.k"
            ],
            None,
            True,
        ),
        (
            [
                "WITH ev AS (SELECT * FROM other WHERE time >= 0) "
                f"SELECT * FROM ev WHERE time < {D}"
            ],
            None,
            None,
        ),
        (
            [
                f"WITH e AS (SELECT * FROM ev WHERE time >= {D}) "
                f"SELECT * FROM e WHERE time < {2 * D}"
            ],
            None,
            True,
        ),
        (
            [
                "CREATE OR REPLACE VIEW ev_early AS "
                f"SELECT * FROM ev WHERE time >= 0 AND time < {D}",
                f"SELECT * FROM ev_early UNION ALL SELECT * FROM ev WHERE time >= {2 * D}",
            ],
            None,
            True,
        ),
        (
            [f"INSERT INTO sink SELECT time, k, v FROM ev WHERE time >= {D} AND time < {2 * D}"],
            None,
            True,
        ),
        (
            [
                f"CREATE OR REPLACE VIEW ev_mid AS SELECT * FROM ev WHERE time BETWEEN 0 AND {D}",
                "SELECT * FROM ev_mid",
            ],
            None,
            True,
        ),
        (
            [
                "SELECT k, v FROM point_lookup('ev', 'k', 3) "
                f"UNION ALL SELECT k, v FROM ev WHERE time >= {D}"
            ],
            None,
            False,
        ),
        ([f"SELECT count(*) AS n FROM IDENTIFIER(:t) WHERE time >= {D}"], {"t": "ev"}, False),
        (
            [
                f"SELECT k FROM ev WHERE time >= {2 * D} "
                "UNION ALL SELECT k FROM IDENTIFIER(:t)"
            ],
            {"t": "ev"},
            False,
        ),
        # an engine verb Spark cannot parse (it rebuilds the manifest)
        (["ANALYZE ev", f"SELECT * FROM ev WHERE time >= {D}"], None, True),
    ]


def test_time_window_registration_matches_whole_topic(db, monkeypatch):
    """Registering a topic over a statement's window returns exactly
    the rows of a whole-topic registration, on a topic with a manifest,
    four day buckets (one before the epoch) and a shard published after
    the manifest was built; the filters that must not bound a topic
    register it whole."""
    import ella_spark.engine as engine
    from ella_spark.maintenance import build_manifest
    from ella_spark.topic import DAY_NS as D, Topic

    ev = _day_sharded(db, "ev", days=(-1, 0, 1, 2), per_day=3)
    build_manifest(ev)
    with ev.publish() as pub:  # not in the manifest
        pub.write(D + 7, 3, 9.0)
        pub.write(2 * D - 1, 5, 9.5)
    _day_sharded(db, "other", days=(0, 1, 2), per_day=2)
    db.create_topic("sink", [Column("k", "int64"), Column("v", "float64")])

    windows: list = []
    orig = Topic.read

    def spying(self, spark, start_ns=None, end_ns=None, **kw):
        if self.entry.name == "ev":
            windows.append((start_ns, end_ns))
        return orig(self, spark, start_ns, end_ns, **kw)

    monkeypatch.setattr(Topic, "read", spying)

    def rows(stmts, params):
        for sql in stmts:
            lazy = db.query(sql, params if sql is stmts[-1] else None)
        return sorted((tuple(r) for r in lazy.df.collect()), key=repr)

    for stmts, params, bounded in _window_cases():
        windows.clear()
        got = rows(stmts, params)
        if bounded is not None:
            assert any(w != (None, None) for w in windows) == bounded, stmts
        with monkeypatch.context() as whole:
            parse = engine._parse_reads
            whole.setattr(
                engine,
                "_parse_reads",
                lambda spark, sql: parse(spark, sql)._replace(windows={}),
            )
            want = rows(stmts, params)
        assert got and got == want, stmts


def test_time_window_scans_only_its_shards(db, monkeypatch):
    """On 160 shards over 10 days with a manifest, a one-day window
    scans that day's 16 shards and a half-day window 8; an unbounded
    statement, an OR, or a plan that cannot be inspected scans all 160,
    and an unbounded statement after a bounded one sees every row."""
    import ella_spark.engine as engine
    from ella_spark.maintenance import build_manifest
    from ella_spark.topic import DAY_NS as D

    build_manifest(_day_sharded(db, "hot", days=range(10), per_day=16))
    day = f"time >= {3 * D} AND time < {4 * D}"

    def files(where: str) -> int:
        return len(db.query(f"SELECT k FROM hot WHERE {where}").df.inputFiles())

    def count(where: str = "true") -> int:
        return db.query(f"SELECT count(*) AS n FROM hot WHERE {where}").df.collect()[0].n

    assert files(day) == 16
    assert files(f"time >= {3 * D} AND time < {3 * D + D // 2}") == 8
    assert files("true") == 160
    assert files(f"time < {D} OR time >= {9 * D}") == 160
    assert count(day) == 64
    assert count() == 640  # after a bounded statement
    monkeypatch.setattr(engine, "FORCE_PLAN_OPAQUE", True)
    assert files(day) == 160
    assert count(day) == 64


def test_bounded_read_of_many_shards_starts_no_listing_job(db, spark):
    """A bounded read keeping 40 shards passes 40 explicit paths, past
    Spark's parallel-listing threshold (32 by default): building the
    frame must not start a Spark job to list them."""
    from ella_spark.maintenance import build_manifest
    from ella_spark.topic import DAY_NS as D

    topic = _day_sharded(db, "hot", days=range(4), per_day=16)
    build_manifest(topic)
    sc = spark.sparkContext
    sc.setJobGroup("bounded-read-listing", "bounded read of 40 shards")
    try:
        df = topic.read(spark, 1 * D, 3 * D + 8 * (D // 16))
        jobs = list(sc.statusTracker().getJobIdsForGroup("bounded-read-listing"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(df.inputFiles()) == 40
    assert jobs == []


def test_view_registered_after_another_window_reads_its_own(db, spark):
    """A view created or read after a statement registered its topic
    over another window still sees every row its own SQL selects."""
    from ella_spark.topic import DAY_NS as D

    _day_sharded(db, "ev", days=(0, 1, 2), per_day=2)
    late = db.query(f"SELECT * FROM ev WHERE time >= {D}")
    early = f"SELECT count(*) AS n FROM ev WHERE time < {D}"
    assert db.query(early).df.collect()[0].n == 8
    late.create_view("late")
    assert spark.table("late").count() == 16
    assert db.query(early).df.collect()[0].n == 8
    assert db.read("late").count() == 16


# ── SQL table functions: which texts are rewritten, and how they fail ──

#: (statement, the rewritten text with each view number as ``#``, or
#: the exact ``ValueError`` message, or an analysis error's condition).
#: Topic ``t`` and view ``w`` over it come from ``tvf_db``.
_TVF_GOLDEN = [
    # every function, with and without each optional argument
    ("SELECT * FROM ann_search('t', 'emb', 't')",
     "no vector index on t.emb; call create_vector_index first"),
    ("SELECT * FROM ann_search('t', 'emb', 't', 3)",
     "no vector index on t.emb; call create_vector_index first"),
    ("SELECT * FROM ann_search('t', 'emb', 't', 3, 2)",
     "no vector index on t.emb; call create_vector_index first"),
    ("SELECT * FROM point_lookup('t', 'doc_id', 2)",
     "SELECT * FROM __point_lookup_#"),
    ("SELECT * FROM psi_drift('t', 'v', 'kind')", "SELECT * FROM __psi_drift_#"),
    ("SELECT * FROM psi_drift('w', 'v', 'kind', 4)", "SELECT * FROM __psi_drift_#"),
    # an unknown table proves a match as well as a rewrite does, and
    # runs no operator
    ("SELECT * FROM chi2_drift('t', 'kind', 'txt')", "SELECT * FROM __chi2_drift_#"),
    ("SELECT * FROM ks_drift('nope', 'v', 'kind')", "ks_drift: unknown table 'nope'"),
    ("SELECT * FROM cusum_drift('nope', 'v', 'kind')",
     "cusum_drift: unknown table 'nope'"),
    ("SELECT * FROM cusum_drift('t', 'v', 'kind', 'time')",
     "SELECT * FROM __cusum_drift_#"),
    ("SELECT * FROM js_divergence('t', 'v', 'kind')",
     "SELECT * FROM __js_divergence_#"),
    ("SELECT * FROM js_divergence('t', 'v', 'kind', 1)",
     "SELECT * FROM __js_divergence_#"),
    ("SELECT * FROM earth_movers('t', 'v', 'kind')", "SELECT * FROM __earth_movers_#"),
    ("SELECT * FROM page_hinkley('t', 'v', 'kind')", "SELECT * FROM __page_hinkley_#"),
    ("SELECT * FROM page_hinkley('nope', 'v', 'kind', 'time')",
     "page_hinkley: unknown table 'nope'"),
    ("SELECT * FROM page_hinkley('nope', 'v', 'kind', 25)",
     "page_hinkley: unknown table 'nope'"),
    ("SELECT * FROM page_hinkley('t', 'v', 'kind', 'time', 2.5)",
     "SELECT * FROM __page_hinkley_#"),
    ("SELECT * FROM mann_whitney('t', 'v', 'kind')", "SELECT * FROM __mann_whitney_#"),
    ("SELECT * FROM grubbs('w', 'v', 'kind')", "SELECT * FROM __grubbs_#"),
    ("SELECT * FROM levene('t', 'v', 'kind')", "SELECT * FROM __levene_#"),
    ("SELECT * FROM runs_test('nope', 'v', 'kind')", "runs_test: unknown table 'nope'"),
    ("SELECT * FROM runs_test('t', 'v', 'kind', 'time')",
     "SELECT * FROM __runs_test_#"),
    ("SELECT * FROM trend_robust('t', 'v', 'kind')", "SELECT * FROM __trend_robust_#"),
    ("SELECT * FROM trend_robust('nope', 'v', 'kind', 'time')",
     "trend_robust: unknown table 'nope'"),
    ("SELECT * FROM trend_robust('nope', 'v', 'kind', 7)",
     "trend_robust: unknown table 'nope'"),
    ("SELECT * FROM trend_robust('t', 'v', 'kind', 'time', 1)",
     "SELECT * FROM __trend_robust_#"),
    ("SELECT * FROM near_dup_pairs('t', 'txt', 'doc_id')",
     "SELECT * FROM __near_dup_pairs_#"),
    ("SELECT * FROM near_dup_pairs('t', 'txt', 'doc_id', 1)",
     "SELECT * FROM __near_dup_pairs_#"),
    ("SELECT * FROM near_dup_pairs('nope', 'txt', 'doc_id', 0.8)",
     "near_dup_pairs: unknown table 'nope'"),
    ("SELECT * FROM exact_dup_groups('w', 'txt', 'doc_id')",
     "SELECT * FROM __exact_dup_groups_#"),
    ("SELECT * FROM distinct_overlap('nope', 'kind', 'txt')",
     "distinct_overlap: unknown table 'nope'"),
    ("SELECT * FROM distinct_overlap('t', 'kind', 'txt', 2)",
     "SELECT * FROM __distinct_overlap_#"),
    ("SELECT * FROM set_churn('nope', 'kind', 'txt')", "set_churn: unknown table 'nope'"),
    ("SELECT * FROM set_churn('t', 'kind', 'txt', 'time', 7)",
     "SELECT * FROM __set_churn_#"),
    ("SELECT * FROM minhash_drift('nope', 'kind', 'txt')",
     "minhash_drift: unknown table 'nope'"),
    ("SELECT * FROM minhash_drift('nope', 'kind', 'txt', 'time')",
     "minhash_drift: unknown table 'nope'"),
    ("SELECT * FROM minhash_drift('t', 'kind', 'txt', 'time', 2)",
     "SELECT * FROM __minhash_drift_#"),
    ("SELECT * FROM embedding_neardup('t', 'emb', 'doc_id')",
     "SELECT * FROM __embedding_neardup_#"),
    ("SELECT * FROM embedding_neardup('nope', 'emb', 'doc_id', 'kind')",
     "embedding_neardup: unknown table 'nope'"),
    ("SELECT * FROM embedding_neardup('t', 'emb', 'doc_id', .5)",
     "SELECT * FROM __embedding_neardup_#"),
    ("SELECT * FROM embedding_neardup('nope', 'emb', 'doc_id', 'kind', 1)",
     "embedding_neardup: unknown table 'nope'"),
    # mixed case, two calls in one statement, the surrounding text kept
    ("SELECT * FROM PSI_Drift('t', 'v', 'kind')", "SELECT * FROM __psi_drift_#"),
    ("SELECT a.n FROM Chi2_DRIFT( 't' ,'kind','txt' ) a "
     "JOIN grubbs('t', 'v', 'kind') b ON a.slice = b.slice WHERE a.n > 'psi_drift'",
     "SELECT a.n FROM __chi2_drift_# a "
     "JOIN __grubbs_# b ON a.slice = b.slice WHERE a.n > 'psi_drift'"),
    ("SELECT * FROM ks_drift('t', 'v', 'kind') UNION ALL "
     "SELECT * FROM ks_drift('w', 'v', 'kind')",
     "SELECT * FROM __ks_drift_# UNION ALL SELECT * FROM __ks_drift_#"),
    # a quoted number in the time or bucket slot is the numeric argument
    ("SELECT * FROM set_churn('t', 'kind', 'txt', '7')", "SELECT * FROM __set_churn_#"),
    ("SELECT * FROM trend_robust('t', 'v', 'kind', '0')",
     "bucket_days must be >= 1, got 0"),
    ("SELECT * FROM set_churn('t', 'kind', 'txt', '0')",
     "bucket_days must be >= 1, got 0"),
    ("SELECT * FROM minhash_drift('t', 'kind', 'txt', '0')",
     "bucket_days must be >= 1, got 0"),
    ("SELECT * FROM embedding_neardup('t', 'emb', 'doc_id', '.5')",
     "SELECT * FROM __embedding_neardup_#"),
    ("SELECT * FROM embedding_neardup('t', 'emb', 'doc_id', '0')",
     "cosine threshold must be in (0, 1], got 0.0"),
    # ...but only the unquoted slot's shape: this stays a bucket column
    ("SELECT * FROM embedding_neardup('t', 'emb', 'doc_id', '1e-1')",
     "UNRESOLVED_COLUMN.WITH_SUGGESTION"),
    # point_lookup literals: negative, decimal, quoted
    ("SELECT * FROM point_lookup('t', 'doc_id', -3)", "SELECT * FROM __point_lookup_#"),
    ("SELECT * FROM point_lookup('t', 'v', 1.5)", "SELECT * FROM __point_lookup_#"),
    ("SELECT * FROM point_lookup('t', 'kind', 'a')", "SELECT * FROM __point_lookup_#"),
    ("SELECT * FROM point_lookup('t', 'kind', '')", "SELECT * FROM __point_lookup_#"),
    ("SELECT * FROM point_lookup('w', 'kind', 'a')", "point_lookup: 'w' is not a topic"),
    ("SELECT * FROM point_lookup('nope', 'kind', 'a')",
     "point_lookup: 'nope' is not a topic"),
    # texts no function matches stay as they are
    ("SELECT * FROM psi_drift ('t', 'v', 'kind')",
     "SELECT * FROM psi_drift ('t', 'v', 'kind')"),
    ("SELECT * FROM q_psi_drift('t', 'v', 'kind')",
     "SELECT * FROM q_psi_drift('t', 'v', 'kind')"),
    ("SELECT * FROM psi_drift('t', 'v', 'kind', 4, 5)",
     "SELECT * FROM psi_drift('t', 'v', 'kind', 4, 5)"),
    ("SELECT * FROM psi_drift('t', 'v', 'kind', '4')",
     "SELECT * FROM psi_drift('t', 'v', 'kind', '4')"),
    ("SELECT * FROM chi2_drift('t', 'kind', 'txt', 4)",
     "SELECT * FROM chi2_drift('t', 'kind', 'txt', 4)"),
    ("SELECT * FROM psi_drift('', 'v', 'kind')",
     "SELECT * FROM psi_drift('', 'v', 'kind')"),
    ("SELECT * FROM near_dup_pairs('t', 'txt', 'doc_id', .5)",
     "SELECT * FROM near_dup_pairs('t', 'txt', 'doc_id', .5)"),
    ("SELECT * FROM page_hinkley('t', 'v', 'kind', -1)",
     "SELECT * FROM page_hinkley('t', 'v', 'kind', -1)"),
    ("SELECT * FROM point_lookup('t', 'doc_id', x)",
     "SELECT * FROM point_lookup('t', 'doc_id', x)"),
    ("SELECT * FROM ann_search('t', 'emb')", "SELECT * FROM ann_search('t', 'emb')"),
    # each validator's bound, and the unknown-table message
    ("SELECT * FROM psi_drift('t', 'v', 'kind', 0)", "bucket count must be >= 1, got 0"),
    ("SELECT * FROM js_divergence('t', 'v', 'kind', 0)",
     "bucket count must be >= 1, got 0"),
    ("SELECT * FROM trend_robust('t', 'v', 'kind', 'time', 0)",
     "bucket_days must be >= 1, got 0"),
    ("SELECT * FROM near_dup_pairs('t', 'txt', 'doc_id', 0)",
     "min_jaccard must be in (0, 1], got 0.0"),
    ("SELECT * FROM near_dup_pairs('t', 'txt', 'doc_id', 1.01)",
     "min_jaccard must be in (0, 1], got 1.01"),
    ("SELECT * FROM distinct_overlap('t', 'kind', 'txt', 1)", "k must be >= 2, got 1"),
    ("SELECT * FROM embedding_neardup('t', 'emb', 'doc_id', 'kind', 1.5)",
     "cosine threshold must be in (0, 1], got 1.5"),
    ("SELECT * FROM levene('nope', 'v', 'kind')", "levene: unknown table 'nope'"),
    ("SELECT * FROM near_dup_pairs('nope', 'txt', 'doc_id', 0)",
     "near_dup_pairs: unknown table 'nope'"),
    # functions run in a fixed order, whatever the text order: the
    # first function's error wins
    ("SELECT * FROM chi2_drift('nope', 'kind', 'txt') "
     "JOIN psi_drift('gone', 'v', 'kind')", "psi_drift: unknown table 'gone'"),
    ("SELECT * FROM embedding_neardup('t', 'emb', 'doc_id', 2) "
     "JOIN exact_dup_groups('nope', 'txt', 'doc_id')",
     "exact_dup_groups: unknown table 'nope'"),
]


@pytest.fixture(scope="module")
def tvf_db(spark, tmp_path_factory):
    """A three-row topic ``t`` and a view ``w`` over it."""
    db = Ella.create(str(tmp_path_factory.mktemp("tvf") / "db"), spark)
    t = db.create_topic(
        "t",
        [
            Column("kind", "string"),
            Column("v", "float64"),
            Column("txt", "string"),
            Column("doc_id", "int64"),
            Column("emb", "float64", row_shape=(2,)),
        ],
    )
    with t.publish() as pub:
        for i in range(3):
            pub.write((i + 1) * 1_000, "ab"[i % 2], float(i), f"doc {i}", i, [1.0, i])
    db.create_view("w", "SELECT * FROM t")
    return db


@pytest.mark.parametrize("sql,expected", _TVF_GOLDEN)
def test_tvf_rewrite_golden(tvf_db, sql, expected):
    """Which statements each SQL table function rewrites, into what
    text, and with which error it refuses bad arguments."""
    import re

    from pyspark.errors import AnalysisException

    try:
        text, frames = tvf_db._rewrite_reads(sql)
        got = text.format_map({k: f"__{k}" for k in frames}) if frames else text
    except ValueError as e:
        got = str(e)
    except AnalysisException as e:
        got = e.getCondition()
    assert re.sub(r"(__[a-z0-9_]+?_)\d+\b", r"\1#", got) == expected


# ── SQL statements: every verb Ella.query runs, golden ──────────────

#: (statement, params) run in order over the ``statement_db`` topics
#: ``g`` (k, v, s) and ``h`` (k); ``<tmp>`` is the test's directory
_STATEMENT_SCRIPT = [
    ("SELECT k, v, s FROM g ORDER BY time", None),
    ("SELECT count(*) AS n FROM g WHERE time < now()", None),
    ("SELECT k FROM g WHERE k >= :lo ORDER BY k", {"lo": 1}),
    ("SELECT k FROM g WHERE k = ? OR k = ? ORDER BY k", [0, 2]),
    ("SELECT count(*) AS n FROM point_lookup('g', 'k', 2)", None),
    ("INSERT INTO h SELECT 4000 AS time, 3 AS k", None),
    ("INSERT INTO h VALUES (5000, 4)", None),
    ("insert into h select :k AS k", {"k": 5}),
    ("INSERT INTO h SELECT 6000 AS time, ? AS k", [6]),
    ("INSERT INTO nope VALUES (1, 2)", None),
    ("SELECT k FROM h ORDER BY k", None),
    ("SELECT time FROM h WHERE k < 5 ORDER BY time", None),
    ("CREATE VIEW gv AS SELECT k, v * 2 AS v2 FROM g WHERE k < 2", None),
    ("SELECT * FROM gv ORDER BY k", None),
    ("CREATE VIEW gv AS SELECT 1 AS x", None),
    ("create or replace view gv as\n  select k from g where k < 1", None),
    ("SELECT * FROM gv", None),
    ("CREATE VIEW dv AS SELECT count(*) AS n FROM psi_drift('g', 'v', 's')", None),
    ("SELECT * FROM dv", None),
    ("DESCRIBE gv", None),
    ("DESC TABLE g", None),
    ("describe table nope", None),
    ("SHOW TABLES", None),
    ("SHOW TABLES", {"x": 1}),
    ("SHOW SCHEMAS", None),
    ("SHOW DATABASES", None),
    ("SHOW CATALOGS", None),
    ("CREATE SCHEMA aux", None),
    ("CREATE SCHEMA aux", None),
    ("CREATE SCHEMA IF NOT EXISTS aux", None),
    ("CREATE DATABASE aux2", None),
    ("CREATE CATALOG side", None),
    ("CREATE CATALOG side", None),
    ("CREATE CATALOG IF NOT EXISTS side", None),
    ("SHOW SCHEMAS", None),
    ("SHOW CATALOGS", None),
    ("CREATE TOPIC ct AS SELECT time, k, v FROM g WHERE k < 2", None),
    ("SELECT time, k, v FROM ct ORDER BY time", None),
    ("CREATE TOPIC IF NOT EXISTS ct AS SELECT time, k, v FROM g", None),
    ("CREATE TOPIC IF NOT EXISTS gv AS SELECT time FROM g", None),
    ("CREATE TOPIC bad AS SELECT k FROM g", None),
    ("CREATE TOPIC bad AS SELECT 'x' AS time", None),
    ("CREATE TOPIC cts AS SELECT TIMESTAMP '1970-01-01 00:00:01' AS time, 1 AS k", None),
    ("SELECT time, k FROM cts", None),
    ("CREATE TOPIC aux.s1 AS SELECT time, k FROM g", None),
    ("SELECT k FROM aux__s1 ORDER BY k", None),
    ("ALTER TABLE ct ADD COLUMN tag VARCHAR", None),
    ("ALTER TABLE ct ADD COLUMN n bigint", None),
    ("DESCRIBE ct", None),
    ("ALTER TABLE ct DROP COLUMN tag", None),
    ("SELECT * FROM ct ORDER BY time", None),
    ("ALTER TABLE nope ADD COLUMN x int", None),
    ("COPY (SELECT k FROM g WHERE k < 2) TO '<tmp>/c1'", None),
    ("COPY (SELECT k, s FROM g) TO '<tmp>/c2' (FORMAT CSV);", None),
    ("COPY (SELECT k FROM g) TO '<tmp>/c1'", None),
    ("CREATE EXTERNAL TABLE ext STORED AS PARQUET LOCATION '<tmp>/c1'", None),
    ("SELECT k FROM ext ORDER BY k", None),
    ("CREATE EXTERNAL TABLE IF NOT EXISTS ext STORED AS PARQUET LOCATION '<tmp>/c1'", None),
    ("CREATE EXTERNAL TABLE ext STORED AS PARQUET LOCATION '<tmp>/c1'", None),
    ("CREATE EXTERNAL TABLE extc STORED AS CSV WITH HEADER ROW LOCATION '<tmp>/c2';", None),
    ("DESCRIBE extc", None),
    ("SHOW CREATE TABLE ext", None),
    ("SHOW CREATE TABLE extc", None),
    ("SHOW CREATE TABLE g", None),
    ("SHOW CREATE TABLE gv", None),
    ("SHOW CREATE TABLE nope", None),
    ("CREATE MATERIALIZED VIEW mv AS SELECT k, sum(v) AS s FROM g GROUP BY k", None),
    (
        "CREATE OR REPLACE MATERIALIZED VIEW mv KEEP VERSIONS 2 AS "
        "SELECT k, count(*) AS n FROM g GROUP BY k",
        None,
    ),
    ("REFRESH MATERIALIZED VIEW mv", None),
    ("SELECT k, n FROM mv ORDER BY k", None),
    ("SELECT count(*) AS n FROM mv FOR VERSION AS OF 1", None),
    ("SHOW CREATE TABLE mv", None),
    ("REFRESH MATERIALIZED VIEW gv", None),
    ("EXPLAIN SELECT k FROM g WHERE k > 1", None),
    ("EXPLAIN ANALYZE SELECT k FROM g", None),
    ("ANALYZE g", None),
    ("ANALYZE g (k, s);", None),
    ("ANALYZE nope", None),
    ("VACUUM g", None),
    ("VACUUM", None),
    ("SELECT k FROM g ORDER BY k", None),
    ("SET spark.ella.golden = 'a b'", None),
    ("SET spark.ella.golden TO 7;", None),
    ("SELECT table_name, table_type FROM information_schema.tables ORDER BY 1", None),
    (
        "SELECT column_name, ordinal_position, is_nullable, data_type "
        "FROM information_schema.columns WHERE table_name = 'g' ORDER BY 2",
        None,
    ),
    ("DROP VIEW dv", None),
    ("DROP TABLE nope", None),
    ("DROP TABLE IF EXISTS nope", None),
    ("DROP VIEW IF EXISTS gv", None),
    ("DROP MATERIALIZED VIEW mv", None),
    ("DROP TABLE ext", None),
    ("SELECT k FROM ext", None),
    ("DROP SCHEMA aux", None),
    ("DROP SCHEMA aux CASCADE", None),
    ("DROP SCHEMA IF EXISTS aux", None),
    ("DROP SCHEMA aux", None),
    ("DROP DATABASE aux2", None),
    ("DROP CATALOG side CASCADE", None),
    ("DROP CATALOG IF EXISTS side", None),
    ("DROP CATALOG side", None),
    ("SHOW TABLES", None),
]

#: what each statement of _STATEMENT_SCRIPT did, in order (frame or
#: error, entries added or changed with their stored SQL, entries removed)
_STATEMENT_GOLDEN = [
    # SELECT k, v, s FROM g ORDER BY time
    [["struct<k:bigint,v:double,s:string>",
      [[0, 0.0, "a"], [1, 1.0, "b"], [2, 2.0, "a"]]],
     {}, []],
    # SELECT count(*) AS n FROM g WHERE time < now()
    [["struct<n:bigint>", [[3]]], {}, []],
    # SELECT k FROM g WHERE k >= :lo ORDER BY k
    [["struct<k:bigint>", [[1], [2]]], {}, []],
    # SELECT k FROM g WHERE k = ? OR k = ? ORDER BY k
    [["struct<k:bigint>", [[0], [2]]], {}, []],
    # SELECT count(*) AS n FROM point_lookup('g', 'k', 2)
    [["struct<n:bigint>", [[1]]], {}, []],
    # INSERT INTO h SELECT 4000 AS time, 3 AS k
    [["struct<count:bigint>", [[1]]], {}, []],
    # INSERT INTO h VALUES (5000, 4)
    [["struct<count:bigint>", [[1]]], {}, []],
    # insert into h select :k AS k
    [["struct<count:bigint>", [[1]]], {}, []],
    # INSERT INTO h SELECT 6000 AS time, ? AS k
    [["struct<count:bigint>", [[1]]], {}, []],
    # INSERT INTO nope VALUES (1, 2)
    [["ValueError", "table 'nope' does not exist"], {}, []],
    # SELECT k FROM h ORDER BY k
    [["struct<k:bigint>", [[3], [4], [5], [6]]], {}, []],
    # SELECT time FROM h WHERE k < 5 ORDER BY time
    [["struct<time:bigint>", [[4000], [5000]]], {}, []],
    # CREATE VIEW gv AS SELECT k, v * 2 AS v2 FROM g WHERE k < 2
    [["struct<ok:boolean>", []],
     {"ella.public.gv": "SELECT k, v * 2 AS v2 FROM g WHERE k < 2"}, []],
    # SELECT * FROM gv ORDER BY k
    [["struct<k:bigint,v2:double>", [[0, 0.0], [1, 2.0]]], {}, []],
    # CREATE VIEW gv AS SELECT 1 AS x
    [["ValueError", "table ella.public.gv already exists"], {}, []],
    # create or replace view gv as   select k from g where k < 1
    [["struct<ok:boolean>", []], {"ella.public.gv": "select k from g where k < 1"}, []],
    # SELECT * FROM gv
    [["struct<k:bigint>", [[0]]], {}, []],
    # CREATE VIEW dv AS SELECT count(*) AS n FROM psi_drift('g', 'v', 's')
    [["struct<ok:boolean>", []],
     {"ella.public.dv": "SELECT count(*) AS n FROM psi_drift('g', 'v', 's')"}, []],
    # SELECT * FROM dv
    [["struct<n:bigint>", [[2]]], {}, []],
    # DESCRIBE gv
    [["struct<col_name:string,data_type:string,nullable:boolean>",
      [["k", "bigint", True]]],
     {}, []],
    # DESC TABLE g
    [["struct<col_name:string,data_type:string,nullable:boolean>",
      [["time", "timestamp", False], ["k", "int64", True], ["v", "float64", True],
       ["s", "string", True]]],
     {}, []],
    # describe table nope
    [["ValueError", "table 'nope' does not exist"], {}, []],
    # SHOW TABLES
    [["struct<catalog:string,schema:string,name:string,kind:string>",
      [["ella", "public", "dv", "view"], ["ella", "public", "g", "topic"],
       ["ella", "public", "gv", "view"], ["ella", "public", "h", "topic"]]],
     {}, []],
    # SHOW TABLES
    [["ValueError", "params apply to relational statements, not DDL"], {}, []],
    # SHOW SCHEMAS
    [["struct<catalog:string,schema:string>", [["ella", "public"]]], {}, []],
    # SHOW DATABASES
    [["struct<catalog:string,schema:string>", [["ella", "public"]]], {}, []],
    # SHOW CATALOGS
    [["struct<catalog:string>", [["ella"]]], {}, []],
    # CREATE SCHEMA aux
    [["struct<ok:boolean>", []], {}, []],
    # CREATE SCHEMA aux
    [["ValueError", "schema ella.aux already exists"], {}, []],
    # CREATE SCHEMA IF NOT EXISTS aux
    [["struct<ok:boolean>", []], {}, []],
    # CREATE DATABASE aux2
    [["struct<ok:boolean>", []], {}, []],
    # CREATE CATALOG side
    [["struct<ok:boolean>", []], {}, []],
    # CREATE CATALOG side
    [["ValueError", "catalog 'side' already exists"], {}, []],
    # CREATE CATALOG IF NOT EXISTS side
    [["struct<ok:boolean>", []], {}, []],
    # SHOW SCHEMAS
    [["struct<catalog:string,schema:string>",
      [["ella", "aux"], ["ella", "aux2"], ["ella", "public"]]],
     {}, []],
    # SHOW CATALOGS
    [["struct<catalog:string>", [["ella"], ["side"]]], {}, []],
    # CREATE TOPIC ct AS SELECT time, k, v FROM g WHERE k < 2
    [["struct<count:bigint>", [[2]]], {"ella.public.ct": None}, []],
    # SELECT time, k, v FROM ct ORDER BY time
    [["struct<time:bigint,k:bigint,v:double>", [[1000, 0, 0.0], [2000, 1, 1.0]]], {},
     []],
    # CREATE TOPIC IF NOT EXISTS ct AS SELECT time, k, v FROM g
    [["struct<count:bigint>", [[0]]], {}, []],
    # CREATE TOPIC IF NOT EXISTS gv AS SELECT time FROM g
    [["ValueError", "cannot CREATE TOPIC 'gv': a view with that name already exists"],
     {}, []],
    # CREATE TOPIC bad AS SELECT k FROM g
    [["ValueError",
      "CREATE TOPIC ... AS SELECT requires the SELECT to produce an epoch-ns 'time' "
      "column (topics are time-indexed; add e.g. `unix_micros(now()) * 1000 AS time`)"],
     {}, []],
    # CREATE TOPIC bad AS SELECT 'x' AS time
    [["ValueError",
      "CTAS 'time' column must be integral epoch-ns or TIMESTAMP, got string"],
     {}, []],
    # CREATE TOPIC cts AS SELECT TIMESTAMP '1970-01-01 00:00:01' AS time, 1 AS k
    [["struct<count:bigint>", [[1]]], {"ella.public.cts": None}, []],
    # SELECT time, k FROM cts
    [["struct<time:bigint,k:int>", [[1000000000, 1]]], {}, []],
    # CREATE TOPIC aux.s1 AS SELECT time, k FROM g
    [["struct<count:bigint>", [[3]]], {"ella.aux.s1": None}, []],
    # SELECT k FROM aux__s1 ORDER BY k
    [["struct<k:bigint>", [[0], [1], [2]]], {}, []],
    # ALTER TABLE ct ADD COLUMN tag VARCHAR
    [["struct<ok:boolean>", []], {}, []],
    # ALTER TABLE ct ADD COLUMN n bigint
    [["struct<ok:boolean>", []], {}, []],
    # DESCRIBE ct
    [["struct<col_name:string,data_type:string,nullable:boolean>",
      [["time", "timestamp", False], ["k", "int64", True], ["v", "float64", True],
       ["tag", "string", True], ["n", "int64", True]]],
     {}, []],
    # ALTER TABLE ct DROP COLUMN tag
    [["struct<ok:boolean>", []], {}, []],
    # SELECT * FROM ct ORDER BY time
    [["struct<time:bigint,k:bigint,v:double,n:bigint>",
      [[1000, 0, 0.0, None], [2000, 1, 1.0, None]]],
     {}, []],
    # ALTER TABLE nope ADD COLUMN x int
    [["ValueError", "table 'nope' does not exist"], {}, []],
    # COPY (SELECT k FROM g WHERE k < 2) TO '<tmp>/c1'
    [["struct<count:bigint>", [[2]]], {}, []],
    # COPY (SELECT k, s FROM g) TO '<tmp>/c2' (FORMAT CSV);
    [["struct<count:bigint>", [[3]]], {}, []],
    # COPY (SELECT k FROM g) TO '<tmp>/c1'
    [["AnalysisException", "PATH_ALREADY_EXISTS"], {}, []],
    # CREATE EXTERNAL TABLE ext STORED AS PARQUET LOCATION '<tmp>/c1'
    [["struct<ok:boolean>", []], {"ella.public.ext": None}, []],
    # SELECT k FROM ext ORDER BY k
    [["struct<k:bigint>", [[0], [1]]], {}, []],
    # CREATE EXTERNAL TABLE IF NOT EXISTS ext STORED AS PARQUET LOCATION '<tm...
    [["struct<ok:boolean>", []], {}, []],
    # CREATE EXTERNAL TABLE ext STORED AS PARQUET LOCATION '<tmp>/c1'
    [["ValueError", "table 'ext' already exists"], {}, []],
    # CREATE EXTERNAL TABLE extc STORED AS CSV WITH HEADER ROW LOCATION '<tmp...
    [["struct<ok:boolean>", []], {"ella.public.extc": None}, []],
    # DESCRIBE extc
    [["struct<col_name:string,data_type:string,nullable:boolean>",
      [["k", "int", True], ["s", "string", True]]],
     {}, []],
    # SHOW CREATE TABLE ext
    [["struct<ddl:string>",
      [["CREATE EXTERNAL TABLE ext STORED AS PARQUET LOCATION '<tmp>/c1'"]]],
     {}, []],
    # SHOW CREATE TABLE extc
    [["struct<ddl:string>",
      [["CREATE EXTERNAL TABLE extc STORED AS CSV WITH HEADER ROW LOCATION "
        "'<tmp>/c2'"]]],
     {}, []],
    # SHOW CREATE TABLE g
    [["struct<ddl:string>",
      [["CREATE TOPIC g (time timestamp NOT NULL, k int64, v float64, s string)"]]],
     {}, []],
    # SHOW CREATE TABLE gv
    [["struct<ddl:string>", [["CREATE VIEW gv AS select k from g where k < 1"]]], {},
     []],
    # SHOW CREATE TABLE nope
    [["ValueError", "unknown table 'nope'"], {}, []],
    # CREATE MATERIALIZED VIEW mv AS SELECT k, sum(v) AS s FROM g GROUP BY k
    [["struct<count:bigint>", [[3]]],
     {"ella.public.mv": "SELECT k, sum(v) AS s FROM g GROUP BY k"}, []],
    # CREATE OR REPLACE MATERIALIZED VIEW mv KEEP VERSIONS 2 AS SELECT k, cou...
    [["struct<count:bigint>", [[3]]],
     {"ella.public.mv": "SELECT k, count(*) AS n FROM g GROUP BY k"}, []],
    # REFRESH MATERIALIZED VIEW mv
    [["struct<count:bigint>", [[3]]], {}, []],
    # SELECT k, n FROM mv ORDER BY k
    [["struct<k:bigint,n:bigint>", [[0, 1], [1, 1], [2, 1]]], {}, []],
    # SELECT count(*) AS n FROM mv FOR VERSION AS OF 1
    [["struct<n:bigint>", [[3]]], {}, []],
    # SHOW CREATE TABLE mv
    [["struct<ddl:string>",
      [["CREATE MATERIALIZED VIEW mv AS SELECT k, count(*) AS n FROM g GROUP BY k"]]],
     {}, []],
    # REFRESH MATERIALIZED VIEW gv
    [["ValueError", "'gv' is a view, expected materialized_view"], {}, []],
    # EXPLAIN SELECT k FROM g WHERE k > 1
    [["struct<plan_type:string,plan:string>",
      [["logical_plan", True], ["physical_plan", True]]],
     {}, []],
    # EXPLAIN ANALYZE SELECT k FROM g
    [["struct<plan_type:string,plan:string>",
      [["logical_plan", True], ["row_count", "3"], ["plan_with_metrics", True],
       ["physical_plan", True]]],
     {}, []],
    # ANALYZE g
    [["struct<count:bigint>", [[1]]], {}, []],
    # ANALYZE g (k, s);
    [["struct<count:bigint>", [[0]]], {}, []],
    # ANALYZE nope
    [["ValueError", "table 'nope' does not exist"], {}, []],
    # VACUUM g
    [["struct<report:string>", [["compacted", "manifest_entries"]]], {}, []],
    # VACUUM
    [["struct<report:string>",
      [["cleaned", "compacted", "errors", "expired", "manifest_entries"]]],
     {}, []],
    # SELECT k FROM g ORDER BY k
    [["struct<k:bigint>", [[0], [1], [2]]], {}, []],
    # SET spark.ella.golden = 'a b'
    [["struct<ok:boolean>", []], {}, []],
    # SET spark.ella.golden TO 7;
    [["struct<ok:boolean>", []], {}, []],
    # SELECT table_name, table_type FROM information_schema.tables ORDER BY 1
    [["struct<table_name:string,table_type:string>",
      [["ct", "BASE TABLE"], ["cts", "BASE TABLE"], ["dv", "VIEW"],
       ["ext", "BASE TABLE"], ["extc", "BASE TABLE"], ["g", "BASE TABLE"],
       ["gv", "VIEW"], ["h", "BASE TABLE"], ["mv", "VIEW"], ["s1", "BASE TABLE"]]],
     {}, []],
    # SELECT column_name, ordinal_position, is_nullable, data_type FROM infor...
    [[
      "struct<column_name:string,ordinal_position:int,is_nullable:string,"
      "data_type:string>",
      [["time", 1, "NO", "timestamp"], ["k", 2, "YES", "int64"],
       ["v", 3, "YES", "float64"], ["s", 4, "YES", "string"]]],
     {}, []],
    # DROP VIEW dv
    [["struct<ok:boolean>", []], {}, ["ella.public.dv"]],
    # DROP TABLE nope
    [["ValueError", "table 'nope' does not exist"], {}, []],
    # DROP TABLE IF EXISTS nope
    [["struct<ok:boolean>", []], {}, []],
    # DROP VIEW IF EXISTS gv
    [["struct<ok:boolean>", []], {}, ["ella.public.gv"]],
    # DROP MATERIALIZED VIEW mv
    [["struct<ok:boolean>", []], {}, ["ella.public.mv"]],
    # DROP TABLE ext
    [["struct<ok:boolean>", []], {}, ["ella.public.ext"]],
    # SELECT k FROM ext
    [["AnalysisException", "TABLE_OR_VIEW_NOT_FOUND"], {}, []],
    # DROP SCHEMA aux
    [["ValueError",
      "schema ella.aux is not empty (1 tables); use DROP SCHEMA ... CASCADE"],
     {}, []],
    # DROP SCHEMA aux CASCADE
    [["struct<ok:boolean>", []], {}, ["ella.aux.s1"]],
    # DROP SCHEMA IF EXISTS aux
    [["struct<ok:boolean>", []], {}, []],
    # DROP SCHEMA aux
    [["ValueError", "schema ella.aux does not exist"], {}, []],
    # DROP DATABASE aux2
    [["struct<ok:boolean>", []], {}, []],
    # DROP CATALOG side CASCADE
    [["struct<ok:boolean>", []], {}, []],
    # DROP CATALOG IF EXISTS side
    [["struct<ok:boolean>", []], {}, []],
    # DROP CATALOG side
    [["ValueError", "catalog 'side' does not exist"], {}, []],
    # SHOW TABLES
    [["struct<catalog:string,schema:string,name:string,kind:string>",
      [["ella", "public", "ct", "topic"], ["ella", "public", "cts", "topic"],
       ["ella", "public", "extc", "external"], ["ella", "public", "g", "topic"],
       ["ella", "public", "h", "topic"]]],
     {}, []],
]


def _observe_statement(db, sql, params, tmp):
    """What one statement did: its frame (schema and rows) or its error
    (type and message, or Spark's error condition), the catalog entries
    it added or changed (with their stored SQL) and the ones it removed."""
    import json

    before = {".".join(e.ident): e.sql for e in db.store.tables.values()}
    try:
        df = db.query(sql.replace("<tmp>", tmp), params).df
        rows = [tuple(r) for r in df.collect()]
        if df.columns == ["plan_type", "plan"]:
            rows = [(t, p if t == "row_count" else bool(p)) for t, p in rows]
        elif df.columns == ["report"]:
            rows = [tuple(sorted(json.loads(r))) for (r,) in rows]
        out = (df.schema.simpleString(), rows)
    except Exception as e:  # noqa: BLE001 — the error is the outcome
        cond = getattr(e, "getCondition", None)
        out = (type(e).__name__, cond() if cond else str(e))
    after = {".".join(e.ident): e.sql for e in db.store.tables.values()}
    changed = {k: v for k, v in after.items() if before.get(k, "-") != v}
    out = [out, changed, sorted(before.keys() - after.keys())]
    return json.loads(json.dumps(out).replace(tmp, "<tmp>"))


@pytest.fixture()
def statement_db(db):
    g = db.create_topic(
        "g", [Column("k", "int64"), Column("v", "float64"), Column("s", "string")]
    )
    with g.publish() as pub:
        for i in range(3):
            pub.write((i + 1) * 1_000, i, float(i), "ab"[i % 2])
    db.create_topic("h", [Column("k", "int64")])
    return db


def test_statement_golden(statement_db, tmp_path):
    """Every verb Ella.query runs, in one sequence: its frame or error,
    and the catalog entries it added, changed or removed."""
    tmp = str(tmp_path)
    for (sql, params), expected in zip(
        _STATEMENT_SCRIPT, _STATEMENT_GOLDEN, strict=True
    ):
        assert _observe_statement(statement_db, sql, params, tmp) == expected, sql


def test_statement_results_start_no_job(statement_db, spark):
    """A statement's result frame holds rows the driver already has:
    collecting it starts no Spark job, with Arrow for pandas on or off."""
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(arrow)
    try:
        for enabled in ("true", "false"):
            statement_db.query(f"SET {arrow} = {enabled}")
            for sql in [
                "INSERT INTO h VALUES (7000, 7)",
                "CREATE VIEW jv AS SELECT k FROM g",
                "SHOW TABLES",
                "DESCRIBE g",
                "SHOW CREATE TABLE g",
                "CREATE OR REPLACE MATERIALIZED VIEW jm AS SELECT k FROM g",
                "REFRESH MATERIALIZED VIEW jm",
                "DROP VIEW jv",
                "SET spark.ella.no_job = 1",
                "SELECT table_name FROM information_schema.tables",
            ]:
                df = statement_db.query(sql).df
                _, jobs = _with_jobs(spark, df.collect)
                assert jobs == 0, (enabled, sql)
    finally:
        spark.conf.set(arrow, before)
        spark.conf.unset("spark.ella.no_job")


def test_drop_with_params_drops_nothing(db):
    db.create_topic("u", [Column("k", "int64")])
    with pytest.raises(ValueError, match="params apply to relational statements"):
        db.query("DROP TABLE u", params={"x": 1})
    assert "ella.public.u" in db.tables()


def test_create_view_with_params_stores_nothing(statement_db):
    with pytest.raises(ValueError, match="params apply to relational statements"):
        statement_db.query(
            "CREATE VIEW vp AS SELECT k FROM g WHERE v > :x", params={"x": 1}
        )
    assert "ella.public.vp" not in statement_db.tables()


def test_view_over_information_schema_reopens(statement_db, spark, tmp_path):
    sql = "SELECT table_name FROM information_schema.tables"
    statement_db.query(f"CREATE VIEW vi AS {sql}")
    assert statement_db.store.resolve("vi").sql == sql
    reopened = Ella.open(str(tmp_path / "db"), spark.newSession())
    rows = reopened.query("SELECT table_name FROM vi ORDER BY 1").df.collect()
    assert [r.table_name for r in rows] == ["g", "h", "vi"]


@pytest.mark.parametrize(
    "sql,params,row_count",
    [
        ("EXPLAIN SELECT * FROM point_lookup('g', 'k', 2)", None, None),
        ("EXPLAIN SELECT * FROM psi_drift('g', 'v', 's')", None, None),
        ("EXPLAIN SELECT k FROM g WHERE k > :x", {"x": 0}, None),
        ("EXPLAIN ANALYZE SELECT k FROM g WHERE k > :x", {"x": 0}, "2"),
        ("EXPLAIN ANALYZE SELECT k FROM g WHERE k = ?", [2], "1"),
    ],
)
def test_explain_rewrites_and_binds(statement_db, sql, params, row_count):
    """EXPLAIN's query goes through the table-function rewrite and binds
    the statement's params, like the SELECT it explains."""
    rows = statement_db.query(sql, params).df.collect()
    kinds = [r.plan_type for r in rows]
    assert kinds[0] == "logical_plan" and kinds[-1] == "physical_plan"
    assert all(r.plan for r in rows)
    if row_count is not None:
        assert dict(rows)["row_count"] == row_count


# ── frame reuse: rebuild only what changed since the last statement ──


def test_set_survives_a_topic_read(db, spark):
    """Session confs are applied once per session, so a user's `SET`
    is not undone by the next read."""
    with db.create_topic("st", [Column("v", "float64")]).publish() as pub:
        pub.write(1_000, 1.0)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        db.query("SET spark.sql.shuffle.partitions = 7")
        db.query("SET spark.sql.adaptive.enabled = false")
        assert db.query("SELECT count(*) AS n FROM st").df.collect()[0].n == 1
        assert db.topic("st").read(spark).count() == 1
        assert spark.conf.get(keys[0]) == "7"
        assert spark.conf.get(keys[1]) == "false"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_point_lookup_reads_its_topic_once(db, monkeypatch):
    """`point_lookup`'s table argument registers nothing: the one read
    of its topic is the operator's own, pruned by the probe."""
    from ella_spark.topic import Topic

    with db.create_topic("pk", [Column("k", "int64")]).publish() as pub:
        pub.write(1_000, 1)
        pub.write(2_000, 2)
    calls: list = []
    orig = Topic.read

    def spying(self, spark, *a, **kw):
        calls.append((self.entry.name, a, kw))
        return orig(self, spark, *a, **kw)

    monkeypatch.setattr(Topic, "read", spying)
    rows = db.query("SELECT k FROM point_lookup('pk', 'k', 1)").df.collect()
    assert [r.k for r in rows] == [1]
    assert calls == [("pk", (), {"col_eq": {"k": 1}})]


def test_build_manifest_leaves_the_shared_manifest_parse_alone(db, monkeypatch):
    """`Topic.manifest()` hands out one parse per manifest file; a
    bloom pass over a parquet manifest (which build_manifest starts
    from that parse) replaces its entries instead of changing them."""
    import copy

    import ella_spark.maintenance as mnt

    monkeypatch.setattr(mnt, "MANIFEST_PARQUET_THRESHOLD", 0)
    t = db.create_topic("bm", [Column("k", "int64")])
    for i in range(3):
        with t.publish() as pub:
            pub.write(i * 1_000, i)
    mnt.build_manifest(t)
    shared = t.manifest()
    kept = copy.deepcopy(shared)
    mnt.build_manifest(t, bloom_cols=["k"])
    assert shared == kept and not any(e["b"] for e in shared.values())
    assert all(e["b"].keys() == {"k"} for e in t.manifest().values())


def test_unchanged_inputs_reuse_their_frames(db, monkeypatch):
    """Two identical statements over an unchanged topic get the same
    frame from `Topic.read`, and a table-function view over a view of
    it is not rebuilt; a publish rebuilds both."""
    import ella_spark.operators.drift as drift
    from ella_spark.topic import Topic

    cols = [Column("v", "float64"), Column("kind", "string")]
    t = db.create_topic("ru", cols)
    with t.publish() as pub:
        pub.write(1_000, 1.0, "a")
        pub.write(2_000, 2.0, "b")
    db.create_view("ru_base", "SELECT * FROM ru")
    db.create_view("ru_drift", "SELECT * FROM psi_drift('ru_base', 'v', 'kind')")
    frames: list = []
    builds: list = []
    orig_read, orig_psi = Topic.read, drift.psi_by_slice

    def reading(self, *a, **kw):
        frames.append(orig_read(self, *a, **kw))
        return frames[-1]

    def building(*a, **kw):
        builds.append(1)
        return orig_psi(*a, **kw)

    monkeypatch.setattr(Topic, "read", reading)
    monkeypatch.setattr(drift, "psi_by_slice", building)

    def run(sql):
        return sorted(tuple(r) for r in db.query(sql).df.collect())

    assert run("SELECT sum(v) AS s FROM ru") == run("SELECT sum(v) AS s FROM ru")
    assert len(frames) == 2 and frames[0] is frames[1]

    first = run("SELECT kind, n FROM ru_drift")
    assert run("SELECT kind, n FROM ru_drift") == first == [("a", 1), ("b", 1)]
    assert frames[2] is frames[3] is frames[0]
    assert len(builds) == 1

    with t.publish() as pub:
        pub.write(3_000, 3.0, "a")
    assert run("SELECT kind, n FROM ru_drift") == [("a", 2), ("b", 1)]
    assert frames[4] is not frames[0]
    assert len(builds) == 2

    # where a checkpoint block may die with its executor (a master
    # other than local), a table-function view is rebuilt every time
    db._checkpoints_outlive_frames = False
    run("SELECT kind, n FROM ru_drift")
    run("SELECT kind, n FROM ru_drift")
    assert len(builds) == 4


def _rows(db, sql):
    """Sorted rows of ``sql``, floats to 9 significant digits."""
    return sorted(
        (
            tuple(float(f"{x:.9g}") if isinstance(x, float) else x for x in r)
            for r in db.query(sql).df.collect()
        ),
        key=repr,
    )


def test_reads_after_each_change_match_a_fresh_session(db, spark, tmp_path):
    """Read, change, read again: after every kind of change the second
    read equals the same statement on a new `Ella` over a new session,
    which has reused nothing."""
    from ella_spark.maintenance import build_manifest
    from ella_spark.session import configure
    from ella_spark.topic import DAY_NS as D

    root = str(tmp_path / "db")
    cols = [Column("k", "int64"), Column("v", "float64"), Column("kind", "string")]

    def make_topic():
        t = db.create_topic("dt", cols)
        with t.publish() as pub:
            for d in range(3):
                pub.write_batch(
                    [(d * D + i, i % 4, float(i + d), "ab"[i % 2]) for i in range(6)]
                )
                pub.flush()

    make_topic()
    db.create_view("dt_agg", "SELECT kind, count(*) AS n, sum(v) AS s FROM dt GROUP BY kind")
    db.create_view("dt_base", "SELECT * FROM dt")
    db.create_view("dt_drift", "SELECT * FROM psi_drift('dt_base', 'v', 'kind')")
    # the session time zone and ANSI mode (size of NULL) fix what
    # this view returns when its frame is analyzed
    db.create_view(
        "dt_conf",
        "SELECT k, CAST(timestamp_micros(time DIV 1000) AS STRING) AS ts, "
        "size(CASE WHEN kind = 'a' THEN array(k) END) AS n FROM dt",
    )
    db.create_materialized_view(
        "dt_mv", "SELECT k, count(*) AS n, sum(v) AS s FROM dt GROUP BY k"
    )
    statements = [
        "SELECT * FROM dt",
        f"SELECT k, v FROM dt WHERE time >= {D} AND time < {2 * D}",
        "SELECT kind, n, s FROM dt_agg",
        "SELECT kind, n, psi FROM dt_drift",
        "SELECT k, v FROM point_lookup('dt', 'k', 3)",
        "SELECT k, n, s FROM dt_mv",
        "SELECT k, ts, n FROM dt_conf",
        "SELECT kind, n, psi FROM psi_drift('dt', 'v', 'kind')",
    ]
    confs: dict[str, str] = {}

    def set_conf(key, value):
        db.query(f"SET {key} = {value}")
        confs[key] = value

    def publish(rows):
        with db.topic("dt").publish() as pub:
            pub.write_batch(rows)

    def flushed():
        pub = db.topic("dt").publish(capacity=100)
        pub.write(D + 500, 3, 50.0, "a")
        pub.flush()
        pub.close()

    def second_writer():
        # another Ella on the same root and session (the `maintain`
        # CLI shape): its open re-registers every name
        other = Ella.open(root, spark)
        with other.topic("dt").publish() as pub:
            pub.write(2 * D + 700, 3, 70.0, "b", 0.5)
        compact_topic(other.topic("dt"), min_shards=2)
        build_manifest(other.topic("dt"), bloom_cols=["k"])

    def recreate():
        db.query("DROP TABLE dt")
        db.create_topic("dt", cols)
        publish([(D + 1, 3, 9.0, "b"), (D + 2, 5, 1.0, "a")])

    changes = [
        ("publish + flush", True, flushed),
        ("distributed insert", True, lambda: db.query(
            f"INSERT INTO dt SELECT {D} + id AS time, id % 4 AS k, "
            "CAST(id AS double) AS v, 'b' AS kind FROM range(5)"
        )),
        ("compact_topic", False, lambda: compact_topic(db.topic("dt"), min_shards=2)),
        ("build_manifest", False, lambda: build_manifest(db.topic("dt"), bloom_cols=["k"])),
        ("publish after the manifest", True, lambda: publish([(D + 9, 3, 3.0, "a")])),
        ("incremental MV refresh", True, lambda: db.refresh_materialized("dt_mv")),
        ("ALTER ADD COLUMN", True, lambda: db.query("ALTER TABLE dt ADD COLUMN w double")),
        ("full MV refresh", True, lambda: (
            publish([(D + 10, 3, 4.0, None, 1.5)]),
            db.refresh_materialized("dt_mv", incremental=False),
        )),
        ("SET the session time zone", True, lambda: set_conf(
            "spark.sql.session.timeZone", "America/Los_Angeles"
        )),
        ("SET spark.sql.ansi.enabled", True, lambda: set_conf(
            "spark.sql.ansi.enabled",
            "false" if spark.conf.get("spark.sql.ansi.enabled") == "true" else "true",
        )),
        ("second Ella writing", True, second_writer),
        ("drop + re-create", True, recreate),
    ]
    old = {k: spark.conf.get(k) for k in ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")}
    before = [_rows(db, sql) for sql in statements]
    try:
        for name, changes_rows, change in changes:
            change()
            after = [_rows(db, sql) for sql in statements]
            session = configure(spark.newSession())
            for k, v in confs.items():
                session.conf.set(k, v)
            fresh = Ella.open(root, session)
            assert after == [_rows(fresh, sql) for sql in statements], name
            assert (after != before) == changes_rows, name
            before = after
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_concurrent_reads_share_the_frame_memo(db, spark):
    """Threads reading one topic over more windows than the memo keeps
    (so entries are evicted while others are reused) all get a frame of
    their own window, and the memo stays bounded."""
    import sys
    import threading

    from ella_spark.topic import _FRAME_CAP, _session_frames

    t = db.create_topic("cr", [Column("v", "int64")])
    with t.publish() as pub:
        for i in range(16):
            pub.write(i * 1_000, i)
    windows = [(i * 1_000, (i + 4) * 1_000) for i in range(_FRAME_CAP + 4)]
    got: list = []
    errors: list = []

    def reader(k: int) -> None:
        try:
            for j in range(24):
                w = windows[(k + j) % len(windows)]
                got.append((w, t.read(spark, *w)))
        except Exception as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(got) == 8 * 24
    assert len(_session_frames(spark)[str(t.path)][1]) <= _FRAME_CAP
    for w, df in dict(got).items():  # the last frame of each window
        assert df.count() == 4, w


def _with_jobs(spark, run):
    """``(run(), the number of Spark jobs it started)``."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(list(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, jobs


def test_kept_table_function_views_run_one_job(db, spark, monkeypatch):
    """A table-function view's result is computed once per input
    version: the read that builds it runs no more Spark jobs than a read
    that keeps nothing, each later read scans its checkpoint in one job,
    and a publish rebuilds it once, with the new rows. Where checkpoints
    may not outlive frames, every read rebuilds."""
    import ella_spark.operators.drift as drift

    t = db.create_topic("jc", [Column("v", "float64"), Column("kind", "string")])
    with t.publish() as pub:
        for i in range(12):
            pub.write(i * 1_000, float(i % 5), "ab"[i % 2])
    db.create_view("jc_base", "SELECT * FROM jc")
    db.create_view("jc_drift", "SELECT * FROM psi_drift('jc_base', 'v', 'kind')")
    builds: list = []
    orig_psi = drift.psi_by_slice

    def building(*a, **kw):
        builds.append(1)
        return orig_psi(*a, **kw)

    monkeypatch.setattr(drift, "psi_by_slice", building)

    def read():
        return _with_jobs(
            spark,
            lambda: sorted(
                (r.kind, r.n)
                for r in db.query("SELECT kind, n FROM jc_drift").df.collect()
            ),
        )

    db._checkpoints_outlive_frames = False
    (rows, jobs), again = read(), read()
    assert len(builds) == 2 and again == (rows, jobs)

    db._checkpoints_outlive_frames = True
    builds.clear()
    first, second, third = read(), read(), read()
    assert len(builds) == 1
    assert first[0] == second[0] == third[0] == rows
    assert first[1] <= jobs and second[1] == third[1] == 1

    with t.publish() as pub:
        pub.write(100_000, 9.0, "a")
    builds.clear()
    after, later = read(), read()
    assert len(builds) == 1
    assert after[0] == later[0] == [("a", 7), ("b", 6)]
    assert after[1] <= jobs and later[1] == 1


def test_concurrent_reads_of_kept_table_function_views(db, spark):
    """Threads reading table-function views (kept, and rebuilt after
    each publish) and a direct call while another thread publishes
    each get the rows of a version they could have bound, never older
    than one they read before."""
    import sys
    import threading
    import time

    t = db.create_topic("cc", [Column("v", "float64"), Column("kind", "string")])
    with t.publish() as pub:
        for i in range(8):
            pub.write(i * 1_000, float(i), "ab"[i % 2])
    db.create_view("cc_base", "SELECT * FROM cc")
    db.create_view("cc_drift", "SELECT * FROM psi_drift('cc_base', 'v', 'kind')")
    db.create_view("cc_drift4", "SELECT * FROM psi_drift('cc', 'v', 'kind', 4)")
    statements = [
        "SELECT kind, n FROM cc_drift",
        "SELECT kind, n FROM cc_drift4",
        "SELECT kind, n FROM psi_drift('cc', 'v', 'kind')",
    ]
    publishes = 4
    errors: list = []
    got: list = []

    def reader(k: int) -> None:
        seen = 0
        try:
            for j in range(8):
                sql = statements[(k + j) % len(statements)]
                n = dict(tuple(r) for r in db.query(sql).df.collect())
                # version i holds 4 + i rows of kind a and 4 of kind b
                version = n["a"] - 4
                assert n["b"] == 4 and 0 <= version <= publishes, (sql, n)
                assert version >= seen, (sql, version, seen)
                seen = version
                got.append(version)
        except Exception as e:  # reported below
            errors.append(e)

    def publisher() -> None:
        deadline = time.monotonic() + 240
        try:
            for i in range(publishes):
                # publish between reads: some views are kept at each version
                while len(got) < 6 * (i + 1) and not errors and time.monotonic() < deadline:
                    time.sleep(0.005)
                with t.publish() as pub:
                    pub.write((100 + i) * 1_000, 1.0, "a")
        except Exception as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(4)]
        threads.append(threading.Thread(target=publisher))
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(got) == 4 * 8
    for sql in statements:
        n = dict(tuple(r) for r in db.query(sql).df.collect())
        assert n == {"a": 4 + publishes, "b": 4}, sql
