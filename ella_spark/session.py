"""SparkSession construction and configuration for ella_spark.

The reference engine builds one DataFusion ``SessionState`` per
datastore (ella-engine/src/engine/state.rs:115-133). Here the analog
is a configured SparkSession. Unlike the reference — which pins
everything to a single partition and disables repartitioning
(state.rs:128-130) — we deliberately enable Spark's distributed
machinery (AQE, shuffle partitioning, broadcast joins): that is the
whole point of the rebuild.
"""

from __future__ import annotations

import functools
import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

# Configs that must be set for correctness (not just performance).
REQUIRED_CONFS = {
    # The reference stores time as nanosecond timestamps
    # (ella-common/src/time.rs:28-45). Spark's TimestampType is µs;
    # reading parquet TIMESTAMP(NANOS) columns as LongType (epoch ns)
    # is lossless and orderable (SURVEY.md §1.4).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics for the duckdb oracle.
    "spark.sql.session.timeZone": "UTC",
    # Compaction unlinks merged-away shards; a batch scan whose file
    # index listed them moments earlier must skip, not fail, on the
    # vanished files (compact_topic's reader contract).
    "spark.sql.files.ignoreMissingFiles": "true",
}

# Performance configs — tuned for local[N] testing but chosen so the
# same plan shape scales to a large cluster (AQE re-plans at runtime).
PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # At 100 TB these would be sized per-cluster; on local[32] against
    # sf<=0.1 a modest shuffle fan-out avoids tiny-task overhead while
    # AQE coalesces further.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Spark's default 10MB: fact tables must never auto-broadcast (at
    # sf0.1 lineitem is 10.5MB and a 64MB threshold made Spark
    # broadcast-build the FACT side of q3/q5 — slow locally, and the
    # wrong plan shape to be validating for scale). True dimension
    # tables are broadcast explicitly (sources.BROADCAST_TABLES).
    "spark.sql.autoBroadcastJoinThreshold": "10MB",
    "spark.sql.files.maxPartitionBytes": "128MB",
    # A file index over more root paths than this lists them with a
    # Spark job. Topic reads pass explicit shard lists (manifest-pruned
    # time windows, incremental MV deltas) of any length, where a
    # listing job per statement can cost more than the query it
    # serves: list on the driver at every path count.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
}


#: guards each session's conf snapshot (conf_version)
_CONF_LOCK = threading.Lock()


@functools.lru_cache(maxsize=None)
def _struct(ddl: str) -> StructType:
    # a schema string parses over py4j: once per text, not per frame
    return _parse_datatype_string(ddl)


def local_frame(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """A driver-local frame of ``rows`` (tuples in field order) typed
    by ``schema`` (a struct or a DDL string, fields nullable). It is
    built from an Arrow table, so Spark holds it as a local relation:
    collecting it runs no Spark job, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says (that conf
    guards pandas input only), and under Spark Connect it is a plain
    ``LocalRelation``. ``createDataFrame`` over a Python list instead
    parallelizes an RDD, and every action on it runs a job on Python
    workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _struct(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def conf_version(spark: SparkSession) -> int | None:
    """A number that changes whenever a SQL conf of ``spark`` changes
    (``SET``, ``RESET``, ``spark.conf.set``). A classic DataFrame fixes
    conf-dependent semantics when it is analyzed (ANSI casts and
    overflow, the session time zone), so a frame kept for reuse is kept
    per this number. One JVM call: the session's conf map is compared
    with a copy taken when the number last changed. None under Spark
    Connect, whose server analyzes a plan again at every action."""
    jss = getattr(spark, "_jsparkSession", None)
    if jss is None:
        return None
    with _CONF_LOCK:
        state = getattr(spark, "_ella_conf_state", None)
        if state is None:
            settings = jss.sessionState().conf().settings()
            state = spark._ella_conf_state = [settings, None, -1]
        if state[1] is None or not state[0].equals(state[1]):
            state[1] = spark._jvm.java.util.HashMap(state[0])
            state[2] += 1
        return state[2]


def configure(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally-provided session.

    The verify driver hands us its own SparkSession; these are all
    runtime-settable SQL confs. Also ships the ella_spark package to
    executor Python workers (addPyFile) so Pandas-UDF / mapInPandas
    closures that reference this module deserialize on workers even
    when the application was launched outside the repo directory.

    Runs once per session, which is then marked the way
    ``_ship_package`` marks its context: every read calls this, and
    re-applying the confs each time would undo a user's later ``SET``
    (and cost a JVM round trip per conf).
    """
    if getattr(spark, "_ella_spark_configured", False):
        return spark
    for k, v in {**REQUIRED_CONFS, **PERF_CONFS}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static confs on a running session — ignore; defaults are
            # acceptable for everything except REQUIRED_CONFS, which
            # are all runtime-settable.
            pass
    _ship_package(spark)
    spark._ella_spark_configured = True
    return spark


def _ship_package(spark: SparkSession) -> None:
    sc = getattr(spark, "sparkContext", None)
    if sc is None:  # Spark Connect session: workers resolve via artifacts
        return
    if getattr(sc, "_ella_spark_shipped", False):
        return
    try:
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            tempfile.gettempdir(), f"ella_spark_pkg_{os.getpid()}.zip"
        )
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as zf:
                for base, _dirs, files in os.walk(pkg_dir):
                    for fn in files:
                        if not fn.endswith(".py"):
                            continue
                        full = os.path.join(base, fn)
                        rel = os.path.join(
                            "ella_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        sc.addPyFile(zip_path)
        sc._ella_spark_shipped = True
    except Exception:
        # Non-fatal: JVM-only plans never need it; worker-side imports
        # still work when the app itself runs from the repo directory.
        pass


def default_driver_memory() -> str:
    """Driver heap for local mode, where every task thread shares it:
    half the host's physical memory, capped at 16g (enough to keep GC
    pauses out of query timings) and at least 1g. A fixed 16g would
    exceed the RAM of a small host. ``$SPARK_GRAFT_DRIVER_MEM``
    overrides it."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


def get_session(app_name: str = "ella_spark", master: str | None = None) -> SparkSession:
    """Build (or get) a SparkSession with ella_spark defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in {**REQUIRED_CONFS, **PERF_CONFS}.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.ui.enabled", "false")
    # PySpark's DataFrame debugging captures the Python call site of
    # every F.*/DataFrame call for error contexts: about half the py4j
    # round trips of building a statement. It is a static conf, so it
    # is set here, never on a session a caller hands in. Without it an
    # error's DataFrame context names the JVM frame, not file:line
    builder = builder.config("spark.python.sql.dataFrameDebugging.enabled", "false")
    # managed-table warehouse (bucketed layouts) outside the repo tree
    builder = builder.config(
        "spark.sql.warehouse.dir",
        os.environ.get(
            "SPARK_GRAFT_WAREHOUSE",
            os.path.join(tempfile.gettempdir(), "ella_spark_warehouse"),
        ),
    )
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
    )
    spark = builder.getOrCreate()
    return configure(spark)
