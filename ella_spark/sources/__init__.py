"""Table loading for the driver-provided test datasets.

Mirrors the reference's scan layer (ella-engine/src/table/topic/shard.rs:310-379):
there the TableProvider builds a ParquetExec with pushed-down
predicates/projection; here ``spark.read.parquet`` + Catalyst do the
same pushdown natively (PushedFilters / ReadSchema in .explain).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ella_spark.session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Constant-size dimension tables (5 regions / 25 nations at ANY scale
# factor): safe to force-broadcast. Everything else — including
# customer/supplier/part — grows with SF, so those joins rely on
# Catalyst's size-based auto-broadcast instead of a forced hint that
# would OOM at 100x.
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table, applying required session confs first.

    ``events.ts`` surfaces as LongType epoch-ns — the reference's
    native time representation (ella-common/src/time.rs:28-45) —
    regardless of the parquet physical type:

    * parquet TIMESTAMP(NANOS): read directly as long via
      ``spark.sql.legacy.parquet.nanosAsLong`` (lossless);
    * parquet TIMESTAMP(MICROS) (timestamp / timestamp_ntz): projected
      to ``unix_micros * 1000`` (session tz is pinned UTC so the
      ntz→ltz cast is value-preserving).

    The projection is a narrow, codegen'd expression — column pruning
    and pushdown of predicates on OTHER columns are unaffected. Time-
    range predicates that must prune parquet row groups should filter
    on the native column first (see ``scan_events_range``).
    """
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_event_time(df)
    return df


def _normalize_event_time(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype and dtype.startswith("timestamp"):
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


def scan_events_range(
    spark: SparkSession, sf_dir: str, lo_ns: int, hi_ns: int
) -> DataFrame:
    """Time-range scan over events with parquet row-group pruning.

    Filters on the NATIVE ``ts`` column (timestamp or long, whichever
    the file has) so the predicate reaches the parquet reader as a
    PushedFilter and prunes row groups by min/max stats — at 100 TB
    this is the difference between reading one day and one decade.
    The epoch-ns normalization is projected only above the filter.
    """
    from pyspark.sql import functions as F

    configure(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dtype = dict(df.dtypes).get("ts", "")
    if dtype.startswith("timestamp"):
        # Ceil both ns bounds to micros. The file's timestamps are
        # µs-aligned, so for any stored t: t*1000 >= lo_ns iff
        # t >= ceil(lo_ns/1000), and t*1000 < hi_ns iff
        # t < ceil(hi_ns/1000). Flooring instead would admit events up
        # to 999 ns before a non-aligned lo and drop events in
        # [hi//1000*1000, hi) for a non-aligned hi.
        lo = F.timestamp_micros(F.lit((lo_ns + 999) // 1000)).cast(dtype)
        hi = F.timestamp_micros(F.lit((hi_ns + 999) // 1000)).cast(dtype)
    else:
        lo, hi = F.lit(lo_ns), F.lit(hi_ns)
    df = df.where((F.col("ts") >= lo) & (F.col("ts") < hi))
    return _normalize_event_time(df)


def _parse_bytes(s: str) -> int:
    s = s.strip().lower()
    for suf, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(s)


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure at least ``defaultParallelism`` partitions before a
    compute-heavy narrow stage (shingling, vector math UDFs).

    Small local scans arrive as ONE split (a few-MB parquet file),
    which would serialize the whole stage on a single core. On a real
    cluster the scan of a big table already has >= parallelism splits
    and this is a no-op — so the repartition never becomes a gratuitous
    shuffle at scale; it only rescues the small-input case.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from the file listing instead of
    # df.rdd.getNumPartitions(): the RDD bridge forces plan analysis
    # and breaks under Spark Connect. splits ≈ max(n_files,
    # total_bytes / maxPartitionBytes) — the file-source packing rule.
    files = df.inputFiles()
    local = [f[len("file:"):] for f in files if f.startswith("file:")]
    if len(local) != len(files):
        return df  # remote storage → big-data path, scan already fans out
    try:
        total = sum(os.path.getsize(f) for f in local)
    except OSError:
        return df
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    splits = max(len(files), -(-total // max(max_bytes, 1)))
    if splits < target:
        return df.repartition(target)
    return df

