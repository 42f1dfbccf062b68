"""Streaming semantics over topics (SURVEY.md §F).

The reference's streaming model: a topic scan with no time predicate
returns history *then* live rows, and the live scan terminates when
the active-publisher count drops to zero (channel.rs:283-318
``stop_on_inactive``). There are NO watermarks/windows in the
reference — time bucketing is plain ``date_bin`` SQL. Spark mapping:

- live tier   = ``readStream`` file source on the topic dir
- history+live= batch DataFrame ∪ streaming DataFrame at the API level
  (Spark separates the plans; SURVEY §1.4.3)
- stop-on-inactive = publisher marker files + a monitor that stops the
  streaming query once no publishers remain and the backlog is drained
- windows     = conveniences over ``F.window`` (a superset of the
  reference's date_bin surface)
"""

from __future__ import annotations

import time
import uuid
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ella_spark.topic import Publisher, Topic
from ella_spark.types import TIME_COLUMN


# -- publisher liveness (channel.rs:131-139 active-count parity) -----------

def _markers_dir(topic: Topic) -> Path:
    d = topic.store.meta_dir / "publishers" / topic.entry.name
    d.mkdir(parents=True, exist_ok=True)
    return d


class TrackedPublisher(Publisher):
    """Publisher that registers a liveness marker so subscribers can
    stop when the last publisher closes (stop_on_inactive)."""

    def __init__(self, topic: Topic, capacity: int = 1024):
        super().__init__(topic, capacity)
        self._marker = _markers_dir(topic) / f"pub-{uuid.uuid4().hex}"
        self._marker.write_text(str(time.time_ns()))

    def close(self) -> None:
        super().close()
        self._marker.unlink(missing_ok=True)


def active_publishers(topic: Topic) -> int:
    return len(list(_markers_dir(topic).glob("pub-*")))


# -- subscriber ---------------------------------------------------------------

def subscribe_to_memory(
    topic: Topic,
    spark,
    name: str | None = None,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """Start a streaming query that tails the topic into an in-memory
    table (the Subscriber's per-consumer feed, channel.rs:250-331).
    Read results with ``spark.sql(f"SELECT * FROM {name}")``.
    """
    name = name or f"sub_{topic.entry.name}"
    stream = topic.read_stream(spark, max_files_per_trigger)
    return (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(topic.store.meta_dir / "checkpoints" / name))
        .start()
    )


def wait_stop_on_inactive(
    topic: Topic, query: StreamingQuery, poll_sec: float = 0.25, timeout_sec: float = 60.0
) -> None:
    """Stop ``query`` once no active publishers remain AND the query has
    drained all pending input (stop_on_inactive, channel.rs:283-318).
    """
    deadline = time.time() + timeout_sec
    while time.time() < deadline:
        if active_publishers(topic) == 0:
            query.processAllAvailable()
            query.stop()
            query.awaitTermination(10)
            return
        time.sleep(poll_sec)
    raise TimeoutError("publishers still active after timeout")


class Lagged(RuntimeError):
    """Subscriber fell more than the queue bound behind the live feed
    (reference parity: the broadcast channel errors a slow subscriber
    rather than buffering unboundedly, channel.rs:289-294)."""


def unified_scan(
    topic: Topic,
    spark,
    since_ns: int | None = None,
    poll_sec: float = 0.1,
    timeout_sec: float = 60.0,
    max_lag_rows: int | None = None,
):
    """History **then** live rows from one call — the reference's
    signature topic-scan behavior (topic.rs:165-203: parquet shards →
    rw buffer → live channel in one ExecutionPlan; README.md:96-105).

    Yields ``pyspark.sql.Row``s in arrival order: Spark's file stream
    source delivers the pre-existing shards as the first micro-batches
    (the history tier) and every subsequently published shard as live
    input — one streaming plan plays both roles. The generator
    terminates when no active (tracked) publishers remain and the
    backlog is drained (stop_on_inactive, channel.rs:283-318), or at
    ``timeout_sec``.

    ``since_ns`` filters the stream to ``time > since_ns`` — passing
    the current time gives the reference's ``WHERE time > now()``
    live-only mode.

    The tail is a client-side consumer — bounded by what one
    subscriber can consume, like the reference's per-subscriber
    broadcast queue. Each micro-batch is collected ONCE into a
    driver-side queue via foreachBatch (total collected-row volume is
    O(rows) — a memory-sink poll re-collecting the whole table every
    tick would be O(rows²) over a long subscription). With
    ``max_lag_rows`` set, a consumer that falls further behind than
    that raises :class:`Lagged` — the reference's slow-subscriber
    error (default: buffer without bound).
    """
    import collections

    import pyspark.sql.functions as F

    name = f"scan_{topic.entry.name}_{uuid.uuid4().hex[:8]}"
    stream = topic.read_stream(spark)
    if since_ns is not None:
        stream = stream.where(F.col(TIME_COLUMN) > since_ns)
    buf: collections.deque = collections.deque()

    def _sink(batch_df, _batch_id):
        rows = batch_df.collect()  # O(this batch) only, never history
        global _collected_rows_total
        _collected_rows_total += len(rows)
        buf.extend(rows)

    query = (
        stream.writeStream.foreachBatch(_sink)
        .queryName(name)
        .option(
            "checkpointLocation",
            str(topic.store.meta_dir / "checkpoints" / name),
        )
        .start()
    )
    deadline = time.time() + timeout_sec
    try:
        while time.time() < deadline:
            pending = len(buf)
            if max_lag_rows is not None and pending > max_lag_rows:
                raise Lagged(
                    f"subscriber lagged {pending} rows behind "
                    f"(bound {max_lag_rows})"
                )
            if pending:
                for _ in range(pending):
                    yield buf.popleft()
                continue
            if active_publishers(topic) == 0:
                query.processAllAvailable()
                while buf:
                    yield buf.popleft()
                return
            time.sleep(poll_sec)
    finally:
        query.stop()


#: test hook: total rows ever collected by unified_scan sinks — lets a
#: regression test assert the O(rows) collection contract directly
_collected_rows_total = 0


# -- time windows (beyond-reference conveniences, §F last row) ---------------

def with_event_time(df: DataFrame, time_col: str = TIME_COLUMN) -> DataFrame:
    """Derive a µs TimestampType column from the ns long for use with
    F.window / withWatermark (SURVEY §1.4.1 shim)."""
    return df.withColumn(
        "_event_time", F.timestamp_micros(F.expr(f"{time_col} div 1000"))
    )


def tumbling(df: DataFrame, duration: str, time_col: str = TIME_COLUMN):
    """Tumbling event-time window group: returns a GroupedData keyed by
    window over the ns time column."""
    return with_event_time(df, time_col).groupBy(F.window("_event_time", duration))


def sliding(
    df: DataFrame, duration: str, slide: str, time_col: str = TIME_COLUMN
):
    return with_event_time(df, time_col).groupBy(
        F.window("_event_time", duration, slide)
    )


def session_window(df: DataFrame, gap: str, keys: list[str], time_col: str = TIME_COLUMN):
    return with_event_time(df, time_col).groupBy(
        F.session_window("_event_time", gap), *keys
    )


def with_watermark(df: DataFrame, delay: str, time_col: str = TIME_COLUMN) -> DataFrame:
    return with_event_time(df, time_col).withWatermark("_event_time", delay)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    within: str = "5 seconds",
    watermark: str = "10 seconds",
    time_col: str = TIME_COLUMN,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join bounded to an event-time
    window (beyond-reference: the reference has no streaming joins —
    its channels are single-topic feeds, channel.rs:250-331).

    Joins ``left`` and ``right`` on the ``on`` key columns where the
    right event time lies within ±``within`` of the left event time.
    Both sides carry a ``watermark`` so Spark can age out join state —
    the state bound is what makes the join runnable forever at scale:
    each side buffers only rows younger than watermark+within.

    Output columns: left columns (incl. its ns ``time``), the right's
    non-key columns suffixed ``_r``. Works identically on two batch
    DataFrames (Spark's unified semantics).
    """
    from functools import reduce

    l = with_event_time(left, time_col).withColumnRenamed(
        "_event_time", "_l_time"
    ).withWatermark("_l_time", watermark)
    r = with_event_time(right, time_col).withWatermark("_event_time", watermark)
    # suffix every right column that collides with a left name (keys
    # keep their name for the equi-condition, dropped after the join)
    rename = {
        c: f"{c}_r" for c in right.columns if c in left.columns and c not in on
    }
    for old, new in rename.items():
        r = r.withColumnRenamed(old, new)
    r = r.withColumnRenamed("_event_time", "_r_time")

    eq = reduce(lambda a, b: a & b, [l[k] == r[k] for k in on])
    bound = (F.col("_r_time") >= F.col("_l_time") - F.expr(f"INTERVAL {within}")) & (
        F.col("_r_time") <= F.col("_l_time") + F.expr(f"INTERVAL {within}")
    )
    out = l.join(r, eq & bound, how)
    for k in on:
        out = out.drop(r[k])
    return out.drop("_l_time", "_r_time")


def continuous_rollup(
    engine,
    source: str,
    rollup_name: str,
    bucket_ns: int,
    value_col: str = "v",
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """Continuously-maintained rollup: a streaming query that runs the
    incremental ``refresh_rollup`` after every micro-batch of new
    source shards — the always-fresh form of the reference's
    ``date_bin`` group-by idiom (a TimescaleDB-style continuous
    aggregate; the reference has no streaming aggregation at all).

    foreachBatch drives the refresh; the refresh itself is the same
    HWM-incremental distributed append as the batch path, so state and
    work per trigger scale with NEW buckets only. Stop with
    ``query.stop()`` (or wait_stop_on_inactive).
    """
    from ella_spark.maintenance import refresh_rollup

    topic = engine.topic(source)

    def _on_batch(batch_df, batch_id: int) -> None:
        # the batch content itself is unused: its arrival signals new
        # shards; refresh reads the topic (HWM-filtered) directly so
        # the rollup and batch boundaries can never disagree
        refresh_rollup(engine, source, rollup_name, bucket_ns, value_col)

    return (
        topic.read_stream(engine.spark, max_files_per_trigger)
        .writeStream.foreachBatch(_on_batch)
        .option(
            "checkpointLocation",
            str(topic.store.meta_dir / "checkpoints" / f"roll_{rollup_name}"),
        )
        .start()
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark_delay: str = "10 minutes",
    time_col: str = TIME_COLUMN,
) -> DataFrame:
    """Continuous exact dedup over a stream: the first row per key
    wins, duplicates arriving in ANY later micro-batch are dropped,
    and the watermark bounds the dedup state (beyond-reference: the
    reference has no streaming dedup; batch `exact_dedup` is the
    offline analog).

    State scales with distinct keys inside the watermark horizon, not
    with the stream length — the only shape that survives an unbounded
    100 TB/day ingest. Uses dropDuplicatesWithinWatermark so two true
    duplicates straddling a micro-batch boundary still dedup as long
    as they are within ``watermark_delay`` of each other.
    """
    return with_event_time(stream, time_col).withWatermark(
        "_event_time", watermark_delay
    ).dropDuplicatesWithinWatermark(keys).drop("_event_time")
