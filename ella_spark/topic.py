"""Topics: append-only streaming tables with a mandatory leading
nanosecond time column.

Reference: ella-engine/src/table/topic.rs — a topic scan is the
ordered concat of parquet shards → r/w buffer → live channel
(topic.rs:165-203). In the Spark rebuild the tiers collapse to:

- *shards*   = parquet part files under the topic dir (batch read)
- *rw buffer*= the publisher's in-flight row buffer (flushed at
  ``capacity`` like RowSink, ella-common/src/row/sink.rs:60-71)
- *live*     = ``spark.readStream`` file source over the same dir —
  Spark's micro-batch tailing replaces the tokio broadcast channel.

Shards are written time-sorted (writer sorting-column parity,
shard/writer.rs:270-276) so ORDER BY time is a cheap merge and parquet
row-group min/max stats prune time-range scans.
"""

from __future__ import annotations

import collections
import functools
import operator
import os
import threading
import time as _time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ella_spark.catalog import CatalogStore, TableEntry
from ella_spark.types import TIME_COLUMN, Column

#: Default publisher buffer size (rows) — reference RowSink capacity /
#: TableConfig.write_batch_size=1024 (table/config.rs:16).
DEFAULT_CAPACITY = 1024

#: Time-bucket directory partitioning (SURVEY §7 Phase 3 — a deliberate
#: improvement over the reference's flat shard dir, shard.rs:320-330).
#: Shards live under ``__bucket=<day>/`` where day = time_ns div DAY_NS:
#: at 100 TB a time-range scan prunes whole directories instead of
#: relying on footer stats across 10^6 files.
DAY_NS = 86_400 * 1_000_000_000
PARTITION_COL = "__bucket"

#: read arguments (windows, column ranges, probes) whose frames
#: ``Topic.read`` keeps per topic and session, and topics it keeps
#: them for per session; least recently used out
_FRAME_CAP = 8
_TOPIC_CAP = 64
#: topics whose parsed shard-stats manifest ``Topic.manifest`` keeps
_MANIFEST_CAP = 16
#: topic path -> (manifest file stamp, parsed manifest), in use order
_MANIFESTS: "collections.OrderedDict[str, tuple]" = collections.OrderedDict()
#: guards both memos: reads may run on several threads at once
_MEMO_LOCK = threading.Lock()


def time_bucket(time_ns: int) -> int:
    return time_ns // DAY_NS  # floor division — negative times bucket left


def _session_frames(spark: SparkSession) -> "collections.OrderedDict":
    """``Topic.read``'s frames for ``spark``: topic path -> (version
    stamp, {read arguments: frame}). The memo lives on the session
    object, so it dies with the session and never hands a frame to
    another one. A module-level map weakly keyed on the session could
    not do that: every cached frame holds its session strongly, so the
    key would never be released."""
    frames = getattr(spark, "_ella_topic_frames", None)
    if frames is None:
        frames = spark._ella_topic_frames = collections.OrderedDict()
    return frames


def _arrow_type(col: Column) -> pa.DataType:
    base = {
        "bool": pa.bool_(),
        "int8": pa.int8(),
        "int16": pa.int16(),
        "int32": pa.int32(),
        "int64": pa.int64(),
        "uint8": pa.int16(),
        "uint16": pa.int32(),
        "uint32": pa.int64(),
        "uint64": pa.decimal128(20, 0),
        "float32": pa.float32(),
        "float64": pa.float64(),
        "timestamp": pa.int64(),  # epoch ns
        "duration": pa.int64(),  # ns
        "string": pa.string(),
    }[col.dtype]
    if col.row_shape is not None:
        return pa.list_(base, col.flat_size)
    return base


def topic_arrow_schema(columns: list[Column]) -> pa.Schema:
    return pa.schema(
        [
            pa.field(c.name, _arrow_type(c), nullable=not c.required)
            for c in columns
        ]
    )


class Topic:
    """Handle on a topic: read (batch/stream) and publish."""

    def __init__(self, store: CatalogStore, entry: TableEntry):
        if entry.kind != "topic":
            raise ValueError(f"{'.'.join(entry.ident)} is not a topic")
        self.store = store
        self.entry = entry
        self.path: Path = store.table_path(entry)

    # -- reads ---------------------------------------------------------------

    def spark_schema(self):
        from pyspark.sql.types import StructType

        return StructType([c.to_struct_field() for c in self.entry.columns])

    def _partitioned_schema(self):
        from pyspark.sql.types import LongType, StructField, StructType

        base = self.spark_schema()
        return StructType(
            list(base.fields) + [StructField(PARTITION_COL, LongType(), True)]
        )

    def manifest(self) -> dict:
        """Per-shard stats consolidated by maintenance.build_manifest:
        ``basename -> {"t": [min_time, max_time], "c": {col: [min,
        max]}}``; empty dict if never built. v1 entries (bare
        ``[lo, hi]`` time lists) normalize to v2 with no column
        stats.

        Two physical formats, one logical shape: small topics store
        JSON (human-greppable); past ~10⁵ shards build_manifest
        switches to parquet (columnar, ~10× smaller, sub-second load
        where json.loads dominates) — whichever single file exists is
        authoritative, the reader normalizes both.

        The parse is kept per topic until the file's ``(inode, size,
        mtime_ns)`` changes (build_manifest replaces it by rename), so
        the returned dict is shared: callers must not mutate it."""
        stamp = self._manifest_stamp()
        if stamp is None:
            return {}
        key = str(self.path)
        with _MEMO_LOCK:
            hit = _MANIFESTS.get(key)
            if hit is not None and hit[0] == stamp:
                _MANIFESTS.move_to_end(key)
                return hit[1]
        # stamp before parse: a file replaced in between pairs the old
        # stamp with the new content, which the next call re-parses
        stats = self._parse_manifest(stamp[0])
        with _MEMO_LOCK:
            _MANIFESTS[key] = (stamp, stats)
            if len(_MANIFESTS) > _MANIFEST_CAP:
                _MANIFESTS.popitem(last=False)
        return stats

    def _manifest_stamp(self) -> tuple | None:
        """``(file, inode, size, mtime_ns)`` of the authoritative
        manifest file (parquet before JSON), or None if never built."""
        for name in ("stats.parquet", "stats.json"):
            path = self.path / "_manifest" / name
            try:
                st = os.stat(path)
            except OSError:
                continue
            return (path, st.st_ino, st.st_size, st.st_mtime_ns)
        return None

    @staticmethod
    def _parse_manifest(path: Path) -> dict:
        import json

        if path.suffix == ".parquet":
            try:
                tbl = pq.read_table(path)
            except (OSError, ValueError):
                return {}
            cjson = tbl.column("c").to_pylist()
            # ONE C-level parse for all column-stat payloads: 10⁵
            # individual json.loads calls dominate the load time
            cols = json.loads("[" + ",".join(c or "{}" for c in cjson) + "]")
            n_rows = len(cjson)
            if "b" in tbl.schema.names:
                bjson = tbl.column("b").to_pylist()
                blooms = json.loads("[" + ",".join(b or "{}" for b in bjson) + "]")
            else:  # pre-bloom parquet manifest
                blooms = [{}] * n_rows
            return {
                name: {"t": [tmin, tmax], "c": c, "b": b}
                for name, tmin, tmax, c, b in zip(
                    tbl.column("name").to_pylist(),
                    tbl.column("tmin").to_pylist(),
                    tbl.column("tmax").to_pylist(),
                    cols,
                    blooms,
                )
            }
        try:
            raw = json.loads(path.read_text())
        except (ValueError, OSError):
            return {}
        # Column ranges are only SOUND from format v3 (the
        # every-row-group completeness guard, maintenance.
        # _MANIFEST_FORMAT): pre-v3 entries may carry partial-stats
        # ranges that under-cover their file, and trusting them would
        # silently skip-drop rows in the window before the next
        # build_manifest pass rebuilds the file. Gate at READ time:
        # drop 'c' for pre-v3 manifests, keep the conservative time
        # ranges (those were always whole-file).
        sound_cols = (raw.get("_v") or 0) >= 3
        # blooms are always value-complete (built from a full column
        # read, never footer stats), so no v3 gate applies to "b"
        return {
            k: (
                {
                    "t": v["t"],
                    "c": (v.get("c", {}) if sound_cols else {}),
                    "b": v.get("b", {}),
                }
                if isinstance(v, dict)
                else {"t": v, "c": {}, "b": {}}
            )
            for k, v in raw.items()
            if not k.startswith("_")  # meta keys (_v format stamp)
        }

    def read(
        self,
        spark: SparkSession,
        start_ns: int | None = None,
        end_ns: int | None = None,
        col_ranges: dict[str, tuple] | None = None,
        col_eq: dict | None = None,
    ) -> DataFrame:
        """Batch scan of all durable shards (history tier).

        Explicit schema: works on an empty topic and skips footer
        merging; Catalyst pushes filters/projection into the scan.
        With ``start_ns``/``end_ns`` (half-open ``[start, end)``) the
        scan also filters the ``__bucket`` partition column, so whole
        day directories prune out of the file listing (PartitionFilters
        in the plan) before any footer is read. When the maintenance
        pass has built the shard-stats manifest, files whose
        [min, max] time range provably misses the bound are dropped
        from the listing DRIVER-side — within a day bucket Spark would
        otherwise open every shard's footer before row-group pruning
        helps; at hot-topic shard counts that is the listing
        bottleneck. Shards without a manifest entry yet (published
        since the last pass) are always read — skipping is only ever
        proven-disjoint.

        ``col_ranges`` extends the same skipping to numeric value
        columns: ``{"k": (lo, hi)}`` keeps only shards whose manifest
        [min, max] for ``k`` intersects the CLOSED interval [lo, hi]
        (either bound may be None), then applies the residual filter
        to the surviving rows. Effective when shards are clustered on
        the column — publish-order correlation or
        ``compact_topic(cluster_by=["k"])``; always correct
        regardless.

        ``col_eq`` (``{"k": value}``) is the POINT-lookup analog:
        shards whose manifest Bloom filter (opt-in via
        ``build_manifest(bloom_cols=...)`` / Maintainer
        ``bloom_cols``) proves the value absent are skipped — the
        regime where ranges stop discriminating because every
        unclustered shard's [min, max] straddles the probe. No bloom
        for a shard/column ⇒ the shard is read (skipping stays
        proven-absent only); the residual equality filter applies to
        surviving rows either way, so results never depend on bloom
        coverage.

        The frame is reused while the topic is unchanged: each call
        re-lists the shard set, and returns the frame an earlier call
        with the same arguments built on the same session if the
        topic's version stamp still matches — its columns, each shard's
        ``(name, size, mtime_ns)``, the manifest file's ``(inode,
        size, mtime_ns)`` and the session's SQL confs
        (``session.conf_version``). Any publish, insert, compaction,
        manifest build, ALTER or ``SET`` changes the stamp and drops
        every frame kept for the topic, so nothing is rebuilt unless
        it changed.
        """
        from ella_spark.session import conf_version, configure

        configure(spark)
        # the stamp is taken BEFORE Spark lists the files: a shard
        # published in between then makes the next call rebuild,
        # instead of pairing an old file index with the new stamp
        listing = self._listing()
        stamp = (
            conf_version(spark), self.entry.columns, listing, self._manifest_stamp()
        )
        key = (start_ns, end_ns, repr(sorted((col_ranges or {}).items())),
               repr(sorted((col_eq or {}).items())))
        topics, path = _session_frames(spark), str(self.path)
        with _MEMO_LOCK:
            kept = topics.get(path)
            if kept is None or kept[0] != stamp:
                kept = topics[path] = (stamp, collections.OrderedDict())
            topics.move_to_end(path)
            if len(topics) > _TOPIC_CAP:
                topics.popitem(last=False)
            frames = kept[1]
            if key in frames:
                frames.move_to_end(key)
                return frames[key]
        df = self._read(
            spark, [Path(p) for p, _, _ in listing], start_ns, end_ns,
            col_ranges, col_eq,
        )
        with _MEMO_LOCK:
            frames[key] = df
            if len(frames) > _FRAME_CAP:
                frames.popitem(last=False)
        return df

    def _read(self, spark, files, start_ns, end_ns, col_ranges, col_eq) -> DataFrame:
        bounded = (
            start_ns is not None
            or end_ns is not None
            or bool(col_ranges)
            or bool(col_eq)
        )
        eq_probe = {}
        if col_eq:
            from ella_spark.bloom import coerce_for

            dtypes = {c.name: c.dtype for c in self.entry.columns}
            eq_probe = {
                c: coerce_for(dtypes.get(c, ""), v)
                for c, v in col_eq.items()
                if v is not None
            }
        if bounded and (stats := self.manifest()):
            keep = []
            for p in files:
                ent = stats.get(p.name)
                if ent is not None:
                    lo, hi = ent["t"]
                    if start_ns is not None and hi < start_ns:
                        continue
                    if end_ns is not None and lo >= end_ns:
                        continue
                    if col_ranges and self._misses_ranges(ent, col_ranges):
                        continue
                    if eq_probe and self._misses_blooms(ent, eq_probe):
                        continue
                keep.append(p)
            if len(keep) < len(files):
                df = self._time_cut(self._read_paths(spark, keep), start_ns, end_ns)
                return self._apply_col_eq(
                    self._apply_col_ranges(df, col_ranges), col_eq
                )
        df = (
            spark.read.schema(self._partitioned_schema())
            .option("basePath", str(self.path))
            .parquet(str(self.path))
        )
        df = self._time_cut(df, start_ns, end_ns, bucket=True)
        return self._apply_col_eq(
            self._apply_col_ranges(df.drop(PARTITION_COL), col_ranges), col_eq
        )

    @staticmethod
    def _time_cut(
        df: DataFrame, start_ns: int | None, end_ns: int | None, bucket: bool = False
    ) -> DataFrame:
        """``df`` restricted to ``[start_ns, end_ns)`` in ONE ``where``
        (every frame operation is one more analysis on a statement's
        path); with ``bucket`` the ``__bucket`` partition column is cut
        too, so whole day directories prune out of the listing."""
        from pyspark.sql import functions as F

        conds = []
        if start_ns is not None:
            conds.append(F.col(TIME_COLUMN) >= start_ns)
            if bucket:
                conds.append(F.col(PARTITION_COL) >= time_bucket(start_ns))
        if end_ns is not None:
            conds.append(F.col(TIME_COLUMN) < end_ns)
            if bucket:
                conds.append(F.col(PARTITION_COL) <= time_bucket(end_ns - 1))
        return df.where(functools.reduce(operator.and_, conds)) if conds else df

    @staticmethod
    def _misses_blooms(ent: dict, eq_probe: dict) -> bool:
        """True when some per-shard Bloom filter PROVES a probe value
        absent (no filter for a column never skips; a malformed
        filter degrades to 'read' inside bloom_might_contain)."""
        from ella_spark.bloom import bloom_might_contain

        blooms = ent.get("b") or {}
        for col, v in eq_probe.items():
            b = blooms.get(col)
            if b is not None and not bloom_might_contain(b, v):
                return True
        return False

    @staticmethod
    def _apply_col_eq(df: DataFrame, col_eq: dict | None) -> DataFrame:
        from pyspark.sql import functions as F

        for col, v in (col_eq or {}).items():
            df = df.where(F.col(col) == F.lit(v))
        return df

    @staticmethod
    def _misses_ranges(ent: dict, col_ranges: dict) -> bool:
        """True when the shard's stats PROVE it cannot intersect every
        requested closed range (missing column stats never skip).

        NaN note: parquet min/max exclude NaN, so for float columns a
        skipped file may hold NaN rows even though Spark's comparison
        semantics say ``NaN >= lo``. This matches Spark's OWN scan
        behavior exactly — the pushed-down parquet filter prunes the
        same row groups from the same stats (verified: a plain
        ``read.parquet(...).where("v >= 100")`` drops the NaN row
        too, test_col_ranges_nan_matches_spark_pushdown) — so the
        manifest path and the unskipped path always agree."""
        for col, (lo, hi) in col_ranges.items():
            rng = ent.get("c", {}).get(col)
            if rng is None:
                continue
            cmin, cmax = rng
            if lo is not None and cmax < lo:
                return True
            if hi is not None and cmin > hi:
                return True
        return False

    @staticmethod
    def _apply_col_ranges(df: DataFrame, col_ranges: dict | None) -> DataFrame:
        from pyspark.sql import functions as F

        for col, (lo, hi) in (col_ranges or {}).items():
            if lo is not None:
                df = df.where(F.col(col) >= lo)
            if hi is not None:
                df = df.where(F.col(col) <= hi)
        return df

    def read_stream(
        self, spark: SparkSession, max_files_per_trigger: int = 8
    ) -> DataFrame:
        """Live tail as a Structured Streaming file source — the
        subscriber role of the broadcast channel (channel.rs:347-512).
        New shards appear as new micro-batch input; ordering within a
        batch follows shard sort order (time)."""
        from ella_spark.session import configure

        configure(spark)
        return (
            spark.readStream.schema(self._partitioned_schema())
            # lag bound ≈ subscriber queue
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("basePath", str(self.path))
            .parquet(str(self.path))
            .drop(PARTITION_COL)
        )

    def read_stream_exact(
        self, spark: SparkSession, starting: str = "earliest"
    ) -> DataFrame:
        """Live tail with EXACT shard-log offsets (Python DataSource,
        sources/topic_stream.py): an offset is a position in the
        topic's publish-ordered shard log — the reference subscriber's
        queue cursor (channel.rs:250-331) — instead of the file
        source's seen-file-names log. Compacted shards are not
        re-delivered to caught-up subscribers.

        ``starting``: ``earliest`` (history then live) or ``latest``
        (rows published after this call — the reference's subscribe()).
        """
        from ella_spark.session import configure
        from ella_spark.sources.topic_stream import (
            SOURCE_NAME,
            TopicStreamDataSource,
        )

        configure(spark)
        spark.dataSource.register(TopicStreamDataSource)
        return (
            spark.readStream.format(SOURCE_NAME)
            .schema(self.spark_schema())
            .option("path", str(self.path))
            .option("startingOffsets", starting)
            .load()
        )

    def scan(self, spark: SparkSession, mode: str = "auto", **kw):
        """Unified topic scan — the reference's query-time cut
        (README.md:96-105; SURVEY §F):

        - ``history``: bounded batch DataFrame (``WHERE time < now()``)
        - ``live``:    generator of rows published after this call
          (``WHERE time > now()``), ends on stop-on-inactive
        - ``auto``:    generator of history rows **then** live rows in
          one scan (no predicate — the reference's default), ends on
          stop-on-inactive

        ``kw`` passes through (``since_ns``/``poll_sec``/``timeout_sec``
        for the streaming modes; ``start_ns``/``end_ns`` for history).
        """
        import time as _t

        from ella_spark.streaming import unified_scan

        if mode == "history":
            return self.read(spark, **kw)
        if mode == "live":
            kw.setdefault("since_ns", _t.time_ns())
            return unified_scan(self, spark, **kw)
        if mode == "auto":
            return unified_scan(self, spark, **kw)
        raise ValueError(f"mode must be history|live|auto, got {mode!r}")

    def shards(self) -> list[Path]:
        return [Path(p) for p, _, _ in self._listing()]

    def _listing(self) -> list[tuple[str, int, int]]:
        """``(path, size, mtime_ns)`` of every shard
        (``__bucket=*/part-*.parquet``), in path order."""
        out = []
        try:
            with os.scandir(self.path) as it:
                dirs = sorted(
                    e.path for e in it
                    if e.name.startswith(f"{PARTITION_COL}=") and e.is_dir()
                )
        except OSError:
            return out
        for d in dirs:
            files = []
            try:
                with os.scandir(d) as it:
                    for e in it:
                        if e.name.startswith("part-") and e.name.endswith(".parquet"):
                            try:
                                st = e.stat()
                            except OSError:
                                continue  # compacted away mid-listing
                            files.append((e.path, st.st_size, st.st_mtime_ns))
            except OSError:
                continue  # bucket removed mid-listing
            out.extend(sorted(files))
        return out

    def read_files(self, spark: SparkSession, paths: list) -> DataFrame:
        """Batch scan of an EXPLICIT shard subset (same schema handling
        as ``read``). This is the delta path for incremental
        materialized-view refresh: at 100 TB, re-reading only the
        shards published since the last snapshot is what makes a
        refresh O(new data), not O(history)."""
        from ella_spark.session import configure

        configure(spark)
        return self._read_paths(spark, paths)

    def _read_paths(self, spark: SparkSession, paths: list) -> DataFrame:
        if not paths:
            # JVM-side empty relation (Range 0 + typed NULL projection):
            # createDataFrame([], schema) builds an RDD-backed frame
            # whose every action pays a Python-RDD job (~1 s measured —
            # it dominated the bloom-skip point-lookup MISS, the case
            # where skipping works best and the scan reads nothing).
            # Rows the driver holds go through session.local_frame,
            # an Arrow-built local relation, for the same reason
            from pyspark.sql import functions as F

            # All-nullable lit(NULL) projection MATCHES the non-empty
            # path's nullability: Spark file sources force the read
            # schema nullable (a file may omit any column), so a
            # populated parquet scan of this topic also reports every
            # field nullable — verified: required topic columns read
            # back nullable=true either way.
            return spark.range(0).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in self.spark_schema().fields
                ]
            )
        # no basePath: each file's own directory is its base, so no
        # __bucket column is inferred and none needs dropping
        return spark.read.schema(self.spark_schema()).parquet(
            *[str(p) for p in paths]
        )

    def bucket_dirs(self) -> list[Path]:
        return sorted(
            p for p in self.path.glob(f"{PARTITION_COL}=*") if p.is_dir()
        )

    # -- schema evolution ------------------------------------------------------

    def add_column(self, column: Column) -> None:
        """Append a nullable column to the topic schema — schema
        evolution WITHOUT rewriting history (at 100 TB, rewriting is
        not an option). Existing shards simply lack the column;
        explicit-schema parquet reads surface it as NULL there, and
        new shards carry it. The column must be nullable (history has
        no values for it) and must not collide with an existing name.
        Catalog-logged like any DDL, so reopen sees the new schema.
        """
        import dataclasses

        if column.required:
            raise ValueError(
                f"added column {column.name!r} must be nullable: existing "
                "shards have no values for it"
            )
        if any(c.name == column.name for c in self.entry.columns):
            raise ValueError(f"column {column.name!r} already exists")
        updated = dataclasses.replace(
            self.entry, columns=list(self.entry.columns) + [column]
        )
        self.store.put_table(updated, replace=True)
        self.entry = updated

    def drop_column(self, name: str) -> None:
        """Remove a column from the topic schema without rewriting
        history: explicit-schema reads simply stop selecting it, so
        old shards' extra bytes are dead weight until compaction
        rewrites them (which drops the column physically — the
        standard lazy-drop shape). The mandatory time column cannot
        be dropped. RENAME is deliberately absent: old files would
        read NULL under the new name; add-then-backfill instead.
        """
        import dataclasses

        if name == TIME_COLUMN:
            raise ValueError("cannot drop the mandatory time column")
        if not any(c.name == name for c in self.entry.columns):
            raise ValueError(f"column {name!r} does not exist")
        updated = dataclasses.replace(
            self.entry,
            columns=[c for c in self.entry.columns if c.name != name],
        )
        self.store.put_table(updated, replace=True)
        self.entry = updated

    # -- writes ----------------------------------------------------------------

    def publish(self, capacity: int = DEFAULT_CAPACITY) -> "Publisher":
        return Publisher(self, capacity=capacity)

    def insert(self, df: DataFrame) -> int:
        """``INSERT INTO topic`` — the DataSink path (topic.rs:205-213).

        Distributed write: sorts within partitions by time and appends
        parquet parts via Spark (scales with executors, unlike the
        driver-side Publisher which mirrors the reference's client
        push).
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        cols = [c.name for c in self.entry.columns]
        # Count with an Observation DURING the write — a df.count() first
        # would execute the whole source plan twice (at scale, INSERT INTO
        # t SELECT <expensive> doubles the ingest computation).
        obs = Observation()
        (
            df.select(cols)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            # floor-division bucket in pure long arithmetic (a double
            # intermediate is lossy at epoch-ns magnitudes; pmod keeps
            # negative times bucketing left like Python's //)
            .withColumn(
                PARTITION_COL,
                F.expr(
                    f"({TIME_COLUMN} - pmod({TIME_COLUMN}, {DAY_NS}))"
                    f" div {DAY_NS}"
                ),
            )
            # sort by (bucket, time): satisfies the dynamic-partition
            # writer's required ordering directly (it would otherwise
            # insert its own non-stable sort on __bucket and could
            # destroy within-bucket time order), and keeps every
            # written shard time-sorted for merge reads and row-group
            # pruning
            .sortWithinPartitions(PARTITION_COL, TIME_COLUMN)
            .write.mode("append")
            .partitionBy(PARTITION_COL)
            .parquet(str(self.path))
        )
        return int(obs.get["n"])


class Publisher:
    """Client-side row/batch writer (pyella Publisher parity,
    pyella/src/table/publisher.rs:35-123).

    - ``write(*args)`` appends one row; if the leading time value is
      omitted it is auto-filled with now() in epoch-ns
      (publisher.rs:119-123 behavior)
    - rows buffer until ``capacity`` then flush (RowSink, sink.rs:60-71)
    - ``flush()`` writes one time-sorted parquet shard atomically
      (tmp + rename — the shard writer's transactional create/close,
      shard.rs:75-100)
    """

    def __init__(self, topic: Topic, capacity: int = DEFAULT_CAPACITY):
        self.topic = topic
        self.capacity = capacity
        self.columns = topic.entry.columns
        self.schema = topic_arrow_schema(self.columns)
        self._rows: list[tuple] = []
        self._closed = False
        self.rows_written = 0
        self.topic.path.mkdir(parents=True, exist_ok=True)

    # -- row / batch ingestion ---------------------------------------------

    def write(self, *args) -> None:
        if self._closed:
            raise RuntimeError("publisher is closed")
        ncols = len(self.columns)
        if len(args) == ncols - 1:
            # auto-prepend time=now() (ns) when omitted
            args = (_time.time_ns(), *args)
        elif len(args) != ncols:
            raise ValueError(
                f"expected {ncols} values (or {ncols - 1} w/o time), got {len(args)}"
            )
        self._rows.append(self._normalize_row(args))
        if len(self._rows) >= self.capacity:
            self.flush()

    def write_batch(self, batch) -> None:
        """Accept a pandas DataFrame, pyarrow Table/RecordBatch, or
        list of tuples. Missing time column is auto-filled."""
        if self._closed:
            raise RuntimeError("publisher is closed")
        import pandas as pd

        if isinstance(batch, (pa.Table, pa.RecordBatch)):
            batch = batch.to_pandas()
        if isinstance(batch, pd.DataFrame):
            df = batch.copy()
            if TIME_COLUMN not in df.columns:
                df.insert(0, TIME_COLUMN, _time.time_ns())
            rows = [tuple(r) for r in df[[c.name for c in self.columns]].itertuples(index=False)]
        else:
            rows = [
                self._pad_time(tuple(r)) for r in batch
            ]
        for r in rows:
            self._rows.append(self._normalize_row(r))
            if len(self._rows) >= self.capacity:
                self.flush()

    def _pad_time(self, row: tuple) -> tuple:
        if len(row) == len(self.columns) - 1:
            return (_time.time_ns(), *row)
        return row

    def _normalize_row(self, row: tuple) -> tuple:
        out = []
        for col, v in zip(self.columns, row):
            if col.row_shape is not None and v is not None:
                try:
                    import numpy as np

                    if isinstance(v, np.ndarray):
                        if v.shape != col.row_shape:
                            raise ValueError(
                                f"{col.name}: shape {v.shape} != {col.row_shape}"
                            )
                        v = v.ravel().tolist()
                except ImportError:  # pragma: no cover
                    pass
                if len(v) != col.flat_size:
                    raise ValueError(
                        f"{col.name}: expected {col.flat_size} elements, got {len(v)}"
                    )
                v = list(v)
            if col.dtype == "timestamp" and v is not None and not isinstance(v, int):
                v = _coerce_ns(v)
            if col.required and v is None:
                raise ValueError(f"{col.name} is required")
            out.append(v)
        return tuple(out)

    # -- flush / close ----------------------------------------------------------

    def flush(self) -> Path | None:
        """Write buffered rows as time-sorted shards, one per day bucket
        (atomic per shard: tmp + rename). Returns the last shard path.

        A buffer rarely spans buckets (rows arrive near now()), so the
        common case is exactly one shard — the reference's single-shard
        flush — while backfill batches split cleanly into their days.
        """
        if not self._rows:
            return None
        cols = list(zip(*self._rows))
        arrays = [
            pa.array(col_vals, type=self.schema.field(i).type)
            for i, col_vals in enumerate(cols)
        ]
        table = pa.Table.from_arrays(arrays, schema=self.schema)
        table = table.sort_by([(TIME_COLUMN, "ascending")])
        import numpy as np

        # numpy floor-division matches Python // for negatives; time is
        # a required column so to_numpy is zero-copy int64
        buckets = table.column(TIME_COLUMN).to_numpy() // DAY_NS
        # time-sorted → buckets are contiguous runs
        edges = [0, *(np.flatnonzero(np.diff(buckets)) + 1), len(buckets)]
        shard: Path | None = None
        for lo, hi in zip(edges[:-1], edges[1:]):
            bucket_dir = self.topic.path / f"{PARTITION_COL}={buckets[lo]}"
            bucket_dir.mkdir(parents=True, exist_ok=True)
            shard = (
                bucket_dir
                / f"part-{_time.time_ns():020d}-{uuid.uuid4().hex[:8]}.parquet"
            )
            tmp = shard.with_name(f"_tmp-{shard.name}")
            pq.write_table(table.slice(lo, hi - lo), tmp, row_group_size=1 << 20)
            tmp.replace(shard)
        self.rows_written += len(self._rows)
        self._rows.clear()
        return shard

    def close(self) -> None:
        if not self._closed:
            self.flush()
            self._closed = True

    def __enter__(self) -> "Publisher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _coerce_ns(v) -> int:
    """Coerce datetime-ish values to epoch ns.

    - integral values (incl. numpy integers from pandas/arrow batches)
      pass through as already-epoch-ns
    - bare floats are epoch SECONDS (``Publisher.write(time.time(), ...)``
      must not silently store a 1970-era timestamp)
    - datetimes/pd.Timestamps convert exactly
    """
    import datetime as dt
    import numbers

    import pandas as pd

    if isinstance(v, pd.Timestamp):
        return v.value
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1_000_000) * 1000
    if isinstance(v, numbers.Integral):
        return int(v)
    if isinstance(v, float):
        return int(v * 1_000_000_000)
    raise TypeError(f"cannot coerce {type(v)} to epoch ns")
