"""Background maintenance: shard compaction + orphan cleanup.

Reference: the Maintainer loop (ella-engine/src/util.rs:52-144) runs
every 30 s, merging small shards up to ``target_shard_size`` rows
(compact_shards, shard/compact.rs:47-141) and deleting files the
catalog no longer references (cleanup, util.rs:122-144).

Spark version: a compaction *job* (callable from a scheduler or after
N publishes). Reads small shards, re-sorts by time, writes one shard,
atomically swaps. At cluster scale the same job runs distributed; for
the 100 TB layout, add time-bucket partitioning so compaction touches
only recent buckets.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from pathlib import Path

import pyarrow.parquet as pq

from ella_spark.topic import Topic
from ella_spark.types import TIME_COLUMN

#: compaction target (rows) — reference target_shard_size = 32 Mi rows
#: (table/config.rs:19); scaled down for local defaults.
DEFAULT_TARGET_ROWS = 1 << 25

#: shard count past which build_manifest switches the manifest from
#: JSON to parquet (columnar load stays sub-second at 10⁵-10⁶ entries
#: where json.loads dominates)
MANIFEST_PARQUET_THRESHOLD = 100_000

#: manifest format generation: v3 = per-column ranges only when every
#: row group carries stats (older ranges may under-cover and must be
#: rebuilt — see build_manifest)
_MANIFEST_FORMAT = 3

#: clustered compaction writes this many range-disjoint output shards
#: per merge group (each skippable independently via the v2 manifest)
_CLUSTER_SPLITS = 4


class BucketLock:
    """Per-bucket-directory mutual exclusion via an O_EXCL lock file.

    Writers that MUTATE existing shards (compaction's merge-and-unlink,
    the rollup open-bucket rewrite) take this lock so they cannot both
    operate on one bucket at once — e.g. two Maintainers merging the
    same shard group would each write a merged copy and double the
    rows, and a compactor that read a shard just before the rollup
    rewrite swapped it would resurrect the dropped rows when it merges
    the stale bytes. Publishers don't lock: they only ever CREATE new
    shard files (tmp → rename), which commutes with compaction.

    ``timeout=0`` → non-blocking try (compaction skips a busy bucket
    and retries next pass); ``timeout>0`` → bounded wait (the rollup
    rewrite must run, so it waits its turn). Locks left by crashed
    processes are broken after ``stale_sec``. Single-filesystem scope
    matches the engine's embedded deployment (SURVEY §0); a
    multi-writer object-store layout would swap this for a catalog
    transaction, not more lock files.
    """

    def __init__(
        self, bucket_dir: Path, timeout: float = 0.0, stale_sec: float = 300.0
    ):
        self.path = bucket_dir / ".compact.lock"
        self.timeout = timeout
        self.stale_sec = stale_sec
        self.held = False

    def _try_acquire(self) -> bool:
        try:
            st = self.path.stat()
            if time.time() - st.st_mtime > self.stale_sec:
                # break the stale lock ATOMICALLY: rename to a unique
                # name first — exactly one breaker wins the rename, so
                # two processes can never both unlink-and-acquire
                # (holders must finish within stale_sec; compaction of
                # one bucket is bounded well below it)
                tomb = self.path.with_name(
                    f".compact.lock.stale-{uuid.uuid4().hex}"
                )
                try:
                    self.path.rename(tomb)
                    tomb.unlink(missing_ok=True)
                except FileNotFoundError:
                    pass  # another breaker won
        except FileNotFoundError:
            pass
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        return True

    def __enter__(self) -> bool:
        deadline = time.monotonic() + self.timeout
        self.held = self._try_acquire()
        while not self.held and time.monotonic() < deadline:
            time.sleep(0.02)
            self.held = self._try_acquire()
        return self.held

    def __exit__(self, *exc) -> None:
        if self.held:
            self.path.unlink(missing_ok=True)
            self.held = False


def compact_topic(
    topic: Topic,
    target_rows: int = DEFAULT_TARGET_ROWS,
    min_shards: int = 2,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
) -> Path | None:
    """Merge adjacent small shards into one time-sorted shard.

    Mirrors compact_shards (compact.rs:47-141): pick shards below
    target until the running total reaches it, rewrite sorted, then
    swap (write tmp → rename merged in → unlink originals). The swap
    is atomic per *file*, not per topic: between the rename and the
    unlinks a concurrent batch scan may list both the merged shard and
    the originals (transient double counting), and scans that listed
    the originals earlier rely on ``spark.sql.files.ignoreMissingFiles``
    (set in REQUIRED_CONFS) to skip the vanished files.

    Concurrency: each bucket is compacted under its `BucketLock`, so
    concurrent compactors / rollup rewrites can't operate on the same
    bucket (a busy bucket is skipped this pass). A concurrent live
    Publisher needs no lock — it only creates NEW shard files via
    tmp→rename, which commutes with merge-and-unlink of EXISTING
    shards (tested: test_compact_while_publishing). Streaming
    subscribers do see the merged shard as NEW input and would
    re-deliver its rows — run compaction only on subscriber-quiesced
    topics, the reference's implicit contract too (its Maintainer runs
    inside the single embedded process).

    ``cluster_by`` re-sorts the merged shard by the given value
    columns (then time) instead of time alone — the segment-sort-key
    idiom: within a day bucket, compacted shards become disjoint in
    the cluster columns, so the manifest's per-column stats
    (build_manifest v2) let ``Topic.read(col_ranges=...)`` skip them
    driver-side, and parquet row-group stats prune within the files
    that survive. The trade: time-only row-group pruning inside the
    bucket weakens (the day dir still prunes whole days) — cluster
    analytics topics where value predicates dominate, not
    latest-window TSDB topics.

    ``zorder=True`` (with 2-4 ``cluster_by`` columns) interleaves the
    columns' 16-bit rank scales into one Morton key and sorts by THAT
    instead of lexicographically — the Delta OPTIMIZE ZORDER idiom.
    Lexicographic order makes file ranges disjoint only in the
    LEADING column (a predicate on the second column hits every
    file); the Morton curve shares locality across all interleaved
    columns, so ``col_ranges`` skipping engages for predicates on ANY
    of them (~sqrt-fraction file hit rate per column at 2 columns).
    Rank normalization (not min/max scaling) keeps the curve balanced
    under skew.

    Returns the new shard path, or None if nothing to do.
    """
    from ella_spark.topic import topic_arrow_schema

    schema = topic_arrow_schema(topic.entry.columns)
    out: Path | None = None
    if zorder and not (cluster_by and 2 <= len(cluster_by) <= 4):
        raise ValueError("zorder=True needs 2-4 cluster_by columns")
    for bucket_dir in topic.bucket_dirs():
        merged = _compact_dir(
            bucket_dir, target_rows, min_shards, schema, cluster_by, zorder
        )
        if merged is not None:
            out = merged
    return out


def _compact_dir(
    bucket_dir: Path,
    target_rows: int,
    min_shards: int,
    schema=None,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
) -> Path | None:
    """Compact one time-bucket directory (compaction never crosses
    bucket boundaries — partition pruning depends on the dirs). Holds
    the bucket's `BucketLock` for the whole list→merge→swap→unlink
    sequence; a busy bucket is skipped (next pass catches it)."""
    with BucketLock(bucket_dir) as held:
        if not held:
            return None
        return _compact_dir_locked(
            bucket_dir, target_rows, min_shards, schema, cluster_by, zorder
        )


_CLUSTER_GEN_RE = re.compile(r"-c([0-9a-f]+)-k\d+\.parquet$")


def _one_cluster_generation(group: list[Path]) -> bool:
    """True when every file in the group is a clustered slice from the
    SAME previous merge (one shared generation id)."""
    gens = set()
    for p in group:
        m = _CLUSTER_GEN_RE.search(p.name)
        if m is None:
            return False
        gens.add(m.group(1))
    return len(gens) == 1


def _align_to_schema(tbl, schema):
    """Project a shard table onto the topic's CURRENT schema: evolved
    topics mix shard generations in one bucket — columns added since a
    shard was written null-fill, dropped columns' bytes are left
    behind (this is where lazy DROP COLUMN physically reclaims), and
    matching columns cast if the writer used a compatible layout."""
    import pyarrow as pa

    cols = []
    for f in schema:
        if f.name in tbl.schema.names:
            col = tbl.column(f.name)
            if col.type != f.type:
                col = col.cast(f.type)
        else:
            col = pa.nulls(len(tbl), f.type)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def _zorder_permutation(merged, cluster_by: list[str]):
    """Morton-order row permutation for the merged table: each cluster
    column's values map to a 16-bit dense-rank scale (skew-balanced by
    construction, NULLs first), the scales' bits interleave into one
    uint64 key, and the returned argsort reorders rows along the
    curve. Pure driver-side numpy over the already-in-memory merge —
    O(n log n), same cost class as the lexicographic sort it
    replaces."""
    import numpy as np
    import pandas as pd

    n = merged.num_rows
    ncols = len(cluster_by)
    z = np.zeros(n, dtype=np.uint64)
    for j, c in enumerate(cluster_by):
        s = merged.column(c).to_pandas()
        # dense 0..65535 rank scale; method='first' keeps ties
        # deterministic, na_option='top' pins NULLs to the low corner
        ranks = (
            s.rank(method="first", na_option="top").to_numpy(dtype=np.int64)
            - 1
        ).astype(np.uint64)
        scaled = ranks * np.uint64(65535) // np.uint64(max(n - 1, 1))
        for b in range(16):
            z |= ((scaled >> np.uint64(b)) & np.uint64(1)) << np.uint64(
                b * ncols + j
            )
    return np.argsort(z, kind="stable")


def _compact_dir_locked(
    bucket_dir: Path,
    target_rows: int,
    min_shards: int,
    schema=None,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
) -> Path | None:
    shards = sorted(bucket_dir.glob("part-*.parquet"))
    sizes = {p: pq.ParquetFile(p).metadata.num_rows for p in shards}
    group: list[Path] = []
    total = 0
    for p in shards:  # shards sort lexicographically = by create time
        if sizes[p] >= target_rows:
            continue
        group.append(p)
        total += sizes[p]
        if total >= target_rows:
            break
    if len(group) < min_shards:
        return None
    if cluster_by and _one_cluster_generation(group):
        # the group is exactly the slice set one previous clustered
        # merge produced: re-merging would rewrite identical data
        # every pass (and rename shards, invalidating MV delta
        # cursors each cycle) — quiesce until new shards arrive
        return None

    tables = [pq.read_table(p) for p in group]
    import pyarrow as pa

    if schema is not None:
        tables = [_align_to_schema(t, schema) for t in tables]
    merged = pa.concat_tables(tables)
    if zorder and cluster_by and merged.num_rows > 1:
        perm = _zorder_permutation(merged, cluster_by)
        merged = merged.take(pa.array(perm))
    else:
        sort_keys = [(c, "ascending") for c in (cluster_by or [])] + [
            (TIME_COLUMN, "ascending")
        ]
        merged = merged.sort_by(sort_keys)
    # Name the merged shard with the EARLIEST source shard's timestamp
    # prefix (plus a 'c' compaction marker) so it sorts at the position
    # of its oldest input: an exact-offset subscriber whose watermark
    # has passed the compacted range (sources/topic_stream.py orders by
    # basename) never sees the merged file as new input.
    first_ts = group[0].name.split("-")[1]
    if cluster_by and merged.num_rows > 0:
        # range-disjoint output shards: contiguous slices of the
        # cluster-sorted merge, so each FILE covers a disjoint
        # cluster-column range and the v2 manifest can skip whole
        # files for value predicates (one file would only enable
        # row-group pruning). One generation id across the slices —
        # the next pass recognizes its own output and quiesces.
        gen = uuid.uuid4().hex[:7]
        n_slices = min(_CLUSTER_SPLITS, max(1, merged.num_rows))
        step = -(-merged.num_rows // n_slices)
        out = None
        for s in range(n_slices):
            part = merged.slice(s * step, step)
            if part.num_rows == 0:
                continue
            out = bucket_dir / f"part-{first_ts}-c{gen}-k{s}.parquet"
            tmp = out.with_name(f"_tmp-{out.name}")
            pq.write_table(part, tmp, row_group_size=1 << 20)
            tmp.replace(out)
    else:
        out = bucket_dir / f"part-{first_ts}-c{uuid.uuid4().hex[:7]}.parquet"
        tmp = out.with_name(f"_tmp-{out.name}")
        pq.write_table(merged, tmp, row_group_size=1 << 20)
        tmp.replace(out)
    for p in group:
        p.unlink()
        p.with_name(f".{p.name}.crc").unlink(missing_ok=True)
    return out


def cleanup_orphans(store, max_age_sec: float = 3600.0) -> list[Path]:
    """Delete tmp files and data dirs for tables no longer in the
    catalog (util.rs:122-144 parity)."""
    removed: list[Path] = []
    now = time.time()
    live = {store.table_path(e) for e in store.tables.values()}
    for catalog_dir in store.root.iterdir():
        if catalog_dir.name.startswith(".") or not catalog_dir.is_dir():
            continue
        for schema_dir in catalog_dir.iterdir():
            if not schema_dir.is_dir():
                continue
            for table_dir in schema_dir.iterdir():
                if not table_dir.is_dir():
                    continue
                if table_dir not in live:
                    import shutil

                    shutil.rmtree(table_dir)
                    removed.append(table_dir)
                    continue
                for pattern in ("_tmp-*", "*/_tmp-*"):
                    for tmp in table_dir.glob(pattern):
                        if now - tmp.stat().st_mtime > max_age_sec:
                            tmp.unlink()
                            removed.append(tmp)
    return removed


class Maintainer:
    """Synchronous maintenance pass (the reference's interval loop,
    util.rs:52-120, minus the background thread — callers schedule it)."""

    def __init__(
        self,
        engine,
        target_rows: int = DEFAULT_TARGET_ROWS,
        retention_ns: int | None = None,
        cluster_by: dict[str, list[str]] | None = None,
        zorder: bool = False,
        bloom_cols: dict[str, list[str]] | None = None,
    ):
        self.engine = engine
        self.target_rows = target_rows
        #: drop day buckets older than now - retention_ns each pass
        self.retention_ns = retention_ns
        #: per-topic clustered compaction: topic name -> cluster cols
        #: (zorder=True Morton-interleaves 2-4 cols, see compact_topic)
        self.cluster_by = cluster_by or {}
        self.zorder = zorder
        #: per-topic manifest Bloom filters: topic name -> point-lookup
        #: columns (build_manifest bloom_cols; Topic.read(col_eq=...))
        self.bloom_cols = bloom_cols or {}

    def run_once(self, refresh_views: bool = True) -> dict:
        compacted, cleaned, refreshed, expired, errors = [], [], [], [], []
        manifest_entries = 0
        for entry in list(self.engine.store.tables.values()):
            if entry.kind != "topic":
                continue
            t = Topic(self.engine.store, entry)
            if self.retention_ns is not None:
                expired.extend(
                    str(p)
                    for p in expire_topic(
                        t, time.time_ns() - self.retention_ns
                    )
                )
            cb = self.cluster_by.get(entry.name)
            out = compact_topic(
                t,
                target_rows=self.target_rows,
                cluster_by=cb,
                zorder=bool(cb) and self.zorder,
            )
            if out is not None:
                compacted.append(str(out))
            # consolidate per-shard time stats AFTER compaction so the
            # manifest reflects the surviving shard set. Bloom columns:
            # explicit config wins; otherwise a topic's DECLARED
            # secondary indexes opt in automatically — declaring an
            # index on a column is exactly the "I will point-look-up
            # this" signal the bloom cost model wants (time itself is
            # range-pruned by the manifest and never bloomed).
            blooms = self.bloom_cols.get(entry.name)
            if blooms is None:
                blooms = [
                    c for c, _asc in entry.indexes if c != TIME_COLUMN
                ] or None
            manifest_entries += build_manifest(t, bloom_cols=blooms)
        cleaned = [str(p) for p in cleanup_orphans(self.engine.store)]
        if refresh_views:
            # Materialized views ride the maintenance loop (the
            # continuous-aggregate shape): delta-refreshable MVs fold
            # in only the shards published since their snapshot
            # (ella_spark/incremental.py), so this is cheap enough to
            # run every interval. Ordered AFTER compaction: a refresh
            # whose cursor compaction just invalidated falls back to a
            # full recompute in the same pass and re-pins its cursor
            # to the compacted shard set.
            for entry in list(self.engine.store.tables.values()):
                if entry.kind == "materialized_view" and entry.version > 0:
                    name = ".".join(entry.ident)
                    try:
                        self.engine.refresh_materialized(name)
                        refreshed.append(name)
                    except Exception as e:  # noqa: BLE001 — one broken
                        # MV (e.g. its SQL references a dropped column)
                        # must not abort the pass or starve the others
                        errors.append(f"{name}: {e}")
        return {
            "compacted": compacted,
            "cleaned": cleaned,
            "refreshed": refreshed,
            "manifest_entries": manifest_entries,
            "expired": expired,
            "errors": errors,
        }


def refresh_rollup(
    engine,
    source: str,
    rollup_name: str,
    bucket_ns: int,
    value_col: str = "v",
) -> int:
    """Incrementally refresh a downsampled rollup topic (continuous
    aggregate — the materialized form of the reference's
    `date_bin`-group-by idiom, and the hypertable-rollup custom
    operator the reference lacks).

    The rollup topic holds one row per bucket: (time=bucket_start_ns,
    n, v_sum, v_min, v_max, v_avg). Refresh is incremental: only
    buckets at/after the rollup's high-water mark are recomputed (the
    current open bucket is re-aggregated to absorb late rows within
    it). At scale this reads only recent shards — parquet time stats
    prune everything older. Returns the number of bucket rows written.
    """
    import pyspark.sql.functions as F

    from ella_spark.types import Column

    spark = engine.spark
    src = engine.topic(source).read(spark)
    try:
        roll = engine.topic(rollup_name)
    except ValueError:
        roll = engine.create_topic(
            rollup_name,
            [
                Column("n", "int64", required=True),
                Column("v_sum", "float64"),
                Column("v_min", "float64"),
                Column("v_max", "float64"),
                Column("v_avg", "float64"),
            ],
        )
    existing = roll.read(spark)
    hwm_row = existing.agg(F.max("time").alias("hwm")).collect()[0]
    hwm = hwm_row.hwm if hwm_row.hwm is not None else None
    if hwm is not None:
        # recompute the open bucket and everything after it
        src = src.where(F.col("time") >= hwm)
    agg = (
        src.groupBy((F.expr(f"time div {bucket_ns}") * bucket_ns).alias("time"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("v_sum"),
            F.min(value_col).alias("v_min"),
            F.max(value_col).alias("v_max"),
            F.avg(value_col).alias("v_avg"),
        )
    )
    # Drop the stale open-bucket row (it is being re-aggregated — source
    # rows at/after hwm always include that bucket's rows, topics are
    # append-only), then append the recomputed buckets DISTRIBUTED via
    # the topic sink. Only the open-bucket rewrite touches the driver;
    # a backfill from empty never collects aggregate rows (at 100 TB of
    # history with fine buckets a driver collect would be unbounded).
    if hwm is not None:
        _rewrite_without_buckets(roll, {hwm})
    return roll.insert(agg)


def _rewrite_without_buckets(topic: Topic, buckets: set[int]) -> None:
    """Remove rows for the given bucket keys from a (small) rollup
    topic by rewriting only the shards that contain them. Takes each
    bucket dir's `BucketLock` (blocking, bounded wait): an in-place
    shard rewrite must not interleave with a compactor merging the
    same bucket, or the merge of the pre-rewrite bytes would resurrect
    the dropped rows."""
    import pyarrow.compute as pc

    for bucket_dir in topic.bucket_dirs():
        with BucketLock(bucket_dir, timeout=30.0) as held:
            if not held:
                raise TimeoutError(
                    f"rollup rewrite: bucket lock busy >30s: {bucket_dir}"
                )
            for shard in sorted(bucket_dir.glob("part-*.parquet")):
                t = pq.read_table(shard)
                mask = pc.is_in(t.column(TIME_COLUMN), value_set=__import__("pyarrow").array(sorted(buckets), type="int64"))
                if pc.any(mask).as_py():
                    kept = t.filter(pc.invert(mask))
                    tmp = shard.with_name(f"_tmp-{shard.name}")
                    pq.write_table(kept, tmp, row_group_size=1 << 20)
                    tmp.replace(shard)
                    # Spark/Hadoop-written shards carry a .crc sidecar; it
                    # no longer matches the rewritten bytes and would fail
                    # reads.
                    crc = shard.with_name(f".{shard.name}.crc")
                    crc.unlink(missing_ok=True)


def expire_topic(topic: Topic, before_ns: int) -> list[Path]:
    """Retention: drop whole day-bucket directories whose entire time
    range lies before ``before_ns`` (bucket-granular TTL — the unit a
    100 TB layout can delete atomically and cheaply). Only buckets
    STRICTLY older than the cutoff's bucket are removed, so no
    surviving row is ever inside a deleted dir; readers race-safe via
    ``ignoreMissingFiles``. Incremental-MV cursors referencing expired
    shards stop being a subset of the live set and fall back to a full
    recompute automatically. Returns the removed bucket dirs.
    """
    import shutil

    from ella_spark.topic import time_bucket

    cutoff_bucket = time_bucket(before_ns)
    removed: list[Path] = []
    for bucket_dir in topic.bucket_dirs():
        b = int(bucket_dir.name.split("=", 1)[1])
        if b < cutoff_bucket:
            with BucketLock(bucket_dir) as held:
                if not held:
                    continue  # compactor busy: next pass
                shutil.rmtree(bucket_dir, ignore_errors=True)
                removed.append(bucket_dir)
    if removed:
        build_manifest(topic)  # drop stale entries with their files
    return removed


def _shard_blooms(path, cols: list[str], col_dtypes: dict, fpp: float) -> dict:
    """Per-column Bloom filters from a full column read of one shard;
    {} when the file vanished mid-pass (compaction race — next pass
    rebuilds). Values funnel through coerce_for so probe-time SQL
    equality semantics match (bloom.py)."""
    from ella_spark.bloom import bloom_build, coerce_for

    try:
        tbl = pq.read_table(path, columns=cols)
    except (OSError, ValueError, KeyError):
        return {}
    out = {}
    for c in cols:
        vals = tbl.column(c).to_pylist()
        out[c] = bloom_build(
            (coerce_for(col_dtypes[c], v) for v in vals), fpp
        )
    return out


def build_manifest(
    topic: Topic,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float | None = None,
) -> int:
    """Consolidate per-shard min/max stats into a single manifest
    (``<topic>/_manifest/stats.json``) for DRIVER-side file skipping.

    Day-bucket partition dirs already prune whole days; within a day a
    hot topic accumulates thousands of shards, and Spark's parquet
    reader opens every listed file's footer before row-group pruning
    can help. The manifest is the Iceberg/Delta-style answer: one
    driver-side JSON built from parquet footers (each footer read
    ONCE, here, instead of on every query), maintained by the
    maintenance pass and swapped atomically. ``Topic.read`` then
    passes only overlapping files to the scan. Semantics are
    conservative: a shard with no entry yet (published since the last
    pass) is always read, so the manifest can only skip files it has
    proven disjoint — never lose rows.

    Entry format (v2): ``basename -> {"t": [min_time, max_time],
    "c": {col: [min, max], ...}}`` — the per-column stats cover every
    numeric topic column, enabling value-predicate skipping via
    ``Topic.read(col_ranges=...)``. Whether that skips anything
    depends on shards being CLUSTERED on the column (natural
    correlation with publish order, or ``compact_topic(...,
    cluster_by=[col])``); the stats themselves are always sound. v1
    entries (``basename -> [lo, hi]``) are upgraded in place.

    ``bloom_cols`` opts columns into per-shard Bloom filters
    (``"b": {col: {m, k, h}}``) for POINT-lookup skipping via
    ``Topic.read(col_eq=...)`` — the regime where min/max ranges stop
    discriminating (high-cardinality unclustered keys). Blooms are
    built from a full column read of the shard (not footer stats), so
    they are complete by construction; a shard whose entry predates
    the bloom opt-in gains its filters on the next pass without
    recomputing footer stats. Cost is ~9.6 bits/distinct value at the
    default 1% fpp (ella_spark/bloom.py) — opt-in per topic for that
    reason.

    Returns the number of newly-added entries.
    """
    import json

    mdir = topic.path / "_manifest"
    mpath = mdir / "stats.json"
    # Format v3 stamped the every-row-group completeness guard onto
    # column ranges; entries written by older builds may carry
    # partial-stats ranges that under-cover their file (silently
    # skip-dropping rows), so a pre-v3 JSON manifest is rebuilt from
    # footers in full, once. Parquet manifests are v3-era by
    # construction. ONE parse: the stamp is read from the same raw
    # dict the entries come from (topic.manifest() would re-parse).
    if mpath.exists() and not (mdir / "stats.parquet").exists():
        try:
            raw = json.loads(mpath.read_text())
        except (ValueError, OSError):
            raw = {"_v": None}
        if raw.get("_v") != _MANIFEST_FORMAT:
            stats = {}
        else:
            stats = {
                k: (v if isinstance(v, dict) else {"t": v, "c": {}})
                for k, v in raw.items()
                if not k.startswith("_")
            }
    else:
        # topic.manifest() hands out its shared parse: entries below
        # are replaced, never changed in place
        stats = topic.manifest()
    live = {p.name: p for p in topic.shards()}
    # drop entries whose files are gone (compacted/cleaned)
    stats = {k: v for k, v in stats.items() if k in live}
    numeric = {
        c.name
        for c in topic.entry.columns
        if c.dtype in ("int8", "int16", "int32", "int64", "uint8", "uint16",
                       "uint32", "uint64", "float32", "float64")
    }
    from ella_spark.bloom import DEFAULT_FPP

    col_dtypes = {c.name: c.dtype for c in topic.entry.columns}
    bloomable = [c for c in (bloom_cols or []) if c in col_dtypes]
    fpp = DEFAULT_FPP if bloom_fpp is None else bloom_fpp
    added = 0
    for name, path in live.items():
        ent = stats.get(name)
        need_stats = not (ent is not None and (ent.get("c") or not numeric))
        need_blooms = [
            c for c in bloomable if c not in (ent or {}).get("b", {})
        ]
        if not need_stats:
            if need_blooms:
                blooms = _shard_blooms(path, need_blooms, col_dtypes, fpp)
                if blooms:
                    stats[name] = {**ent, "b": {**ent.get("b", {}), **blooms}}
            continue
        # new shard, or a v1-era entry with no column stats yet: (re)read
        # the footer so pre-upgrade shards gain col_ranges skipping too
        try:
            md = pq.ParquetFile(path).metadata
        except OSError:
            continue  # mid-rename; next pass
        mins: dict = {}
        maxs: dict = {}
        seen: dict = {}  # col -> row groups that contributed stats
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                col = rg.column(i)
                cn = col.path_in_schema
                if cn != TIME_COLUMN and cn not in numeric:
                    continue
                if col.statistics and col.statistics.has_min_max:
                    s = col.statistics
                    seen[cn] = seen.get(cn, 0) + 1
                    mins[cn] = s.min if cn not in mins else min(mins[cn], s.min)
                    maxs[cn] = s.max if cn not in maxs else max(maxs[cn], s.max)
        # a column's range is only sound if EVERY row group contributed
        # stats — a partial range under-covers the file and skipping
        # against it would silently drop the statless row groups' rows
        complete = {
            cn for cn, k in seen.items() if k == md.num_row_groups
        }
        if TIME_COLUMN not in complete:
            continue  # time stats absent/partial: file stays un-skippable
        stats[name] = {
            "t": [int(mins[TIME_COLUMN]), int(maxs[TIME_COLUMN])],
            "c": {
                cn: [mins[cn], maxs[cn]]
                for cn in sorted(complete)
                if cn != TIME_COLUMN
            },
        }
        # shards are immutable, so blooms built for this file by an
        # earlier pass stay valid across a stats rebuild (v1-era
        # entries gaining column ranges) — carry them over
        if ent and ent.get("b"):
            stats[name]["b"] = ent["b"]
        if bloomable:
            have_b = stats[name].get("b", {})
            need = [c for c in bloomable if c not in have_b]
            if need:
                blooms = _shard_blooms(path, need, col_dtypes, fpp)
                if blooms:
                    stats[name]["b"] = {**have_b, **blooms}
        added += 1
    mdir.mkdir(exist_ok=True)
    if len(stats) > MANIFEST_PARQUET_THRESHOLD:
        # columnar manifest: at 10⁵+ shards json.loads dominates the
        # driver-side skipping path (~120 B/entry); parquet loads the
        # same entries sub-second and compresses ~10×. Same logical
        # shape — Topic.manifest() normalizes both formats.
        import pyarrow as pa

        names = sorted(stats)
        tbl = pa.table(
            {
                "name": names,
                "tmin": [int(stats[n]["t"][0]) for n in names],
                "tmax": [int(stats[n]["t"][1]) for n in names],
                "c": [json.dumps(stats[n].get("c") or {}) for n in names],
                "b": [json.dumps(stats[n].get("b") or {}) for n in names],
            }
        )
        tmp = mdir / f".stats-{uuid.uuid4().hex}.tmp"
        pq.write_table(tbl, tmp)
        tmp.replace(mdir / "stats.parquet")
        mpath.unlink(missing_ok=True)
    else:
        # remove a stale parquet manifest FIRST: the reader prefers
        # parquet, and a brief no-manifest window is merely
        # conservative (all files read) — never stale skipping
        (mdir / "stats.parquet").unlink(missing_ok=True)
        tmp = mdir / f".stats-{uuid.uuid4().hex}.tmp"
        tmp.write_text(json.dumps({**stats, "_v": _MANIFEST_FORMAT}))
        tmp.replace(mpath)
    return added



