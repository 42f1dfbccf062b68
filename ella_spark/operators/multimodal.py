"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed via Arrow-batched pandas iterators.

Beyond the reference's surface (ella has no media types). Design:

- media column = ``binary`` payload + struct metadata column
  (``{kind, width, height, sample_rate, n_frames, codec}``)
- decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` stages: Arrow batch in → pandas out, so the Python
  work is vectorized per batch and parallel per partition. At 100 TB
  the binary column stays columnar in parquet; partition pruning and
  projection mean a metadata-only query never touches the bytes.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this container, so
the decode kernel is pluggable: pass ``decoder=`` to use a real one;
the default ``fake_decoder`` is a deterministic stand-in (hash-seeded
pixel stats) that keeps the Spark-side plumbing — schema, batching,
partitioning — real and testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("kind", StringType()),  # image | audio | video
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("codec", StringType()),
    ]
)


def media_schema(id_col: str = "media_id") -> StructType:
    return StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("payload", BinaryType(), True),
            StructField("meta", MEDIA_META_SCHEMA, True),
        ]
    )


def fake_decoder(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decode+featurize kernel.

    Derives an 8-dim feature vector from the payload bytes (sha256
    expansion). Replace with a real decoder where PIL/ffmpeg exist:
    it must map bytes -> fixed-length list[float].
    """
    if payload is None:
        return None
    h = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in h[:8]]


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], list[float]] = fake_decoder,
    payload_col: str = "payload",
    id_col: str = "media_id",
    feature_dim: int = 8,
) -> DataFrame:
    """Decode+featurize each media row → (id, features array<double>).

    mapInPandas: one Arrow batch at a time, vectorized pandas apply,
    output schema fixed — the scalable shape for Python-side media work
    (per-partition parallel; no driver collect).
    """
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("features", ArrayType(DoubleType()), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "features": pdf[payload_col].map(decoder),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Resize kernel plumbing: bytes -> bytes with updated metadata.

    Default resizer is a deterministic truncate/pad fake (real one
    needs PIL; same signature)."""
    if resizer is None:

        def resizer(b: bytes, w: int, h: int) -> bytes:  # noqa: F811
            if b is None:
                return None
            need = max(1, (w * h) // 64)
            return (b * (need // max(len(b), 1) + 1))[:need]

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("payload", BinaryType(), True),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[payload_col].map(lambda b: resizer(b, width, height)),
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "media_id",
) -> DataFrame:
    """Frame-sampling plumbing for video rows: explodes frame indices
    0, n, 2n, … up to meta.n_frames — pure JVM (sequence+explode); the
    per-frame decode would chain an extract_features stage."""
    return (
        df.where(F.col("meta.kind") == "video")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_idx"),
        )
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Metadata-only aggregate: never reads payload bytes (column
    pruning keeps the binary column out of the scan)."""
    return df.groupBy(F.col("meta.kind").alias("kind")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.avg(F.col("meta.width")).alias("avg_width"),
        F.avg(F.col("meta.n_frames")).alias("avg_frames"),
    )


def window_audio(
    df: DataFrame,
    window_ms: int = 1000,
    hop_ms: int = 500,
    featurizer: Callable[[bytes, int, int], list[float]] | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Audio windowing plumbing: each audio row explodes into
    overlapping (window_idx, start_ms) frames — the audio analog of
    sample_frames. Clips shorter than ``window_ms`` (or with NULL
    duration metadata) produce ZERO windows: a full window must fit,
    so a real featurizer slicing [start, start + window_ms) never
    reads past the clip (r10 self-review — the old grid emitted a
    phantom window at 0 for short/NULL-duration clips).

    Two paths (r10 self-review):

    - ``featurizer=None`` (default): the window GRID only — pure JVM
      (sequence + posexplode over duration from meta.n_frames /
      meta.sample_rate; frames = samples for audio), ``features``
      NULL, and the payload column is never selected, so column
      pruning keeps the bytes out of the scan entirely.
    - with a featurizer ((bytes, start_ms, window_ms) -> list[float],
      the signature a real librosa/ffmpeg kernel shares): ONE
      mapInPandas row per clip emits all of that clip's windows from
      Python, so the payload crosses the Arrow boundary ONCE per clip
      — never once per window (the old explode-then-featurize shape
      shipped O(windows × clip_bytes): a 1-hour clip at hop 500 ms
      replicated its bytes ~7200×).

    Returns (id, window_idx, start_ms, features). 100 TB: the grid is
    linear in total audio duration; the featurize stage is
    Arrow-batched and partition-parallel.
    """
    dur_ms = (
        F.col("meta.n_frames").cast("long")
        * 1000
        / F.greatest(F.col("meta.sample_rate"), F.lit(1))
    ).cast("long")
    # NULL duration compares NULL >= window_ms -> false -> excluded
    eligible = df.where(
        (F.col("meta.kind") == "audio") & (dur_ms >= window_ms)
    )
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("window_idx", IntegerType(), False),
            StructField("start_ms", LongType(), False),
            StructField("features", ArrayType(DoubleType()), True),
        ]
    )

    if featurizer is None:
        return eligible.select(
            id_col,
            F.posexplode(
                F.sequence(
                    F.lit(0).cast("long"),
                    dur_ms - window_ms,
                    F.lit(hop_ms).cast("long"),
                )
            ).alias("window_idx", "start_ms"),
            F.lit(None).cast(ArrayType(DoubleType())).alias("features"),
        )

    src = eligible.select(id_col, payload_col, dur_ms.alias("_dur_ms"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, starts, feats = [], [], [], []
            for mid, b, dur in zip(
                pdf[id_col], pdf[payload_col], pdf["_dur_ms"]
            ):
                n_win = int((int(dur) - window_ms) // hop_ms) + 1
                for w in range(n_win):
                    start = w * hop_ms
                    ids.append(mid)
                    idxs.append(w)
                    starts.append(start)
                    # a NULL payload keeps its grid rows (duration is
                    # metadata) but never reaches the kernel: real
                    # featurizers assume bytes
                    feats.append(
                        None if b is None else featurizer(b, start, window_ms)
                    )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "window_idx": pd.Series(idxs, dtype="int32"),
                    "start_ms": pd.Series(starts, dtype="int64"),
                    "features": feats,
                }
            )

    return src.mapInPandas(run, out_schema)
