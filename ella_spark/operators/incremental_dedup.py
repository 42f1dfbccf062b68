"""Incremental cross-corpus deduplication: a persisted fingerprint
index + `dedup_against` for new batches.

Motivation (100 TB): a training corpus is not deduplicated once — new
crawl shards arrive continuously, and re-running full-corpus dedup per
batch re-shuffles the whole history. The production shape is an
**index of corpus fingerprints** (digests + MinHash band buckets +
signatures — a few % of corpus bytes, ids only, no text), built once
and extended as batches are admitted; each new batch joins against the
index, never against corpus text:

- exact: ``md5(normalized text)`` digest equi-join (16 B/doc),
- near: MinHash band-bucket equi-join for candidates (24 B per
  (doc, band)), then estimated Jaccard from stored signatures
  (``num_hashes``·8 B/doc) — component-agreement fraction, the
  standard unbiased MinHash estimator. Corpus shingle sets are NOT
  stored (they are O(text) — keeping them would defeat the index), so
  near-dup verification is the signature estimate; choose
  ``num_hashes`` for the precision the pipeline needs (16 → ±0.25 at
  jaccard 0.5; 64 → ±0.12). The full-corpus operator
  (`dedup.minhash_lsh_pairs`) remains the exact-verify path.

The analogy to `Ella.create_vector_index` is deliberate: both are
train/build-once per-corpus artifacts living next to the data they
index, versioned by rebuild.

Layout under ``<path>/``:
    meta.json                   parameters (k, num_hashes, bands, cols)
    digests/*.parquet           (content_hash, doc_id)
    bands/*.parquet             (band_idx, band_hash, doc_id)
    sigs/*.parquet              (doc_id, sig: array<long>)

All joins are equi-joins on fixed-width keys; the new batch is the
small side (AQE broadcasts it when it fits). ``extend`` appends —
parquet files are immutable, so readers never see partial state.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ella_spark.operators.dedup import normalize_text, shingle_minhash_udf
from ella_spark.session import local_frame


class DedupIndex:
    """Persisted corpus fingerprint index (see module docstring)."""

    VERSION = 1

    def __init__(self, path: str | os.PathLike):
        self.path = Path(path)
        meta = json.loads((self.path / "meta.json").read_text())
        if meta.get("version") != self.VERSION:
            raise ValueError(
                f"dedup index at {path} has version {meta.get('version')}, "
                f"expected {self.VERSION}"
            )
        self.text_col: str = meta["text_col"]
        self.id_col: str = meta["id_col"]
        self.shingle_k: int = meta["shingle_k"]
        self.num_hashes: int = meta["num_hashes"]
        self.bands: int = meta["bands"]

    # -- construction ------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str | os.PathLike,
        text_col: str = "text",
        id_col: str = "doc_id",
        shingle_k: int = 8,
        num_hashes: int = 16,
        bands: int = 4,
    ) -> "DedupIndex":
        """Fingerprint every corpus doc and persist the index. One scan
        of the corpus; everything written is ids + fixed-width hashes."""
        p = Path(path)
        p.mkdir(parents=True, exist_ok=True)
        (p / "meta.json").write_text(
            json.dumps(
                {
                    "version": cls.VERSION,
                    "text_col": text_col,
                    "id_col": id_col,
                    "shingle_k": shingle_k,
                    "num_hashes": num_hashes,
                    "bands": bands,
                }
            )
        )
        idx = cls(p)
        idx._append(df)
        return idx

    def extend(self, df: DataFrame) -> None:
        """Fold a new (already admitted) batch into the index."""
        self._append(df)

    def _fingerprints(self, df: DataFrame) -> DataFrame:
        """(doc_id, content_hash, sig, bands[]) in ONE text pass.

        Documents shorter than ``shingle_k`` have an EMPTY shingle set
        and would all share the degenerate all-zeros signature —
        band-colliding every short doc with every other as a fake
        jaccard-1.0 near-dup — so their ``sig`` is nulled here and the
        band/sig writers and the near-dup probe skip them. Exact-digest
        matching still covers them fully.
        """
        smh = shingle_minhash_udf(self.shingle_k, self.num_hashes)
        rows_per_band = self.num_hashes // self.bands
        norm = normalize_text(F.col(self.text_col))
        return (
            df.select(
                F.col(self.id_col).alias("doc_id"),
                F.md5(norm.cast("binary")).alias("content_hash"),
                F.when(
                    F.length(norm) >= self.shingle_k, smh(norm)
                ).alias("_s"),
            )
            .withColumn("sig", F.col("_s.sig"))
            .withColumn(
                "band_hashes",
                F.array(
                    *[
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        )
                        for b in range(self.bands)
                    ]
                ),
            )
            .drop("_s")
        )

    def _append(self, df: DataFrame) -> None:
        fp = self._fingerprints(df).persist()
        try:
            fp.select("content_hash", "doc_id").write.mode("append").parquet(
                str(self.path / "digests")
            )
            sigful = fp.where(F.col("sig").isNotNull())
            sigful.select("doc_id", "sig").write.mode("append").parquet(
                str(self.path / "sigs")
            )
            (
                sigful.select(
                    "doc_id",
                    F.posexplode("band_hashes").alias("band_idx", "band_hash"),
                )
                .write.mode("append")
                .parquet(str(self.path / "bands"))
            )
        finally:
            fp.unpersist()

    # -- reads -------------------------------------------------------------

    def _part(self, spark: SparkSession, name: str, schema: str) -> DataFrame:
        d = self.path / name
        if not d.exists():
            return local_frame(spark, [], schema)
        return spark.read.schema(schema).parquet(str(d))

    def exact_matches(self, df: DataFrame, _fp: DataFrame | None = None) -> DataFrame:
        """(doc_id, exact_dup_of) — batch docs whose normalized content
        digest already exists in the corpus (lowest corpus id wins).
        ``_fp``: an already-computed fingerprint frame (dedup_against
        shares ONE text pass between the exact and near probes)."""
        spark = df.sparkSession
        corpus = self._part(spark, "digests", "content_hash string, doc_id bigint")
        if _fp is not None:
            batch = _fp.select("doc_id", "content_hash")
        else:
            norm = normalize_text(F.col(self.text_col))
            batch = df.select(
                F.col(self.id_col).alias("doc_id"),
                F.md5(norm.cast("binary")).alias("content_hash"),
            )
        return (
            batch.join(
                corpus.withColumnRenamed("doc_id", "corpus_id"), "content_hash"
            )
            .groupBy("doc_id")
            .agg(F.min("corpus_id").alias("exact_dup_of"))
        )

    def near_matches(
        self,
        df: DataFrame,
        threshold: float = 0.5,
        _fp: DataFrame | None = None,
    ) -> DataFrame:
        """(doc_id, near_dup_of, est_jaccard) — best corpus near-match
        per batch doc, estimated from MinHash signature agreement.

        Candidate generation is the banded-LSH equi-join against the
        stored buckets; only candidate (ids, sigs) are ever joined —
        no text, no shingles, no O(n·m) pair space."""
        spark = df.sparkSession
        # lazy localCheckpoint: materialized once on first use, shared
        # by the candidate and signature branches, reclaimed by the
        # context cleaner when unreferenced (an explicit unpersist in
        # a finally would fire BEFORE the caller materializes the
        # returned lazy frame and silently undo the caching)
        fp = (
            _fp
            if _fp is not None
            else self._fingerprints(df).localCheckpoint(eager=False)
        )
        probe = fp.where(F.col("sig").isNotNull()).select(
            F.col("doc_id"),
            F.posexplode("band_hashes").alias("band_idx", "band_hash"),
        )
        buckets = self._part(
            spark, "bands", "doc_id bigint, band_idx int, band_hash bigint"
        ).withColumnRenamed("doc_id", "corpus_id")
        cand = (
            probe.join(buckets, ["band_idx", "band_hash"])
            .select("doc_id", "corpus_id")
            .dropDuplicates(["doc_id", "corpus_id"])
        )
        corpus_sigs = self._part(
            spark, "sigs", f"doc_id bigint, sig array<bigint>"
        ).select(
            F.col("doc_id").alias("corpus_id"), F.col("sig").alias("sig_c")
        )
        batch_sigs = fp.select("doc_id", F.col("sig").alias("sig_b"))
        est = (
            f"size(filter(zip_with(sig_b, sig_c, (x, y) -> x = y), v -> v))"
            f" / cast({self.num_hashes} as double)"
        )
        return (
            cand.join(batch_sigs, "doc_id")
            .join(corpus_sigs, "corpus_id")
            .withColumn("est_jaccard", F.expr(est))
            .where(F.col("est_jaccard") >= threshold)
            .groupBy("doc_id")
            # best match = highest est_jaccard, ties to lowest
            # corpus id (deterministic): lexicographic max_by
            .agg(
                F.max_by(
                    F.struct(
                        F.col("corpus_id").alias("near_dup_of"),
                        F.col("est_jaccard"),
                    ),
                    F.struct(
                        F.col("est_jaccard").alias("j"),
                        (-F.col("corpus_id")).alias("nid"),
                    ),
                ).alias("_best")
            )
            .select(
                "doc_id",
                F.col("_best.near_dup_of").alias("near_dup_of"),
                F.col("_best.est_jaccard").alias("est_jaccard"),
            )
        )

    def dedup_against(
        self,
        df: DataFrame,
        threshold: float = 0.5,
        near: bool = True,
    ) -> DataFrame:
        """Annotate a new batch against the corpus: each row gains
        ``exact_dup_of``, ``near_dup_of``, ``est_jaccard`` (nullable)
        and ``is_unique``. Downstream admits ``is_unique`` rows and
        calls :meth:`extend` on them.

        Contract: batch-vs-CORPUS only — duplicates WITHIN the batch
        are not flagged against each other (run `dedup.exact_dedup` /
        `minhash_lsh_pairs` on the batch first, or extend the index
        batch-by-batch so later batches see earlier ones)."""
        # ONE fingerprint pass (lazy localCheckpoint) feeds both probes
        fp = self._fingerprints(df).localCheckpoint(eager=False)
        out = df.join(
            self.exact_matches(df, _fp=fp).withColumnRenamed(
                "doc_id", self.id_col
            ),
            self.id_col,
            "left",
        )
        if near:
            out = out.join(
                self.near_matches(df, threshold, _fp=fp).withColumnRenamed(
                    "doc_id", self.id_col
                ),
                self.id_col,
                "left",
            )
        else:
            out = out.withColumn("near_dup_of", F.lit(None).cast("bigint"))
            out = out.withColumn("est_jaccard", F.lit(None).cast("double"))
        return out.withColumn(
            "is_unique",
            F.col("exact_dup_of").isNull() & F.col("near_dup_of").isNull(),
        )


def dedup_stream(index: DedupIndex, stream: DataFrame) -> DataFrame:
    """Annotate an UNBOUNDED document stream against the persisted
    corpus index — the streaming admission gate of a continuously-fed
    training corpus.

    Stream-static joins only, and every fingerprint is computed as
    row-wise columns ON the stream (no stream self-join, no stream
    aggregation — so no watermark is required and each row is
    annotated exactly once in the micro-batch it arrives):

    - ``exact_dup_of``: digest equi-join against the static digest
      table, which IS pre-aggregated to its lowest corpus id
      (aggregating the static side is allowed where aggregating the
      stream is not);
    - ``near_candidate``: one stream-static LEFT join per MinHash band
      against that band's distinct bucket hashes — true if any band
      collides with a corpus bucket. Candidate-level only: choosing
      the BEST near match needs a per-doc aggregation, which
      micro-batch semantics would force behind a watermark —
      downstream either drops flagged docs (conservative) or routes
      them to the batch ``near_matches`` verifier.

    The static sides re-read the index parquet per micro-batch
    (cheap: ids + fixed-width hashes), so ``extend`` between batches
    is picked up automatically — appends are new immutable files.
    """
    spark = stream.sparkSession
    smh = shingle_minhash_udf(index.shingle_k, index.num_hashes)
    rows_per_band = index.num_hashes // index.bands
    norm = normalize_text(F.col(index.text_col))
    out = stream.withColumn(
        "content_hash", F.md5(norm.cast("binary"))
    ).withColumn(
        "_sig",
        F.when(F.length(norm) >= index.shingle_k, smh(norm)["sig"]),
    )
    digests = (
        index._part(spark, "digests", "content_hash string, doc_id bigint")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("exact_dup_of"))
    )
    out = out.join(digests, "content_hash", "left")

    buckets = index._part(
        spark, "bands", "doc_id bigint, band_idx int, band_hash bigint"
    )
    hit_cols = []
    for b in range(index.bands):
        # null for sub-shingle docs (null join keys never match)
        bh = F.when(
            F.col("_sig").isNotNull(),
            F.xxhash64(
                *[
                    F.element_at("_sig", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ]
            ),
        )
        side = (
            buckets.where(F.col("band_idx") == b)
            .select(F.col("band_hash").alias(f"_bh{b}"))
            .distinct()
            .withColumn(f"_hit{b}", F.lit(True))
        )
        out = out.withColumn(f"_bh{b}", bh).join(side, f"_bh{b}", "left")
        hit_cols.append(F.coalesce(F.col(f"_hit{b}"), F.lit(False)))
    near = hit_cols[0]
    for h in hit_cols[1:]:
        near = near | h
    drop = (
        ["content_hash", "_sig"]
        + [f"_bh{b}" for b in range(index.bands)]
        + [f"_hit{b}" for b in range(index.bands)]
    )
    return (
        out.withColumn("near_candidate", near)
        .withColumn(
            "is_clean",
            F.col("exact_dup_of").isNull() & ~F.col("near_candidate"),
        )
        .drop(*drop)
    )
