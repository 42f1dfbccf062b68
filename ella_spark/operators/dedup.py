"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (ella has no dedup): exact hash dedup,
character-shingle Jaccard, MinHash+LSH near-dup, SimHash, and
embedding-cosine near-dup. All hot paths are JVM-side built-ins
(xxhash64, higher-order array functions) — no Python UDFs — so every
stage scales: LSH turns the O(n²) pair space into a band-bucket
shuffle join, which is the only strategy that survives 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

_BARRIER_SEQ = 0  # unique CollectMetrics names within a session

_SPLITMIX_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_ROLL_P = np.uint64(1099511628211)  # FNV prime as the polynomial base


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates rolling-hash values.
    Pure uint64 wraparound arithmetic: deterministic everywhere."""
    z = (x + _SPLITMIX_GAMMA).astype(np.uint64)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _kgram_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 64-bit hashes of all *character* k-grams of ``text``,
    vectorized: one Horner pass (k shifted multiply-adds) over the
    code-point array instead of materializing n substrings. O(n*k)
    with no per-position string copies — the JVM substr formulation
    is O(n^2) because UTF8String.substring scans from the start.
    UTF-32-LE decoding makes the grams character-based (identical to
    SQL substr() grams for any text, not just ASCII)."""
    b = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = b.shape[0]
    if n < k:
        return np.empty(0, dtype=np.uint64)
    m = n - k + 1
    acc = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        acc = acc * _ROLL_P + b[j : j + m]
    return np.unique(_mix64(acc))


def shingle_minhash_udf(k: int = 8, num_hashes: int = 16):
    """Arrow-batched UDF: text -> struct<sh: array<long>, sig: array<long>>.

    Computes the distinct hashed k-gram set AND its MinHash signature
    in one vectorized pass per document. This is the scale path for
    minhash_lsh_pairs: the equivalent JVM expression tree pays
    O(len^2) UTF8 substring scans plus num_hashes separate array
    traversals (measured ~7s for 5k docs vs ~0.3s here), and real
    corpus documents are KBs where the gap widens further.
    """
    seeds = _mix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
    empty_sig = np.zeros(num_hashes, dtype=np.int64)

    @F.pandas_udf(f"struct<sh: array<long>, sig: array<long>>")
    def _udf(text: pd.Series) -> pd.DataFrame:
        shs, sigs = [], []
        for t in text:
            h = _kgram_hashes(t if t is not None else "", k)
            if h.shape[0] == 0:
                shs.append(empty_sig[:0])
                sigs.append(empty_sig)
                continue
            # one (num_hashes x |sh|) scramble matrix, min per row
            sig = _mix64(h[None, :] ^ seeds[:, None]).min(axis=1)
            shs.append(h.view(np.int64))
            sigs.append(sig.view(np.int64))
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return _udf


def minhash_sig_udf(k: int = 8, num_hashes: int = 64):
    """Arrow-batched UDF: text -> MinHash signature (array<long>), or
    NULL for texts with no k-gram (shorter than k after normalization
    is the caller's filter; this guards the residual empties).

    The signature-only sibling of ``shingle_minhash_udf`` for
    consumers that must NOT ship the shingle sets — the streaming
    MinHash drift monitor keys on (group, sig): 8·num_hashes bytes
    per row cross the shuffle instead of the document text. Same
    hash chain as the production LSH path (``_kgram_hashes`` rolling
    Horner hash -> ``_mix64(h ^ seed_i)`` mins, seeds
    ``_mix64(1..num_hashes)``), so a group's elementwise-min fold is
    pinned value-identical to ``shingle_minhash_udf`` signatures on
    the same documents (MinHash union law:
    sig(A ∪ B) = min(sig(A), sig(B)) slotwise)."""
    seeds = _mix64(np.arange(1, num_hashes + 1, dtype=np.uint64))

    @F.pandas_udf("array<long>")
    def _udf(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            h = _kgram_hashes(t if t is not None else "", k)
            if h.shape[0] == 0:
                out.append(None)
                continue
            out.append(
                _mix64(h[None, :] ^ seeds[:, None]).min(axis=1).view(np.int64)
            )
        return pd.Series(out)

    return _udf


def hashed_grams_udf(k: int = 3):
    """Arrow-batched UDF: text -> array<long> of distinct hashed
    character k-grams.

    The Jaccard of two documents only needs |A∩B| and |A∪B|, which are
    identical over hashed grams and string grams unless two distinct
    grams collide in 64 bits within one compared pair (P ≈ |A∪B|²/2⁶⁵
    ≈ 1e-14 for KB-sized docs — negligible at any corpus size). This
    keeps shingling O(len·k) vectorized instead of the JVM
    sequence+substr form, which is O(len²) in UTF8 scans, and makes
    the downstream array_intersect compare 8-byte longs, not strings.
    """

    @F.pandas_udf("array<long>")
    def _udf(text: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _kgram_hashes(t if t is not None else "", k).view(np.int64)
                for t in text
            ]
        )

    return _udf


def simhash_udf(k: int = 4):
    """Arrow-batched UDF: text -> 64-bit SimHash fingerprint (long).

    Per document: hashed k-gram features -> per-bit votes via
    unpackbits -> majority sign. Replaces the explode + 64-sum-column
    hash aggregate (which evaluates 64 conditional expressions per
    exploded shingle row — ~93M evaluations for 5k docs)."""

    @F.pandas_udf("long")
    def _udf(text: pd.Series) -> pd.Series:
        out = np.zeros(len(text), dtype=np.uint64)
        for i, t in enumerate(text):
            h = _kgram_hashes(t if t is not None else "", k)
            if h.shape[0] == 0:
                continue
            # bits: (|h| x 64) 0/1 matrix, little-endian bit order
            bits = np.unpackbits(
                h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            votes = bits.sum(axis=0, dtype=np.int64)
            fp = np.zeros(64, dtype=np.uint64)
            fp[2 * votes > h.shape[0]] = 1
            out[i] = (fp << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return _udf


def normalize_text(col: Column) -> Column:
    """Canonical text normalization used by all dedup variants."""
    return F.lower(F.trim(col))


# NOTE: an earlier JVM-side sequence+substr shingle formulation was
# removed: even with the projected-attribute fix it is O(len²) in UTF8
# substring scans (UTF8String.substring seeks from the start), measured
# ~3.3 s vs ~0.3 s for the vectorized hashed_grams_udf at sf0.1.


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-content hash.

    One hash-aggregate shuffle on the content digest; at scale the
    digest (16 bytes) shuffles instead of the document bodies.
    """
    norm = normalize_text(F.col(text_col))
    return (
        df.withColumn("content_hash", F.md5(norm.cast("binary")))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    Pipeline: shingle → hash shingles to int64 (once) → minhash
    signature → split into ``bands`` bands → self-join on
    (band_idx, band_hash) → verify candidates with exact Jaccard over
    the hashed shingle sets. The band join is an equi-join on a hashed
    key, so Spark shuffles only (id, band_hash) pairs — never the
    O(n²) document pair space.

    ``shingle_k`` defaults to 8: with short shingles the *background*
    Jaccard of unrelated same-language documents is high enough
    (~0.2-0.3 at k=5) that the LSH S-curve floods candidates; 8-grams
    push background similarity near zero while true near-duplicates
    stay >0.8, so candidates ≈ real duplicates. Verification compares
    int64 shingle hashes, not strings — an order of magnitude cheaper
    per pair (64-bit collisions are negligible at any corpus size that
    fits a cluster).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    # Cache the hashed shingle sets + signatures: they feed both the
    # banding pipeline and the final verify join — without this the
    # whole shingle DAG would execute once per self-join side. (At
    # cluster scale this would be a persisted intermediate table /
    # checkpoint.) Shingling + minhash happen in ONE vectorized
    # Arrow-batched pass (see shingle_minhash_udf); the length
    # pre-filter is pushable and guarantees nonempty shingle sets.
    from ella_spark.sources import fan_out

    smh = shingle_minhash_udf(shingle_k, num_hashes)
    base = (
        fan_out(
            df.select(
                F.col(id_col).alias("_id"),
                normalize_text(F.col(text_col)).alias("_txt"),
            ).where(F.length("_txt") >= shingle_k)
        )
        .select("_id", smh("_txt").alias("_s"))
        .select("_id", F.col("_s.sh").alias("_sh"), F.col("_s.sig").alias("_sig"))
        .persist()
    )

    # Band the signatures: ONLY (id, band_idx, band_hash) flows into the
    # self-join — 24 bytes/row instead of the full shingle arrays.
    banded = base.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[
                                F.element_at("_sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_band.band_idx", "_band.band_hash")
    # NOT persisted: both self-join sides re-derive banding from the
    # cached ``base`` — a narrow map over cached rows is cheaper than a
    # second materialization barrier (measured ~1s saved at sf0.1).

    a = banded.alias("a")
    b = banded.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Re-attach shingle sets for exact-Jaccard verification of the
    # (much smaller) candidate set.
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    candidates = cand_ids.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        candidates.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: Carter–Wegman modulus + deterministic permutation constants for the
#: PORTABLE minhash variant (integer math only → bit-identical across
#: engines; 2^31-1 keeps a*(h%p)+b inside int64)
MINHASH_P = 2147483647
MINHASH_A = [(1103515245 * (i + 1) + 12345) % MINHASH_P for i in range(64)]
MINHASH_B = [(2654435761 * (i + 1) + 40503) % MINHASH_P for i in range(64)]
assert all(MINHASH_A[:16]) and all(MINHASH_B[:16])


def portable_hash32(col: Column) -> Column:
    """32-bit text hash computable identically in any engine with md5:
    integer value of the first 8 hex chars of the md5 digest. Used by
    the portable minhash variant so a DuckDB oracle can replay the
    EXACT pair set (xxhash64 has no cross-engine equivalent)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long")


def portable_hash60(col: Column) -> Column:
    """60-bit variant (15 md5 hex chars — the widest prefix that stays
    inside a signed int64 in every engine); used where 32 bits are too
    collision-prone, e.g. the portable SimHash fingerprint."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def minhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with ENGINE-PORTABLE hashing.

    Same banding pipeline and scale shape as ``minhash_lsh_pairs``
    (shingle → hash → minhash → band equi-join on (band, key) → exact
    Jaccard verify; only ids + band keys shuffle, never documents) but
    every hash is deterministic integer math any SQL engine reproduces
    bit-exactly: word ``shingle_words``-grams hashed via
    ``portable_hash32`` (md5 hex prefix), minhash via Carter–Wegman
    permutations (a·h+b mod 2^31−1). That makes the FULL pair set
    replayable by the DuckDB oracle — the hash-checked counterpart to
    the xxhash64 fast path, whose signatures no other engine can
    recompute. Cost: md5 per shingle is heavier than xxhash64 but
    stays whole-stage JVM codegen; word shingles (not char k-grams)
    keep the expression form O(words·k), avoiding the O(len²) UTF8
    substring scans that made JVM char-shingling a dead end.

    Returns (id_a, id_b, jaccard) with id_a < id_b, Jaccard computed
    on the distinct hashed shingle sets.
    """
    from ella_spark.sources import fan_out

    rows_per_band = num_hashes // bands
    k = shingle_words
    words = F.split(normalize_text(F.col(text_col)), r"\s+")
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("_w") - k),
        lambda i: F.concat_ws(" ", F.slice("_w", i + 1, k)),
    )
    hashed = F.array_distinct(F.transform("_sh", portable_hash32))
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    "_hs",
                    lambda h: (
                        F.lit(MINHASH_A[i]) * (h % MINHASH_P) + F.lit(MINHASH_B[i])
                    )
                    % MINHASH_P,
                )
            )
            for i in range(num_hashes)
        ]
    )
    base = (
        fan_out(df.select(F.col(id_col).alias("_id"), words.alias("_w")))
        .where(F.size("_w") >= k)
        .select("_id", shingles.alias("_sh"))
        .select("_id", hashed.alias("_hs"))
        .select("_id", "_hs", sig.alias("_sig"))
        .persist()
    )
    banded = base.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(
                                        "_sig", b * rows_per_band + r + 1
                                    ).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_band.band_idx", "_band.band_hash")
    a, b = banded.alias("a"), banded.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_hs").alias("hs_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_hs").alias("hs_b"))
    candidates = cand_ids.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = F.size(F.array_union("hs_a", "hs_b")).cast("double")
    return (
        candidates.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 60,
    chunk_bits: int = 15,
    hamming_threshold: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with ENGINE-PORTABLE hashing.

    Same chunk-bucket pipeline and scale shape as ``simhash_dedup``
    (map-only fingerprints → chunk equi-join → bit_count verify) but
    the fingerprint is pure integer math any SQL engine reproduces
    bit-exactly: per document, the DISTINCT word-token set hashed via
    ``portable_hash60`` (60 bits — 32 was measured far too
    collision-prone on same-vocabulary corpora: 15 351 pairs at
    sf0.01 vs 64-bit simhash_dedup's 18), bit j of the fingerprint
    set by strict majority vote over the features' j-th hash bits.
    Features are word BIGRAMS, not unigrams — same-language documents
    share most of their unigram vocabulary, which collapses
    majority-vote fingerprints together (measured 2 932 pairs at
    sf0.01 with unigrams vs tens with bigrams); bigrams carry word
    order, so unrelated documents diverge. With ``n_bits/chunk_bits``
    = 4 chunks, any pair within Hamming ≤ 3 shares at least one exact
    chunk (pigeonhole), so the bucket join has full recall at the
    threshold. Set (not multiset) feature semantics keep the oracle
    replay simple and exact.

    Returns (id_a, id_b, hamming) with id_a < id_b, Hamming ≤
    ``hamming_threshold``.
    """
    from ella_spark.sources import fan_out

    n_chunks = n_bits // chunk_bits
    assert hamming_threshold < n_chunks, "pigeonhole recall needs ham < chunks"
    words = F.filter(
        F.split(normalize_text(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("_w") - 2),
        lambda i: F.concat_ws(" ", F.slice("_w", i + 1, 2)),
    )
    hashed = F.array_distinct(F.transform("_bg", portable_hash60))

    def vote(j: int) -> Column:
        return F.aggregate(
            "_hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1)),
        )

    fp = None
    for j in range(n_bits):
        bit = F.when(
            vote(j) * 2 > F.size("_hs"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit

    base = (
        fan_out(df.select(F.col(id_col).alias("_id"), words.alias("_w")))
        .where(F.size("_w") >= 2)
        .select("_id", bigrams.alias("_bg"))
        .select("_id", hashed.alias("_hs"))
        .select("_id", fp.alias("_fp"))
        .persist()
    )
    chunked = base.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright("_fp", c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk_key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("_c"),
    ).select("_id", "_fp", "_c.chunk_idx", "_c.chunk_key")
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= hamming_threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_parallelism(spark) -> int:
    """Target partition count for a CPU-bound verify stage (the
    Levenshtein DP): classic sessions report
    ``sparkContext.defaultParallelism``; Spark Connect has no
    SparkContext handle (AttributeError / PySparkNotImplementedError
    ONLY — a dead/stopped session's error propagates, masking it here
    would resurface later as a misleading shuffle-partitions
    fallback), so fall back to shuffle.partitions when it is a plain
    integer and to Spark's own 200 default when it is unset or
    symbolic ('auto' under AQE autotuning)."""
    try:
        from pyspark.errors import PySparkNotImplementedError
    except ImportError:  # older pyspark: only the attribute can miss —
        # the sentinel must still be an exception CLASS (an empty
        # tuple in an except clause raises TypeError at catch time)
        PySparkNotImplementedError = AttributeError  # type: ignore
    try:
        return spark.sparkContext.defaultParallelism
    except (AttributeError, PySparkNotImplementedError):
        raw = spark.conf.get("spark.sql.shuffle.partitions", None)
        if raw is not None and str(raw).isdigit():
            return int(raw)
        return 200


def _lead_candidates(base: DataFrame, payload_col: str, window: int) -> DataFrame:
    """Shared id-adjacency candidate generator of the bounded-window
    pair family (ngram_jaccard / edit_distance / containment_pairs).

    ``base`` must carry (_id, _grp, <payload_col>). Each row is paired
    with the next ``window`` rows of its ``_grp`` in ``_id`` order via
    ``lead()`` — ONE exchange on the group key + one window pass + a
    bounded explode; lead() never crosses the PARTITION BY boundary,
    so the same-group contract holds by construction. (The window
    pass and the explode are two selects because a generator
    expression may not contain window functions.)

    Returns (id_a, pay_a, id_b, pay_b) candidate rows, ≤ window per
    input row.
    """
    w = Window.partitionBy("_grp").orderBy("_id")
    leads = base.select(
        F.col("_id").alias("id_a"),
        F.col(payload_col).alias("pay_a"),
        *[
            F.lead("_id", j).over(w).alias(f"_idb{j}")
            for j in range(1, window + 1)
        ],
        *[
            F.lead(payload_col, j).over(w).alias(f"_payb{j}")
            for j in range(1, window + 1)
        ],
    )
    return (
        leads.select(
            "id_a",
            "pay_a",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"_idb{j}").alias("id_b"),
                            F.col(f"_payb{j}").alias("pay_b"),
                        )
                        for j in range(1, window + 1)
                    ]
                )
            ).alias("_c"),
        )
        .where(F.col("_c.id_b").isNotNull())
        .select("id_a", "pay_a", F.col("_c.id_b").alias("id_b"), F.col("_c.pay_b").alias("pay_b"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    window: int = 3,
    partition_col: str | None = "lang",
    min_jaccard: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for bounded candidate windows.

    Candidate generation is **id-adjacency, not similarity**: each doc
    is compared against the next ``window`` doc ids in the same
    ``partition_col`` group. Recall therefore depends on id locality —
    duplicates whose ids are more than ``window`` apart within a group
    are NEVER compared (pinned by
    test_ngram_window_is_id_adjacent_not_similarity). That is the
    deliberate contract: a deterministic, oracle-checkable pair set
    for pipelines whose ingest assigns nearby ids to nearby documents
    (crawl order, shard order). For open-world near-dup discovery with
    no id-locality assumption, use ``minhash_lsh_candidates`` — its
    banded-signature buckets find id-distant duplicates. The equi-join
    on the partition column keeps this a bounded-fanout join, not a
    cross product.

    Shingles are hashed character k-grams (hashed_grams_udf): the
    Jaccard value equals the string-gram Jaccard up to negligible
    64-bit collisions, while shingling stays O(len·k) vectorized and
    the pair comparison intersects long arrays instead of strings.

    The candidate window is generated with ``lead()`` over the
    (group, id) ordering — NOT a rank-band self-join. A self-join
    re-derives the shingle UDF and the ordering sort on BOTH sides
    and shuffles twice; ``lead(_sh, j)`` for j = 1..window rides the
    single existing sort, so the whole operator is ONE exchange on
    the group key + one window pass + a bounded explode (window rows
    out per row in). Measured 1.8 s -> 0.6 s warm at sf0.1 for the
    keep-best pipeline; at 100 TB it removes a full shuffle of the
    shingle arrays. lead() never crosses the PARTITION BY boundary,
    so the same-group contract is preserved by construction.

    ``min_jaccard`` applies the threshold INSIDE the operator behind a
    CollectMetrics (``observe``) pushdown barrier: n_pairs counts ALL
    window candidates (pre-threshold), and the barrier keeps any
    caller-side re-filter from being pushed into the candidate
    generation — the stable operator contract (it also made the
    threshold safe back when candidates came from a self-join, where
    a substituted filter cost O(n²/group) array intersections,
    measured 0.5 s -> 8.8 s at sf0.01).
    """
    from ella_spark.sources import fan_out

    base = fan_out(
        df.select(
            F.col(id_col).alias("_id"),
            (F.col(partition_col) if partition_col else F.lit("all")).alias("_grp"),
            normalize_text(F.col(text_col)).alias("_txt"),
        )
    ).select(
        "_id", "_grp", hashed_grams_udf(shingle_k)(F.col("_txt")).alias("_sh")
    )
    cand = _lead_candidates(base, "_sh", window)
    # The set intersection/union is the CPU-heavy verify step (array
    # hash-set ops per pair, interpreted — not codegen'd), and left in
    # the window stage it runs at the GROUP key's parallelism: a
    # handful of languages, one giant 'en' partition — the operator
    # cannot use more cores than groups at ANY cluster size (the
    # edit_distance_pairs straggler class, guide §2.5). Round-robin
    # redistributing the candidate rows costs one exchange of the
    # hashed-gram arrays and makes the verify stage corpus-parallel
    # (r15: 1.19 s -> 0.88 s warm at sf0.1 even with only 5 groups).
    cand = cand.repartition(_verify_parallelism(df.sparkSession))
    inter = F.size(F.array_intersect(F.col("pay_a"), F.col("pay_b"))).cast("double")
    union = F.size(F.array_union(F.col("pay_a"), F.col("pay_b"))).cast("double")
    out = cand.select(
        "id_a",
        "id_b",
        F.when(union > 0, F.round(inter / union, 6)).otherwise(0.0).alias("jaccard"),
    )
    if min_jaccard is not None:
        global _BARRIER_SEQ
        _BARRIER_SEQ += 1
        out = out.observe(
            f"ngram_jaccard_pairs_{_BARRIER_SEQ}", F.count(F.lit(1)).alias("n_pairs")
        ).where(F.col("jaccard") >= min_jaccard)
    return out


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    partition_col: str | None = "lang",
    prefix_cap: int = 256,
) -> DataFrame:
    """Exact Levenshtein verification over bounded candidate windows.

    The DP behind edit distance is O(L·L) per pair — unbounded doc
    lengths would make a single pair arbitrarily expensive, so the
    comparison runs on a ``prefix_cap``-char normalized prefix (near-
    duplicate prose diverges within the first few hundred chars far
    more often than it converges after them; the cap is the standard
    production compromise and bounds every pair at O(cap²) regardless
    of corpus size). Candidate generation is the same id-adjacency
    contract as ngram_jaccard_pairs: each doc vs the next ``window``
    ids in its ``partition_col`` group — lead()-generated over one
    group-keyed window pass, O(n·window) pairs, never all-pairs. Levenshtein itself is a JVM
    built-in (whole-stage codegen), identical semantics in DuckDB —
    the oracle replays the exact distances.

    Returns (id_a, id_b, edit_dist, rel_dist) where rel_dist =
    dist / max(len_a, len_b) over the capped prefixes.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        (F.col(partition_col) if partition_col else F.lit("all")).alias("_grp"),
        normalize_text(F.col(text_col)).substr(1, prefix_cap).alias("_txt"),
    )
    cand = _lead_candidates(base, "_txt", window)
    # the Levenshtein DP is O(cap²) ≈ 65k cell ops PER PAIR — orders
    # of magnitude heavier than the rows are wide. Left in the window
    # stage it runs at the GROUP key's parallelism (a handful of
    # languages), serializing the whole operator on a few cores;
    # redistributing the tiny (id, prefix, prefix) candidate rows
    # round-robin costs one exchange of capped strings and lets every
    # core verify (measured 12.4 s -> ~1 s at sf0.1, 32 cores)
    cand = cand.repartition(_verify_parallelism(df.sparkSession))
    dist = F.levenshtein(F.col("pay_a"), F.col("pay_b"))
    longest = F.greatest(
        F.length(F.col("pay_a")), F.length(F.col("pay_b"))
    ).cast("double")
    return cand.select(
        "id_a",
        "id_b",
        dist.cast("bigint").alias("edit_dist"),
        F.when(longest > 0, F.round(dist / longest, 6))
        .otherwise(0.0)
        .alias("rel_dist"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 4,
    window: int = 3,
    partition_col: str | None = "lang",
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A ∩ B| / |A| over bounded
    candidate windows — the Broder measure that catches a document
    EMBEDDED in a larger one, where symmetric Jaccard is diluted by
    the larger set (|A∩B|/|A∪B| → small even for a perfect subset).
    Same id-adjacency candidate contract and hashed-shingle
    representation as ngram_jaccard_pairs (lead()-generated window
    candidates, one group-keyed exchange; shingling is a narrow
    vectorized map; only hashed-gram arrays shuffle, never text). Returns (id_a, id_b, containment_a: how
    much of A is inside B, containment_b: the reverse).
    """
    from ella_spark.sources import fan_out

    base = fan_out(
        df.select(
            F.col(id_col).alias("_id"),
            (F.col(partition_col) if partition_col else F.lit("all")).alias("_grp"),
            normalize_text(F.col(text_col)).alias("_txt"),
        )
    ).select(
        "_id", "_grp", hashed_grams_udf(shingle_k)(F.col("_txt")).alias("_sh")
    )
    cand = _lead_candidates(base, "_sh", window)
    # same straggler fix as ngram_jaccard_pairs (r15): the per-pair
    # set intersection must not run at group-key (language)
    # parallelism — round-robin the candidate rows first
    cand = cand.repartition(_verify_parallelism(df.sparkSession))
    inter = F.size(F.array_intersect(F.col("pay_a"), F.col("pay_b"))).cast("double")
    na = F.size(F.col("pay_a")).cast("double")
    nb = F.size(F.col("pay_b")).cast("double")
    return cand.select(
        "id_a",
        "id_b",
        F.when(na > 0, F.round(inter / na, 6)).otherwise(0.0).alias("containment_a"),
        F.when(nb > 0, F.round(inter / nb, 6)).otherwise(0.0).alias("containment_b"),
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 4
) -> DataFrame:
    """64-bit SimHash fingerprint per document → (_id, _fp).

    Features are character k-shingles (not whitespace tokens): a local
    edit then perturbs only ~k features, keeping the Hamming distance
    of near-duplicates small even for short documents.

    Computed per-document in one vectorized Arrow batch (see
    simhash_udf) — narrow map-only stage, no explode, no shuffle: at
    scale the fingerprint stage is embarrassingly parallel and only
    the 16-byte (id, fp) rows ever move.
    """
    from ella_spark.sources import fan_out

    return fan_out(
        df.select(
            F.col(id_col).alias("_id"),
            normalize_text(F.col(text_col)).alias("_txt"),
        )
    ).select("_id", simhash_udf(shingle_k)(F.col("_txt")).alias("_fp"))


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints, bucketed by 4×16-bit
    chunks (two near-dups within Hamming distance 3 must share at
    least one chunk), verified by exact Hamming distance.
    """
    base = simhash_fingerprints(df, text_col, id_col)
    chunks = base.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftrightunsigned("_fp", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select("_id", "_fp", "_c.chunk_idx", "_c.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._fp").alias("fp_a"),
            F.col("b._fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= hamming_threshold)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    bucket_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-dup within buckets.

    Cosine computed JVM-side via zip_with + aggregate (double
    accumulation). ``bucket_col`` bounds the pair space; pass None for
    exhaustive (small data only).
    """
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("_id"),
        (F.col(bucket_col) if bucket_col else F.lit(0)).alias("_b"),
        dbl.alias("_v"),
        F.sqrt(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("_norm"),
    )
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    global _BARRIER_SEQ
    _BARRIER_SEQ += 1
    return (
        a.join(
            b,
            (F.col("a._b") == F.col("b._b")) & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn(
            # NULL on a zero norm (DuckDB's division behavior; Spark
            # ANSI would throw) — the pair then fails >= threshold on
            # both engines identically (r14 fuzz)
            "cosine",
            F.round(
                F.when(
                    (F.col("a._norm") * F.col("b._norm")) != F.lit(0.0),
                    dot / (F.col("a._norm") * F.col("b._norm")),
                ),
                6,
            ),
        )
        # CollectMetrics barrier: without it Catalyst substitutes the
        # whole zip_with/aggregate dot product into the join condition
        # and evaluates it a second time in the project (2x per pair).
        .observe(
            f"embedding_neardup_{_BARRIER_SEQ}", F.count(F.lit(1)).alias("n_pairs")
        )
        .where(F.col("cosine") >= cosine_threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            "cosine",
        )
    )


def minhash_drift_buckets(
    df: DataFrame,
    group_col: str,
    text_col: str,
    time_col: str = "time",
    bucket_ns: int = 86_400_000_000_000,
    shingle_k: int = 8,
    num_hashes: int = 64,
) -> DataFrame:
    """Bucket-over-history MinHash drift per group — the batch twin of
    ``streaming.stateful.minhash_drift_per_group``, resolved per time
    bucket (default daily): for each (group, bucket), how textually
    similar is the bucket's content to everything the group shipped in
    EARLIER buckets? Where ``set_churn_buckets`` scores exact value-set
    overlap against the immediately-previous bucket, this scores
    SHINGLE-level similarity against the ACCUMULATED history — exactly
    the streaming monitor's fold semantics (batch ↦ bucket,
    micro-batch history ↦ all earlier buckets), so the two are pinned
    value-identical when micro-batches align with buckets.

    Plan shape (the 100 TB story): one Arrow-batched signature UDF
    (the production ``_kgram_hashes``/``_mix64`` chain via
    ``minhash_sig_udf`` — same seeds as the LSH dedup fast path), then
    per-slot JVM min-aggregates to (group, bucket) with partial
    map-side combine — NOTHING O(rows) ever crosses the wire: the
    (grp, bucket) exchange carries one 8·num_hashes-byte partial per
    (partition, group, bucket), never per-doc signatures and never
    text — then ONE group-keyed window over the O(groups × buckets)
    aggregate rows for the running history signature, and pure column
    arithmetic for the scores. No collect, no second UDF pass
    (machine-checked in test_plan_audit).

    Unsigned order, JVM-side: _mix64 signatures are uint64 mins merely
    STORED as int64 bit patterns (the r13 signed-fold bug class), and
    Spark's min/least compare signed — so every slot is XOR-flipped by
    2⁶³ on entry (unsigned order on x == signed order on x ⊕ 2⁶³) and
    all mins/leasts/comparisons run in the flipped domain, where
    equality and order agree with the streaming monitor's
    ``np.uint64`` folds bit-for-bit.

    Scores per (group, bucket), matching the streaming columns:

    - ``est_jaccard``: slot agreement between the bucket signature and
      the history signature — union-normalized, shrinks toward
      |bucket|/|history| as history accumulates (see the streaming
      docstring's scale caveat);
    - ``est_containment``: batch-normalized |B∩H|/|B| via
      C = J(B,H)/J(B,B∪H), both factors slot-agreement estimates,
      denominator floored at 1/num_hashes (resolution limit);
    - ``novelty``: 1 − est_containment — a replayed/reworded bucket
      stays ~0 at ANY history size, a rotation jumps to ~1.

    A group's first bucket scores 0 / 0 / 1 against the empty history.
    Returns (group, bucket_start, n_docs, est_jaccard,
    est_containment, novelty); ``n_docs`` counts shingleable documents
    (texts shorter than ``shingle_k`` after lower/trim are filtered
    out, the streaming monitor's rule). Times are epoch-ns,
    non-negative by the topic contract (`div` truncates toward zero —
    the set_churn/drift convention, shared knowingly).
    """
    from pyspark.sql import Window

    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    sig = minhash_sig_udf(shingle_k, num_hashes)
    src = (
        df.select(
            F.col(group_col).cast("string").alias("grp"),
            # integer `div` — a double quotient loses precision at
            # epoch-ns magnitudes (> 2^53)
            F.expr(
                f"CAST(`{time_col}` AS BIGINT) div {int(bucket_ns)}"
            ).alias("b"),
            normalize_text(F.col(text_col)).alias("_t"),
        )
        .where(F.length("_t") >= shingle_k)
        # no isNotNull filter on the signature: length(_t) >= shingle_k
        # guarantees >= 1 k-gram, so the UDF never returns NULL here —
        # and a filter on the UDF column makes Catalyst evaluate the
        # Arrow UDF a SECOND time (once under the Filter, once for the
        # element_at projection; plan-audit pins the single pass)
        .select("grp", "b", sig("_t").alias("_sig"))
    )
    flip = F.lit(-0x8000000000000000).cast("long")
    per_doc = src.select(
        "grp",
        "b",
        *[
            F.element_at("_sig", i + 1).bitwiseXOR(flip).alias(f"s{i}")
            for i in range(num_hashes)
        ],
    )
    agg = per_doc.groupBy("grp", "b").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.min(f"s{i}").alias(f"c{i}") for i in range(num_hashes)],
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = agg.select(
        "grp",
        "b",
        "n_docs",
        *[F.col(f"c{i}") for i in range(num_hashes)],
        *[F.min(f"c{i}").over(w).alias(f"h{i}") for i in range(num_hashes)],
    )
    nh = float(num_hashes)
    agree = sum(
        (F.col(f"c{i}") == F.col(f"h{i}")).cast("int")
        for i in range(num_hashes)
    ) / F.lit(nh)
    # cur slot survives the merge ⟺ cur <= hist in the flipped
    # (unsigned) domain: estimates J(B, B∪H) = |B|/|B∪H|
    in_union = sum(
        (F.col(f"c{i}") <= F.col(f"h{i}")).cast("int")
        for i in range(num_hashes)
    ) / F.lit(nh)
    containment = F.least(
        agree / F.greatest(in_union, F.lit(1.0 / nh)), F.lit(1.0)
    )
    first = F.col("h0").isNull()  # empty window ⟹ every h-slot NULL
    est_j = F.when(first, F.lit(0.0)).otherwise(agree)
    est_c = F.when(first, F.lit(0.0)).otherwise(containment)
    return hist.select(
        F.col("grp").alias("group"),
        (F.col("b") * F.lit(int(bucket_ns))).alias("bucket_start"),
        "n_docs",
        est_j.alias("est_jaccard"),
        est_c.alias("est_containment"),
        (F.lit(1.0) - est_c).alias("novelty"),
    )
