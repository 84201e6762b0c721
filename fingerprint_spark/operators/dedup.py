"""Deduplication operators for web-scale training corpora.

Two tiers, each designed around what actually shuffles at 100 TB:

- exact:     xxhash64 of canonical text -> groupBy hash. Only the
             8-byte hash + key shuffle, never the text.
- minhash:   word-shingle MinHash signatures (pandas UDF, one pass) ->
             LSH banding -> bucket self-join -> signature-estimated
             Jaccard. Classic MMDS construction: a pair with
             Jaccard >= t collides in >= 1 of b bands of r rows with
             probability 1-(1-t^r)^b.

Candidate generation shuffles COMPACT sketches; the only stage that ever
rejoins document text is the optional exact-Jaccard verify, applied to
the (tiny) candidate pair set. ``_cosine`` is the JVM-side cosine the
similarity and search operators share.

Reference analog: the reference defers MinHash/LSH ("MIME and MinHash
pre-filtering deferred", docs/PLAN.md:1761-1762); this engine implements
them as first-class operators per the round brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import canonical_text_col, minhash_signature_col


def dedup_exact(
    df: DataFrame, text_col: str = "text", key_col: str = "url"
) -> DataFrame:
    """Keep one doc per exact content hash (deterministic keeper = min
    key). Two-phase: hash -> groupBy(hash).min(key) -> semi-join back.
    Only (hash, key) pairs shuffle."""
    h = F.xxhash64(canonical_text_col(F.col(text_col))).alias("_chash")
    hashed = df.withColumn("_chash", h)
    keepers = hashed.groupBy("_chash").agg(F.min(key_col).alias(key_col))
    return hashed.join(keepers, ["_chash", key_col], "left_semi").drop("_chash")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidate pairs (key_a < key_b) with signature-estimated
    Jaccard. rows-per-band r = num_hashes/bands sets the S-curve."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    from ..caching import track_persist

    sig = df.select(
        F.col(key_col).alias("key"),
        minhash_signature_col(F.col(text_col), num_hashes, shingle_k).alias("sig"),
    )
    # consumed twice (banding + pair rejoin): persist so the signature
    # UDF runs ONCE. Compact frame — key + 64 longs ≈ 550 B/doc,
    # disk-backed at scale; released by the materializing caller via
    # caching.release_tracked (round-2 ADVICE: never-unpersisted frames
    # accumulate across repeated runs in a long-lived driver)
    sig = track_persist(sig)
    # band_hash = xxhash64 of the band's slice, JVM-side. The explode
    # carries ONLY (key, band, band_hash) ≈ 24 B/row through the bucket
    # shuffle — NOT the full signature (which would be ~sig_size × bands
    # per doc); signatures rejoin on the much smaller candidate-pair set.
    banded = sig.select(
        "key",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * r + 1, r),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select("key", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    with_sigs = (
        pairs.join(
            sig.select(F.col("key").alias("key_a"), F.col("sig").alias("sig_a")),
            "key_a",
        )
        .join(
            sig.select(F.col("key").alias("key_b"), F.col("sig").alias("sig_b")),
            "key_b",
        )
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(float(num_hashes))
    return with_sigs.select("key_a", "key_b", est.alias("est_jaccard"))


def ngram_jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: join texts back (the pair
    set is small), compute |A∩B|/|A∪B| over word shingle sets JVM-side via
    array_intersect/array_union on split-built shingle arrays."""
    def shingles(col: Column) -> Column:
        words = F.split(F.trim(F.lower(col)), r"\s+")
        idx = F.sequence(
            F.lit(0), F.greatest(F.size(words) - shingle_k, F.lit(0))
        )
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle_k)),
            )
        )

    from ..caching import track_persist

    # consumed by both join branches — persist so shingles build once;
    # released by the materializing caller (caching.release_tracked)
    d = track_persist(
        docs.select(
            F.col(key_col).alias("key"), shingles(F.col(text_col)).alias("sh")
        )
    )
    out = (
        pairs.join(d.withColumnRenamed("sh", "sh_a"), pairs.key_a == d.key)
        .drop("key")
        .join(
            d.withColumnRenamed("sh", "sh_b").alias("d2"),
            F.col("key_b") == F.col("d2.key"),
        )
        .drop("key")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "key_a",
        "key_b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# cosine (shared by similarity.py, search.py and q_cosine_pairs)
# ---------------------------------------------------------------------------


def _cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / F.greatest(na * nb, F.lit(1e-12))
