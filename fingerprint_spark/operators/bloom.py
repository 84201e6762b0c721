"""Bloom-filter membership — incremental crawl/frontier dedup at scale.

The 10^12-document question "which of today's URLs are already in
snapshot N?" must not become a 10^12 x 10^12 join. A Bloom filter over
the existing corpus answers it with ZERO false negatives (a present
URL always hits) and a tunable false-positive rate; re-crawling a
false-positive-skipped URL next cycle is the cheap failure mode.

Spark-first shape (no RDDs, no Python in the hot path):

- ``bloom_build``: the filter is a DATAFRAME of (word_idx, word) int64
  pairs — positions are k seeded xxhash64 values per key, exploded and
  folded with ``bit_or`` into 64-bit words. The shuffle carries only
  (int, int64) pairs, map-side-combined; the result has n_bits/64 rows
  regardless of corpus size.
- ``bloom_probe``: TWO physical strategies behind a deterministic size
  guard (``_bloom_strategy`` — the decontam-guard pattern, no eager
  job needed because n_bits is a parameter, not data):
  * ``broadcast`` (filter fits executors): k broadcast equi-joins on
    word_idx, membership = AND over the k bit tests. Zero Exchange on
    the probe side — the word table broadcasts once, the corpus stays
    narrow.
  * ``sharded`` (beyond-broadcast filters — the 10^12-url regime where
    a useful-fp filter is ~10^13 bits and CANNOT broadcast): one
    co-partitioned shuffle join on word_idx. The filter side shuffles
    as skinny (word_idx bigint, word bigint) pairs — n_bits/4 bytes
    worst case spread over every executor, never resident on one; the
    probe side shuffles only (key, word_idx, mask), then folds
    membership back per key with a groupBy + null-safe join-back.
    Three skinny shuffles of the probe stream buy an arbitrarily
    large filter.
  Both strategies are output-identical (parity-tested).
- both sides derive positions with the same JVM expression
  (xxhash64(lit(seed), key)), so build and probe can never disagree on
  hashing (the classic cross-language bloom bug).
- ``bloom_merge``: incremental frontier maintenance — fold a url delta
  into an existing filter with union + bit_or; cost scales with
  |filter| + |delta|, not the corpus (merge == rebuild, parity-tested).
  The filter is a plain DataFrame, so it persists as a snapshot table
  (snapshots.commit_snapshot) and cycle k+1 reads filter(k) + merges.

Composes with snapshots.py: build over ``read_snapshot(N)``'s url
column, probe the incoming crawl, anti-filter the hits. Reference
analog: the registry's rule-id fast lookup (src/dsl/registry.rs) —
membership screening before expensive work; beyond-reference per the
round brief's training-pipeline requirement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _positions(key: Column, n_bits: int, k: int) -> list[Column]:
    # k independent positions: xxhash64 seeded by literal i. pmod keeps
    # them in [0, n_bits).
    return [
        F.pmod(F.xxhash64(F.lit(i), key.cast("string")), F.lit(n_bits))
        for i in range(k)
    ]


def _check_pow2_words(n_bits: int) -> None:
    if n_bits % 64 != 0 or n_bits <= 0:
        raise ValueError(f"n_bits must be a positive multiple of 64, got {n_bits}")


def bloom_build(
    df: DataFrame,
    key_col: str = "url",
    n_bits: int = 1 << 24,
    k: int = 5,
) -> DataFrame:
    """-> DataFrame (word_idx bigint, word bigint): the set bits of the
    filter, folded with bit_or. At most n_bits/64 rows; absent rows are
    all-zero words."""
    _check_pow2_words(n_bits)
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, n_bits, k))).alias("__pos")
    words = (
        df.select(pos)
        .select(
            F.expr("__pos div 64").alias("word_idx"),
            # F.shiftleft takes a literal shift; the per-row shift
            # needs the SQL form
            F.expr(
                "shiftleft(cast(1 as bigint), cast(__pos % 64 as int))"
            ).alias("__mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(__mask)").alias("word"))
    )
    # self-describing filter: a marker row at word_idx = -1 carries
    # (n_bits, k) so bloom_probe can REFUSE a parameter mismatch —
    # probing with different params than the build silently turns the
    # zero-false-negative guarantee into false negatives
    spark = df.sparkSession
    marker = spark.createDataFrame(
        [(-1, n_bits * 256 + k)], "word_idx bigint, word bigint"
    )
    return words.unionByName(marker)


#: broadcast cap for the probe strategy guard; the materialized word
#: table is at most n_bits/64 rows x ~16 B = n_bits/4 bytes
DEFAULT_BLOOM_BROADCAST_CAP = 64 << 20


def _bloom_strategy(
    n_bits: int, broadcast_cap_bytes: int = DEFAULT_BLOOM_BROADCAST_CAP
) -> str:
    """Deterministic strategy guard (the _decontam_strategy pattern,
    but NO eager estimate job — n_bits is a declared parameter, so the
    worst-case table size n_bits/4 bytes is known at plan time)."""
    return "broadcast" if n_bits // 4 <= broadcast_cap_bytes else "sharded"


def _validate_bloom_params(bloom: DataFrame, n_bits: int, k: int) -> None:
    meta = bloom.filter(F.col("word_idx") == -1).collect()  # driver-bounded: 1 row
    if not meta:
        # a filter that lost its marker (filtered / re-materialized
        # externally) must not be probed unchecked — a silent (n_bits,
        # k) mismatch manufactures false negatives (ADVICE r4)
        raise ValueError(
            "bloom filter has no parameter marker row (word_idx=-1); "
            "refusing an unverifiable filter — rebuild with "
            "bloom_build or preserve the marker row"
        )
    built = int(meta[0]["word"])
    built_bits, built_k = built // 256, built % 256
    if (built_bits, built_k) != (n_bits, k):
        raise ValueError(
            f"bloom parameter mismatch: filter built with "
            f"n_bits={built_bits}, k={built_k}; used with "
            f"n_bits={n_bits}, k={k}"
        )


def _probe_broadcast(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_bits: int,
    k: int,
) -> DataFrame:
    """k broadcast joins; zero Exchange on the probe side."""
    key = F.col(key_col)
    out = df
    hits = []
    for i, pos in enumerate(_positions(key, n_bits, k)):
        w = F.broadcast(
            bloom.select(
                F.col("word_idx").alias(f"__wi{i}"),
                F.col("word").alias(f"__w{i}"),
            )
        )
        out = (
            out.withColumn(f"__p{i}", pos)
            .join(w, F.expr(f"__p{i} div 64") == F.col(f"__wi{i}"), "left")
        )
        bit = F.expr(
            f"shiftleft(cast(1 as bigint), cast(__p{i} % 64 as int))"
        )
        hits.append(
            (F.coalesce(F.col(f"__w{i}"), F.lit(0)).bitwiseAND(bit) != 0)
        )
        out = out.drop(f"__wi{i}")
    member = hits[0]
    for h in hits[1:]:
        member = member & h
    out = out.withColumn("maybe_member", member.cast("int"))
    return out.drop(*[f"__p{i}" for i in range(k)],
                    *[f"__w{i}" for i in range(k)])


def _probe_sharded(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_bits: int,
    k: int,
) -> DataFrame:
    """Beyond-broadcast path: ONE co-partitioned shuffle join on
    word_idx. The filter shuffles as (word_idx bigint, word bigint)
    pairs — each executor holds only its word range, so the filter can
    be arbitrarily large (the 10^12-url regime needs ~TB of filter);
    the probe stream shuffles as skinny (key, word_idx, mask) triples
    (k rows per input row), membership folds back per key via
    bool-and groupBy + a null-safe join on the key. Duplicate probe
    keys cost duplicate probe rows but collapse in the groupBy, so the
    join-back never multiplies rows."""
    key = F.col(key_col)
    exploded = (
        df.select(
            key.alias("__key"),
            F.explode(F.array(*_positions(key, n_bits, k))).alias("__pos"),
        )
        .select(
            "__key",
            F.expr("__pos div 64").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(__pos % 64 as int))"
            ).alias("__mask"),
        )
    )
    hit = (
        F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("__mask")) != 0
    ).cast("int")
    member = (
        exploded.join(bloom, "word_idx", "left")
        .select("__key", hit.alias("__hit"))
        .groupBy("__key")
        .agg(F.min("__hit").alias("__member"))
    )
    # null-safe join-back: a NULL key still hashes deterministically
    # (xxhash64 skips null inputs), so it must get the same verdict as
    # the broadcast path, not a NULL from a failed equi-join
    out = df.join(member, key.eqNullSafe(F.col("__key")), "left")
    return out.withColumn(
        "maybe_member", F.coalesce(F.col("__member"), F.lit(0)).cast("int")
    ).drop("__key", "__member")


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str = "url",
    n_bits: int = 1 << 24,
    k: int = 5,
    strategy: str | None = None,
) -> DataFrame:
    """Tag every row with ``maybe_member`` (int 0/1): 1 iff all k bits are
    set — possibly-present (false positives possible at the configured
    rate, false negatives impossible). Refuses a filter built with
    different (n_bits, k) than the probe's — a silent mismatch would
    manufacture false negatives.

    strategy: "broadcast" | "sharded" | None (auto — broadcast while
    the worst-case word table (n_bits/4 bytes) fits
    DEFAULT_BLOOM_BROADCAST_CAP, else the co-partitioned sharded join).
    Both strategies are output-identical."""
    _check_pow2_words(n_bits)
    _validate_bloom_params(bloom, n_bits, k)
    bloom = bloom.filter(F.col("word_idx") >= 0)
    if strategy is None:
        strategy = _bloom_strategy(n_bits)
    if strategy == "broadcast":
        return _probe_broadcast(df, bloom, key_col, n_bits, k)
    if strategy == "sharded":
        return _probe_sharded(df, bloom, key_col, n_bits, k)
    raise ValueError(f"unknown bloom probe strategy: {strategy!r}")


def bloom_merge(
    bloom: DataFrame,
    new_df: DataFrame,
    key_col: str = "url",
    n_bits: int = 1 << 24,
    k: int = 5,
) -> DataFrame:
    """Incremental frontier maintenance: fold ``new_df``'s keys into an
    existing filter. union + groupBy bit_or — cost scales with
    |filter rows| + k·|delta|, NOT the corpus the filter was built
    from (merge == rebuild over the union corpus, parity-tested). The
    two marker rows carry the identical params value, so bit_or is the
    identity on them and the merged filter stays self-describing.
    Persist the result as a snapshot table (snapshots.commit_snapshot)
    so crawl cycle k+1 reads filter(k) and merges only its delta."""
    _check_pow2_words(n_bits)
    _validate_bloom_params(bloom, n_bits, k)
    delta = bloom_build(new_df, key_col, n_bits, k)
    # the where(true) barrier keeps the caller's filter lineage intact
    # under the analyzer's union flattening: bloom_build's result is
    # itself a Union, and a nested Union is flattened into the merge's
    # Union BEFORE cache lookup, so a persisted filter would silently
    # recompute its whole corpus here (measured: merge == rebuild cost
    # without the barrier). The trivial filter blocks adjacency, the
    # cached subtree matches, and the optimizer folds the barrier away
    # after cache replacement.
    old = bloom.where(F.lit(True))
    return (
        old.unionByName(delta)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(word)").alias("word"))
    )
