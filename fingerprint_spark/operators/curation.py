"""Corpus-curation operators: chunk-level dedup, decontamination, sampling.

The quality-filter tier of a training-data pipeline needs three ops the
document-level dedup family (operators/dedup.py) doesn't cover:

- ``chunk_dedup`` — CCNet-style sub-document dedup: split every document
  into fixed-size word chunks (the deterministic analog of paragraph
  splitting; real corpora split on blank lines), drop every occurrence of
  a chunk after its global first, and reassemble the surviving text.
  Boilerplate that repeats across pages (nav bars, footers, cookie
  banners) disappears from all but one document.
- ``decontaminate`` — benchmark-overlap flagging (GPT-3 appendix C /
  Llama style): a corpus document is contaminated when it shares any
  word n-gram with a held-out benchmark set. Real pipelines use n=13;
  the n is a parameter.
- ``stratified_sample`` — deterministic per-stratum Bernoulli sampling:
  keep a row iff a uniform hash of its key lands under the stratum's
  permille rate. Rerunning the job reproduces the identical sample (no
  RNG state), which is what makes sampled corpora auditable.

Scale notes (100 TB):
- chunk_dedup's only wide stages are one hash-partitioned window over
  ``xxhash64(chunk)`` (first-occurrence ranking; each hash group is a
  handful of rows, so no skew) and the per-document reassembly groupBy.
  Chunk text crosses the shuffle once — unavoidable, since the survivors
  must be reassembled — but the ranking key is the 8-byte hash.
- decontaminate broadcasts the benchmark n-gram set (benchmarks are
  small by nature); the corpus side is a map-side semi-join, no shuffle
  of corpus text.
- stratified_sample is a pure narrow filter — zero shuffles.

Reference analog: the reference has no corpus-curation stage (it is a
per-document assertion engine); these close the BASELINE.json north-rule
gap for web-scale quality filtering. Semantics follow the public CCNet
(Wenzek et al. 2019) and GPT-3 (Brown et al. 2020, appendix C) recipes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _words(text_col: Column) -> Column:
    return F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda w: w != ""
    )


def _chunks_from_words(words: Column, chunk_words: int) -> Column:
    """Chunk array from an ALREADY-MATERIALIZED words array. Callers
    must project the words array in a prior select: referencing
    ``_words(text)`` directly here would re-run split+filter over the
    full text inside every transform-lambda iteration (Catalyst does
    not common-subexpression-eliminate under lambdas) — measured ~3x
    slower on the sf0.1 corpus."""
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(chunk_words)), F.lit(1)
    ).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(words, i * chunk_words + 1, chunk_words), " "
        ),
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    chunk_words: int = 12,
) -> DataFrame:
    """Global first-occurrence chunk dedup; returns one row per input
    document: (key, n_chunks, n_kept, text_dedup).

    First occurrence is the smallest (key, chunk_idx) over the whole
    corpus — deterministic under any partitioning. The ranking window
    partitions on ``xxhash64(chunk)``: 2^64 key space, so groups stay
    tiny and a 1000-executor shuffle balances; a 64-bit collision would
    merge two distinct chunks (odds ~n^2/2^65 — negligible, and the
    failure mode is one over-dropped chunk, not corruption).
    """
    key = F.col(key_col)
    ex = df.select(
        key.alias("__key"), _words(F.col(text_col)).alias("__ws")
    ).select(
        "__key",
        F.posexplode(_chunks_from_words(F.col("__ws"), chunk_words)).alias(
            "__idx", "__chunk"
        ),
    )
    # partition the ranking window on a PROJECTED hash column, not the
    # xxhash64(__chunk) expression (r6): with the expression, the
    # exchange must carry the chunk STRING so the Window can re-evaluate
    # its partition key; with the column, consumers that never read the
    # text (pipeline_curate reads only n_kept) get __chunk pruned from
    # the shuffle — (key, idx, hash) instead of + chunk bytes
    ex = ex.withColumn("__h", F.xxhash64("__chunk"))
    first = W.partitionBy("__h").orderBy("__key", "__idx")
    ranked = ex.withColumn("__keep", F.row_number().over(first) == 1)
    return ranked.groupBy(F.col("__key").alias(key_col)).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(
                                    F.col("__idx"), F.col("__chunk")
                                ),
                            )
                        )
                    ),
                    lambda s: s["__chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("text_dedup"),
    )


def boilerplate_filter(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    chunk_words: int = 12,
    max_docs: int = 2,
) -> DataFrame:
    """RefinedWeb-style boilerplate removal: a chunk occurring in MORE
    than ``max_docs`` distinct documents is dropped from EVERY document
    (nav bars, cookie banners, footers) — unlike chunk_dedup, no first
    occurrence survives. Returns (key, n_chunks, n_kept, text_clean).

    Popularity is a count_distinct(key) groupBy over the 8-byte chunk
    hash (partial-aggregated map-side, so a corpus-wide banner chunk
    contributes one row per upstream task, never a hot reduce key) and
    the over-threshold hash set is FILTERED before joining back —
    boilerplate hashes are a tiny fraction of all chunks. The hot set
    broadcasts, so the corpus side stays narrow until the per-document
    reassembly groupBy.
    """
    key = F.col(key_col)
    ex = df.select(
        key.alias("__key"), _words(F.col(text_col)).alias("__ws")
    ).select(
        "__key",
        F.posexplode(_chunks_from_words(F.col("__ws"), chunk_words)).alias(
            "__idx", "__chunk"
        ),
    ).withColumn("__h", F.xxhash64("__chunk"))
    popular = F.broadcast(
        ex.groupBy("__h")
        .agg(F.count_distinct("__key").alias("__nd"))
        .filter(F.col("__nd") > max_docs)
        .select("__h", F.lit(True).alias("__hot"))
    )
    marked = ex.join(popular, "__h", "left").withColumn(
        "__keep", F.col("__hot").isNull()
    )
    return marked.groupBy(F.col("__key").alias(key_col)).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(
                                    F.col("__idx"), F.col("__chunk")
                                ),
                            )
                        )
                    ),
                    lambda s: s["__chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("text_clean"),
    )


def _ngrams_from_words(words: Column, n: int) -> Column:
    """N-gram array from an ALREADY-MATERIALIZED words array (see
    _chunks_from_words for why the two-step projection matters).

    For small n, built from n bulk slices chained through zip_with
    concat instead of a per-position transform(array_join(slice(...)))
    — identical strings, n-1 array traversals instead of one
    interpreted slice+join per gram (r6; measured 2x at n=3). The
    chain's progressive concatenation allocates O(n^2) chars per gram,
    so past n=8 (measured neutral at 8, slower at 13) the single
    array_join form wins and is kept."""
    if n <= 8:
        m = F.size(words) - n + 1
        r = F.slice(words, 1, m)
        for j in range(2, n + 1):
            r = F.zip_with(
                r,
                F.slice(words, F.lit(j), m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
    else:
        r = F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
    return F.when(F.size(words) >= n, r).otherwise(
        F.array().cast("array<string>")
    )


def _decontam_strategy(
    n: int, bench_total_chars: int, max_broadcast_bytes: int
) -> str:
    """Guarded broadcast decision (r3 VERDICT #6): every benchmark word
    appears in up to n n-grams, so the distinct gram set is bounded by
    ~n * benchmark_chars JVM chars (~2 bytes each) — a cheap upper
    bound needing only sum(length(text)), no explode. Over the cap the
    join falls back to a shuffle semi-join on 8-byte gram hashes."""
    return (
        "broadcast"
        if 2 * n * bench_total_chars <= max_broadcast_bytes
        else "shuffle"
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 13,
    max_broadcast_bytes: int = 64 << 20,
    strategy: str | None = None,
) -> DataFrame:
    """Flag corpus documents sharing any word n-gram with the benchmark
    set. Returns one row per corpus document:
    (key, n_hits, contaminated) where n_hits counts DISTINCT shared
    n-grams (so a repeated hit doesn't inflate the signal).

    Strategy (auto unless forced): 'broadcast' distinct-s and
    broadcasts the benchmark gram set — eval benchmarks are tiny next
    to a training corpus, so the corpus side never shuffles and the
    match is exact on gram strings. A large benchmark suite at
    production n=13 can exceed executor memory, so when the estimated
    gram set passes max_broadcast_bytes (see _decontam_strategy) the
    join becomes a SHUFFLE left join on xxhash64(gram) — 8-byte keys
    cross the wire instead of gram strings (~n*words bytes/doc), at
    the cost of a 2^-64 per-pair false-positive rate (documented
    contract of the fallback; the broadcast path stays exact).
    """
    key = F.col(key_col)
    if strategy is None:
        total_chars = int(
            benchmark.agg(
                F.sum(F.length(F.col(text_col)))
            ).head()[0]
            or 0
        )  # driver-bounded: single aggregate row over the (small) benchmark
        strategy = _decontam_strategy(n, total_chars, max_broadcast_bytes)
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown decontaminate strategy {strategy!r}")
    bench_grams = benchmark.select(
        _words(F.col(text_col)).alias("__ws")
    ).select(
        F.explode(_ngrams_from_words(F.col("__ws"), n)).alias("__g")
    ).distinct().withColumn("__hit", F.lit(1))
    # explode_outer keeps gram-less documents as a null-gram row, so a
    # single left broadcast join + one key-partitioned groupBy produces
    # a row for EVERY corpus document — no second join back to the
    # corpus (which would be a key-shuffle sort-merge join at scale).
    # array_distinct BEFORE the explode makes (key, gram) unique by
    # construction, so n_hits is a PLAIN count — a count(distinct)
    # here would rewrite into a (key, gram) two-phase distinct agg and
    # shuffle every corpus gram string; with the plain count only
    # map-side-combined (key, partial_count) pairs cross the wire
    corpus_grams = corpus.select(
        key.alias("__key"), _words(F.col(text_col)).alias("__ws")
    ).select(
        "__key",
        F.explode_outer(
            F.array_distinct(_ngrams_from_words(F.col("__ws"), n))
        ).alias("__g"),
    )
    if strategy == "shuffle":
        # 8-byte hash join keys; the explode_outer null-gram row must
        # STAY null (xxhash64(NULL) is the seed constant, not null —
        # it would probe the join instead of passing through)
        gh = F.when(F.col("__g").isNotNull(), F.xxhash64("__g"))
        bench_side = bench_grams.select(
            F.xxhash64("__g").alias("__gh")
        ).distinct().withColumn("__hit", F.lit(1))
        joined = corpus_grams.select(
            "__key", gh.alias("__gh")
        ).join(bench_side, "__gh", "left")
    else:
        joined = corpus_grams.join(F.broadcast(bench_grams), "__g", "left")
    hits = (
        joined
        .groupBy("__key")
        .agg(
            F.sum(
                F.when(F.col("__hit") == 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_hits")
        )
    )
    return hits.select(
        F.col("__key").alias(key_col),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        (F.col("n_hits") > 0).cast("int").alias("contaminated"),
    )


def sample_uniform_permille(key_col: Column, stratum_col: Column) -> Column:
    """Deterministic uniform in [0, 1000): md5 of key:stratum, first 6
    hex digits, mod 1000. md5 (not xxhash64) so an external auditor can
    recompute membership with any standard library — the sample is a
    *contract*, not an implementation detail."""
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", key_col.cast("string"), stratum_col)),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    return u % 1000


def mix_to_budget(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    tokens: Column,
    weight: Column,
    budget_permille: int,
) -> DataFrame:
    """Data mixing (DoReMi/Pile-style): sample each stratum so the
    output approaches ``budget_permille``/1000 of the corpus tokens,
    split across strata proportionally to ``weight`` (a per-row Column
    that is constant within a stratum, e.g. a lookup on the stratum
    name). Appends (n_tokens, rate_permille, sampled) to every row.

    rate_s = min(1, weight_s * budget_tokens / (sum_w * tokens_s)),
    carried as an integer permille computed with ``div`` (exact integral
    division on both engines — floor(a/b) over doubles can mis-floor
    near-integer quotients). Oversubscribed strata (target share above
    their whole token mass) cap at 1000 and keep everything; the
    shortfall is reported, not silently redistributed.

    Shape: one groupBy(stratum) for the (tiny) totals table + one
    single-row corpus aggregate, both broadcast back; membership is the
    deterministic md5 contract of stratified_sample, so the mix is
    reproducible and auditable at any cluster size.
    """
    tagged = df.withColumn("__tok", tokens.cast("long")).withColumn(
        "__w", weight.cast("long")
    )
    per_s = tagged.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.sum("__tok").alias("__tok_s"), F.max("__w").alias("__w_s")
    )
    totals = per_s.agg(
        F.sum("__tok_s").alias("__tok_all"), F.sum("__w_s").alias("__sum_w")
    )
    rates = (
        per_s.crossJoin(F.broadcast(totals))
        .withColumn(
            "__budget_tok",
            F.expr(f"({budget_permille} * __tok_all) div 1000"),
        )
        .withColumn(
            "rate_permille",
            # a zero-token stratum is oversubscribed by definition
            # (any target share exceeds its whole mass): cap at 1000.
            # Guarding matters: ANSI mode makes the div a hard
            # DIVIDE_BY_ZERO task failure, not a null
            F.when(F.col("__tok_s") <= 0, F.lit(1000)).otherwise(
                F.least(
                    F.lit(1000),
                    F.expr(
                        "(1000 * __w_s * __budget_tok)"
                        " div (__sum_w * __tok_s)"
                    ),
                )
            ),
        )
        .select("__s", "rate_permille")
    )
    u = sample_uniform_permille(F.col(key_col), F.col(stratum_col))
    return (
        tagged.join(
            F.broadcast(rates), tagged[stratum_col] == rates["__s"]
        )
        .withColumn("sampled", (u < F.col("rate_permille")).cast("int"))
        .drop("__s", "__w")
        .withColumnRenamed("__tok", "n_tokens")
    )


def repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 A.1.1) per document:
    (key, top_ngram, top_count, dup_ngram_occ, n_ngrams) where top_ngram
    is the most frequent word n-gram (ties -> lexicographically
    smallest), and dup_ngram_occ counts occurrences belonging to any
    n-gram seen more than once in the document.

    All-integer/string output so the oracle comparison is hash-exact;
    the published fractional thresholds (e.g. top-2-gram char fraction)
    are one division away. Documents with fewer than n words produce no
    row (no n-grams -> no repetition signal).

    Shuffles on (key, ngram) then (key) — both salted by the document
    key, so a hot boilerplate n-gram never concentrates on one task the
    way a global ngram-count would.
    """
    key = F.col(key_col)
    counts = (
        df.select(
            key.alias("__key"), _words(F.col(text_col)).alias("__ws")
        )
        .select(
            "__key",
            F.explode(_ngrams_from_words(F.col("__ws"), n)).alias("__g"),
        )
        .groupBy("__key", "__g")
        .agg(F.count("*").alias("__cnt"))
    )
    # min(struct(-cnt, g)) == (max count, tie -> smallest gram): one
    # partial-aggregating pass, no per-document window needed
    return counts.groupBy(F.col("__key").alias(key_col)).agg(
        F.min(F.struct((-F.col("__cnt")).alias("neg"), F.col("__g"))).alias(
            "__top"
        ),
        F.sum(
            F.when(F.col("__cnt") > 1, F.col("__cnt")).otherwise(F.lit(0))
        ).alias("dup_ngram_occ"),
        F.sum("__cnt").alias("n_ngrams"),
    ).select(
        key_col,
        F.col("__top.__g").alias("top_ngram"),
        (-F.col("__top.neg")).alias("top_count"),
        "dup_ngram_occ",
        "n_ngrams",
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    permille: Column,
) -> DataFrame:
    """Keep rows whose deterministic uniform lands under the stratum's
    permille rate. Pure narrow filter: no shuffle, fully pushdown-safe,
    reproducible across runs and cluster sizes."""
    u_mod = sample_uniform_permille(F.col(key_col), F.col(stratum_col))
    return df.withColumn("permille", permille).withColumn(
        "u_mod", u_mod
    ).filter(F.col("u_mod") < F.col("permille"))
