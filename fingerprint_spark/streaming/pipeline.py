"""Streaming quality filter: readStream -> same narrow chain -> sinks.

The batch pipeline is a pure sequence of narrow transformations (parse
UDF + Column expressions), so it lifts to Structured Streaming unchanged —
the same ``quality_filter`` call works on a streaming DataFrame. This
module adds the streaming-specific pieces:

- ``stream_quality_filter``: the chain applied to a stream of
  (url, warc_ts, html, text, lang) micro-batches;
- ``stream_metrics_by_window``: watermarked tumbling-window counters
  (docs/kept/template hits per window) — late data beyond the watermark
  is dropped, per-window results finalize incrementally;
- ``streaming_dedup``: exact near-real-time dedup via
  ``dropDuplicatesWithinWatermark`` on the content hash — state is
  bounded by the watermark horizon (unbounded dedup state would OOM a
  10^12-doc stream).

The reference has no streaming surface (finite ordered batch,
SURVEY.md §2.7); this is the engine's extension to continuous ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dsl.model import FingerprintDefinition
from ..functions.hashing import canonical_text_col
from ..pipeline import quality_filter


def stream_quality_filter(
    stream_df: DataFrame,
    rules: list[FingerprintDefinition] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Apply the full chain to a streaming frame of corpus rows."""
    return quality_filter(stream_df.withWatermark("warc_ts", watermark), rules)


def stream_metrics_by_window(
    filtered: DataFrame, window: str = "5 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counter metrics (append-mode safe)."""
    return (
        filtered.groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("docs_scanned"),
            F.sum(F.col("keep").cast("long")).alias("docs_kept"),
            F.sum(F.col("fingerprint.matched").cast("long")).alias("template_hits"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "docs_scanned",
            "docs_kept",
            "template_hits",
        )
    )


def streaming_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact streaming dedup with bounded state: first occurrence wins
    within the watermark horizon."""
    hashed = stream_df.withWatermark("warc_ts", watermark).withColumn(
        "_chash", F.xxhash64(canonical_text_col(F.col(text_col)))
    )
    return hashed.dropDuplicatesWithinWatermark(["_chash"]).drop("_chash")


# Hard cap on the benchmark gram set stream_decontaminate collects to
# the driver and embeds in the plan as an array literal. Eval benchmarks
# hold a few thousand grams; past the cap, use the batch operator.
MAX_STREAM_BENCH_GRAMS = 100_000


def stream_decontaminate(
    stream_df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    n: int = 13,
) -> DataFrame:
    """Streaming benchmark decontamination — fully STATELESS.

    A join+groupBy per document would be a streaming aggregation keyed
    by url: every url is unique, so its state grows without bound. The
    stateless shape: the (static, tiny-by-nature) benchmark n-gram set
    is collected ONCE at stream definition (driver-bounded — eval
    benchmarks are a few thousand grams; past MAX_STREAM_BENCH_GRAMS it
    raises ValueError — decontaminate against a huge reference corpus
    with the batch operator) and embedded as an array literal, so each
    micro-batch row computes
    ``array_intersect(its distinct grams, benchmark grams)`` narrowly:
    no shuffle, no state, no watermark interaction. Emits
    (key, n_hits, contaminated) per streaming document with verdicts
    identical to operators/curation.decontaminate (tested)."""
    from ..operators.curation import _ngrams_from_words, _words

    cap = MAX_STREAM_BENCH_GRAMS
    rows = (
        benchmark.select(_words(F.col(text_col)).alias("__ws"))
        .select(
            F.explode(_ngrams_from_words(F.col("__ws"), n)).alias("__g")
        )
        .distinct()
        .limit(cap + 1)
        .collect()  # driver-bounded: at most cap + 1 grams
    )
    if len(rows) > cap:
        raise ValueError(
            f"benchmark has more than {cap} distinct {n}-grams; the "
            "stateless streaming decontaminate embeds them all in the "
            "plan — use the batch operators/curation.decontaminate"
        )
    bench_grams = sorted(r["__g"] for r in rows)
    bench_arr = F.array(*[F.lit(g) for g in bench_grams])
    # two-step projection (the repo's lambda-CSE rule): materialize the
    # words array before the n-gram lambdas slice it, or split+filter
    # re-runs once per n-gram per row on the streaming hot path
    hits = F.size(
        F.array_intersect(
            F.array_distinct(_ngrams_from_words(F.col("__ws"), n)),
            bench_arr,
        )
    )
    return stream_df.select(
        F.col(key_col), _words(F.col(text_col)).alias("__ws")
    ).select(
        F.col(key_col),
        hits.cast("bigint").alias("n_hits"),
        (hits > 0).cast("int").alias("contaminated"),
    )
