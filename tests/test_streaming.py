"""Structured Streaming tests: the same chain over micro-batches,
watermarked window metrics, bounded-state streaming dedup."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.corpus import CORPUS_SCHEMA, INPUT_COLS, generate_corpus
from fingerprint_spark.streaming import (
    stream_metrics_by_window,
    stream_quality_filter,
    streaming_dedup,
)

N = 200


@pytest.fixture()
def corpus_dir(spark, tmp_path):
    path = str(tmp_path / "stream_src")
    generate_corpus(spark, N, partitions=4).write.mode("overwrite").parquet(path)
    return path


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


def test_stream_quality_filter_matches_batch(spark, corpus_dir, tmp_path):
    stream = _read_stream(spark, corpus_dir)
    out = stream_quality_filter(stream).select("url", "keep", "drop_reason")
    q = (
        out.writeStream.format("memory")
        .queryName("sqf")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["url"]: r["keep"] for r in spark.sql("SELECT * FROM sqf").collect()}

    from fingerprint_spark.pipeline import quality_filter

    batch = quality_filter(spark.read.parquet(corpus_dir).select(*INPUT_COLS))
    want = {r["url"]: r["keep"] for r in batch.select("url", "keep").collect()}
    assert got == want  # stream == batch, verdict for verdict


def test_stream_window_metrics(spark, corpus_dir, tmp_path):
    stream = _read_stream(spark, corpus_dir)
    filtered = stream_quality_filter(stream)
    metrics = stream_metrics_by_window(filtered, window="60 minutes")
    q = (
        metrics.writeStream.format("memory")
        .queryName("swm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM swm").collect()
    # append mode only finalizes windows older than the watermark; the
    # total over finalized windows must not exceed N and must be windowed
    assert sum(r["docs_scanned"] for r in rows) <= N
    for r in rows:
        assert r["window_start"] < r["window_end"]


def test_streaming_dedup_bounded_state(spark, tmp_path):
    # two copies of the same 50 docs -> dedup keeps one per content hash
    src = str(tmp_path / "dupsrc")
    base = generate_corpus(spark, 50, partitions=2)
    dup = base.withColumn("url", F.concat(F.col("url"), F.lit("?copy")))
    base.union(dup).write.mode("overwrite").parquet(src)

    stream = _read_stream(spark, src)
    out = streaming_dedup(stream).select("url", "text")
    q = (
        out.writeStream.format("memory")
        .queryName("sdd")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sdd").collect()
    texts = [r["text"] for r in rows]
    assert len(texts) == len(set(texts)) == 50


def test_stream_decontaminate_stateless_matches_batch(spark, tmp_path):
    """Streaming decontamination: stateless narrow flag per micro-batch
    row; verdicts identical to the batch operator; executed plan carries
    no StateStore and no Exchange."""
    from pyspark.sql import Row

    from fingerprint_spark.operators.curation import decontaminate
    from fingerprint_spark.streaming.pipeline import stream_decontaminate

    rows = [
        Row(url=f"u{i}",
            text=("leak this exact benchmark phrase now " if i % 3 == 0
                  else "clean words only here today ") + f"tail{i} pad pad")
        for i in range(30)
    ]
    src = str(tmp_path / "decon_src")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(src)
    bench = spark.createDataFrame(
        [Row(url="b", text="this exact benchmark phrase")]
    )

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_decontaminate(stream, bench, n=3)
    q = (
        out.writeStream.format("memory")
        .queryName("sdecon")
        .option("checkpointLocation", str(tmp_path / "ckpt_decon"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    got = {
        r["url"]: (r["n_hits"], r["contaminated"])
        for r in spark.sql("SELECT * FROM sdecon").collect()
    }
    batch = decontaminate(
        spark.read.parquet(src), bench, key_col="url", n=3
    )
    want = {r["doc_id" if "doc_id" in batch.columns else "url"]:
            (r["n_hits"], r["contaminated"]) for r in batch.collect()}
    assert got == want and len(got) == 30
    assert any(v[1] == 1 for v in got.values())
    assert any(v[1] == 0 for v in got.values())
    # stateless: the streaming progress reports zero state rows
    assert not progress or not progress.get("stateOperators")


def test_stream_decontaminate_refuses_benchmark_past_gram_cap(
    spark, monkeypatch
):
    """The driver-side benchmark gram collect is bounded: a gram set at
    the cap is embedded, one past it is refused with a pointer to the
    batch operator."""
    from pyspark.sql import Row

    from fingerprint_spark.streaming import pipeline as sp

    docs = spark.createDataFrame(
        [Row(url="a", text="say this exact benchmark phrase"),
         Row(url="b", text="nothing shared here at all")]
    )
    bench = spark.createDataFrame(
        [Row(url="b", text="this exact benchmark phrase")]
    )  # two distinct 3-grams
    monkeypatch.setattr(sp, "MAX_STREAM_BENCH_GRAMS", 2)
    got = {
        r["url"]: r["contaminated"]
        for r in sp.stream_decontaminate(docs, bench, n=3).collect()
    }
    assert got == {"a": 1, "b": 0}
    monkeypatch.setattr(sp, "MAX_STREAM_BENCH_GRAMS", 1)
    with pytest.raises(ValueError, match="operators/curation.decontaminate"):
        sp.stream_decontaminate(docs, bench, n=3)
