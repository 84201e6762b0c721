"""The marker-word langid kernel (functions/langid.marker_langid_batch)
against its pinned reference twin, the Column scorer langid_best.

The kernel is what production runs: the enrich Arrow pass of
quality_filter, quality_filter_text's language-ID stage and q_langid's
lang_detected. langid_best is Spark's own
split/regex evaluation, so exact equality here means the kernel
reproduces Java's \\b, lower() and split(trim(text), '\\s+') — on the
corpus and on the word-boundary edges where Java and Python (or RE2)
differ.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from fingerprint_spark.functions.langid import (
    langid_best,
    marker_langid_batch,
    marker_langid_col,
)
from fingerprint_spark.pipeline import quality_filter_text
from test_oracle_parity import SF_DIR

ADVERSARIAL = [
    # accented neighbours: a non-ASCII letter is a Java word character
    "éthe cat", "thé the", "ÉTHE of the", "ßthe of the", "the é of",
    # non-spacing marks: after a marker (its base is the marker), before
    # one (word only when a letter or digit is found under the marks)
    "the\u0301 of the", "a\u0301the of", " \u0301the of", "x\u0301\u0301the",
    "1\u0301the of", "_\u0301the of", "\u0301the",
    # marks and letters outside the BMP (Java walks UTF-16 units)
    "a\U0001d167the of the", "the\U0001d167 of", "\U00010400the of",
    # superscript two is no Java digit; Python's isalnum says it is
    "the² of", "²the",
    # apostrophe, hyphen, underscore and digit neighbours
    "the's of the", "don't the", "the-of in-the", "_the the_ the",
    "1the the1 the", "the 1 of",
    # NBSP is neither a word character nor \s
    "the\u00a0of\u00a0the", "nbsp\u00a0the\u00a0cat and more",
    # case mappings: İ lowers to i + a combining dot, the Kelvin sign to k
    "İN the", "İthe of", "the İ of", "\u212athe of", "the \u212a of",
    "THE OF AND", "Der Hund und die Katze",
    # markers shared by languages, and ties (smallest language wins)
    "de des la les", "de la", "le el", "der the", "en un que no",
    # the MIN_SCORE edge: 1 marker in 20 tokens, then in 21
    "the " + "x " * 19, "the " + "x " * 20,
    # whitespace: ASCII \s only, trim strips spaces only
    "\tthe cat\t", " the ", "the\x0bcat of", "\x1cthe\x1d", "a\r\nthe\fof",
    # empty, whitespace-only and NULL
    "", "   ", "\t\n", None,
]


def _corpus_texts() -> list:
    path = os.path.join(SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no documents table at {path}")
    return [r[0] for r in duckdb.connect().execute(
        f"SELECT text FROM '{path}'"
    ).fetchall()]


def test_marker_kernel_matches_langid_best(spark):
    texts = ADVERSARIAL + _corpus_texts()
    df = spark.createDataFrame(
        list(enumerate(texts)), "i long, text string"
    ).repartition(3)  # several docs per Arrow batch
    rows = quality_filter_text(df).select(
        "i",
        langid_best(F.col("text")).alias("ref"),
        marker_langid_col(F.col("text")).alias("udf"),
        "lang_detected",
        "lang_score",
    ).collect()
    assert len(rows) == len(texts)
    kernel = marker_langid_batch(texts)
    for r in rows:
        t = texts[r["i"]]
        ref = (r["ref"]["lang"], r["ref"]["score"])
        assert kernel[r["i"]] == ref, repr(t)
        assert (r["udf"]["lang"], r["udf"]["score"]) == ref, repr(t)
        assert (r["lang_detected"], r["lang_score"]) == ref, repr(t)
    # the edge cases above do reach both sides of the predicates
    langs = {k[0] for k in kernel[: len(ADVERSARIAL)]}
    assert {"en", "de", "es", "und"} <= langs


def test_marker_kernel_edge_values():
    """Values the Spark comparison above pins, spelled out: Java counts
    a non-ASCII letter next to a marker as part of its word (RE2, the
    DuckDB oracle, does not; PARITY.md), and NULL text has no score."""
    expected = {
        "éthe cat": ("und", 0.0),
        "ßthe of the": ("en", 2 / 3),
        "the² of": ("en", 1.0),
        "İN the": ("en", 0.5),
        "": ("und", 0.0),
        None: ("und", None),
    }
    got = marker_langid_batch(list(expected))
    assert dict(zip(expected, got)) == expected
