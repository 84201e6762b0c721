"""Vectorized parse stage: one Arrow-batched UDF per document format.

The reference re-opens/re-parses the document for every assertion
(e.g. xlsx re-open per cell access, src/document/xlsx.rs:25-45; regex
recompile per eval, assertions.rs:1643-1644). Here the parse is hoisted
into a single UDF stage executed once per document; every assertion after
that is a JVM-side Catalyst expression over the ``parsed`` struct — a
genuine improvement enabled by the columnar model (SURVEY.md §4).

UDFs are created lazily (first use) so importing this package never
requires an active SparkSession.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import context_cached
from .html_parser import parse_html
from .markdown import normalize_markdown, parse_markdown
from .schema import PARSED_TYPE

__all__ = [
    "PARSED_TYPE",
    "parse_html",
    "parse_markdown",
    "normalize_markdown",
    "parse_html_col",
    "parse_markdown_col",
]


def _to_str(h) -> str:
    if h is None:
        return ""
    if isinstance(h, str):
        return h
    return bytes(h).decode("utf-8", "replace")


@context_cached(maxsize=1)
def _parse_html_udf():
    @F.pandas_udf(PARSED_TYPE)
    def udf(html: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([parse_html(_to_str(h)) for h in html])

    return udf


@context_cached(maxsize=1)
def _parse_markdown_udf():
    @F.pandas_udf(PARSED_TYPE)
    def udf(md: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([parse_markdown(_to_str(m)) for m in md])

    return udf


def parse_html_col(html: Column) -> Column:
    """html (binary or string) -> parsed struct (schema.PARSED_TYPE)."""
    return _parse_html_udf()(html)


def parse_markdown_col(md: Column) -> Column:
    return _parse_markdown_udf()(md)


# ---------------------------------------------------------------------------
# combined enrichment stage: ONE Python pass per document
# ---------------------------------------------------------------------------
# Chaining separate pandas UDFs (parse -> ppl) creates two ArrowEvalPython
# nodes => two Python runner pools per task and a JVM round-trip of the
# parsed struct between them. At cluster scale that doubles Python worker
# memory and Arrow serialization; measured locally it dominated cold-start
# wall time. The enrich UDF computes every Python-side signal (structural
# parse, char-ngram perplexity, simhash) in one Arrow batch pass.

def enrich_type():
    from ..parse.schema import PARSED_TYPE

    return T.StructType(
        [
            T.StructField("parsed", PARSED_TYPE),
            T.StructField("ppl", T.DoubleType()),
            T.StructField("simhash", T.LongType()),
        ]
    )


@context_cached(maxsize=4)
def _enrich_udf(model, simhash_k: int):
    from ..functions.hashing import simhash64_batch_py
    from ..functions.perplexity import score_text_fast_fn

    # bit-identical fast twins (r6): the LUT+cumsum ppl scorer and the
    # batch-word-hashed simhash produce the same floats/ints as
    # score_text/simhash64_py (pinned by test_r06_optimizations) at
    # ~3x the per-doc Python speed
    score = score_text_fast_fn(model)

    @F.pandas_udf(enrich_type())
    def udf(html: pd.Series) -> pd.DataFrame:
        # column-wise construction: ~30% less pandas overhead than
        # list-of-dicts rows for nested-struct outputs
        parsed_col, ppl_col, texts = [], [], []
        for h in html:
            parsed = parse_html(_to_str(h))
            text = parsed["normalized"] or ""
            parsed_col.append(parsed)
            texts.append(text)
            ppl_col.append(score(text))
        sim_col = simhash64_batch_py(texts, simhash_k)
        return pd.DataFrame(
            {"parsed": parsed_col, "ppl": ppl_col, "simhash": sim_col}
        )

    return udf


def enrich_col(html: Column, model, simhash_k: int = 3) -> Column:
    """html -> struct(parsed, ppl, simhash) in one vectorized pass."""
    return _enrich_udf(model, simhash_k)(html)
