"""Vectorized parse stage: the html structural parse as an Arrow-batched
UDF, alone (parse_html_col) or fused with the text signals (enrich_col).

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
from .schema import PARSED_TYPE

__all__ = [
    "PARSED_TYPE",
    "parse_html",
    "parse_html_col",
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


def parse_html_col(html: Column) -> Column:
    """html (binary or string) -> parsed struct (schema.PARSED_TYPE)."""
    return _parse_html_udf()(html)


# ---------------------------------------------------------------------------
# combined enrichment stage: ONE Python pass per document
# ---------------------------------------------------------------------------
# Chaining separate pandas UDFs (parse -> ppl) creates two ArrowEvalPython
# nodes => two Python runner pools per task and a JVM round-trip of the
# parsed struct between them. At cluster scale that doubles Python worker
# memory and Arrow serialization; measured locally it dominated cold-start
# wall time. The enrich UDF computes every Python-side signal (structural
# parse, char-ngram perplexity, simhash) in one Arrow batch pass, and
# also the marker-word language ID: the batch already holds the text, so
# scoring it here (marker_langid_batch, ~0.1 ms/doc) costs less than the
# four JVM regex passes of the Column scorer, which took about half as
# long as the whole enrich pass.

def enrich_type():
    from ..functions.langid import LID_TYPE
    from ..parse.schema import PARSED_TYPE

    return T.StructType(
        [
            T.StructField("parsed", PARSED_TYPE),
            T.StructField("ppl", T.DoubleType()),
            T.StructField("simhash", T.LongType()),
            T.StructField("lid", LID_TYPE),
        ]
    )


@context_cached(maxsize=4)
def _enrich_udf(model):
    from ..functions.hashing import simhash64_batch_py
    from ..functions.langid import marker_langid_batch
    from ..functions.perplexity import score_text_fast_fn

    # bit-identical fast twins (r6): the LUT+cumsum ppl scorer and the
    # batch-word-hashed simhash produce the same floats/ints as
    # score_text/simhash64_py (pinned by test_r06_optimizations) at
    # ~3x the per-doc Python speed; marker_langid_batch equals the
    # Column scorer langid_best (pinned by test_langid_kernel)
    score = score_text_fast_fn(model)

    @F.pandas_udf(enrich_type())
    def udf(html: pd.Series) -> pd.DataFrame:
        # column-wise construction: ~30% less pandas overhead than
        # list-of-dicts rows for nested-struct outputs
        parsed_col = [parse_html(_to_str(h)) for h in html]
        normalized = [p["normalized"] for p in parsed_col]
        texts = [t or "" for t in normalized]
        return pd.DataFrame(
            {
                "parsed": parsed_col,
                "ppl": [score(t) for t in texts],
                "simhash": simhash64_batch_py(texts),
                # NULL text scores (und, NULL), as langid_best does
                "lid": [
                    {"lang": lang, "score": s}
                    for lang, s in marker_langid_batch(normalized)
                ],
            }
        )

    return udf


def enrich_col(html: Column, model) -> Column:
    """html -> struct(parsed, ppl, simhash over 3-word shingles, lid) in
    one vectorized pass; lid is the marker-word language ID of
    parsed.normalized."""
    return _enrich_udf(model)(html)
