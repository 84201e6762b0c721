"""Column-expression and vectorized-UDF function library.

Everything here is either a pure Catalyst Column expression (JVM-side,
whole-stage-codegen'd — the default) or an Arrow-batched pandas UDF (the
explicitly-marked slow path: simhash, perplexity). Per BASELINE.json
input_hint, no per-row Python UDF exists anywhere in this package.
"""

from .hashing import content_hash_col, minhash_signature_col
from .langid import LANG_MARKERS, langid_best
from .perplexity import NGramModel, perplexity_col, train_char_ngram
from .scrub import PII_PATTERNS, scrub_counts, scrub_text
from .textstats import (
    GOPHER_STOPWORDS,
    gopher_quality_flags,
    text_stats,
)

__all__ = [
    "text_stats",
    "gopher_quality_flags",
    "GOPHER_STOPWORDS",
    "langid_best",
    "LANG_MARKERS",
    "train_char_ngram",
    "NGramModel",
    "perplexity_col",
    "scrub_text",
    "scrub_counts",
    "PII_PATTERNS",
    "minhash_signature_col",
    "content_hash_col",
]
