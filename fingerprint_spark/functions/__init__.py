"""Column-expression and vectorized-UDF function library.

Everything here is either a pure Catalyst Column expression (JVM-side,
whole-stage-codegen'd — the default) or an Arrow-batched pandas UDF
(simhash, perplexity, the marker-word langid kernel, which the flagship
chain runs in its one enrich pass). Per BASELINE.json
input_hint, no per-row Python UDF exists anywhere in this package.
"""

from .hashing import content_hash_col, minhash_signature_col
from .langid import LANG_MARKERS
from .perplexity import NGramModel, perplexity_col, train_char_ngram
from .scrub import PII_PATTERNS, scrub_counts, scrub_levels
from .textstats import (
    GOPHER_STOPWORDS,
    gopher_quality_flags,
    text_stats,
)

__all__ = [
    "text_stats",
    "gopher_quality_flags",
    "GOPHER_STOPWORDS",
    "LANG_MARKERS",
    "train_char_ngram",
    "NGramModel",
    "perplexity_col",
    "scrub_levels",
    "scrub_counts",
    "PII_PATTERNS",
    "minhash_signature_col",
    "content_hash_col",
]
