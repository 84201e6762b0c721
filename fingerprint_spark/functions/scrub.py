"""Regex PII/toxicity scrubbing — pure Column expressions.

The scrub stage of the north_star chain: chained ``regexp_replace``
(JVM-side, codegen'd) plus per-pattern replacement counters computed with
``regexp_extract_all``/``size`` BEFORE replacement, so the pipeline's
counter metrics ("scrub replacements") come from the same pass.

Patterns are ordered: the output depends on application order, so the
order here is part of the versioned scrub definition (analog of the
reference's deterministic assertion ordering, src/dsl/parser.rs:53-72).
Patterns are kept Java/RE2-compatible so the DuckDB oracle can replicate
them verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (name, pattern, replacement) — applied in this order
PII_PATTERNS: list[tuple[str, str, str]] = [
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "phone",
        r"\(\d{3}\) \d{3}-\d{4}",
        "<PHONE>",
    ),
    (
        "ssn",
        r"\b\d{3}-\d{2}-\d{4}\b",
        "<ID>",
    ),
    (
        "ipv4",
        r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "<IP>",
    ),
    # toxicity masking (north_star: "PII/toxicity scrub"). The list is a
    # versioned rule artifact like the templates; abridged here — a real
    # deployment broadcasts a full lexicon the same way.
    (
        "toxicity",
        r"(?i)\b(damn|hell|idiot|stupid|moron)\b",
        "<MASKED>",
    ),
]


def scrub_text(text: Column) -> Column:
    """Apply the ordered replacement chain."""
    out = text
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def scrub_counts(text: Column) -> Column:
    """Struct<name:int> of per-pattern match counts (pre-replacement)."""
    fields = []
    for name, pat, _repl in PII_PATTERNS:
        fields.append(
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias(name)
        )
    return F.struct(*fields)


def oracle_scrub_sql(text_expr: str) -> str:
    """DuckDB SQL applying the identical chain (regexp_replace + 'g')."""
    out = text_expr
    for _name, pat, repl in PII_PATTERNS:
        pat_sql = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{pat_sql}', '{repl}', 'g')"
    return out
