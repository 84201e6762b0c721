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


# The literal each guarded pattern cannot match without. A guarded count
# or replacement is skipped when the stage's input text lacks the
# literal. No replacement token holds one, so a step's input in the
# chain holds the literal only when the input text does: the guard is
# exact for the whole chain.
SCRUB_GUARDS = {"email": "@", "phone": "(", "ssn": "-"}
# scrub_levels' level count: each guarded step after the first opens one
SCRUB_LEVELS = 1 + sum(name in SCRUB_GUARDS for name, _p, _r in PII_PATTERNS[1:])


def _absent(text: Column, name: str) -> Column | None:
    lit = SCRUB_GUARDS.get(name)
    return None if lit is None else F.instr(text, lit) == 0


def scrub_levels(
    text: Column, names: tuple[str, ...]
) -> tuple[dict[str, Column], ...]:
    """The ordered replacement chain as SCRUB_LEVELS projection levels:
    level k writes column ``names[k]``, so the last one writes the
    scrubbed text, and a name may repeat to continue a column in place.

    A guarded step reads its input twice (kept, or replaced), so each
    guarded step after the first opens a level and reads the column of
    the level before: an inlined input would repeat the chain before it
    in the plan once per guard."""
    assert len(names) == SCRUB_LEVELS, names
    levels: list[dict[str, Column]] = []
    out = text
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        absent = _absent(text, name)
        if absent is not None and i:
            levels.append({names[len(levels)]: out})
            out = F.col(names[len(levels) - 1])
        step = F.regexp_replace(out, pat, repl)
        out = step if absent is None else F.when(absent, out).otherwise(step)
    return (*levels, {names[-1]: out})


def scrub_text(text: Column) -> Column:
    """The unguarded replacement chain as one Column: the reference
    twin of scrub_levels."""
    out = text
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def scrub_counts(text: Column) -> Column:
    """Struct<name:int> of per-pattern match counts (pre-replacement)."""
    fields = []
    for name, pat, _repl in PII_PATTERNS:
        n = F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        absent = _absent(text, name)
        if absent is not None:
            n = F.when(absent, F.lit(0)).otherwise(n)
        fields.append(n.alias(name))
    return F.struct(*fields)


def oracle_scrub_sql(text_expr: str) -> str:
    """DuckDB SQL applying the identical chain (regexp_replace + 'g')."""
    out = text_expr
    for _name, pat, repl in PII_PATTERNS:
        pat_sql = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{pat_sql}', '{repl}', 'g')"
    return out
