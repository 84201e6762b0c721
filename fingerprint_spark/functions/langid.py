"""Language identification — fastText-style, but expressed Spark-first.

``langid_scores``/``langid_best``: a marker-function-word scorer as pure
Column expressions. Occurrence counting uses the split trick
``size(split(lower(text), '\\b(w1|w2|...)\\b')) - 1`` — one compiled regex
pass per language, fully whole-stage-codegen'd, no higher-order lambdas
(interpreted HOFs over token arrays were ~20x slower). Marker words are
chosen with ASCII word-boundary-safe edges so Java and RE2 (DuckDB
oracle) agree on ``\\b``. Deterministic, and the pipeline default (zero
Python); the trained fastText-shaped tier is
operators/langid_classifier.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# top function words per language (public common-word lists, abridged).
# Every word starts AND ends with an ASCII letter (interior accents are
# fine) so \b behaves identically in Java regex and RE2.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "it", "with",
           "was", "on", "are", "this", "have", "from", "not", "will"],
    "de": ["der", "die", "das", "und", "zu", "den", "von", "mit", "sich",
           "des", "auf", "ist", "im", "dem", "nicht", "ein", "eine", "werden"],
    "fr": ["le", "de", "la", "et", "les", "des", "en", "un", "du", "une",
           "que", "est", "pour", "qui", "dans", "par", "plus", "pas"],
    "es": ["el", "la", "de", "que", "en", "un", "ser", "se", "no",
           "haber", "por", "con", "su", "para", "como", "estar", "lo", "todo"],
}
LANGS = sorted(LANG_MARKERS)
UNKNOWN_LANG = "und"
MIN_SCORE = 0.05  # below this fraction of marker hits -> "und"

TOKEN_SPLIT_RE = r"[\s\.,;:!\?\|]+"


def marker_pattern(lang: str) -> str:
    return r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"


def _n_tokens(text: Column) -> Column:
    """Whitespace token count; '' -> [''] in both Spark and DuckDB, so the
    degenerate empty-text case stays oracle-consistent."""
    return F.size(F.split(F.trim(text), r"\s+"))


def _marker_fractions(text: Column) -> dict[str, Column]:
    lowered = F.lower(text)
    n = F.greatest(_n_tokens(text), F.lit(1))
    return {
        lang: (F.size(F.split(lowered, marker_pattern(lang))) - 1) / n
        for lang in LANGS
    }


def langid_scores(text: Column) -> Column:
    """Struct<lang:double> of per-language marker-token fractions."""
    return F.struct(
        *[frac.alias(lang) for lang, frac in _marker_fractions(text).items()]
    )


def langid_best(text: Column) -> Column:
    """Struct<lang:string, score:double> — argmax with deterministic
    tie-break (lexicographically smallest language wins ties)."""
    # each fraction enters the expression tree once (a field of the
    # langid_scores struct would carry the whole struct per language;
    # the optimizer folds both to the same plan, but the driver-side
    # analysis cost grows with the tree)
    fracs = _marker_fractions(text)
    # array_max compares struct fields in order: (score, nrank, lang).
    # nrank = -index makes ties resolve to the lexicographically smallest
    # language — an explicit deterministic tie-break (SURVEY.md §4: never
    # rely on shuffle order for tie-breaking).
    pairs = F.array(
        *[
            F.struct(
                fracs[lang].alias("score"),
                F.lit(-i).alias("nrank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANGS)
        ]
    )
    best = F.array_max(pairs)
    lang = F.when(best["score"] >= MIN_SCORE, best["lang"]).otherwise(
        F.lit(UNKNOWN_LANG)
    )
    return F.struct(lang.alias("lang"), best["score"].alias("score"))


# -- DuckDB oracle fragments -------------------------------------------------

def sql_lang_score(lang: str, text_expr: str = "text") -> str:
    pat = marker_pattern(lang)
    return (
        f"(len(string_split_regex(lower({text_expr}), '{pat}')) - 1)::double"
        f" / greatest(len(string_split_regex(trim({text_expr}), '\\s+')), 1)"
    )
