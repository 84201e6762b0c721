"""Language identification — fastText-style, but expressed Spark-first.

Marker-word scoring: per language, the share of whitespace tokens that
are one of its function words (``LANG_MARKERS``); the best language
wins, ties to the lexicographically smallest, and a best score below
``MIN_SCORE`` is ``und``. It has one production kernel and one pinned
reference twin:

- ``marker_langid_batch``, the production kernel, scores a batch of
  texts in Python. The flagship ``quality_filter`` chain runs it inside
  its enrich Arrow pass, which already holds the text;
  ``quality_filter_text`` (whose verdict the DuckDB oracle checks
  through ``pipeline_keep`` and the other text queries) and
  ``q_langid`` map it through ``marker_langid_col``. It reproduces
  Java's regex ``\\b`` exactly (see ``_java_word_before``), so its
  counts equal the Column form's, not merely resemble them.
- ``langid_best``, the reference twin that only tests run, is pure
  Column expressions: Spark's own evaluation of the split trick
  ``size(split(lower(text), '\\b(w1|w2|...)\\b')) - 1`` per language,
  the same counting ``sql_lang_score`` asks of DuckDB.

The DuckDB oracle (``sql_lang_score``) counts with RE2, whose ``\\b``
sees only ASCII word characters, while Java also counts a non-ASCII
letter or digit, and a non-spacing mark on one, as a word character. A
marker that touches such a character is therefore outside the oracle
contract: the ``en`` count of ``'éthe cat'`` is 0 in Spark and 1 in
DuckDB, and of ``'ßthe of the'`` 2 in Spark and 3 in DuckDB. Markers
with only ASCII neighbours count the same in both engines. The trained
fastText-shaped tier is operators/langid_classifier.py.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import context_cached
from .hashing import _jvm_words

# top function words per language (public common-word lists, abridged).
# Every word is ASCII letters only: marker_langid_batch relies on it
# (a match is a whole run of word characters).
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


def langid_best(text: Column) -> Column:
    """Struct<lang:string, score:double> — argmax with deterministic
    tie-break (lexicographically smallest language wins ties)."""
    # each fraction enters the expression tree once (a field of a
    # per-language scores struct would carry the whole struct per
    # language; the optimizer folds both to the same plan, but the
    # driver-side analysis cost grows with the tree)
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


# -- the production kernel ----------------------------------------------------

# marker word -> indexes into LANGS of the languages that list it
_WORD_LANGS: dict[str, tuple[int, ...]] = {}
for _i, _lang in enumerate(LANGS):
    for _w in LANG_MARKERS[_lang]:
        _WORD_LANGS[_w] = _WORD_LANGS.get(_w, ()) + (_i,)


def _marker_alternation() -> str:
    """Every marker of every language as one alternation, grouped by
    first letter (Python's re tries alternatives one by one; the
    grouping lets a position fail after one letter: ~1.5x faster)."""
    by_first: dict[str, list[str]] = {}
    for w in sorted(_WORD_LANGS, key=lambda w: (-len(w), w)):
        by_first.setdefault(w[0], []).append(w[1:])
    return "|".join(
        f"{c}(?:{'|'.join(rests)})" for c, rests in sorted(by_first.items())
    )


# whole words only by the ASCII word class; on an all-ASCII text that
# is Java's \b
_MARKERS_RE = re.compile(
    rf"(?<![0-9A-Za-z_])(?:{_marker_alternation()})(?![0-9A-Za-z_])"
)

# Java's Character.isLetterOrDigit, by general category
_LETTER_DIGIT = frozenset(("Lu", "Ll", "Lt", "Lm", "Lo", "Nd"))


def _java_word(c: str) -> bool:
    """Java Pattern's \\b word predicate (no UNICODE_CHARACTER_CLASS):
    Character.isLetterOrDigit or '_'. The categories come from Python's
    Unicode tables, which may be newer than the JVM's; a character whose
    category changed in between is the one place the two can differ."""
    return c == "_" or unicodedata.category(c) in _LETTER_DIGIT


def _java_word_before(s: str, i: int) -> bool:
    """Whether Java's \\b counts s[i - 1] as a word character on the
    left of position i: a word character, or a non-spacing mark whose
    base (found by walking back over marks) is a letter or digit.
    Java walks UTF-16 units, so a character outside the BMP ends the
    walk unfound (its low surrogate alone is no letter)."""
    if _java_word(s[i - 1]):
        return True
    for j in range(i - 1, -1, -1):
        c = s[j]
        if ord(c) > 0xFFFF:
            return False
        cat = unicodedata.category(c)
        if cat in _LETTER_DIGIT:
            return True
        if cat != "Mn":
            return False
    return False


def _java_word_after(c: str) -> bool:
    """Whether Java's \\b counts c as a word character on the right of
    a marker: a word character, or any non-spacing mark (its base is
    the marker's own last letter)."""
    return _java_word(c) or unicodedata.category(c) == "Mn"


def _marker_matches(lowered: str) -> list[str]:
    """The marker words Java's split(lowered, '\\b(...)\\b') would
    match, in order. Markers are ASCII letters, so a match is a whole
    run of word characters and at most one marker fits a position;
    only a non-ASCII neighbour needs the Java predicate."""
    if lowered.isascii():
        return _MARKERS_RE.findall(lowered)
    out = []
    end = len(lowered)
    for m in _MARKERS_RE.finditer(lowered):
        a, b = m.span()
        if a and lowered[a - 1] >= "\x80" and _java_word_before(lowered, a):
            continue
        if b < end and lowered[b] >= "\x80" and _java_word_after(lowered[b]):
            continue
        out.append(m.group())
    return out


def _marker_best(text: str | None) -> tuple[str, float | None]:
    if text is None:
        return UNKNOWN_LANG, None
    counts = [0] * len(LANGS)
    for w, c in Counter(_marker_matches(text.lower())).items():
        for i in _WORD_LANGS[w]:
            counts[i] += c
    n = len(_jvm_words(text))  # size(split(trim(text), '\\s+'))
    scores = [c / n for c in counts]
    score = max(scores)
    lang = LANGS[scores.index(score)] if score >= MIN_SCORE else UNKNOWN_LANG
    return lang, score


def marker_langid_batch(texts) -> list[tuple[str, float | None]]:
    """(lang, score) per text, exactly langid_best's struct (pinned by
    tests/test_langid_kernel.py): per-language counts of whole-word
    marker matches in the lowercased text, divided by the whitespace
    token count of the trimmed text (at least 1); ties go to the
    lexicographically smallest language, a best score below MIN_SCORE
    is 'und', and NULL text is ('und', NULL)."""
    return [_marker_best(t) for t in texts]


LID_TYPE = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


@context_cached(maxsize=1)
def _marker_langid_udf():
    @F.pandas_udf(LID_TYPE)
    def udf(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            marker_langid_batch(texts), columns=["lang", "score"]
        )

    return udf


def marker_langid_col(text: Column) -> Column:
    """text -> struct<lang, score> through marker_langid_batch in one
    Arrow-batched UDF."""
    return _marker_langid_udf()(text)


# -- DuckDB oracle fragments -------------------------------------------------

def sql_lang_score(lang: str) -> str:
    pat = marker_pattern(lang)
    return (
        f"(len(string_split_regex(lower(text), '{pat}')) - 1)::double"
        " / greatest(len(string_split_regex(trim(text), '\\s+')), 1)"
    )
