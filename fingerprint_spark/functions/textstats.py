"""Gopher/C4-style heuristic quality rules as pure Column expressions.

Rule set follows the published Gopher (Rae et al. 2021, arXiv:2112.11446
A.1.1) and C4 (Raffel et al. 2020) heuristics. Word-level statistics are
computed with single-pass regex counting (the split trick: occurrences =
``size(split(s, pat)) - 1``) and length deltas — fully whole-stage-
codegen'd JVM expressions. Higher-order lambdas are used only over the
per-document LINES array (tens of elements), never over token arrays
(thousands): interpreted HOF evaluation over tokens measured ~20x slower.

Every statistic has a byte-equivalent DuckDB SQL analog (oracle_stats_sql)
generated from the same constants.

Thresholds are module constants so tests and oracle SQL share them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# canonical Gopher "must contain 2 of these" stop words
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

MIN_WORDS = 40
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_WORD_RATIO = 0.10
MAX_ELLIPSIS_LINE_FRAC = 0.30
MAX_BULLET_LINE_FRAC = 0.90
# Gopher uses 0.80 for prose; tables/reports legitimately carry numeric
# cells, so this engine uses 0.60 (symbol-ratio + perplexity + word-count
# still catch symbol-soup pages)
MIN_ALPHA_WORD_FRAC = 0.60
MIN_STOPWORD_HITS = 2
MAX_DUP_LINE_FRAC = 0.30

_SYMBOLS_RE = r"[#@%^&*{}<>~+=_]"
_STOPWORD_PAT = r"\b(" + "|".join(GOPHER_STOPWORDS) + r")\b"
# one count per whitespace token containing at least one letter: separator
# then non-space prefix then a letter; greedy backtracking consumes at most
# the token, and re-matching inside the same token is impossible because
# the next match needs a separator first. Works identically in Java & RE2.
_ALPHA_TOKEN_PAT = r"\s[^\s]*[A-Za-zÀ-ÿ]"


def _count(col: Column, pattern: str) -> Column:
    """Non-overlapping occurrence count via the split trick (codegen'd)."""
    return F.size(F.split(col, pattern)) - 1


def text_stats(text: Column) -> Column:
    """Struct of per-document statistics (word counts, ratios, line stats)."""
    lines = F.split(text, "\n")
    n_words = F.size(F.split(F.trim(text), r"\s+"))
    n_lines = F.size(lines)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    nl = F.greatest(n_lines, F.lit(1)).cast("double")
    total_chars = F.length(F.regexp_replace(text, r"\s+", ""))
    alpha_words = _count(F.concat(F.lit(" "), text), _ALPHA_TOKEN_PAT)
    stop_hits = _count(F.lower(text), _STOPWORD_PAT)
    symbol_count = F.length(text) - F.length(
        F.regexp_replace(text, _SYMBOLS_RE, "")
    )
    ellipsis_lines = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    bullet_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^\s*([-*•]|\d+\.)\s"))
    )
    dup_lines = n_lines - F.size(F.array_distinct(lines))

    return F.struct(
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        (total_chars / nw).alias("mean_word_len"),
        (alpha_words / nw).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        (symbol_count / nw).alias("symbol_word_ratio"),
        (ellipsis_lines / nl).alias("ellipsis_line_frac"),
        (bullet_lines / nl).alias("bullet_line_frac"),
        (dup_lines / nl).alias("dup_line_frac"),
    )


def gopher_quality_flags(stats: Column) -> Column:
    """Struct of named boolean pass/fail flags, one per heuristic rule.

    Mirrors the reference's per-assertion result list
    (src/dsl/assertions.rs AssertionResult) so the failure *reason* is
    reportable, not just the verdict.
    """
    return F.struct(
        stats["n_words"].between(MIN_WORDS, MAX_WORDS).alias("words_in_range"),
        stats["mean_word_len"]
        .between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        .alias("mean_word_len_in_range"),
        (stats["symbol_word_ratio"] <= MAX_SYMBOL_WORD_RATIO).alias("symbol_ratio_ok"),
        (stats["ellipsis_line_frac"] <= MAX_ELLIPSIS_LINE_FRAC).alias("ellipsis_ok"),
        (stats["bullet_line_frac"] <= MAX_BULLET_LINE_FRAC).alias("bullet_ok"),
        (stats["alpha_word_frac"] >= MIN_ALPHA_WORD_FRAC).alias("alpha_ok"),
        (stats["stopword_hits"] >= MIN_STOPWORD_HITS).alias("stopwords_ok"),
        (stats["dup_line_frac"] <= MAX_DUP_LINE_FRAC).alias("dup_lines_ok"),
    )


def quality_flags_all_pass(flags: Column) -> Column:
    names = [
        "words_in_range", "mean_word_len_in_range", "symbol_ratio_ok",
        "ellipsis_ok", "bullet_ok", "alpha_ok", "stopwords_ok", "dup_lines_ok",
    ]
    out = F.lit(True)
    for n in names:
        out = out & flags[n]
    return out


def oracle_stats_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB SQL fragments computing the same statistics (for oracle_sql)."""
    lines = f"string_split({text_expr}, chr(10))"
    n_words = f"len(string_split_regex(trim({text_expr}), '\\s+'))"
    nw = f"greatest({n_words}, 1)::double"
    nl = f"greatest(len({lines}), 1)::double"
    return {
        "n_words": n_words,
        "n_lines": f"len({lines})",
        "mean_word_len": (
            f"length(regexp_replace({text_expr}, '\\s+', '', 'g'))::double / {nw}"
        ),
        "alpha_word_frac": (
            f"(len(string_split_regex(' ' || {text_expr}, '{_ALPHA_TOKEN_PAT}')) - 1)::double / {nw}"
        ),
        "stopword_hits": (
            f"(len(string_split_regex(lower({text_expr}), '{_STOPWORD_PAT}')) - 1)"
        ),
        "symbol_word_ratio": (
            f"(length({text_expr}) - length(regexp_replace({text_expr}, '{_SYMBOLS_RE}', '', 'g')))::double / {nw}"
        ),
        "ellipsis_line_frac": (
            f"len(list_filter({lines}, ln -> ln LIKE '%...'))::double / {nl}"
        ),
        "bullet_line_frac": (
            f"len(list_filter({lines}, ln -> regexp_matches(ln, '^\\s*([-*•]|[0-9]+\\.)\\s')))::double / {nl}"
        ),
        "dup_line_frac": (
            f"(len({lines}) - len(list_distinct({lines})))::double / {nl}"
        ),
    }
