"""The quality-filter pipeline — the flagship chain of BASELINE.json.

    template/boilerplate match (fingerprint capability)
      -> language ID
      -> n-gram perplexity
      -> Gopher/C4 heuristic rules
      -> regex PII/toxicity scrub
      => one keep/drop verdict + scrubbed text per url

Execution shape (the 100 TB design):

- ONE vectorized parse UDF per document (the only expensive Python in
  the default chain), then pure Column expressions — the whole chain is
  narrow transformations, so the plan is scan -> project -> write with
  ZERO shuffles. Throughput scales linearly with executors because no
  stage exchanges data. Opting into a TRAINED language model
  (langid_model) adds a second ArrowEvalPython stage — still narrow,
  still zero shuffles.
- Template rules compile at the driver and ride the Catalyst plan as
  literals (broadcast versioned lookup structures). Re-validation against
  a new template version is an incremental pass over the same parsed
  struct — only the match fold changes.
- The map-only chain itself never repartitions; only a downstream stage
  that actually shuffles (dedup, label-join) keys on url hashes.

Driver-side build shape: every ``F.*`` call is a py4j round trip and
every ``withColumn`` re-analyses the whole plan, so the chains are NOT
rebuilt per call. Each stage's Columns are built once and memoized in
``_STAGES``, a bounded LRU keyed on the live SparkContext and the
parameters that shape the expressions (rules, ppl model, target_lang,
ppl_threshold, html_col / text_col, package version); Columns are
unresolved expressions, so one tree serves every DataFrame (each
checkpoint bucket, each streaming micro-batch, each revalidate). The
stages are applied as ONE ``withColumns`` per dependency level — the
levels are the Projects the optimizer settles on, so the optimized plan
equals the per-column chain's (pinned by tests/fixtures/plans). The
cache drops its entries when the SparkContext changes: a Column that
calls a Python UDF carries the context the UDF was made under.

Reference analog: the run-mode lifecycle of src/lib.rs:739-834 —
read -> enrich (rules) -> outcome fold -> ordered emit. Ordering is
replaced by keying on url (SURVEY §1.7).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import __version__
from .caching import ContextCache
from .dsl.model import FingerprintDefinition
from .dsl.registry import builtin_rules
from .functions.langid import UNKNOWN_LANG, langid_best
from .functions.perplexity import (
    DEFAULT_PPL_THRESHOLD,
    NGramModel,
    perplexity_col,
    train_char_ngram,
)
from .functions.scrub import scrub_counts, scrub_text
from .functions.textstats import (
    GOPHER_FLAGS,
    gopher_quality_flags,
    text_stats,
)
from .operators.match import match_levels
from .parse import enrich_col


@lru_cache(maxsize=1)
def default_ppl_model() -> NGramModel:
    """Deterministic in-domain char-3gram model trained on the engine's
    embedded English vocabulary (no external data)."""
    from .corpus import VOCAB

    words = VOCAB["en"]
    # deterministic pseudo-sentences: rotate the vocab list
    texts = [
        " ".join(words[(7 * i + j) % len(words)] for j in range(12)) + "."
        for i in range(300)
    ]
    return train_char_ngram(texts, order=3)


def _heuristic_failure(flags: Column) -> Column:
    """Name of the first failing Gopher flag in rule order, NULL when
    every flag passes."""
    return F.coalesce(
        *[F.when(~flags[n], F.lit(n)) for n in GOPHER_FLAGS],
        F.lit(None).cast("string"),
    )


def _verdict(
    template: Column,
    lang_best: Column,
    ppl: Column,
    flags: Column,
    target_lang: str,
    ppl_threshold: float,
) -> tuple[Column, Column]:
    """keep boolean + first-failing-stage drop_reason (the stage-order
    analog of assertion declaration-order short-circuit)."""
    heur_fail = _heuristic_failure(flags)
    reason = (
        F.when(
            template["matched"],
            F.concat(F.lit("template:"), template["fingerprint_id"]),
        )
        .when(
            lang_best["lang"] != target_lang,
            F.concat(F.lit("langid:"), lang_best["lang"]),
        )
        .when(ppl > ppl_threshold, F.lit("perplexity"))
        .when(heur_fail.isNotNull(), F.concat(F.lit("heuristic:"), heur_fail))
    )
    return reason.isNull(), reason


DEFAULT_LANGID_THRESHOLD = 0.5  # CCNet's fastText-prob gate

# the stage-Column memo (module docstring: driver-side build shape)
_STAGES = ContextCache(maxsize=8)
_HELPER_COLS = ("_enriched", "_lid")  # level-to-level helpers, dropped


def _marker_langid(text_col: str) -> tuple[dict, dict]:
    """The default language-ID stage (marker-word Column scorer) as two
    levels: the ``_lid`` struct, then lang_detected + lang_score."""
    return (
        {"_lid": langid_best(F.col(text_col))},
        {"lang_detected": F.col("_lid.lang"), "lang_score": F.col("_lid.score")},
    )


def _trained_langid(
    text_col: str,
    langid_model: dict | None,
    langid_threshold: float,
) -> tuple[Callable[[DataFrame], DataFrame], dict] | None:
    """The opt-in trained language-ID stage, None without a model:
    (frame -> frame with the ``_lid`` struct, the lang_detected +
    lang_score level). It is built per call: the model is a dict and
    the classifier transforms the frame. The classifier is the
    Arrow-batched kernel (langid_classify_arrow, measured 46x the
    zero-Python Column fold langid_classify, which tests keep as its
    parity anchor).

    langid_threshold is the trained tier's UNKNOWN-language gate (the
    marker tier's MIN_SCORE analog; CCNet gates fastText lid at prob
    0.5): a softmax always emits SOME trained class, so an
    out-of-class document (a language the model never saw) would
    otherwise be force-assigned — below-threshold predictions become
    'und' (and drop as langid:und downstream), with lang_score still
    carrying the rejected argmax probability for auditability."""
    if langid_model is None:
        return None
    from .operators.langid_classifier import langid_classify_arrow

    lang = {
        "lang_detected": F.when(
            F.col("_lid.prob") >= F.lit(float(langid_threshold)),
            F.col("_lid.lang"),
        ).otherwise(F.lit(UNKNOWN_LANG)),
        "lang_score": F.col("_lid.prob"),
    }
    return (
        lambda df: langid_classify_arrow(
            df, langid_model, text_col=text_col, out_col="_lid"
        ),
        lang,
    )


def _apply_levels(
    df: DataFrame,
    levels: tuple[dict, ...],
    trained: tuple[Callable[[DataFrame], DataFrame], dict] | None,
) -> DataFrame:
    """One ``withColumns`` per dependency level, then drop the helper
    columns. A trained language-ID stage (_trained_langid) replaces the
    level's ``_lid`` Column with its classifier and the marker scorer's
    lang Columns with its own (same names, same positions)."""
    classify, lang = trained or (None, None)
    for level in levels:
        if classify is not None and "_lid" in level:
            rest = {k: v for k, v in level.items() if k != "_lid"}
            if rest:
                df = df.withColumns(rest)
            df = classify(df)
            continue
        if lang is not None and "lang_detected" in level:
            level = {**level, **lang}
        df = df.withColumns(level)
    return df.drop(*_HELPER_COLS)


def quality_filter(
    df: DataFrame,
    rules: list[FingerprintDefinition] | None = None,
    ppl_model: NGramModel | None = None,
    target_lang: str = "en",
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD,
    html_col: str = "html",
    langid_model: dict | None = None,
    langid_threshold: float = DEFAULT_LANGID_THRESHOLD,
) -> DataFrame:
    """Full chain over the input_hint table (url, warc_ts, html, text, lang).

    Returns the input columns plus: extracted_text, fingerprint (match
    struct), children, child_routing, lang_detected, lang_score, ppl,
    stats, flags, scrub (counters), scrubbed_text, keep, drop_reason.

    ``langid_model`` swaps stage 2's marker-word scorer for the
    TRAINED fastText-shaped softmax (the curate --langid-model
    semantics, now first-class in the flagship chain); lang_score then
    carries the softmax probability.
    """
    if rules is None:
        rules = builtin_rules()
    # constant-fold the format gate at the driver: only html rules can
    # match an html corpus (enricher.rs:455-468 done at compile time)
    rules = tuple(r for r in rules if r.format == "html")
    model = ppl_model or default_ppl_model()
    # ppl_threshold's type is keyed too: 36 and 36.0 are equal keys but
    # build different literals (and so different plans)
    levels = _STAGES.get(
        ("quality_filter", rules, model, target_lang, ppl_threshold,
         type(ppl_threshold), html_col, __version__),
        lambda: _html_levels(rules, model, target_lang, ppl_threshold, html_col),
    )
    return _apply_levels(df, levels, _trained_langid(
        "extracted_text", langid_model, langid_threshold
    ))


def _html_levels(
    rules: tuple[FingerprintDefinition, ...],
    model: NGramModel,
    target_lang: str,
    ppl_threshold: float,
    html_col: str,
) -> tuple[dict[str, Column], ...]:
    """quality_filter's stages as projection levels. A column reads only
    columns of earlier levels, and each level is the Project the
    optimizer settles on for the chain, so the optimized plan is the
    same as one built with a withColumn per column."""
    text = F.col("extracted_text")
    fold, kids, routing = match_levels(rules, _match_env(ts=True))
    lid, lang = _marker_langid("extracted_text")
    keep, reason = _verdict(
        F.col("fingerprint"),
        F.struct(F.col("lang_detected").alias("lang"), F.col("lang_score").alias("score")),
        F.col("ppl"),
        F.col("flags"),
        target_lang,
        ppl_threshold,
    )
    # lifecycle: parse failures are skips with warnings, never task
    # failures (enricher.rs:145-159 E_PARSE); skipped docs drop with an
    # explicit reason and carry the warning code
    parse_err = F.col("parsed.parse_error")
    return (
        # stage 0: ONE Python pass per document — structural parse +
        # perplexity + simhash in a single Arrow-batched UDF (separate
        # chained UDFs would double the Python worker pool and
        # re-serialize the parsed struct)
        {"_enriched": enrich_col(F.col(html_col), model)},
        # (stage 3, perplexity, is computed in the enrich pass)
        {
            "parsed": F.col("_enriched.parsed"),
            "ppl": F.col("_enriched.ppl"),
            "simhash": F.col("_enriched.simhash"),
        },
        # stage 1: template match (broadcast fold, enricher.rs:201-268
        # analog), then the children, then their routing
        {"extracted_text": F.col("parsed.normalized"), **fold},
        kids,
        # stage 2: language ID — marker-word Column exprs by default, or
        # the trained softmax when a model is supplied (_apply_levels)
        {**routing, **lid},
        # stage 4: heuristics (pure Column exprs), stats then flags;
        # stage 5: scrub (regexp_replace chain + counters)
        {**lang, "stats": text_stats(text)},
        {
            "flags": gopher_quality_flags(F.col("stats")),
            "scrub": scrub_counts(text),
            "scrubbed_text": scrub_text(text),
        },
        # verdict
        {
            "keep": F.when(parse_err.isNotNull(), F.lit(False)).otherwise(keep),
            "drop_reason": F.when(
                parse_err.isNotNull(), F.lit("skip:E_PARSE")
            ).otherwise(reason),
            "warnings": F.filter(
                F.array(F.when(parse_err.isNotNull(), F.lit("E_PARSE"))),
                lambda w: w.isNotNull(),
            ),
            # tool_versions accumulation analog (enricher.rs:622-634)
            "tool_versions": F.create_map(
                F.lit("fingerprint_spark"), F.lit(__version__)
            ),
        },
    )


def _match_env(ts: bool) -> dict[str, Column]:
    """The match fold's inputs; ``ts`` when the frame has warc_ts."""
    env = {"url": F.col("url"), "ts": F.col("warc_ts"), "parsed": F.col("parsed")}
    if not ts:
        del env["ts"]
    return env


def quality_filter_text(
    df: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    target_lang: str = "en",
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD,
    with_ppl: bool = False,
    ppl_model: NGramModel | None = None,
    langid_model: dict | None = None,
    langid_threshold: float = DEFAULT_LANGID_THRESHOLD,
) -> DataFrame:
    """Text-only variant (no html parse): langid -> heuristics -> scrub.

    Every stage here is a pure Column expression with an exact ANSI-SQL
    analog — this is the oracle-checkable surface used by the driver's
    DuckDB comparison. ``with_ppl`` adds the (non-SQL) perplexity stage.
    ``langid_model`` swaps the marker-word scorer for a TRAINED
    fastText-shaped softmax (operators/langid_classifier, the
    train-langid CLI output) — zero-shuffle either way; lang_score then
    carries the softmax probability of the predicted class rather than
    the marker-token fraction. The trained scorer runs as one
    ArrowEvalPython stage (langid_classify_arrow: 60.6k vs the Column
    fold's 1.3k docs/s at dim=2048/L=4). Its probabilities agree with
    the Column fold to 1e-9 (pinned by test_langid_classifier); an
    EXACT margin tie between two classes could in principle resolve
    differently (float sum-order ulp) — the fixed-point micro kernels
    are the bit-exact contract where that matters (the oracle row).
    """
    model = (ppl_model or default_ppl_model()) if with_ppl else None
    levels = _STAGES.get(
        ("quality_filter_text", text_col, target_lang, ppl_threshold,
         type(ppl_threshold), model, __version__),
        lambda: _text_levels(text_col, target_lang, ppl_threshold, model),
    )
    return _apply_levels(df, levels, _trained_langid(
        text_col, langid_model, langid_threshold
    ))


def _text_levels(
    text_col: str,
    target_lang: str,
    ppl_threshold: float,
    ppl_model: NGramModel | None,
) -> tuple[dict[str, Column], ...]:
    """quality_filter_text's stages as projection levels (see
    _html_levels); ``ppl_model`` None leaves the perplexity stage out."""
    text = F.col(text_col)
    lid, lang = _marker_langid(text_col)
    heur_fail = _heuristic_failure(F.col("flags"))
    # ONE reason chain with the ppl link conditionally inserted —
    # building two whole chains duplicated the langid/heuristic
    # clauses (review finding r5c)
    clauses = [
        (
            F.col("lang_detected") != target_lang,
            F.concat(F.lit("langid:"), F.col("lang_detected")),
        ),
    ]
    scored = {
        "flags": gopher_quality_flags(F.col("stats")),
        "scrub": scrub_counts(text),
        "scrubbed_text": scrub_text(text),
    }
    if ppl_model is not None:
        scored["ppl"] = perplexity_col(text, ppl_model)
        clauses.append((F.col("ppl") > ppl_threshold, F.lit("perplexity")))
    clauses.append(
        (heur_fail.isNotNull(), F.concat(F.lit("heuristic:"), heur_fail))
    )
    reason = F.when(*clauses[0])
    for cond, val in clauses[1:]:
        reason = reason.when(cond, val)
    return (
        lid,
        {**lang, "stats": text_stats(text)},
        scored,
        {"keep": reason.isNull(), "drop_reason": reason},
    )


def revalidate(
    parsed_df: DataFrame,
    rules: list[FingerprintDefinition],
    result_col: str = "fingerprint",
) -> DataFrame:
    """Incremental template re-validation (north_star requirement).

    Input: a frame that already carries the ``parsed`` struct (e.g. the
    stored output of a previous quality_filter run). Applying a NEW rule
    version is a pure expression pass — no html parse, no Python stage,
    no shuffle. The physical plan must contain no ArrowEvalPython node
    (asserted in tests): at 100 TB this is the difference between
    re-reading stored structs and re-parsing the crawl.
    """
    rules = tuple(r for r in rules if r.format == "html")
    has_ts = "warc_ts" in parsed_df.columns
    levels = _STAGES.get(
        ("revalidate", rules, has_ts, result_col, __version__),
        lambda: match_levels(rules, _match_env(has_ts), result_col),
    )
    for level in levels:
        parsed_df = parsed_df.withColumns(level)
    return parsed_df
