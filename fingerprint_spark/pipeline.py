"""The quality-filter pipeline — the flagship chain of BASELINE.json.

    template/boilerplate match (fingerprint capability)
      -> language ID
      -> n-gram perplexity
      -> Gopher/C4 heuristic rules
      -> regex PII/toxicity scrub
      => one keep/drop verdict + scrubbed text per url

Execution shape (the 100 TB design):

- ONE vectorized enrich UDF per document, the only Python in the
  default chain: it parses the html and scores perplexity, simhash and
  the marker-word language ID in one Arrow pass, since it already holds
  the text. The template match, Gopher rules, scrub and verdict that
  follow are Column expressions. The whole chain is narrow
  transformations, so the plan is scan -> project -> write with ZERO
  shuffles. Throughput scales linearly with executors because no
  stage exchanges data. Opting into a TRAINED language model
  (langid_model) adds a second ArrowEvalPython stage — still narrow,
  still zero shuffles.
- quality_filter_text (no html) ends in the same tail, language ID ->
  Gopher -> scrub -> verdict (_tail_levels, _drop_reason). Its one
  Python stage maps the same marker-word kernel, and perplexity when a
  ppl model is given, in one ArrowEvalPython node.
- Template rules compile at the driver and ride the Catalyst plan as
  literals (broadcast versioned lookup structures). Re-validation against
  a new template version is an incremental pass over the same parsed
  struct — only the match fold changes.
- The map-only chain itself never repartitions; only a downstream stage
  that actually shuffles (dedup, label-join) keys on url hashes.

Driver-side build shape: every ``F.*`` call is a py4j round trip and
every ``withColumn`` re-analyses the whole plan, so the chains are NOT
rebuilt per call. Each stage's Columns are built once and memoized in
``_STAGES``, a bounded LRU keyed on the live SparkContext, the package
version and the arguments that shape the expressions (quality_filter:
the rules; quality_filter_text: text_col, ppl_threshold and the ppl
model; revalidate: the rules and whether the frame has warc_ts).
Columns are unresolved expressions, so one tree serves every DataFrame
(each checkpoint bucket, each revalidate). The stages are applied as ONE
``withColumns`` per dependency level — the levels are the Projects the
optimizer settles on, so the optimized plan equals the per-column
chain's (pinned by tests/fixtures/plans). The cache drops its entries
when the SparkContext changes: a Column that calls a Python UDF carries
the context the UDF was made under.

Reference analog: the run-mode lifecycle of src/lib.rs:739-834 —
read -> enrich (rules) -> outcome fold -> ordered emit. Ordering is
replaced by keying on url (SURVEY §1.7).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import __version__
from .caching import ContextCache
from .dsl.model import FingerprintDefinition
from .dsl.registry import builtin_rules
from .functions.langid import UNKNOWN_LANG, marker_langid_col
from .functions.perplexity import (
    DEFAULT_PPL_THRESHOLD,
    NGramModel,
    perplexity_col,
    train_char_ngram,
)
from .functions.scrub import scrub_counts, scrub_levels
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


def _drop_reason(ppl_threshold: float, template: bool, ppl: bool) -> Column:
    """The first failing stage's drop_reason, NULL when every stage
    passes (the stage-order analog of assertion declaration-order
    short-circuit): template match (the html chain) -> langid (the
    target language is en) -> perplexity (when the chain scores it) ->
    the first failing Gopher flag in rule order."""
    lang = F.col("lang_detected")
    heur_fail = F.coalesce(
        *[F.when(~F.col("flags")[n], F.lit(n)) for n in GOPHER_FLAGS],
        F.lit(None).cast("string"),
    )
    clauses = []
    if template:
        fp = F.col("fingerprint")
        clauses.append(
            (fp["matched"], F.concat(F.lit("template:"), fp["fingerprint_id"]))
        )
    clauses.append((lang != "en", F.concat(F.lit("langid:"), lang)))
    if ppl:
        clauses.append((F.col("ppl") > ppl_threshold, F.lit("perplexity")))
    clauses.append(
        (heur_fail.isNotNull(), F.concat(F.lit("heuristic:"), heur_fail))
    )
    reason = F.when(*clauses[0])
    for cond, val in clauses[1:]:
        reason = reason.when(cond, val)
    return reason


def _tail_levels(
    text: Column,
    first: dict[str, Column],
    reason: Column,
) -> tuple[dict[str, Column], ...]:
    """The quality tail both chains share, as projection levels:
    ``first`` (the ``_lid`` struct<lang, score> plus the chain's
    extras), then lang + stats, then flags + scrub, then the verdict.

    The scrub chain's levels ride the last three: a helper, then
    scrubbed_text, continued in place in the verdict level. The three
    are already separate Projects of the optimized plan, and
    scrubbed_text keeps its column position."""
    scrub1, scrub2, scrub3 = scrub_levels(
        text, ("_scrub", "scrubbed_text", "scrubbed_text")
    )
    return (
        first,
        {
            "lang_detected": F.col("_lid.lang"),
            "lang_score": F.col("_lid.score"),
            "stats": text_stats(text),
            **scrub1,
        },
        {
            "flags": gopher_quality_flags(F.col("stats")),
            "scrub": scrub_counts(text),
            **scrub2,
        },
        {"keep": reason.isNull(), "drop_reason": reason, **scrub3},
    )


DEFAULT_LANGID_THRESHOLD = 0.5  # CCNet's fastText-prob gate

# the stage-Column memo (module docstring: driver-side build shape)
_STAGES = ContextCache(maxsize=8)
_HELPER_COLS = ("_enriched", "_lid", "_scrub")  # level-to-level helpers, dropped


def _trained_langid(
    text_col: str,
    langid_model: dict | None,
    langid_threshold: float,
) -> dict[str, Column]:
    """The opt-in trained language-ID stage as Column overrides of the
    ``_lid`` struct and the lang_detected + lang_score level; none
    without a model. It is built per call (the model is a dict). The
    classifier is the Arrow-batched kernel (langid_classify_arrow,
    measured 46x the zero-Python Column fold langid_classify, which
    tests keep as its parity anchor).

    In quality_filter the enrich pass still scores the marker-word
    language ID, and the trained stage discards it: about 0.11 ms of
    Python per document (0.06 s per 500-doc task), paid rather than
    keeping a second enrich variant.

    langid_threshold is the trained tier's UNKNOWN-language gate (the
    marker tier's MIN_SCORE analog; CCNet gates fastText lid at prob
    0.5): a softmax always emits SOME trained class, so an
    out-of-class document (a language the model never saw) would
    otherwise be force-assigned — below-threshold predictions become
    'und' (and drop as langid:und downstream), with lang_score still
    carrying the rejected argmax probability for auditability."""
    if langid_model is None:
        return {}
    from .operators.langid_classifier import _classify_arrow_udf

    return {
        "_lid": _classify_arrow_udf(langid_model)(F.col(text_col)),
        "lang_detected": F.when(
            F.col("_lid.prob") >= F.lit(float(langid_threshold)),
            F.col("_lid.lang"),
        ).otherwise(F.lit(UNKNOWN_LANG)),
        "lang_score": F.col("_lid.prob"),
    }


def _apply_levels(
    df: DataFrame,
    levels: tuple[dict, ...],
    override: dict[str, Column],
) -> DataFrame:
    """One ``withColumns`` per dependency level, then drop the helper
    columns. ``override`` (_trained_langid) swaps the Columns of the
    names it holds, in place."""
    for level in levels:
        df = df.withColumns({k: override.get(k, v) for k, v in level.items()})
    return df.drop(*_HELPER_COLS)


def quality_filter(
    df: DataFrame,
    rules: list[FingerprintDefinition] | None = None,
    langid_model: dict | None = None,
    langid_threshold: float = DEFAULT_LANGID_THRESHOLD,
) -> DataFrame:
    """Full chain over the input_hint table (url, warc_ts, html, text, lang).

    Returns the input columns plus: extracted_text, fingerprint (match
    struct), children, child_routing, lang_detected, lang_score, ppl,
    stats, flags, scrub (counters), scrubbed_text, keep, drop_reason;
    and extracted, content_hash, child_content_hash when a rule
    declares extract (operators.match.match_levels).

    ``langid_model`` swaps stage 2's marker-word scorer for the
    TRAINED fastText-shaped softmax (the curate --langid-model
    semantics, now first-class in the flagship chain); lang_score then
    carries the softmax probability.
    """
    # a tuple: the rules key the _STAGES memo, so they must hash
    rules = tuple(builtin_rules() if rules is None else rules)
    levels = _STAGES.get(
        ("quality_filter", rules, __version__), lambda: _html_levels(rules)
    )
    return _apply_levels(df, levels, _trained_langid(
        "extracted_text", langid_model, langid_threshold
    ))


def _html_levels(
    rules: tuple[FingerprintDefinition, ...],
) -> tuple[dict[str, Column], ...]:
    """quality_filter's stages as projection levels. A column reads only
    columns of earlier levels, and each level is the Project the
    optimizer settles on for the chain, so the optimized plan is the
    same as one built with a withColumn per column."""
    fold, kids, routing, *extract = match_levels(rules, _match_env(ts=True))
    # stage 2: language ID — the enrich pass's marker-word struct by
    # default, or the trained softmax when a model is supplied
    # (_trained_langid); stage 4: heuristics (pure Column exprs), stats
    # then flags; stage 5: scrub (regexp_replace chain + counters)
    *tail, verdict = _tail_levels(
        F.col("extracted_text"),
        {**routing, "_lid": F.col("_enriched.lid")},
        _drop_reason(DEFAULT_PPL_THRESHOLD, template=True, ppl=True),
    )
    # lifecycle: parse failures are skips with warnings, never task
    # failures (enricher.rs:145-159 E_PARSE); skipped docs drop with an
    # explicit reason and carry the warning code
    parse_err = F.col("parsed.parse_error")
    return (
        # stage 0: ONE Python pass per document — structural parse +
        # perplexity + simhash + marker-word language ID in a single
        # Arrow-batched UDF (separate chained UDFs would double the
        # Python worker pool and re-serialize the parsed struct)
        {"_enriched": enrich_col(F.col("html"), default_ppl_model())},
        # (stage 3, perplexity, is computed in the enrich pass)
        {
            "parsed": F.col("_enriched.parsed"),
            "ppl": F.col("_enriched.ppl"),
            "simhash": F.col("_enriched.simhash"),
        },
        # stage 1: template match (broadcast fold, enricher.rs:201-268
        # analog), then the children, then their routing (with _lid)
        {"extracted_text": F.col("parsed.normalized"), **fold},
        kids,
        *tail,
        {
            "keep": F.when(parse_err.isNotNull(), F.lit(False)).otherwise(
                verdict["keep"]
            ),
            "drop_reason": F.when(
                parse_err.isNotNull(), F.lit("skip:E_PARSE")
            ).otherwise(verdict["drop_reason"]),
            # the scrub chain's last level rides the verdict's
            "scrubbed_text": verdict["scrubbed_text"],
            "warnings": F.filter(
                F.array(F.when(parse_err.isNotNull(), F.lit("E_PARSE"))),
                lambda w: w.isNotNull(),
            ),
            # tool_versions accumulation analog (enricher.rs:622-634)
            "tool_versions": F.create_map(
                F.lit("fingerprint_spark"), F.lit(__version__)
            ),
        },
        # the winner's extraction + content hash, when a rule declares
        # extract (match_levels)
        *extract,
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
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD,
    ppl_model: NGramModel | None = None,
    langid_model: dict | None = None,
    langid_threshold: float = DEFAULT_LANGID_THRESHOLD,
) -> DataFrame:
    """Text-only variant (no html parse): langid -> heuristics -> scrub,
    the same quality tail as quality_filter.

    Language ID is the marker-word kernel (marker_langid_col, one
    Arrow-batched UDF); the Gopher rules, scrub and verdict are Column
    expressions. Its keep/drop_reason is the oracle-checkable surface of
    the driver's DuckDB comparison (pipeline_keep and the other text
    queries). ``ppl_model`` adds the (non-SQL) perplexity stage, scored
    in the same ArrowEvalPython node as the langid kernel; None leaves
    it out. ``langid_model`` swaps the marker-word scorer for a TRAINED
    fastText-shaped softmax (operators/langid_classifier, the
    train-langid CLI output) — zero-shuffle either way; lang_score then
    carries the softmax probability of the predicted class rather than
    the marker-token fraction. The trained scorer is the Arrow kernel
    of langid_classify_arrow (60.6k vs the Column fold's 1.3k docs/s at
    dim=2048/L=4). Its probabilities agree with the Column fold to 1e-9
    (pinned by test_langid_classifier); an EXACT margin tie between two
    classes could in principle resolve differently (float sum-order
    ulp) — the fixed-point micro kernels are the bit-exact contract
    where that matters (the oracle row).
    """
    levels = _STAGES.get(
        # ppl_threshold's type is keyed too: 36 and 36.0 are equal keys
        # but build different literals (and so different plans)
        ("quality_filter_text", text_col, ppl_threshold, type(ppl_threshold),
         ppl_model, __version__),
        lambda: _text_levels(text_col, ppl_threshold, ppl_model),
    )
    return _apply_levels(df, levels, _trained_langid(
        text_col, langid_model, langid_threshold
    ))


def _text_levels(
    text_col: str,
    ppl_threshold: float,
    ppl_model: NGramModel | None,
) -> tuple[dict[str, Column], ...]:
    """quality_filter_text's stages as projection levels (see
    _html_levels); ``ppl_model`` None leaves the perplexity stage out."""
    text = F.col(text_col)
    first = {"_lid": marker_langid_col(text)}
    if ppl_model is not None:
        first["ppl"] = perplexity_col(text, ppl_model)
    return _tail_levels(text, first, _drop_reason(
        ppl_threshold, template=False, ppl=ppl_model is not None
    ))


def revalidate(
    parsed_df: DataFrame,
    rules: list[FingerprintDefinition],
) -> DataFrame:
    """Incremental template re-validation (north_star requirement).

    Input: a frame that already carries the ``parsed`` struct (e.g. the
    stored output of a previous quality_filter run). Applying a NEW rule
    version is a pure expression pass — no html parse, no shuffle. The
    physical plan contains no ArrowEvalPython node, extracts included
    (asserted in tests): at 100 TB this is the difference between
    re-reading stored structs and re-parsing the crawl.

    Returns the input columns plus the match_levels columns: fingerprint,
    children, child_routing, and extracted,
    content_hash, child_content_hash when a rule declares extract.
    """
    rules = tuple(rules)  # hashable: the _STAGES memo key
    has_ts = "warc_ts" in parsed_df.columns
    levels = _STAGES.get(
        ("revalidate", rules, has_ts, __version__),
        lambda: match_levels(rules, _match_env(has_ts)),
    )
    for level in levels:
        parsed_df = parsed_df.withColumns(level)
    return parsed_df
