"""Diagnostics — per-assertion failure context (--diagnose analog).

Reference: src/dsl/assertions.rs:388-913 + enricher.rs:501-563 — under
--diagnose every assertion is evaluated (no short-circuit) and failures
carry context: headings found + Levenshtein-nearest heading, tables
found, counts. Here the 'evaluate everything' mode is the default (a
columnar engine evaluates the whole expression anyway); this module adds
the context columns, all JVM-side (F.levenshtein is a builtin).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dsl.compiler import compile_rule
from ..dsl.model import FingerprintDefinition, clause_params


def nearest_heading(parsed: Column, target: str) -> Column:
    """Levenshtein-nearest heading to the target text with distance —
    the reference's 'did you mean' context (assertions.rs:869-885).
    Deterministic tie-break: (distance, text) min."""
    scored = F.transform(
        parsed["headings"],
        lambda h: F.struct(
            F.levenshtein(h["text"], F.lit(target)).alias("distance"),
            h["text"].alias("text"),
        ),
    )
    return F.array_min(scored)


def headings_found(parsed: Column) -> Column:
    return F.slice(
        F.transform(parsed["headings"], lambda h: h["text"]), 1, 10
    )


def _normalize_for_distance(col: Column) -> Column:
    """ascii-alnum lowercased, everything else collapsed to single spaces
    (assertions.rs:852-868)."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def _hint_tokens(target: str) -> list[str]:
    """Up to 6 lowercase tokens of >= 3 chars from the (de-regexed)
    target (assertions.rs tokenize_hint :833-843)."""
    import re as _re

    norm = _re.sub(r"[^a-z0-9]+", " ", target.lower()).strip()
    return [t for t in norm.split() if len(t) >= 3][:6]


def partial_matches(parsed: Column, target: str) -> Column:
    """Top-5 partial matches for a failed text/heading target
    (assertions.rs:786-833 collect_partial_matches): non-empty normalized
    lines containing ANY hint token; if none, the Levenshtein-nearest
    lines by normalized distance. All JVM-side."""
    lines = F.filter(
        F.transform(F.split(parsed["normalized"], "\n"), F.trim),
        lambda l: l != "",
    )
    tokens = _hint_tokens(target)
    if tokens:
        def has_token(l):
            hit = F.lit(False)
            for t in tokens:
                hit = hit | F.lower(l).contains(t)
            return hit

        hits = F.slice(F.filter(lines, has_token), 1, 5)
    else:
        hits = F.slice(F.filter(lines, lambda l: F.lit(False)), 1, 5)
    norm_target = F.lit(
        __import__("re").sub(r"[^a-z0-9]+", " ", target.lower()).strip()
    )
    nearest = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    lines,
                    lambda l: F.struct(
                        F.levenshtein(
                            norm_target, _normalize_for_distance(l)
                        ).alias("distance"),
                        l.alias("text"),
                    ),
                )
            ),
            1,
            5,
        ),
        lambda s: s["text"],
    )
    return F.when(F.size(hits) > 0, hits).otherwise(nearest)


def text_near_out_of_range(
    parsed: Column, anchor: str, value: str, within_chars: int
) -> Column:
    """For a failed text_near: up to 5 (anchor excerpt, value match,
    distance) pairs that EXIST but fall outside within_chars
    (assertions.rs:556-595 matches_outside_range) — positional spans via
    match_spans, same gap arithmetic as the assertion itself."""
    from .assertions import match_spans

    text = parsed["normalized"]
    a_sp = match_spans(text, anchor)
    v_sp = match_spans(text, value)

    def gap_dist(lo, hi):
        glen = hi - lo
        gap = F.substring(text, lo + 1, glen)
        return F.when(
            (glen < 10) & gap.rlike(r"^\s*$"), F.lit(0)
        ).otherwise(glen)

    def pair(a, v):
        dist = (
            F.when(v["s"] >= a["e"], gap_dist(a["e"], v["s"]))
            .when(a["s"] >= v["e"], gap_dist(v["e"], a["s"]))
            .otherwise(F.lit(0))
        )
        excerpt = F.substring(
            text,
            F.greatest(a["s"] + 1 - 24, F.lit(1)),
            (a["e"] - a["s"]) + 48,
        )
        match_txt = F.substring(text, v["s"] + 1, v["e"] - v["s"])
        return F.struct(
            excerpt.alias("anchor"),
            match_txt.alias("match"),
            dist.alias("distance"),
        )

    pairs = F.flatten(
        F.transform(a_sp, lambda a: F.transform(v_sp, lambda v: pair(a, v)))
    )
    out_of = F.slice(
        F.filter(pairs, lambda p: p["distance"] > within_chars), 1, 5
    )
    return F.struct(
        (F.size(a_sp) > 0).alias("anchor_found"),
        out_of.alias("matches_outside_range"),
    )


def tables_found(parsed: Column) -> Column:
    """(heading_ref, columns, rows) summaries (assertions.rs tables ctx)."""
    return F.transform(
        parsed["tables"],
        lambda t: F.struct(
            t["heading_ref"].alias("heading_ref"),
            F.size(t["headers"]).alias("columns"),
            F.size(t["rows"]).alias("rows"),
        ),
    )


def diagnose_rule(
    d: FingerprintDefinition, env: dict[str, Column]
) -> Column:
    """Full-evaluation result + context struct. All assertions evaluated
    (diagnose semantics: assertions.rs:230-247 with flag on); context
    includes found-structure summaries and the nearest heading for every
    heading-family assertion that failed."""
    result = compile_rule(d, env)
    parsed = env.get("parsed")
    ctx_fields = [
        headings_found(parsed).alias("headings_found"),
        tables_found(parsed).alias("tables_found"),
    ]
    def passed_check(name: str) -> Column:
        # closure factory, not a default arg (Spark HOF lambda arity trap)
        return F.exists(
            result["assertions"],
            lambda r: (r["name"] == F.lit(name)) & r["passed"],
        )

    suggestions = []
    for a in d.assertions:
        p = clause_params(a)
        if a.type == "heading_exists":
            target = p["text"]
        elif a.type in ("heading_regex", "heading_level"):
            target = p["pattern"]
        else:
            continue
        suggestions.append(
            F.when(
                ~passed_check(a.name),
                F.struct(
                    F.lit(a.name).alias("assertion"),
                    nearest_heading(parsed, target).alias("nearest"),
                ),
            )
        )
    ctx_fields.append(
        F.filter(
            F.array(*suggestions), lambda x: x.isNotNull()
        ).alias("suggestions")
        if suggestions
        else F.array().cast(
            "array<struct<assertion:string,"
            "nearest:struct<distance:int,text:string>>>"
        ).alias("suggestions")
    )

    # top-5 partial matches for failed text-content targets
    # (assertions.rs:786-833) + out-of-range match lists for failed
    # text_near (assertions.rs:556-595)
    partials = []
    near_misses = []
    for a in d.assertions:
        p = clause_params(a)
        if a.type == "text_contains":
            target = p["value"]
        elif a.type == "text_regex":
            target = p["pattern"]
        elif a.type == "text_near":
            near_misses.append(
                F.when(
                    ~passed_check(a.name),
                    F.struct(
                        F.lit(a.name).alias("assertion"),
                        text_near_out_of_range(
                            parsed, p["anchor"], p["value"], p["within_chars"]
                        ).alias("context"),
                    ),
                )
            )
            continue
        else:
            continue
        partials.append(
            F.when(
                ~passed_check(a.name),
                F.struct(
                    F.lit(a.name).alias("assertion"),
                    partial_matches(parsed, target).alias("partial_matches"),
                ),
            )
        )
    ctx_fields.append(
        F.filter(F.array(*partials), lambda x: x.isNotNull()).alias(
            "partial_matches"
        )
        if partials
        else F.array().cast(
            "array<struct<assertion:string,partial_matches:array<string>>>"
        ).alias("partial_matches")
    )
    ctx_fields.append(
        F.filter(F.array(*near_misses), lambda x: x.isNotNull()).alias(
            "near_misses"
        )
        if near_misses
        else F.array().cast(
            "array<struct<assertion:string,context:struct<"
            "anchor_found:boolean,matches_outside_range:array<struct<"
            "anchor:string,match:string,distance:int>>>>>"
        ).alias("near_misses")
    )
    return F.struct(
        result.alias("result"), F.struct(*ctx_fields).alias("context")
    )
