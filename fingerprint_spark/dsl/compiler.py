"""Rule compiler: FingerprintDefinition -> Catalyst Column expressions.

The reference interprets assertions record-at-a-time with per-eval regex
recompilation (assertions.rs:1643-1644); here each rule compiles ONCE at
the driver into a Column expression tree that Catalyst constant-folds and
whole-stage-codegens — the Spark analog of the reference's compile mode
(src/compile/codegen.rs), with the same provenance (source_hash carried
in the result struct).

The column environment is a dict of input columns:
    url     string
    ts      timestamp          (valid_from/valid_until gate; optional)
    parsed  parse.schema.PARSED_TYPE

Every rule is html (model.FORMATS), so no format gate is compiled: the
reference's per-document format check (enricher.rs:455-468) is decided
once, at validation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators import assertions as A
from .model import Assertion, FingerprintDefinition


def compile_assertion(a: Assertion, env: dict[str, Column]) -> Column:
    """One assertion -> Column<boolean>. Nulls coalesce to False so a
    missing/unparsed document fails the assertion rather than poisoning
    the fold (reference: parse failure -> skip, enricher.rs:145-159)."""
    p = a.params_dict
    parsed = env.get("parsed")
    t = a.type

    if t == "filename_regex":
        col = A.filename_regex(env["url"], p["pattern"])
    elif t == "heading_exists":
        col = A.heading_exists(parsed, p["text"])
    elif t == "heading_regex":
        col = A.heading_regex(parsed, p["pattern"])
    elif t == "heading_level":
        col = A.heading_level(parsed, int(p["level"]), p["pattern"])
    elif t == "text_contains":
        col = A.text_contains(parsed, p["value"])
    elif t == "text_regex":
        col = A.text_regex(parsed, p["pattern"])
    elif t == "text_near":
        col = A.text_near(parsed, p["anchor"], p["value"], int(p["within_chars"]))
    elif t == "section_non_empty":
        col = A.section_non_empty(parsed, p["heading_pattern"])
    elif t == "section_min_lines":
        col = A.section_min_lines(parsed, p["heading_pattern"], int(p["min_lines"]))
    elif t == "table_exists":
        col = A.table_exists(parsed, p.get("heading_pattern"), int(p.get("index", 0)))
    elif t == "table_columns":
        col = A.table_columns(
            parsed, list(p["patterns"]), p.get("heading_pattern"),
            int(p.get("index", 0)),
        )
    elif t == "table_shape":
        col = A.table_shape(
            parsed, int(p["min_columns"]), list(p["types"]),
            p.get("heading_pattern"), int(p.get("index", 0)),
        )
    elif t == "table_min_rows":
        col = A.table_min_rows(
            parsed, int(p["min_rows"]), p.get("heading_pattern"),
            int(p.get("index", 0)),
        )
    elif t == "header_token_search":
        col = A.header_token_search(
            parsed, list(p["tokens"]), int(p.get("min_matches", 1)),
            p.get("max_matches"), p.get("page"),
        )
    elif t == "dominant_column_count":
        col = A.dominant_column_count(
            parsed, int(p["expected"]), int(p.get("tolerance", 0)),
            p.get("sample_pages"),
        )
    elif t == "full_width_row":
        col = A.full_width_row(parsed, p["pattern"], int(p.get("min_cells", 2)))
    elif t == "page_section_count":
        col = A.page_section_count(parsed, int(p["min_count"]), int(p["max_count"]))
    else:  # pragma: no cover — parser already rejects unknown types
        raise ValueError(f"E_UNKNOWN_ASSERTION: {t}")
    return F.coalesce(col, F.lit(False))


def rule_applicable(d: FingerprintDefinition, env: dict[str, Column]) -> Column:
    """valid_from/valid_until window against the document timestamp
    (parser.rs:11-12 -> warc_ts predicate per SURVEY §1.6)."""
    gate = F.lit(True)
    ts = env.get("ts")
    if ts is not None:
        if d.valid_from:
            gate = gate & (ts >= F.lit(str(d.valid_from)).cast("timestamp"))
        if d.valid_until:
            gate = gate & (ts < F.lit(str(d.valid_until)).cast("timestamp"))
    return gate


def compile_rule(d: FingerprintDefinition, env: dict[str, Column]) -> Column:
    """Rule -> struct(fingerprint_id, version, matched, failed_assertion,
    assertions: array<struct<name,passed>>, source_hash).

    Ordered evaluation with first-failure reason: ``matched`` is the AND
    chain (Catalyst short-circuits); ``failed_assertion`` is the first
    failed name via coalesce(when...) — the declaration-order semantics
    of assertions.rs:230-247 without per-record interpretation.
    """
    results = [(a.name, compile_assertion(a, env)) for a in d.assertions]
    matched = rule_applicable(d, env)
    for _name, col in results:
        matched = matched & col
    failed = F.coalesce(
        *[F.when(~col, F.lit(name)) for name, col in results],
        F.lit(None).cast("string"),
    )
    return F.struct(
        F.lit(d.fingerprint_id).alias("fingerprint_id"),
        F.lit(d.version).alias("version"),
        matched.alias("matched"),
        F.when(~matched, failed).alias("failed_assertion"),
        F.array(
            *[
                F.struct(F.lit(name).alias("name"), col.alias("passed"))
                for name, col in results
            ]
        ).alias("assertions"),
        F.lit(d.source_hash).alias("source_hash"),
    )
