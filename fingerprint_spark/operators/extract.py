"""Anchor extraction operators — zero-retention projections.

Reference: src/dsl/extract.rs. Extraction runs only when all assertions
pass; a missed target is NON-fatal (the key is simply null — extract.rs:
14-29, invariants docs/PLAN.md:525-529). Output is anchor metadata
(line numbers, offsets, counts), never content — the zero-retention
contract.

Each builder returns a Column (struct or null) over the parsed struct,
JVM-side like the assertions; ``compile_extract`` looks up one extract
section's builder (its parameters and defaults are dsl.model's
EXTRACT_SPECS) and ``content_hash_for_rule`` hashes selected extracts in
``over`` order (content_hash.rs:24-31).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dsl.model import Clause, ContentHashConfig, FingerprintDefinition, clause_params
from ..functions.hashing import content_hash_col


def extract_section(parsed: Column, heading_pattern: str) -> Column:
    """{start_line, end_line, heading} of the FIRST section whose heading
    matches (extract.rs:86-120)."""
    s = F.try_element_at(
        F.filter(
            parsed["sections"],
            lambda s: s["heading"].isNotNull() & s["heading"].rlike(heading_pattern),
        ),
        F.lit(1),
    )
    return F.when(
        s.isNotNull(),
        F.struct(
            s["start_line"].alias("start_line"),
            s["end_line"].alias("end_line"),
            s["heading"].alias("heading"),
        ),
    )


def extract_table(parsed: Column, heading_pattern: str, index: int) -> Column:
    """{start_line, end_line, columns, row_count} of the ``index``-th table
    whose heading_ref EQUALS the first section heading the regex matches
    (extract.rs:122-159); null when no heading matches or that heading has
    fewer tables."""
    heading = F.try_element_at(
        F.filter(
            parsed["sections"],
            lambda s: s["heading"].isNotNull() & s["heading"].rlike(heading_pattern),
        ),
        F.lit(1),
    )["heading"]
    t = F.try_element_at(
        F.filter(parsed["tables"], lambda t: t["heading_ref"] == heading),
        F.lit(index + 1),
    )
    return F.when(
        t.isNotNull(),
        F.struct(
            t["start_line"].alias("start_line"),
            t["end_line"].alias("end_line"),
            F.size(t["headers"]).alias("columns"),
            F.size(t["rows"]).alias("row_count"),
        ),
    )


def _text_match_py(
    text: str, anchor: str, value: str, within_chars: int
) -> dict | None:
    """Reference implementation (pure Python) of ``extract_text_match``
    — kept as the test oracle for the Column version below."""
    if not text:
        return None
    a = re.search(anchor, text)
    if not a:
        return None
    m = re.search(value, text[a.end() : a.end() + within_chars])
    if not m:
        return None
    upto = text[: a.end() + m.start()]
    line = upto.count("\n") + 1
    char_offset = len(upto) - (upto.rfind("\n") + 1)
    return {"line": line, "char_offset": char_offset, "matched": m.group(0)}


def extract_text_match(
    parsed: Column, anchor: str, value: str, within_chars: int
) -> Column:
    """{line, char_offset, matched} of the first ``value`` match within
    ``within_chars`` characters AFTER the FIRST ``anchor`` match —
    unidirectional, unlike the text_near assertion (extract.rs:161-220).

    Java regex, like every assertion, and no Python: ``split(text,
    anchor, 2)`` leaves the text after the first anchor match, the
    window is its first ``within_chars`` characters, and the value is
    searched in the window as a string of its own — so ``^`` and ``\\b``
    see the window's start as the text's start, and a match may not run
    past its end. The text before the value match (``split`` again, as
    in match_spans) gives the line and the offset in it."""
    text = parsed["normalized"]
    after = F.try_element_at(F.split(text, anchor, 2), F.lit(2))
    window = F.substring(after, 1, within_chars)
    matched = F.regexp_extract(window, value, 0)
    before = F.try_element_at(F.split(window, value, 2), F.lit(1))
    upto = text.substr(F.lit(1), F.length(text) - F.length(after) + F.length(before))
    lines = F.split(upto, "\n", -1)
    return F.when(
        matched != "",
        F.struct(
            F.size(lines).alias("line"),
            F.length(F.element_at(lines, -1)).alias("char_offset"),
            matched.alias("matched"),
        ),
    )


BUILDERS = {"section": extract_section, "table": extract_table,
            "text_match": extract_text_match}


def compile_extract(e: Clause, env: dict[str, Column]) -> Column:
    """One extract section: its type's builder with the checked
    parameters (dsl.model.clause_params)."""
    return BUILDERS[e.type](env[e.spec.input], **clause_params(e))


def content_hash_for_rule(
    d: FingerprintDefinition, json_extracts: dict[str, Column]
) -> Column:
    """Canonical hash over extracts in ``over`` order (or sorted names if
    empty — content_hash.rs:24-31); missing extracts are presence-tagged
    by content_hash_col, not errors. ``json_extracts`` maps extract name
    -> canonical-JSON string column (to_json of the anchor struct; Spark
    serializes struct fields in declaration order, the analog of the
    reference's recursively key-sorted canonical JSON)."""
    ch: ContentHashConfig | None = d.content_hash
    if ch is None or not d.extract:
        return F.lit(None).cast("string")
    names = ch.over or tuple(sorted(e.name for e in d.extract))
    cols = [json_extracts[n] for n in names]
    return content_hash_col(*cols, algo=ch.algo, names=names)
