"""Anchor extraction operators — zero-retention projections.

Reference: src/dsl/extract.rs. Extraction runs only when all assertions
pass; a missed target is NON-fatal (the key is simply null — extract.rs:
14-29, invariants docs/PLAN.md:525-529). Output is anchor metadata
(line numbers, offsets, counts), never content — the zero-retention
contract.

Each builder returns a Column (struct or null) over the parsed struct /
sheets grid; ``compile_extracts`` assembles the rule's extract map and
``content_hash_for_rule`` hashes selected extracts in ``over`` order
(content_hash.rs:24-31).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import context_cached
from ..dsl.model import ContentHashConfig, ExtractSection, FingerprintDefinition
from ..functions.hashing import content_hash_col
from .assertions import a1_to_rc, _sheet


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


def extract_table(
    parsed: Column, heading_pattern: str, index: int = 0
) -> Column:
    """{start_line, end_line, columns, row_count} of the k-th table whose
    heading_ref matches the heading regex (extract.rs:122-159; the
    reference matches heading_ref EQUAL to the matched heading text — here
    the regex is applied to heading_ref directly, same selectivity on the
    corpus shapes)."""
    t = F.try_element_at(
        F.filter(
            parsed["tables"],
            lambda t: t["heading_ref"].isNotNull()
            & t["heading_ref"].rlike(heading_pattern),
        ),
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


def extract_range(sheets: Column, sheet: str, a1_range: str) -> Column:
    """{range, row_count} — count of non-empty rows within the A1 range
    (extract.rs:41-84)."""
    start, end = a1_range.split(":")
    r0, c0 = a1_to_rc(start)
    r1, c1 = a1_to_rc(end)
    grid = _sheet(sheets, sheet)
    rows = F.slice(grid, r0 + 1, r1 - r0 + 1)
    non_empty = F.size(
        F.filter(
            F.transform(rows, lambda row: F.slice(row, c0 + 1, c1 - c0 + 1)),
            lambda row: F.exists(row, lambda c: c.isNotNull() & (F.trim(c) != "")),
        )
    )
    return F.when(
        grid.isNotNull(),
        F.struct(
            F.lit(a1_range).alias("range"), non_empty.alias("row_count")
        ),
    )


_TEXT_MATCH_TYPE = T.StructType(
    [
        T.StructField("line", T.IntegerType()),
        T.StructField("char_offset", T.IntegerType()),
        T.StructField("matched", T.StringType()),
    ]
)


def _text_match_py(
    text: str, anchor: str, value: str, within_chars: int
) -> dict | None:
    """First value-match within within_chars AFTER the FIRST anchor match —
    unidirectional here, unlike the text_near assertion (extract.rs:
    161-220)."""
    if not text:
        return None
    a = re.search(anchor, text)
    if not a:
        return None
    window_end = a.end() + within_chars
    m = re.compile(value).search(text, a.end(), window_end)
    if not m:
        return None
    upto = text[: m.start()]
    line = upto.count("\n") + 1
    last_nl = upto.rfind("\n")
    char_offset = m.start() - (last_nl + 1)
    return {"line": line, "char_offset": char_offset, "matched": m.group(0)}


@context_cached(maxsize=64)
def _text_match_udf(anchor: str, value: str, within_chars: int):
    @F.pandas_udf(_TEXT_MATCH_TYPE)
    def udf(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            r = _text_match_py(t or "", anchor, value, within_chars)
            rows.append(r or {"line": None, "char_offset": None, "matched": None})
        return pd.DataFrame(rows)

    return udf


def extract_text_match(
    parsed: Column, anchor: str, value: str, within_chars: int = 400
) -> Column:
    col = _text_match_udf(anchor, value, within_chars)(parsed["normalized"])
    return F.when(col["matched"].isNotNull(), col)


def compile_extract(e: ExtractSection, env: dict[str, Column]) -> Column:
    p = dict(e.params)
    if e.type == "section":
        return extract_section(env["parsed"], p["heading_pattern"])
    if e.type == "table":
        return extract_table(
            env["parsed"], p["heading_pattern"], int(p.get("index", 0))
        )
    if e.type == "range":
        return extract_range(env["sheets"], p["sheet"], p["range"])
    if e.type == "text_match":
        return extract_text_match(
            env["parsed"], p["anchor"], p["value"], int(p.get("within_chars", 400))
        )
    raise ValueError(f"unknown extract type {e.type}")


def compile_extracts(
    d: FingerprintDefinition, env: dict[str, Column], matched: Column
) -> Column:
    """All extracts of a rule as one struct column; null when unmatched
    (extraction only runs after a match, extract.rs:14-29)."""
    if not d.extract:
        return F.lit(None).cast("struct<_none:string>")
    fields = [
        compile_extract(e, env).alias(e.name) for e in d.extract
    ]
    return F.when(matched, F.struct(*fields))


def content_hash_for_rule(
    d: FingerprintDefinition, json_extracts: dict[str, Column], matched: Column
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
    names = list(ch.over) if ch.over else sorted(e.name for e in d.extract)
    cols = [json_extracts[n] for n in names]
    return F.when(
        matched, content_hash_col(*cols, algo=ch.algo, names=tuple(names))
    )
