"""The 17 html assertion types as Catalyst Column-expression builders.

Reference: the 30-variant tagged enum in
``/root/reference/src/dsl/assertions.rs:33-164`` with dispatchers at
:264-343 (non-content) and :937-991 (content). html is the one rule
format (dsl.model.FORMATS), so this module keeps the variants an html
document answers: each builder returns a ``Column<boolean>`` over the
document's ``parsed`` struct (see parse.schema) or the ``url`` column.
The reference's spreadsheet and pdf variants are refused at validation.

Each builder is named after its type and takes the YAML parameters by
name with no defaults: dsl.model.ASSERTION_SPECS holds their kinds,
bounds and defaults, and the compiler passes them checked.

Every assertion — including ``text_near`` — is a pure JVM-side
expression: text_near's positional regex scans are reconstructed from
``split`` + ``regexp_extract_all`` (see ``match_spans``), so a rule set
adds no Python stages beyond the single enrich UDF.

The sheet accessors at the end (``_sheet``, ``_cell``, ``sheet_exists``)
serve the ``xlsx_decode`` driver query over decoded grids.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# universal (assertions.rs:1028-1049)
# ---------------------------------------------------------------------------


def filename_regex(url: Column, pattern: str) -> Column:
    """Basename of the url/path matches regex (assertions.rs:1028-1049)."""
    return F.regexp_extract(url, "[^/]+$", 0).rlike(pattern)


# ---------------------------------------------------------------------------
# content family (assertions.rs:1631-1950) — over the parsed struct
# ---------------------------------------------------------------------------


def heading_exists(parsed: Column, text: str) -> Column:
    """Exact heading text at any level (assertions.rs:1631-1639)."""
    return F.exists(parsed["headings"], lambda h: h["text"] == F.lit(text))


def heading_regex(parsed: Column, pattern: str) -> Column:
    """Any heading matches regex (assertions.rs:1641-1651)."""
    return F.exists(parsed["headings"], lambda h: h["text"].rlike(pattern))


def heading_level(parsed: Column, level: int, pattern: str) -> Column:
    """Heading at level L matches (assertions.rs:1653-1668)."""
    return F.exists(
        parsed["headings"],
        lambda h: (h["level"] == F.lit(level)) & h["text"].rlike(pattern),
    )


def text_contains(parsed: Column, value: str) -> Column:
    """Literal substring in normalized text (assertions.rs:1670-1677)."""
    return F.instr(parsed["normalized"], value) > 0


def text_regex(parsed: Column, pattern: str) -> Column:
    """Regex anywhere in normalized text (assertions.rs:1679-1689)."""
    return parsed["normalized"].rlike(pattern)


def section_non_empty(parsed: Column, heading_pattern: str) -> Column:
    """Section under heading-regex has >=1 non-blank body line, heading
    line excluded (assertions.rs:1782-1810, 1851-1857)."""
    return F.exists(
        parsed["sections"],
        lambda s: s["heading"].isNotNull()
        & s["heading"].rlike(heading_pattern)
        & (s["body_lines"] > 0),
    )


def section_min_lines(parsed: Column, heading_pattern: str, min_lines: int) -> Column:
    """>= N non-blank body lines (assertions.rs:1812-1849)."""
    return F.exists(
        parsed["sections"],
        lambda s: s["heading"].isNotNull()
        & s["heading"].rlike(heading_pattern)
        & (s["body_lines"] >= F.lit(min_lines)),
    )


def _tables_matching(parsed: Column, heading_pattern: str | None) -> Column:
    """find_table analog: filter tables by heading_ref regex
    (assertions.rs:2175-2202); None pattern keeps all tables."""
    if heading_pattern is None:
        return parsed["tables"]
    return F.filter(
        parsed["tables"],
        lambda t: t["heading_ref"].isNotNull()
        & t["heading_ref"].rlike(heading_pattern),
    )


def table_exists(parsed: Column, heading_pattern: str | None, index: int) -> Column:
    """k-th table under heading-regex exists (assertions.rs:1859-1866)."""
    ts = _tables_matching(parsed, heading_pattern)
    return F.size(ts) > index


def table_columns(
    parsed: Column, patterns: tuple[str, ...], heading_pattern: str | None, index: int
) -> Column:
    """Positional: pattern[i] must match header[i]; table must have >=
    len(patterns) columns (assertions.rs:1868-1895)."""
    ts = _tables_matching(parsed, heading_pattern)
    t = F.try_element_at(ts, F.lit(index + 1))
    pats = F.array(*[F.lit(p) for p in patterns])
    ok = F.forall(
        F.zip_with(
            F.slice(t["headers"], 1, len(patterns)),
            pats,
            lambda h, p: F.regexp_like(h, p),
        ),
        lambda x: x,
    )
    return (
        t.isNotNull() & (F.size(t["headers"]) >= len(patterns)) & ok
    )


def table_min_rows(
    parsed: Column, min_rows: int, heading_pattern: str | None, index: int
) -> Column:
    """>= N data rows (assertions.rs:1934-1950)."""
    ts = _tables_matching(parsed, heading_pattern)
    t = F.try_element_at(ts, F.lit(index + 1))
    return t.isNotNull() & (F.size(t["rows"]) >= min_rows)


# -- table_shape: majority-vote cell typing (assertions.rs:1897-1932,
#    2204-2342) -------------------------------------------------------------


_NUMBER_RE = r"^-?[0-9][0-9,]*(\.[0-9]+)?$"
_CURRENCY_RE = r"^-?[$€£¥][0-9][0-9,]*(\.[0-9]+)?$|^-?[0-9][0-9,]*(\.[0-9]+)?\s?[$€£¥]$"
_PCT_RE = r"^-?[0-9][0-9,]*(\.[0-9]+)?\s?%$"
# date formats of assertions.rs:2331-2338: %Y-%m-%d, %m/%d/%Y, %m/%d/%y,
# %B %d, %Y, %b %d, %Y, %d-%b-%Y
_DATE_RE = (
    r"^([0-9]{4}-[0-9]{2}-[0-9]{2}"
    r"|[0-9]{1,2}/[0-9]{1,2}/([0-9]{4}|[0-9]{2})"
    r"|[A-Za-z]{3,9} [0-9]{1,2}, [0-9]{4}"
    r"|[0-9]{1,2}-[A-Za-z]{3}-[0-9]{4})$"
)
_EMPH_STRIP = r"(\*\*|__|[*_`])"


def _cell_type(cell: Column) -> Column:
    """Inferred type of one cell (assertions.rs:2309-2342); markdown
    emphasis stripped first (:2295-2307)."""
    c = F.trim(F.regexp_replace(cell, _EMPH_STRIP, ""))
    return (
        F.when(c == "", "empty")
        .when(c.rlike(_CURRENCY_RE), "currency")
        .when(c.rlike(_PCT_RE), "percentage")
        .when(c.rlike(_NUMBER_RE), "number")
        .when(c.rlike(_DATE_RE), "date")
        .otherwise("string")
    )


def _column_majority_type(t: Column, col_idx: Column) -> Column:
    """Strict-majority (>50% of non-empty cells) type of column i; 'none'
    when no majority (assertions.rs:2204-2262)."""
    cells = F.transform(t["rows"], lambda r: F.try_element_at(r, col_idx + 1))
    typed = F.transform(cells, _cell_type)
    non_empty = F.filter(typed, lambda x: x != "empty")
    n = F.size(non_empty)
    def count_of(ty: str):
        # NB: a `ty=ty` default arg would make Spark treat this as a
        # two-parameter (value, index) HOF lambda — closure factory instead
        return F.size(F.filter(non_empty, lambda x: x == F.lit(ty)))

    counts = F.array(
        *[
            F.struct(
                count_of(ty).alias("cnt"),
                F.lit(i).alias("nrank"),
                F.lit(ty).alias("ty"),
            )
            for i, ty in enumerate(["number", "currency", "percentage", "date", "string"])
        ]
    )
    best = F.array_max(counts)
    return F.when((n > 0) & (best["cnt"] * 2 > n), best["ty"]).otherwise(F.lit("none"))


def _type_compatible(inferred: Column, expected: str) -> Column:
    """currency <-> number mutually compatible (assertions.rs:2264-2293)."""
    if expected in ("number", "currency"):
        return inferred.isin(["number", "currency"])
    return inferred == expected


def table_shape(
    parsed: Column, min_columns: int, types: tuple[str, ...],
    heading_pattern: str | None, index: int,
) -> Column:
    """>= min_columns and per-column majority type equals expected
    (assertions.rs:1897-1932)."""
    ts = _tables_matching(parsed, heading_pattern)
    t = F.try_element_at(ts, F.lit(index + 1))
    width = F.greatest(
        F.size(t["headers"]),
        F.coalesce(
            F.array_max(F.transform(t["rows"], lambda r: F.size(r))), F.lit(0)
        ),
    )
    ok = F.lit(True)
    for i, expected in enumerate(types):
        ok = ok & _type_compatible(_column_majority_type(t, F.lit(i)), expected)
    return t.isNotNull() & (width >= min_columns) & ok


# -- html-only family (assertions.rs:1952-2074) -----------------------------


def header_token_search(
    parsed: Column, tokens: tuple[str, ...], min_matches: int,
    max_matches: int | None, page: int | None,
) -> Column:
    """Best per-table count of token-regexes matching any header must be
    >= min / <= max (assertions.rs:1952-1992, helpers 2083-2139)."""
    ts = parsed["tables"]
    if page is not None:
        ts = F.filter(ts, lambda t: t["page"] == F.lit(page))
    toks = F.array(*[F.lit(tk) for tk in tokens])
    per_table = F.transform(
        ts,
        lambda t: F.size(
            F.filter(
                toks,
                lambda tok: F.exists(t["headers"], lambda h: F.regexp_like(h, tok)),
            )
        ),
    )
    best = F.coalesce(F.array_max(per_table), F.lit(0))
    ok = best >= min_matches
    if max_matches is not None:
        ok = ok & (best <= max_matches)
    return ok


def _table_col_count(t: Column) -> Column:
    """max row width vs header width (assertions.rs:2141-2149)."""
    return F.greatest(
        F.size(t["headers"]),
        F.coalesce(F.array_max(F.transform(t["rows"], lambda r: F.size(r))), F.lit(0)),
    )


def dominant_column_count(
    parsed: Column, expected: int, tolerance: int, sample_pages: int | None
) -> Column:
    """Mode of per-table column counts within +/- tolerance; ties break
    toward the SMALLER count (assertions.rs:1994-2027, 2151-2160). The
    page filter applies only if any table carries a page number."""
    ts = parsed["tables"]
    if sample_pages is not None:
        any_paged = F.exists(parsed["tables"], lambda t: t["page"].isNotNull())
        ts = F.when(
            any_paged,
            F.filter(
                parsed["tables"],
                lambda t: t["page"].isNull() | (t["page"] <= F.lit(sample_pages)),
            ),
        ).otherwise(parsed["tables"])
    counts = F.transform(ts, _table_col_count)
    distinct = F.array_distinct(counts)
    # struct (freq, -count): max freq wins, ties -> larger -count = smaller count
    scored = F.transform(
        distinct,
        lambda c: F.struct(
            F.size(F.filter(counts, lambda x: x == c)).alias("freq"),
            (-c).alias("neg"),
        ),
    )
    best = F.array_max(scored)
    mode = -best["neg"]
    return (F.size(counts) > 0) & (F.abs(mode - expected) <= tolerance)


def full_width_row(parsed: Column, pattern: str, min_cells: int) -> Column:
    """Some row with >= min_cells where all non-empty cells are the
    identical string matching regex (assertions.rs:2029-2048, 2162-2173)."""
    return F.exists(
        parsed["tables"],
        lambda t: F.exists(
            t["rows"],
            lambda r: (F.size(r) >= min_cells)
            & (F.size(F.array_distinct(F.filter(r, lambda c: c != ""))) == 1)
            & F.try_element_at(F.filter(r, lambda c: c != ""), F.lit(1)).rlike(pattern),
        ),
    )


def page_section_count(parsed: Column, min_count: int, max_count: int) -> Column:
    """<section data-page-number> count in [min,max]
    (assertions.rs:2050-2074)."""
    return parsed["page_sections"].between(min_count, max_count)


# ---------------------------------------------------------------------------
# text_near (assertions.rs:1691-1740) — JVM-side positional regex scans
# ---------------------------------------------------------------------------


def _near_match(
    text: str, anchor: str, value: str, within_chars: int
) -> bool:
    """Reference implementation (pure Python) of the text_near semantics —
    kept as the test oracle for the Column version below.

    Bidirectional: value-pattern within N chars of ANY anchor match;
    whitespace-only gaps shorter than 10 chars count as distance 0
    (assertions.rs:1733-1740)."""
    if not text:
        return False
    a_spans = [m.span() for m in re.finditer(anchor, text)]
    v_spans = [m.span() for m in re.finditer(value, text)]
    for a0, a1 in a_spans:
        for v0, v1 in v_spans:
            if v0 >= a1:
                gap = text[a1:v0]
            elif a0 >= v1:
                gap = text[v1:a0]
            else:
                return True  # overlapping spans
            dist = len(gap)
            if dist < 10 and gap.strip() == "":
                dist = 0
            if dist <= within_chars:
                return True
    return False


def match_spans(text: Column, pattern: str) -> Column:
    """array<struct<s,e>> of all non-overlapping match spans of a Java
    regex in ``text`` — JVM-side, no Python.

    Spark exposes no positional regex function, but positions are fully
    determined by ``split`` + ``regexp_extract_all`` over the same
    pattern: text = parts[0]+ms[0]+parts[1]+ms[1]+…+parts[n], so match i
    starts at len(parts[0..i]) + len(ms[0..i-1]). The slice-sums are
    O(n²) in the MATCH count (not text length) — matches per doc are few.
    """
    parts = F.split(text, pattern, -1)
    ms = F.regexp_extract_all(text, F.lit(pattern), F.lit(0))

    def span(m, i):
        start = F.length(F.concat_ws("", F.slice(parts, 1, i + 1))) + F.length(
            F.concat_ws("", F.slice(ms, 1, i))
        )
        return F.struct(start.alias("s"), (start + F.length(m)).alias("e"))

    return F.transform(ms, span)


def text_near(parsed: Column, anchor: str, value: str, within_chars: int) -> Column:
    """Pure Column expression — adding text_near assertions to a rule set
    adds ZERO Python stages (the 'exactly one ArrowEvalPython' plan
    invariant holds with text_near active, and revalidate over stored
    parsed structs stays Python-free). Java regex, like every other
    assertion (rlike); the Python re reference implementation above is
    the semantics oracle in tests."""
    text = parsed["normalized"]
    a_sp = match_spans(text, anchor)
    v_sp = match_spans(text, value)
    within = F.lit(within_chars)

    def gap_ok(lo, hi):
        glen = hi - lo
        gap = F.substring(text, lo + 1, glen)
        dist = F.when(
            (glen < 10) & gap.rlike(r"^\s*$"), F.lit(0)
        ).otherwise(glen)
        return dist <= within

    def near(a, v):
        overlap = ~((v["s"] >= a["e"]) | (a["s"] >= v["e"]))
        return (
            overlap
            | ((v["s"] >= a["e"]) & gap_ok(a["e"], v["s"]))
            | ((a["s"] >= v["e"]) & gap_ok(v["e"], a["s"]))
        )

    return F.coalesce(
        F.exists(a_sp, lambda a: F.exists(v_sp, lambda v: near(a, v))),
        F.lit(False),
    )


# ---------------------------------------------------------------------------
# sheet accessors over decoded grids: map<string, array<array<string>>>
# (reference: src/document/xlsx.rs; the xlsx_decode driver query)
# ---------------------------------------------------------------------------

_A1_RE = re.compile(r"^([A-Za-z]+)([0-9]+)$")


def a1_to_rc(ref: str) -> tuple[int, int]:
    """A1 -> (row0, col0), zero-based."""
    m = _A1_RE.match(ref)
    if not m:
        raise ValueError(f"bad A1 ref: {ref}")
    col = 0
    for ch in m.group(1).upper():
        col = col * 26 + (ord(ch) - 64)
    return int(m.group(2)) - 1, col - 1


def _sheet(sheets: Column, name: str) -> Column:
    """Case-insensitive sheet lookup (assertions.rs:1051-1075)."""
    key = F.try_element_at(
        F.filter(F.map_keys(sheets), lambda k: F.lower(k) == name.lower()), F.lit(1)
    )
    return F.try_element_at(sheets, F.coalesce(key, F.lit("\x00missing")))


def sheet_exists(sheets: Column, name: str) -> Column:
    return F.exists(F.map_keys(sheets), lambda k: F.lower(k) == name.lower())


def _cell(sheets: Column, sheet: str, ref: str) -> Column:
    r, c = a1_to_rc(ref)
    grid = _sheet(sheets, sheet)
    return F.try_element_at(F.try_element_at(grid, F.lit(r + 1)), F.lit(c + 1))
