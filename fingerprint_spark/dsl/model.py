"""Rule model — the unit of query.

Reference: ``FingerprintDefinition { fingerprint_id, format, valid_from,
valid_until, parent, assertions, extract, content_hash }``
(src/dsl/parser.rs:8-19). Definitions are small frozen driver-side
objects; at execution they are compiled to Catalyst expressions and
broadcast implicitly as literals (BASELINE.json: "template definitions
broadcast as versioned lookup structures").
"""

from __future__ import annotations

from dataclasses import dataclass, field

FORMATS = ("xlsx", "csv", "pdf", "markdown", "text", "html")

# the full 30-variant assertion surface (src/dsl/assertions.rs:33-164)
ASSERTION_TYPES = frozenset(
    [
        # universal
        "filename_regex",
        # spreadsheet
        "sheet_exists", "sheet_name_regex", "cell_eq", "cell_regex",
        "range_non_null", "range_populated", "sheet_min_rows",
        "column_search", "header_row_match", "sum_eq", "within_tolerance",
        # content
        "heading_exists", "heading_regex", "heading_level", "text_contains",
        "text_regex", "text_near", "section_non_empty", "section_min_lines",
        "table_exists", "table_columns", "table_shape", "table_min_rows",
        "page_count", "metadata_regex",
        # html-only
        "header_token_search", "dominant_column_count", "full_width_row",
        "page_section_count",
    ]
)

HTML_ONLY = frozenset(
    ["header_token_search", "dominant_column_count", "full_width_row",
     "page_section_count"]
)
SPREADSHEET_ONLY = frozenset(
    ["sheet_exists", "sheet_name_regex", "cell_eq", "cell_regex",
     "range_non_null", "range_populated", "sheet_min_rows", "column_search",
     "header_row_match", "sum_eq", "within_tolerance"]
)
PDF_ONLY = frozenset(["page_count", "metadata_regex"])


@dataclass(frozen=True)
class Assertion:
    """One named assertion: type tag + params (src/dsl/parser.rs named
    assertions; auto-naming dedup in parser.py)."""

    type: str
    name: str
    params: tuple[tuple[str, object], ...]  # sorted, hashable

    def param(self, key: str):
        for k, v in self.params:
            if k == key:
                return v
        return None

    @property
    def params_dict(self) -> dict:
        return dict(self.params)


@dataclass(frozen=True)
class ExtractSection:
    """Anchor extraction config (src/dsl/extract.rs:14-29)."""

    name: str
    type: str  # range | section | table | text_match
    params: tuple[tuple[str, object], ...]

    def param(self, key: str):
        for k, v in self.params:
            if k == key:
                return v
        return None


@dataclass(frozen=True)
class ContentHashConfig:
    """content_hash over selected extracts (src/dsl/content_hash.rs:7-69)."""

    algo: str = "md5"  # md5/sha256/xxhash64 (JVM) or blake3 (reference-comparable, Python stage)
    over: tuple[str, ...] = ()


@dataclass(frozen=True)
class FingerprintDefinition:
    fingerprint_id: str
    format: str
    assertions: tuple[Assertion, ...]
    valid_from: str | None = None
    valid_until: str | None = None
    parent: str | None = None
    extract: tuple[ExtractSection, ...] = ()
    content_hash: ContentHashConfig | None = None
    source: str = "inline"
    source_hash: str | None = None

    @property
    def version(self) -> str:
        """id convention '<name>.v<N>' — version suffix if present."""
        if "." in self.fingerprint_id:
            tail = self.fingerprint_id.rsplit(".", 1)[1]
            if tail.startswith("v"):
                return tail
        return "v0"


def make_assertion(type_: str, name: str, params: dict) -> Assertion:
    return Assertion(
        type=type_,
        name=name,
        params=tuple(sorted(params.items(), key=lambda kv: kv[0])),
    )
