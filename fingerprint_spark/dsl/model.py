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

# html is the one rule format: the engine filters a table of web pages,
# so every match path evaluates html rules and validation refuses the
# rest (the reference's xlsx/csv/pdf/markdown/text formats)
FORMATS = ("html",)

# assertion type -> required params (src/dsl/assertions.rs:33-164, the
# variants an html document can answer); the table IS the type list
REQUIRED_PARAMS: dict[str, tuple[str, ...]] = {
    "filename_regex": ("pattern",),
    "heading_exists": ("text",),
    "heading_regex": ("pattern",),
    "heading_level": ("level", "pattern"),
    "text_contains": ("value",),
    "text_regex": ("pattern",),
    "text_near": ("anchor", "value", "within_chars"),
    "section_non_empty": ("heading_pattern",),
    "section_min_lines": ("heading_pattern", "min_lines"),
    "table_exists": (),
    "table_columns": ("patterns",),
    "table_shape": ("min_columns", "types"),
    "table_min_rows": ("min_rows",),
    "header_token_search": ("tokens", "min_matches"),
    "dominant_column_count": ("expected",),
    "full_width_row": ("pattern",),
    "page_section_count": ("min_count", "max_count"),
}
ASSERTION_TYPES = frozenset(REQUIRED_PARAMS)

# extract type -> required params (src/dsl/extract.rs:14-29)
EXTRACT_PARAMS: dict[str, tuple[str, ...]] = {
    "section": ("heading_pattern",),
    "table": ("heading_pattern",),
    "text_match": ("anchor", "value"),
}
EXTRACT_TYPES = frozenset(EXTRACT_PARAMS)


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
    type: str  # section | table | text_match
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
