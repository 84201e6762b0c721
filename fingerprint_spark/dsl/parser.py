"""YAML rule parser with deterministic auto-naming.

Reference: src/dsl/parser.rs:44-189. Unknown assertion keys are a hard
parse error (E_UNKNOWN_ASSERTION, parser tests :602-616); anonymous
assertions get deterministic auto-names with dedup counters
(parser.rs:53-72).

YAML shape (same as the reference's .fp.yaml):

    fingerprint_id: spam_pharma.v1
    format: html
    valid_from: "2024-01-01"        # optional
    parent: root_rule.v1            # optional
    assertions:
      - heading_regex:
          pattern: "Cheap (Pills|Meds)"
      - name: has_cta                # explicit name
        text_contains:
          value: "click here"
    extract:
      - name: offer_section
        section:
          heading_pattern: "Special Offer"
    content_hash:
      algo: md5
      over: [offer_section]
"""

from __future__ import annotations

import hashlib

import yaml

from .model import (
    ASSERTION_TYPES,
    EXTRACT_TYPES,
    Clause,
    ContentHashConfig,
    FingerprintDefinition,
    make_clause,
)


class ParseError(ValueError):
    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


def _auto_name(type_: str, counters: dict[str, int]) -> str:
    """Deterministic auto-naming with dedup counters (parser.rs:53-72)."""
    n = counters.get(type_, 0)
    counters[type_] = n + 1
    return type_ if n == 0 else f"{type_}_{n + 1}"


def _parse_clause(entry, counters: dict[str, int], extract: bool) -> Clause:
    """One assertion or extract entry: ``{type: params}`` plus an
    optional ``name``. An unknown assertion type is E_UNKNOWN_ASSERTION
    (an unknown extract type E_INVALID_YAML); an anonymous extract is
    auto-named ``extract_<type>``."""
    what, types, code, prefix = (
        ("extract", EXTRACT_TYPES, "E_INVALID_YAML", "extract_") if extract
        else ("assertion", ASSERTION_TYPES, "E_UNKNOWN_ASSERTION", "")
    )
    if not isinstance(entry, dict):
        raise ParseError("E_INVALID_YAML", f"{what} entry must be a map: {entry!r}")
    entry = dict(entry)
    explicit_name = entry.pop("name", None)
    if len(entry) != 1:
        raise ParseError(
            code, f"{what} entry must have exactly one type key, got {sorted(entry)}"
        )
    (type_, params), = entry.items()
    if type_ not in types:
        raise ParseError(code, f"unknown {what} type {type_!r}")
    if not isinstance(params or {}, dict):
        raise ParseError("E_INVALID_YAML", f"{type_} params must be a map")
    name = explicit_name or _auto_name(prefix + type_, counters)
    return make_clause(type_, name, params or {}, extract=extract)


def parse_definition(data: dict, source: str = "inline") -> FingerprintDefinition:
    for required in ("fingerprint_id", "format", "assertions"):
        if required not in data:
            raise ParseError("E_MISSING_FIELD", f"missing required field {required!r}")
    for key in ("assertions", "extract"):
        if not isinstance(data.get(key) or [], list):
            raise ParseError("E_INVALID_YAML", f"{key} must be a list")
    counters: dict[str, int] = {}  # extract names are prefixed: no clash
    assertions, extract = (
        tuple(_parse_clause(e, counters, key == "extract") for e in data.get(key) or [])
        for key in ("assertions", "extract")
    )
    ch = None
    if data.get("content_hash") is not None:
        chd = data["content_hash"]
        ch = ContentHashConfig(
            algo=chd.get("algo", "md5"), over=tuple(chd.get("over") or ())
        )
    canonical = yaml.safe_dump(data, sort_keys=True).encode()
    return FingerprintDefinition(
        fingerprint_id=str(data["fingerprint_id"]),
        format=str(data["format"]),
        valid_from=data.get("valid_from"),
        valid_until=data.get("valid_until"),
        parent=data.get("parent"),
        assertions=assertions,
        extract=extract,
        content_hash=ch,
        source=source,
        # provenance: hash of the canonicalized YAML
        # (reference compile/codegen.rs embeds blake3 source_hash)
        source_hash="md5:" + hashlib.md5(canonical).hexdigest(),
    )


def parse_yaml(text: str, source: str = "inline") -> FingerprintDefinition:
    try:
        data = yaml.safe_load(text)
    except yaml.YAMLError as e:
        raise ParseError("E_INVALID_YAML", str(e)) from e
    if not isinstance(data, dict):
        raise ParseError("E_INVALID_YAML", "definition must be a YAML mapping")
    return parse_definition(data, source=source)
