"""Rule model — the unit of query.

Reference: ``FingerprintDefinition { fingerprint_id, format, valid_from,
valid_until, parent, assertions, extract, content_hash }``
(src/dsl/parser.rs:8-19). Definitions are small frozen driver-side
objects; at execution they are compiled to Catalyst expressions and
broadcast implicitly as literals (BASELINE.json: "template definitions
broadcast as versioned lookup structures").
"""

from __future__ import annotations

import math
from dataclasses import dataclass

# html is the one rule format: the engine filters a table of web pages,
# so every match path evaluates html rules and validation refuses the
# rest (the reference's xlsx/csv/pdf/markdown/text formats)
FORMATS = ("html",)

# parameter kinds: string, int, cell_type_list (of CELL_TYPES) and the
# regex kinds, which validation compiles with java.util.regex when a JVM
# is up; a span regex (text_near's and text_match's positional scans)
# must also not match the empty string
REGEX_KINDS = ("regex", "span_regex", "regex_list")
# the cell typer's vocabulary (operators/assertions._column_majority_type)
CELL_TYPES = ("number", "currency", "percentage", "date", "string")
_REQUIRED = object()


@dataclass(frozen=True)
class Param:
    """A rule parameter: kind, default (none: required), int bounds."""

    kind: str
    default: object = _REQUIRED
    lo: float = -math.inf
    hi: float = math.inf

    @property
    def required(self) -> bool:
        return self.default is _REQUIRED


@dataclass(frozen=True)
class Spec:
    """A clause type's parameters in its builder's argument order, and
    the env column the builder reads first."""

    params: dict[str, Param]
    input: str = "parsed"


_STR, _RE, _SPAN, _INT = (Param(k) for k in ("string", "regex", "span_regex", "int"))
_OPT_INT = Param("int", default=None)
# a table_* target: the index-th table under a heading_ref regex
_TABLE = {"heading_pattern": Param("regex", default=None),
          "index": Param("int", default=0, lo=0)}

# assertion type -> spec (src/dsl/assertions.rs:33-164, the variants an
# html document can answer); the table IS the type list
ASSERTION_SPECS: dict[str, Spec] = {
    "filename_regex": Spec({"pattern": _RE}, input="url"),
    "heading_exists": Spec({"text": _STR}),
    "heading_regex": Spec({"pattern": _RE}),
    "heading_level": Spec({"level": Param("int", lo=1, hi=6), "pattern": _RE}),
    "text_contains": Spec({"value": _STR}),
    "text_regex": Spec({"pattern": _RE}),
    "text_near": Spec({"anchor": _SPAN, "value": _SPAN, "within_chars": _INT}),
    "section_non_empty": Spec({"heading_pattern": _RE}),
    "section_min_lines": Spec({"heading_pattern": _RE, "min_lines": _INT}),
    "table_exists": Spec(_TABLE),
    "table_columns": Spec({"patterns": Param("regex_list"), **_TABLE}),
    "table_shape": Spec(
        {"min_columns": _INT, "types": Param("cell_type_list"), **_TABLE}
    ),
    "table_min_rows": Spec({"min_rows": _INT, **_TABLE}),
    "header_token_search": Spec({"tokens": Param("regex_list"), "min_matches": _INT,
                                 "max_matches": _OPT_INT, "page": _OPT_INT}),
    "dominant_column_count": Spec({"expected": _INT,
                                   "tolerance": Param("int", default=0),
                                   "sample_pages": _OPT_INT}),
    "full_width_row": Spec({"pattern": _RE, "min_cells": Param("int", default=2)}),
    "page_section_count": Spec({"min_count": _INT, "max_count": _INT}),
}
ASSERTION_TYPES = frozenset(ASSERTION_SPECS)

# extract type -> spec (src/dsl/extract.rs:14-29)
EXTRACT_SPECS: dict[str, Spec] = {
    "section": Spec({"heading_pattern": _RE}),
    "table": Spec({"heading_pattern": _RE, "index": _TABLE["index"]}),
    "text_match": Spec({"anchor": _SPAN, "value": _SPAN,
                        "within_chars": Param("int", default=400)}),
}
EXTRACT_TYPES = frozenset(EXTRACT_SPECS)


@dataclass(frozen=True)
class Clause:
    """One named assertion, or extract (src/dsl/extract.rs:14-29): type
    tag + params (src/dsl/parser.rs named assertions)."""

    type: str
    name: str
    params: tuple[tuple[str, object], ...]  # sorted, lists as tuples: hashable
    extract: bool = False

    @property
    def spec(self) -> Spec | None:
        return (EXTRACT_SPECS if self.extract else ASSERTION_SPECS).get(self.type)


class ValidationError(ValueError):
    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


def _check(what: str, p: Param, v):
    """``v`` if it is of kind ``p.kind`` and in bounds, else ValidationError."""
    if p.kind == "int":
        ok = type(v) is int and p.lo <= v <= p.hi  # not a bool, float or string
    elif p.kind.endswith("_list"):
        # an empty list would make its assertion hold for any table
        ok = type(v) is tuple and len(v) >= 1 and all(type(x) is str for x in v)
        ok = ok and (p.kind == "regex_list" or set(v) <= set(CELL_TYPES))
    else:
        ok = type(v) is str
    if not ok:
        kind = f"non-empty {p.kind}" if p.kind.endswith("_list") else p.kind
        bounds = f" in [{p.lo}, {p.hi}]" if p.kind == "int" else ""
        raise ValidationError(
            "E_INVALID_YAML", f"{what} {v!r} is not a {kind}{bounds}"
        )
    return v


def clause_params(c: Clause) -> dict:
    """The clause's parameters, checked against its type's spec, with
    defaults filled in and lists as tuples: its builder's keyword
    arguments. A null value counts as absent. ValidationError for an
    unknown type (E_UNKNOWN_ASSERTION; an extract's E_INVALID_YAML), a
    missing parameter (E_MISSING_FIELD), an unknown key or a value of
    the wrong kind or out of bounds (E_INVALID_YAML)."""
    what = f"{'extract' if c.extract else 'assertion'} {c.name} ({c.type})"
    if c.spec is None:
        raise ValidationError(
            "E_INVALID_YAML" if c.extract else "E_UNKNOWN_ASSERTION",
            f"{what}: unknown type",
        )
    params = c.spec.params
    given = {k: v for k, v in c.params if v is not None}
    unknown = sorted(set(given) - set(params))
    if unknown:
        raise ValidationError(
            "E_INVALID_YAML", f"{what}: unknown {unknown}, known {list(params)}"
        )
    missing = [k for k, p in params.items() if p.required and k not in given]
    if missing:
        raise ValidationError("E_MISSING_FIELD", f"{what}: missing {missing}")
    return {
        k: _check(f"{what}: {k}", p, given[k]) if k in given else p.default
        for k, p in params.items()
    }


@dataclass(frozen=True)
class ContentHashConfig:
    """content_hash over selected extracts (src/dsl/content_hash.rs:7-69)."""

    algo: str = "md5"  # md5/sha256/xxhash64 (JVM) or blake3 (reference-comparable, Python stage)
    over: tuple[str, ...] = ()


@dataclass(frozen=True)
class FingerprintDefinition:
    fingerprint_id: str
    format: str
    assertions: tuple[Clause, ...]
    valid_from: str | None = None
    valid_until: str | None = None
    parent: str | None = None
    extract: tuple[Clause, ...] = ()
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


def make_clause(type_: str, name: str, params: dict, extract: bool = False) -> Clause:
    """A Clause with its params sorted and lists frozen to tuples, so
    the definition hashes (it keys the pipeline's stage memo)."""
    return Clause(
        type=type_,
        name=name,
        params=tuple(sorted(
            (k, tuple(v) if isinstance(v, list) else v) for k, v in params.items()
        )),
        extract=extract,
    )
