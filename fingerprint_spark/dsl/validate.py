"""Driver-side rule validation before broadcast.

Reference: src/compile/validate.rs:5-214 — format whitelist, html-only
assertion gating, per-assertion parameter/bounds checks, extract field
requirements, content_hash must reference known extracts.
"""

from __future__ import annotations

import re

from .model import (
    FORMATS,
    HTML_ONLY,
    PDF_ONLY,
    SPREADSHEET_ONLY,
    FingerprintDefinition,
)


class ValidationError(ValueError):
    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


_INVALID = object()  # sentinel: pattern refused by the executing engine
_A1 = r"[A-Za-z]+[0-9]+"  # one A1 cell; a range is _A1:_A1


def _regex_matches_empty(pat: str):
    """Can ``pat`` match the empty string — judged by the engine that
    will EXECUTE it (Java regex via the active JVM when a SparkSession
    is up; rlike/split/regexp_extract_all all run java.util.regex).

    Returns True / False, ``_INVALID`` if the executing engine refuses
    the pattern, or None when undeterminable (no JVM and Python ``re``
    can't parse Java-only syntax like possessive quantifiers or \\h —
    callers must then accept with a warning, not refuse: the round-2
    failure mode was E_INVALID_YAML on rules Java runs fine)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            jpat = spark._jvm.java.util.regex.Pattern.compile(pat)
            return bool(jpat.matcher("").find())
        except Exception:  # PatternSyntaxException via py4j
            return _INVALID
    import re
    import warnings

    try:
        return re.search(pat, "") is not None
    except re.error as e:
        warnings.warn(
            f"pattern {pat!r} not checkable without a JVM (python re: {e}); "
            "accepting — java.util.regex is authoritative at execution",
            stacklevel=2,
        )
        return None


_REQUIRED_PARAMS: dict[str, list[str]] = {
    "filename_regex": ["pattern"],
    "sheet_exists": ["sheet"],
    "sheet_name_regex": ["pattern"],
    "cell_eq": ["sheet", "cell", "value"],
    "cell_regex": ["sheet", "cell", "pattern"],
    "range_non_null": ["sheet", "range"],
    "range_populated": ["sheet", "range", "min_pct"],
    "sheet_min_rows": ["sheet", "min_rows"],
    "column_search": ["sheet", "column", "row_start", "row_end", "pattern"],
    "header_row_match": ["sheet", "row_start", "row_end", "patterns", "min_match"],
    "sum_eq": ["sheet", "range", "cell"],
    "within_tolerance": ["sheet", "cell", "min_value", "max_value"],
    "heading_exists": ["text"],
    "heading_regex": ["pattern"],
    "heading_level": ["level", "pattern"],
    "text_contains": ["value"],
    "text_regex": ["pattern"],
    "text_near": ["anchor", "value", "within_chars"],
    "section_non_empty": ["heading_pattern"],
    "section_min_lines": ["heading_pattern", "min_lines"],
    "table_exists": [],
    "table_columns": ["patterns"],
    "table_shape": ["min_columns", "types"],
    "table_min_rows": ["min_rows"],
    "page_count": ["min_pages", "max_pages"],
    "metadata_regex": ["key", "pattern"],
    "header_token_search": ["tokens", "min_matches"],
    "dominant_column_count": ["expected"],
    "full_width_row": ["pattern"],
    "page_section_count": ["min_count", "max_count"],
}


def _check_a1_range(what: str, rng) -> None:
    if rng is not None and not re.fullmatch(f"{_A1}:{_A1}", str(rng)):
        raise ValidationError(
            "E_INVALID_YAML", f"{what}: bad A1 range {rng!r}"
        )


def validate_definition(d: FingerprintDefinition) -> None:
    if d.format not in FORMATS:
        raise ValidationError(
            "E_INVALID_YAML",
            f"format {d.format!r} not in whitelist {FORMATS} (validate.rs:5-40)",
        )
    if not d.assertions:
        raise ValidationError("E_MISSING_FIELD", "at least one assertion required")
    seen_names: set[str] = set()
    for a in d.assertions:
        if a.name in seen_names:
            raise ValidationError("E_INVALID_YAML", f"duplicate assertion name {a.name}")
        seen_names.add(a.name)
        if a.type in HTML_ONLY and d.format != "html":
            raise ValidationError(
                "E_INVALID_YAML",
                f"{a.type} only valid for format html (validate.rs:107-115)",
            )
        if a.type in SPREADSHEET_ONLY and d.format not in ("xlsx", "csv"):
            raise ValidationError(
                "E_INVALID_YAML", f"{a.type} only valid for xlsx/csv formats"
            )
        if a.type in PDF_ONLY and d.format != "pdf":
            raise ValidationError(
                "E_INVALID_YAML", f"{a.type} only valid for pdf format"
            )
        missing = [p for p in _REQUIRED_PARAMS[a.type] if a.param(p) is None]
        if missing:
            raise ValidationError(
                "E_MISSING_FIELD", f"assertion {a.name} ({a.type}) missing {missing}"
            )
        level = a.param("level")
        if a.type == "heading_level" and not (1 <= int(level) <= 6):
            raise ValidationError("E_INVALID_YAML", "heading_level must be 1-6")
        # A1/range format checks: refuse at rule validation with a clean
        # code instead of a raw error at expression-compile time (the
        # reference's eval path tolerates these as non-matches; a
        # compiled-expression engine must reject them before broadcast)
        if a.type in ("cell_eq", "cell_regex", "sum_eq", "within_tolerance"):
            cell = a.param("cell")
            if cell is not None and not re.fullmatch(_A1, str(cell)):
                raise ValidationError(
                    "E_INVALID_YAML", f"assertion {a.name}: bad A1 cell {cell!r}"
                )
        if a.type in ("range_non_null", "range_populated", "sum_eq"):
            _check_a1_range(f"assertion {a.name}", a.param("range"))
        if a.type == "text_near":
            # positional span reconstruction (match_spans: split +
            # regexp_extract_all) desyncs on zero-width matches — refuse
            # patterns that can match the empty string (a*, bare ^, ...)
            for pname in ("anchor", "value"):
                pat = a.param(pname)
                if pat is None:
                    continue
                empty = _regex_matches_empty(str(pat))
                if empty is True:
                    raise ValidationError(
                        "E_INVALID_YAML",
                        f"assertion {a.name}: text_near {pname} pattern "
                        f"{pat!r} can match the empty string",
                    )
                if empty is _INVALID:
                    raise ValidationError(
                        "E_INVALID_YAML",
                        f"assertion {a.name}: {pname} pattern {pat!r} does "
                        "not compile in the executing regex engine",
                    )
                # empty is None: Java-only syntax with no JVM up — accept
                # with a warning (the executing engine is authoritative;
                # Python `re` rejecting a*+/\h/\R must not refuse a rule
                # Java runs fine, ADVICE round 2)
    extract_names = {e.name for e in d.extract}
    if len(extract_names) != len(d.extract):
        raise ValidationError("E_INVALID_YAML", "duplicate extract names")
    for e in d.extract:
        if e.type != "range":
            continue
        # a range extract reads the decoded sheets, which only a
        # spreadsheet rule's match has (the SPREADSHEET_ONLY gate)
        if d.format not in ("xlsx", "csv"):
            raise ValidationError(
                "E_INVALID_YAML",
                f"extract {e.name}: range only valid for xlsx/csv formats",
            )
        missing = [p for p in ("sheet", "range") if e.param(p) is None]
        if missing:
            raise ValidationError(
                "E_MISSING_FIELD", f"extract {e.name} (range) missing {missing}"
            )
        _check_a1_range(f"extract {e.name}", e.param("range"))
    if d.content_hash is not None:
        unknown = [o for o in d.content_hash.over if o not in extract_names]
        if unknown:
            raise ValidationError(
                "E_INVALID_YAML",
                f"content_hash.over references unknown extracts {unknown} "
                "(validate.rs:content_hash refs)",
            )
        if d.content_hash.algo not in ("md5", "sha256", "xxhash64", "blake3"):
            raise ValidationError(
                "E_INVALID_YAML", f"unknown hash algo {d.content_hash.algo}"
            )
