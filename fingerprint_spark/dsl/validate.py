"""Driver-side rule validation before broadcast.

Reference: src/compile/validate.rs:5-214 — format whitelist,
per-assertion parameter/bounds checks, extract field requirements,
content_hash must reference known extracts. The whitelist is html
alone (model.FORMATS).
"""

from __future__ import annotations

from .model import EXTRACT_PARAMS, FORMATS, REQUIRED_PARAMS, FingerprintDefinition


class ValidationError(ValueError):
    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


_INVALID = object()  # sentinel: pattern refused by the executing engine


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


def _check_span_pattern(what: str, pat) -> None:
    """Refuse a pattern the positional scans cannot run: text_near's
    match_spans and text_match's split + regexp_extract desync on
    zero-width matches (a*, bare ^, ...), and a pattern the executing
    engine does not compile would fail the job mid-run."""
    empty = _regex_matches_empty(str(pat))
    if empty is True:
        raise ValidationError(
            "E_INVALID_YAML", f"{what} pattern {pat!r} can match the empty string"
        )
    if empty is _INVALID:
        raise ValidationError(
            "E_INVALID_YAML",
            f"{what} pattern {pat!r} does not compile in the executing "
            "regex engine",
        )
    # empty is None: Java-only syntax with no JVM up — accept with a
    # warning (the executing engine is authoritative; Python `re`
    # rejecting a*+/\h/\R must not refuse a rule Java runs fine,
    # ADVICE round 2)


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
        if a.type not in REQUIRED_PARAMS:
            raise ValidationError(
                "E_UNKNOWN_ASSERTION", f"unknown assertion type {a.type!r}"
            )
        missing = [p for p in REQUIRED_PARAMS[a.type] if a.param(p) is None]
        if missing:
            raise ValidationError(
                "E_MISSING_FIELD", f"assertion {a.name} ({a.type}) missing {missing}"
            )
        level = a.param("level")
        if a.type == "heading_level" and not (1 <= int(level) <= 6):
            raise ValidationError("E_INVALID_YAML", "heading_level must be 1-6")
        if a.type == "text_near":
            for pname in ("anchor", "value"):
                _check_span_pattern(
                    f"assertion {a.name}: text_near {pname}", a.param(pname)
                )
    extract_names = {e.name for e in d.extract}
    if len(extract_names) != len(d.extract):
        raise ValidationError("E_INVALID_YAML", "duplicate extract names")
    for e in d.extract:
        if e.type not in EXTRACT_PARAMS:
            raise ValidationError(
                "E_INVALID_YAML", f"unknown extract type {e.type!r}"
            )
        missing = [p for p in EXTRACT_PARAMS[e.type] if e.param(p) is None]
        if missing:
            raise ValidationError(
                "E_MISSING_FIELD", f"extract {e.name} ({e.type}) missing {missing}"
            )
        if e.type == "text_match":
            for pname in ("anchor", "value"):
                _check_span_pattern(
                    f"extract {e.name}: text_match {pname}", e.param(pname)
                )
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
