"""Driver-side rule validation before broadcast.

Reference: src/compile/validate.rs:5-214 — format whitelist,
per-assertion parameter/bounds checks, extract field requirements,
content_hash must reference known extracts. The whitelist is html
alone (model.FORMATS); the parameter checks are model.clause_params,
which the compiler runs too, plus the regex checks that need the JVM.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import SparkSession

from .model import (
    FORMATS, REGEX_KINDS, Clause, FingerprintDefinition, ValidationError, clause_params,
)


# java.util.regex syntax Python re cannot parse: \p{..} / \P{..}
# classes, \Q..\E quoting, the escapes \h \H \R \X \G \z \e \cX \k<..>,
# (?<name>..) groups and, before Python 3.11, possessive quantifiers
# (a*+). Searched with escaped backslashes removed.
_JAVA_ONLY = re.compile(
    r"\\(?:[pP]\{|[QhHRXGzeck])|(?<!\\)[*+?}]\+|(?<!\\)\(\?<[A-Za-z]"
)


def _regex_problem(pat: str, span: bool) -> str | None:
    """Why ``pat`` cannot run, or None — judged by the engine that will
    EXECUTE it (java.util.regex via the active JVM when a SparkSession
    is up; rlike/split/regexp_extract_all all run it). A span pattern
    must also not match the empty string: text_near's match_spans and
    text_match's split + regexp_extract desync on zero-width matches
    (a*, bare ^, ...); other patterns may (``rlike '.*'`` is valid).

    With no JVM, Python ``re`` judges. A pattern it cannot parse is
    refused, save one holding Java-only syntax (_JAVA_ONLY): that one is
    accepted with a warning, not refused, since refusing rules Java runs
    fine (E_INVALID_YAML) was the round-2 failure mode."""
    spark = SparkSession.getActiveSession()
    try:
        if spark is not None:
            empty = spark._jvm.java.util.regex.Pattern.compile(pat).matcher("").find()
        else:
            empty = re.search(pat, "") is not None
    except re.error as e:
        if not _JAVA_ONLY.search(pat.replace("\\\\", "")):
            return f"does not compile (python re: {e})"
        warnings.warn(
            f"pattern {pat!r} not checkable without a JVM (python re: {e}); "
            "accepting — java.util.regex is authoritative at execution",
            stacklevel=2,
        )
        return None
    except Exception:  # PatternSyntaxException via py4j
        return "does not compile in the executing regex engine"
    return "can match the empty string" if span and empty else None


def _check_clause(c: Clause) -> None:
    """The parameters per the type's spec (clause_params), then every
    regex parameter, list elements included (_regex_problem)."""
    params = clause_params(c)
    for k, p in c.spec.params.items():
        if p.kind not in REGEX_KINDS or params[k] is None:
            continue
        for pat in params[k] if p.kind == "regex_list" else (params[k],):
            why = _regex_problem(pat, span=p.kind == "span_regex")
            if why:
                raise ValidationError(
                    "E_INVALID_YAML", f"{c.name} ({c.type}): {k} pattern {pat!r} {why}"
                )


def validate_definition(d: FingerprintDefinition) -> None:
    if d.format not in FORMATS:
        raise ValidationError(
            "E_INVALID_YAML",
            f"format {d.format!r} not in whitelist {FORMATS} (validate.rs:5-40)",
        )
    if not d.assertions:
        raise ValidationError("E_MISSING_FIELD", "at least one assertion required")
    for kind, clauses in (("assertion", d.assertions), ("extract", d.extract)):
        if len({c.name for c in clauses}) != len(clauses):
            raise ValidationError("E_INVALID_YAML", f"duplicate {kind} names")
        for c in clauses:
            _check_clause(c)
    extract_names = {e.name for e in d.extract}
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
