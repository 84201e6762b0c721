"""Content-assertion boundary conditions, modeled on the reference's
tests/content_assertion_edge_cases.rs: regex anchoring/case, missing
cells vs empty strings, invalid A1 refusals, metadata key semantics."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl.compiler import compile_assertion
from fingerprint_spark.dsl.model import make_assertion
from fingerprint_spark.dsl.validate import ValidationError, validate_definition
from fingerprint_spark.parse import parse_html_col


def _run(spark, df, env, atype, params):
    a = make_assertion(atype, "t", params)
    return df.select(compile_assertion(a, env).alias("r")).first()["r"]


@pytest.fixture(scope="module")
def text_doc(spark):
    html = (
        "<html><body><p>Invoice ID: INV-2023-001</p>"
        "<p>Amount: $1,234.56</p><p>Email: test@example.com</p></body></html>"
    )
    df = spark.createDataFrame([(html,)], ["html"]).withColumn(
        "parsed", parse_html_col(F.col("html"))
    )
    return df


def test_text_regex_boundary_conditions(spark, text_doc):
    """^ anchors at text start; \\b word boundaries hold; matching is
    case-SENSITIVE without (?i) (content_assertion_edge_cases.rs:134)."""
    env = {"parsed": F.col("parsed")}
    assert _run(spark, text_doc, env, "text_regex", {"pattern": r"^Invoice ID:"})
    assert _run(
        spark, text_doc, env, "text_regex", {"pattern": r"\bINV-\d{4}-\d{3}\b"}
    )
    assert not _run(spark, text_doc, env, "text_regex", {"pattern": "invoice"})
    assert _run(spark, text_doc, env, "text_regex", {"pattern": "(?i)invoice"})


def test_missing_cell_is_not_empty_string(spark):
    """cell_eq against an out-of-grid cell is FALSE even for an expected
    empty string (missing != empty, edge_cases.rs:171-213)."""
    df = spark.createDataFrame(
        [({"Sheet1": [["Tenant", "SF"], ["Acme", "1200"]]},)],
        "sheets map<string, array<array<string>>>",
    )
    env = {"sheets": F.col("sheets")}
    assert _run(spark, df, env, "cell_eq",
                {"sheet": "Sheet1", "cell": "A1", "value": "Tenant"})
    assert not _run(spark, df, env, "cell_eq",
                    {"sheet": "Sheet1", "cell": "Z99", "value": ""})


def test_invalid_a1_refs_refused_at_validation():
    """Invalid A1 cells/ranges refuse at rule validation with
    E_INVALID_YAML — the compiled-expression analog of the reference's
    non-match on bad ranges (fail before broadcast, not mid-job)."""
    from fingerprint_spark.dsl.model import FingerprintDefinition

    bad_range = FingerprintDefinition(
        fingerprint_id="r.v1", format="csv",
        assertions=(make_assertion(
            "range_non_null", "a", {"sheet": "Sheet1", "range": "INVALID"}
        ),),
        source="t", source_hash="md5:t",
    )
    with pytest.raises(ValidationError, match="bad A1 range"):
        validate_definition(bad_range)
    bad_cell = FingerprintDefinition(
        fingerprint_id="c.v1", format="csv",
        assertions=(make_assertion(
            "cell_eq", "a", {"sheet": "Sheet1", "cell": "99Z", "value": "x"}
        ),),
        source="t", source_hash="md5:t",
    )
    with pytest.raises(ValidationError, match="bad A1 cell"):
        validate_definition(bad_cell)


def test_metadata_key_lookup_case_insensitive_missing_false(spark):
    """metadata_regex: key lookup is case-insensitive; a missing key is
    FALSE, never an error (edge_cases.rs:215-243 + pdf.rs:50)."""
    df = spark.createDataFrame(
        [({"Title": "Annual Report"},)], "metadata map<string,string>"
    ).select(
        F.struct(F.lit(3).alias("page_count"), F.col("metadata").alias("metadata")).alias("pdf")
    )
    env = {"pdf": F.col("pdf")}
    assert _run(spark, df, env, "metadata_regex", {"key": "title", "pattern": "Annual.*"})
    assert not _run(spark, df, env, "metadata_regex", {"key": "NonexistentKey", "pattern": ".+"})


def test_text_near_refuses_empty_matching_patterns(spark):
    """Zero-width-capable text_near patterns (a*, bare ^) desync the
    positional span reconstruction — refused at validation. Judged by
    the EXECUTING engine (java.util.regex via the active JVM, round-3
    ADVICE fix), hence the spark fixture."""
    from fingerprint_spark.dsl.model import FingerprintDefinition

    def rule(anchor, value):
        return FingerprintDefinition(
            fingerprint_id="t.v1", format="html",
            assertions=(make_assertion(
                "text_near", "a",
                {"anchor": anchor, "value": value, "within_chars": 10},
            ),),
            source="t", source_hash="md5:t",
        )

    with pytest.raises(ValidationError, match="empty string"):
        validate_definition(rule("x*", r"\d+"))
    with pytest.raises(ValidationError, match="empty string"):
        validate_definition(rule("Anchor", "^"))
    with pytest.raises(ValidationError, match="does not compile"):
        validate_definition(rule("Anchor", "[unclosed"))
    validate_definition(rule("Anchor", r"\d{4}"))  # sane patterns pass
