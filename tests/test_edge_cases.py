"""Content-assertion boundary conditions, modeled on the reference's
tests/content_assertion_edge_cases.rs: regex anchoring/case and
text_near pattern refusals."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl.compiler import compile_assertion
from fingerprint_spark.dsl.model import make_clause
from fingerprint_spark.dsl.validate import ValidationError, validate_definition
from fingerprint_spark.parse import parse_html_col


def _run(spark, df, env, atype, params):
    a = make_clause(atype, "t", params)
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


def test_text_near_refuses_empty_matching_patterns(spark):
    """Zero-width-capable text_near patterns (a*, bare ^) desync the
    positional span reconstruction — refused at validation. Judged by
    the EXECUTING engine (java.util.regex via the active JVM, round-3
    ADVICE fix), hence the spark fixture."""
    from fingerprint_spark.dsl.model import FingerprintDefinition

    def rule(anchor, value):
        return FingerprintDefinition(
            fingerprint_id="t.v1", format="html",
            assertions=(make_clause(
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
