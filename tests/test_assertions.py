"""Per-assertion unit tests over a synthesized html document — all 17
types, and the 3 extract types (reference content_assertion_edge_cases.rs
+ module unit tests model)."""

import inspect

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl import compiler
from fingerprint_spark.dsl.compiler import compile_assertion
from fingerprint_spark.dsl.model import (
    ASSERTION_SPECS, ASSERTION_TYPES, EXTRACT_SPECS, EXTRACT_TYPES, make_clause,
)
from fingerprint_spark.operators import extract
from fingerprint_spark.parse import parse_html_col

HTML = """<html><body>
<section data-page-number="1">
<h1>Annual Report 2024</h1>
<h2>Revenue Summary</h2>
<p>Total revenue grew by 12 percent compared to baseline.</p>
<p>Details follow in the table below near Amount: 4200 units.</p>
<h2>Figures</h2>
<table><tr><th>Region</th><th>Amount</th><th>Pct</th><th>Date</th></tr>
<tr><td>north</td><td>$1,200.50</td><td>12%</td><td>2024-01-15</td></tr>
<tr><td>south</td><td>$800.25</td><td>8%</td><td>2024-02-20</td></tr>
<tr><td>west</td><td>$2,199.25</td><td>22%</td><td>2024-03-25</td></tr></table>
</section>
<section data-page-number="2">
<h2>Classification</h2>
<table><tr><th>A</th><th>B</th><th>C</th></tr>
<tr><td>CONFIDENTIAL</td><td>CONFIDENTIAL</td><td>CONFIDENTIAL</td></tr>
<tr><td>x</td><td>y</td><td>z</td></tr></table>
<h2>Empty Part</h2>
</section>
</body></html>"""

@pytest.fixture(scope="module")
def doc(spark):
    df = spark.createDataFrame(
        [("https://x.example/report-2024.html", HTML)], "url string, html string"
    )
    return df.withColumn("parsed", parse_html_col(F.col("html"))).cache()


def _eval(doc, type_, params):
    a = make_clause(type_, "t", params)
    env = {"url": F.col("url"), "parsed": F.col("parsed")}
    return doc.select(compile_assertion(a, env).alias("r")).first()["r"]


CASES = [
    # universal
    ("filename_regex", {"pattern": r"report-\d{4}"}, True),
    ("filename_regex", {"pattern": r"^invoice"}, False),
    # content
    ("heading_exists", {"text": "Annual Report 2024"}, True),
    ("heading_exists", {"text": "Annual Report"}, False),  # exact match
    ("heading_regex", {"pattern": "Revenue"}, True),
    ("heading_regex", {"pattern": "Losses"}, False),
    ("heading_level", {"level": 2, "pattern": "Figures"}, True),
    ("heading_level", {"level": 3, "pattern": "Figures"}, False),
    ("text_contains", {"value": "revenue grew by 12 percent"}, True),
    ("text_contains", {"value": "revenue shrank"}, False),
    ("text_regex", {"pattern": r"grew by \d+ percent"}, True),
    ("text_near", {"anchor": "Amount:", "value": r"\d{4}", "within_chars": 10}, True),
    ("text_near", {"anchor": "Amount:", "value": r"baseline", "within_chars": 10}, False),
    ("section_non_empty", {"heading_pattern": "Revenue Summary"}, True),
    ("section_non_empty", {"heading_pattern": "Empty Part"}, False),
    ("section_min_lines", {"heading_pattern": "Revenue Summary", "min_lines": 2}, True),
    ("section_min_lines", {"heading_pattern": "Revenue Summary", "min_lines": 9}, False),
    ("table_exists", {"heading_pattern": "Figures"}, True),
    ("table_exists", {"heading_pattern": "Nope"}, False),
    ("table_exists", {"heading_pattern": "Figures", "index": 1}, False),
    ("table_columns", {"patterns": ["Region", "Amou", "Pct"]}, True),
    ("table_columns", {"patterns": ["Amount", "Region"]}, False),  # positional
    ("table_min_rows", {"min_rows": 3, "heading_pattern": "Figures"}, True),
    ("table_min_rows", {"min_rows": 4, "heading_pattern": "Figures"}, False),
    (
        "table_shape",
        {"min_columns": 4, "types": ["string", "currency", "percentage", "date"],
         "heading_pattern": "Figures"},
        True,
    ),
    (
        "table_shape",
        {"min_columns": 4, "types": ["number", "string", "percentage", "date"],
         "heading_pattern": "Figures"},
        False,
    ),
    # currency ~ number mutual compatibility (assertions.rs:2264-2293)
    (
        "table_shape",
        {"min_columns": 2, "types": ["string", "number"], "heading_pattern": "Figures"},
        True,
    ),
    # a failing text_regex, table_columns under a heading, table_shape's
    # width floor
    ("text_regex", {"pattern": r"shrank by \d+"}, False),
    ("table_columns", {"patterns": ["A", "B", "C"], "heading_pattern": "Classification"}, True),
    (
        "table_shape",
        {"min_columns": 5, "types": ["string"], "heading_pattern": "Figures"},
        False,
    ),
    # best table matches 3 tokens, above max_matches
    ("header_token_search", {"tokens": ["Region", "Amount", "Pct"], "min_matches": 1,
                             "max_matches": 2}, False),
    # html-only
    ("header_token_search", {"tokens": ["Region", "Amount"], "min_matches": 2}, True),
    ("header_token_search", {"tokens": ["Region", "Losses"], "min_matches": 2}, False),
    ("dominant_column_count", {"expected": 3, "tolerance": 1}, True),
    ("dominant_column_count", {"expected": 5, "tolerance": 1}, False),
    ("full_width_row", {"pattern": "CONFIDENTIAL", "min_cells": 3}, True),
    ("full_width_row", {"pattern": "PUBLIC", "min_cells": 3}, False),
    ("page_section_count", {"min_count": 2, "max_count": 2}, True),
    ("page_section_count", {"min_count": 3, "max_count": 9}, False),
]


@pytest.mark.parametrize(
    "type_,params,expected",
    CASES,
    ids=[f"{t}_{i}" for i, (t, _p, _e) in enumerate(CASES)],
)
def test_assertion(doc, type_, params, expected):
    assert _eval(doc, type_, params) is expected


# extract type, params, whether the target is found (a miss is null)
EXTRACT_CASES = [
    ("section", {"heading_pattern": "^Revenue"}, True),
    ("section", {"heading_pattern": "Losses"}, False),
    ("table", {"heading_pattern": "Figures"}, True),
    ("table", {"heading_pattern": "Figures", "index": 1}, False),
    ("text_match", {"anchor": "Amount:", "value": r"\d{4}"}, True),
    ("text_match", {"anchor": "Amount:", "value": r"\d{4}", "within_chars": 2}, False),
]


@pytest.mark.parametrize(
    "type_,params,found",
    EXTRACT_CASES,
    ids=[f"{t}_{i}" for i, (t, _p, _f) in enumerate(EXTRACT_CASES)],
)
def test_extract(doc, type_, params, found):
    e = make_clause(type_, "e", params, extract=True)
    col = extract.compile_extract(e, {"parsed": F.col("parsed")})
    assert (doc.select(col.alias("r")).first()["r"] is not None) is found


def test_every_assertion_type_has_a_case():
    assert {t for t, _p, _e in CASES} == ASSERTION_TYPES
    assert {t for t, _p, _f in EXTRACT_CASES} == EXTRACT_TYPES


@pytest.mark.parametrize(
    "specs,builders",
    [(ASSERTION_SPECS, compiler.BUILDERS), (EXTRACT_SPECS, extract.BUILDERS)],
    ids=["assertion", "extract"],
)
def test_builders_take_the_spec_params(specs, builders):
    """The parameter table and the builders agree: each builder reads the
    spec's input column, then takes exactly the spec's parameters in
    order, with no defaults of its own (the table holds them)."""
    assert set(builders) == set(specs)
    for t, spec in specs.items():
        params = inspect.signature(builders[t]).parameters
        assert list(params) == [spec.input, *spec.params], t
        assert all(p.default is inspect.Parameter.empty for p in params.values()), t
