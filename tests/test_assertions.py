"""Per-assertion unit tests over synthesized documents — all 30 types
(reference content_assertion_edge_cases.rs + module unit tests model)."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl.compiler import compile_assertion
from fingerprint_spark.dsl.model import make_assertion
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

SHEETS = {
    "Summary": [
        ["Name", "Q1", "Q2"],
        ["alpha", "10", "20"],
        ["beta", "30", "40"],
        ["total", "40", "60"],
    ],
    "Raw Data": [["x"], [""], ["y"]],
}

PDF = (12, {"Title": "Annual Report", "Author": "ACME Corp"})


@pytest.fixture(scope="module")
def doc(spark):
    df = spark.createDataFrame(
        [("https://x.example/report-2024.html", HTML, SHEETS, PDF)],
        "url string, html string, sheets map<string,array<array<string>>>, "
        "pdf struct<page_count:int, metadata:map<string,string>>",
    )
    return df.withColumn("parsed", parse_html_col(F.col("html"))).cache()


def _eval(doc, type_, params):
    a = make_assertion(type_, "t", params)
    env = {
        "url": F.col("url"),
        "parsed": F.col("parsed"),
        "sheets": F.col("sheets"),
        "pdf": F.col("pdf"),
    }
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
    # pdf
    ("page_count", {"min_pages": 10, "max_pages": 20}, True),
    ("page_count", {"min_pages": 13, "max_pages": 20}, False),
    ("metadata_regex", {"key": "title", "pattern": "Annual"}, True),  # case-insens key
    ("metadata_regex", {"key": "Author", "pattern": "^Other"}, False),
    # html-only
    ("header_token_search", {"tokens": ["Region", "Amount"], "min_matches": 2}, True),
    ("header_token_search", {"tokens": ["Region", "Losses"], "min_matches": 2}, False),
    ("dominant_column_count", {"expected": 3, "tolerance": 1}, True),
    ("dominant_column_count", {"expected": 5, "tolerance": 1}, False),
    ("full_width_row", {"pattern": "CONFIDENTIAL", "min_cells": 3}, True),
    ("full_width_row", {"pattern": "PUBLIC", "min_cells": 3}, False),
    ("page_section_count", {"min_count": 2, "max_count": 2}, True),
    ("page_section_count", {"min_count": 3, "max_count": 9}, False),
    # spreadsheet
    ("sheet_exists", {"sheet": "summary"}, True),  # case-insensitive
    ("sheet_exists", {"sheet": "Missing"}, False),
    ("sheet_name_regex", {"pattern": "^Raw"}, True),
    ("cell_eq", {"sheet": "Summary", "cell": "A1", "value": "Name"}, True),
    ("cell_eq", {"sheet": "Summary", "cell": "B2", "value": "99"}, False),
    ("cell_regex", {"sheet": "Summary", "cell": "B4", "pattern": r"^\d+$"}, True),
    ("range_non_null", {"sheet": "Summary", "range": "A1:C4"}, True),
    ("range_non_null", {"sheet": "Raw Data", "range": "A1:A3"}, False),
    ("range_populated", {"sheet": "Raw Data", "range": "A1:A3", "min_pct": 0.6}, True),
    ("range_populated", {"sheet": "Raw Data", "range": "A1:A3", "min_pct": 0.9}, False),
    ("sheet_min_rows", {"sheet": "Summary", "min_rows": 4}, True),
    ("sheet_min_rows", {"sheet": "Summary", "min_rows": 5}, False),
    (
        "column_search",
        {"sheet": "Summary", "column": "A", "row_start": 2, "row_end": 4,
         "pattern": "^total$"},
        True,
    ),
    (
        "column_search",
        {"sheet": "Summary", "column": "B", "row_start": 2, "row_end": 4,
         "pattern": "^total$"},
        False,
    ),
    (
        "header_row_match",
        {"sheet": "Summary", "row_start": 1, "row_end": 2,
         "patterns": ["Name", "Q\\d", "Q\\d"], "min_match": 2},
        True,
    ),
    (
        "header_row_match",
        {"sheet": "Summary", "row_start": 2, "row_end": 3,
         "patterns": ["Name", "Q1"], "min_match": 2},
        False,
    ),
    ("sum_eq", {"sheet": "Summary", "range": "B2:B3", "cell": "B4"}, True),
    ("sum_eq", {"sheet": "Summary", "range": "B2:B3", "cell": "C4"}, False),
    (
        "within_tolerance",
        {"sheet": "Summary", "cell": "C4", "min_value": 50, "max_value": 70},
        True,
    ),
    (
        "within_tolerance",
        {"sheet": "Summary", "cell": "C4", "min_value": 90, "max_value": 99},
        False,
    ),
]


@pytest.mark.parametrize(
    "type_,params,expected",
    CASES,
    ids=[f"{t}_{i}" for i, (t, _p, _e) in enumerate(CASES)],
)
def test_assertion(doc, type_, params, expected):
    assert _eval(doc, type_, params) is expected

