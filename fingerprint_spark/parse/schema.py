"""Spark schema of the parsed-document struct.

This is the Spark mapping of the reference's ``StructuredDocument``
(``/root/reference/src/document/mod.rs:33-39``): one nested struct column
computed once per document by a vectorized parse UDF; every assertion
afterwards is a pure Catalyst expression over this struct (no per-row
Python after the parse stage).
"""

from __future__ import annotations

from pyspark.sql import types as T

HEADING_TYPE = T.StructType(
    [
        T.StructField("level", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("line", T.IntegerType(), False),
    ]
)

SECTION_TYPE = T.StructType(
    [
        # heading text; null for the preamble section before the first heading
        # (reference markdown.rs:21-28: Section.heading Option<Heading>)
        T.StructField("heading", T.StringType(), True),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("start_line", T.IntegerType(), False),
        T.StructField("end_line", T.IntegerType(), False),
        # NO content field: section content is recoverable from
        # (normalized, start_line, end_line) — carrying it duplicated the
        # whole document text through Arrow per section (zero-retention:
        # anchors + counts only, extract.rs:14-29)
        # count of non-blank body lines, heading line excluded
        # (reference assertions.rs:1851-1857 section_body_lines)
        T.StructField("body_lines", T.IntegerType(), False),
        T.StructField("page", T.IntegerType(), True),
    ]
)

TABLE_TYPE = T.StructType(
    [
        # nearest preceding heading text (reference markdown.rs:30-39)
        T.StructField("heading_ref", T.StringType(), True),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("start_line", T.IntegerType(), False),
        T.StructField("end_line", T.IntegerType(), False),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("headers", T.ArrayType(T.StringType()), False),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType())), False),
    ]
)

PARSED_TYPE = T.StructType(
    [
        T.StructField("normalized", T.StringType(), True),
        T.StructField("headings", T.ArrayType(HEADING_TYPE), True),
        T.StructField("sections", T.ArrayType(SECTION_TYPE), True),
        T.StructField("tables", T.ArrayType(TABLE_TYPE), True),
        # count of <section data-page-number> elements
        # (reference html.rs:365-369)
        T.StructField("page_sections", T.IntegerType(), True),
        # parse failure -> _skipped analog (reference enricher.rs:145-159:
        # IO/parse failure appends a warning and continues, never fatal)
        T.StructField("parse_error", T.StringType(), True),
    ]
)
