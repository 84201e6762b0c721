"""Match semantics: first-match-wins order, child routing
(reference chained_fingerprints.rs / chained_routing_run_mode.rs)."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl.parser import parse_yaml
from fingerprint_spark.parse import parse_html_col
from fingerprint_spark.pipeline import revalidate


def _rules(*yamls):
    return [parse_yaml(y) for y in yamls]

ROOT_A = """
fingerprint_id: a.v1
format: html
assertions:
  - heading_regex: {pattern: "Alpha"}
"""
ROOT_B = """
fingerprint_id: b.v1
format: html
assertions:
  - heading_regex: {pattern: "Alp"}
"""
CHILD_A1 = """
fingerprint_id: a_child1.v1
format: html
parent: a.v1
assertions:
  - text_contains: {value: "first"}
"""
CHILD_A2 = """
fingerprint_id: a_child2.v1
format: html
parent: a.v1
assertions:
  - text_contains: {value: "second"}
"""


def _run(spark, html, *yamls):
    df = spark.createDataFrame([("u", html)], ["url", "html"]).withColumn(
        "parsed", parse_html_col(F.col("html"))
    )
    return revalidate(df, _rules(*yamls))


def test_first_match_wins_order(spark):
    html = "<html><body><h1>Alpha</h1></body></html>"
    # both match; declaration order decides (enricher.rs:201-268)
    r = _run(spark, html, ROOT_A, ROOT_B).first()
    assert r["fingerprint"]["fingerprint_id"] == "a.v1"
    r2 = _run(spark, html, ROOT_B, ROOT_A).first()
    assert r2["fingerprint"]["fingerprint_id"] == "b.v1"


def test_no_match_carries_last_attempt(spark):
    html = "<html><body><h1>Gamma</h1></body></html>"
    r = _run(spark, html, ROOT_A, ROOT_B).first()
    # record carries the LAST attempt's no-match payload (PLAN.md:635-636)
    assert r["fingerprint"]["matched"] is False
    assert r["fingerprint"]["fingerprint_id"] == "b.v1"
    assert r["fingerprint"]["failed_assertion"] == "heading_regex"


def test_child_routing_selected(spark):
    html = "<html><body><h1>Alpha</h1><p>the first option</p></body></html>"
    r = _run(spark, html, ROOT_A, CHILD_A1, CHILD_A2).first()
    assert r["child_routing"]["status"] == "selected"
    assert r["child_routing"]["selected_id"] == "a_child1.v1"
    # ALL children evaluated and reported (enricher.rs:401-453)
    assert {c["fingerprint_id"] for c in r["children"]} == {
        "a_child1.v1", "a_child2.v1"
    }


def test_child_routing_ambiguous_and_none(spark):
    both = "<html><body><h1>Alpha</h1><p>first and second</p></body></html>"
    r = _run(spark, both, ROOT_A, CHILD_A1, CHILD_A2).first()
    assert r["child_routing"]["status"] == "ambiguous"
    assert r["child_routing"]["selected_id"] is None

    neither = "<html><body><h1>Alpha</h1><p>nothing here</p></body></html>"
    r2 = _run(spark, neither, ROOT_A, CHILD_A1, CHILD_A2).first()
    assert r2["child_routing"]["status"] == "no_child_match"


def test_children_not_evaluated_without_root_match(spark):
    html = "<html><body><h1>Gamma</h1><p>first</p></body></html>"
    r = _run(spark, html, ROOT_A, CHILD_A1).first()
    assert r["children"] == []
    assert r["child_routing"] is None

