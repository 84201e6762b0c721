"""Infer mode tests (reference infer_mode.rs model: corpus ->
deterministic rule; rule matches its own corpus)."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl.compiler import compile_rule
from fingerprint_spark.operators.infer import aggregate_candidates, infer_rule, observe
from fingerprint_spark.parse import parse_html_col


@pytest.fixture(scope="module")
def report_corpus(spark):
    """Homogeneous mini-corpus: same template, varying content."""
    htmls = []
    for i in range(12):
        rows = "".join(
            f"<tr><td>item{j}</td><td>{j * (i + 1)}</td><td>2024-01-{j + 1:02d}</td></tr>"
            for j in range(3 + i % 3)
        )
        htmls.append(
            (
                f"https://reports.example/{i}",
                f"""<html><body><h1>Quarterly Report</h1>
                <h2>Summary</h2><p>Revenue details for period {i} follow here.</p>
                <h2>Figures</h2>
                <table><tr><th>Item</th><th>Value</th><th>Date</th></tr>{rows}</table>
                </body></html>""",
            )
        )
    df = spark.createDataFrame(htmls, ["url", "html"])
    return df.withColumn("parsed", parse_html_col(F.col("html")))


def test_infer_learns_rule_matching_own_corpus(spark, report_corpus):
    d, text = infer_rule(report_corpus, "report.v1", min_confidence=0.8)
    types = {a.type for a in d.assertions}
    assert "heading_exists" in types
    assert "dominant_column_count" in types or "header_token_search" in types

    # the learned rule must match every doc in its training corpus
    env = {"url": F.col("url"), "parsed": F.col("parsed")}
    res = report_corpus.withColumn("r", compile_rule(d, env))
    assert res.filter(~F.col("r.matched")).count() == 0


def test_infer_deterministic(spark, report_corpus):
    _, y1 = infer_rule(report_corpus, "report.v1")
    _, y2 = infer_rule(report_corpus, "report.v1")
    assert y1 == y2  # same corpus => byte-identical YAML


def test_infer_rejects_heterogeneous_noise(spark, report_corpus):
    # candidates that only appear in a minority must not survive
    extra = spark.createDataFrame(
        [("https://x/1", "<html><body><h1>Unrelated</h1></body></html>")],
        ["url", "html"],
    ).withColumn("parsed", parse_html_col(F.col("html")))
    mixed = report_corpus.unionByName(extra)
    obs = observe(mixed)
    cands = aggregate_candidates(obs, min_confidence=0.95)
    heads = [
        c["params"]["text"]
        for c in cands["assertions"]
        if c["type"] == "heading_exists"
    ]
    assert "Unrelated" not in heads

