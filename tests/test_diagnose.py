"""Diagnostics tests: full evaluation + nearest-heading suggestions."""

from pyspark.sql import functions as F

from fingerprint_spark.dsl.parser import parse_yaml
from fingerprint_spark.dsl.registry import Registry
from fingerprint_spark.operators.diagnose import diagnose_rule
from fingerprint_spark.parse import parse_html_col
from fingerprint_spark.pipeline import revalidate

HTML = """<html><body>
<h1>Quarterly Repord</h1>
<h2>Sumary</h2><p>content line.</p>
</body></html>"""

RULE = """
fingerprint_id: qr.v1
format: html
assertions:
  - heading_exists:
      text: "Quarterly Report"
  - text_contains:
      value: "content line."
"""


def test_diagnose_nearest_heading(spark):
    df = spark.createDataFrame([("u", HTML)], ["url", "html"]).withColumn(
        "parsed", parse_html_col(F.col("html"))
    )
    d = parse_yaml(RULE)
    env = {"url": F.col("url"), "parsed": F.col("parsed")}
    row = df.select(diagnose_rule(d, env).alias("d")).first()["d"]
    assert row["result"]["matched"] is False
    assert row["result"]["failed_assertion"] == "heading_exists"
    # every assertion evaluated, not short-circuited (diagnose semantics)
    results = {r["name"]: r["passed"] for r in row["result"]["assertions"]}
    assert results == {"heading_exists": False, "text_contains": True}
    # 'did you mean' context: typo'd heading is the nearest
    sugg = row["context"]["suggestions"]
    assert len(sugg) == 1
    assert sugg[0]["nearest"]["text"] == "Quarterly Repord"
    assert sugg[0]["nearest"]["distance"] == 1
    assert "Quarterly Repord" in row["context"]["headings_found"]


def test_shipped_rules_load_and_run(spark):
    reg = Registry.load_dir("rules")
    d = reg.get("quarterly_report.v1")
    html = """<html><body><h1>Quarterly Report</h1>
    <h2>Summary</h2><p>Revenue details here.</p>
    <h2>Figures</h2><table><tr><th>A</th></tr><tr><td>1</td></tr></table>
    </body></html>"""
    df = spark.createDataFrame([("u", html)], ["url", "html"]).withColumn(
        "parsed", parse_html_col(F.col("html"))
    )
    out = revalidate(df, [d]).first()
    assert out["fingerprint"]["matched"] is True
    assert out["content_hash"] is not None


def test_diagnose_partial_matches_for_failed_text(spark):
    """Failed text targets list up to 5 hint-token partial matches from
    the document (assertions.rs:786-833 collect_partial_matches)."""
    html = """<html><body>
<h1>Annual Review</h1>
<p>The quarterly revenue figures improved.</p>
<p>Quarterly costs were flat.</p>
<p>Unrelated line.</p>
</body></html>"""
    rule = """
fingerprint_id: pm.v1
format: html
assertions:
  - name: wants_summary
    text_contains:
      value: "quarterly summary table"
"""
    df = spark.createDataFrame([("u", html)], ["url", "html"]).withColumn(
        "parsed", parse_html_col(F.col("html"))
    )
    d = parse_yaml(rule)
    env = {"url": F.col("url"), "parsed": F.col("parsed")}
    row = df.select(diagnose_rule(d, env).alias("d")).first()["d"]
    assert row["result"]["matched"] is False
    pm = row["context"]["partial_matches"]
    assert len(pm) == 1 and pm[0]["assertion"] == "wants_summary"
    # hint tokens (quarterly, summary, table): both quarterly lines hit
    hits = pm[0]["partial_matches"]
    assert "The quarterly revenue figures improved." in hits
    assert "Quarterly costs were flat." in hits
    assert "Unrelated line." not in hits


def test_diagnose_text_near_out_of_range_matches(spark):
    """Failed text_near lists value matches that EXIST but are beyond
    within_chars, with the gap distance (assertions.rs:556-595)."""
    gap = "x" * 60
    html = f"<html><body><p>Amount: {gap} 1234</p></body></html>"
    rule = """
fingerprint_id: nm.v1
format: html
assertions:
  - name: amount_near
    text_near:
      anchor: "Amount:"
      value: "[0-9]{4}"
      within_chars: 10
"""
    df = spark.createDataFrame([("u", html)], ["url", "html"]).withColumn(
        "parsed", parse_html_col(F.col("html"))
    )
    d = parse_yaml(rule)
    env = {"url": F.col("url"), "parsed": F.col("parsed")}
    row = df.select(diagnose_rule(d, env).alias("d")).first()["d"]
    assert row["result"]["matched"] is False
    nm = row["context"]["near_misses"]
    assert len(nm) == 1 and nm[0]["assertion"] == "amount_near"
    ctx = nm[0]["context"]
    assert ctx["anchor_found"] is True
    (m,) = ctx["matches_outside_range"]
    assert m["match"] == "1234"
    assert m["distance"] == 62  # space + 60 x's + space
    assert "Amount:" in m["anchor"]
