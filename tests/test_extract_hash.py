"""Extraction + content-hash tests, incl. the reference's hash-pair
stability invariant (tests/fixtures/html hash-pair triplets: same content
different markup => same hash; value change => different hash)."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.dsl.parser import parse_yaml
from fingerprint_spark.parse import parse_html_col
from fingerprint_spark.pipeline import revalidate

RULE = """
fingerprint_id: report.v1
format: html
assertions:
  - heading_regex:
      pattern: "Quarterly Report"
extract:
  - name: summary
    section:
      heading_pattern: "Summary"
  - name: figures
    table:
      heading_pattern: "Figures"
  - name: total
    text_match:
      anchor: "Total:"
      value: "[0-9]+"
      within_chars: 50
content_hash:
  algo: md5
  over: [summary, figures]
"""

BASE = """<html><body>
<h1>Quarterly Report</h1>
<h2>Summary</h2><p>Revenue grew strongly this quarter.</p>
<h2>Figures</h2>
<table><tr><th>Item</th><th>Value</th></tr>
<tr><td>Revenue</td><td>100</td></tr>
<tr><td>Costs</td><td>40</td></tr></table>
<p>Total: 60 units</p>
</body></html>"""

# same content, different markup: NBSP, comments, attribute noise, split text nodes
MARKUP_VARIANT = """<html><body >
<h1 class="title">Quarterly&#160;Report</h1><!-- noise -->
<h2>Summary</h2><p>Revenue grew   strongly this quarter.</p>
<h2 id="f">Figures</h2>
<table border="1"><tr><th>Item</th><th>Value</th></tr>
<tr><td>Revenue</td><td>100</td></tr>
<tr><td>Costs</td><td>40</td></tr></table>
<div>Total: 60 units</div>
</body></html>"""

VALUE_CHANGE = BASE.replace("<td>100</td>", "<td>999</td>")


def _run(spark, htmls):
    df = spark.createDataFrame(
        [(f"u{i}", h) for i, h in enumerate(htmls)], ["url", "html"]
    )
    df = df.withColumn("parsed", parse_html_col(F.col("html")))
    out = revalidate(df, [parse_yaml(RULE)])
    return {r["url"]: r for r in out.collect()}


def test_extracts_and_hash_pair_stability(spark):
    rows = _run(spark, [BASE, MARKUP_VARIANT, VALUE_CHANGE])
    base, variant, changed = rows["u0"], rows["u1"], rows["u2"]

    for r in (base, variant, changed):
        assert r["fingerprint"]["matched"] is True
    # extraction anchors present
    assert base["extracted"]["summary"] is not None
    assert '"row_count":2' in base["extracted"]["figures"]
    assert '"matched":"60"' in base["extracted"]["total"]
    # hash-pair invariants
    assert base["content_hash"].startswith("md5:")
    assert base["content_hash"] == variant["content_hash"], (
        "markup-only variant must hash identically"
    )
    # value change is inside the table ROWS — row_count unchanged, so the
    # anchor-only hash stays equal; but the scrubbed text differs.
    # (zero-retention: hashes cover anchors, not cell values)
    assert base["extracted"] == variant["extracted"]


def test_extract_miss_is_non_fatal(spark):
    html = """<html><body><h1>Quarterly Report</h1>
    <h2>Summary</h2><p>short.</p><p>No figures table here. Total: 5</p>
    </body></html>"""
    rows = _run(spark, [html])
    r = rows["u0"]
    assert r["fingerprint"]["matched"] is True
    assert r["extracted"]["figures"] is None  # missing key, not an error
    assert r["extracted"]["summary"] is not None
    assert r["content_hash"] is not None  # presence-tagged missing part


def test_content_hash_changes_on_anchor_change(spark):
    # moving the Summary section changes its start_line anchor -> new hash
    moved = BASE.replace(
        "<h2>Summary</h2>", "<p>preamble line</p><h2>Summary</h2>"
    )
    rows = _run(spark, [BASE, moved])
    assert rows["u0"]["content_hash"] != rows["u1"]["content_hash"]


def test_table_extract_reads_tables_under_first_matching_heading(spark):
    """extract.rs:122-159: the FIRST section heading the regex matches
    picks the heading, then the index-th table whose heading_ref EQUALS
    it. Both headings below match; the second table sits under the
    second heading, so index 1 is null."""
    from fingerprint_spark.operators.extract import extract_table

    html = """<html><body><h1>Report</h1>
<h2>Figures 2023</h2>
<table><tr><th>Item</th></tr><tr><td>a</td></tr></table>
<h2>Figures 2024</h2>
<table><tr><th>Item</th><th>Value</th></tr><tr><td>b</td><td>1</td></tr>
<tr><td>c</td><td>2</td></tr></table>
</body></html>"""
    df = spark.createDataFrame([(html,)], ["html"]).select(
        parse_html_col(F.col("html")).alias("parsed")
    )
    r = df.select(
        extract_table(F.col("parsed"), "^Figures", 0).alias("t0"),
        extract_table(F.col("parsed"), "^Figures", 1).alias("t1"),
        extract_table(F.col("parsed"), "2024$", 0).alias("t2024"),
    ).first()
    assert (r["t0"]["columns"], r["t0"]["row_count"]) == (1, 1)
    assert r["t1"] is None
    assert (r["t2024"]["columns"], r["t2024"]["row_count"]) == (2, 2)


def test_unmatched_has_no_extracts(spark):
    rows = _run(spark, ["<html><body><h1>Other Page</h1></body></html>"])
    r = rows["u0"]
    assert r["fingerprint"]["matched"] is False
    assert r["extracted"] is None
    assert r["content_hash"] is None


# ---------------------------------------------------------------------------
# blake3 content hash (reference-comparable format)
# ---------------------------------------------------------------------------


def test_blake3_known_vector_and_structure():
    """Single 0x00 byte matches the published official vector (exercises
    the full round function, permutation schedule, and flag placement);
    longer inputs are checked structurally (determinism, block/chunk
    boundary sensitivity) since vectors aren't reproducible offline."""
    from fingerprint_spark.functions.blake3_pure import blake3_hex

    assert blake3_hex(b"\x00") == (
        "2d3adedff11b61f14c886e35afa036736dcd87a74d27b5c1510225d0f592e213"
    )
    assert blake3_hex(b"") == (
        "af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262"
    )
    # multi-block chunk (65 bytes), multi-chunk (2049), odd tree (3073):
    # deterministic and sensitive to a 1-byte flip at every boundary
    for n in (63, 64, 65, 1023, 1024, 1025, 2048, 2049, 3072, 3073):
        data = bytes(i % 251 for i in range(n))
        h1 = blake3_hex(data)
        assert h1 == blake3_hex(data)
        flipped = bytearray(data or b"\x00")
        flipped[-1] ^= 1
        assert blake3_hex(bytes(flipped)) != h1
        assert blake3_hex(data + b"\x00") != h1


def test_blake3_content_hash_encoding_matches_reference_semantics():
    """content_hash.rs parity: key order inside a value never matters
    (recursive canonicalization), value changes do, presence tag differs
    from missing, and the format is blake3:<hex>."""
    from fingerprint_spark.functions.hashing import content_hash_bytes_blake3

    a = content_hash_bytes_blake3(
        [("t", '{"start_line":2,"end_line":9,"heading":"X"}'), ("u", None)]
    )
    b = content_hash_bytes_blake3(
        [("t", '{"heading":"X","end_line":9,"start_line":2}'), ("u", None)]
    )
    c = content_hash_bytes_blake3(
        [("t", '{"start_line":2,"end_line":10,"heading":"X"}'), ("u", None)]
    )
    d = content_hash_bytes_blake3(
        [("t", '{"start_line":2,"end_line":9,"heading":"X"}'), ("u", "{}")]
    )
    assert a == b
    assert a != c
    assert a != d
    assert a.startswith("blake3:") and len(a) == len("blake3:") + 64


def test_blake3_rule_hash_pairs_end_to_end(spark):
    """A blake3-algo rule over the committed hash-pair fixtures: markup
    variant hashes identically, value change differs, format is the
    reference's blake3:<hex>."""
    import os

    rule = parse_yaml("""
fingerprint_id: maint-log-b3.v1
format: html
assertions:
  - heading_exists:
      text: "Maintenance Log"
extract:
  - name: downtime
    section:
      heading_pattern: "(?i)^downtime summary$"
  - name: ratio
    text_match:
      anchor: "Downtime ratio is"
      value: "[0-9]+\\\\.[0-9]+%"
      within_chars: 40
content_hash:
  algo: blake3
  over: [downtime, ratio]
""")
    fix = os.path.join(os.path.dirname(__file__), "fixtures", "html")
    rows = [
        (fid, open(os.path.join(fix, f"{fid}.html")).read())
        for fid in ["hash_pair_base", "hash_pair_markup_variant",
                    "hash_pair_value_change"]
    ]
    df = spark.createDataFrame(rows, ["url", "html"]).withColumn(
        "parsed", parse_html_col(F.col("html"))
    )
    out = revalidate(df, [rule])
    h = {r["url"]: r["content_hash"] for r in out.collect()}
    assert all(v and v.startswith("blake3:") for v in h.values()), h
    assert h["hash_pair_base"] == h["hash_pair_markup_variant"]
    assert h["hash_pair_base"] != h["hash_pair_value_change"]


def test_extract_level_reproduces_oracle_checked_query(spark, sf_dir):
    """The rule-engine extraction (revalidate's match_levels) computes
    the same content_hash per document as the oracle-checked
    extract_hash query over its html scaffold: section ^Body$ plus
    text_match Doc/[0-9]+/400, md5 over both."""
    from fingerprint_spark.queries._common import _doc, _escape_html
    from fingerprint_spark.queries.rules import q_extract_hash

    rule = parse_yaml("""
fingerprint_id: extract-hash.v1
format: html
assertions:
  - heading_regex:
      pattern: "^Body$"
extract:
  - name: sec
    section:
      heading_pattern: "^Body$"
  - name: tm
    text_match:
      anchor: "Doc"
      value: "[0-9]+"
      within_chars: 400
content_hash:
  algo: md5
  over: [sec, tm]
""")
    html = F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><h2>Body</h2><p>"),
        F.replace(_escape_html(F.col("text")), F.lit("\n"), F.lit("</p><p>")),
        F.lit("</p></body></html>"),
    )
    parsed = _doc(spark, sf_dir).select(
        "doc_id",
        F.col("doc_id").cast("string").alias("url"),
        parse_html_col(html).alias("parsed"),
    )
    got = {
        r["doc_id"]: (r["matched"], r["content_hash"])
        for r in revalidate(parsed, [rule])
        .select("doc_id", "fingerprint.matched", "content_hash")
        .collect()
    }
    want = {
        r["doc_id"]: r["content_hash"]
        for r in q_extract_hash(spark, sf_dir).select(
            "doc_id", "content_hash"
        ).collect()
    }
    assert len(want) > 0 and set(got) == set(want)
    assert all(m for m, _h in got.values())
    assert {d: h for d, (_m, h) in got.items()} == want


# (text, anchor, value, within_chars, expected) — hand-written
TEXT_MATCH_CASES = [
    # no anchor
    ("Total 60 units", "Sum:", "[0-9]+", 50, None),
    # the value lies beyond the window
    ("Total: abcdefghij 60", "Total:", "[0-9]+", 5, None),
    # the value straddles the window's end: the match stops at it
    ("Total: 12345", "Total:", "[0-9]+", 4,
     {"line": 1, "char_offset": 7, "matched": "123"}),
    # the window crosses lines; line and offset count from the text start
    ("intro line\nTotal:\n  42 units", "Total:", "[0-9]+", 20,
     {"line": 3, "char_offset": 2, "matched": "42"}),
    # offsets count characters, a non-BMP one included
    ("Größe 😀 Résumé: naïve 7 Tage", "Résumé:", "[0-9]+", 20,
     {"line": 1, "char_offset": 22, "matched": "7"}),
    # only the FIRST anchor opens a window
    ("Total: none here. Total: 9", "Total:", "[0-9]+", 8, None),
    # ^ matches at the window's start, right after the anchor
    ("Total:42 and 7", "Total:", "^[0-9]+", 10,
     {"line": 1, "char_offset": 6, "matched": "42"}),
    ("Total: 42", "Total:", "^[0-9]+", 10, None),
    # the anchor ends the text
    ("abc Total:", "Total:", "[0-9]+", 10, None),
    ("", "Total:", "[0-9]+", 10, None),
]


def test_text_match_extract_matches_its_twin(spark):
    """extract_text_match runs Java regex in the JVM; its pure-Python
    twin _text_match_py pins the same semantics on hand-written cases:
    a missing anchor, a value outside or straddling the window, lines,
    non-ASCII text, a repeated anchor and a ``^`` in the value."""
    from fingerprint_spark.operators.extract import (
        _text_match_py, extract_text_match,
    )

    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(TEXT_MATCH_CASES)], "i int, text string"
    ).select("i", F.struct(F.col("text").alias("normalized")).alias("parsed"))
    got = F.coalesce(*[
        F.when(F.col("i") == i, extract_text_match(F.col("parsed"), a, v, w))
        for i, (_t, a, v, w, _e) in enumerate(TEXT_MATCH_CASES)
    ])
    out = df.select("i", got.alias("tm"))
    assert "ArrowEvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    rows = {r["i"]: r["tm"] for r in out.collect()}
    for i, (text, anchor, value, within, expected) in enumerate(TEXT_MATCH_CASES):
        tm = rows[i].asDict() if rows[i] is not None else None
        assert tm == expected, (text, tm)
        assert _text_match_py(text, anchor, value, within) == expected, text
