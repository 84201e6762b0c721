"""text_near gap semantics (assertions.rs:1691-1740) and the toxicity
scrub."""

import pytest

from fingerprint_spark.operators.assertions import _near_match


def _near_agrees(spark, text, anchor, value, within, expected):
    """_near_match gives ``expected``, and production text_near over a
    one-row DataFrame gives the same."""
    from pyspark.sql import functions as F

    from fingerprint_spark.operators.assertions import text_near

    assert _near_match(text, anchor, value, within) is expected
    parsed = F.struct(F.lit(text).alias("normalized"))
    got = spark.range(1).select(
        text_near(parsed, anchor, value, within).alias("near")
    ).head()["near"]
    assert got is expected


class TestTextNear:
    def test_bidirectional(self, spark):
        # value BEFORE anchor also matches (assertions.rs: bidirectional)
        _near_agrees(spark, "1234 then Anchor", "Anchor", r"\d{4}", 8, True)
        _near_agrees(spark, "Anchor then 1234", "Anchor", r"\d{4}", 8, True)

    def test_any_anchor_occurrence(self, spark):
        t = "Anchor far away " + "x" * 100 + " Anchor 1234"
        _near_agrees(spark, t, "Anchor", r"\d{4}", 5, True)

    def test_whitespace_gap_under_10_counts_as_zero(self, spark):
        # 9 whitespace chars between anchor and value: distance 0
        t = "Anchor" + " " * 9 + "1234"
        _near_agrees(spark, t, "Anchor", r"\d{4}", 0, True)
        # 8 chars but not whitespace-only: distance 8 > 0
        _near_agrees(spark, "Anchor________1234", "Anchor", r"\d{4}", 0, False)

    def test_gap_10_or_more_is_counted(self, spark):
        t = "Anchor" + " " * 10 + "1234"
        _near_agrees(spark, t, "Anchor", r"\d{4}", 9, False)
        _near_agrees(spark, t, "Anchor", r"\d{4}", 10, True)

    def test_overlap_is_distance_zero(self, spark):
        _near_agrees(spark, "xAB1234x", "AB\\d+", r"\d{4}", 0, True)


@pytest.mark.parametrize(
    "text,anchor,value,within,expected",
    [
        ("", "Anchor", r"\d{4}", 100, False),
        ("Anchor1234", r"Anchor\d", r"\d{4}", 0, True),
        ("AB1234", r"AB\d+", r"\d{2}", 0, True),
        ("aaa1", "aa", "a1", 0, True),
        ("Anchor" + " " * 9 + "1234", "Anchor", r"\d{4}", 0, True),
        ("1234" + " " * 9 + "Anchor", "Anchor", r"\d{4}", 0, True),
        ("Anchor\t\n" + " " * 7 + "1234", "Anchor", r"\d{4}", 0, True),
        ("Anchor" + " " * 10 + "1234", "Anchor", r"\d{4}", 0, False),
        ("Anchor" + " " * 10 + "1234", "Anchor", r"\d{4}", 10, True),
        ("1234" + " " * 10 + "Anchor", "Anchor", r"\d{4}", 9, False),
    ],
    ids=[
        "empty-text",
        "overlap-value-inside-anchor",
        "overlap-shared-digits",
        "overlap-adjacent-repeats",
        "ws-gap-9",
        "ws-gap-9-value-first",
        "mixed-ws-gap-9",
        "ws-gap-10-within-0",
        "ws-gap-10-within-10",
        "ws-gap-10-value-first",
    ],
)
def test_text_near_edge_cases_match_reference(
    spark, text, anchor, value, within, expected
):
    _near_agrees(spark, text, anchor, value, within, expected)


def test_text_near_column_matches_python_reference(spark):
    """The JVM Column implementation of text_near must agree with the
    pure-Python reference (_near_match) across the semantic edge cases:
    bidirectionality, any-occurrence, the <10-char whitespace-gap rule,
    overlap, multi-match offset arithmetic, and empty/missing matches."""
    from pyspark.sql import functions as F

    from fingerprint_spark.operators.assertions import text_near

    cases = [
        "1234 then Anchor",
        "Anchor then 1234",
        "Anchor far away " + "x" * 100 + " Anchor 1234",
        "Anchor" + " " * 9 + "1234",
        "Anchor________1234",
        "Anchor" + " " * 10 + "1234",
        "xAB1234x",
        "",
        "no matches at all",
        "1234",
        "Anchor",
        "Anchor Anchor 77 Anchor 1234 Anchor",
        "a 1234 b Anchor c 5678 d",
        "Anchor\n\t 1234",          # mixed whitespace gap
        "Anchor" + "z" * 50 + "1234",
    ]
    for within in (0, 5, 10, 60):
        df = spark.createDataFrame([(t,) for t in cases], ["normalized"])
        parsed = F.struct(F.col("normalized").alias("normalized"))
        got = [
            r["near"]
            for r in df.select(
                text_near(parsed, "Anchor", r"\d{4}", within).alias("near")
            ).collect()
        ]
        want = [_near_match(t, "Anchor", r"\d{4}", within) for t in cases]
        assert got == want, f"within={within}: {list(zip(cases, got, want))}"


class TestScrubToxicity:
    def test_toxicity_masked_and_counted(self, spark):
        from pyspark.sql import functions as F
        from fingerprint_spark.functions.scrub import scrub_counts, scrub_text

        df = spark.createDataFrame(
            [("that DAMN thing is stupid but helloworld stays",)], ["text"]
        )
        out = df.select(
            scrub_text(F.col("text")).alias("s"),
            scrub_counts(F.col("text")).alias("c"),
        ).first()
        assert out["s"] == "that <MASKED> thing is <MASKED> but helloworld stays"
        assert out["c"]["toxicity"] == 2
