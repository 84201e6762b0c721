"""End-to-end quality-filter pipeline tests: byte-identity, F1, determinism.

Model: reference tests/golden_output_determinism.rs (same input => same
bytes) and the BASELINE.json metric (keep/drop F1 >= 0.99 + byte-identical
scrubbed text vs reference labels).
"""

from pathlib import Path

from pyspark.sql import functions as F

from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.dsl.parser import parse_yaml
from fingerprint_spark.pipeline import quality_filter

RULES_DIR = Path(__file__).resolve().parent.parent / "rules"

N_DOCS = 400


def _run(spark, n=N_DOCS):
    df = generate_corpus(spark, n, partitions=8)
    return quality_filter(df)


def test_extracted_text_byte_identical(spark):
    """extract stage output must equal the ground-truth text per url."""
    out = _run(spark)
    mismatch = out.filter(F.col("extracted_text") != F.col("text")).count()
    assert mismatch == 0


def test_keep_drop_f1(spark):
    """F1 >= 0.99 vs the corpus ground-truth labels."""
    out = _run(spark).select("url", "keep", "drop_reason")
    labels = generate_corpus(spark, N_DOCS, partitions=8, with_labels=True).select(
        "url", "expected_keep", "page_class"
    )
    joined = out.join(labels, "url")
    agg = joined.agg(
        F.sum(F.when(F.col("keep") & F.col("expected_keep"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("keep") & ~F.col("expected_keep"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("keep") & F.col("expected_keep"), 1).otherwise(0)).alias("fn"),
    ).first()
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-9)
    if f1 < 0.99:
        bad = (
            joined.filter(F.col("keep") != F.col("expected_keep"))
            .select("url", "page_class", "keep", "drop_reason")
            .limit(20)
            .collect()
        )
        raise AssertionError(f"F1={f1:.4f} < 0.99; misclassified sample: {bad}")
    assert f1 >= 0.99


def test_spam_dropped_by_template(spark):
    out = _run(spark)
    labels = generate_corpus(spark, N_DOCS, partitions=8, with_labels=True).select(
        "url", "page_class"
    )
    spam = out.join(labels, "url").filter(F.col("page_class") == "spam")
    n_spam = spam.count()
    assert n_spam > 0
    kept_spam = spam.filter(F.col("keep")).count()
    assert kept_spam == 0
    # the vast majority must be caught by the TEMPLATE stage specifically
    by_template = spam.filter(F.col("drop_reason").startswith("template:")).count()
    assert by_template >= 0.9 * n_spam


def test_pii_scrubbed(spark):
    out = _run(spark)
    labels = generate_corpus(spark, N_DOCS, partitions=8, with_labels=True).select(
        "url", "page_class"
    )
    pii = out.join(labels, "url").filter(F.col("page_class") == "pii")
    assert pii.count() > 0
    # all pii docs kept, scrubbed_text differs, counters fired
    assert pii.filter(~F.col("keep")).count() == 0
    unscrubbed = pii.filter(F.col("scrubbed_text") == F.col("extracted_text")).count()
    assert unscrubbed == 0
    no_count = pii.filter(
        (F.col("scrub.email") + F.col("scrub.phone") + F.col("scrub.ssn")) == 0
    ).count()
    assert no_count == 0
    # scrubbed text must not contain raw emails
    leaked = pii.filter(
        F.col("scrubbed_text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ).count()
    assert leaked == 0


def test_deterministic_across_runs_and_partitioning(spark):
    """Same input => identical verdict + scrubbed bytes, regardless of
    partitioning (golden_output_determinism.rs analog)."""
    a = (
        _run(spark, 200)
        .select("url", "keep", "drop_reason", "scrubbed_text")
        .withColumn("h", F.md5(F.concat_ws("\x1f", "url", "keep", "scrubbed_text")))
    )
    b = (
        quality_filter(generate_corpus(spark, 200, partitions=3))
        .select("url", "keep", "drop_reason", "scrubbed_text")
        .withColumn("h", F.md5(F.concat_ws("\x1f", "url", "keep", "scrubbed_text")))
    )
    ha = sorted(r["h"] for r in a.select("h").collect())
    hb = sorted(r["h"] for r in b.select("h").collect())
    assert ha == hb


def test_zero_shuffle_plan(spark):
    """The map-only chain must contain no Exchange in the physical plan."""
    out = _run(spark, 50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_one_python_stage_even_with_text_near_rules(spark):
    """text_near is a pure Column expression: a rule set with several
    text_near assertions must keep the plan at EXACTLY one
    ArrowEvalPython (the enrich UDF) — not one per assertion instance."""
    from fingerprint_spark.dsl.model import FingerprintDefinition, make_clause
    from fingerprint_spark.dsl.registry import builtin_rules

    tn_rules = [
        FingerprintDefinition(
            fingerprint_id=f"tn{i}.v1",
            format="html",
            assertions=(
                make_clause(
                    "text_near",
                    f"a{i}",
                    {"anchor": f"Anchor{i}", "value": r"\d+", "within_chars": 40},
                ),
            ),
            source="builtin",
            source_hash=f"md5:tn{i}",
        )
        for i in range(3)
    ]
    out = quality_filter(
        generate_corpus(spark, 40, partitions=2),
        rules=list(builtin_rules()) + tn_rules,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Exchange" not in plan, plan


def test_revalidate_is_incremental_no_reparse(spark, tmp_path):
    """New template version over stored parsed structs: no Python stage,
    no shuffle in the plan; verdicts change with the new rules."""
    from fingerprint_spark.dsl.model import make_clause, FingerprintDefinition
    from fingerprint_spark.pipeline import revalidate

    out = quality_filter(generate_corpus(spark, 150, partitions=4))
    stored = str(tmp_path / "stored")
    out.select("url", "warc_ts", "parsed").write.parquet(stored)

    v2_rules = [
        FingerprintDefinition(
            fingerprint_id="spam_any.v2",
            format="html",
            assertions=(
                make_clause(
                    "text_regex", "spam",
                    {"pattern": r"(?i)(buy cheap|casino|replica watches|weight loss)"},
                ),
            ),
            source="builtin",
            source_hash="md5:v2",
        )
    ]
    re_df = revalidate(spark.read.parquet(stored), v2_rules)
    plan = re_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan  # no reparse
    assert "Exchange" not in plan         # no shuffle
    # extracts stay in the JVM too (section, text_match and table): the
    # flagship chain keeps its one Python stage, revalidate has none
    maint = parse_yaml((RULES_DIR / "maint-log.v1.fp.yaml").read_text())
    for df, n_python in ((revalidate(spark.read.parquet(stored), [maint]), 0),
                         (quality_filter(generate_corpus(spark, 20), [maint]), 1)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == n_python, plan
    n_match = re_df.filter(F.col("fingerprint.matched")).count()
    assert n_match > 0
    assert re_df.filter(
        F.col("fingerprint.matched")
        & (F.col("fingerprint.fingerprint_id") == "spam_any.v2")
    ).count() == n_match
