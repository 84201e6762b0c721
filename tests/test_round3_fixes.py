"""Round-3 regression tests for the round-2 ADVICE findings:

1. (streaming sessionization late-event merging: the operator was
   removed, and its tests with it);
2. text_near regex validation must be judged by the EXECUTING engine
   (java.util.regex), not Python ``re`` — Java-only syntax is accepted,
   Java-invalid or zero-width-in-Java patterns are refused;
3. (the manifest reader's string-type probe: the JSONL manifest reader
   was removed, and its test with it);
4. operators that persist self-join inputs must expose a release path
   so long-lived drivers don't accumulate cached partitions.
"""

import pytest

from fingerprint_spark.dsl.parser import parse_yaml
from fingerprint_spark.dsl.validate import ValidationError, validate_definition


def _near_def(anchor: str, value: str = "v[0-9]+"):
    return parse_yaml(
        f"""
fingerprint_id: x.v1
format: html
assertions:
  - name: near
    text_near:
      anchor: '{anchor}'
      value: '{value}'
      within_chars: 100
"""
    )


def test_text_near_java_only_syntax_accepted(spark):
    """\\h+ is Java-valid (horizontal whitespace), Python-re-invalid and
    NOT zero-width — must validate (the old Python-re guard refused it
    E_INVALID_YAML despite the executing engine running it fine)."""
    validate_definition(_near_def(r"\h+x"))


def test_text_near_zero_width_judged_by_java(spark):
    """a*+ (possessive star) is Python-re-invalid but Java-valid AND
    zero-width-capable — must be refused for the RIGHT reason (empty
    match desync), which only the Java probe can determine."""
    with pytest.raises(ValidationError, match="empty string"):
        validate_definition(_near_def("a*+"))


def test_text_near_java_invalid_refused(spark):
    with pytest.raises(ValidationError, match="does not compile"):
        validate_definition(_near_def("(unclosed"))


def test_text_near_plain_patterns_still_validate(spark):
    validate_definition(_near_def("Total"))
    with pytest.raises(ValidationError, match="empty string"):
        validate_definition(_near_def("a*"))


def test_tracked_persist_released(spark, sf_dir):
    """minhash dedup (q_neardup_clusters) persists its signature frame
    for the banded self-join; release_tracked() must drop it (ADVICE
    #5: repeated runs in a long-lived driver otherwise accumulate
    cached partitions). q_jaccard_adjacent — the original subject here
    — went persist-free in r6 (explode + single groupBy), so the
    lifecycle contract is pinned on the surviving track_persist user."""
    from fingerprint_spark.caching import release_tracked
    from fingerprint_spark.queries.dedup import q_neardup_clusters

    release_tracked(spark)  # clear anything earlier tests tracked
    jsc = spark.sparkContext._jsc
    n0 = jsc.getPersistentRDDs().size()
    q_neardup_clusters(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    n_pinned = jsc.getPersistentRDDs().size()
    assert n_pinned > n0
    released = release_tracked(spark)
    assert released >= 1
    # every TRACKED frame is dropped; localCheckpoint RDDs from the
    # connected-components loop are owned by Spark's ContextCleaner
    # (GC-driven), not by the tracking registry, so compare against the
    # pre-release count rather than absolute zero
    assert jsc.getPersistentRDDs().size() <= n_pinned - released
