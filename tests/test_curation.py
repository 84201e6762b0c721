"""Corpus-curation operators: chunk dedup, decontamination, stratified
sampling, repetition profiling (operators/curation.py).

Covers the semantics the oracle rows can't see: partitioning
invariance (the first-occurrence rule must not depend on task layout),
empty/short-document edges, broadcast + narrow-plan shape assertions.
"""

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fingerprint_spark.operators.curation import (
    chunk_dedup,
    decontaminate,
    repetition_profile,
    sample_uniform_permille,
    stratified_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


# ---------------------------------------------------------------------------
# chunk_dedup
# ---------------------------------------------------------------------------


def test_chunk_dedup_drops_later_occurrences(spark):
    # doc 0 and doc 1 share the chunk "a b c"; doc 1 keeps only its tail
    df = _docs(spark, [(0, "a b c x y z"), (1, "a b c q r s")])
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(df, chunk_words=3).collect()
    }
    assert out[0]["n_chunks"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["text_dedup"] == "a b c x y z"
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_dedup"] == "q r s"


def test_chunk_dedup_first_occurrence_is_global_not_partition_local(spark):
    # same corpus, adversarial partitioning: result must be identical
    rows = [(i, f"dup chunk here tail{i} x y") for i in range(20)]
    df1 = _docs(spark, rows).repartition(1)
    df32 = _docs(spark, rows).repartition(32, "text")
    r1 = sorted(map(tuple, chunk_dedup(df1, chunk_words=3).collect()))
    r32 = sorted(map(tuple, chunk_dedup(df32, chunk_words=3).collect()))
    assert r1 == r32
    # only doc 0 keeps the shared leading chunk
    kept = {r[0]: r[2] for r in r1}
    assert kept[0] == 2 and all(kept[i] == 1 for i in range(1, 20))


def test_chunk_dedup_empty_and_whitespace_docs_survive(spark):
    df = _docs(spark, [(0, ""), (1, "   "), (2, "w")])
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_words=4).collect()}
    assert set(out) == {0, 1, 2}, "every input row must reach the output"
    # both blank docs chunk to [''] — the later one loses its only chunk
    assert out[0]["text_dedup"] == "" and out[0]["n_kept"] == 1
    assert out[1]["n_kept"] == 0 and out[1]["text_dedup"] == ""
    assert out[2]["text_dedup"] == "w"


def test_chunk_dedup_within_document_repeat_collapses(spark):
    df = _docs(spark, [(5, "p q r p q r p q r")])
    (row,) = chunk_dedup(df, chunk_words=3).collect()
    assert row["n_chunks"] == 3 and row["n_kept"] == 1
    assert row["text_dedup"] == "p q r"


def test_word_chunks_last_chunk_short(spark):
    from fingerprint_spark.operators.curation import _chunks_from_words, _words

    out = spark.range(1).select(
        _chunks_from_words(_words(F.lit("a b c d e")), 2).alias("c")
    ).head()["c"]
    assert out == ["a b", "c d", "e"]


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------


def test_decontaminate_flags_overlap_and_counts_distinct(spark):
    corpus = _docs(
        spark,
        [
            (0, "the quick brown fox jumps"),   # shares 3-grams w/ bench
            (1, "totally unrelated words here"),
            (2, "quick brown fox quick brown fox pad"),  # repeated hit
        ],
    )
    bench = _docs(spark, [(100, "the quick brown fox")])
    out = {
        r["doc_id"]: r
        for r in decontaminate(corpus, bench, n=3).collect()
    }
    assert out[0]["contaminated"] == 1 and out[0]["n_hits"] == 2
    assert out[1]["contaminated"] == 0 and out[1]["n_hits"] == 0
    # distinct shared grams, not occurrences: 'quick brown fox' once
    assert out[2]["n_hits"] == 1


def test_decontaminate_short_docs_yield_clean_rows(spark):
    corpus = _docs(spark, [(0, "one two"), (1, "")])
    bench = _docs(spark, [(9, "one two three")])
    out = {r["doc_id"]: r["contaminated"]
           for r in decontaminate(corpus, bench, n=3).collect()}
    assert out == {0: 0, 1: 0}


def test_decontaminate_plan_broadcasts_benchmark(spark):
    corpus = _docs(spark, [(i, f"w{i} x y z") for i in range(10)])
    bench = _docs(spark, [(0, "w0 x y z")])
    plan = (
        decontaminate(corpus, bench, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------


def test_sample_matches_md5_contract(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, source=f"src{i % 3}") for i in range(200)],
        "doc_id long, source string",
    )
    out = stratified_sample(df, "doc_id", "source", F.lit(500)).collect()
    for r in out:
        h = hashlib.md5(f"{r['doc_id']}:{r['source']}".encode()).hexdigest()
        u = int(h[:6], 16) % 1000
        assert u == r["u_mod"] and u < 500
    # and nothing under the threshold was missed
    expect = sum(
        1
        for i in range(200)
        if int(hashlib.md5(f"{i}:src{i % 3}".encode()).hexdigest()[:6], 16)
        % 1000
        < 500
    )
    assert len(out) == expect


def test_sample_is_rerun_and_partitioning_stable(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, source="s") for i in range(500)],
        "doc_id long, source string",
    )
    a = sorted(r["doc_id"] for r in
               stratified_sample(df, "doc_id", "source", F.lit(250)).collect())
    b = sorted(r["doc_id"] for r in
               stratified_sample(df.repartition(17), "doc_id", "source",
                                 F.lit(250)).collect())
    assert a == b and 50 < len(a) < 450


def test_sample_plan_is_narrow(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("source")
    )
    plan = (
        stratified_sample(df, "doc_id", "source", F.lit(100))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_sample_uniform_is_roughly_uniform(spark):
    df = spark.range(4000).select(
        F.col("id").alias("k"), F.lit("s").alias("st")
    )
    n = df.filter(
        sample_uniform_permille(F.col("k"), F.col("st")) < 100
    ).count()
    assert 320 <= n <= 480  # 10% +/- 4 sigma-ish


# ---------------------------------------------------------------------------
# repetition_profile
# ---------------------------------------------------------------------------


def test_repetition_top_ngram_and_tie_break(spark):
    df = _docs(spark, [(0, "b a b a b"), (1, "x y z w")])
    out = {r["doc_id"]: r for r in repetition_profile(df, n=2).collect()}
    # bigrams doc 0: 'b a' x2, 'a b' x2 -> tie, smallest wins
    assert out[0]["top_ngram"] == "a b" and out[0]["top_count"] == 2
    assert out[0]["dup_ngram_occ"] == 4 and out[0]["n_ngrams"] == 4
    # doc 1: all unique, deterministic smallest-by-(-cnt, g) first
    assert out[1]["top_count"] == 1 and out[1]["dup_ngram_occ"] == 0


def test_repetition_short_doc_absent(spark):
    df = _docs(spark, [(0, "solo"), (1, "two words")])
    ids = {r["doc_id"] for r in repetition_profile(df, n=2).collect()}
    assert ids == {1}


def test_word_ngrams_short_is_empty(spark):
    from fingerprint_spark.operators.curation import _ngrams_from_words, _words

    out = spark.range(1).select(
        _ngrams_from_words(_words(F.lit("a b")), 3).alias("g")
    ).head()["g"]
    assert out == []


# ---------------------------------------------------------------------------
# boilerplate_filter
# ---------------------------------------------------------------------------


def test_boilerplate_removes_all_occurrences_above_threshold(spark):
    from fingerprint_spark.operators.curation import boilerplate_filter

    # "nav bar x" appears in 3 docs (> max_docs=2): removed everywhere,
    # including from doc 0; "foot er y" appears in exactly 2: kept
    df = _docs(
        spark,
        [
            (0, "nav bar x body zero z"),
            (1, "nav bar x body one zz"),
            (2, "nav bar x foot er y"),
            (3, "foot er y body three w"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_filter(df, chunk_words=3, max_docs=2).collect()
    }
    assert out[0]["text_clean"] == "body zero z"
    assert out[1]["text_clean"] == "body one zz"
    assert out[2]["text_clean"] == "foot er y" and out[2]["n_kept"] == 1
    assert out[3]["text_clean"] == "foot er y body three w"


def test_boilerplate_plan_broadcasts_hot_set(spark):
    from fingerprint_spark.operators.curation import boilerplate_filter

    df = _docs(spark, [(i, f"common head here tail{i} a b") for i in range(9)])
    res = boilerplate_filter(df, chunk_words=3, max_docs=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # every doc loses the shared leading chunk
    assert all(r["n_kept"] == 1 for r in res.collect())


# ---------------------------------------------------------------------------
# mix_to_budget
# ---------------------------------------------------------------------------


def test_mix_to_budget_rates_and_cap(spark):
    from fingerprint_spark.operators.curation import mix_to_budget

    # stratum a: 8000 tokens w=1; stratum b: 100 tokens w=3
    rows = [Row(doc_id=i, source="a", tok=100) for i in range(80)]
    rows += [Row(doc_id=100 + i, source="b", tok=10) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, tok long")
    out = mix_to_budget(
        df, "doc_id", "source", F.col("tok"), F.when(
            F.col("source") == "a", F.lit(1)
        ).otherwise(F.lit(3)), 200,
    )
    rates = {r["source"]: r["rate_permille"]
             for r in out.select("source", "rate_permille").distinct().collect()}
    # budget = 20% of 8100 = 1620 tokens; share a = 1/4 -> 405 of 8000
    # -> 50 permille; share b = 3/4 -> 1215 of 100 -> capped at 1000
    assert rates == {"a": 50, "b": 1000}
    got = {r["doc_id"]: r["sampled"] for r in out.collect()}
    # capped stratum keeps everything
    assert all(got[100 + i] == 1 for i in range(10))
    import hashlib as _h
    for i in range(80):
        u = int(_h.md5(f"{i}:a".encode()).hexdigest()[:6], 16) % 1000
        assert got[i] == int(u < 50)


def test_mix_to_budget_plan_broadcasts_rates(spark):
    from fingerprint_spark.operators.curation import mix_to_budget

    df = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 4}", tok=10) for i in range(40)],
        "doc_id long, source string, tok long",
    )
    out = mix_to_budget(df, "doc_id", "source", F.col("tok"), F.lit(1), 500)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# plan shapes (exchange budgets — the per-operator lint-as-test)
# ---------------------------------------------------------------------------


def _n_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an executed AdaptiveSparkPlan prints Final AND Initial plans —
    # count only the final section or every exchange double-counts
    plan = plan.split("== Initial Plan ==")[0]
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ), plan


def test_chunk_dedup_exchange_budget(spark):
    # one shuffle for the hash-keyed ranking window, one for the
    # per-document reassembly — anything more is a regression
    df = _docs(spark, [(i, f"a b c tail{i} x y") for i in range(50)])
    n, plan = _n_exchanges(chunk_dedup(df, chunk_words=3))
    assert n == 2, plan


def test_decontaminate_exchange_budget(spark):
    # corpus side: ONE shuffle (the per-key count_distinct agg); the
    # benchmark side aggregates its tiny gram set before broadcast
    corpus = _docs(spark, [(i, f"w{i} x y z") for i in range(50)])
    bench = _docs(spark, [(0, "w0 x y z")])
    df = decontaminate(corpus, bench, n=3)
    df.collect()  # executed plan (AQE-final)
    n, plan = _n_exchanges(df)
    assert n == 2, plan
    # and the corpus-side shuffle carries only (key, partial count) —
    # no gram strings: the exchange feeding the final agg is keyed on
    # __key alone, never (__key, __g)
    import re

    assert "hashpartitioning(__key" in plan
    assert not re.search(r"hashpartitioning\(__key[^)]*__g", plan), plan


def test_repetition_profile_exchange_budget(spark):
    # (key, gram) count then per-key fold: both partial-aggregated, and
    # the second groupBy reuses the first's hash partitioning on the
    # shared prefix only if Spark plans it — assert the ceiling
    df = _docs(spark, [(i, "a b a b c d") for i in range(30)])
    n, plan = _n_exchanges(repetition_profile(df, n=2))
    assert n <= 2, plan


# ---------------------------------------------------------------------------
# empty-corpus robustness: schema-stable, zero rows, no crash
# ---------------------------------------------------------------------------


def test_curation_ops_on_empty_corpus(spark):
    from fingerprint_spark.operators.curation import (
        boilerplate_filter, mix_to_budget,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert chunk_dedup(empty).count() == 0
    assert chunk_dedup(empty).columns == [
        "doc_id", "n_chunks", "n_kept", "text_dedup"]
    assert boilerplate_filter(empty).count() == 0
    assert decontaminate(empty, empty).count() == 0
    assert repetition_profile(empty).count() == 0
    e2 = spark.createDataFrame([], "doc_id long, source string, tok long")
    assert mix_to_budget(e2, "doc_id", "source", F.col("tok"),
                         F.lit(1), 500).count() == 0


def test_graph_and_sink_on_empty(spark, tmp_path):
    from pyspark.sql import Row

    from fingerprint_spark.operators.components import pagerank
    from fingerprint_spark.sinks import write_training_shards
    from helpers import verify_shards

    nodes = spark.createDataFrame([Row(doc_id=0)]).limit(0)
    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(nodes, edges, iterations=2).count() == 0
    out = str(tmp_path / "empty_shards")
    m = write_training_shards(
        spark.createDataFrame([], "url string, text string"), out, "url", 4
    )
    assert m["total_rows"] == 0
    assert verify_shards(spark, out)["ok"]


# ---------------------------------------------------------------------------
# decontaminate broadcast-size guard (r3 VERDICT #6)
# ---------------------------------------------------------------------------


def test_decontam_strategy_threshold_both_sides():
    from fingerprint_spark.operators.curation import _decontam_strategy

    # bound = 2 * n * chars; n=13, 1 MiB cap
    cap = 1 << 20
    under = (cap // (2 * 13))          # exactly at the cap -> broadcast
    assert _decontam_strategy(13, under, cap) == "broadcast"
    assert _decontam_strategy(13, under + 1, cap) == "shuffle"
    assert _decontam_strategy(13, 0, cap) == "broadcast"


def test_decontaminate_shuffle_fallback_matches_broadcast(spark):
    corpus = _docs(
        spark,
        [
            (0, "the quick brown fox jumps"),
            (1, "totally unrelated words here"),
            (2, "quick brown fox quick brown fox pad"),
            (3, ""),
        ],
    )
    bench = _docs(spark, [(100, "the quick brown fox")])
    a = sorted(
        tuple(r)
        for r in decontaminate(
            corpus, bench, n=3, strategy="broadcast"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in decontaminate(
            corpus, bench, n=3, strategy="shuffle"
        ).collect()
    )
    assert a == b and len(a) == 4
    # auto mode picks shuffle under a tiny cap and still agrees
    c = sorted(
        tuple(r)
        for r in decontaminate(
            corpus, bench, n=3, max_broadcast_bytes=1
        ).collect()
    )
    assert c == a
    # and the tiny-cap plan really is the hash-key shuffle (no
    # broadcast of the gram table)
    plan = (
        decontaminate(corpus, bench, n=3, strategy="shuffle")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "xxhash64" in plan, plan


def test_decontaminate_bad_strategy_refused(spark):
    import pytest as _pytest

    corpus = _docs(spark, [(0, "a b c")])
    with _pytest.raises(ValueError, match="strategy"):
        decontaminate(corpus, corpus, n=3, strategy="nope")
