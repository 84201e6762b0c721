"""Round-6 optimization invariants: every rewrite that changed an
operator's internals gets a focused equivalence test here.

1. jaccard shingle kernel (functions/hashing.jaccard_shingle_hashes_col)
   must reproduce the JVM transform(xxhash64(slice)) fold's COUNT
   semantics — per-doc distinct size and pairwise intersect size — on
   an adversarial corpus (short docs, repeated shingles, duplicate
   neighbours, NULL text). Hash VALUES differ by design; only counts
   surface in the query.
2. the fused perplexity UDF (functions/perplexity._ppl_exact_udf) must
   produce the identical integer totals as the former explode ->
   broadcast join -> groupBy plan, including the non-ASCII fallback.
"""

import pytest
from pyspark.sql import functions as F


ADVERSARIAL_DOCS = [
    (0, "one"),                                 # < k words
    (1, "one two"),                             # < k words
    (2, "one two three"),                       # exactly k
    (3, "one two three"),                       # duplicate neighbour
    (4, "a b a b a b a b"),                     # repeated shingles
    (5, "a b a b a b a b"),
    (6, None),                                  # NULL text
    (7, "x y z w v u t s r q"),
    (8, "Mixed CASE Words and MORE mixed case words"),
    (9, "spaced    out     tokens here now ok"),  # runs of spaces
    (10, "tab\tsep\ntokens here now ok"),       # \t and \n separators
]


def _jvm_shingles(col):
    words = F.split(F.trim(F.lower(col)), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(F.slice(words, i + 1, 3)))
    )


def test_jaccard_kernel_count_parity(spark):
    from fingerprint_spark.functions.hashing import (
        jaccard_shingle_hashes_col,
    )

    df = spark.createDataFrame(ADVERSARIAL_DOCS, "doc_id long, text string")

    def pair_counts(sh_col):
        s = df.select("doc_id", sh_col.alias("sh"))
        a = s.select(
            F.col("doc_id").alias("k"), F.col("sh").alias("sa")
        )
        b = s.select(
            (F.col("doc_id") - 1).alias("k"), F.col("sh").alias("sb")
        )
        j = a.join(b, "k").select(
            "k",
            F.size("sa").alias("na"),
            F.size("sb").alias("nb"),
            F.size(F.array_intersect("sa", "sb")).alias("i"),
        )
        return {
            r["k"]: (r["na"], r["nb"], r["i"]) for r in j.collect()
        }

    jvm = pair_counts(_jvm_shingles(F.col("text")))
    arrow = pair_counts(jaccard_shingle_hashes_col(F.col("text")))
    assert jvm == arrow and len(jvm) == len(ADVERSARIAL_DOCS) - 1


def test_jaccard_query_matches_join_formulation(spark, tmp_path):
    """The explode+groupBy pair assembly must emit the identical row
    set as the former self-join, including the NULL-text pair rows."""
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(i, t, "src0", "en") for i, t in ADVERSARIAL_DOCS],
        "doc_id long, text string, source string, lang string",
    ).coalesce(1).write.parquet(d)

    from fingerprint_spark.entry_queries import q_jaccard_adjacent
    from fingerprint_spark.functions.hashing import (
        jaccard_shingle_hashes_col,
    )

    got = {
        r["doc_id"]: r["jaccard_permille"]
        for r in q_jaccard_adjacent(spark, str(tmp_path)).collect()
    }
    # reference: plain self-join over the same kernel output
    df = spark.read.parquet(d)
    s = df.select(
        "doc_id", jaccard_shingle_hashes_col(F.col("text")).alias("sh")
    )
    a = s.select(F.col("doc_id").alias("k"), F.col("sh").alias("sa"))
    b = s.select((F.col("doc_id") - 1).alias("k"), F.col("sh").alias("sb"))
    j = a.join(b, "k")
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    want = {
        r["k"]: r["jp"]
        for r in j.select(
            "k",
            F.floor(inter * 1000 / F.greatest(union, F.lit(1)))
            .cast("bigint")
            .alias("jp"),
        ).collect()
    }
    assert got == want and len(got) == len(ADVERSARIAL_DOCS) - 1
    assert got[4] == 1000  # duplicate neighbours (4,5) -> full overlap
    # NULL text (doc 6) is a singleton sentinel set (the JVM fold's
    # xxhash64(NULL)-is-the-seed behavior): zero overlap, never NULL
    assert got[5] == 0 and got[6] == 0


def test_sketch_md5_batch_matches_reference():
    """_sketch_md5_batch (batch-unique memoized md5 + numpy majority
    vote) must be bit-identical to mapping the per-doc reference
    sketch_md5_py over the same texts."""
    from fingerprint_spark.functions.hashing import (
        _sketch_md5_batch,
        sketch_md5_py,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "one",
        "one two",
        "",
        None,
        "a b a b a b a b",
        "dup dup dup dup",
        "Mixed CASE and NBSP separated tokens here",
        "tab\tand\nnewline separated words go here now",
    ]
    seeds = (0, 7, 15)
    sims, mins = _sketch_md5_batch(texts, seeds, 3)
    for i, t in enumerate(texts):
        ref_sim, ref_min = sketch_md5_py(t, seeds, 3)
        assert sims[i] == ref_sim, (i, t)
        assert mins[i] == ref_min, (i, t)


def _corpus_texts(sf_dir: str, limit: int | None = None) -> list:
    """The text column of the sf_dir documents table; skips the test
    when the table is not there."""
    import os

    import duckdb

    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no documents table at {path}")
    sql = f"SELECT text FROM '{path}'" + (f" LIMIT {limit}" if limit else "")
    return [r[0] for r in duckdb.connect().execute(sql).fetchall()]


# perplexity edge cases: empty, NULL, non-ASCII (incl. case mappings
# that change length), past the 4,000-char truncation, unseen grams
PPL_TEXTS = [
    "the quick brown fox", "", None, "x" * 5000, "café ü non-ascii",
    "İstanbul ẞ ﬃ ΣΑΣ", "日本語のテキスト", "a", "zz unseen qq",
    "many words " * 100, ("mixed ascii é " * 400)[:5000],
]


def test_score_text_fast_bit_identical(sf_dir):
    """score_text_fast_fn must return the EXACT floats of score_text —
    numpy cumsum accumulates sequentially, so the adds happen in the
    same order; the non-ASCII path falls back to score_text itself."""
    from fingerprint_spark.functions.perplexity import (
        score_text,
        score_text_fast_fn,
    )
    from fingerprint_spark.pipeline import default_ppl_model

    m = default_ppl_model()
    logp = m.as_dict()
    fast = score_text_fast_fn(m)
    texts = PPL_TEXTS + _corpus_texts(sf_dir)
    for t in texts:
        assert fast(t) == score_text(logp, m.order, m.backoff_logp, t), t


def test_text_chain_perplexity_gate_matches_scorers(spark, sf_dir):
    """The production ppl gate of quality_filter_text (perplexity_col,
    an Arrow UDF) must emit exactly score_text's float — and so
    score_text_fast_fn's, the flagship enrich scorer — per document,
    and drop exactly the documents whose reference score is above the
    threshold (unless an earlier stage already dropped them)."""
    from fingerprint_spark.functions.perplexity import (
        DEFAULT_PPL_THRESHOLD,
        score_text,
        score_text_fast_fn,
    )
    from fingerprint_spark.pipeline import default_ppl_model, quality_filter_text

    m = default_ppl_model()
    logp = m.as_dict()
    fast = score_text_fast_fn(m)
    texts = PPL_TEXTS + _corpus_texts(sf_dir, limit=300)
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "url string, text string"
    )
    rows = quality_filter_text(df, with_ppl=True).select(
        "url", "ppl", "lang_detected", "drop_reason"
    ).collect()
    assert len(rows) == len(texts)
    gated = []
    for r in rows:
        t = texts[int(r["url"])]
        ref = score_text(logp, m.order, m.backoff_logp, t)
        assert r["ppl"] == ref == fast(t), t
        if r["lang_detected"] == "en":
            gated.append(r["drop_reason"] == "perplexity")
            assert gated[-1] == (ref > DEFAULT_PPL_THRESHOLD), t
    assert any(gated) and not all(gated)  # both sides of the gate ran


def test_simhash_batch_bit_identical(sf_dir):
    """simhash64_batch_py must equal simhash64_py per doc."""
    from fingerprint_spark.functions.hashing import (
        simhash64_batch_py,
        simhash64_py,
    )

    texts = [
        "", None, "one", "one two", "one two three",
        "a b a b a b", "Mixed CASE words", "nbsp separated words",
    ] + _corpus_texts(sf_dir, limit=300)
    got = simhash64_batch_py(texts, 3)
    want = [simhash64_py(t or "", 3) for t in texts]
    assert got == want


def test_fused_perplexity_matches_join_plan(spark):
    """_ppl_exact_udf's integer totals must be bit-identical to the
    former explode -> broadcast join -> groupBy formulation, and the
    non-ASCII fallback must agree with the numpy LUT fast path."""
    from fingerprint_spark.entry_queries import (
        _PPL_ORDER,
        _ppl_micro_model,
    )
    from fingerprint_spark.functions.perplexity import ppl_exact_col

    micro, backoff_micro, model = _ppl_micro_model()
    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, None),
        (3, "zzz unseen grams only qqq"),
        (4, "café naïve résumé — non-ascii fallback"),
        (5, "x" * 5000),  # truncation at 4000 chars
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    padded = df.select(
        "doc_id",
        F.concat(
            F.lit("\x02" * (_PPL_ORDER - 1)),
            F.substring(
                F.lower(F.coalesce(F.col("text"), F.lit(""))), 1, 4000
            ),
            F.lit("\x03"),
        ).alias("__s"),
    )
    fused = {
        r["doc_id"]: (r["r"]["logp_micro_total"], r["r"]["n_grams"])
        for r in padded.select(
            "doc_id",
            ppl_exact_col(
                F.col("__s"), model, tuple(sorted(micro.items())),
                backoff_micro,
            ).alias("r"),
        ).collect()
    }
    # reference: the former join plan
    model_df = spark.createDataFrame(
        sorted(micro.items()), "gram string, lp_micro long"
    )
    grams = padded.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence({_PPL_ORDER}, length(__s)), "
                f"i -> substring(__s, i - {_PPL_ORDER - 1}, {_PPL_ORDER}))"
            )
        ).alias("gram"),
    )
    want = {
        r["doc_id"]: (r["t"], r["n"])
        for r in grams.join(F.broadcast(model_df), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("lp_micro"), F.lit(backoff_micro)))
            .cast("bigint")
            .alias("t"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .collect()
    }
    assert fused == want and len(fused) == len(texts)
