"""Trainable quality classifier (operators/quality_classifier.py)."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.operators.quality_classifier import (
    hashed_features_col,
    quality_score,
    train_quality_logreg,
)

GOOD_VOCAB = ("analysis method results evidence chapter theory careful "
              "study detailed discussion conclusion review").split()
SPAM_VOCAB = ("buy click free winner casino pills cheap offer now "
              "limited deal prize").split()


def _labeled(spark, n=200):
    rows = []
    for i in range(n):
        vocab = GOOD_VOCAB if i % 2 == 0 else SPAM_VOCAB
        words = [vocab[(i * 7 + j) % len(vocab)] for j in range(20)]
        rows.append((i, " ".join(words), 1 if i % 2 == 0 else 0))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_train_separable_and_score(spark):
    df = _labeled(spark)
    model = train_quality_logreg(df, dim=1024, epochs=8, lr=2.0)
    assert model["dim"] == 1024 and len(model["weights"]) <= 1024
    scored = quality_score(df, model)
    acc = scored.filter(
        ((F.col("quality_prob") > 0.5).cast("int") == F.col("label"))
    ).count() / df.count()
    assert acc >= 0.98, acc
    # probabilities are actually separated, not borderline
    means = scored.groupBy("label").agg(
        F.avg("quality_prob").alias("p")
    ).collect()
    p = {r["label"]: r["p"] for r in means}
    assert p[1] > 0.8 and p[0] < 0.2


def test_inference_plan_zero_shuffle_zero_python(spark):
    df = _labeled(spark, 50)
    model = train_quality_logreg(df, dim=256, epochs=2)
    plan = (
        quality_score(df, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hashed_features_deterministic_and_bounded(spark):
    row = spark.range(1).select(
        hashed_features_col(F.lit("the quick the quick fox"), 64).alias("f")
    ).head()
    assert len(row["f"]) == 3            # distinct words only
    assert all(0 <= v < 64 for v in row["f"])


def test_empty_training_set_refused(spark):
    df = _labeled(spark, 4).filter("doc_id < 0")
    with pytest.raises(ValueError, match="empty training set"):
        train_quality_logreg(df)


def test_generalizes_to_unseen_mixtures(spark):
    """Held-out docs mixing vocab lean the right way."""
    model = train_quality_logreg(_labeled(spark), dim=1024, epochs=8)
    test = spark.createDataFrame(
        [
            ("mostly_good", " ".join(GOOD_VOCAB * 2 + SPAM_VOCAB[:2])),
            ("mostly_spam", " ".join(SPAM_VOCAB * 2 + GOOD_VOCAB[:2])),
        ],
        "k string, text string",
    )
    got = {r["k"]: r["quality_prob"]
           for r in quality_score(test, model).collect()}
    assert got["mostly_good"] > 0.5 > got["mostly_spam"]


def test_null_text_scores_bias_like_training(spark):
    """Review finding r4c: NULL text must score sigmoid(bias) exactly
    like the empty doc, not a silently row-dropping NULL."""
    model = train_quality_logreg(_labeled(spark, 50), dim=256, epochs=2)
    df = spark.createDataFrame(
        [("null", None), ("empty", "")], "k string, text string"
    )
    got = {r["k"]: r["quality_prob"]
           for r in quality_score(df, model).collect()}
    assert got["null"] is not None
    assert got["null"] == got["empty"]


def test_xxh64_python_matches_spark(spark):
    """functions/xxh64.py must match F.xxhash64 bit-for-bit — the
    contract that lets the Arrow kernel share JVM feature ids."""
    from fingerprint_spark.functions.xxh64 import xxh64_signed

    words = ["hello", "a", "", "the quick brown fox jumps over the "
             "lazy dog and more text to cross the 32-byte stripe",
             "word123", "ünïcödé", "x" * 31,
             "y" * 32, "z" * 33]
    rows = spark.createDataFrame(
        [(w,) for w in words], "w string"
    ).select("w", F.xxhash64("w").alias("h")).collect()
    for r in rows:
        assert xxh64_signed(r["w"].encode("utf-8")) == r["h"], repr(r["w"])


def test_arrow_inference_parity_and_plan(spark):
    """quality_score_arrow must agree with the Column fold to float-
    sum reordering (1e-9) for BOTH hashers, treat NULL like empty, and
    keep the zero-shuffle single-Arrow-stage plan shape."""
    from fingerprint_spark.operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
        quality_score,
        quality_score_arrow,
        train_quality_logreg,
    )

    train = spark.createDataFrame(
        QUALITY_TRAIN_FIXTURE, "text string, label int"
    )
    docs = train.select(
        F.monotonically_increasing_id().alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(9001, None), (9002, ""),
             # NBSP/ideographic-space boundary tokens: F.trim strips
             # 0x20 ONLY, so the Python twin must use strip(' ') not
             # bare strip() (review finding r5) — these rows diverge
             # if either kernel strips unicode whitespace
             (9003, "hello\u00a0 spam words\u00a0"),
             (9004, "\u3000casino bonus\u3000"),
             (9005, "  leading and trailing spaces  ")],
            "doc_id long, text string"
        )
    )
    for hasher in ("xxhash", "md5"):
        model = train_quality_logreg(
            train, dim=512, epochs=4, lr=2.0, hasher=hasher
        )
        a = {r["doc_id"]: r["quality_prob"]
             for r in quality_score(docs, model, hasher=hasher).collect()}
        b = {r["doc_id"]: r["quality_prob"]
             for r in quality_score_arrow(
                 docs, model, hasher=hasher).collect()}
        assert a.keys() == b.keys()
        assert all(abs(a[k] - b[k]) < 1e-9 for k in a), hasher
        assert abs(b[9001] - b[9002]) < 1e-12  # NULL == empty
    # plan shape on a plain (non-union) input: one Arrow stage, no
    # shuffle (on the union input above the optimizer pushes the UDF
    # into each branch, which is still a single logical stage)
    out = quality_score_arrow(train.select("text"), model)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange hashpartitioning" not in plan
    import pytest

    with pytest.raises(ValueError, match="hasher"):
        quality_score_arrow(docs, model, hasher="sha1")


def test_tokenizer_python_twin_matches_column_on_adversarial_text(spark):
    """_tokenize_py must match words_array_col character-for-character
    on adversarial inputs: unicode whitespace at boundaries and
    between words (NBSP, U+3000, NEL, vertical tab is ASCII-\\s),
    case-folding edge chars (ß, İ, dotless ı), controls, and
    empties. One Spark job compares all cases at once."""
    from fingerprint_spark.operators.quality_classifier import (
        _tokenize_py,
        words_array_col,
    )

    cases = [
        "",
        " ",
        " ",
        "plain ascii words",
        "  leading  and   trailing  ",
        "hello world",           # NBSP inside a token pair
        " edge ",           # NBSP at boundaries
        "　wide　space　",
        "tab\tsplit\nnewline\x0bvtab",
        "NEL\x85joined",              # U+0085 is not ASCII \s
        "Straße GROSS İstanbul ıı",
        "MiXeD CaSe Token",
        "\x1cfile\x1dgroup\x1erecord\x1funit",  # C0 separators
        "ünïcödé wörds",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = {
        r["t"]: list(r["w"])
        for r in df.select(
            "t", words_array_col(F.col("t")).alias("w")
        ).collect()
    }
    for c in cases:
        assert got[c] == _tokenize_py(c), repr(c)


def test_xxh64_randomized_cross_check(spark):
    """300 seeded-random strings (mixed unicode planes, lengths 0-200
    crossing every XXH64 stripe boundary) hashed identically by the
    Python port and the JVM — one Spark job, not per-example."""
    import random

    from fingerprint_spark.functions.xxh64 import xxh64_signed

    rng = random.Random(0xF00D)
    pool = (
        "abcdefghijklmnopqrstuvwxyz0123456789 \t\n"
        "äöüßéñç中文字日本語한국어🙂🚀 　"
    )
    cases = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 201)))
        for _ in range(300)
    ]
    rows = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, w string"
    ).select("i", F.xxhash64("w").alias("h")).collect()
    got = {r["i"]: r["h"] for r in rows}
    for i, c in enumerate(cases):
        assert xxh64_signed(c.encode("utf-8")) == got[i], (i, repr(c[:20]))


def test_quality_model_validation_refusals():
    """A model file is validated where it is read: out-of-range weight
    keys (a negative key would silently write the dense vector's tail
    via Python negative indexing), dim <= 0, missing keys and an unknown
    hasher all raise ValueError — never corrupt silently or traceback
    deep inside inference."""
    import json

    from fingerprint_spark.operators.quality_classifier import (
        _model_dense,
        quality_model_from_json,
    )

    base = {"weights": {"0": 0.5, "7": -1.0}, "bias": 0.1, "dim": 8,
            "hasher": "md5"}
    m = quality_model_from_json(json.dumps(base))
    assert m == {"weights": {0: 0.5, 7: -1.0}, "bias": 0.1, "dim": 8,
                 "hasher": "md5"}
    # hasher defaults to xxhash, the train-classifier default
    no_hasher = {k: v for k, v in base.items() if k != "hasher"}
    assert quality_model_from_json(json.dumps(no_hasher))["hasher"] == (
        "xxhash")
    bad = [
        ({**base, "weights": {"-1": 1.0}}, "out of range"),
        ({**base, "weights": {"8": 1.0}}, "out of range"),
        ({**base, "dim": 0, "weights": {}}, "dim must be"),
        ({**base, "hasher": "sha1"}, "hasher"),
        ({k: v for k, v in base.items() if k != "dim"}, "malformed"),
        ({k: v for k, v in base.items() if k != "bias"}, "malformed"),
        ({k: v for k, v in base.items() if k != "weights"}, "malformed"),
        ({**base, "weights": [1.0, 2.0]}, "malformed"),
    ]
    for model, msg in bad:
        with pytest.raises(ValueError, match=msg):
            quality_model_from_json(json.dumps(model))
    with pytest.raises(ValueError, match="malformed"):
        quality_model_from_json("[1, 2]")
    with pytest.raises(ValueError, match="out of range"):
        _model_dense({"weights": {-1: 1.0}, "bias": 0.0, "dim": 8})
    with pytest.raises(ValueError, match="out of range"):
        _model_dense({"weights": {8: 1.0}, "bias": 0.0, "dim": 8})
