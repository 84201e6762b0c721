"""Trained fastText-shaped langid: cross-engine training bit-identity,
Column-vs-Arrow inference parity, holdout accuracy, plan discipline.

The north rule names "fastText langid"; this operator is the TRAINED
tier (hashed char-n-gram multinomial softmax — the fastText lid
architecture) alongside the marker-word Column scorer that remains the
zero-Python pipeline default."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.operators.langid_classifier import (
    LANGID_TRAIN_FIXTURE,
    gram_feature_ids_py,
    gram_features_col,
    grams_py,
    langid_classify,
    langid_classify_arrow,
    train_langid_softmax,
    train_langid_softmax_py,
)

#: held-out sentences (never trained on) for the accuracy gate
LANGID_HOLDOUT_FIXTURE: list[tuple[str, str]] = [
    ("the children played in the garden until the sun went down "
     "and their mother called them inside", "en"),
    ("please read the instructions carefully before you start the "
     "machine for the first time", "en"),
    ("the train to the coast leaves every hour from the main "
     "station during the summer months", "en"),
    ("die kinder spielten im garten bis die sonne unterging und "
     "ihre mutter sie ins haus rief", "de"),
    ("bitte lesen sie die anweisungen sorgfältig bevor sie die "
     "maschine zum ersten mal starten", "de"),
    ("der zug zur küste fährt im sommer jede stunde vom "
     "hauptbahnhof ab", "de"),
    ("les enfants jouaient dans le jardin jusqu'au coucher du "
     "soleil quand leur mère les appela", "fr"),
    ("veuillez lire attentivement les instructions avant de "
     "démarrer la machine pour la première fois", "fr"),
    ("le train pour la côte part toutes les heures de la gare "
     "principale pendant l'été", "fr"),
    ("los niños jugaban en el jardín hasta que se puso el sol y "
     "su madre los llamó adentro", "es"),
    ("por favor lea las instrucciones con atención antes de "
     "encender la máquina por primera vez", "es"),
    ("el tren a la costa sale cada hora desde la estación "
     "principal durante el verano", "es"),
]

#: strings that stress every contract edge the two engines must share:
#: NULL, empty, whitespace-only, accents (lower() beyond ASCII), NBSP
#: and wide spaces (NOT collapsed — grams are char-level, no tokenizer),
#: quotes, an over-2000-char text (truncation point), and CJK.
ADVERSARIAL_TEXTS = [
    None,
    "",
    "   ",
    "École élève ÉTÉ à côté ÜBER GRÜN straße niño mañana",
    "nbsp here and wide　spaces",
    "it's got 'quotes' and\ttabs\nand newlines",
    "the committee reviewed the evidence " * 80,  # > 2000 chars
    "日本語の文書",
]


@pytest.mark.parametrize("hasher", ["xxhash", "md5"])
def test_langid_gram_features_python_twin(spark, hasher):
    """gram_features_col and gram_feature_ids_py must produce the SAME
    distinct feature ids in the SAME first-occurrence order — the
    hashing-trick contract that lets Column-trained models score in the
    Arrow kernel (and vice versa)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)],
        "id long, text string",
    )
    got = {
        r["id"]: list(r["f"])
        for r in df.select(
            "id", gram_features_col(F.col("text"), 256, 3, hasher).alias("f")
        ).collect()
    }
    for i, t in enumerate(ADVERSARIAL_TEXTS):
        assert got[i] == gram_feature_ids_py(t, 256, 3, hasher), (
            f"gram-id divergence on {t!r}"
        )


def test_langid_grams_truncation_and_padding():
    """The Python gram extractor's contract shape: (n-1)+1 space pads,
    2000-char truncation, NULL == empty."""
    assert grams_py(None) == grams_py("") == ["   "]
    long = "x" * 5000
    # 2 pad + 2000 kept + 1 pad = 2003 chars -> 2001 trigrams
    assert len(grams_py(long)) == 2001
    assert grams_py("ab") == ["  a", " ab", "ab "]


@pytest.mark.parametrize("hasher", ["xxhash", "md5"])
def test_langid_weights_cross_engine_identical(spark, hasher):
    """The trainer contract: Spark softmax GD with per-epoch HALF_UP
    gradient rounding learns weights BIT-IDENTICAL to the pure-Python
    twin — partition-invariant, cross-engine reproducible (the
    quality-classifier contract generalized to L classes)."""
    df = spark.createDataFrame(
        LANGID_TRAIN_FIXTURE, "text string, lang string"
    ).repartition(7)  # deliberately awkward partitioning
    m_spark = train_langid_softmax(
        df, dim=512, epochs=6, grad_round_dp=6, hasher=hasher
    )
    m_py = train_langid_softmax_py(
        LANGID_TRAIN_FIXTURE, dim=512, epochs=6, grad_round_dp=6,
        hasher=hasher,
    )
    assert m_spark["classes"] == m_py["classes"] == ["de", "en", "es", "fr"]
    assert m_spark["bias"] == m_py["bias"]
    assert m_spark["weights"] == m_py["weights"]


def test_langid_holdout_accuracy(spark):
    """Twin-trained model (bit-identical to the Spark trainer per the
    test above) classifies held-out sentences: require >= 11/12 on the
    never-trained fixture at default dim."""
    m = train_langid_softmax_py(LANGID_TRAIN_FIXTURE, dim=2048, epochs=8)
    hold = spark.createDataFrame(
        LANGID_HOLDOUT_FIXTURE, "text string, lang string"
    )
    rows = (
        langid_classify(hold, m)
        .select("lang", F.col("lang_pred.lang").alias("pred"))
        .collect()
    )
    acc = sum(1 for r in rows if r["lang"] == r["pred"]) / len(rows)
    assert acc >= 11 / 12, f"holdout accuracy {acc}"


@pytest.mark.parametrize("hasher", ["xxhash", "md5"])
def test_langid_column_vs_arrow_parity(spark, hasher):
    """The zero-Python Column fold and the Arrow kernel must agree on
    the predicted language EXACTLY and on the probability to 1e-9,
    including every adversarial edge (NULL/empty/accents/truncation)."""
    m = train_langid_softmax_py(
        LANGID_TRAIN_FIXTURE, dim=512, epochs=6, hasher=hasher
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)]
        + [(100 + i, t) for i, (t, _) in enumerate(LANGID_HOLDOUT_FIXTURE)],
        "id long, text string",
    )
    col = {
        r["id"]: (r["l"], r["p"])
        for r in langid_classify(df, m)
        .select(
            "id",
            F.col("lang_pred.lang").alias("l"),
            F.col("lang_pred.prob").alias("p"),
        )
        .collect()
    }
    arrow = {
        r["id"]: (r["l"], r["p"])
        for r in langid_classify_arrow(df, m)
        .select(
            "id",
            F.col("lang_pred.lang").alias("l"),
            F.col("lang_pred.prob").alias("p"),
        )
        .collect()
    }
    assert set(col) == set(arrow)
    for i in col:
        assert col[i][0] == arrow[i][0], f"lang mismatch on id {i}"
        assert abs(col[i][1] - arrow[i][1]) <= 1e-9


def test_langid_null_empty_symmetric(spark):
    """NULL text and empty text produce the identical prediction (both
    reduce to the single all-space gram) — the training/inference
    symmetry contract."""
    m = train_langid_softmax_py(LANGID_TRAIN_FIXTURE, dim=512, epochs=4)
    rows = langid_classify(
        spark.createDataFrame([(0, None), (1, "")], "id long, text string"),
        m,
    ).select("id", "lang_pred").collect()
    by_id = {r["id"]: r["lang_pred"] for r in rows}
    assert by_id[0] == by_id[1]


def test_langid_inference_plan_discipline(spark):
    """Column inference: ZERO Exchange, ZERO joins, zero Python (the
    corpus never moves). Arrow inference: exactly one ArrowEvalPython,
    still zero Exchange / joins."""
    m = train_langid_softmax_py(LANGID_TRAIN_FIXTURE, dim=256, epochs=2)
    df = spark.createDataFrame([("hello world",)], "text string")
    plan_col = (
        langid_classify(df, m)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan_col
    assert "Join" not in plan_col
    assert "BatchEvalPython" not in plan_col
    assert "ArrowEvalPython" not in plan_col
    plan_arrow = (
        langid_classify_arrow(df, m)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan_arrow
    assert "Join" not in plan_arrow
    assert plan_arrow.count("ArrowEvalPython") == 1


def test_langid_trainer_refusals(spark):
    empty = spark.createDataFrame([], "text string, lang string")
    with pytest.raises(ValueError, match="empty training set"):
        train_langid_softmax(empty)
    with pytest.raises(ValueError, match="empty training set"):
        train_langid_softmax_py([])
    with pytest.raises(ValueError, match="unknown feature hasher"):
        gram_features_col(F.lit("x"), 64, 3, "fnv")
    with pytest.raises(ValueError, match="unknown feature hasher"):
        gram_feature_ids_py("x", 64, 3, "fnv")


def test_langid_micro_matches_double_path(spark):
    """langid_classify_micro_arrow (the fixed-point oracle contract:
    integer margin sums, exact in any engine) must agree with the
    double-path Column fold: language EXACTLY, probability within the
    1e-6 weight quantization (margins shift <= n_ids * 0.5e-6), on
    adversarial edges + holdout — with a zero-Exchange plan holding one
    Python stage."""
    from fingerprint_spark.operators.langid_classifier import (
        langid_classify_micro_arrow,
    )

    m = train_langid_softmax_py(
        LANGID_TRAIN_FIXTURE, dim=512, epochs=6, hasher="md5"
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)]
        + [(100 + i, t) for i, (t, _) in enumerate(LANGID_HOLDOUT_FIXTURE)],
        "id long, text string",
    )

    def collect(fn):
        return {
            r["id"]: (r["l"], r["p"])
            for r in fn(df, m)
            .select(
                "id",
                F.col("lang_pred.lang").alias("l"),
                F.col("lang_pred.prob").alias("p"),
            )
            .collect()
        }

    dbl, mic = collect(langid_classify), collect(langid_classify_micro_arrow)
    assert set(dbl) == set(mic)
    for i in dbl:
        assert dbl[i][0] == mic[i][0], f"lang mismatch on id {i}"
        assert abs(dbl[i][1] - mic[i][1]) <= 1e-3

    plan = (
        langid_classify_micro_arrow(df, m)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_langid_model_validation_refusals(spark):
    """Review-pass contracts: out-of-range weight indices (negative
    keys would silently corrupt the dense matrix tail via Python
    negative indexing), empty class lists and NULL training labels must
    all fail LOUDLY with ValueError — never corrupt silently or
    traceback deep inside inference."""
    import json

    from fingerprint_spark.operators.langid_classifier import (
        _model_dense_flat,
        langid_model_from_json,
    )

    base = {"classes": ["de", "en"], "bias": [0.0, 0.0], "dim": 8,
            "ngram": 3, "hasher": "md5"}
    with pytest.raises(ValueError, match="out of range"):
        langid_model_from_json(
            json.dumps({**base, "weights": {"-1": [1.0, 2.0]}}))
    with pytest.raises(ValueError, match="out of range"):
        langid_model_from_json(
            json.dumps({**base, "weights": {"99999": [1.0, 2.0]}}))
    with pytest.raises(ValueError, match="no classes"):
        langid_model_from_json(
            json.dumps({**base, "classes": [], "bias": [],
                        "weights": {}}))
    with pytest.raises(ValueError, match="out of range"):
        _model_dense_flat({**base, "weights": {-1: [1.0, 2.0]}})
    with pytest.raises(ValueError, match="unknown feature hasher"):
        langid_model_from_json(
            json.dumps({**base, "hasher": "sha1", "weights": {}}))
    with pytest.raises(ValueError, match="ngram must be >= 1"):
        langid_model_from_json(
            json.dumps({**base, "ngram": 0, "weights": {}}))

    with pytest.raises(ValueError, match="NULL"):
        train_langid_softmax(
            spark.createDataFrame(
                [("hello", "en"), ("welt", None)],
                "text string, lang string",
            )
        )
    with pytest.raises(ValueError, match="NULL"):
        train_langid_softmax_py([("hello", "en"), ("welt", None)])


@pytest.mark.parametrize("hasher", ["xxhash", "md5"])
def test_langid_gram_twin_randomized_cross_check(spark, hasher):
    """300 seeded-random strings (mixed unicode planes incl. case-fold
    and wide-space chars, lengths 0-300 crossing the 2000-char
    truncation via a few long tails) produce IDENTICAL distinct
    feature-id sequences from the Column extractor and the Python twin
    — the contract every oracle row and Arrow kernel stands on. One
    Spark job, not per-example (the xxh64 cross-check pattern)."""
    import random

    rng = random.Random(0xBEEF)
    pool = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
        "0123456789 \t\n'\"«»"
        "äöüÄÖÜßéèêñçİıΣσς中文字日本語한국어🙂🚀 　  "
    )
    cases = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 301)))
        for _ in range(296)
    ] + [
        "x" * 2500,                      # past truncation
        ("é" * 1999) + "ABCDEF",         # truncation at a non-ASCII run
        "İ" * 50,                        # lower() length-changing char
        "",                              # empty
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, t string"
    )
    got = {
        r["i"]: list(r["f"])
        for r in df.select(
            "i", gram_features_col(F.col("t"), 512, 3, hasher).alias("f")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == gram_feature_ids_py(c, 512, 3, hasher), (
            i, repr(c[:30])
        )


def test_langid_trained_unknown_gate(spark):
    """The trained tier's 'und' gate (review finding): a softmax always
    emits SOME trained class, so the pipeline must threshold the
    probability — below-threshold predictions become 'und' and drop as
    langid:und (the marker tier's MIN_SCORE analog); a zero threshold
    disables the gate; lang_score keeps the rejected argmax prob."""
    from fingerprint_spark.pipeline import quality_filter_text

    m = train_langid_softmax_py(LANGID_TRAIN_FIXTURE, dim=512, epochs=6)
    df = spark.createDataFrame(
        [(f"https://h/{i}", t) for i, (t, _) in
         enumerate(LANGID_HOLDOUT_FIXTURE)],
        "url string, text string",
    )
    # threshold above any reachable prob: EVERY doc gates to 'und'
    hi = quality_filter_text(df, langid_model=m, langid_threshold=1.01)
    rows = hi.select("url", "lang_detected", "lang_score",
                     "drop_reason").collect()
    assert all(r["lang_detected"] == "und" for r in rows)
    assert all(r["drop_reason"] == "langid:und" for r in rows)
    assert all(0.0 < r["lang_score"] <= 1.0 for r in rows)
    # threshold 0 disables the gate: fixture-language docs classify
    lo = {
        r["url"]: r["lang_detected"]
        for r in quality_filter_text(df, langid_model=m,
                                     langid_threshold=0.0)
        .select("url", "lang_detected").collect()
    }
    assert set(lo.values()) <= {"de", "en", "es", "fr"}


def test_langid_dim_validation(spark):
    """dim <= 0 must refuse loudly everywhere (review finding: it
    previously passed model validation vacuously, then crashed as
    '% 0' inside the Arrow kernel / produced NULL ids Column-side)."""
    import json

    from fingerprint_spark.operators.langid_classifier import (
        langid_model_from_json,
    )

    with pytest.raises(ValueError, match="dim must be >= 1"):
        langid_model_from_json(json.dumps(
            {"classes": ["en"], "bias": [0.0], "dim": 0, "weights": {}}))
    with pytest.raises(ValueError, match="dim must be >= 1"):
        gram_features_col(F.lit("x"), 0, 3, "xxhash")
    with pytest.raises(ValueError, match="dim must be >= 1"):
        gram_feature_ids_py("x", -4, 3, "md5")
