"""Trainable language-ID — hashed char-n-gram multinomial softmax.

The north rule names "fastText langid" as the pipeline's language
stage. fastText's lid model (public: Joulin et al. 2016, "Bag of
Tricks for Efficient Text Classification") is a LINEAR softmax over
hashed character-n-gram bag features. The marker-word scorer
(functions/langid.py tier 1) stays the zero-Python pipeline default;
this module is the TRAINED tier with the same architecture fastText
uses, Spark-native end to end:

- features: hashing trick over distinct char n-grams of the
  space-padded lowered text — pure Columns
  (pmod(xxhash64(gram), dim)), no vocabulary to build or ship;
- training: batch softmax gradient descent where every step is one
  DataFrame action (the train_quality_logreg shape generalized from 2
  to L classes): per-doc class margins are window sums over exploded
  (doc, feature) rows broadcast-joined against the (idx,
  array<double>) weight table; the per-(feature, class) gradient is a
  groupBy(idx) whose shuffle carries (bigint, L doubles); only the
  <= dim-row gradient reaches the driver;
- per-epoch HALF_UP gradient rounding makes the learned weights
  BIT-IDENTICAL to the pure-Python twin (train_langid_softmax_py) —
  the quality_classifier contract, so the model is cross-engine
  reproducible and partition-invariant;
- inference: zero shuffles, zero joins — a flattened dense weight
  literal (element_at is O(1)) folded over the gram array Column-side,
  or the Arrow kernel (langid_classify_arrow) for the corpus pass.

At 10^12 docs the labeled training set is small (public lid corpora
are ~10^6 lines); the corpus only ever sees the zero-shuffle
inference pass. Reference analog: the language gate in the keep/drop
fold (src/pipeline/enricher.rs, langid stage) — here a LEARNED
classifier rather than marker heuristics, per the north rule's
fastText naming.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd  # module level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ONE shared HALF_UP implementation (cross-engine rounding contract)
from .similarity import _round_half_up

_BIAS_IDX = -1  # the bias rides as feature -1 on every document

#: fixture-scale labeled set for the trained-langid tests: natural
#: prose per language, self-authored from public common-phrase
#: vocabulary. The same in-code-constant pattern as
#: QUALITY_TRAIN_FIXTURE — Spark trainer, Python twin, and every test
#: see byte-identical training data without a side channel. Includes
#: accented characters on purpose: the lower()/UTF-8 contract between
#: the JVM and Python kernels must hold beyond ASCII.
LANGID_TRAIN_FIXTURE: list[tuple[str, str]] = [
    ("the committee reviewed the report and agreed that the plan "
     "should move forward without further delay", "en"),
    ("she walked along the river in the morning and watched the "
     "boats drift slowly under the old bridge", "en"),
    ("this guide explains how to install the software and configure "
     "the settings for your own machine", "en"),
    ("the weather this week has been cold and windy with a chance "
     "of rain on thursday and friday", "en"),
    ("many students find that writing a short summary after reading "
     "helps them remember the main ideas", "en"),
    ("the museum is open every day except monday and the entrance "
     "is free for children under twelve", "en"),
    ("our team met yesterday to discuss the budget for next year "
     "and the schedule for the new project", "en"),
    ("he picked up the letter from the table and read it twice "
     "before putting it back in the drawer", "en"),
    ("der ausschuss hat den bericht geprüft und beschlossen dass "
     "der plan ohne weitere verzögerung umgesetzt wird", "de"),
    ("sie ging am morgen den fluss entlang und sah den booten zu "
     "die langsam unter der alten brücke trieben", "de"),
    ("diese anleitung erklärt wie man die software installiert und "
     "die einstellungen für den eigenen rechner anpasst", "de"),
    ("das wetter war diese woche kalt und windig mit regen am "
     "donnerstag und freitag in vielen regionen", "de"),
    ("viele studenten stellen fest dass eine kurze zusammenfassung "
     "nach dem lesen beim erinnern hilft", "de"),
    ("das museum ist täglich außer montag geöffnet und der eintritt "
     "ist für kinder unter zwölf jahren frei", "de"),
    ("unser team hat sich gestern getroffen um das budget für das "
     "nächste jahr und den zeitplan zu besprechen", "de"),
    ("er nahm den brief vom tisch und las ihn zweimal bevor er ihn "
     "zurück in die schublade legte", "de"),
    ("le comité a examiné le rapport et a convenu que le plan "
     "devait avancer sans nouveau délai", "fr"),
    ("elle marchait le long de la rivière le matin et regardait "
     "les bateaux glisser sous le vieux pont", "fr"),
    ("ce guide explique comment installer le logiciel et régler "
     "les paramètres pour votre propre machine", "fr"),
    ("le temps cette semaine a été froid et venteux avec de la "
     "pluie prévue jeudi et vendredi", "fr"),
    ("beaucoup d'étudiants trouvent qu'écrire un court résumé "
     "après la lecture aide à retenir les idées principales", "fr"),
    ("le musée est ouvert tous les jours sauf le lundi et l'entrée "
     "est gratuite pour les enfants de moins de douze ans", "fr"),
    ("notre équipe s'est réunie hier pour discuter du budget de "
     "l'année prochaine et du calendrier du projet", "fr"),
    ("il prit la lettre sur la table et la lut deux fois avant de "
     "la remettre dans le tiroir", "fr"),
    ("el comité revisó el informe y acordó que el plan debía "
     "seguir adelante sin más demora", "es"),
    ("ella caminaba junto al río por la mañana y miraba los barcos "
     "deslizarse bajo el viejo puente", "es"),
    ("esta guía explica cómo instalar el programa y ajustar la "
     "configuración para su propia máquina", "es"),
    ("el tiempo esta semana ha sido frío y ventoso con lluvia "
     "prevista para el jueves y el viernes", "es"),
    ("muchos estudiantes descubren que escribir un breve resumen "
     "después de leer ayuda a recordar las ideas", "es"),
    ("el museo abre todos los días excepto el lunes y la entrada "
     "es gratuita para los niños menores de doce años", "es"),
    ("nuestro equipo se reunió ayer para hablar del presupuesto "
     "del próximo año y del calendario del proyecto", "es"),
    ("él tomó la carta de la mesa y la leyó dos veces antes de "
     "guardarla de nuevo en el cajón", "es"),
]

_MAX_CHARS = 2000  # langid needs a prefix, not the whole document


def char_gram_col(text: Column, n: int = 3) -> Column:
    """array<string> of char n-grams over the space-padded lowered
    text prefix (the perplexity-gram transform/sequence shape). Pad =
    (n-1) leading + 1 trailing space, so the padded string is never
    shorter than n (Spark's sequence(a, b) DESCENDS when a > b — the
    perplexity-gram lesson) and NULL text behaves exactly like empty
    text (one all-space gram)."""
    padded = F.concat(
        F.lit(" " * (n - 1)),
        F.substring(F.lower(F.coalesce(text, F.lit(""))), 1, _MAX_CHARS),
        F.lit(" "),
    )
    return F.transform(
        F.sequence(F.lit(n), F.length(padded)),
        lambda i: F.substring(padded, i - (n - 1), F.lit(n)),
    )


def gram_features_col(
    text: Column, dim: int = 2048, n: int = 3, hasher: str = "xxhash"
) -> Column:
    """array<bigint> of DISTINCT hashed char-n-gram ids.

    hasher='xxhash': pmod(xxhash64(gram), dim) — JVM-fused production
    path, bit-matched by the Python twin via functions/xxh64.py.
    hasher='md5': pmod(15-hex prefix of md5('g:'+gram), dim) — the
    portable contract path ('g:' domain-separates gram features from
    the quality classifier's 'f:' word features).
    """
    if dim <= 0:
        # pmod(x, 0) is NULL, which would silently propagate NULL
        # feature ids through training and inference
        raise ValueError(f"feature dim must be >= 1, got {dim}")
    grams = char_gram_col(text, n)
    if hasher == "xxhash":
        hashed = F.transform(
            grams, lambda g: F.pmod(F.xxhash64(g), F.lit(dim))
        )
    elif hasher == "md5":
        hashed = F.transform(
            grams,
            lambda g: F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("g:"), g)), 1, 15),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(dim),
            ),
        )
    else:
        raise ValueError(f"unknown feature hasher: {hasher!r}")
    return F.array_distinct(hashed)


def grams_py(text: str | None, n: int = 3) -> list[str]:
    """THE Python twin of the Column gram extractor, character for
    character: lower (root-locale contract, same as _tokenize_py),
    2000-char truncation, (n-1)+1 space padding."""
    s = " " * (n - 1) + (text or "").lower()[:_MAX_CHARS] + " "
    return [s[i: i + n] for i in range(len(s) - n + 1)]


def _md5_gram_id(g: str, dim: int) -> int:
    import hashlib

    return int(hashlib.md5(("g:" + g).encode()).hexdigest()[:15], 16) % dim


def _gid_fn(hasher: str, dim: int):
    """THE Python-side gram->feature-id dispatch, shared by the twin
    and both Arrow kernels (one place to add a hasher)."""
    if dim <= 0:
        raise ValueError(f"feature dim must be >= 1, got {dim}")
    if hasher == "xxhash":
        from ..functions.xxh64 import xxh64_signed

        def gid(g: str) -> int:
            return xxh64_signed(g.encode("utf-8")) % dim

    elif hasher == "md5":

        def gid(g: str) -> int:
            return _md5_gram_id(g, dim)

    else:
        raise ValueError(f"unknown feature hasher: {hasher!r}")
    return gid


def gram_feature_ids_py(
    text: str | None, dim: int, n: int = 3, hasher: str = "xxhash"
) -> list[int]:
    """Python twin of gram_features_col: distinct hashed gram ids in
    first-occurrence order."""
    gid = _gid_fn(hasher, dim)
    out: dict[int, None] = {}
    for g in grams_py(text, n):
        out[gid(g)] = None
    return list(out)


def _softmax_stable(margins: list[float]) -> list[float]:
    m = max(margins)
    es = [math.exp(x - m) for x in margins]
    z = sum(es)
    return [e / z for e in es]


def train_langid_softmax(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    dim: int = 2048,
    n: int = 3,
    epochs: int = 8,
    lr: float = 2.0,
    hasher: str = "xxhash",
    grad_round_dp: int | None = None,
) -> dict:
    """Batch softmax GD. Returns {classes, weights: {idx: [w_c]},
    bias: [b_c], dim, ngram, hasher} — a plain broadcastable dict.

    One ACTION per epoch (the train_quality_logreg shape, L classes):
    bias rides as feature -1; per-doc per-class margins are window
    sums over the exploded (doc, feature) rows joined against the
    broadcast (idx, array<double>) weight table; stable softmax
    (subtract the row max before exp — F.greatest and Python max are
    the same total order on doubles) gives residuals p_c - y_c; the
    gradient groupBy(idx) shuffle carries (bigint, L doubles) and only
    <= dim+1 rows reach the driver.

    grad_round_dp pins training cross-engine exactly as in the quality
    classifier: each epoch's per-(feature, class) gradient is HALF_UP
    rounded before the update, absorbing the last-ulp partition-order
    dependence of distributed double sums, so weights are BIT-IDENTICAL
    to train_langid_softmax_py (pinned by pytest)."""
    spark = df.sparkSession
    classes = [
        r[0]
        # driver-bounded: one row per language
        for r in df.select(label_col).distinct().orderBy(label_col).collect()
    ]
    if not classes:
        raise ValueError("train_langid_softmax: empty training set")
    if any(c is None for c in classes):
        # a NULL label would NULL every residual downstream (the
        # equality comparison propagates NULL through the gradient) —
        # refuse cleanly instead of producing a TypeError traceback
        raise ValueError(
            f"train_langid_softmax: NULL {label_col!r} label in "
            "training set — filter or fill labels first"
        )
    L = len(classes)
    base = df.select(
        F.col(label_col).alias("__lbl"),
        F.concat(
            F.array(F.lit(_BIAS_IDX).cast("bigint")),
            gram_features_col(F.col(text_col), dim, n, hasher),
        ).alias("__feats"),
    ).persist()
    n_docs = base.count()
    try:
        w: dict[int, list[float]] = {}
        for _ in range(epochs):
            wdf = spark.createDataFrame(
                [(idx, list(vec)) for idx, vec in w.items()]
                or [(_BIAS_IDX, [0.0] * L)],
                "__idx bigint, __w array<double>",
            )
            ex = (
                base.withColumn("__key", F.monotonically_increasing_id())
                .select("__key", "__lbl", F.explode("__feats").alias("__idx"))
                .join(F.broadcast(wdf), "__idx", "left")
            )
            margins = [
                F.sum(
                    F.coalesce(F.element_at("__w", c + 1), F.lit(0.0))
                ).over(W.partitionBy("__key"))
                for c in range(L)
            ]
            mmax = F.greatest(*margins) if L > 1 else margins[0]
            es = [F.exp(m - mmax) for m in margins]
            z = es[0]
            for e in es[1:]:
                z = z + e
            resids = [
                es[c] / z - (F.col("__lbl") == classes[c]).cast("double")
                for c in range(L)
            ]
            grad = (
                ex.select(
                    "__idx",
                    *[resids[c].alias(f"__r{c}") for c in range(L)],
                )
                .groupBy("__idx")
                .agg(
                    *[F.sum(f"__r{c}").alias(f"__g{c}") for c in range(L)]
                )
                .collect()  # driver-bounded: <= dim + 1 rows
            )
            for row in grad:
                idx = int(row["__idx"])
                vec = w.setdefault(idx, [0.0] * L)
                for c in range(L):
                    g = float(row[f"__g{c}"])
                    if grad_round_dp is not None:
                        g = _round_half_up(g, grad_round_dp)
                    vec[c] -= lr * g / n_docs
    finally:
        base.unpersist()
    bias = w.pop(_BIAS_IDX, [0.0] * L)
    return {
        "classes": classes,
        "weights": {int(k): list(v) for k, v in w.items()},
        "bias": list(bias),
        "dim": dim,
        "ngram": n,
        "hasher": hasher,
    }


def train_langid_softmax_py(
    rows: list[tuple[str, str]],
    dim: int = 2048,
    epochs: int = 8,
    lr: float = 2.0,
    hasher: str = "xxhash",
    grad_round_dp: int = 6,
) -> dict:
    """Pure-Python twin of train_langid_softmax over char 3-grams:
    identical GD arithmetic, identical stable softmax, identical
    per-epoch HALF_UP gradient rounding — learned weights are
    bit-identical to the Spark trainer's (the margin-sum order differs
    only in the last ulp; the rounding absorbs it, same argument as
    train_quality_logreg_py)."""
    n = 3
    labels = {lbl for _, lbl in rows}
    if not labels:
        raise ValueError("train_langid_softmax_py: empty training set")
    if any(lbl is None for lbl in labels):
        raise ValueError(
            "train_langid_softmax_py: NULL label in training set — "
            "filter or fill labels first"
        )
    classes = sorted(labels)
    L = len(classes)
    feats = [
        (
            [_BIAS_IDX] + gram_feature_ids_py(t, dim, n, hasher),
            classes.index(lbl),
        )
        for t, lbl in rows
    ]
    n_docs = len(feats)
    w: dict[int, list[float]] = {}
    for _ in range(epochs):
        grad: dict[int, list[float]] = {}
        for ids, y in feats:
            margins = [
                sum(w.get(i, [0.0] * L)[c] for i in ids) for c in range(L)
            ]
            probs = _softmax_stable(margins)
            for i in ids:
                gv = grad.setdefault(i, [0.0] * L)
                for c in range(L):
                    gv[c] += probs[c] - (1.0 if c == y else 0.0)
        for idx, gv in grad.items():
            vec = w.setdefault(idx, [0.0] * L)
            for c in range(L):
                g = _round_half_up(gv[c], grad_round_dp)
                vec[c] -= lr * g / n_docs
    bias = w.pop(_BIAS_IDX, [0.0] * L)
    return {
        "classes": classes,
        "weights": {int(k): list(v) for k, v in w.items()},
        "bias": list(bias),
        "dim": dim,
        "ngram": n,
        "hasher": hasher,
    }


def langid_model_to_json(model: dict) -> str:
    """Serialize a trained model for the train-langid -> curate
    --langid-model file handoff (sorted keys: byte-stable files)."""
    import json

    return json.dumps(model, sort_keys=True)


def langid_model_from_json(s: str) -> dict:
    """Parse + validate a model file; JSON stringifies the weight
    keys, so re-int them. Malformed structure raises ValueError (the
    CLI's clean-error contract)."""
    import json

    try:
        m = json.loads(s)
        classes = [str(c) for c in m["classes"]]
        L = len(classes)
        if L == 0:
            raise ValueError("model has no classes")
        bias = [float(b) for b in m["bias"]]
        weights = {
            int(i): [float(x) for x in v] for i, v in m["weights"].items()
        }
        if len(bias) != L or any(len(v) != L for v in weights.values()):
            raise ValueError("weight/bias width != number of classes")
        dim = int(m["dim"])
        if dim <= 0:
            # dim=0 with empty weights would pass the (vacuous) index
            # check below, then crash as '% 0' deep inside inference
            raise ValueError(f"dim must be >= 1, got {dim}")
        # reject out-of-range feature indices HERE: a negative key
        # would silently corrupt the dense matrix tail via Python
        # negative indexing in _model_dense_flat; a key >= dim would
        # IndexError deep inside inference instead of failing cleanly
        bad = [i for i in weights if not 0 <= i < dim]
        if bad:
            raise ValueError(
                f"weight index out of range [0, {dim}): {bad[:3]}"
            )
        # both would otherwise fail only while the quality chains
        # build their plan (_gid_fn / the gram extractor)
        ngram = int(m.get("ngram", 3))
        if ngram < 1:
            raise ValueError(f"ngram must be >= 1, got {ngram}")
        hasher = str(m.get("hasher", "xxhash"))
        if hasher not in ("xxhash", "md5"):
            raise ValueError(f"unknown feature hasher: {hasher!r}")
        return {
            "classes": classes,
            "weights": weights,
            "bias": bias,
            "dim": dim,
            "ngram": ngram,
            "hasher": hasher,
        }
    except (KeyError, TypeError, AttributeError) as e:
        raise ValueError(f"malformed langid model: {e!r}") from e


def _model_dense_flat(model: dict) -> list[float]:
    """Flattened dense weight matrix, layout idx * L + c — one array
    literal shared by the Column fold and the Arrow kernel."""
    L = len(model["classes"])
    dim = int(model["dim"])
    dense = [0.0] * (dim * L)
    for idx, vec in model["weights"].items():
        if not 0 <= int(idx) < dim:
            # negative keys would WRITE into the matrix tail via
            # Python negative indexing — corrupt weights, no error
            raise ValueError(
                f"weight index {idx} out of range [0, {dim})"
            )
        for c in range(L):
            dense[int(idx) * L + c] = float(vec[c])
    return dense


def langid_classify(df: DataFrame, model: dict) -> DataFrame:
    """Corpus inference, pure Columns: ZERO shuffles, zero joins, zero
    Python. The flattened weight matrix folds into one dense array
    literal (element_at O(1)); per-class margins are L aggregates over
    the distinct-gram array; output struct<lang,prob> with the
    deterministic tie-break (max prob, ties to the lexicographically
    smallest class — the langid_best nrank trick). The Arrow kernel
    (langid_classify_arrow) is the measured-faster corpus path; this
    fold is the zero-Python option and the parity anchor. Reads
    ``text``, writes ``lang_pred``."""
    classes = model["classes"]
    L = len(classes)
    dim, n = int(model["dim"]), int(model.get("ngram", 3))
    hasher = model.get("hasher", "xxhash")
    flat = _model_dense_flat(model)
    # materialize the gram array ONCE (inlining the extractor would
    # re-tokenize the text per reference), then fold ALL classes in a
    # SINGLE aggregate with an array<double> accumulator: per gram,
    # slice the L-wide weight row out of the flat literal and zip-add.
    # This embeds the dim*L literal exactly once in the plan —
    # per-class folds each embedding their own copy OOM'd the driver at
    # dim=2048 (4 x 8192 literal nodes). Plan size still grows as
    # dim*L; the Arrow kernel (weights in the closure, not the plan) is
    # the corpus-scale path.
    df = df.withColumn(
        "__lid_feats", gram_features_col(F.col("text"), dim, n, hasher)
    )
    init = F.array(*[F.lit(float(b)) for b in model["bias"]])
    if model["weights"]:
        warr = F.array(*[F.lit(v) for v in flat])
        marr = _margin_fold_col("__lid_feats", init, warr, L)
    else:
        marr = init
    df = df.withColumn("__lid_margins", marr)
    margins = [F.element_at("__lid_margins", c + 1) for c in range(L)]
    mmax = F.greatest(*margins) if L > 1 else margins[0]
    es = [F.exp(m - mmax) for m in margins]
    z = es[0]
    for e in es[1:]:
        z = z + e
    pairs = F.array(
        *[
            F.struct(
                (es[c] / z).alias("prob"),
                F.lit(-c).alias("nrank"),
                F.lit(classes[c]).alias("lang"),
            )
            for c in range(L)
        ]
    )
    best = F.array_max(pairs)
    return df.withColumn(
        "lang_pred",
        F.struct(best["lang"].alias("lang"), best["prob"].alias("prob")),
    ).drop("__lid_feats", "__lid_margins")


def _margin_fold_col(feats, init, warr, L: int):
    """THE dense-literal margin fold (Column side): per gram id, slice
    the L-wide weight row out of the flat literal and zip-add into the
    accumulator. The literal embeds exactly ONCE in the plan (per-class
    folds each embedding their own copy OOM'd the driver at dim=2048)."""
    return F.aggregate(
        feats,
        init,
        lambda acc, i: F.zip_with(
            acc,
            F.slice(warr, (i * L + 1).cast("int"), L),
            lambda a, b: a + b,
        ),
    )


_GRAM_MEMO_CAP = 1_000_000  # ids are pure -> clearing only recomputes


def _batch_margins(texts, bias: np.ndarray, weights: np.ndarray,
                   n: int, gid, memo: dict | None = None):
    """THE per-batch margin extraction (Arrow side), shared by both
    kernels: gram -> feature-id memo (char n-grams are highly
    repetitive, the memo hit rate is near 1; callers may pass a
    closure-held dict so it survives batches via worker reuse — r6) +
    numpy row-sum fold. Yields one margin vector per text. NOTE: the
    row-sum order is numpy's, not the Column fold's first-occurrence
    order — exact double-path sums can differ in the last ulp (the
    micro kernel's integer sums are order-free and therefore
    bit-exact)."""
    if memo is None:
        memo = {}
    elif len(memo) > _GRAM_MEMO_CAP:
        memo.clear()
    for t in texts:
        ids_set: set[int] = set()
        for g in grams_py(t, n):
            idx = memo.get(g)
            if idx is None:
                idx = gid(g)
                memo[g] = idx
            ids_set.add(idx)
        m = bias.copy()
        if ids_set:
            m += weights[
                np.fromiter(ids_set, dtype=np.int64, count=len(ids_set))
            ].sum(axis=0)
        yield m


_MICRO_SCALE = 10**6  # model_micro's fixed-point unit is 1e-6


def model_micro(model: dict) -> tuple[list[int], list[int]]:
    """Fixed-point quantization of the flat weight matrix + bias
    (HALF_UP at 1/_MICRO_SCALE): integer margin sums are EXACT in any
    engine — the perplexity row's micro-logp contract, applied to the
    softmax. Returns (flat_micro, bias_micro)."""
    flat = _model_dense_flat(model)
    fm = [int(_round_half_up(v * _MICRO_SCALE, 0)) for v in flat]
    bm = [
        int(_round_half_up(float(b) * _MICRO_SCALE, 0)) for b in model["bias"]
    ]
    return fm, bm


def langid_classify_micro_arrow(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "lang_pred",
) -> DataFrame:
    """Fixed-point langid kernel (exact int64 margin sums; argmax on
    integers; exp inputs are IEEE-identical doubles) at corpus speed. A
    Column micro fold paid ~1 ms/doc in interpreted HOF md5+conv gram
    hashing (measured: gram extraction alone was 5.0 s of a 5.5 s sf0.1
    pass); here the per-batch gram memo hashes each distinct gram once
    in C, so the oracle-checked headline row stays fast. Agreement with
    the double-path Column fold (langid_classify) is pinned by
    pytest."""
    classes = list(model["classes"])
    L = len(classes)
    dim, n = int(model["dim"]), int(model.get("ngram", 3))
    hasher = model.get("hasher", "xxhash")
    fm, bm = model_micro(model)
    weights = np.asarray(fm, dtype=np.int64).reshape(dim, L)
    bias = np.asarray(bm, dtype=np.int64)
    fscale = float(_MICRO_SCALE)
    gid = _gid_fn(hasher, dim)
    memo: dict = {}  # per-worker, survives batches (worker reuse — r6)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("lang", T.StringType()),
                T.StructField("prob", T.DoubleType()),
            ]
        )
    )
    def classify(texts: pd.Series) -> pd.DataFrame:
        out_lang: list[str] = []
        out_prob = np.empty(len(texts), dtype=np.float64)
        for i, m in enumerate(
            _batch_margins(texts, bias, weights, n, gid, memo)
        ):
            # exact integer margins: argmax is bit-exact cross-engine
            # (np.argmax takes the FIRST max = smallest class index);
            # winner prob = exp(0)/z = 1/z
            c = int(np.argmax(m))
            z = np.exp((m - m.max()).astype(np.float64) / fscale).sum()
            out_lang.append(classes[c])
            out_prob[i] = 1.0 / z
        return pd.DataFrame({"lang": out_lang, "prob": out_prob})

    return df.withColumn(out_col, classify(F.col(text_col)))


def langid_classify_arrow(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "lang_pred",
) -> DataFrame:
    """Arrow-batched inference kernel (the quality_score_arrow shape):
    per-batch gram -> feature-id memo (char n-grams are highly
    repetitive, the memo hit rate is near 1), numpy margin fold,
    stable softmax, argmax. np.argmax takes the FIRST maximum =
    smallest class index = the Column path's tie-break exactly. Same
    zero-shuffle plan shape: one ArrowEvalPython stage, no joins."""
    return df.withColumn(out_col, _classify_arrow_udf(model)(F.col(text_col)))


def _classify_arrow_udf(model: dict):
    """langid_classify_arrow's pandas UDF: text -> struct<lang, prob>.
    The quality chains' trained language-ID stage maps it too."""
    classes = list(model["classes"])
    L = len(classes)
    dim, n = int(model["dim"]), int(model.get("ngram", 3))
    hasher = model.get("hasher", "xxhash")
    weights = np.asarray(_model_dense_flat(model)).reshape(dim, L)
    bias = np.asarray([float(b) for b in model["bias"]])
    gid = _gid_fn(hasher, dim)
    memo: dict = {}  # per-worker, survives batches (worker reuse — r6)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("lang", T.StringType()),
                T.StructField("prob", T.DoubleType()),
            ]
        )
    )
    def classify(texts: pd.Series) -> pd.DataFrame:
        out_lang: list[str] = []
        out_prob = np.empty(len(texts), dtype=np.float64)
        for i, m in enumerate(
            _batch_margins(texts, bias, weights, n, gid, memo)
        ):
            m -= m.max()
            e = np.exp(m)
            p = e / e.sum()
            c = int(np.argmax(p))
            out_lang.append(classes[c])
            out_prob[i] = p[c]
        return pd.DataFrame({"lang": out_lang, "prob": out_prob})

    return classify
