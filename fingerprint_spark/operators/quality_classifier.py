"""Trainable quality classifier — hashed-feature logistic regression.

The production web-curation recipe (GPT-3 Appendix A's WebText-vs-
Common-Crawl quality classifier; DCLM's fastText filter — both public)
is a LINEAR classifier over cheap text features, trained on a small
labeled set and applied to the whole corpus. This is that primitive,
Spark-native end to end:

- features: hashing trick — distinct word -> pmod(xxhash64(word), dim)
  (binary bag; pure Columns, no vocabulary to build or ship);
- training: batch gradient descent where EVERY step is a DataFrame
  aggregation — margin = broadcast-join of exploded features against
  the (idx, weight) table, gradient = groupBy(idx) of residuals (the
  shuffle carries (int, double) pairs, map-side combined); only the
  dim-row weight table ever reaches the driver (the pagerank shape,
  applied to learning);
- inference: one broadcast join + groupBy per corpus pass, emitting a
  probability column.

At 10^12 docs the labeled TRAINING set is small (the corpus pass is
inference only), so the per-epoch cost is bounded by the label set;
inference is a broadcast join against a dim-row table. Reference
analog: heuristic scoring in the keep/drop fold (src/pipeline/)
generalized to a LEARNED score; beyond-reference per the brief's
quality-scoring requirement.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# ONE shared HALF_UP implementation: a divergent copy here would
# silently split the cross-engine rounding contract (review finding)
from .similarity import _round_half_up

_BIAS_IDX = -1  # the bias is feature -1 on every document

#: fixture-scale labeled set for the oracle-checked classifier row
#: (GPT-3 App. A shape: reference-quality prose = 1, spam/boilerplate
#: soup = 0). A FIXED in-code constant so the Spark trainer, the
#: pure-Python twin, and the DuckDB oracle all see byte-identical
#: training data without a side channel. ASCII only (the tokenizer
#: contract is ASCII-\s).
QUALITY_TRAIN_FIXTURE: list[tuple[str, int]] = [
    ("the committee published its findings after a careful review of "
     "the evidence and recommended three policy changes", 1),
    ("researchers at the university demonstrated that the new method "
     "improves accuracy while reducing the computation required", 1),
    ("the novel follows a young engineer who returns to her home town "
     "and discovers a long buried family secret", 1),
    ("in this tutorial we will walk through the steps needed to "
     "configure the server and deploy your first application", 1),
    ("the city council voted to expand the public transit network "
     "citing growing demand and traffic congestion", 1),
    ("a balanced diet and regular exercise remain the most reliable "
     "foundation for long term health according to physicians", 1),
    ("the documentary examines how small farming communities adapted "
     "to changing weather patterns over the last decade", 1),
    ("historians continue to debate the economic causes of the "
     "collapse and the role played by trade disruptions", 1),
    ("the orchestra opened the season with a spirited performance "
     "that drew a standing ovation from the audience", 1),
    ("this article explains the difference between the two protocols "
     "and when each one is the appropriate choice", 1),
    ("engineers tested the bridge design under simulated load and "
     "found the margins comfortably within specification", 1),
    ("the museum announced a new exhibition exploring the craft of "
     "early printing and the spread of literacy", 1),
    ("students who practice retrieval while studying retain far more "
     "than those who simply reread their notes", 1),
    ("the recipe calls for slow roasting the vegetables until they "
     "caramelize which deepens the flavor considerably", 1),
    ("after months of negotiation the two companies agreed to merge "
     "their logistics operations into a single network", 1),
    ("the park service restored the wetland habitat and native bird "
     "populations recovered within a few seasons", 1),
    ("buy cheap pills now best price discount discount click here "
     "click here limited offer act now", 0),
    ("casino bonus free spins win win win jackpot deposit now bonus "
     "code bonus code no deposit", 0),
    ("cheap replica watches cheap replica watches free shipping free "
     "shipping order order order", 0),
    ("viewers like subscribe like subscribe smash that bell icon "
     "giveaway giveaway follow follow follow", 0),
    ("lorem ipsum dolor sit amet lorem ipsum dolor sit amet lorem "
     "ipsum dolor sit amet", 0),
    ("home about contact privacy terms sitemap login register cart "
     "checkout home about contact", 0),
    ("xxx hot singles in your area click meet now xxx hot singles "
     "click click", 0),
    ("make money fast work from home earn cash now no experience "
     "needed make money fast", 0),
    ("keyword1 keyword2 keyword3 best seo ranking backlinks cheap "
     "traffic guaranteed ranking ranking", 0),
    ("404 page not found error error error page not found click to "
     "continue click to continue", 0),
    ("weight loss miracle pill doctors hate this trick lose pounds "
     "fast guaranteed results order today", 0),
    ("congratulations you have won a prize claim your prize now "
     "enter your details claim claim", 0),
    ("cookie policy accept cookies we use cookies accept all manage "
     "preferences cookie settings accept", 0),
    ("crypto pump signal join telegram channel moon soon 100x gains "
     "guaranteed join join join", 0),
    ("copyright all rights reserved terms of use privacy policy "
     "powered by powered by powered by", 0),
    ("sale sale sale buy one get one free today only huge discount "
     "clearance everything must go", 0),
]


def words_array_col(text: Column) -> Column:
    """Lowercased ASCII-\\s word array — the ONE tokenizer both
    training and inference must share for the hashing trick to be
    valid (same expression shape as the queries/ modules and
    operators/dedup and operators/curation).
    Contract note: F.lower delegates to the JVM's locale-default
    toLowerCase, so JVM/Python tokenizer parity (_tokenize_py) assumes
    a root-ish JVM locale — on tr_TR/az deployments set
    -Duser.language=en (the standard Spark practice) or dotted/dotless
    'i' words hash to different feature ids across the two kernels."""
    return F.filter(
        F.split(F.trim(F.lower(F.coalesce(text, F.lit("")))), r"\s+"),
        lambda w: w != "",
    )


def hashed_features_col(text: Column, dim: int = 4096) -> Column:
    """array<bigint> of DISTINCT hashed word ids (binary bag). NULL
    text behaves exactly like empty text (bias-only example) — the
    training/inference contract must be symmetric."""
    return F.array_distinct(
        F.transform(
            words_array_col(text),
            lambda w: F.pmod(F.xxhash64(w), F.lit(dim)),
        )
    )


def hashed_features_md5_col(text: Column, dim: int) -> Column:
    """Portable-contract twin of hashed_features_col: word id =
    md5('f:'+word) 15-hex-digit prefix mod dim — exactly recomputable
    in DuckDB and Python (the sketches/winnow md5-contract playbook),
    so the classifier can sit under the hard oracle signal. The
    xxhash64 hasher stays the production hot path (JVM-fused; md5 is
    ~3x the digest cost)."""
    return F.array_distinct(
        F.transform(
            words_array_col(text),
            lambda w: F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("f:"), w)), 1, 15),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(dim),
            ),
        )
    )


def _features_col(text: Column, dim: int, hasher: str) -> Column:
    if hasher == "xxhash":
        return hashed_features_col(text, dim)
    if hasher == "md5":
        return hashed_features_md5_col(text, dim)
    raise ValueError(f"unknown feature hasher: {hasher!r}")




def train_quality_logreg(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    dim: int = 4096,
    epochs: int = 8,
    lr: float = 2.0,
    hasher: str = "xxhash",
    grad_round_dp: int | None = None,
) -> dict:
    """Batch GD on logistic loss. Returns {weights: {idx: w}, bias,
    dim} — the model is a plain dict, broadcastable and auditable.

    One ACTION per epoch: the bias rides as constant feature -1 on
    every document, the per-doc margin is a window sum over the
    exploded (doc, feature, weight) rows (no self-join — a join back
    on a generated id would silently mis-align under cache-partition
    recompute), and the per-feature gradient is the groupBy(idx) of
    residuals in the same plan. The shuffle carries (int, double)
    pairs; only the <= dim-row gradient reaches the driver.

    grad_round_dp: round each epoch's per-feature gradient (HALF_UP)
    before the weight update. This pins training cross-engine: a
    distributed double sum is partition-order dependent in its last
    ulp, so rounding each epoch makes the learned weights BIT-IDENTICAL
    to the pure-Python twin (train_quality_logreg_py) — the lever that
    puts the classifier under the hard oracle signal."""
    spark = df.sparkSession
    base = df.select(
        F.col(label_col).cast("double").alias("__y"),
        F.concat(
            F.array(F.lit(_BIAS_IDX).cast("bigint")),
            _features_col(F.col(text_col), dim, hasher),
        ).alias("__feats"),
    ).persist()
    n = base.count()
    if n == 0:
        base.unpersist()
        raise ValueError("train_quality_logreg: empty training set")
    w: dict[int, float] = {}
    try:
        for _ in range(epochs):
            wdf = spark.createDataFrame(
                list(w.items()) or [(_BIAS_IDX, 0.0)],
                "__idx bigint, __w double",
            )
            ex = (
                base.withColumn("__key", F.monotonically_increasing_id())
                .select(
                    "__key", "__y", F.explode("__feats").alias("__idx")
                )
                .join(F.broadcast(wdf), "__idx", "left")
            )
            margin = F.sum(F.coalesce("__w", F.lit(0.0))).over(
                W.partitionBy("__key")
            )
            resid = (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - F.col("__y")
            )
            grad = (
                ex.withColumn("__r", resid)
                .groupBy("__idx")
                .agg(F.sum("__r").alias("__g"))
                .collect()  # driver-bounded: <= dim + 1 rows
            )
            for row in grad:
                idx = int(row["__idx"])
                g = float(row["__g"])
                if grad_round_dp is not None:
                    g = _round_half_up(g, grad_round_dp)
                w[idx] = w.get(idx, 0.0) - lr * g / n
    finally:
        base.unpersist()
    bias = w.pop(_BIAS_IDX, 0.0)
    return {"weights": w, "bias": bias, "dim": dim}


def quality_score_arrow(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    hasher: str = "xxhash",
) -> DataFrame:
    """Arrow-batched inference kernel — the upgrade path named in
    round 4 for the corpus pass (the pure-Column fold interprets one
    element_at per token hash; this kernel tokenizes with C regex,
    hashes each DISTINCT word once per BATCH via a memo — zipfian
    word repetition makes the memo hit rate very high — and folds
    margins in numpy). Same zero-shuffle plan shape (one
    ArrowEvalPython stage, no joins); agrees with quality_score to
    float-sum reordering (parity-tested at 1e-9).

    hasher='xxhash' shares the JVM feature ids exactly: functions/
    xxh64.py re-derives XXH64 bit-for-bit vs F.xxhash64 (tested), so
    Column-trained models score identically here."""
    import math

    if hasher not in ("xxhash", "md5"):
        raise ValueError(f"unknown feature hasher: {hasher!r}")
    dim = int(model["dim"])
    bias = float(model["bias"])
    # built ONCE in the driver closure (ndarrays pickle fine); the UDF
    # must not reconvert a 4096-element list per Arrow batch
    weights = np.asarray(_model_dense(model))

    from ..functions.xxh64 import xxh64_signed

    @F.pandas_udf("double")
    def score(texts: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}  # per-batch word -> feature id

        def word_idx(w: str) -> int:
            idx = memo.get(w)
            if idx is None:
                if hasher == "xxhash":
                    idx = xxh64_signed(w.encode("utf-8")) % dim
                else:
                    idx = _md5_word_id(w, dim)
                memo[w] = idx
            return idx

        out = np.empty(len(texts), dtype=np.float64)
        for i, t in enumerate(texts):
            ids = {word_idx(w) for w in _tokenize_py(t)}
            m = bias
            if ids:
                m += float(weights[np.fromiter(
                    ids, dtype=np.int64, count=len(ids))].sum())
            out[i] = 1.0 / (1.0 + math.exp(-m))
        return pd.Series(out)

    return df.withColumn("quality_prob", score(F.col(text_col)))


_TOKEN_SPLIT = None


def _tokenize_py(text: str | None) -> list[str]:
    """THE Python twin of words_array_col, character for character:
    strip(' ') mirrors F.trim (which removes 0x20 ONLY — Python's
    bare .strip() also eats NBSP/U+3000/controls and would hash
    boundary tokens to different feature ids than the JVM, review
    finding r5), str.lower matches the JVM's locale-default
    toLowerCase on root-locale deployments (the documented contract),
    and ASCII-\\s split matches Java regex \\s."""
    import re

    global _TOKEN_SPLIT
    if _TOKEN_SPLIT is None:
        _TOKEN_SPLIT = re.compile(r"\s+", re.ASCII).split
    return [
        w for w in _TOKEN_SPLIT((text or "").strip(" ").lower()) if w
    ]


def _md5_word_id(w: str, dim: int) -> int:
    """The single Python home of the md5 'f:'+word feature hash
    (mirrors hashed_features_md5_col; three hand-synced copies was a
    review finding)."""
    import hashlib

    return int(hashlib.md5(("f:" + w).encode()).hexdigest()[:15], 16) % dim


def quality_model_from_json(s: str) -> dict:
    """Parse + validate a train-classifier model file; JSON stringifies
    the weight keys, so re-int them. Malformed structure raises
    ValueError (the CLI's clean-error contract)."""
    import json

    try:
        m = json.loads(s)
        weights = {int(i): float(v) for i, v in m["weights"].items()}
        bias = float(m["bias"])
        dim = int(m["dim"])
        hasher = str(m.get("hasher", "xxhash"))
    except (KeyError, TypeError, AttributeError) as e:
        raise ValueError(f"malformed quality model: {e!r}") from e
    if dim <= 0:
        # dim=0 would pass the (vacuous) index check below, then crash
        # as '% 0' deep inside inference
        raise ValueError(f"dim must be >= 1, got {dim}")
    if hasher not in ("xxhash", "md5"):
        raise ValueError(f"unknown feature hasher: {hasher!r}")
    bad = [i for i in weights if not 0 <= i < dim]
    if bad:
        raise ValueError(f"weight index out of range [0, {dim}): {bad[:3]}")
    return {"weights": weights, "bias": bias, "dim": dim, "hasher": hasher}


def _model_dense(model: dict) -> list[float]:
    """Dense weight vector from a model dict — shared by the Column
    literal fold, the Arrow kernel, and oracle SQL generation."""
    dim = int(model["dim"])
    dense = [0.0] * dim
    for idx, wv in model["weights"].items():
        if not 0 <= int(idx) < dim:
            # negative keys would WRITE into the vector tail via Python
            # negative indexing — corrupt weights, no error
            raise ValueError(f"weight index {idx} out of range [0, {dim})")
        dense[int(idx)] = float(wv)
    return dense


def md5_feature_ids_py(text: str | None, dim: int) -> list[int]:
    """Python twin of hashed_features_md5_col: same tokenizer
    (_tokenize_py), same md5 prefix hash, distinct in first-occurrence
    order."""
    out: dict[int, None] = {}
    for w in _tokenize_py(text):
        out[_md5_word_id(w, dim)] = None
    return list(out)


def train_quality_logreg_py(
    rows: list[tuple[str, int]],
    dim: int,
    epochs: int = 8,
    lr: float = 2.0,
    grad_round_dp: int = 6,
) -> dict:
    """Pure-Python twin of train_quality_logreg(hasher='md5',
    grad_round_dp=...): identical GD arithmetic, identical per-epoch
    HALF_UP gradient rounding — learned weights are bit-identical to
    the Spark trainer's (pinned by pytest), which lets oracle_sql()
    embed them as DuckDB literals without a SparkSession. The per-doc
    margin sum order differs from Spark's window sum only in the last
    ulp; the gradient rounding absorbs it (the ann_recall playbook)."""
    import math

    feats = [
        ([_BIAS_IDX] + md5_feature_ids_py(t, dim), float(y))
        for t, y in rows
    ]
    n = len(feats)
    if n == 0:
        raise ValueError("train_quality_logreg_py: empty training set")
    w: dict[int, float] = {}
    for _ in range(epochs):
        grad: dict[int, float] = {}
        for ids, y in feats:
            margin = sum(w.get(i, 0.0) for i in ids)
            resid = 1.0 / (1.0 + math.exp(-margin)) - y
            for i in ids:
                grad[i] = grad.get(i, 0.0) + resid
        for idx, g in grad.items():
            g = _round_half_up(g, grad_round_dp)
            w[idx] = w.get(idx, 0.0) - lr * g / n
    bias = w.pop(_BIAS_IDX, 0.0)
    return {"weights": w, "bias": bias, "dim": dim}


def quality_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    hasher: str = "xxhash",
) -> DataFrame:
    """Corpus inference pass — the 10^12-doc side: the weight vector
    folds into a CONSTANT dense-array literal (O(1) element_at; a map
    literal's GetMapValue is a linear scan) and the margin is a
    pure-Column aggregate over the distinct-feature array. ZERO
    shuffles, zero joins, zero Python — the corpus never moves.
    Measured: 5,300 docs/s on 32 cores at dim=4096 over the sf0.1
    corpus — the interpreted HOF fold over (distinct) token hashes is
    the cost (the textstats.py HOF rule), on par with the other
    headline text queries; a fused Arrow kernel is the upgrade path if
    a profile ever shows this stage dominating."""
    if model["weights"]:
        # DENSE array literal: element_at is O(1) (a map literal's
        # GetMapValue is a linear scan — O(words x dim) per doc on the
        # corpus pass); 1-based element_at, idx+1
        warr = F.array(*[F.lit(v) for v in _model_dense(model)])
        margin = F.aggregate(
            "__feats",
            F.lit(float(model["bias"])),
            lambda acc, i: acc
            + F.element_at(warr, (i + 1).cast("int")),
        )
    else:
        margin = F.lit(float(model["bias"]))
    feats = df.withColumn(
        "__feats", _features_col(F.col(text_col), model["dim"], hasher)
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return feats.withColumn("quality_prob", prob).drop("__feats")


