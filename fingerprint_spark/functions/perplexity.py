"""KenLM-style character n-gram perplexity scoring (vectorized UDF).

A deterministic interpolated char-n-gram language model: trained once at
the driver (``train_char_ngram``) on clean in-domain text, broadcast to
executors inside the UDF closure (Spark serializes the closure once per
task — the "broadcast versioned lookup structure" pattern), then scored
over Arrow batches with numpy. High perplexity => out-of-domain / junk
text (the KenLM quality-signal stage of the north_star chain).

No external model files — the model is built from the corpus vocabulary,
fully deterministic (sorted iteration, no RNG).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import lru_cache

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import context_cached

DEFAULT_ORDER = 3
# perplexity above this is "junk" for the quality verdict
DEFAULT_PPL_THRESHOLD = 36.0


@dataclass(frozen=True)
class NGramModel:
    order: int
    # ((context, char) -> logp) flattened to sorted tuple for hashability
    logp: tuple[tuple[str, float], ...]
    backoff_logp: float

    def as_dict(self) -> dict[str, float]:
        return dict(self.logp)


def train_char_ngram(texts: list[str], order: int = DEFAULT_ORDER) -> NGramModel:
    """Add-one-smoothed char n-gram model with uniform backoff."""
    counts: dict[str, int] = {}
    ctx_counts: dict[str, int] = {}
    vocab: set[str] = set()
    for t in texts:
        s = ("\x02" * (order - 1)) + t.lower() + "\x03"
        for ch in s:
            vocab.add(ch)
        for i in range(order - 1, len(s)):
            gram = s[i - order + 1: i + 1]
            ctx = gram[:-1]
            counts[gram] = counts.get(gram, 0) + 1
            ctx_counts[ctx] = ctx_counts.get(ctx, 0) + 1
    v = max(len(vocab), 1)
    logp = {
        gram: math.log((c + 1.0) / (ctx_counts[gram[:-1]] + v))
        for gram, c in sorted(counts.items())
    }
    backoff = math.log(1.0 / (v * 4))
    return NGramModel(order=order, logp=tuple(sorted(logp.items())), backoff_logp=backoff)


def train_char_ngram_df(
    df,
    text_col: str = "text",
    order: int = DEFAULT_ORDER,
    min_count: int = 1,
    max_grams: int | None = None,
) -> NGramModel:
    """DataFrame-native distributed trainer — the scale path of
    train_char_ngram (which needs every training text collected to the
    driver; at a 100 TB in-domain reference corpus only the counting
    can be distributed, never the texts). One explode + one groupBy:
    the shuffle carries (gram string, long) pairs with map-side
    partial aggregation; only the MODEL (bounded by vocab^order, and
    further by min_count / max_grams) ever reaches the driver.

    Exact-parity contract (pinned by pytest): with min_count=1 and no
    cap, the model equals train_char_ngram over the same texts — same
    counts -> same add-one log-probabilities -> same floats. (Like
    words_array_col, parity assumes a root-ish JVM locale: F.lower is
    the JVM's locale-default toLowerCase while the driver trainer and
    score_text use Python str.lower — set -Duser.language=en on
    tr_TR/az deployments.) min_count / max_grams drop ENTRIES only
    (those grams fall back to the same backoff logp as unseen grams);
    context totals and vocabulary are computed BEFORE trimming, so
    retained probabilities are unchanged by trimming. max_grams keeps
    the most frequent grams (deterministic ties: lexicographic gram
    order)."""
    from pyspark.sql import functions as SF

    s = SF.concat(
        SF.lit("\x02" * (order - 1)),
        SF.lower(SF.coalesce(SF.col(text_col), SF.lit(""))),
        SF.lit("\x03"),
    )
    base = df.select(s.alias("__s"))
    grams = base.select(
        SF.explode(
            SF.expr(
                f"transform(sequence({order}, length(__s)), "
                f"i -> substring(__s, i - {order - 1}, {order}))"
            )
        ).alias("gram")
    )
    counts = grams.groupBy("gram").agg(SF.count("*").alias("c")).persist()
    # vocabulary = distinct chars of the padded text. Every char of s
    # appears in at least one gram (len(s) = order-1 pads + text + ETX
    # >= order always), so the SMALL counts table — not a second full
    # corpus scan — carries the exact vocab (review finding r5c: the
    # dedicated per-char corpus job doubled training I/O)
    v = (
        counts.select(
            SF.explode(
                SF.expr(
                    f"transform(sequence(1, {order}), "
                    "i -> substring(gram, i, 1))"
                )
            ).alias("ch")
        )
        .agg(SF.countDistinct("ch").alias("v"))
        .collect()[0]["v"]  # driver-bounded: 1 row
    )
    v = max(int(v), 1)
    ctx = (
        counts.groupBy(SF.expr(f"substring(gram, 1, {order - 1})").alias("__ctx"))
        .agg(SF.sum("c").alias("n"))
    )
    kept = counts.filter(SF.col("c") >= min_count)
    if max_grams is not None:
        from ..operators.topk import ranked_topk

        kept = ranked_topk(
            kept, [SF.desc("c"), SF.asc("gram")], max_grams, key="gram"
        ).drop("rank")
    rows = (
        kept.join(ctx, SF.expr(f"substring(gram, 1, {order - 1})") == SF.col("__ctx"))
        .select("gram", "c", "n")
        .collect()  # driver-bounded: <= max_grams (or vocab^order)
    )
    counts.unpersist()
    logp = {
        r["gram"]: math.log((int(r["c"]) + 1.0) / (int(r["n"]) + v))
        for r in rows
    }
    backoff = math.log(1.0 / (v * 4))
    return NGramModel(
        order=order, logp=tuple(sorted(logp.items())), backoff_logp=backoff
    )


def model_to_json(model: NGramModel) -> str:
    import json

    return json.dumps(
        {
            "order": model.order,
            "backoff_logp": model.backoff_logp,
            "logp": dict(model.logp),
        },
        sort_keys=True,
    )


def model_from_json(payload: str) -> NGramModel:
    import json

    d = json.loads(payload)
    return NGramModel(
        order=int(d["order"]),
        logp=tuple(sorted(d["logp"].items())),
        backoff_logp=float(d["backoff_logp"]),
    )


def score_text(model_dict: dict[str, float], order: int, backoff: float, text: str) -> float:
    """Per-char perplexity: exp(-avg logp)."""
    s = ("\x02" * (order - 1)) + (text or "").lower()[:4000] + "\x03"
    total = 0.0
    n = 0
    for i in range(order - 1, len(s)):
        gram = s[i - order + 1: i + 1]
        total += model_dict.get(gram, backoff)
        n += 1
    if n == 0:
        return float("inf")
    return math.exp(-total / n)


@context_cached(maxsize=4)
def _ppl_exact_udf(model: NGramModel, micro_items: tuple, backoff_micro: int):
    """Fused fixed-point + float scorer over the ALREADY padded/lowered/
    truncated string (built JVM-side so both engines share one
    tokenization). Replaces the explode -> broadcast join -> groupBy ->
    join-back plan of the exact path (guide §2.4 "remove shuffles
    outright"): per document the integer micro-logp total, the gram
    count and the float score are all derivable in ONE narrow pass, so
    the (doc_id, gram) shuffle — ~(len(text) rows/doc) — disappears.

    Fast path: for pure-ASCII batches the trigram ids pack into
    base-128 ints and both lookups become numpy gathers over 16 MiB
    LUTs (built once per Python worker, amortized via the factory
    memo + worker reuse). Non-ASCII documents fall back to the exact dict
    loop. Integer sums are order-independent, so the fixed-point
    contract is bit-identical to the join path by construction."""
    import numpy as np

    order = model.order
    micro = dict(micro_items)
    flogp = model.as_dict()
    fbackoff = model.backoff_logp
    luts: dict[str, "np.ndarray"] = {}

    def _get_luts():
        if not luts:
            dim = 128 ** order
            ilut = np.full(dim, backoff_micro, dtype=np.int64)
            flut = np.full(dim, fbackoff, dtype=np.float64)
            for g, v in micro.items():
                bs = g.encode("utf-8", errors="ignore")
                if len(bs) == order and max(bs) < 128:
                    idx = 0
                    for c in bs:
                        idx = idx * 128 + c
                    ilut[idx] = v
                    flut[idx] = flogp[g]
            luts["i"] = ilut
            luts["f"] = flut
        return luts["i"], luts["f"]

    def _one_slow(s: str) -> tuple[int, int, float]:
        total_i = 0
        total_f = 0.0
        n = len(s) - order + 1
        for i in range(order - 1, len(s)):
            g = s[i - order + 1: i + 1]
            total_i += micro.get(g, backoff_micro)
            total_f += flogp.get(g, fbackoff)
        return total_i, n, math.exp(-total_f / n)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("logp_micro_total", T.LongType()),
                T.StructField("n_grams", T.LongType()),
                T.StructField("ppl_udf", T.DoubleType()),
            ]
        )
    )
    def udf(padded: pd.Series) -> pd.DataFrame:
        ilut, flut = _get_luts()
        totals, ns, ppls = [], [], []
        for s in padded:
            try:
                b = s.encode("ascii")
            except UnicodeEncodeError:
                ti, n, p = _one_slow(s)
            else:
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                n_keys = len(arr) - order + 1
                keys = arr[:n_keys] * (128 ** (order - 1))
                for j in range(1, order):
                    keys = keys + arr[j: j + n_keys] * (
                        128 ** (order - 1 - j)
                    )
                ti = int(ilut[keys].sum())
                n = len(keys)
                p = math.exp(-float(flut[keys].sum()) / n)
            totals.append(ti)
            ns.append(n)
            ppls.append(p)
        return pd.DataFrame(
            {"logp_micro_total": totals, "n_grams": ns, "ppl_udf": ppls}
        )

    return udf


def ppl_exact_col(
    padded: Column, model: NGramModel, micro_items: tuple, backoff_micro: int
) -> Column:
    """padded/lowered string -> struct(logp_micro_total, n_grams,
    ppl_udf) under the broadcast fixed-point model (see _ppl_exact_udf)."""
    return _ppl_exact_udf(model, micro_items, backoff_micro)(padded)


@lru_cache(maxsize=4)
def score_text_fast_fn(model: NGramModel):
    """Per-text scorer BIT-IDENTICAL to score_text(model...) but ~6x
    faster on ASCII text (r6): trigram ids pack into base-128 ints and
    the logp lookup becomes a numpy gather over a float64 LUT, summed
    with cumsum — numpy's cumsum accumulates SEQUENTIALLY, so the float
    adds happen in the same order with the same IEEE ops as the Python
    loop (verified bit-exact over the full sf0.1 corpus + fixtures in
    test_r06_optimizations). Non-ASCII text falls back to score_text
    itself. Used by the enrich UDF (the flagship chain's per-doc ppl)."""
    import numpy as np

    logp = model.as_dict()
    order, backoff = model.order, model.backoff_logp
    luts: dict[str, "np.ndarray"] = {}

    def _lut():
        if "f" not in luts:
            flut = np.full(128 ** order, backoff, dtype=np.float64)
            for g, v in logp.items():
                bs = g.encode("utf-8", errors="ignore")
                if len(bs) == order and max(bs) < 128:
                    idx = 0
                    for c in bs:
                        idx = idx * 128 + c
                    flut[idx] = v
            luts["f"] = flut
        return luts["f"]

    def score(text: str) -> float:
        s = ("\x02" * (order - 1)) + (text or "").lower()[:4000] + "\x03"
        try:
            b = s.encode("ascii")
        except UnicodeEncodeError:
            return score_text(logp, order, backoff, text)
        import numpy as np

        arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
        n = len(arr) - order + 1
        if n <= 0:
            return float("inf")
        keys = arr[:n] * (128 ** (order - 1))
        for j in range(1, order):
            keys = keys + arr[j: j + n] * (128 ** (order - 1 - j))
        total = _lut()[keys].cumsum()[-1]
        return math.exp(-float(total) / n)

    return score


@context_cached(maxsize=4)
def _ppl_udf(model: NGramModel):
    d = model.as_dict()
    order, backoff = model.order, model.backoff_logp

    @F.pandas_udf(T.DoubleType())
    def udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [score_text(d, order, backoff, t) for t in texts], dtype="float64"
        )

    return udf


def perplexity_col(text: Column, model: NGramModel) -> Column:
    """text -> per-char perplexity under the broadcast model."""
    return _ppl_udf(model)(text)
