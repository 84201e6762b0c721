"""Text-signal queries: language ID, Gopher statistics, the text and
html quality-filter verdicts, PII scrub, token counts, perplexity, the
trained quality score, Unicode normalization and repetition."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.langid import TOKEN_SPLIT_RE, langid_best
from ..functions.scrub import PII_PATTERNS, scrub_counts, scrub_text
from ..functions.textstats import (
    GOPHER_FLAGS,
    gopher_quality_flags,
    oracle_flags_sql,
    text_stats,
)
from ._common import (
    _doc,
    _escape_html,
    _fan_out,
    _sql_flag_whens,
    _sql_keep_ctes,
    _sql_lang_case,
    _sql_lang_scores,
    _sql_stats_cte,
)


_SQL_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), "
    f"'{TOKEN_SPLIT_RE}'), t -> t <> '')"
)


_LID_DIM, _LID_EPOCHS, _LID_LR, _LID_GRAD_DP = 512, 8, 2.0, 6
_LID_PREFIX = 256  # trained tier classifies a 256-char prefix
_LID_MODEL_CACHE: dict | None = None


def _lid_model() -> dict:
    """Twin-trained md5-portable langid model (cached). The Spark
    trainer's bit-identity to this twin is pinned by pytest
    (test_langid_weights_cross_engine_identical), so the headline row
    can skip the 8-epoch Spark job and still certify the SAME weights;
    the oracle row then checks INFERENCE cross-engine."""
    global _LID_MODEL_CACHE
    if _LID_MODEL_CACHE is None:
        from ..operators.langid_classifier import (
            LANGID_TRAIN_FIXTURE,
            train_langid_softmax_py,
        )

        _LID_MODEL_CACHE = train_langid_softmax_py(
            LANGID_TRAIN_FIXTURE, dim=_LID_DIM, epochs=_LID_EPOCHS,
            lr=_LID_LR, hasher="md5", grad_round_dp=_LID_GRAD_DP,
        )
    return _LID_MODEL_CACHE


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID stage (SURVEY §7 step 6): BOTH tiers in one row —
    the marker-word Column scorer (langid_best) and the TRAINED
    fastText-shaped softmax (operators/langid_classifier) under the
    hard oracle signal. The trained tier classifies a 256-char prefix
    (pre-truncated at the query level so both engines compose
    lower/truncate identically) through langid_classify_micro_arrow:
    the weights quantize to integers once, so the per-class margin is
    an exact int64 sum in any engine — the language verdict is
    bit-exact and the softmax's exp() inputs are IEEE-identical
    doubles (the perplexity row's fixed-point contract). The micro
    kernel is Arrow-batched to keep the headline row fast (a Column
    fold's interpreted md5 gram hashing costs ~1 ms/doc) and is pinned
    against the double-path Column fold by pytest. Reference analog:
    the langid gate in the keep/drop fold (src/pipeline/enricher.rs)."""
    from ..operators.langid_classifier import langid_classify_micro_arrow

    df = _fan_out(_doc(spark, sf_dir))
    df = df.withColumn(
        "__t", F.substring(F.col("text"), 1, _LID_PREFIX)
    )
    df = langid_classify_micro_arrow(
        df, _lid_model(), text_col="__t", out_col="__lid"
    )
    return df.select(
        "doc_id",
        langid_best(F.col("text"))["lang"].alias("lang_detected"),
        F.col("__lid.lang").alias("lang_trained"),
        F.round(F.col("__lid.prob"), 6).alias("prob_trained"),
    )


def sql_langid() -> str:
    model = _lid_model()
    from ..operators.langid_classifier import model_micro

    classes = model["classes"]
    L = len(classes)
    fm, bm = model_micro(model)
    warr = "[" + ", ".join(str(v) for v in fm) + "]"
    margin_cols = ", ".join(
        f"({bm[c]} + coalesce(list_sum(list_transform("
        f"ids, i -> warr[(i * {L} + {c} + 1)::int])), 0))::bigint AS m{c}"
        for c in range(L)
    )
    gm = "greatest(" + ", ".join(f"m{c}" for c in range(L)) + ")"
    z = " + ".join(
        f"exp((m{c} - {gm})::double / 1000000.0)" for c in range(L)
    )
    # argmax on the exact integer margins, ties to the smallest class
    # index (the Column path's nrank trick): the first class that is
    # >= all later ones wins
    case = "CASE " + " ".join(
        f"WHEN {' AND '.join(f'm{c} >= m{d}' for d in range(c + 1, L))} "
        f"THEN '{classes[c]}'"
        for c in range(L - 1)
    ) + f" ELSE '{classes[L - 1]}' END"
    return f"""
WITH w AS (SELECT {warr}::BIGINT[] AS warr),
g AS (
  SELECT doc_id,
    '  ' || substr(lower(substr(coalesce(text, ''), 1, {_LID_PREFIX})),
                   1, 2000) || ' ' AS padded
  FROM documents
),
f AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, length(padded) - 1),
      i -> ('0x' || substr(md5('g:' || substr(padded, i::int, 3)), 1, 15)
           )::bigint % {_LID_DIM}
    )) AS ids
  FROM g
),
m AS (SELECT doc_id, {margin_cols} FROM f, w),
p AS (
  SELECT doc_id, {case} AS lang_trained,
    round(1.0 / ({z}), 6) AS prob_trained
  FROM m
),
s AS ({_sql_lang_scores()})
SELECT s.doc_id, {_sql_lang_case()} AS lang_detected,
  p.lang_trained, p.prob_trained
FROM s JOIN p ON s.doc_id = p.doc_id
"""


def q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A.1 stats + quality flags in ONE row (r3 VERDICT #1: the
    driver's correctness harness budgets ~50 rows; stats and flags
    share one _sql_stats_cte, so two rows bought no extra signal)."""
    df = _fan_out(_doc(spark, sf_dir))
    df = df.withColumn("stats", text_stats(F.col("text")))
    s = F.col("stats")
    flags = gopher_quality_flags(s)
    return df.select(
        "doc_id",
        s["n_words"].cast("bigint").alias("n_words"),
        s["n_lines"].cast("bigint").alias("n_lines"),
        s["stopword_hits"].cast("bigint").alias("stopword_hits"),
        *[flags[n].cast("int").alias(n) for n in GOPHER_FLAGS],
    )


def sql_gopher() -> str:
    cols = ", ".join(
        f"{expr}::int AS {name}" for name, expr in oracle_flags_sql().items()
    )
    return (
        f"WITH s AS ({_sql_stats_cte()}) "
        "SELECT doc_id, n_words::bigint AS n_words, n_lines::bigint AS n_lines, "
        f"stopword_hits::bigint AS stopword_hits, {cols} FROM s"
    )


def q_pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable flagship: full text-variant verdict per doc
    (langid -> heuristics; ppl stage excluded because a broadcast n-gram
    model is not SQL-expressible — covered by rows-only query + pytest)."""
    from ..pipeline import quality_filter_text

    df = _fan_out(_doc(spark, sf_dir)).withColumnRenamed("doc_id", "url")
    out = quality_filter_text(df, text_col="text", url_col="url")
    return out.select(
        F.col("url").alias("doc_id"),
        F.col("keep").cast("int").alias("keep"),
        F.coalesce(F.col("drop_reason"), F.lit("")).alias("drop_reason"),
    )


def sql_pipeline_keep() -> str:
    return f"""
{_sql_keep_ctes()}
SELECT doc_id,
  (CASE WHEN lang_detected <> 'en' THEN 0
        {_sql_flag_whens("0")}
        ELSE 1 END)::int AS keep,
  coalesce(CASE WHEN lang_detected <> 'en' THEN 'langid:' || lang_detected
        {_sql_flag_whens("'heuristic:{flag}'")} END, '') AS drop_reason
FROM j
"""


def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _fan_out(_doc(spark, sf_dir))
    counts = scrub_counts(F.col("text"))
    total = None
    for name, _p, _r in PII_PATTERNS:
        c = counts[name].cast("bigint")
        total = c if total is None else total + c
    return df.select(
        "doc_id",
        scrub_text(F.col("text")).alias("scrubbed_text"),
        total.alias("n_pii"),
    )


def sql_scrub() -> str:
    from ..functions.scrub import oracle_scrub_sql

    n_pii = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))::bigint"
        for _n, pat, _r in PII_PATTERNS
    )
    return (
        f"SELECT doc_id, {oracle_scrub_sql('text')} AS scrubbed_text, "
        f"{n_pii} AS n_pii FROM documents"
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace+punct tokenizer)."""
    df = _doc(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT_RE), lambda t: t != ""
    )
    return df.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
    )


def sql_token_stats() -> str:
    return (
        f"SELECT doc_id, len({_SQL_TOKS})::bigint AS n_tokens, "
        f"len(list_distinct({_SQL_TOKS}))::bigint AS n_unique_tokens "
        "FROM documents"
    )


def q_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: wrap documents as html and run the FULL chain (parse UDF
    -> template fold -> langid -> ppl -> heuristics -> scrub)."""
    from ..pipeline import quality_filter

    # fan out FIRST (scale-adaptive no-op at real scale — r6): the html
    # synthesis used to sit below the repartition, so its string passes
    # ran on the single scan task and the exchange carried the inflated
    # html instead of the raw text
    df = _fan_out(_doc(spark, sf_dir))
    html = F.concat(
        F.lit("<html><head><title>t</title></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.replace(_escape_html(F.col("text")), F.lit("\n"), F.lit("</p><p>")),
        F.lit("</p></body></html>"),
    )
    docs = df.select(
        F.concat(F.lit("https://"), "source", F.lit("/doc/"), F.col("doc_id")).alias("url"),
        (F.lit("2024-01-01").cast("timestamp") + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    out = quality_filter(docs)
    return out.select(
        "url",
        F.col("keep").cast("int").alias("keep"),
        F.coalesce("drop_reason", F.lit("")).alias("drop_reason"),
        "lang_detected",
        F.round("ppl", 2).alias("ppl"),
        F.col("fingerprint.matched").cast("int").alias("template_matched"),
    )


_CLF_DIM, _CLF_EPOCHS, _CLF_LR, _CLF_GRAD_DP = 512, 8, 2.0, 6


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality classifier under the HARD oracle signal
    (round-5 VERDICT #3): train the DataFrame-native logreg on the
    fixed in-code labeled fixture (md5-portable feature hasher,
    per-epoch HALF_UP gradient rounding -> weights bit-identical to
    the pure-Python twin, pinned by pytest), then run the zero-shuffle
    dense-literal inference over documents. The oracle retrains with
    the Python twin and recomputes the sigmoid margin in DuckDB with
    the dense weight array as a SQL literal. Reference analog:
    heuristic scoring fold, src/pipeline/enricher.rs:470-499."""
    from ..operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
        quality_score,
        train_quality_logreg,
    )

    train = spark.createDataFrame(
        QUALITY_TRAIN_FIXTURE, "text string, label int"
    )
    model = train_quality_logreg(
        train, dim=_CLF_DIM, epochs=_CLF_EPOCHS, lr=_CLF_LR,
        hasher="md5", grad_round_dp=_CLF_GRAD_DP,
    )
    df = _fan_out(_doc(spark, sf_dir).select("doc_id", "text"))
    scored = quality_score(df, model, hasher="md5")
    return scored.select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )


def sql_quality_score() -> str:
    from ..operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
        train_quality_logreg_py,
    )

    from ..operators.quality_classifier import _model_dense

    model = train_quality_logreg_py(
        QUALITY_TRAIN_FIXTURE, dim=_CLF_DIM, epochs=_CLF_EPOCHS,
        lr=_CLF_LR, grad_round_dp=_CLF_GRAD_DP,
    )
    arr = "[" + ", ".join(repr(v) for v in _model_dense(model)) + "]"
    return f"""
WITH w AS (SELECT {arr}::DOUBLE[] AS warr),
feats AS (
  SELECT doc_id,
    list_distinct([
      ('0x' || substr(md5('f:' || x), 1, 15))::bigint % {_CLF_DIM}
      FOR x IN list_filter(
        regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'),
        t -> t <> '')
    ]) AS f
  FROM documents
)
SELECT doc_id,
  round(1.0 / (1.0 + exp(-({model["bias"]!r}
    + coalesce(list_sum(list_transform(f, i -> warr[(i + 1)::int])), 0.0)
  ))), 6) AS quality_prob
FROM feats, w
"""


_PPL_ORDER = 3
_PPL_SCALE = 10**12  # fixed-point: micro-logp = round(logp * 1e12)
_PPL_UDF_TOL = 1e-6  # production-UDF vs fixed-point agreement bound


def _ppl_micro_model():
    """(micro-logp dict, micro backoff, NGramModel) for the fixture LM.

    The LM trains on the label-1 (reference-quality prose) half of
    QUALITY_TRAIN_FIXTURE — the KenLM recipe: fit on clean in-domain
    text, score everything, high perplexity = out-of-domain/junk.

    Fixed-point contract: each float log-probability is scaled by 1e12
    and HALF_UP-rounded to an INTEGER once at the driver; both engines
    then sum the SAME integers, so per-document totals are bit-identical
    by construction — no cross-engine float-sum-order hazard (the
    ann_recall/quality_score playbook, taken one step further: the
    contract columns are exact bigints, not rounded doubles).
    """
    from ..functions.perplexity import train_char_ngram
    from ..operators.quality_classifier import QUALITY_TRAIN_FIXTURE
    from ..operators.similarity import _round_half_up

    clean = [t for t, label in QUALITY_TRAIN_FIXTURE if label == 1]
    model = train_char_ngram(clean, order=_PPL_ORDER)
    micro = {
        g: int(_round_half_up(lp * _PPL_SCALE, 0)) for g, lp in model.logp
    }
    backoff_micro = int(_round_half_up(model.backoff_logp * _PPL_SCALE, 0))
    return micro, backoff_micro, model


def q_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style char-n-gram perplexity under the HARD oracle signal
    (the north_rule's named quality stage, previously covered only
    inside the rows-only html_pipeline chain). Two paths side-by-side,
    the sketches/winnow pattern:

    - exact path (the contract): pad+lower the text JVM-side, then sum
      the per-trigram micro-logp INTEGERS of the broadcast fixture
      model (closure-shipped lookup table — the north_star's "versioned
      template definitions broadcast as lookup structures") inside one
      Arrow pass. Integer sums are order-independent, so the total is
      bit-identical to the former explode+join+groupBy plan while
      shuffling nothing (r6: that plan moved one row per gram, twice).
    - production float scorer: the same Arrow pass also scores the RAW
      text with functions/perplexity.score_text_fast_fn — the scorer
      quality_filter's enrich UDF and quality_filter_text's
      perplexity_col run — and `udf_agrees` pins |udf - exact| <= 1e-6
      INSIDE the oracle row. The two operands are independent: the
      float one lowers and truncates the raw text in Python, the exact
      one sums over the JVM-built padded string. score_text_fast_fn is
      also pinned bit-identical to the score_text reference by
      tests/test_r06_optimizations.py.

    Reference analog: the n-gram perplexity quality signal in the
    enrich stage, src/pipeline/enricher.rs (perplexity fold) — scoring
    semantics re-derived from public KenLM/CCNet descriptions.
    """
    from ..functions.perplexity import ppl_exact_col

    micro, backoff_micro, model = _ppl_micro_model()
    base = _fan_out(_doc(spark, sf_dir).select("doc_id", "text"))
    # pad/lower/truncate JVM-side (unchanged tokenization contract),
    # then ONE fused Arrow pass computes the exact integer total and the
    # gram count, and scores the raw text with the production scorer —
    # the former explode -> broadcast join -> groupBy -> join-back plan
    # shuffled one row per gram (~len(text) rows/doc) twice; this plan
    # has ZERO exchanges (guide §2.4). Integer sums are order-
    # independent, so logp_micro_total is bit-identical to the join
    # path's sum of the SAME per-gram integers.
    padded = base.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("\x02" * (_PPL_ORDER - 1)),
            F.substring(
                F.lower(F.coalesce(F.col("text"), F.lit(""))), 1, 4000
            ),
            F.lit("\x03"),
        ).alias("__s"),
    )
    scored = padded.select(
        "doc_id",
        ppl_exact_col(
            F.col("__s"),
            F.col("text"),
            model,
            tuple(sorted(micro.items())),
            backoff_micro,
        ).alias("__r"),
    )
    exact_ppl = F.exp(
        -(F.col("__r.logp_micro_total") / F.lit(float(_PPL_SCALE)))
        / F.col("__r.n_grams")
    )
    return scored.select(
        "doc_id",
        F.col("__r.n_grams").alias("n_grams"),
        F.col("__r.logp_micro_total").alias("logp_micro_total"),
        F.round(exact_ppl, 6).alias("ppl"),
        (F.abs(F.col("__r.ppl_udf") - exact_ppl) <= _PPL_UDF_TOL).alias(
            "udf_agrees"
        ),
    )


def _sql_gram_literal(g: str) -> str:
    """DuckDB string expression for a gram that may contain the STX/ETX
    pad bytes — control chars go through chr(n), printable runs through
    quoted literals, so the generated SQL stays plain ASCII."""
    parts: list[str] = []
    buf = ""
    for ch in g:
        if ord(ch) < 32:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return "||".join(parts) if parts else "''"


def sql_perplexity() -> str:
    micro, backoff_micro, _model = _ppl_micro_model()
    vals = ", ".join(
        f"({_sql_gram_literal(g)}, {v})" for g, v in sorted(micro.items())
    )
    pads = "||".join(["chr(2)"] * (_PPL_ORDER - 1))
    return f"""
WITH model(gram, lp_micro) AS (VALUES {vals}),
docs AS (SELECT doc_id,
  {pads}||substr(lower(coalesce(text,'')),1,4000)||chr(3) AS s
  FROM documents),
grams AS (SELECT doc_id,
  unnest([substr(s, i - {_PPL_ORDER - 1}, {_PPL_ORDER})
          FOR i IN generate_series({_PPL_ORDER}, length(s))]) AS gram
  FROM docs),
agg AS (SELECT doc_id,
  CAST(sum(coalesce(lp_micro, {backoff_micro})) AS BIGINT)
    AS logp_micro_total,
  count(*)::bigint AS n_grams
  FROM grams LEFT JOIN model USING (gram) GROUP BY doc_id)
SELECT doc_id, n_grams, logp_micro_total,
  round(exp(-((logp_micro_total::double)/{float(_PPL_SCALE)!r})/n_grams), 6)
    AS ppl,
  TRUE AS udf_agrees
FROM agg
"""


# GPT-2-style BPE pre-tokenization (contraction pieces, letter runs,
# digit runs, punct runs, whitespace runs) — written to be valid in BOTH
# Java regex (Spark) and RE2 (DuckDB): unicode categories, no lookarounds
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the training-data tokenizer shape): count
    of GPT-2-style pre-tokenization pieces per doc, JVM-side regex."""
    df = _doc(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), F.lit(0))
    return df.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_pieces"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_pieces"),
    )


def sql_token_bpe() -> str:
    pat = BPE_SPLIT_RE.replace("'", "''")  # SQL string-literal escaping
    return f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{pat}'))::bigint AS n_bpe_pieces,
  len(list_distinct(regexp_extract_all(text, '{pat}')))::bigint
    AS n_unique_pieces
FROM documents
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (operators/curation.repetition_profile):
    most-frequent word bigram per document (ties -> smallest), duplicate
    bigram occurrences, total bigrams — all-integer output, hash-exact."""
    from ..operators.curation import repetition_profile

    return repetition_profile(
        _fan_out(_doc(spark, sf_dir)), "text", "doc_id", 2
    ).select(
        "doc_id", "top_ngram",
        F.col("top_count").cast("bigint").alias("top_count"),
        F.col("dup_ngram_occ").cast("bigint").alias("dup_ngram_occ"),
        F.col("n_ngrams").cast("bigint").alias("n_ngrams"),
    )


def sql_repetition() -> str:
    return """
WITH w AS (SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
  FROM documents),
ng AS (SELECT doc_id, array_to_string(ws[i.i+1 : i.i+2], ' ') AS g
  FROM w, LATERAL unnest(
    range(0, greatest(0, len(ws) - 1))) AS i(i)),
c AS (SELECT doc_id, g, count(*) AS cnt FROM ng GROUP BY doc_id, g),
rk AS (SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM c)
SELECT doc_id,
  max(CASE WHEN rn = 1 THEN g END) AS top_ngram,
  max(CASE WHEN rn = 1 THEN cnt END)::bigint AS top_count,
  sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::bigint AS dup_ngram_occ,
  sum(cnt)::bigint AS n_ngrams
FROM rk GROUP BY doc_id
"""


# decomposed / mojibake sample suffixes, chosen by doc_id % 4: combining
# acute, combining tilde + latin-1 mojibake, combining diaeresis + em-dash
# mojibake, plain ascii (the no-op control)
NFC_SAMPLES = [
    "cafe\u0301 du parc",          # combining acute: NFC -> caf\u00e9
    "man\u0303ana \u00c3\u00a9 clean",  # combining tilde + e-acute mojibake
    "noe\u0308l \u00e2\u20ac\u201d fin",  # combining diaeresis + em-dash mojibake
    "plain ascii only",            # the no-op control
]


def q_nfc_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization (functions/normalize.py): per doc a
    deterministic decomposed/mojibake suffix is appended, repaired
    (JVM replace chain) and NFC-normalized (one Arrow stage with
    CPython's unicodedata); DuckDB recomputes with its native
    nfc_normalize over the SAME generated replace chain — byte-exact
    or the row fails."""
    from ..functions.normalize import mojibake_fix_col, nfc_normalize_col

    raw = F.concat(
        F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "),
        F.element_at(
            F.array(*[F.lit(s) for s in NFC_SAMPLES]),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ),
    )
    return _doc(spark, sf_dir).select(
        "doc_id",
        nfc_normalize_col(mojibake_fix_col(raw)).alias("text_norm"),
        F.length(raw).cast("bigint").alias("len_raw"),
        F.length(nfc_normalize_col(mojibake_fix_col(raw)))
        .cast("bigint")
        .alias("len_norm"),
    )


def sql_nfc_norm() -> str:
    from ..functions.normalize import MOJIBAKE_TABLE

    def esc(s: str) -> str:
        return s.replace("'", "''")

    cases = " ".join(
        f"WHEN {i} THEN '{esc(s)}'" for i, s in enumerate(NFC_SAMPLES)
    )
    fixed = "raw"
    for bad, good in MOJIBAKE_TABLE:
        fixed = f"replace({fixed}, '{esc(bad)}', '{esc(good)}')"
    return f"""
WITH r AS (SELECT doc_id,
    'doc ' || doc_id || ' ' || (CASE doc_id % 4 {cases} END) AS raw
  FROM documents)
SELECT doc_id, nfc_normalize({fixed}) AS text_norm,
  length(raw)::bigint AS len_raw,
  length(nfc_normalize({fixed}))::bigint AS len_norm
FROM r
"""


QUERIES = {
    "langid": (q_langid, sql_langid),
    "gopher": (q_gopher, sql_gopher),
    "pipeline_keep": (q_pipeline_keep, sql_pipeline_keep),
    "scrub": (q_scrub, sql_scrub),
    "token_stats": (q_token_stats, sql_token_stats),
    "quality_score": (q_quality_score, sql_quality_score),
    "perplexity": (q_perplexity, sql_perplexity),
    "token_bpe": (q_token_bpe, sql_token_bpe),
    "repetition": (q_repetition, sql_repetition),
    "nfc_norm": (q_nfc_norm, sql_nfc_norm),
    # the one genuinely non-SQL-expressible query left (full
    # parse-UDF chain incl. broadcast n-gram perplexity model)
    "html_pipeline": (q_html_pipeline, None),
}
