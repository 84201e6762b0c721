"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each query exists twice — as a DataFrame program (the engine under test)
and as ANSI SQL for DuckDB (the oracle). Both sides are generated from the
SAME module constants (marker lists, thresholds, regexes) so the pair can
only diverge through engine semantics, which is exactly what the driver's
row-count + schema + value-hash comparison is meant to catch.

Output discipline (driver hashes values after sorting columns by name):
- only strings / bigints / exact decimals in oracle-checked outputs;
- every computed column aliased identically on both sides;
- floats only when rounded, and only where a knife-edge tie is impossible.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves type-hint strings here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .functions.langid import (
    LANGS,
    MIN_SCORE,
    TOKEN_SPLIT_RE,
    langid_best,
    sql_lang_score,
)
from .functions.scrub import PII_PATTERNS, scrub_counts, scrub_text
from .functions.textstats import (
    MAX_BULLET_LINE_FRAC,
    MAX_DUP_LINE_FRAC,
    MAX_ELLIPSIS_LINE_FRAC,
    MAX_MEAN_WORD_LEN,
    MAX_SYMBOL_WORD_RATIO,
    MAX_WORDS,
    MIN_ALPHA_WORD_FRAC,
    MIN_MEAN_WORD_LEN,
    MIN_STOPWORD_HITS,
    MIN_WORDS,
    gopher_quality_flags,
    oracle_stats_sql,
    text_stats,
)
from .operators.assertions import (
    _CURRENCY_RE,
    _DATE_RE,
    _NUMBER_RE,
    _PCT_RE,
)

FLAG_NAMES = [
    "words_in_range", "mean_word_len_in_range", "symbol_ratio_ok",
    "ellipsis_ok", "bullet_ok", "alpha_ok", "stopwords_ok", "dup_lines_ok",
]


def _doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_FAN_OUT_MAX_BYTES = 256 << 20


def _fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan fan-out (optimization guide §2.6/§6): the test
    corpora are single small parquet files with one row group, so the
    scan yields ONE split and every narrow stage above it (regex chains,
    Arrow UDFs, explode+map-side aggregation) serializes onto one core.
    Round-robin repartition to the session's parallelism ONLY when the
    scan under-splits AND the input is small enough that the extra
    exchange is trivially cheap (on a moderately-split mid-size table
    the repartition costs more than the tail it fixes — measured on the
    10x lineitem replica; and at real scale the scan already yields >=
    cores splits). The conditions (not constants) are what keep this
    scale-adaptive rather than tuned to local[32]."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if size < _FAN_OUT_MAX_BYTES:
        return df.repartition(p)
    return df


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ---------------------------------------------------------------------------

_SQL_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), "
    f"'{TOKEN_SPLIT_RE}'), t -> t <> '')"
)


def _sql_lang_scores() -> str:
    """CTE body computing per-language marker fractions."""
    return (
        "SELECT doc_id, "
        + ", ".join(
            f"{sql_lang_score(lang)} AS s_{lang}" for lang in LANGS
        )
        + " FROM documents"
    )


def _sql_lang_case() -> str:
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANGS) + ")"
    whens = " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in LANGS
    )
    return f"CASE WHEN {best} < {MIN_SCORE} THEN 'und' {whens} END"


def _sql_stats_cte() -> str:
    """Per-doc statistics CTE matching functions.textstats.text_stats."""
    frags = oracle_stats_sql("text")
    cols = ", ".join(f"{expr} AS {name}" for name, expr in frags.items())
    return f"SELECT doc_id, text, {cols} FROM documents"


_SQL_FLAG_EXPRS = {
    "words_in_range": f"(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})",
    "mean_word_len_in_range": f"(mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN})",
    "symbol_ratio_ok": f"(symbol_word_ratio <= {MAX_SYMBOL_WORD_RATIO})",
    "ellipsis_ok": f"(ellipsis_line_frac <= {MAX_ELLIPSIS_LINE_FRAC})",
    "bullet_ok": f"(bullet_line_frac <= {MAX_BULLET_LINE_FRAC})",
    "alpha_ok": f"(alpha_word_frac >= {MIN_ALPHA_WORD_FRAC})",
    "stopwords_ok": f"(stopword_hits >= {MIN_STOPWORD_HITS})",
    "dup_lines_ok": f"(dup_line_frac <= {MAX_DUP_LINE_FRAC})",
}


# ---------------------------------------------------------------------------
# oracle-checked queries
# ---------------------------------------------------------------------------


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
        from .operators.langid_classifier import (
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
    from .operators.langid_classifier import langid_classify_micro_arrow

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
    from .operators.langid_classifier import model_micro

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
        *[flags[n].cast("int").alias(n) for n in FLAG_NAMES],
    )


def sql_gopher() -> str:
    cols = ", ".join(
        f"{expr}::int AS {name}" for name, expr in _SQL_FLAG_EXPRS.items()
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
    from .pipeline import quality_filter_text

    df = _fan_out(_doc(spark, sf_dir)).withColumnRenamed("doc_id", "url")
    out = quality_filter_text(df, text_col="text", url_col="url")
    return out.select(
        F.col("url").alias("doc_id"),
        F.col("keep").cast("int").alias("keep"),
        F.coalesce(F.col("drop_reason"), F.lit("")).alias("drop_reason"),
    )


def sql_pipeline_keep() -> str:
    heur = " ".join(
        f"WHEN NOT {_SQL_FLAG_EXPRS[n]} THEN 'heuristic:{n}'" for n in FLAG_NAMES
    )
    return f"""
WITH stats AS ({_sql_stats_cte()}),
langs AS ({_sql_lang_scores()}),
l AS (SELECT doc_id, {_sql_lang_case()} AS lang_detected FROM langs),
j AS (SELECT s.*, l.lang_detected FROM stats s JOIN l USING (doc_id))
SELECT doc_id,
  (CASE WHEN lang_detected <> 'en' THEN 0
        {" ".join(f"WHEN NOT {_SQL_FLAG_EXPRS[n]} THEN 0" for n in FLAG_NAMES)}
        ELSE 1 END)::int AS keep,
  coalesce(CASE WHEN lang_detected <> 'en' THEN 'langid:' || lang_detected
        {heur} END, '') AS drop_reason
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
    from .functions.scrub import oracle_scrub_sql

    n_pii = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))::bigint"
        for _n, pat, _r in PII_PATTERNS
    )
    return (
        f"SELECT doc_id, {oracle_scrub_sql('text')} AS scrubbed_text, "
        f"{n_pii} AS n_pii FROM documents"
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content md5 (training-data op #1)."""
    df = _doc(spark, sf_dir)
    return (
        df.select("doc_id", F.md5(F.col("text")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count("*").cast("bigint").alias("dup_count"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
    )


def sql_exact_dedup() -> str:
    return (
        "SELECT md5(text) AS content_md5, count(*)::bigint AS dup_count, "
        "min(doc_id)::bigint AS keeper_doc_id FROM documents GROUP BY 1"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of case/whitespace-canonicalized text."""
    df = _doc(spark, sf_dir)
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return df.select("doc_id", F.md5(canon).alias("fingerprint"))


def sql_doc_fingerprint() -> str:
    return (
        "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
        "AS fingerprint FROM documents"
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


def q_source_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filename_regex analog over the source column (assertions.rs:1028)."""
    df = _doc(spark, sf_dir)
    return df.filter(F.col("source").rlike("^src1[0-9]$")).select(
        "doc_id", "source"
    )


def sql_source_filter() -> str:
    return (
        "SELECT doc_id, source FROM documents "
        "WHERE regexp_matches(source, '^src1[0-9]$')"
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-metrics style rollup over the events stream table."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("epoch_hour"),
        "event_type",
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 1000000).cast("bigint")).alias(
            "sum_value_micros"
        ),
    )


def sql_events_hourly() -> str:
    return """
SELECT floor(epoch(ts) / 3600)::bigint AS epoch_hour, event_type,
  count(*)::bigint AS n_events,
  sum(round(value * 1000000)::bigint)::bigint AS sum_value_micros
FROM events GROUP BY 1, 2
"""


_CELL_COLS = {
    "l_orderkey": "number",
    "l_quantity": "number",
    "l_shipdate": "date",
    "l_returnflag": "string",
}


def q_cell_type_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_shape majority-vote cell typing (assertions.rs:2204-2342) run
    relationally over lineitem columns cast to strings.

    No _fan_out here (r6): lineitem is 16 wide columns — the A/B showed
    the round-robin exchange of the full table costs more than the
    under-split scan tail it fixes (the skinny documents-table queries
    are where fan-out wins)."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    stack_expr = "stack({}, {})".format(
        len(_CELL_COLS),
        ", ".join(
            f"'{c}', cast({c} as string)" for c in _CELL_COLS
        ),
    )
    cells = df.select(F.expr(stack_expr).alias("column_name", "cell"))
    # classify DISTINCT values, weight by multiplicity: the regex chain
    # runs once per distinct cell instead of once per cell (~16x fewer
    # evals on these columns; measured 1.7x end-to-end). Real tables have
    # bounded cell vocabularies, so the distinct groupBy shuffles far
    # less than the regex work it saves.
    dv = cells.groupBy("column_name", "cell").agg(F.count("*").alias("n"))
    typed = dv.select(
        "column_name",
        (
            F.when(F.trim(F.col("cell")) == "", "empty")
            .when(F.trim(F.col("cell")).rlike(_CURRENCY_RE), "currency")
            .when(F.trim(F.col("cell")).rlike(_PCT_RE), "percentage")
            .when(F.trim(F.col("cell")).rlike(_NUMBER_RE), "number")
            .when(F.trim(F.col("cell")).rlike(_DATE_RE), "date")
            .otherwise("string")
        ).alias("cell_type"),
        "n",
    )
    counts = typed.groupBy("column_name", "cell_type").agg(
        F.sum("n").alias("cnt")
    )
    w = W.partitionBy("column_name").orderBy(
        F.desc("cnt"), F.asc("cell_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("column_name", F.col("cell_type").alias("majority_type"))
    )


def sql_cell_type_majority() -> str:
    unions = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, cast({c} AS varchar) AS cell FROM lineitem"
        for c in _CELL_COLS
    )
    return f"""
WITH cells AS ({unions}),
typed AS (
  SELECT column_name,
    CASE WHEN trim(cell) = '' THEN 'empty'
         WHEN regexp_matches(trim(cell), '{_CURRENCY_RE}') THEN 'currency'
         WHEN regexp_matches(trim(cell), '{_PCT_RE}') THEN 'percentage'
         WHEN regexp_matches(trim(cell), '{_NUMBER_RE}') THEN 'number'
         WHEN regexp_matches(trim(cell), '{_DATE_RE}') THEN 'date'
         ELSE 'string' END AS cell_type
  FROM cells),
counts AS (
  SELECT column_name, cell_type, count(*) AS cnt
  FROM typed GROUP BY 1, 2),
ranked AS (
  SELECT column_name, cell_type,
    row_number() OVER (PARTITION BY column_name ORDER BY cnt DESC, cell_type ASC) AS rn
  FROM counts)
SELECT column_name, cell_type AS majority_type FROM ranked WHERE rn = 1
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (training-data op):
    query = embedding of vec_id 0; returns top 10 neighbors by rounded
    cosine with deterministic (score, vec_id) tie-break."""
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    joined = df.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with("embedding", "q_emb", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm_q = F.sqrt(
        F.aggregate(
            F.transform("q_emb", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = joined.select(
        "vec_id", F.round(dot / (norm_a * norm_q), 4).alias("cos_r")
    )
    # TakeOrderedAndProject (per-partition top-k + driver merge) instead
    # of a global unpartitioned window; the rank window sees only the 10
    # rows (operators/topk.py: non-foldable type-agnostic partition spec)
    from .operators.topk import ranked_topk

    top = ranked_topk(
        scored, [F.desc("cos_r"), F.asc("vec_id")], 10, key="vec_id"
    )
    return top.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def sql_embedding_topk() -> str:
    return """
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
    round(
      list_sum(list_transform(list_zip(e.embedding, q.q_emb),
                              p -> p[1]::double * p[2]::double))
      / (sqrt(list_sum(list_transform(e.embedding, x -> x::double * x::double)))
         * sqrt(list_sum(list_transform(q.q_emb, x -> x::double * x::double)))),
      4) AS cos_r
  FROM embeddings e, q WHERE e.vec_id <> 0),
ranked AS (
  SELECT vec_id, row_number() OVER (ORDER BY cos_r DESC, vec_id ASC) AS rank
  FROM scored)
SELECT vec_id::bigint AS vec_id, rank::bigint AS rank FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: pandas-UDF sketches, html parse)
# ---------------------------------------------------------------------------


def q_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash + MinHash sketches per doc (near-dup identity), ORACLE-
    CHECKED via the portable md5-gram contract (functions/hashing.py:
    sketch_md5_py — hash_i(s) = md5('<i>:'+shingle) prefix; simhash16
    bit = sign of the distinct-shingle bit sum). Emitted TWICE: from
    pure Columns and from the Arrow-batched pandas UDF, so the UDF
    operator itself is under the hard signal (the round-4 winnow
    pattern applied to sketches; the dedup operators' blake2b
    simhash64_col / minhash_signature_col are pytest-pinned against
    their reference twins)."""
    from .functions.hashing import (
        sketch_md5_udf_col,
        sketch_minhash_col,
        sketch_shingles_col,
        sketch_sim_hashes_col,
        sketch_simhash16_from_hashes,
        sketch_words_col,
    )

    # NULL text must behave exactly like empty text on BOTH paths (the
    # Column path's split/array_join would propagate NULL while the
    # md5 UDF hashes the empty shingle — ADVICE r4 asymmetry)
    df = _doc(spark, sf_dir).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    # the test parquet is one small file -> one input split; fan out so
    # the per-shingle digests use every core (scale-adaptive: a no-op
    # when the scan already yields >= cores splits — r6)
    df = _fan_out(df)
    # each stage projected separately (lambda-CSE rule): words, THEN
    # shingles over the projected array, THEN hashes
    df = df.select("doc_id", "text", sketch_words_col("text").alias("ws"))
    df = df.select(
        "doc_id", "text", sketch_shingles_col("ws", k=3).alias("sh")
    )
    # ONE distinct projection feeds both Column sub-paths (r6): the sim
    # hashes always deduped; the minhash folds now hash each DISTINCT
    # shingle once too — min over a set equals min over the multiset,
    # so the emitted values are unchanged while duplicate shingles stop
    # paying md5 twice
    df = df.select(
        "doc_id", "text", F.expr("array_distinct(sh)").alias("shd")
    )
    df = df.select(
        "doc_id",
        "shd",
        sketch_sim_hashes_col("shd").alias("hs"),
        sketch_md5_udf_col(F.col("text"), seeds=(0, 7, 15), k=3).alias("u"),
    )
    return df.select(
        "doc_id",
        sketch_simhash16_from_hashes("hs").alias("simhash16"),
        sketch_minhash_col("shd", 0).alias("minhash_0"),
        sketch_minhash_col("shd", 7).alias("minhash_7"),
        sketch_minhash_col("shd", 15).alias("minhash_15"),
        F.col("u.simhash16").alias("simhash16_u"),
        F.try_element_at(F.col("u.minhash"), F.lit(1)).alias("minhash_0_u"),
        F.try_element_at(F.col("u.minhash"), F.lit(2)).alias("minhash_7_u"),
        F.try_element_at(F.col("u.minhash"), F.lit(3)).alias("minhash_15_u"),
    )


def sql_sketches() -> str:
    def h(seed: str, s: str) -> str:
        return f"('0x' || substr(md5('{seed}:' || {s}), 1, 15))::bigint"

    sim_terms = " + ".join(
        f"(CASE WHEN list_sum([((x >> {b}) & 1) * 2 - 1 FOR x IN hs]) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    mh = {
        i: f"list_min([{h(str(i), 's')} FOR s IN sh])" for i in (0, 7, 15)
    }
    return f"""
WITH base AS (
  SELECT doc_id,
    list_filter(
      regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'),
      w -> w <> '') AS ws
  FROM documents
), shingled AS (
  SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
      [array_to_string(ws[i : i + 2], ' ') FOR i IN range(1, len(ws) - 1)]
    -- array_to_string([]) is NULL in DuckDB; Spark's array_join([]) is ''
    ELSE [coalesce(array_to_string(ws, ' '), '')] END AS sh
  FROM base
), hashed AS (
  SELECT doc_id, sh,
    [{h('sim', 's')} FOR s IN list_distinct(sh)] AS hs
  FROM shingled
)
SELECT doc_id,
  ({sim_terms})::bigint AS simhash16,
  {mh[0]} AS minhash_0, {mh[7]} AS minhash_7, {mh[15]} AS minhash_15,
  ({sim_terms})::bigint AS simhash16_u,
  {mh[0]} AS minhash_0_u, {mh[7]} AS minhash_7_u, {mh[15]} AS minhash_15_u
FROM hashed
"""


def q_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: wrap documents as html and run the FULL chain (parse UDF
    -> template fold -> langid -> ppl -> heuristics -> scrub)."""
    from .pipeline import quality_filter

    # fan out FIRST (scale-adaptive no-op at real scale — r6): the html
    # synthesis used to sit below the repartition, so its string passes
    # ran on the single scan task and the exchange carried the inflated
    # html instead of the raw text
    df = _fan_out(_doc(spark, sf_dir))
    # literal escapes via replace(), not regexp_replace — same bytes,
    # no regex engine on the hot path (r6 guide §1.2 "per-task work")
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    html = F.concat(
        F.lit("<html><head><title>t</title></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.replace(esc, F.lit("\n"), F.lit("</p><p>")),
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


ORACLE_QUERIES = {
    "langid": (q_langid, sql_langid),
    "gopher": (q_gopher, sql_gopher),
    "pipeline_keep": (q_pipeline_keep, sql_pipeline_keep),
    "scrub": (q_scrub, sql_scrub),
    "exact_dedup": (q_exact_dedup, sql_exact_dedup),
    "doc_fingerprint": (q_doc_fingerprint, sql_doc_fingerprint),
    "token_stats": (q_token_stats, sql_token_stats),
    "source_filter": (q_source_filter, sql_source_filter),
    "events_hourly": (q_events_hourly, sql_events_hourly),
    "cell_type_majority": (q_cell_type_majority, sql_cell_type_majority),
    "embedding_topk": (q_embedding_topk, sql_embedding_topk),
}

def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (MOSS construction — Schleimer/
    Wilkerson/Aiken SIGMOD 2003; the brief's 'document fingerprinting
    (rolling hash)'), ORACLE-CHECKED via the portable md5-gram contract
    (functions/hashing.py): the selected fingerprint VALUE set is
    tie-rule-independent (every selection is a window minimum), so set
    aggregates — distinct count / min / max / xor-fold — are exactly
    recomputable in DuckDB. Emitted TWICE, once from the pure-Column
    path and once from the Arrow-batched pandas UDF, so the UDF
    operator itself sits under the hard signal. Reference analog:
    content identity family, src/dsl/content_hash.rs:7-69."""
    from .functions.hashing import (
        winnow_gram_hashes_col,
        winnow_minima_from_hashes,
        winnow_minima_md5_udf_col,
    )

    df = _fan_out(_doc(spark, sf_dir)).select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
        ).alias("s"),
        F.col("text"),
    )
    # each stage projected separately (lambda-CSE rule)
    df = df.select(
        "doc_id", "text", winnow_gram_hashes_col("s", k=8).alias("h")
    )
    df = df.select(
        "doc_id",
        winnow_minima_from_hashes("h", window=4).alias("mins"),
        winnow_minima_md5_udf_col(F.col("text"), k=8, window=4).alias(
            "mins_u"
        ),
    )

    def agg(mins: str, suffix: str):
        fps = f"array_distinct({mins})"
        return [
            F.expr(f"size({fps})").cast("bigint").alias(f"n_fp{suffix}"),
            F.expr(f"array_min({mins})").alias(f"fp_min{suffix}"),
            F.expr(f"array_max({mins})").alias(f"fp_max{suffix}"),
            F.expr(
                f"aggregate({fps}, cast(0 as bigint), (a, x) -> a ^ x)"
            ).alias(f"fp_xor{suffix}"),
        ]

    return df.select("doc_id", *agg("mins", ""), *agg("mins_u", "_u"))


def sql_winnow() -> str:
    return r"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
  FROM documents
), g AS (
  SELECT doc_id, CASE WHEN length(s) >= 8 THEN
      [('0x' || substr(md5(substr(s, i, 8)), 1, 15))::bigint
       FOR i IN range(1, length(s) - 6)]
    ELSE CAST([] AS BIGINT[]) END AS h
  FROM base
), m AS (
  SELECT doc_id, CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
    ELSE [list_min(h[j : j + 3])
          FOR j IN range(1, greatest(len(h) - 3, 1) + 1)] END AS mins
  FROM g
)
SELECT m.doc_id,
  count(DISTINCT u.v)::bigint AS n_fp,
  min(u.v) AS fp_min, max(u.v) AS fp_max,
  coalesce(bit_xor(DISTINCT u.v), 0) AS fp_xor,
  count(DISTINCT u.v)::bigint AS n_fp_u,
  min(u.v) AS fp_min_u, max(u.v) AS fp_max_u,
  coalesce(bit_xor(DISTINCT u.v), 0) AS fp_xor_u
FROM m LEFT JOIN (SELECT doc_id, unnest(mins) AS v FROM m) u
  USING (doc_id)
GROUP BY m.doc_id
"""


ORACLE_QUERIES.update({"winnow": (q_winnow, sql_winnow)})


ORACLE_QUERIES.update({"sketches": (q_sketches, sql_sketches)})


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
    from .operators.quality_classifier import (
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
    from .operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
        train_quality_logreg_py,
    )

    from .operators.quality_classifier import _model_dense

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


ORACLE_QUERIES.update({"quality_score": (q_quality_score, sql_quality_score)})


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
    from .functions.perplexity import train_char_ngram
    from .operators.quality_classifier import QUALITY_TRAIN_FIXTURE
    from .operators.similarity import _round_half_up

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
    from .functions.perplexity import ppl_exact_col

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


ORACLE_QUERIES.update({"perplexity": (q_perplexity, sql_perplexity)})


# html_pipeline is the one genuinely non-SQL-expressible query left
# (full parse-UDF chain incl. broadcast n-gram perplexity model)
ROWS_ONLY_QUERIES = {
    "html_pipeline": q_html_pipeline,
}


def all_queries():
    out = {name: fn for name, (fn, _sql) in ORACLE_QUERIES.items()}
    out.update(ROWS_ONLY_QUERIES)
    return out


def all_oracle_sql():
    return {name: sql() for name, (_fn, sql) in ORACLE_QUERIES.items()}


# ---------------------------------------------------------------------------
# relational coverage: windows, joins, near-dup jaccard
# ---------------------------------------------------------------------------


def q_events_user_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage: per-user event sequence + running count
    (deterministic order: ts, event_id)."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return df.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.row_number().over(w).cast("bigint").alias("seq"),
        F.count("*").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ).cast("bigint").alias("running_events"),
        F.coalesce(
            F.lag("event_type").over(w), F.lit("")
        ).alias("prev_type"),
    )


def sql_events_user_window() -> str:
    return """
SELECT event_id::bigint AS event_id, user_id::bigint AS user_id,
  row_number() OVER w ::bigint AS seq,
  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint
    AS running_events,
  coalesce(lag(event_type) OVER w, '') AS prev_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_orders_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join+agg coverage (TPC-H Q3 shape): revenue per order for BUILDING
    customers, top 20 (broadcast dim, deterministic tie-break)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("rev_d")
        )
    )
    # TakeOrderedAndProject instead of a global unpartitioned window; the
    # rank window sees only 20 rows (operators/topk.py)
    from .operators.topk import ranked_topk

    top = ranked_topk(
        j, [F.desc("rev_d"), F.asc("l_orderkey")], 20, key="l_orderkey"
    )
    return top.select(
        F.col("l_orderkey").cast("bigint").alias("orderkey"),
        F.col("rev_d").cast("string").alias("revenue"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def sql_orders_revenue_topn() -> str:
    return """
WITH j AS (
  SELECT l_orderkey,
         sum((l_extendedprice * (1 - l_discount))::decimal(18,4)) AS rev_d
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY l_orderkey),
r AS (
  SELECT l_orderkey, rev_d,
         row_number() OVER (ORDER BY rev_d DESC, l_orderkey ASC) AS rank
  FROM j)
SELECT l_orderkey::bigint AS orderkey, rev_d::varchar AS revenue,
       rank::bigint AS rank
FROM r WHERE rank <= 20
"""


def q_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup operator, oracle-checkable form: word
    3-shingle Jaccard between consecutive doc ids, scaled to an exact
    integer (permille) to avoid float hashing.

    Shingles are hashed to int64 in ONE Arrow pass (batch-level blake2b
    word hashing + vectorized positional combine + per-doc distinct —
    functions/hashing.jaccard_shingle_hashes_col, measured 2x the
    interpreted JVM transform(xxhash64(slice)) fold it replaces) before
    the set ops: the shuffle carries arrays of longs, not strings, and
    intersect compares 8 bytes per element. The DuckDB oracle keeps the
    string form — words contain no whitespace, so the space-joined
    string is injective per shingle and the distinct / intersect /
    union COUNTS (all the query emits) are identical modulo a 64-bit
    hash collision (~1e-9 at this corpus size; count-parity with the
    JVM fold is pinned by test_jaccard_kernel).

    Plan shape (r6): each doc's shingle set is exploded to its two
    adjacent-pair keys and ONE groupBy assembles the pairs — the former
    self-join needed a corpus-wide persist (a real memory cost at
    100 TB) plus two exchanges; this is persist-free with one exchange.
    |union| is derived as |A| + |B| - |A∩B| (sh is distinct by
    construction), replacing the second per-pair hash-set build."""
    df = _fan_out(_doc(spark, sf_dir))
    from .functions.hashing import jaccard_shingle_hashes_col

    s = df.select(
        "doc_id", jaccard_shingle_hashes_col(F.col("text")).alias("sh")
    ).select("doc_id", "sh", F.size("sh").alias("n"))
    ex = s.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id").alias("k"), F.lit(0).alias("side")),
                F.struct(
                    (F.col("doc_id") - 1).alias("k"), F.lit(1).alias("side")
                ),
            )
        ).alias("t"),
        "sh",
        "n",
    )
    # presence is tracked on the STRUCT, so every doc pairs exactly as
    # in the former join (NULL text arrives as the kernel's singleton
    # sentinel set — the JVM fold's own NULL behavior)
    g = (
        ex.groupBy(F.col("t.k").alias("id_a"))
        .agg(
            F.first(
                F.when(F.col("t.side") == 0, F.struct("sh", "n")),
                ignorenulls=True,
            ).alias("a"),
            F.first(
                F.when(F.col("t.side") == 1, F.struct("sh", "n")),
                ignorenulls=True,
            ).alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    # two-step projection so array_intersect evaluates once (referencing
    # it from both the numerator and the union arithmetic would inline
    # the set build twice; CollapseProject keeps non-cheap exprs single)
    j = g.select(
        "id_a",
        F.size(F.array_intersect("a.sh", "b.sh")).alias("__i"),
        (F.col("a.n") + F.col("b.n")).alias("__ab"),
    )
    return j.select(
        F.col("id_a").cast("bigint").alias("doc_id"),
        F.floor(
            F.col("__i") * 1000
            / F.greatest(F.col("__ab") - F.col("__i"), F.lit(1))
        ).cast("bigint").alias("jaccard_permille"),
    )


def sql_jaccard_adjacent() -> str:
    sh = (
        "list_distinct(list_transform("
        "range(0, greatest(len(w) - 3, 0) + 1), "
        "i -> array_to_string(w[i+1:i+3], ' ')))"
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
  FROM documents),
s AS (SELECT doc_id, {sh} AS sh FROM t),
p AS (
  SELECT a.doc_id AS doc_id, a.sh AS sh_a, b.sh AS sh_b
  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1)
SELECT doc_id::bigint AS doc_id,
  floor(len(list_intersect(sh_a, sh_b)) * 1000
        / greatest(len(list_distinct(sh_a || sh_b)), 1))::bigint
    AS jaccard_permille
FROM p
"""


ORACLE_QUERIES.update(
    {
        "events_user_window": (q_events_user_window, sql_events_user_window),
        "orders_revenue_topn": (q_orders_revenue_topn, sql_orders_revenue_topn),
        "jaccard_adjacent": (q_jaccard_adjacent, sql_jaccard_adjacent),
    }
)


def q_struct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """struct-check over a manifest derived from the documents table
    (glob-rule completeness outcomes; checker.rs:151-381). The missing /
    unexpected glob lists are concat_ws-stringified in the projection so
    the driver's value-hash canonicalizer (pandas sort) never sees array
    cells."""
    from .operators.structcheck import StructRule, struct_check

    df = _doc(spark, sf_dir)
    manifest = df.select(
        F.concat(
            F.lit("/corpus/"), "source", F.lit("/doc_"),
            F.col("doc_id").cast("string"), F.lit("."),
            F.when(F.col("doc_id") % 3 == 0, "txt").otherwise("md"),
        ).alias("path")
    )
    rules = [
        StructRule(
            name="source_has_txt_and_md",
            group_by="/corpus/src*",
            required=("*.txt", "*.md"),
        )
    ]
    out = struct_check(manifest, rules)
    return out.select(
        "dir", "rule", "outcome",
        F.concat_ws(",", "missing").alias("missing"),
        F.concat_ws(",", "unexpected").alias("unexpected"),
    )


def sql_struct_check() -> str:
    """fnmatch globs are SQL-expressible here: group_by '/corpus/src*'
    selects every dir; '*.txt' / '*.md' are suffix tests. Missing globs
    are emitted in required-tuple order, matching the Spark side."""
    return """
WITH manifest AS (
  SELECT DISTINCT '/corpus/' || source AS dir,
         'doc_' || doc_id::varchar || '.'
           || (CASE WHEN doc_id % 3 = 0 THEN 'txt' ELSE 'md' END) AS file
  FROM documents),
dirs AS (
  SELECT dir,
         max(CASE WHEN file LIKE '%.txt' THEN 1 ELSE 0 END) AS has_txt,
         max(CASE WHEN file LIKE '%.md' THEN 1 ELSE 0 END) AS has_md
  FROM manifest GROUP BY dir)
SELECT dir, 'source_has_txt_and_md' AS rule,
  CASE WHEN has_txt + has_md = 2 THEN 'complete'
       WHEN has_txt + has_md = 0 THEN 'empty'
       ELSE 'partial' END AS outcome,
  concat_ws(',', CASE WHEN has_txt = 0 THEN '*.txt' END,
                 CASE WHEN has_md = 0 THEN '*.md' END) AS missing,
  '' AS unexpected
FROM dirs WHERE dir LIKE '/corpus/src%'
"""


def q_infer_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Infer-mode candidate support counting, oracle-checked
    (aggregator.rs:70-85: support = docs exhibiting the fact / total,
    kept above a confidence floor). The first 200 docs are wrapped in
    html whose headings are DERIVABLE from the doc columns (h1 constant,
    h2 = 'Sec <doc_id%7>'), the REAL parse UDF + observer + support
    aggregation run on the Spark side, and the oracle recomputes the
    (candidate, n_docs, permille) table algebraically. Support floor 100
    permille keeps both the corpus-wide h1 (1000) and the 7 rotating h2
    headings (~143 each) — a support table with actual variance, not a
    constant row."""
    from .operators.infer import _support, observe
    from .parse import parse_html_col

    df = _doc(spark, sf_dir).filter(F.col("doc_id") < 200)
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"),
        ">", "&gt;",
    )
    html = F.concat(
        F.lit("<html><body><h1>Corpus Document</h1><h2>Sec "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</h2><p>"),
        esc, F.lit("</p></body></html>"),
    )
    parsed = df.select(
        F.col("doc_id").cast("string").alias("url"),
        parse_html_col(html).alias("parsed"),
    )
    obs = observe(parsed)
    total = obs.count()
    sup = _support(obs, F.col("headings"), "candidate")
    # permille from the integer doc count, never the double fraction —
    # integral `div` (repo contract; floor over double division can
    # mis-floor at unlucky magnitudes)
    return sup.select(
        "candidate",
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr(f"(n * 1000) div {total}").cast("bigint").alias(
            "support_permille"
        ),
    ).filter(F.col("support_permille") >= 100)


def sql_infer_candidates() -> str:
    return """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
t AS (SELECT count(*) AS total FROM d),
h AS (
  SELECT doc_id, 'Corpus Document' AS candidate FROM d
  UNION ALL
  SELECT doc_id, 'Sec ' || (doc_id % 7)::varchar FROM d)
SELECT candidate, count(DISTINCT doc_id)::bigint AS n_docs,
       (count(DISTINCT doc_id) * 1000 // t.total)::bigint
         AS support_permille
FROM h, t GROUP BY candidate, t.total
HAVING (count(DISTINCT doc_id) * 1000 // t.total) >= 100
"""


ORACLE_QUERIES.update(
    {
        "struct_check": (q_struct_check, sql_struct_check),
        "infer_candidates": (q_infer_candidates, sql_infer_candidates),
    }
)


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote over the embeddings table: for each of the first 20
    vectors, the majority label among its 10 nearest neighbors (rounded
    cosine, deterministic tie-breaks everywhere)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    pairs = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    dot = F.aggregate(
        F.zip_with("embedding", "q_emb", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    )
    scored = pairs.select(
        "qid", "vec_id", "label",
        F.round(dot / (norm(F.col("embedding")) * norm(F.col("q_emb"))), 4).alias("cos_r"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_r"), F.asc("vec_id"))
    top = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 10)
    votes = top.groupBy("qid", "label").agg(F.count("*").alias("n"))
    w2 = W.partitionBy("qid").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("r", F.row_number().over(w2))
        .filter(F.col("r") == 1)
        .select(
            F.col("qid").cast("bigint").alias("vec_id"),
            F.col("label").cast("bigint").alias("predicted_label"),
            F.col("n").cast("bigint").alias("votes"),
        )
    )


def sql_knn_label_vote() -> str:
    return """
WITH q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
scored AS (
  SELECT q.qid, e.vec_id, e.label,
    round(
      list_sum(list_transform(list_zip(e.embedding, q.q_emb),
                              p -> p[1]::double * p[2]::double))
      / (sqrt(list_sum(list_transform(e.embedding, x -> x::double * x::double)))
         * sqrt(list_sum(list_transform(q.q_emb, x -> x::double * x::double)))),
      4) AS cos_r
  FROM embeddings e, q WHERE e.vec_id <> q.qid),
top AS (
  SELECT qid, label,
         row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id ASC) AS rnk
  FROM scored),
votes AS (
  SELECT qid, label, count(*) AS n FROM top WHERE rnk <= 10 GROUP BY 1, 2),
best AS (
  SELECT qid, label, n,
         row_number() OVER (PARTITION BY qid ORDER BY n DESC, label ASC) AS r
  FROM votes)
SELECT qid::bigint AS vec_id, label::bigint AS predicted_label,
       n::bigint AS votes
FROM best WHERE r = 1
"""


ORACLE_QUERIES.update(
    {"knn_label_vote": (q_knn_label_vote, sql_knn_label_vote)}
)


def q_extract_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction anchors + canonical content_hash, oracle-checked
    (extract.rs:14-220, content_hash.rs:7-69): documents are wrapped in a
    known html scaffold (<h1>Doc N</h1><h2>Body</h2><p>line…), the REAL
    parse UDF + section/text_match extraction run on the Spark side, and
    the anchors + presence-tagged md5 encoding are reproduced in pure SQL
    on the oracle side (the scaffold makes them derivable: section 'Body'
    starts at line 2 and ends at 2 + count of non-empty normalized text
    lines; the first [0-9]+ within 400 chars after the first 'Doc' is the
    doc id on line 1, offset 4)."""
    from .functions.hashing import content_hash_col
    from .operators.extract import extract_section, extract_text_match
    from .parse import parse_html_col

    df = _fan_out(_doc(spark, sf_dir))
    # literal escapes via replace(), not regexp_replace (r6 — same
    # bytes, no regex engine; see q_html_pipeline)
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    html = F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><h2>Body</h2><p>"),
        F.replace(esc, F.lit("\n"), F.lit("</p><p>")),
        F.lit("</p></body></html>"),
    )
    parsed = df.select("doc_id", parse_html_col(html).alias("parsed"))
    sec = extract_section(F.col("parsed"), "^Body$")
    tm = extract_text_match(F.col("parsed"), "Doc", "[0-9]+", 400)
    out = parsed.select(
        "doc_id",
        sec.alias("sec"),
        tm.alias("tm"),
    )
    return out.select(
        "doc_id",
        F.col("sec.start_line").cast("bigint").alias("s_start"),
        F.col("sec.end_line").cast("bigint").alias("s_end"),
        F.col("sec.heading").alias("s_heading"),
        F.col("tm.line").cast("bigint").alias("tm_line"),
        F.col("tm.char_offset").cast("bigint").alias("tm_offset"),
        F.col("tm.matched").alias("tm_matched"),
        content_hash_col(
            F.to_json(F.col("sec")), F.to_json(F.col("tm")), algo="md5"
        ).alias("content_hash"),
    )


def sql_extract_hash() -> str:
    """The oracle shares the normalization regex with the html parser
    (same module constant) and rebuilds the exact to_json strings +
    presence-tagged 0x01/0x7f canonical encoding of content_hash_col."""
    from .parse.html_parser import _WS_RE

    ws = _WS_RE.pattern
    return f"""
WITH lines AS (
  SELECT doc_id,
    list_filter(
      list_transform(string_split(text, chr(10)),
        l -> trim(regexp_replace(l, '{ws}', ' ', 'g'))),
      l -> l <> '') AS nl
  FROM documents),
anch AS (
  SELECT doc_id, 2::bigint AS s_start, (2 + len(nl))::bigint AS s_end
  FROM lines)
SELECT doc_id, s_start, s_end, 'Body' AS s_heading,
  1::bigint AS tm_line, 4::bigint AS tm_offset,
  doc_id::varchar AS tm_matched,
  'md5:' || md5(
    chr(1) || '{{"start_line":2,"end_line":' || s_end::varchar
           || ',"heading":"Body"}}'
    || chr(127) ||
    chr(1) || '{{"line":1,"char_offset":4,"matched":"'
           || doc_id::varchar || '"}}'
  ) AS content_hash
FROM anch
"""


ORACLE_QUERIES.update({"extract_hash": (q_extract_hash, sql_extract_hash)})


def _workbook_bytes_col(doc_id: F.Column, source: F.Column) -> F.Column:
    """Per-doc REAL xlsx workbook bytes (stdlib writer) with
    1 + (doc_id % 5) data rows — the deterministic fixture synthesizer
    shared by the roundtrip query and the decode-bytes cache."""
    from .sources.xlsx import make_xlsx

    @F.pandas_udf("binary")
    def to_xlsx(doc_id: pd.Series, source: pd.Series) -> pd.Series:
        out = []
        for d, s in zip(doc_id, source):
            rows = [["id", "source"]] + [
                [str(int(d)), f"{s}_{i}"] for i in range(int(d) % 5 + 1)
            ]
            out.append(make_xlsx({"Data": rows}))
        return pd.Series(out)

    return to_xlsx(doc_id, source)


def _decode_grid_projection(df: DataFrame) -> DataFrame:
    """(doc_id, xlsx bytes) -> decoded cells/shape via the engine's
    stdlib zip+XML codec + grid-assertion accessors."""
    from .operators.assertions import _cell, _sheet, sheet_exists
    from .sources.xlsx import sheets_from_xlsx_col

    df = df.select("doc_id", sheets_from_xlsx_col(F.col("xlsx")).alias("sheets"))
    return df.select(
        "doc_id",
        sheet_exists(F.col("sheets"), "data").cast("int").alias("has_sheet"),
        _cell(F.col("sheets"), "Data", "A2").alias("cell_a2"),
        _cell(F.col("sheets"), "Data", "B2").alias("cell_b2"),
        F.size(_sheet(F.col("sheets"), "Data")).cast("bigint").alias("n_rows"),
    )


def _decode_grid_fused_col(xlsx: F.Column) -> F.Column:
    """Decode + the _decode_grid_projection accessors in ONE Python
    pass: the projected row is 4 scalars, so the full nested
    map<string, array<array<string>>> grid never crosses the Arrow
    boundary (r6 — the map conversion cost ~as much as the zip+XML
    decode itself; guide §4.1 "you control how many columns cross").
    Accessor semantics replicated from operators/assertions (_sheet /
    _cell / sheet_exists): case-insensitive first-key match, A1 refs
    out of range -> NULL, undecodable bytes -> all-NULL row. Output
    parity with the two-step path (_decode_grid_projection, the
    projection over the shared accessors) is pinned by
    test_xlsx_grid_roundtrip_matches_decode."""
    from .sources.xlsx import excel_to_sheets

    @F.pandas_udf(
        "has_sheet int, cell_a2 string, cell_b2 string, n_rows bigint"
    )
    def udf(payloads: pd.Series) -> pd.DataFrame:
        has_c, a2_c, b2_c, n_c = [], [], [], []
        for p in payloads:
            sheets = None
            if p is not None:
                try:
                    sheets = excel_to_sheets(bytes(p))
                except ValueError:
                    sheets = None
            if sheets is None:
                has_c.append(None)
                a2_c.append(None)
                b2_c.append(None)
                n_c.append(None)
                continue
            key = next(
                (k for k in sheets if k.lower() == "data"), None
            )
            grid = sheets.get(key) if key is not None else None
            has_c.append(1 if key is not None else 0)
            row2 = grid[1] if grid is not None and len(grid) > 1 else None
            a2_c.append(row2[0] if row2 and len(row2) > 0 else None)
            b2_c.append(row2[1] if row2 and len(row2) > 1 else None)
            n_c.append(len(grid) if grid is not None else None)
        return pd.DataFrame(
            {"has_sheet": has_c, "cell_a2": a2_c, "cell_b2": b2_c,
             "n_rows": n_c}
        )

    return udf(xlsx)


def q_xlsx_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECODE-ONLY variant for the bench: the workbook bytes are
    materialized ONCE into a /tmp parquet cache (a real pipeline decodes
    EXISTING bytes — round-2 VERDICT #3: the build+decode roundtrip's
    time was 2/3 fixture synthesis), then every run reads + decodes.
    bench.py's untimed warm-up pass builds the cache, so the measured
    runs time the codec alone. A cache is reused only once its write
    committed."""
    import hashlib
    import os

    tag = hashlib.md5(f"{sf_dir}|grid-v1".encode()).hexdigest()[:12]
    path = f"/tmp/fps_xlsx_bytes_{tag}.parquet"
    # the job commit writes _SUCCESS last: a build killed mid-write
    # leaves a directory without it, which is rebuilt, never read
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # fan out the one-time cache build too (r6): the workbook
        # synthesis UDF otherwise runs on the single scan split
        _fan_out(_doc(spark, sf_dir)).select(
            "doc_id",
            _workbook_bytes_col(F.col("doc_id"), F.col("source")).alias("xlsx"),
        ).write.mode("overwrite").parquet(path)
    df = _fan_out(spark.read.parquet(path))
    return df.select("doc_id", _decode_grid_fused_col(F.col("xlsx")).alias("__g")).select(
        "doc_id", "__g.has_sheet", "__g.cell_a2", "__g.cell_b2", "__g.n_rows"
    )


def sql_xlsx_grid() -> str:
    return """
SELECT doc_id, 1 AS has_sheet,
  doc_id::varchar AS cell_a2,
  source || '_0' AS cell_b2,
  (doc_id % 5 + 2)::bigint AS n_rows
FROM documents
"""


ORACLE_QUERIES.update(
    {
        "xlsx_decode": (q_xlsx_decode, sql_xlsx_grid),
    }
)


def q_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (exact near-dup clustering), oracle-checked:
    a deterministic chain graph over doc_ids — edge (d, d+1) whenever
    d % 10 < 3 and d+1 exists, giving 4-node chains whose transitive
    closure is non-trivial — resolved by the large-star/small-star
    operator; every node labeled with its component minimum (singletons
    label themselves). The DuckDB oracle recomputes components with a
    recursive CTE (min reachable id)."""
    from .operators.components import connected_components

    df = _doc(spark, sf_dir).select("doc_id")
    pairs = (
        df.select(F.col("doc_id").alias("key_a"))
        .filter((F.col("key_a") % 10) < 3)
        .join(
            df.select(F.col("doc_id").alias("key_b")),
            F.col("key_b") == F.col("key_a") + 1,
        )
    )
    cc = connected_components(pairs)
    return df.join(cc, df.doc_id == cc.node, "left").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.coalesce("component", "doc_id").cast("bigint").alias("component"),
    )


def sql_cc_components() -> str:
    return """
WITH RECURSIVE
e AS (
  SELECT a.doc_id AS a, a.doc_id + 1 AS b
  FROM documents a JOIN documents n ON n.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 < 3),
edges AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT edges.b, reach.comp FROM reach JOIN edges ON edges.a = reach.node)
SELECT node::bigint AS doc_id, min(comp)::bigint AS component
FROM reach GROUP BY node
"""


ORACLE_QUERIES.update({"cc_components": (q_cc_components, sql_cc_components)})


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


ORACLE_QUERIES.update({"token_bpe": (q_token_bpe, sql_token_bpe)})


COSINE_PAIR_THRESHOLD = 0.3  # ~55 pairs at every sf (0.5 matched NOTHING
# on the driver corpus — a vacuous 0=0 oracle row that couldn't
# distinguish a broken operator from a correct one; round-2 VERDICT #2)


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, oracle-checkable form: all (a < b) pairs with
    rounded cosine >= COSINE_PAIR_THRESHOLD among the first 120 vectors
    (the exact cosine verify of an embedding near-dup pass)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    a = emb.select(F.col("vec_id").alias("ka"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("kb"), F.col("embedding").alias("eb"))
    from .operators.dedup import _cosine

    pairs = a.join(F.broadcast(b), F.col("ka") < F.col("kb")).select(
        "ka", "kb", F.round(_cosine(F.col("ea"), F.col("eb")), 4).alias("c"),
    )
    # explicit round: c*10000 can land at N - 1e-12 in binary and a raw
    # bigint cast TRUNCATES in Spark but ROUNDS in DuckDB
    return pairs.filter(F.col("c") >= COSINE_PAIR_THRESHOLD).select(
        F.col("ka").cast("bigint").alias("key_a"),
        F.col("kb").cast("bigint").alias("key_b"),
        F.round(F.col("c") * 10000).cast("bigint").alias("cosine_e4"),
    )


def sql_cosine_pairs() -> str:
    return """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
p AS (
  SELECT a.vec_id AS key_a, b.vec_id AS key_b,
    round(
      list_sum(list_transform(list_zip(a.embedding, b.embedding),
                              x -> x[1]::double * x[2]::double))
      / greatest(
          sqrt(list_sum(list_transform(a.embedding, v -> v::double * v::double)))
          * sqrt(list_sum(list_transform(b.embedding, v -> v::double * v::double))),
          1e-12),
      4) AS c
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT key_a::bigint AS key_a, key_b::bigint AS key_b,
       round(c * 10000)::bigint AS cosine_e4
FROM p WHERE c >= {thr}
""".format(thr=COSINE_PAIR_THRESHOLD)


ORACLE_QUERIES.update({"cosine_pairs": (q_cosine_pairs, sql_cosine_pairs)})


def q_media_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image path, oracle-checked: per doc, a REAL PNG
    (deterministic gray level doc_id % 256, height 4 + doc_id % 5,
    width 6) AND a REAL baseline JPEG (gray level (doc_id*7) % 256,
    height 3 + doc_id % 4, width 5, quality 100 — all-ones quant table,
    so a flat image is DC-only and roundtrips EXACTLY) are built,
    decoded back through the magic-byte dispatch codec
    (media_codecs.decode_image_bytes), and dimensions + pixel-derived
    luma emitted as exact integers the oracle recomputes algebraically.
    Round 4 adds the AUDIO tier the same way (r3 VERDICT #5): a REAL
    FLAC stream (operators/flac_codec.py — RFC 9639 subset; ch0 a
    sawtooth exercising the fixed-predictor + Rice path across
    multiple frames, ch1 constant) is encoded, decoded back
    bit-exactly (CRC-8/16 + STREAMINFO-md5 verified), and exact
    sample aggregates emitted for the oracle."""
    from .operators.flac_codec import decode_flac, encode_flac
    from .operators.jpeg_codec import encode_jpeg
    from .operators.media_codecs import decode_image_bytes, encode_png

    @F.pandas_udf("png binary, jpeg binary, flac binary")
    def build(doc_id: pd.Series) -> pd.DataFrame:
        import numpy as np

        rows = []
        for d in doc_id:
            v = int(d) % 256
            h = 4 + int(d) % 5
            jv = (int(d) * 7) % 256
            jh = 3 + int(d) % 4
            n = 192 + (int(d) % 3) * 64
            i = np.arange(n, dtype=np.int64)
            ch0 = (int(d) * 31 + i * 7) % 4096 - 2048
            ch1 = np.full(n, int(d) % 200 - 100, dtype=np.int64)
            audio = np.stack([ch0, ch1], axis=1).astype(np.int16)
            rows.append(
                {
                    "png": encode_png(np.full((h, 6, 1), v, dtype=np.uint8)),
                    "jpeg": encode_jpeg(
                        np.full((jh, 5, 1), jv, dtype=np.uint8), quality=100
                    ),
                    "flac": encode_flac(audio, rate=8000, blocksize=64),
                }
            )
        return pd.DataFrame(rows)

    @F.pandas_udf(
        "width int, height int, luma_milli bigint, "
        "j_width int, j_height int, j_luma_milli bigint, "
        "f_n_samples bigint, f_rate int, f_sum bigint, "
        "f_min bigint, f_max bigint"
    )
    def decode(png: pd.Series, jpeg: pd.Series, flac: pd.Series) -> pd.DataFrame:
        rows = []
        for p, j, fl in zip(png, jpeg, flac):
            f = decode_image_bytes(bytes(p))
            g = decode_image_bytes(bytes(j))
            a = decode_flac(bytes(fl))
            s = a["samples"]
            rows.append(
                {
                    "width": f["width"],
                    "height": f["height"],
                    "luma_milli": int(float(f["pixels"].mean()) * 1000 // 255),
                    "j_width": g["width"],
                    "j_height": g["height"],
                    "j_luma_milli": int(float(g["pixels"].mean()) * 1000 // 255),
                    "f_n_samples": int(a["n_samples"]),
                    "f_rate": int(a["rate"]),
                    "f_sum": int(s.sum()),
                    "f_min": int(s.min()),
                    "f_max": int(s.max()),
                }
            )
        return pd.DataFrame(rows)

    built = _fan_out(_doc(spark, sf_dir)).select(
        "doc_id", build(F.col("doc_id")).alias("b")
    )
    df = built.select(
        "doc_id",
        decode(F.col("b.png"), F.col("b.jpeg"), F.col("b.flac")).alias("f"),
    )
    return df.select(
        "doc_id",
        F.col("f.width").alias("width"),
        F.col("f.height").alias("height"),
        F.col("f.luma_milli").alias("luma_milli"),
        F.col("f.j_width").alias("j_width"),
        F.col("f.j_height").alias("j_height"),
        F.col("f.j_luma_milli").alias("j_luma_milli"),
        F.col("f.f_n_samples").alias("f_n_samples"),
        F.col("f.f_rate").alias("f_rate"),
        F.col("f.f_sum").alias("f_sum"),
        F.col("f.f_min").alias("f_min"),
        F.col("f.f_max").alias("f_max"),
    )


def sql_media_roundtrip() -> str:
    # the flac aggregates are recomputed from the generating formula:
    # ch0[i] = (d*31 + i*7) % 4096 - 2048, ch1[i] = d % 200 - 100,
    # n = 192 + (d % 3) * 64 — the decode must be bit-exact to match
    return """
WITH f AS (
  SELECT doc_id,
    192 + (doc_id % 3) * 64 AS n,
    [(doc_id * 31 + i * 7) % 4096 - 2048
     FOR i IN range(0, 192 + (doc_id % 3) * 64)] AS ch0,
    doc_id % 200 - 100 AS c1
  FROM documents
)
SELECT doc_id, 6 AS width, (doc_id % 5 + 4)::int AS height,
  ((doc_id % 256) * 1000 // 255)::bigint AS luma_milli,
  5 AS j_width, (3 + doc_id % 4)::int AS j_height,
  (((doc_id * 7) % 256) * 1000 // 255)::bigint AS j_luma_milli,
  n::bigint AS f_n_samples,
  8000 AS f_rate,
  (list_sum(ch0) + n * c1)::bigint AS f_sum,
  least(list_min(ch0), c1)::bigint AS f_min,
  greatest(list_max(ch0), c1)::bigint AS f_max
FROM f
"""


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-metadata path, oracle-checked: per doc a REAL minimal
    MP4 (ftyp+moov boxes), MP3 (valid MPEG-1 Layer III frame headers)
    and WebP (RIFF/VP8X) are built with doc-derived parameters, parsed
    back through the engine's structural parsers
    (operators/media_meta.py), and every extracted field recomputed
    algebraically by the oracle."""
    from .operators.media_meta import (
        make_mp3, make_mp4, make_webp, parse_mp3, parse_mp4, parse_webp,
    )

    @F.pandas_udf(
        "v_duration_ms bigint, v_width int, v_height int, "
        "a_duration_ms bigint, a_n_frames bigint, i_width int, i_height int"
    )
    def meta(doc_id: pd.Series) -> pd.DataFrame:
        rows = []
        for d in doc_id:
            d = int(d)
            mp4 = make_mp4(
                1000 + (d % 60) * 250,
                16 * (1 + d % 4), 9 * (1 + d % 4),
            )
            mp3 = make_mp3(10 + d % 20)
            webp = make_webp(100 + d % 50, 80 + d % 30)
            v = parse_mp4(mp4)
            a = parse_mp3(mp3)
            i = parse_webp(webp)
            rows.append(
                {
                    "v_duration_ms": v["duration_ms"],
                    "v_width": v["width"],
                    "v_height": v["height"],
                    "a_duration_ms": a["duration_ms"],
                    "a_n_frames": a["n_frames"],
                    "i_width": i["width"],
                    "i_height": i["height"],
                }
            )
        return pd.DataFrame(rows)

    df = _doc(spark, sf_dir).select("doc_id", meta(F.col("doc_id")).alias("m"))
    return df.select(
        "doc_id",
        F.col("m.v_duration_ms").alias("v_duration_ms"),
        F.col("m.v_width").alias("v_width"),
        F.col("m.v_height").alias("v_height"),
        F.col("m.a_duration_ms").alias("a_duration_ms"),
        F.col("m.a_n_frames").alias("a_n_frames"),
        F.col("m.i_width").alias("i_width"),
        F.col("m.i_height").alias("i_height"),
    )


def sql_media_meta() -> str:
    # mp3: MPEG-1 Layer III = 1152 samples/frame at 44100 Hz
    return """
SELECT doc_id,
  (1000 + (doc_id % 60) * 250)::bigint AS v_duration_ms,
  (16 * (1 + doc_id % 4))::int AS v_width,
  (9 * (1 + doc_id % 4))::int AS v_height,
  ((10 + doc_id % 20) * 1152 * 1000 // 44100)::bigint AS a_duration_ms,
  (10 + doc_id % 20)::bigint AS a_n_frames,
  (100 + doc_id % 50)::int AS i_width,
  (80 + doc_id % 30)::int AS i_height
FROM documents
"""


ORACLE_QUERIES.update(
    {
        "media_roundtrip": (q_media_roundtrip, sql_media_roundtrip),
        "media_meta": (q_media_meta, sql_media_meta),
    }
)


def q_pipeline_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composition, oracle-checked: quality filter (langid +
    heuristics) -> exact dedup over the survivors (canonical-text
    min-key) -> per-source rollup. Proves the stages compose without
    each other's assumptions breaking (the keep verdict feeds dedup's
    grouping; dedup's survivor policy feeds the aggregate)."""
    from .operators.dedup import dedup_exact
    from .pipeline import quality_filter_text

    df = _fan_out(_doc(spark, sf_dir)).withColumnRenamed("doc_id", "url")
    kept = quality_filter_text(df, text_col="text", url_col="url").filter(
        F.col("keep")
    )
    surv = dedup_exact(kept, text_col="text", key_col="url")
    return surv.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_survivors"),
        F.min("url").cast("bigint").alias("min_doc"),
    )


def sql_pipeline_dedup() -> str:
    heur = " ".join(
        f"WHEN NOT {_SQL_FLAG_EXPRS[n]} THEN 0" for n in FLAG_NAMES
    )
    return f"""
WITH stats AS ({_sql_stats_cte()}),
langs AS ({_sql_lang_scores()}),
l AS (SELECT doc_id, {_sql_lang_case()} AS lang_detected FROM langs),
j AS (SELECT s.*, l.lang_detected FROM stats s JOIN l USING (doc_id)),
kept AS (
  SELECT d.doc_id, d.source, d.text FROM documents d JOIN j USING (doc_id)
  WHERE (CASE WHEN j.lang_detected <> 'en' THEN 0 {heur} ELSE 1 END) = 1),
canon AS (
  SELECT doc_id, source,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ct
  FROM kept),
surv AS (
  SELECT doc_id, source,
         min(doc_id) OVER (PARTITION BY ct) AS keeper
  FROM canon)
SELECT source, count(*)::bigint AS n_survivors, min(doc_id)::bigint AS min_doc
FROM surv WHERE doc_id = keeper GROUP BY source
"""


ORACLE_QUERIES.update(
    {"pipeline_dedup": (q_pipeline_dedup, sql_pipeline_dedup)}
)


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream (30-min gap):
    per-(user, session) event count and span — one user-partitioned
    window + one aggregation, oracle-checked."""
    from .operators.sessions import session_stats

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = session_stats(df, gap_s=1800)
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_index").cast("bigint").alias("session_index"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("start_epoch").cast("bigint").alias("start_epoch"),
        F.col("end_epoch").cast("bigint").alias("end_epoch"),
        F.col("first_event").cast("bigint").alias("first_event"),
    )


def sql_events_sessions() -> str:
    return """
WITH o AS (
  SELECT user_id, event_id, floor(epoch(ts))::bigint AS es,
    CASE WHEN lag(floor(epoch(ts))) OVER w IS NULL
              OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, es,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_index
  FROM o)
SELECT user_id::bigint AS user_id, session_index::bigint AS session_index,
  count(*)::bigint AS n_events, min(es)::bigint AS start_epoch,
  max(es)::bigint AS end_epoch, min(event_id)::bigint AS first_event
FROM s GROUP BY user_id, session_index
"""


ORACLE_QUERIES.update(
    {"events_sessions": (q_events_sessions, sql_events_sessions)}
)


def q_orders_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile rollup (percentile coverage): median and p90 of
    order totals per priority. Spark's exact `percentile` and DuckDB's
    `quantile_cont` share the linear-interpolation definition; outputs
    rounded to integer micros for stable hashing."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    price = F.col("o_totalprice").cast("double")
    return df.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.expr("percentile(CAST(o_totalprice AS double), 0.5)") * 100)
        .cast("bigint")
        .alias("median_cents"),
        F.round(F.expr("percentile(CAST(o_totalprice AS double), 0.9)") * 100)
        .cast("bigint")
        .alias("p90_cents"),
    )


def sql_orders_quantiles() -> str:
    return """
SELECT o_orderpriority, count(*)::bigint AS n_orders,
  round(quantile_cont(o_totalprice::double, 0.5) * 100)::bigint AS median_cents,
  round(quantile_cont(o_totalprice::double, 0.9) * 100)::bigint AS p90_cents
FROM orders GROUP BY o_orderpriority
"""


ORACLE_QUERIES.update(
    {"orders_quantiles": (q_orders_quantiles, sql_orders_quantiles)}
)


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation coverage: ROLLUP(event_type, day) with
    grouping markers — subtotals and grand total in one pass."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        df.select(F.col("event_type"), day.alias("day"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events", "g_type", "g_day",
        )
    )


def sql_events_rollup() -> str:
    return """
SELECT coalesce(event_type, 'ALL') AS event_type,
  coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
  count(*)::bigint AS n_events,
  grouping(event_type)::int AS g_type,
  grouping(strftime(ts, '%Y-%m-%d'))::int AS g_day
FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join coverage: customers with zero URGENT-priority orders
    (the reference's 'unexpected/missing' shape relationally). The
    filter pushes into the parquet scan of the right side BEFORE the
    anti-join build. (Plain zero-order customers matched NOTHING on the
    driver corpus — a vacuous 0=0 oracle row; round-2 VERDICT #2.)"""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    urgent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select(
            F.col("c_custkey").cast("bigint").alias("c_custkey"),
            "c_mktsegment",
        )
    )


def sql_customers_without_orders() -> str:
    return """
SELECT c_custkey::bigint AS c_custkey, c_mktsegment
FROM customer WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


ORACLE_QUERIES.update(
    {
        "events_rollup": (q_events_rollup, sql_events_rollup),
        "customers_without_orders": (
            q_customers_without_orders, sql_customers_without_orders,
        ),
    }
)


# ---------------------------------------------------------------------------
# corpus curation: chunk dedup / decontamination / sampling / repetition
# ---------------------------------------------------------------------------

CHUNK_WORDS = 3        # real corpora: 12+; 3 gives the random-word
                       # testdata genuine cross-document chunk collisions
DECONTAM_N = 3         # real pipelines: 13-grams; 3 has teeth here
BENCH_MOD, BENCH_REM = 101, 7  # benchmark set: doc_id % 101 == 7


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup (operators/curation.chunk_dedup):
    global first-occurrence chunk filtering + text reassembly. At sf0.01
    this drops ~1.7k of ~9.2k chunks across ~410 documents — the row
    discriminates (VERDICT round-2 #2 lesson: no vacuous oracles)."""
    from .operators.curation import chunk_dedup

    return chunk_dedup(
        _fan_out(_doc(spark, sf_dir)), "text", "doc_id", CHUNK_WORDS
    ).select(
        "doc_id",
        F.col("n_chunks").cast("bigint").alias("n_chunks"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "text_dedup",
    )


def sql_chunk_dedup() -> str:
    w = CHUNK_WORDS
    return f"""
WITH w AS (SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
  FROM documents),
ex AS (SELECT doc_id, i.i AS idx,
    array_to_string(ws[i.i*{w}+1 : i.i*{w}+{w}], ' ') AS chunk
  FROM w, LATERAL unnest(
    range(0, greatest(1, cast(ceil(len(ws) / {w}.0) AS bigint)))) AS i(i)),
rk AS (SELECT *, row_number() OVER (
    PARTITION BY chunk ORDER BY doc_id, idx) AS rn FROM ex)
SELECT doc_id,
  count(*)::bigint AS n_chunks,
  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::bigint AS n_kept,
  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY idx),
           '') AS text_dedup
FROM rk GROUP BY doc_id
"""


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.decontaminate):
    the 'benchmark' is the deterministic doc_id % 101 == 7 slice of the
    corpus itself, so contamination is guaranteed non-vacuous (the
    benchmark docs self-flag) and cross-document 3-gram collisions flag
    ~180 more at sf0.01."""
    from .operators.curation import decontaminate

    docs = _fan_out(_doc(spark, sf_dir))
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == BENCH_REM)
    # strategy pinned: the synthetic benchmark is tiny by construction,
    # and auto mode runs an eager size-estimate job at plan-construction
    # time (review finding r4 — it would sit outside the timed window)
    return decontaminate(
        docs, bench, "text", "doc_id", DECONTAM_N, strategy="broadcast"
    ).select(
        "doc_id",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def sql_decontam() -> str:
    n = DECONTAM_N
    return f"""
WITH w AS (SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
  FROM documents),
ng AS (SELECT doc_id, array_to_string(ws[i.i+1 : i.i+{n}], ' ') AS g
  FROM w, LATERAL unnest(
    range(0, greatest(0, len(ws) - {n} + 1))) AS i(i)),
bench AS (SELECT DISTINCT g FROM ng
  WHERE doc_id % {BENCH_MOD} = {BENCH_REM}),
hits AS (SELECT ng.doc_id, count(DISTINCT ng.g) AS n_hits
  FROM ng JOIN bench USING (g) GROUP BY ng.doc_id)
SELECT d.doc_id,
  coalesce(h.n_hits, 0)::bigint AS n_hits,
  (coalesce(h.n_hits, 0) > 0)::int AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators/curation): per-source
    permille rate 100 + 100 * (source index % 8); membership via md5 so
    any engine recomputes the identical sample. Pure narrow filter —
    the executed plan has zero exchanges."""
    from .operators.curation import stratified_sample

    permille = (
        F.lit(100)
        + F.lit(100) * (F.substring("source", 4, 10).cast("int") % 8)
    ).cast("bigint")
    return stratified_sample(
        _doc(spark, sf_dir), "doc_id", "source", permille
    ).select(
        "doc_id", "source",
        F.col("permille").cast("bigint").alias("permille"),
        F.col("u_mod").cast("bigint").alias("u_mod"),
    )


def sql_strat_sample() -> str:
    return """
WITH s AS (SELECT doc_id, source,
    (100 + 100 * (substr(source, 4)::int % 8))::bigint AS permille,
    (('0x' || substr(md5(doc_id::varchar || ':' || source), 1, 6))::bigint
      % 1000)::bigint AS u_mod
  FROM documents)
SELECT doc_id, source, permille, u_mod FROM s WHERE u_mod < permille
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (operators/curation.repetition_profile):
    most-frequent word bigram per document (ties -> smallest), duplicate
    bigram occurrences, total bigrams — all-integer output, hash-exact."""
    from .operators.curation import repetition_profile

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


ORACLE_QUERIES.update(
    {
        "chunk_dedup": (q_chunk_dedup, sql_chunk_dedup),
        "decontam": (q_decontam, sql_decontam),
        "strat_sample": (q_strat_sample, sql_strat_sample),
        "repetition": (q_repetition, sql_repetition),
    }
)


def q_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL curation path (functions/urls.py), oracle-checked: per doc a
    deterministic messy url is synthesized (scheme/www/port variance,
    tracking params, unsorted query, fragment, trailing slash), then
    canonicalized, eTLD+1-extracted (multi-part PSL suffix .co.uk), and
    blocklist-flagged; dedup representative = min doc_id per canonical
    url. Every field is recomputed algebraically by the oracle, so a
    broken normalization step (e.g. PSL last-2 instead of last-3) fails
    the hash."""
    from .functions.urls import registered_domain, url_canonical, url_host

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("Site"), (d % 3).cast("string"),
        F.lit(".example"), (d % 2).cast("string"), F.lit(".co.uk"),
        F.when(d % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"), (d % 100).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 1, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 4 == 2, F.lit("?a=1&b=2"))
        .when(d % 4 == 3, F.lit("?b=2&a=1&fbclid=xyz"))
        .otherwise(F.lit("")),
        F.when(d % 2 == 1, F.lit("#sec")).otherwise(F.lit("")),
    )
    df = _fan_out(_doc(spark, sf_dir)).select("doc_id", url.alias("url"))
    bl = spark.createDataFrame(
        [("example1.co.uk",)], "domain string"
    ).select(F.col("domain").alias("__dom"), F.lit(1).alias("__b"))
    out = (
        df.withColumn("canonical", url_canonical(F.col("url")))
        .withColumn("reg_dom", registered_domain(url_host(F.col("url"))))
        .join(F.broadcast(bl), F.col("reg_dom") == F.col("__dom"), "left")
    )
    rep = W.partitionBy("canonical")
    return out.select(
        "doc_id",
        "canonical",
        "reg_dom",
        F.coalesce(F.col("__b"), F.lit(0)).cast("int").alias("blocked"),
        (F.col("doc_id") == F.min("doc_id").over(rep))
        .cast("int")
        .alias("is_rep"),
    )


def sql_url_curation() -> str:
    return """
WITH c AS (SELECT doc_id,
    'site' || (doc_id % 3) || '.example' || (doc_id % 2) || '.co.uk'
      || '/p/' || (doc_id % 100)
      || CASE WHEN doc_id % 4 = 0 THEN '' ELSE '?a=1&b=2' END AS canonical,
    'example' || (doc_id % 2) || '.co.uk' AS reg_dom,
    (doc_id % 2 = 1)::int AS blocked
  FROM documents)
SELECT doc_id, canonical, reg_dom, blocked,
  (doc_id = min(doc_id) OVER (PARTITION BY canonical))::int AS is_rep
FROM c
"""


ORACLE_QUERIES.update({"url_curation": (q_url_curation, sql_url_curation)})


BOILER_MAX_DOCS = 2


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb boilerplate removal (operators/curation
    .boilerplate_filter): chunks appearing in more than BOILER_MAX_DOCS
    distinct documents are dropped from every document — no first
    occurrence survives, unlike chunk_dedup."""
    from .operators.curation import boilerplate_filter

    return boilerplate_filter(
        _fan_out(_doc(spark, sf_dir)), "text", "doc_id", CHUNK_WORDS,
        BOILER_MAX_DOCS
    ).select(
        "doc_id",
        F.col("n_chunks").cast("bigint").alias("n_chunks"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "text_clean",
    )


def sql_boilerplate() -> str:
    w, k = CHUNK_WORDS, BOILER_MAX_DOCS
    return f"""
WITH w AS (SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
  FROM documents),
ex AS (SELECT doc_id, i.i AS idx,
    array_to_string(ws[i.i*{w}+1 : i.i*{w}+{w}], ' ') AS chunk
  FROM w, LATERAL unnest(
    range(0, greatest(1, cast(ceil(len(ws) / {w}.0) AS bigint)))) AS i(i)),
pop AS (SELECT chunk FROM ex GROUP BY chunk
  HAVING count(DISTINCT doc_id) > {k})
SELECT ex.doc_id,
  count(*)::bigint AS n_chunks,
  sum(CASE WHEN pop.chunk IS NULL THEN 1 ELSE 0 END)::bigint AS n_kept,
  coalesce(string_agg(CASE WHEN pop.chunk IS NULL THEN ex.chunk END,
                      ' ' ORDER BY ex.idx), '') AS text_clean
FROM ex LEFT JOIN pop ON ex.chunk = pop.chunk
GROUP BY ex.doc_id
"""


ORACLE_QUERIES.update({"boilerplate": (q_boilerplate, sql_boilerplate)})


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdict, oracle-checked: quality keep/drop
    (langid + Gopher heuristics) x chunk-dedup survival x benchmark
    contamination x deterministic sample membership, folded into one
    final_keep per document — the full north-rule chain as ONE Spark
    plan (each stage shuffles at most once on doc_id-sized keys)."""
    from .operators.curation import (
        chunk_dedup, decontaminate, sample_uniform_permille,
    )

    from .pipeline import quality_filter_text

    docs = _fan_out(_doc(spark, sf_dir))
    # keep_quality and sampled are NARROW per-doc expressions — fold
    # them into the base frame instead of joining 4 frames on doc_id
    # (plan: 2 doc_id shuffles for the two aggregated stages, not 4)
    permille = (
        F.lit(100)
        + F.lit(100) * (F.substring("source", 4, 10).cast("int") % 8)
    ).cast("bigint")
    base = (
        quality_filter_text(
            docs.withColumnRenamed("doc_id", "url"), "text", "url"
        )
        .withColumnRenamed("url", "doc_id")
        .select(
            "doc_id",
            F.col("keep").cast("int").alias("keep_quality"),
            (
                sample_uniform_permille(F.col("doc_id"), F.col("source"))
                < permille
            )
            .cast("int")
            .alias("sampled"),
        )
    )
    ded = chunk_dedup(docs, "text", "doc_id", CHUNK_WORDS).select(
        "doc_id", F.col("n_kept").cast("bigint").alias("n_kept_chunks")
    )
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == BENCH_REM)
    cont = decontaminate(
        docs, bench, "text", "doc_id", DECONTAM_N, strategy="broadcast"
    ).select(
        "doc_id", "contaminated"
    )
    out = base.join(ded, "doc_id").join(cont, "doc_id")
    return out.select(
        "doc_id",
        F.col("keep_quality").cast("int").alias("keep_quality"),
        "n_kept_chunks",
        F.col("contaminated").cast("int").alias("contaminated"),
        "sampled",
        (
            (F.col("keep_quality") == 1)
            & (F.col("contaminated") == 0)
            & (F.col("sampled") == 1)
        )
        .cast("int")
        .alias("final_keep"),
    )


def sql_pipeline_curate() -> str:
    return f"""
SELECT k.doc_id,
  k.keep::int AS keep_quality,
  d.n_kept AS n_kept_chunks,
  c.contaminated,
  s.sampled,
  (k.keep = 1 AND c.contaminated = 0 AND s.sampled = 1)::int AS final_keep
FROM ({sql_pipeline_keep()}) k
JOIN ({sql_chunk_dedup()}) d USING (doc_id)
JOIN ({sql_decontam()}) c USING (doc_id)
JOIN (SELECT doc_id,
    ((('0x' || substr(md5(doc_id::varchar || ':' || source), 1, 6))::bigint
       % 1000) < 100 + 100 * (substr(source, 4)::int % 8))::int AS sampled
  FROM documents) s USING (doc_id)
"""


ORACLE_QUERIES.update(
    {"pipeline_curate": (q_pipeline_curate, sql_pipeline_curate)}
)


def q_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reputation (functions/urls.domain_reputation): per-domain
    keep-rate from the quality pass, flagged against the corpus-wide
    rate — the C4-style 'derive the badlist from the data' feedback
    loop. Domains synthesized as in url_curation."""
    from .functions.urls import domain_reputation

    d = F.col("doc_id")
    reg_dom = F.concat(
        F.lit("example"), (d % 2).cast("string"), F.lit(".co.uk")
    )
    keepq = q_pipeline_keep(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep")
    )
    tagged = keepq.withColumn("reg_dom", reg_dom)
    rep = domain_reputation(tagged, "reg_dom", "keep")
    return rep.select(
        "domain",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_keep").cast("bigint").alias("n_keep"),
        F.col("keep_permille").cast("bigint").alias("keep_permille"),
        F.col("below_corpus_rate").cast("int").alias("below_corpus_rate"),
    )


def sql_domain_reputation() -> str:
    return f"""
WITH k AS ({sql_pipeline_keep()}),
t AS (SELECT doc_id, keep,
    'example' || (doc_id % 2) || '.co.uk' AS domain FROM k),
d AS (SELECT domain, count(*)::bigint AS n_docs,
    sum(keep)::bigint AS n_keep,
    (1000 * sum(keep) // count(*))::bigint AS keep_permille
  FROM t GROUP BY domain),
o AS (SELECT (1000 * sum(keep) // count(*)) AS corpus_permille FROM t)
SELECT domain, n_docs, n_keep, keep_permille,
  (keep_permille < corpus_permille)::int AS below_corpus_rate
FROM d, o
"""


ORACLE_QUERIES.update(
    {"domain_reputation": (q_domain_reputation, sql_domain_reputation)}
)


MIX_BUDGET_PERMILLE = 200


def q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (operators/curation.mix_to_budget): sample each
    source so the output holds ~20% of corpus tokens, split across
    sources by weight 25 + 5*(source index % 10). Rates are integer
    permille via exact integral division; membership is the md5 sample
    contract, so the oracle recomputes every field."""
    from .operators.curation import _words, mix_to_budget

    docs = _doc(spark, sf_dir)
    weight = F.lit(25) + F.lit(5) * (
        F.substring("source", 4, 10).cast("int") % 10
    )
    out = mix_to_budget(
        docs, "doc_id", "source", F.size(_words(F.col("text"))),
        weight, MIX_BUDGET_PERMILLE,
    )
    return out.select(
        "doc_id", "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("rate_permille").cast("bigint").alias("rate_permille"),
        F.col("sampled").cast("int").alias("sampled"),
    )


def sql_mix_budget() -> str:
    return f"""
WITH t AS (SELECT doc_id, source,
    len(list_filter(string_split_regex(trim(text), '\\s+'),
        x -> x <> ''))::bigint AS n_tokens,
    (25 + 5 * (substr(source, 4)::int % 10))::bigint AS w
  FROM documents),
s AS (SELECT source, sum(n_tokens) AS tok_s, max(w) AS w_s
  FROM t GROUP BY source),
o AS (SELECT sum(tok_s) AS tok_all, sum(w_s) AS sum_w FROM s),
r AS (SELECT source, least(1000,
    (1000 * w_s * (({MIX_BUDGET_PERMILLE} * tok_all) // 1000))
      // (sum_w * tok_s)) AS rate_permille
  FROM s, o)
SELECT t.doc_id, t.source, t.n_tokens, r.rate_permille::bigint AS rate_permille,
  ((('0x' || substr(md5(t.doc_id::varchar || ':' || t.source), 1, 6))::bigint
     % 1000) < r.rate_permille)::int AS sampled
FROM t JOIN r USING (source)
"""


ORACLE_QUERIES.update({"mix_budget": (q_mix_budget, sql_mix_budget)})


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
    from .functions.normalize import mojibake_fix_col, nfc_normalize_col

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
    from .functions.normalize import MOJIBAKE_TABLE

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


ORACLE_QUERIES.update({"nfc_norm": (q_nfc_norm, sql_nfc_norm)})


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: MinHash signatures -> LSH band
    candidates -> exact n-gram Jaccard verify -> connected components ->
    cluster assignment. Groups are SYNTHESIZED (3 variants per base
    text, word-level jaccard ~0.9 within a group), and the ORACLE
    brute-forces the truth: all-pairs exact shingle jaccard in DuckDB
    plus recursive-CTE components. The LSH candidate stage must
    therefore have ZERO false negatives at the 0.8 threshold (and the
    verify stage kills its false positives) or the row fails — a much
    stronger check than rows-only. (A construction-only oracle fails
    here: the random corpus genuinely contains cross-group near-dups
    that correctly merge clusters.)"""
    from .operators.components import connected_components
    from .operators.dedup import minhash_candidates, ngram_jaccard_verify

    docs = _doc(spark, sf_dir).select("doc_id", "text")
    bases = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("base"), F.col("text").alias("base_text")
    )
    v = (
        docs.select(
            "doc_id", (F.col("doc_id") - F.col("doc_id") % 3).alias("base")
        )
        .join(bases, "base")
        .select(
            "doc_id",
            F.concat(
                F.col("base_text"), F.lit(" zz"),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("text_v"),
        )
    )
    cand = minhash_candidates(v, "text_v", "doc_id").select("key_a", "key_b")
    edges = ngram_jaccard_verify(cand, v, "text_v", "doc_id").filter(
        F.col("jaccard") >= 0.8
    )
    cc = connected_components(edges)
    assigned = (
        v.select("doc_id")
        .join(cc, v.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    out = assigned.join(sizes, "cluster_id")
    # minhash/jaccard pin track_persist caches; the MATERIALIZING caller
    # releases them (caching.release_tracked) — releasing here, before
    # any action, would drop them unused
    return out.select(
        "doc_id", F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_rep"),
    )


def sql_neardup_clusters() -> str:
    return """
WITH RECURSIVE
v AS (SELECT d.doc_id,
    b.text || ' zz' || (d.doc_id % 3) AS text_v
  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
sh AS (SELECT doc_id,
    list_distinct([array_to_string(ws[i+1 : i+3], ' ')
      FOR i IN range(0, greatest(len(ws) - 3, 0) + 1)]) AS s
  FROM (SELECT doc_id,
      string_split_regex(trim(lower(text_v)), '\\s+') AS ws FROM v)),
e AS (SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::double
      / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
edges AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM v
  UNION
  SELECT edges.b, reach.comp FROM reach JOIN edges ON edges.a = reach.node),
cc AS (SELECT node AS doc_id, min(comp) AS cluster_id
  FROM reach GROUP BY node)
SELECT doc_id, cluster_id::bigint AS cluster_id,
  (count(*) OVER (PARTITION BY cluster_id))::bigint AS cluster_size,
  (doc_id = cluster_id)::int AS is_rep
FROM cc
"""

ORACLE_QUERIES.update(
    {"neardup_clusters": (q_neardup_clusters, sql_neardup_clusters)}
)


PAGERANK_ITERS = 10
PAGERANK_DAMPING = 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (operators/components.pagerank) over a
    deterministic 2-out-regular graph derived from doc_id arithmetic
    (self-loops kept, so outdegree is exactly 2 and no dangling mass).
    Fixed 10 iterations; the oracle UNROLLS the same 10 iterations as
    chained CTEs with identical double literals, and scores compare as
    floor(score * 1e6) — drift bounded by ~1e-14 absolute, 8 orders
    under the comparison grain."""
    from .operators.components import pagerank

    docs = _doc(spark, sf_dir).select("doc_id")
    n = docs.count()
    d = F.col("doc_id")
    edges = docs.select(
        d.alias("src"),
        F.explode(
            F.array((d * 7 + 3) % n, (d * 13 + 1) % n)
        ).alias("dst"),
    )
    pr = pagerank(docs, edges, "doc_id", PAGERANK_ITERS, PAGERANK_DAMPING)
    return pr.select(
        "doc_id",
        F.floor(F.col("score") * 1e6).cast("bigint").alias("rank_scaled"),
    )


def sql_pagerank() -> str:
    d = PAGERANK_DAMPING
    prev = "pr0"
    ctes = [
        "nn AS (SELECT count(*) AS n FROM documents)",
        ("edges AS (SELECT doc_id AS src, (doc_id*7+3) % (SELECT n FROM nn)"
         " AS dst FROM documents UNION ALL SELECT doc_id,"
         " (doc_id*13+1) % (SELECT n FROM nn) FROM documents)"),
        "pr0 AS (SELECT doc_id, 1.0/(SELECT n FROM nn) AS score FROM documents)",
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        ctes.append(
            f"pr{i} AS (SELECT d.doc_id, "
            f"(1.0-{d})/(SELECT n FROM nn) + {d} * coalesce(c.s, 0) AS score "
            f"FROM documents d LEFT JOIN (SELECT dst, sum(score/2) AS s "
            f"FROM edges JOIN {prev} p ON p.doc_id = edges.src GROUP BY dst) c "
            f"ON c.dst = d.doc_id)"
        )
        prev = f"pr{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, floor(score * 1e6)::bigint AS rank_scaled"
          f" FROM {prev}"
    )


ORACLE_QUERIES.update({"pagerank": (q_pagerank, sql_pagerank)})


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms with deterministic ties
    (score desc, term asc). DF counts shuffle only (term, partial
    count) pairs — hot stopword terms partial-aggregate map-side.
    Scores compare as floor(tf * ln(N/df) * 1e6): both engines evaluate
    the same double expression tree, drift ~1e-15 << the grain."""
    from .operators.curation import _words

    docs = _fan_out(_doc(spark, sf_dir))
    n = docs.count()
    tf = (
        docs.select("doc_id", F.explode(_words(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(df_counts, "term").withColumn(
        "score_scaled",
        F.floor(
            F.col("tf")
            * F.log(F.lit(float(n)) / F.col("df"))
            * F.lit(1e6)
        ).cast("bigint"),
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("score_scaled"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id", F.col("rk").cast("int").alias("rk"), "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score_scaled",
        )
    )


def sql_tfidf_topterms() -> str:
    return """
WITH w AS (SELECT doc_id,
    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
    floor(tf.tf * ln((SELECT count(*) FROM documents)::double / dfc.df)
          * 1e6)::bigint AS score_scaled
  FROM tf JOIN dfc USING (term)),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
    ORDER BY score_scaled DESC, term) AS rk FROM sc)
SELECT doc_id, rk::int AS rk, term, tf::bigint AS tf, df::bigint AS df,
  score_scaled
FROM rk WHERE rk <= 3
"""


ORACLE_QUERIES.update({"tfidf_topterms": (q_tfidf_topterms, sql_tfidf_topterms)})


def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link extraction: per doc a deterministic html snippet with anchor
    tags (single/double-quoted hrefs, one nofollow decoy attribute) is
    synthesized, hrefs extracted JVM-side via regexp_extract_all, and
    per-target-host outdegree aggregated — the web-graph build step.
    The oracle recomputes extraction with DuckDB's regexp_extract_all
    over the same synthesized html."""
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<p>intro</p><a href="https://h'), (d % 5).cast("string"),
        F.lit('.example.com/a'), d.cast("string"),
        F.lit('">x</a> <a rel=nofollow href=\'http://h'),
        ((d + 1) % 5).cast("string"),
        F.lit(".example.com/b'>y</a><img src=\"not-a-link.png\">"),
    )
    links = F.regexp_extract_all(
        F.col("html"), F.lit("href=[\"']([^\"']+)[\"']"), F.lit(1)
    )
    ex = (
        _doc(spark, sf_dir)
        .select("doc_id", html.alias("html"))
        .select("doc_id", F.explode(links).alias("href"))
    )
    host = F.regexp_extract(F.col("href"), r"https?://([^/]+)/", 1)
    return (
        ex.select(host.alias("target_host"))
        .groupBy("target_host")
        .agg(F.count("*").cast("bigint").alias("n_links"))
    )


def sql_outlinks() -> str:
    return """
WITH h AS (SELECT doc_id,
    '<p>intro</p><a href="https://h' || (doc_id % 5)
      || '.example.com/a' || doc_id
      || '">x</a> <a rel=nofollow href=''http://h' || ((doc_id + 1) % 5)
      || '.example.com/b''>y</a><img src="not-a-link.png">' AS html
  FROM documents),
ex AS (SELECT doc_id,
    unnest(regexp_extract_all(html, 'href=["'']([^"'']+)["'']', 1)) AS href
  FROM h)
SELECT regexp_extract(href, 'https?://([^/]+)/', 1) AS target_host,
  count(*)::bigint AS n_links
FROM ex GROUP BY 1
"""


ORACLE_QUERIES.update({"outlinks": (q_outlinks, sql_outlinks)})


def q_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate (functions/urls.robots_disallows/_is_allowed):
    per doc a deterministic robots body (comments, crawl-delay noise, a
    second agent group that must NOT leak) and a fetch path are
    synthesized; the oracle recomputes rule count and the prefix-match
    verdict algebraically (allowed iff doc_id%5 != doc_id%7)."""
    from .functions.urls import robots_disallows, robots_is_allowed

    d = F.col("doc_id")
    robots = F.concat(
        F.lit("# synthetic\nUser-agent: *\nDisallow: /p"),
        (d % 7).cast("string"),
        F.lit("/\nDisallow: /q"), (d % 3).cast("string"),
        F.lit("\nCrawl-delay: 5\n\nUser-agent: gptbot\nDisallow: /\n"),
    )
    path = F.concat(F.lit("/p"), (d % 5).cast("string"), F.lit("/page"))
    rules = robots_disallows(robots)
    return _doc(spark, sf_dir).select(
        "doc_id",
        F.size(rules).cast("int").alias("n_rules"),
        robots_is_allowed(path, rules).cast("int").alias("allowed"),
    )


def sql_robots() -> str:
    return """
SELECT doc_id, 2::int AS n_rules,
  (doc_id % 5 <> doc_id % 7)::int AS allowed
FROM documents
"""


ORACLE_QUERIES.update({"robots": (q_robots, sql_robots)})


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a hard oracle row (r3 VERDICT #4): recall@10 of
    the IVF probe path (operators/similarity.py: md5-contract seed
    sample -> ONE Lloyd refinement -> ivf_assign -> ivf_topk, n_cells=32,
    n_probe=16) against exact brute-force top-10, for queries vec_id
    0..9. Every float comparison uses the round-to-6dp cross-engine
    contract, so DuckDB recomputes the IDENTICAL centroids, cells,
    probe sets and rankings — recall here is measured, not assumed.
    The corpus embeddings are near-random (same-label mean cosine
    ~0.02), so ~50% of the corpus must be probed for ~93% recall; on
    clustered real-world embeddings the same operator probes far less.
    Reference analog: semantic-hit threshold calibration,
    src/infer/frankensearch.rs:122-137."""
    from functools import reduce

    from .operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
        sample_centroids_md5,
    )

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    seeds = sample_centroids_md5(df, 32)
    cents = kmeans_centroids(df, 32, n_iter=1, seeds=seeds, round_dp=6)
    # localCheckpoint: the assignment plan embeds 32x64 centroid
    # literals; truncate it once instead of re-analyzing it in each of
    # the 10 probe branches below
    assigned = ivf_assign(df, cents, round_dp=6).localCheckpoint(eager=True)
    qrows = df.filter(F.col("vec_id") < 10).collect()  # driver-bounded: 10
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    ex_parts, ap_parts = [], []
    for qid in sorted(qvecs):
        qv = qvecs[qid]
        ex = cosine_topk(
            df.filter(F.col("vec_id") != qid), qv, 10, round_dp=6
        )
        ex_parts.append(
            ex.select(F.lit(qid).cast("bigint").alias("qid"), "key")
        )
        ap = ivf_topk(
            assigned.filter(F.col("vec_id") != qid),
            cents,
            qv,
            10,
            n_probe=16,
            round_dp=6,
        )
        ap_parts.append(
            ap.select(F.lit(qid).cast("bigint").alias("qid"), "key")
        )
    ex = reduce(DataFrame.unionAll, ex_parts)
    ap = reduce(DataFrame.unionAll, ap_parts)
    hits = (
        ex.join(ap, ["qid", "key"])
        .groupBy("qid")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    return (
        ex.groupBy("qid")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.expr("(coalesce(n_hit, 0) * 1000) div 10")
            .cast("bigint")
            .alias("recall_permille"),
        )
    )


def _sql_cos6(a: str, b: str) -> str:
    """DuckDB mirror of operators/dedup._cosine + round(..., 6)."""
    return (
        f"round(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> p[1]::double * p[2]::double)) / "
        f"greatest(sqrt(list_sum(list_transform({a}, x -> x::double * x::double))) * "
        f"sqrt(list_sum(list_transform({b}, x -> x::double * x::double))), "
        f"1e-12), 6)"
    )


def sql_ann_recall() -> str:
    cos_es = _sql_cos6("e.embedding", "s.embedding")
    cos_ec = _sql_cos6("e.embedding", "c.emb")
    cos_tq = _sql_cos6("t.embedding", "q.q")
    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
seeds AS (
  SELECT vec_id, embedding, rn - 1 AS cell FROM (
    SELECT vec_id, embedding,
      row_number() OVER (
        ORDER BY ('0x' || substr(md5(vec_id::varchar), 1, 6))::bigint,
                 vec_id) AS rn
    FROM e) WHERE rn <= 32),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos_es} DESC, s.cell DESC) AS rn
    FROM e CROSS JOIN seeds s) WHERE rn = 1),
means AS (
  -- round(…, 6): the Lloyd means join the 6dp cross-engine contract
  -- (distributed avg is summation-order-sensitive in the last ulp)
  SELECT a0.cell, r.i AS dim, round(avg(e.embedding[r.i]::double), 6) AS m
  FROM a0 JOIN e USING (vec_id) CROSS JOIN range(1, 65) AS r(i)
  GROUP BY a0.cell, r.i),
cents AS (
  SELECT s.cell,
    coalesce(mm.emb, list_transform(s.embedding, x -> x::double)) AS emb
  FROM seeds s LEFT JOIN (
    SELECT cell, list(m ORDER BY dim) AS emb FROM means GROUP BY cell
  ) mm USING (cell)),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos_ec} DESC, c.cell DESC) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
queries AS (SELECT vec_id AS qid, embedding AS q FROM e WHERE vec_id < 10),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, t.vec_id,
      row_number() OVER (PARTITION BY q.qid
        ORDER BY {cos_tq} DESC, t.vec_id) AS rn
    FROM e t CROSS JOIN queries q WHERE t.vec_id <> q.qid) WHERE rn <= 10),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
      row_number() OVER (PARTITION BY q.qid
        ORDER BY round(list_sum(list_transform(list_zip(c.emb, q.q),
                       p -> p[1]::double * p[2]::double)), 6) DESC,
                 c.cell DESC) AS rn
    FROM queries q CROSS JOIN cents c) WHERE rn <= 16),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, t.vec_id,
      row_number() OVER (PARTITION BY q.qid
        ORDER BY {cos_tq} DESC, t.vec_id) AS rn
    FROM e t, queries q, assign a, probes p
    WHERE t.vec_id = a.vec_id AND p.qid = q.qid AND p.cell = a.cell
      AND t.vec_id <> q.qid) WHERE rn <= 10)
SELECT x.qid::bigint AS qid, count(*)::bigint AS n_exact,
  count(ap.vec_id)::bigint AS n_hit,
  (count(ap.vec_id) * 1000 // 10)::bigint AS recall_permille
FROM exact x LEFT JOIN approx ap USING (qid, vec_id)
GROUP BY x.qid
"""


ORACLE_QUERIES.update({"ann_recall": (q_ann_recall, sql_ann_recall)})
