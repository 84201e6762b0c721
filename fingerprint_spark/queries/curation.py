"""Corpus-curation and web-graph queries: chunk dedup, benchmark
decontamination, sampling and mixing, URL curation and domain
reputation, boilerplate removal, the end-to-end curation verdict,
PageRank, TF-IDF, outlinks and robots.txt."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ._common import _doc, _fan_out
from .text import q_pipeline_keep, sql_pipeline_keep


CHUNK_WORDS = 3        # real corpora: 12+; 3 gives the random-word
                       # testdata genuine cross-document chunk collisions
DECONTAM_N = 3         # real pipelines: 13-grams; 3 has teeth here
BENCH_MOD, BENCH_REM = 101, 7  # benchmark set: doc_id % 101 == 7


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup (operators/curation.chunk_dedup):
    global first-occurrence chunk filtering + text reassembly. At sf0.01
    this drops ~1.7k of ~9.2k chunks across ~410 documents — the row
    discriminates (VERDICT round-2 #2 lesson: no vacuous oracles)."""
    from ..operators.curation import chunk_dedup

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
    from ..operators.curation import decontaminate

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
    from ..operators.curation import stratified_sample

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


def q_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL curation path (functions/urls.py), oracle-checked: per doc a
    deterministic messy url is synthesized (scheme/www/port variance,
    tracking params, unsorted query, fragment, trailing slash), then
    canonicalized, eTLD+1-extracted (multi-part PSL suffix .co.uk), and
    blocklist-flagged; dedup representative = min doc_id per canonical
    url. Every field is recomputed algebraically by the oracle, so a
    broken normalization step (e.g. PSL last-2 instead of last-3) fails
    the hash."""
    from ..functions.urls import registered_domain, url_canonical, url_host

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


BOILER_MAX_DOCS = 2


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb boilerplate removal (operators/curation
    .boilerplate_filter): chunks appearing in more than BOILER_MAX_DOCS
    distinct documents are dropped from every document — no first
    occurrence survives, unlike chunk_dedup."""
    from ..operators.curation import boilerplate_filter

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


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdict, oracle-checked: quality keep/drop
    (langid + Gopher heuristics) x chunk-dedup survival x benchmark
    contamination x deterministic sample membership, folded into one
    final_keep per document — the full north-rule chain as ONE Spark
    plan (each stage shuffles at most once on doc_id-sized keys)."""
    from ..operators.curation import (
        chunk_dedup, decontaminate, sample_uniform_permille,
    )

    from ..pipeline import quality_filter_text

    docs = _fan_out(_doc(spark, sf_dir))
    # keep_quality and sampled are NARROW per-doc expressions — fold
    # them into the base frame instead of joining 4 frames on doc_id
    # (plan: 2 doc_id shuffles for the two aggregated stages, not 4)
    permille = (
        F.lit(100)
        + F.lit(100) * (F.substring("source", 4, 10).cast("int") % 8)
    ).cast("bigint")
    base = (
        quality_filter_text(docs, "text")
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


def q_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reputation (functions/urls.domain_reputation): per-domain
    keep-rate from the quality pass, flagged against the corpus-wide
    rate — the C4-style 'derive the badlist from the data' feedback
    loop. Domains synthesized as in url_curation."""
    from ..functions.urls import domain_reputation

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


MIX_BUDGET_PERMILLE = 200


def q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (operators/curation.mix_to_budget): sample each
    source so the output holds ~20% of corpus tokens, split across
    sources by weight 25 + 5*(source index % 10). Rates are integer
    permille via exact integral division; membership is the md5 sample
    contract, so the oracle recomputes every field."""
    from ..operators.curation import _words, mix_to_budget

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
    from ..operators.components import pagerank

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


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms with deterministic ties
    (score desc, term asc). DF counts shuffle only (term, partial
    count) pairs — hot stopword terms partial-aggregate map-side.
    Scores compare as floor(tf * ln(N/df) * 1e6): both engines evaluate
    the same double expression tree, drift ~1e-15 << the grain."""
    from ..operators.curation import _words

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


def q_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate (functions/urls.robots_disallows/_is_allowed):
    per doc a deterministic robots body (comments, crawl-delay noise, a
    second agent group that must NOT leak) and a fetch path are
    synthesized; the oracle recomputes rule count and the prefix-match
    verdict algebraically (allowed iff doc_id%5 != doc_id%7)."""
    from ..functions.urls import robots_disallows, robots_is_allowed

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


QUERIES = {
    "chunk_dedup": (q_chunk_dedup, sql_chunk_dedup),
    "decontam": (q_decontam, sql_decontam),
    "strat_sample": (q_strat_sample, sql_strat_sample),
    "url_curation": (q_url_curation, sql_url_curation),
    "boilerplate": (q_boilerplate, sql_boilerplate),
    "pipeline_curate": (q_pipeline_curate, sql_pipeline_curate),
    "domain_reputation": (q_domain_reputation, sql_domain_reputation),
    "mix_budget": (q_mix_budget, sql_mix_budget),
    "pagerank": (q_pagerank, sql_pagerank),
    "tfidf_topterms": (q_tfidf_topterms, sql_tfidf_topterms),
    "outlinks": (q_outlinks, sql_outlinks),
    "robots": (q_robots, sql_robots),
}
