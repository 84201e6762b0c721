"""Dedup and fingerprint queries: exact and canonical-text identity,
winnowing, SimHash/MinHash sketches, shingle Jaccard, connected
components, near-dup clusters and the filter-then-dedup composition."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._common import _doc, _fan_out, _sql_flag_whens, _sql_keep_ctes


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


def q_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash + MinHash sketches per doc (near-dup identity), ORACLE-
    CHECKED via the portable md5-gram contract (functions/hashing.py:
    sketch_md5_py — hash_i(s) = md5('<i>:'+shingle) prefix; simhash16
    bit = sign of the distinct-shingle bit sum). Emitted TWICE: from
    pure Columns and from the Arrow-batched pandas UDF, so the UDF
    operator itself is under the hard signal (the round-4 winnow
    pattern applied to sketches; the dedup operators' blake2b
    simhash64_batch_py / minhash_signature_col are pytest-pinned against
    their reference twins)."""
    from ..functions.hashing import (
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
    from ..functions.hashing import (
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
    from ..functions.hashing import jaccard_shingle_hashes_col

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


def q_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (exact near-dup clustering), oracle-checked:
    a deterministic chain graph over doc_ids — edge (d, d+1) whenever
    d % 10 < 3 and d+1 exists, giving 4-node chains whose transitive
    closure is non-trivial — resolved by the large-star/small-star
    operator; every node labeled with its component minimum (singletons
    label themselves). The DuckDB oracle recomputes components with a
    recursive CTE (min reachable id)."""
    from ..operators.components import connected_components

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


def q_pipeline_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composition, oracle-checked: quality filter (langid +
    heuristics) -> exact dedup over the survivors (canonical-text
    min-key) -> per-source rollup. Proves the stages compose without
    each other's assumptions breaking (the keep verdict feeds dedup's
    grouping; dedup's survivor policy feeds the aggregate)."""
    from ..operators.dedup import dedup_exact
    from ..pipeline import quality_filter_text

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
    heur = _sql_flag_whens("0")
    return f"""
{_sql_keep_ctes()},
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
    from ..operators.components import connected_components
    from ..operators.dedup import minhash_candidates, ngram_jaccard_verify

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


QUERIES = {
    "exact_dedup": (q_exact_dedup, sql_exact_dedup),
    "doc_fingerprint": (q_doc_fingerprint, sql_doc_fingerprint),
    "winnow": (q_winnow, sql_winnow),
    "sketches": (q_sketches, sql_sketches),
    "jaccard_adjacent": (q_jaccard_adjacent, sql_jaccard_adjacent),
    "cc_components": (q_cc_components, sql_cc_components),
    "pipeline_dedup": (q_pipeline_dedup, sql_pipeline_dedup),
    "neardup_clusters": (q_neardup_clusters, sql_neardup_clusters),
}
