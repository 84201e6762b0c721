"""Approximate-nearest-neighbor search over embedding columns.

- ``cosine_topk``: brute-force baseline — broadcast the query vector,
  one narrow pass computing cosine, top-k via a single ordered window.
  Exact; O(N) scan, the right answer until N is large enough to index.
- ``ivf_topk``: IVF-style scale path — k-means-lite centroids sampled
  deterministically, vectors assigned to nearest centroid (one narrow
  pass), queries probe ``n_probe`` nearest cells only.

Vectors are the ``embedding`` array column, keyed by ``vec_id``. All
arithmetic is JVM-side (zip_with/aggregate); no Python in the hot path.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _cosine
from .topk import ranked_topk


def _round_half_up(x: float, dp: int) -> float:
    """Driver-side rounding in the SAME mode as Spark F.round and
    DuckDB round (HALF_UP) — Python's round() is half-to-even, so an
    exact half at the (dp+1)th decimal would diverge engines (ADVICE
    r4; practically unreachable for float dots, pinned anyway)."""
    return float(
        Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP
        )
    )


def _as_double_array(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """Exact brute-force top-k: (key, cosine, rank), deterministic
    (cosine desc, key asc) tie-break. round_dp: round the score to that
    many decimals BEFORE ranking — the cross-engine determinism
    contract used by the ann_recall oracle row (an external engine
    recomputes the same rounded scores, so last-ulp float divergence
    cannot flip a rank)."""
    q = _as_double_array(query_vec)
    cos = _cosine(F.col("embedding"), q)
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    scored = df.select(
        F.col("vec_id").alias("key"),
        cos.alias("cosine"),
    )
    # TakeOrderedAndProject + k-row rank window (operators/topk.py);
    # key-type-agnostic partition spec — string url keys work under ANSI
    return ranked_topk(scored, [F.desc("cosine"), F.asc("key")], k)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    round_dp: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (cell) — one narrow
    pass; write partitioned by cell for probe-time partition pruning.
    Tie rule: equal (rounded) cosine -> LARGER cell index (array_max
    over struct(cos, cell)); round_dp is the cross-engine determinism
    contract (see cosine_topk)."""

    def _score(c):
        cos = _cosine(F.col("embedding"), _as_double_array(c))
        return F.round(cos, round_dp) if round_dp is not None else cos

    scored = F.array(
        *[
            F.struct(
                _score(c).alias("cos"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_max(scored)
    return df.withColumn("cell", best["cell"])


def sample_centroids(df: DataFrame, n_cells: int) -> list[list[float]]:
    """Deterministic centroid choice: the n_cells vectors with the
    smallest xxhash64(key) — a seeded uniform sample without RNG state."""
    rows = (
        df.select(F.col("vec_id").alias("k"), F.col("embedding").alias("e"))
        .withColumn("h", F.xxhash64("k"))
        .orderBy("h")
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r["e"]] for r in rows]


def sample_centroids_md5(df: DataFrame, n_cells: int) -> list[list[float]]:
    """Portable-contract centroid sample: the n_cells vectors with the
    smallest (md5-prefix of the key string, key) — same uniform-sample
    idea as sample_centroids but recomputable in any engine with md5
    (the ann_recall oracle recomputes it in DuckDB; xxhash64 is
    Spark-only)."""
    rows = (
        df.select(F.col("vec_id").alias("k"), F.col("embedding").alias("e"))
        .withColumn(
            "h",
            F.expr(
                "cast(conv(substr(md5(cast(k as string)), 1, 6), 16, 10) "
                "as bigint)"
            ),
        )
        .orderBy("h", "k")
        .limit(n_cells)
        .collect()  # driver-bounded: n_cells rows
    )
    return [[float(x) for x in r["e"]] for r in rows]


def kmeans_centroids(
    df: DataFrame,
    n_cells: int,
    n_iter: int = 3,
    seeds: list[list[float]] | None = None,
    round_dp: int | None = None,
) -> list[list[float]]:
    """Lloyd-refined IVF centroids, fully DataFrame-native.

    Seed = deterministic hash-sample (sample_centroids), or caller-
    provided ``seeds`` (the ann_recall oracle row passes an md5-contract
    sample so DuckDB can recompute the same seed set); each iteration
    is one narrow assignment pass + one aggregation: posexplode the
    embedding to (cell, dim, value) and average per (cell, dim) — the
    shuffle carries (int, int, double) triples, never whole vectors.
    Only the (n_cells x dim) centroid matrix ever reaches the driver.
    Empty cells keep their previous centroid (standard Lloyd handling)."""
    cents = (
        [list(map(float, s)) for s in seeds]
        if seeds is not None
        else sample_centroids(df, n_cells)
    )
    dim = len(cents[0]) if cents else 0
    for _ in range(n_iter):
        assigned = ivf_assign(df, cents, round_dp=round_dp)
        means = (
            assigned.select(
                "cell", F.posexplode(F.col("embedding")).alias("dim", "val")
            )
            .groupBy("cell", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()  # driver-bounded: n_cells x dim rows
        )
        new = [list(c) for c in cents]
        seen = set()
        for r in means:
            m = float(r["m"])
            if round_dp is not None:
                # the means themselves join the cross-engine contract:
                # a distributed avg sums in partition order, so the
                # last ulp differs run-to-run / engine-to-engine, and
                # an UNROUNDED centroid feeding rounded cosines leaves
                # a (tiny) boundary-flip risk; rounding here pins it
                m = _round_half_up(m, round_dp)
            new[r["cell"]][r["dim"]] = m
            seen.add(r["cell"])
        cents = [
            new[i] if i in seen else list(cents[i]) for i in range(len(cents))
        ]
        assert all(len(c) == dim for c in cents)
    return cents


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    round_dp: int | None = None,
) -> DataFrame:
    """Probe the n_probe cells nearest to the query (un-normalized dot,
    ties -> larger cell), exact cosine inside. round_dp rounds both the
    probe dots and the candidate cosines (cross-engine contract)."""

    def _dot(c):
        d = sum(float(a) * b for a, b in zip(c, query_vec))
        return _round_half_up(d, round_dp) if round_dp is not None else d

    sims = sorted(
        ((_dot(c), i) for i, c in enumerate(centroids)),
        reverse=True,
    )
    probe_cells = [i for _s, i in sims[:n_probe]]
    cand = assigned.filter(F.col("cell").isin(probe_cells))
    return cosine_topk(cand, query_vec, k, round_dp=round_dp)


def clustered_embeddings(
    spark: SparkSession,
    n_vecs: int,
    dim: int = 64,
    n_clusters: int = 16,
    noise: float = 0.25,
) -> DataFrame:
    """Deterministic CLUSTERED synthetic embeddings for recall
    measurement (round-5 VERDICT #7): the sf* test embeddings are
    near-random (same-label mean cosine ~0.02), which makes any ANN
    index look barely better than random probing. Vector i belongs to
    cluster i % n_clusters; its components are the md5-seeded cluster
    center plus xxhash64 per-(vec, dim) uniform noise — fully
    column-generated (scale-safe, no driver data) and reproducible
    across runs/engines to the last bit of the md5/xxhash contract.
    Returns (vec_id, embedding array<float>, true_cluster)."""
    import hashlib

    if n_clusters < 1 or dim < 1:
        raise ValueError("n_clusters and dim must be >= 1")
    centers = [
        [
            (int(hashlib.md5(f"ctr:{c}:{d}".encode()).hexdigest()[:15], 16)
             / float(16 ** 15)) * 2.0 - 1.0
            for d in range(dim)
        ]
        for c in range(n_clusters)
    ]
    centers_arr = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in centers]
    )
    df = spark.range(n_vecs).select(F.col("id").alias("vec_id"))
    df = df.withColumn(
        "true_cluster", F.pmod(F.col("vec_id"), F.lit(n_clusters))
    )
    # project the center row ONCE (lambda-CSE rule), then add noise
    df = df.withColumn(
        "__ctr",
        F.element_at(centers_arr, (F.col("true_cluster") + 1).cast("int")),
    )
    comps = [
        (
            F.element_at(F.col("__ctr"), d + 1)
            + F.lit(noise)
            * (
                F.xxhash64(F.lit(d), F.col("vec_id")).cast("double")
                / F.lit(float(1 << 63))
            )
        ).cast("float")
        for d in range(dim)
    ]
    return df.select(
        "vec_id", F.array(*comps).alias("embedding"), "true_cluster"
    )


def ivf_recall_curve(
    df: DataFrame,
    n_cells: int,
    n_probes: list[int],
    n_queries: int = 10,
) -> list[dict]:
    """Measured recall@k (k = 10) of the IVF probe path vs exact brute
    force, per n_probe, plus the probed corpus fraction — the
    probe-fraction/recall curve the index quality is judged by.
    Centroids get one Lloyd iteration. Queries are vec_id
    0..n_queries-1 (excluded from their own candidate sets)."""
    k = 10
    df = df.select("vec_id", "embedding")
    seeds = sample_centroids_md5(df, n_cells)
    cents = kmeans_centroids(df, n_cells, n_iter=1, seeds=seeds)
    assigned = ivf_assign(df, cents).localCheckpoint(eager=True)
    n_total = assigned.count()
    cell_sizes = {
        int(r["cell"]): int(r["n"])
        for r in assigned.groupBy("cell").agg(
            F.count("*").alias("n")
        ).collect()  # driver-bounded: n_cells rows
    }
    qrows = df.filter(F.col("vec_id") < n_queries).collect()
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    exact = {
        qid: {
            r["key"]
            # driver-bounded: cosine_topk emits exactly k rows
            for r in cosine_topk(
                df.filter(F.col("vec_id") != qid), qv, k
            ).collect()
        }
        for qid, qv in qvecs.items()
    }
    out = []
    for n_probe in n_probes:
        hits = 0
        probed = 0
        for qid, qv in qvecs.items():
            dots = sorted(
                (
                    (sum(float(a) * b for a, b in zip(c, qv)), i)
                    for i, c in enumerate(cents)
                ),
                reverse=True,
            )
            cells = [i for _s, i in dots[:n_probe]]
            probed += sum(cell_sizes.get(c, 0) for c in cells)
            ap = {
                r["key"]
                # driver-bounded: ivf_topk emits at most k rows
                for r in ivf_topk(
                    assigned.filter(F.col("vec_id") != qid),
                    cents, qv, k, n_probe=n_probe,
                ).collect()
            }
            hits += len(exact[qid] & ap)
        out.append(
            {
                "n_probe": n_probe,
                "recall_at_k": round(hits / (k * len(qvecs)), 4),
                "probe_fraction": round(
                    probed / (n_total * len(qvecs)), 4
                ),
            }
        )
    return out
