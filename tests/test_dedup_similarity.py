"""Dedup + ANN operator tests with planted duplicates/neighbors."""

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.operators.dedup import (
    dedup_exact,
    minhash_candidates,
    ngram_jaccard_verify,
)
from fingerprint_spark.operators.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    sample_centroids,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees "
    "as morning light spreads across the quiet village square slowly"
)
NEAR = BASE.replace("quiet village", "quiet little village")  # tiny edit
FAR = (
    "completely different content about database systems and query "
    "optimization with columnar storage vectorized execution and "
    "adaptive partitioning strategies for distributed analytical engines"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("u1", BASE),
        ("u2", BASE),                      # exact dup of u1
        ("u3", "  " + BASE.upper() + " "), # canonical dup of u1
        ("u4", NEAR),                      # near dup of u1
        ("u5", FAR),
    ]
    return spark.createDataFrame(rows, ["url", "text"])


def test_exact_dedup(docs):
    kept = dedup_exact(docs)
    urls = {r["url"] for r in kept.select("url").collect()}
    assert "u1" in urls           # min-key survivor
    assert "u2" not in urls
    assert "u3" not in urls       # case/ws canonicalization
    assert {"u4", "u5"} <= urls


def test_minhash_lsh_near_dup(docs):
    cands = {
        (r["key_a"], r["key_b"]): r["est_jaccard"]
        for r in minhash_candidates(docs, num_hashes=64, bands=16).collect()
    }
    assert ("u1", "u4") in cands
    assert cands[("u1", "u4")] > 0.5
    assert ("u1", "u5") not in cands


def test_ngram_jaccard_verify(docs, spark):
    pairs = spark.createDataFrame(
        [("u1", "u4"), ("u1", "u5")], ["key_a", "key_b"]
    )
    j = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in ngram_jaccard_verify(pairs, docs).collect()
    }
    assert j[("u1", "u4")] > 0.7
    assert j[("u1", "u5")] < 0.05


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_cosine_topk_and_lsh_agree(emb):
    """Exact cosine top-k and the approximate index agree. The sign-LSH
    index is gone; IVF (coarse cells + probing) is the approximate
    nearest-neighbour index that remains, so it stands in here."""
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["key"] for r in cosine_topk(emb, q, k=5).collect()]
    assert exact[0] == 0  # self is its own nearest neighbor
    # IVF with generous probing must recover most of the exact top-5
    cents = sample_centroids(emb, n_cells=8)
    assigned = ivf_assign(emb, cents)
    approx = [
        r["key"]
        for r in ivf_topk(assigned, cents, q, k=5, n_probe=4).collect()
    ]
    assert exact[0] in approx
    assert len(set(exact) & set(approx)) >= 3


def test_ivf_topk(emb):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = sample_centroids(emb, n_cells=8)
    assigned = ivf_assign(emb, cents)
    res = [r["key"] for r in ivf_topk(assigned, cents, q, k=5, n_probe=3).collect()]
    assert len(res) == 5
    exact = [r["key"] for r in cosine_topk(emb, q, k=5).collect()]
    assert exact[0] in res


def test_kmeans_refined_ivf_improves_recall(spark, emb):
    """Lloyd-refined centroids: deterministic across runs, correct
    shapes, and IVF recall with refined centroids is at least as good as
    hash-sampled centroids on the same probe budget."""
    from fingerprint_spark.operators.similarity import kmeans_centroids

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["key"] for r in cosine_topk(emb, q, k=10).collect()]

    c0 = sample_centroids(emb, n_cells=8)
    c1 = kmeans_centroids(emb, n_cells=8, n_iter=2)
    assert kmeans_centroids(emb, n_cells=8, n_iter=2) == c1  # deterministic
    assert len(c1) == 8 and len(c1[0]) == len(c0[0])

    def recall(cents):
        assigned = ivf_assign(emb, cents)
        got = [r["key"] for r in ivf_topk(assigned, cents, q, k=10, n_probe=2).collect()]
        return len(set(got) & set(exact))

    r0, r1 = recall(c0), recall(c1)
    # refined centroids never lose to the hash sample on the same probe
    # budget (absolute recall at n_probe=2/8 cells is partial by design)
    assert r1 >= max(r0, 3), (r0, r1)


def test_winnow_fingerprints_detect_containment(spark, docs):
    """Winnowed fingerprint sets (the md5 window minima the winnow
    query runs) intersect for near-dups / shared passages (u1 vs u4:
    one-word edit) and not for unrelated docs — substring containment
    via compact sets, text never joined."""
    from fingerprint_spark.functions.hashing import winnow_minima_md5_udf_col

    out = docs.select(
        "url", winnow_minima_md5_udf_col(F.col("text")).alias("fp")
    )
    a = out.alias("a")
    b = out.alias("b")
    pairs = (
        a.join(b, F.col("a.url") < F.col("b.url"))
        .select(
            F.col("a.url").alias("ua"), F.col("b.url").alias("ub"),
            F.size(F.array_intersect("a.fp", "b.fp")).alias("shared"),
        )
        .collect()
    )
    got = {(r["ua"], r["ub"]): r["shared"] for r in pairs}
    assert got[("u1", "u4")] > 5     # near-dup: heavy overlap
    assert got[("u1", "u2")] > 5     # exact dup
    assert got[("u1", "u5")] == 0    # unrelated


def test_ann_recall_quality_floor(spark):
    """r3 VERDICT #4: IVF probe quality is MEASURED, with a floor —
    avg recall@10 >= 900 permille and per-query min >= 800 at
    n_cells=32 / n_probe=16 / one Lloyd pass on the near-random test
    embeddings (clustered real embeddings need far fewer probes)."""
    import os

    from fingerprint_spark.queries.vectors import q_ann_recall

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
    rows = q_ann_recall(spark, sf).collect()
    rec = [r["recall_permille"] for r in rows]
    assert len(rec) == 10
    assert sum(rec) / len(rec) >= 900
    assert min(rec) >= 800


def test_ivf_recall_on_clustered_embeddings_beats_random_probing(spark):
    """VERDICT r4 #7: on CLUSTERED embeddings (the real-world shape;
    the sf* test vectors are near-random) the IVF probe path at
    n_probe=4 of 32 cells recovers nearly all true neighbors while
    scanning a small corpus fraction — and beats probing 4 arbitrary
    cells by a wide margin, demonstrating the index actually routes
    queries, not just partitions data."""
    from fingerprint_spark.operators.similarity import (
        clustered_embeddings,
        cosine_topk,
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
        sample_centroids_md5,
    )

    df = clustered_embeddings(
        spark, 4000, dim=32, n_clusters=16, noise=0.3
    ).select("vec_id", "embedding").persist()
    df.count()
    seeds = sample_centroids_md5(df, 32)
    cents = kmeans_centroids(df, 32, n_iter=1, seeds=seeds)
    assigned = ivf_assign(df, cents).localCheckpoint(eager=True)

    qrows = df.filter(F.col("vec_id") < 10).collect()
    hits_ivf = hits_rand = 0
    probed_ivf = 0
    n_total = assigned.count()
    cell_sizes = {
        int(r["cell"]): int(r["n"])
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    for r in qrows:
        qid = int(r["vec_id"])
        qv = [float(x) for x in r["embedding"]]
        rest_exact = df.filter(F.col("vec_id") != qid)
        exact = {x["key"] for x in cosine_topk(rest_exact, qv, 10).collect()}
        rest = assigned.filter(F.col("vec_id") != qid)
        approx = {
            x["key"] for x in ivf_topk(rest, cents, qv, 10, n_probe=4).collect()
        }
        hits_ivf += len(exact & approx)
        dots = sorted(
            ((sum(float(a) * b for a, b in zip(c, qv)), i)
             for i, c in enumerate(cents)),
            reverse=True,
        )
        probed_ivf += sum(cell_sizes.get(i, 0) for _s, i in dots[:4])
        # baseline: 4 ARBITRARY cells (fixed, query-independent)
        rand_cells = [(qid * 7 + j * 11) % 32 for j in range(4)]
        rand = {
            x["key"]
            for x in cosine_topk(
                rest.filter(F.col("cell").isin(rand_cells)), qv, 10
            ).collect()
        }
        hits_rand += len(exact & rand)
    recall_ivf = hits_ivf / 100
    recall_rand = hits_rand / 100
    probe_frac = probed_ivf / (10 * n_total)
    df.unpersist()
    # routed probing: high recall at a small scanned fraction
    assert recall_ivf >= 0.9, (recall_ivf, probe_frac)
    assert probe_frac <= 0.35, probe_frac
    # and a wide, real gap over arbitrary-cell probing
    assert recall_ivf - recall_rand >= 0.4, (recall_ivf, recall_rand)


def test_ivf_recall_curve_monotone_on_clustered(spark):
    """The probe-fraction/recall curve (BENCH.md artifact): recall
    rises with n_probe and reaches 1.0 at full probe; the clustered
    generator is deterministic so these numbers are stable."""
    from fingerprint_spark.operators.similarity import (
        clustered_embeddings,
        ivf_recall_curve,
    )

    df = clustered_embeddings(
        spark, 2000, dim=16, n_clusters=8, noise=0.3
    ).select("vec_id", "embedding").persist()
    df.count()
    curve = ivf_recall_curve(df, n_cells=16, n_probes=[1, 4, 16],
                             n_queries=5)
    df.unpersist()
    recalls = [c["recall_at_k"] for c in curve]
    fracs = [c["probe_fraction"] for c in curve]
    assert recalls == sorted(recalls)
    assert fracs == sorted(fracs)
    assert recalls[-1] == 1.0 and fracs[-1] == 1.0
    assert recalls[1] >= 0.9  # n_probe=4/16 already near-exact
