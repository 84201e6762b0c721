#!/usr/bin/env python3
"""Benchmark harness — driver contract.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": seconds, "unit": "sec",
"queries": {name: sec}, "sf": ..., "docs_per_sec": ..., ...}.

Materialization uses the noop sink (full computation, no write cost, no
count()-induced column pruning).

Scaling evidence (north_rule: efficiency >= 0.8 from N to 4N):
    python bench.py --scaling
spawns two subprocess runs of the flagship at local[8] and local[32] and
reports throughput at both plus efficiency = (t8/t32)/4.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "html_pipeline",      # full chain incl. parse UDF (the flagship)
    "pipeline_keep",      # text chain: langid kernel + Column stages
    "exact_dedup",
    "sketches",           # simhash + minhash UDFs
    "embedding_topk",
    "langid",
    "gopher",
    "cell_type_majority",
    "events_hourly",
    "orders_revenue_topn",
    "jaccard_adjacent",
    "extract_hash",       # extraction anchors + content hash (round 2)
    "xlsx_decode",        # xlsx DECODE over pre-materialized bytes
                          # (round 3; the encode+decode roundtrip was
                          # retired from the driver registry in round 4
                          # for the ~50-row correctness budget)
    "chunk_dedup",        # CCNet sub-document dedup + reassembly
    "decontam",           # broadcast benchmark n-gram overlap
    "url_curation",       # canonicalize + eTLD+1 + blocklist + dedup
    "pipeline_curate",    # end-to-end: quality x dedup x decontam x sample
    "boilerplate",        # over-threshold chunk popularity + rewrite
    "neardup_clusters",   # minhash -> LSH -> verify -> components
    "pagerank",           # 10-iteration power method (iterative shape)
    "perplexity",         # broadcast n-gram LM scoring (round 5 —
                          # NOTE: grew the headline set 20 -> 21;
                          # round-over-round TOTALS compare on the
                          # original 20, see BENCH.md)
]


def _materialize(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return -1


def run_bench(cores: str, sf_dir: str, names: list[str]) -> dict:
    from fingerprint_spark.entry_queries import all_queries
    from fingerprint_spark.session import get_spark

    spark = get_spark("fingerprint_spark_bench", cores=cores)
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"error: unknown queries {unknown}; known: {sorted(queries)}")
    # warm-up: JVM codegen + Python worker pool + Arrow path (worker spawn
    # is a one-time cluster cost, not per-query work — keep it out of the
    # measured window)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 10000, 1, int(cores) if str(cores).isdigit() else 32).select(
        _warm("id")
    ).write.mode("overwrite").format("noop").save()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    # criterion-style: one untimed warm-up execution per query (JIT +
    # worker pool), then the measured run — mirrors the reference's
    # criterion warmup=3s methodology (docs/BENCHMARK_BASELINE.md)
    # min-of-2 measured runs: the sandbox host carries background load, so
    # a single sample can be 5-10x off; min is the least-noisy estimator
    from fingerprint_spark.caching import release_tracked

    timings: dict[str, float] = {}
    for name in names:
        _materialize(queries[name](spark, sf_dir))
        release_tracked(spark)  # warm-up caches must not feed the timed run
        best = float("inf")
        for _ in range(2):
            df = queries[name](spark, sf_dir)
            t0 = time.perf_counter()
            _materialize(df)
            best = min(best, time.perf_counter() - t0)
            release_tracked(spark)  # paired unpersist (ADVICE round 2)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    flagship = timings.get("html_pipeline")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": n_docs,
        "docs_per_sec_flagship": round(n_docs / flagship, 1) if flagship else None,
        "cores": cores,
    }


SCALING_CORPUS = "/tmp/fingerprint_spark_scaling_corpus.parquet"
SCALING_DOCS = 120_000


def run_corpus_pipeline(cores: str, corpus_path: str) -> dict:
    """Time the FULL quality-filter chain over a pre-materialized corpus
    parquet (the 'same input' of the north_rule's two-cluster-size run).
    Warm-up + min-of-2, same methodology as run_bench."""
    from pyspark.sql import functions as F

    from fingerprint_spark.pipeline import quality_filter
    from fingerprint_spark.session import get_spark

    spark = get_spark("fingerprint_spark_scaling", cores=cores)
    df = spark.read.parquet(corpus_path)
    n_docs = df.count()
    out = quality_filter(df.select("url", "warc_ts", "html", "text", "lang"))
    best = float("inf")
    for i in range(4):  # run0 = warm-up; min-of-3 (host background load)
        t0 = time.perf_counter()
        _materialize(out)
        dt = time.perf_counter() - t0
        if i > 0:
            best = min(best, dt)
    return {
        "metric": "corpus_pipeline_time",
        "value": round(best, 3),
        "unit": "sec",
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / best, 1),
        "cores": cores,
    }


def run_corpus_curate(cores: str, corpus_path: str,
                      master: str | None = None) -> dict:
    """The SHUFFLE-HEAVY scaling leg: chunk-dedup + benchmark
    decontamination over the scaling corpus. quality_filter is narrow
    (0 Exchange), so its near-ideal scaling is the easy case; this leg
    scales the wide stages (hash-window ranking, reassembly groupBy,
    per-key count fold) — the honest test of the shuffle path."""
    from pyspark.sql import functions as F

    from fingerprint_spark.caching import release_tracked
    from fingerprint_spark.operators.curation import (
        chunk_dedup, decontaminate,
    )
    from fingerprint_spark.session import get_spark

    # 64 shuffle partitions for BOTH legs: the session default sizes
    # partitions to the core count, which gives the 16-core leg a
    # single 16-task wave whose stragglers dominate; 64 tasks give
    # both legs fine-grained waves (identical work split, fair compare)
    extra = {}
    if master and master.startswith("local-cluster"):
        # local-cluster[n,c,m]: executor memory defaults to 1g
        # regardless of the worker allowance m — size it to m so the
        # wide stages get the memory the leg advertises
        mem_mb = master.rstrip("]").split(",")[-1]
        extra["spark.executor.memory"] = f"{mem_mb}m"
    spark = get_spark(
        "fingerprint_spark_scaling_curate", cores=cores,
        shuffle_partitions=64, master=master, extra_conf=extra,
    )
    base = spark.read.parquet(corpus_path).select("url", "text")
    # 4x replication with distinct keys: at 120k docs the wide stages
    # finish in seconds and FIXED cost (planning, shuffle setup, task
    # launch) dominates both legs, which measures the scheduler, not
    # the engine. 480k docs puts minutes of real shuffle work on the
    # clock; cross-replica duplicate chunks also deepen the ranking
    # window's hash groups — the adversarial case.
    reps = spark.range(4).select(F.col("id").cast("string").alias("rep"))
    df = base.crossJoin(F.broadcast(reps)).select(
        F.concat_ws("#", "url", "rep").alias("url"), "text"
    )
    n_docs = df.count()
    bench = df.filter(F.xxhash64("url") % 101 == 7)
    best = float("inf")
    for i in range(4):  # run0 = warm-up; min-of-3
        ded = chunk_dedup(df, "text", "url", chunk_words=12)
        # strategy pinned (r4 review): auto mode runs an eager
        # size-estimate job at construction, outside the timed window
        cont = decontaminate(df, bench, "text", "url", n=8,
                             strategy="broadcast")
        t0 = time.perf_counter()
        _materialize(ded.join(cont, "url"))
        dt = time.perf_counter() - t0
        release_tracked(spark)
        if i > 0:
            best = min(best, dt)
    return {
        "metric": "corpus_curate_time",
        "value": round(best, 3),
        "unit": "sec",
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / best, 1),
        "cores": cores,
    }


def _ensure_scaling_corpus() -> None:
    if os.path.exists(SCALING_CORPUS):
        return
    from fingerprint_spark.corpus import generate_corpus
    from fingerprint_spark.session import get_spark

    # 256 partitions: task granularity matters — with 64 tasks the wave
    # quantization + tail skew capped measured efficiency at ~0.5; 256
    # tasks of ~230 docs measure the engine, not the scheduler
    spark = get_spark("fingerprint_spark_corpusgen", cores="24")
    generate_corpus(spark, SCALING_DOCS, partitions=256).write.mode(
        "overwrite"
    ).parquet(SCALING_CORPUS)
    spark.stop()


def run_scaling(sf_dir: str, n_small: int = 8, n_large: int = 32,
                job: str = "pipeline", multi_jvm: bool = False) -> dict:
    """Same job, same input, local[N] vs local[4N], fresh JVM each.

    Input is a deterministic 60k-doc synthetic corpus (materialized once)
    so per-core work dominates fixed overhead — 5k docs finish in ~1s and
    measure only scheduling, not scaling.

    multi_jvm (curate only): run each leg as local-cluster[n,2,m] —
    n separate executor JVMs x 2 cores, separate GC domains, real
    shuffle-service path — instead of one local[N] JVM. This is the
    r3 VERDICT #2 experiment: if the wide path's ~0.5 single-JVM
    efficiency recovers here, the bottleneck is single-JVM GC/memory
    bandwidth (which a real cluster doesn't share), not the operator."""
    _ensure_scaling_corpus()
    out = {}
    for cores in (n_small, n_large):
        # taskset-pin the whole process tree (JVM + Python workers) to
        # exactly `cores` CPUs: in unpinned local mode the Python workers
        # of local[N] run on OTHER host cores, so the small leg secretly
        # uses ~2N cores and deflates measured efficiency. Pinning makes
        # N vs 4N honest — the cgroup-limited-executor shape of a real
        # cluster.
        flag = "--corpus-curate" if job == "curate" else "--corpus-pipeline"
        env = dict(os.environ)
        if job == "curate":
            # tmpfs-backed shuffle for BOTH legs: the wide stages push
            # GBs through spark.local.dir, and one box's shared disk is
            # a bandwidth ceiling that does NOT grow with cores — on a
            # real cluster every node brings its own shuffle disks.
            # tmpfs isolates the CPU-scaling question the north rule
            # asks (the narrow-pipeline leg is unaffected: 0 Exchange).
            env["SPARK_LOCAL_DIRS"] = "/dev/shm/fps_shuffle"
        cmd = ["taskset", "-c", f"0-{cores - 1}",
               sys.executable, os.path.abspath(__file__), "--cores",
               str(cores), flag, SCALING_CORPUS]
        if multi_jvm:
            # cores/2 executor JVMs x 2 cores x 5 GiB, pinned to the
            # same CPU budget as the single-JVM leg (children inherit
            # the taskset affinity)
            cmd += ["--master", f"local-cluster[{cores // 2},2,5120]"]
        r = subprocess.run(
            cmd, capture_output=True, text=True, check=True, env=env,
        )
        line = [ln for ln in r.stdout.strip().splitlines() if ln.startswith("{")][-1]
        out[cores] = json.loads(line)
    t_small = out[n_small]["value"]
    t_large = out[n_large]["value"]
    speedup = t_small / t_large
    eff = speedup / (n_large / n_small)
    return {
        "metric": ("scaling_efficiency" if job == "pipeline"
                   else "scaling_efficiency_curate_mjvm" if multi_jvm
                   else "scaling_efficiency_curate"),
        "value": round(eff, 3),
        "unit": "ratio",
        "cores_small": n_small,
        "cores_large": n_large,
        "sec_small": t_small,
        "sec_large": t_large,
        "docs_per_sec_small": out[n_small]["docs_per_sec"],
        "docs_per_sec_large": out[n_large]["docs_per_sec"],
        "speedup": round(speedup, 3),
        "n_docs": SCALING_DOCS,
    }


SF1_DIR = "/tmp/fps_sf1"

# headline queries runnable on the replicated (documents/events/
# embeddings) sf1.0 set; the TPC-H-shaped ones (orders/lineitem dims)
# can't be key-replicated without changing join semantics
SF1_QUERIES = [
    "html_pipeline", "pipeline_keep", "exact_dedup", "sketches",
    "embedding_topk", "langid", "gopher", "events_hourly",
    "jaccard_adjacent", "extract_hash", "xlsx_decode",
    "chunk_dedup", "decontam", "url_curation", "pipeline_curate",
    "boilerplate", "neardup_clusters", "pagerank",
]


def _ensure_sf1(sf_dir: str) -> None:
    """10x replicas of the sf0.1 documents/events/embeddings tables with
    key offsets (doc_id/event_id/user_id/vec_id), so every per-key
    cardinality stays constant and a linear engine should scale ~10x."""
    from pyspark.sql import functions as F

    from fingerprint_spark.session import get_spark

    ok = os.path.join(SF1_DIR, "_OK")
    if os.path.exists(ok):
        return
    spark = get_spark("fps_sf1_gen", cores="24")
    reps = spark.range(10).select(F.col("id").alias("rep"))

    def replicate(table: str, offsets: dict[str, int]) -> None:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        big = df.crossJoin(F.broadcast(reps))
        for col, span in offsets.items():
            big = big.withColumn(col, F.col(col) + F.col("rep") * span)
        big.drop("rep").repartition(64).write.mode("overwrite").parquet(
            f"{SF1_DIR}/{table}.parquet"
        )

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_span = ev.agg(F.max("event_id"), F.max("user_id")).first()
    replicate("documents", {"doc_id": n_docs})
    replicate("embeddings", {"vec_id": n_vec})
    replicate(
        "events",
        {"event_id": int(ev_span[0]) + 1, "user_id": int(ev_span[1]) + 1},
    )
    spark.stop()
    with open(ok, "w") as f:
        f.write("ok\n")


def run_decontam13(cores: str) -> dict:
    """Production-shape decontamination leg (r3 VERDICT #6): n=13 over
    the 120k-doc scaling corpus, both join strategies timed — the
    broadcast fast path and the shuffle hash-key fallback the size
    guard switches to when a benchmark suite outgrows executor memory.
    Also reports what the guard AUTO-picks for this benchmark size."""
    from pyspark.sql import functions as F

    from fingerprint_spark.operators.curation import (
        _decontam_strategy, decontaminate,
    )
    from fingerprint_spark.session import get_spark

    _ensure_scaling_corpus()
    spark = get_spark("fingerprint_spark_decontam13", cores=cores)
    df = spark.read.parquet(SCALING_CORPUS).select("url", "text")
    n_docs = df.count()
    bench = df.filter(F.xxhash64("url") % 101 == 7)
    bench_chars = int(bench.agg(F.sum(F.length("text"))).head()[0] or 0)
    out = {
        "metric": "decontam_n13",
        "unit": "sec",
        "n_docs": n_docs,
        "bench_docs": bench.count(),
        "bench_chars": bench_chars,
        "auto_strategy": _decontam_strategy(13, bench_chars, 64 << 20),
        "cores": cores,
    }
    for strat in ("broadcast", "shuffle"):
        best = float("inf")
        for i in range(3):  # run0 = warm-up; min-of-2
            t0 = time.perf_counter()
            _materialize(decontaminate(
                df, bench, text_col="text", key_col="url", n=13,
                strategy=strat,
            ))
            dt = time.perf_counter() - t0
            if i > 0:
                best = min(best, dt)
        out[f"sec_{strat}"] = round(best, 3)
    out["value"] = out["sec_" + out["auto_strategy"]]
    spark.stop()
    return out


def run_classifier_bench(cores: str) -> dict:
    """Classifier corpus-inference throughput (round 5): the pure-
    Column dense-literal fold vs the Arrow kernel (C-regex tokenize +
    per-batch word->id memo + numpy margin fold, sharing the exact JVM
    xxhash64 feature ids via functions/xxh64.py) over the 120k-doc
    scaling corpus. Both are zero-shuffle single-stage plans; the
    kernel is the named r4 upgrade path for the 10^12-doc pass."""
    from pyspark.sql import functions as F

    from fingerprint_spark.operators.quality_classifier import (
        QUALITY_TRAIN_FIXTURE,
        quality_score,
        quality_score_arrow,
        train_quality_logreg,
    )
    from fingerprint_spark.session import get_spark

    _ensure_scaling_corpus()
    spark = get_spark("fingerprint_spark_clf_bench", cores=cores)
    train = spark.createDataFrame(
        QUALITY_TRAIN_FIXTURE, "text string, label int"
    )
    model = train_quality_logreg(train, dim=4096, epochs=8, lr=2.0)
    docs = spark.read.parquet(SCALING_CORPUS).select("url", "text").persist()
    n = docs.count()
    out = {"metric": "classifier_inference", "unit": "docs_per_sec",
           "n_docs": n, "dim": 4096, "cores": cores}
    for name, fn in (("column", quality_score), ("arrow", quality_score_arrow)):
        best = float("inf")
        for i in range(3):  # run0 warm-up; min-of-2
            t0 = time.perf_counter()
            fn(docs, model).select(
                F.sum("quality_prob")
            ).collect()  # driver-bounded: 1 row
            dt = time.perf_counter() - t0
            if i > 0:
                best = min(best, dt)
        out[f"sec_{name}"] = round(best, 3)
        out[f"docs_per_sec_{name}"] = round(n / best, 1)
    docs.unpersist()
    out["value"] = out["docs_per_sec_arrow"]
    spark.stop()
    return out


def run_langid_bench(cores: str) -> dict:
    """Trained-langid corpus-inference throughput (round 5): the
    zero-shuffle dense-literal Column fold vs the Arrow kernel
    (per-batch gram->id memo + numpy margin fold) over the 120k-doc
    scaling corpus — the classifier-bench shape for the fastText-tier
    language stage (4 classes, dim 2048, char trigrams)."""
    from pyspark.sql import functions as F

    from fingerprint_spark.operators.langid_classifier import (
        LANGID_TRAIN_FIXTURE,
        langid_classify,
        langid_classify_arrow,
        train_langid_softmax,
    )
    from fingerprint_spark.session import get_spark

    _ensure_scaling_corpus()
    spark = get_spark("fingerprint_spark_langid_bench", cores=cores)
    train = spark.createDataFrame(
        LANGID_TRAIN_FIXTURE, "text string, lang string"
    )
    model = train_langid_softmax(train, dim=2048, epochs=8, lr=2.0)
    docs = spark.read.parquet(SCALING_CORPUS).select("url", "text").persist()
    n = docs.count()
    out = {"metric": "langid_inference", "unit": "docs_per_sec",
           "n_docs": n, "dim": 2048,
           "n_classes": len(model["classes"]), "cores": cores}
    for name, fn in (("column", langid_classify),
                     ("arrow", langid_classify_arrow)):
        best = float("inf")
        for i in range(3):  # run0 warm-up; min-of-2
            t0 = time.perf_counter()
            fn(docs, model).select(
                F.sum(F.col("lang_pred.prob"))
            ).collect()  # driver-bounded: 1 row
            dt = time.perf_counter() - t0
            if i > 0:
                best = min(best, dt)
        out[f"sec_{name}"] = round(best, 3)
        out[f"docs_per_sec_{name}"] = round(n / best, 1)
    docs.unpersist()
    out["value"] = out["docs_per_sec_arrow"]
    spark.stop()
    return out


def run_ann_curve(cores: str) -> dict:
    """Probe-fraction/recall curve on CLUSTERED embeddings (round 5,
    VERDICT r4 #7): 20k md5-seeded clustered vectors (dim 64, 32
    clusters), IVF with 64 cells, recall@10 over 10 queries per
    n_probe — the honest demonstration that the index routes queries
    (the sf* test embeddings are near-random, where ~50% probe buys
    ~93%; here a few percent probe buys ~100%)."""
    import time as _t

    from fingerprint_spark.operators.similarity import (
        clustered_embeddings, ivf_recall_curve,
    )
    from fingerprint_spark.session import get_spark

    spark = get_spark("fingerprint_spark_ann_curve", cores=cores)
    df = clustered_embeddings(
        spark, 20_000, dim=64, n_clusters=32, noise=0.3
    ).select("vec_id", "embedding").persist()
    df.count()
    t0 = _t.perf_counter()
    curve = ivf_recall_curve(
        df, n_cells=64, n_probes=[1, 2, 4, 8, 16, 64], n_queries=10
    )
    dt = _t.perf_counter() - t0
    df.unpersist()
    spark.stop()
    return {
        "metric": "ann_recall_curve", "unit": "sec",
        "value": round(dt, 3), "n_vecs": 20_000, "dim": 64,
        "n_cells": 64, "cores": cores, "curve": curve,
    }


def run_bloom(cores: str) -> dict:
    """Bloom frontier-dedup leg (round 4): build a 2^26-bit filter over
    the 120k-doc scaling corpus urls, probe the same 120k (all hits)
    plus 120k fresh urls (fp measurement) — times the DataFrame-native
    build fold and the zero-shuffle broadcast probe."""
    from pyspark.sql import functions as F

    from fingerprint_spark.operators.bloom import bloom_build, bloom_probe
    from fingerprint_spark.session import get_spark

    _ensure_scaling_corpus()
    n_bits, k = 1 << 26, 5
    spark = get_spark("fingerprint_spark_bloom", cores=cores)
    urls = spark.read.parquet(SCALING_CORPUS).select("url")
    n_docs = urls.count()
    fresh = urls.select(F.concat(F.lit("x://new/"), "url").alias("url"))
    out = {"metric": "bloom_frontier", "unit": "sec", "n_docs": n_docs,
           "n_bits": n_bits, "k": k, "cores": cores}
    best_b = best_p = float("inf")
    fp = members_missed = None
    for i in range(3):  # run0 = warm-up; min-of-2
        t0 = time.perf_counter()
        bloom = bloom_build(urls, "url", n_bits, k)
        bloom = bloom.persist()
        bloom.count()
        dt = time.perf_counter() - t0
        if i > 0:
            best_b = min(best_b, dt)
        t0 = time.perf_counter()
        members_missed = bloom_probe(urls, bloom, "url", n_bits, k).filter(
            "maybe_member = 0"
        ).count()
        fp = bloom_probe(fresh, bloom, "url", n_bits, k).filter(
            "maybe_member = 1"
        ).count()
        dt = time.perf_counter() - t0
        if i > 0:
            best_p = min(best_p, dt)
        bloom.unpersist()
    out["sec_build"] = round(best_b, 3)
    out["sec_probe_2x"] = round(best_p, 3)
    out["false_negatives"] = members_missed
    out["false_positives_of_120k"] = fp
    out["value"] = out["sec_build"] + out["sec_probe_2x"]
    spark.stop()
    return out


def run_bloom_sharded(cores: str) -> dict:
    """Beyond-broadcast bloom leg (round 5, VERDICT r4 #1 + #6):
    n_bits=2^32 puts the worst-case word table at 1 GiB — past the
    64 MiB broadcast cap — so the auto guard picks the sharded
    co-partitioned join (the 10^12-url regime's plan; at test scale
    the table is sparse, but the guard keys on declared capacity as it
    must at plan time). Also times bloom_merge of a 10k-url delta vs a
    full rebuild: merge cost must scale with the delta + filter rows,
    not the corpus."""
    from pyspark.sql import functions as F

    from fingerprint_spark.operators.bloom import (
        _bloom_strategy, bloom_build, bloom_merge, bloom_probe,
    )
    from fingerprint_spark.session import get_spark

    _ensure_scaling_corpus()
    n_bits, k = 1 << 32, 5
    spark = get_spark("fingerprint_spark_bloom_sharded", cores=cores)
    urls = spark.read.parquet(SCALING_CORPUS).select("url")
    n_docs = urls.count()
    fresh = urls.select(F.concat(F.lit("x://new/"), "url").alias("url"))
    out = {"metric": "bloom_sharded", "unit": "sec", "n_docs": n_docs,
           "n_bits": n_bits, "k": k, "cores": cores,
           "auto_strategy": _bloom_strategy(n_bits)}
    bloom = bloom_build(urls, "url", n_bits, k).persist()
    bloom.count()
    best = {"sharded": float("inf"), "broadcast": float("inf")}
    fn = fp = None
    for strat in ("sharded", "broadcast"):
        for i in range(3):  # run0 warm-up; min-of-2
            t0 = time.perf_counter()
            fn = bloom_probe(urls, bloom, "url", n_bits, k,
                             strategy=strat).filter(
                "maybe_member = 0").count()
            fp = bloom_probe(fresh, bloom, "url", n_bits, k,
                             strategy=strat).filter(
                "maybe_member = 1").count()
            dt = time.perf_counter() - t0
            if i > 0:
                best[strat] = min(best[strat], dt)
        out[f"sec_probe_2x_{strat}"] = round(best[strat], 3)
    out["false_negatives"] = fn
    out["false_positives_of_120k"] = fp
    bloom.unpersist()
    # incremental maintenance (VERDICT r4 #6), modeled as the REAL
    # cycle: filter(k) lives in a snapshot table, cycle k+1 reads the
    # filter (262k (int,int64) rows at 2^24 bits) and merges only its
    # 10k-url delta, while a rebuild must re-scan the ENTIRE 10M-url
    # corpus from parquet and re-explode 50M positions. Merge cost
    # scales with |filter| + k|delta|; rebuild with k|corpus|.
    import shutil
    import tempfile

    mb_bits = 1 << 24
    corpus_path = "/tmp/fingerprint_spark_bloom_merge_corpus.parquet"
    if not os.path.exists(corpus_path):
        spark.range(10_000_000).select(
            F.concat(F.lit("https://frontier.example/p/"),
                     F.md5(F.col("id").cast("string")),
                     F.lit("/"), "id").alias("url")
        ).repartition(32).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    delta = spark.range(10_000_000, 10_010_000).select(
        F.concat(F.lit("https://frontier.example/p/"), "id").alias("url"))
    from fingerprint_spark.snapshots import commit_snapshot, read_snapshot

    snap_dir = tempfile.mkdtemp(prefix="bloom_filter_snap_")
    try:
        tbl = os.path.join(snap_dir, "frontier_filter")
        commit_snapshot(bloom_build(corpus, "url", mb_bits, k), tbl)
        filt = read_snapshot(spark, tbl)
        best_m = best_r = float("inf")
        for i in range(3):
            t0 = time.perf_counter()
            bloom_merge(filt, delta, "url", mb_bits, k).count()
            dt = time.perf_counter() - t0
            if i > 0:
                best_m = min(best_m, dt)
            t0 = time.perf_counter()
            bloom_build(corpus.unionAll(delta), "url", mb_bits, k).count()
            dt = time.perf_counter() - t0
            if i > 0:
                best_r = min(best_r, dt)
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)
    out["merge_corpus"] = 10_000_000
    out["merge_n_bits"] = mb_bits
    out["sec_merge_10k_delta"] = round(best_m, 3)
    out["sec_rebuild_full"] = round(best_r, 3)
    out["value"] = out["sec_probe_2x_sharded"]
    spark.stop()
    return out


def run_skew_join(n_docs: int = SCALING_DOCS) -> dict:
    """Deliberately skewed-host join at stress size: ~25% of the corpus
    shares one host (corpus.py HOSTS[0]); join docs to a per-host rule
    table with broadcast DISABLED so it plans a shuffle join with one
    hot key, and compare AQE on (skew-split) vs off."""
    from pyspark.sql import functions as F

    from fingerprint_spark.session import get_spark

    _ensure_scaling_corpus()
    out = {}
    for aqe in ("true", "false"):
        spark = get_spark(f"fps_skew_{aqe}", cores="32")
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the hot partition here is ~10^2 MB; at 100 TB it is ~10^2 GB
        # and the DEFAULT thresholds (256MB, 5x median) fire on their
        # own. Scale the thresholds down with the data so the run
        # demonstrates the actual split behavior, not just the config:
        # the hot host is 25% of docs vs ~10.7% for the others (2.3x
        # median), so factor=2 + 16MB threshold mirrors 100-TB defaults.
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # carry the TEXT through the shuffle — the realistic per-host
        # shape (quota/enrich ops shuffle documents by host)
        docs = spark.read.parquet(SCALING_CORPUS).select(
            "url", F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"),
            "text",
        )
        hosts = docs.select("host").distinct()
        rules = hosts.crossJoin(
            spark.range(10).select(F.col("id").alias("rule_id"))
        ).withColumn("w", F.xxhash64("host", "rule_id") % 100)
        # aggregate on rule_id, NOT host: an agg on the join key itself
        # would make the skew split illegal (it would break the hash
        # partitioning the aggregate reuses) and AQE would skip it
        j = docs.join(rules, "host").groupBy("rule_id").agg(
            F.count("*").alias("n"),
            F.sum(F.length("text") * F.col("w")).alias("s"),
        )
        t0 = time.perf_counter()
        rows = j.collect()  # driver-bounded: one row per rule_id
        dt = time.perf_counter() - t0
        # after collect, THIS execution's adaptive plan is final — the
        # skew-split marker is only visible on the executed instance
        plan = j._jdf.queryExecution().executedPlan().toString()
        out[aqe] = {
            "sec": round(dt, 3),
            "skew_handled": "skew=true" in plan,
            "n_groups": len(rows),
        }
        spark.stop()
    return {
        "metric": "skewed_host_join",
        "n_docs": n_docs,
        "aqe_on_sec": out["true"]["sec"],
        "aqe_off_sec": out["false"]["sec"],
        "aqe_skew_split_in_plan": out["true"]["skew_handled"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of headline queries")
    ap.add_argument("--scaling", action="store_true",
                    help="run the N vs 4N scaling measurement")
    ap.add_argument("--stress", action="store_true",
                    help="sf1.0 (10x) stress leg + skewed-host AQE join")
    ap.add_argument("--scaling-curate", action="store_true",
                    help="shuffle-heavy N->4N leg (chunk dedup + decontam)")
    ap.add_argument("--scaling-curate-mjvm", action="store_true",
                    help="shuffle-heavy leg with local-cluster multi-JVM "
                         "executors (separate GC domains)")
    ap.add_argument("--master", default=None,
                    help=argparse.SUPPRESS)
    ap.add_argument("--decontam13", action="store_true",
                    help="n=13 decontamination leg, both join strategies")
    ap.add_argument("--bloom", action="store_true",
                    help="bloom frontier-dedup build+probe leg")
    ap.add_argument("--classifier-bench", action="store_true",
                    help="classifier inference docs/s: Column fold vs "
                         "Arrow kernel")
    ap.add_argument("--langid-bench", action="store_true",
                    help="trained-langid inference: Column fold vs "
                         "Arrow kernel over the 120k-doc corpus")
    ap.add_argument("--ann-curve", action="store_true",
                    help="IVF probe-fraction/recall curve on clustered "
                         "embeddings")
    ap.add_argument("--bloom-sharded", action="store_true",
                    help="beyond-broadcast bloom probe (2^32 bits, "
                         "sharded vs broadcast) + merge-vs-rebuild leg")
    ap.add_argument("--corpus-curate", default=None,
                    help=argparse.SUPPRESS)
    ap.add_argument("--corpus-pipeline", default=None,
                    help="time the full pipeline over a corpus parquet")
    # default N=4 -> 4N=16: the sandbox host carries ~8-13 cores of
    # exogenous background load, so local[32] can never see 4x over
    # local[8]; 16 cores still fit inside the free capacity.
    ap.add_argument("--n-small", type=int, default=4)
    ap.add_argument("--n-large", type=int, default=16)
    args = ap.parse_args()

    if args.scaling:
        print(json.dumps(run_scaling(args.sf_dir, args.n_small, args.n_large)))
        return
    if args.scaling_curate:
        print(json.dumps(run_scaling(
            args.sf_dir, args.n_small, args.n_large, job="curate")))
        return
    if args.scaling_curate_mjvm:
        print(json.dumps(run_scaling(
            args.sf_dir, args.n_small, args.n_large, job="curate",
            multi_jvm=True)))
        return
    if args.stress:
        _ensure_sf1(args.sf_dir)
        res = run_bench(str(args.cores), SF1_DIR, SF1_QUERIES)
        res["metric"] = "sf1_stress_total_time"
        res["sf"] = 1.0
        res["skew_join"] = run_skew_join()
        print(json.dumps(res))
        return
    if args.decontam13:
        print(json.dumps(run_decontam13(str(args.cores))))
        return
    if args.bloom:
        print(json.dumps(run_bloom(str(args.cores))))
        return
    if args.bloom_sharded:
        print(json.dumps(run_bloom_sharded(str(args.cores))))
        return
    if args.ann_curve:
        print(json.dumps(run_ann_curve(str(args.cores))))
        return
    if args.classifier_bench:
        print(json.dumps(run_classifier_bench(str(args.cores))))
        return
    if args.langid_bench:
        print(json.dumps(run_langid_bench(str(args.cores))))
        return
    if args.corpus_pipeline:
        print(json.dumps(run_corpus_pipeline(str(args.cores), args.corpus_pipeline)))
        return
    if args.corpus_curate:
        print(json.dumps(run_corpus_curate(
            str(args.cores), args.corpus_curate, master=args.master)))
        return
    names = args.queries.split(",") if args.queries else HEADLINE
    print(json.dumps(run_bench(str(args.cores), args.sf_dir, names)))


if __name__ == "__main__":
    main()
