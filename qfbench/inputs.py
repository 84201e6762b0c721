"""Seeded benchmark inputs and the independent references outputs are
checked against.

A seed selects a disjoint ``doc_id`` range for ``corpus.gen_doc``:
``[slot * 1e6, slot * 1e6 + n)`` with ``slot = seed % 9000`` (urls
carry ten-digit ids). ``gen_doc`` picks the page class from
``doc_id % 100``, so every range of a multiple of 100 ids has the same
class mix (6 classes, 4 languages, ~25% of docs on one hot host).

The engine only ever sees the input columns. Labels (page class,
``expected_keep``, the generator's text) stay here and are cached with
the corpus per (seed, size) under the benchmark's work directory.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass

SLOT_DOCS = 1_000_000
SLOTS = 9000
SPLITS = 4  # one input file per core of local[4]
BENCH_EVERY = 53  # decontamination benchmark: every 53rd doc (~1.9%)
CHUNK_WORDS = 12
NGRAM_N = 8

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, as the engine splits


@dataclass
class Inputs:
    seed: int
    n_docs: int
    corpus_dir: str  # parquet files, input columns only
    bench_dir: str  # decontamination benchmark (url, text)
    labels: dict[str, dict]  # url -> {expected_keep, page_class, text}
    gen_s: float  # generation or cache-load time; not part of setup
    cached: bool


def doc_offset(seed: int) -> int:
    return (seed % SLOTS) * SLOT_DOCS


def load_or_generate(work_dir: str, seed: int, n_docs: int) -> Inputs:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fingerprint_spark.corpus import INPUT_COLS, gen_doc

    t0 = time.perf_counter()
    root = os.path.join(work_dir, "corpus", f"seed{seed}-n{n_docs}")
    cached = os.path.exists(os.path.join(root, "labels.json"))
    if not cached:
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "corpus"))
        os.makedirs(os.path.join(tmp, "bench"))
        off = doc_offset(seed)
        rows = [gen_doc(off + i) for i in range(n_docs)]
        pdf = pd.DataFrame(rows)
        for k in range(SPLITS):
            part = pdf.iloc[k::SPLITS][INPUT_COLS].reset_index(drop=True)
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                os.path.join(tmp, "corpus", f"part-{k}.parquet"),
                coerce_timestamps="us",
            )
        bench = pdf.iloc[7::BENCH_EVERY][["url", "text"]].reset_index(drop=True)
        pq.write_table(
            pa.Table.from_pandas(bench, preserve_index=False),
            os.path.join(tmp, "bench", "part-0.parquet"),
        )
        labels = {
            r["url"]: {
                "expected_keep": bool(r["expected_keep"]),
                "page_class": r["page_class"],
                "text": r["text"],
                "bench": i % BENCH_EVERY == 7,
            }
            for i, r in enumerate(rows)
        }
        with open(os.path.join(tmp, "labels.json"), "w") as f:
            json.dump(labels, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(os.path.join(root, "labels.json")) as f:
        labels = json.load(f)
    return Inputs(
        seed=seed,
        n_docs=n_docs,
        corpus_dir=os.path.join(root, "corpus"),
        bench_dir=os.path.join(root, "bench"),
        labels=labels,
        gen_s=time.perf_counter() - t0,
        cached=cached,
    )


# -- pure-Python references for curate_shuffle -----------------------------

def _words(text: str) -> list[str]:
    return [w for w in _WS.split(text) if w]


def _chunks(text: str) -> list[str]:
    ws = _words(text)
    n = max(-(-len(ws) // CHUNK_WORDS), 1)
    return [" ".join(ws[i * CHUNK_WORDS:(i + 1) * CHUNK_WORDS]) for i in range(n)]


def _grams(text: str) -> set[str]:
    ws = _words(text)
    return {" ".join(ws[i:i + NGRAM_N]) for i in range(len(ws) - NGRAM_N + 1)}


def curate_reference(labels: dict[str, dict]) -> dict[str, dict]:
    """Per url: chunk dedup (first occurrence = smallest (url, chunk
    index) over the corpus) and decontamination (distinct word 8-grams
    shared with the benchmark docs), computed without Spark."""
    first: dict[str, tuple[str, int]] = {}
    chunks = {}
    for url in sorted(labels):
        chunks[url] = _chunks(labels[url]["text"])
        for i, c in enumerate(chunks[url]):
            first.setdefault(c, (url, i))
    bench_grams: set[str] = set()
    for url, lab in labels.items():
        if lab["bench"]:
            bench_grams |= _grams(lab["text"])
    ref = {}
    for url, cs in chunks.items():
        kept = [c for i, c in enumerate(cs) if first[c] == (url, i)]
        n_hits = len(_grams(labels[url]["text"]) & bench_grams)
        ref[url] = {
            "n_chunks": len(cs),
            "n_kept": len(kept),
            "text_dedup": " ".join(kept),
            "n_hits": n_hits,
            "contaminated": int(n_hits > 0),
        }
    return ref
