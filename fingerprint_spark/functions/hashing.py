"""Content identity: xxhash64, SimHash, MinHash, canonical content_hash.

Reference analog: src/dsl/content_hash.rs:7-69 hashes a canonicalized
(recursively key-sorted) JSON encoding of selected extracts; here the
canonical encoding is a fixed-field-order struct serialized with
``to_json`` and hashed JVM-side (md5/xxhash64) — same determinism
guarantee, zero Python.

SimHash, MinHash and the jaccard shingle sets (the north_star's near-dup
identity) share one Arrow-batch kernel, ``shingle_hashes_batch``: one
blake2b pass over the unique words of the whole batch, then a positional
combine per word k-shingle. Each production UDF maps the kernel's
per-document uint64 array to a single int64 (SimHash), an array<long>
signature (MinHash) or a sorted distinct array<long> (jaccard), so the
expensive text never shuffles — only the compact sketches do. At 100 TB
that is the difference between shuffling ~100 TB and shuffling ~100 GB.
``_shingle_hashes64``, ``simhash64_py`` and ``minhash_signature_py`` are
the per-document pure-Python reference twins the kernel is pinned
against (tests/test_r06_optimizations.py).

The md5 sketch and winnow paths at the end of the module are the
portable contracts: an external engine (the DuckDB oracle) recomputes
them exactly.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import context_cached

# distinct odd multipliers for position-dependent shingle combination
_COMB = (
    np.uint64(0x9E3779B97F4A7C15),
    np.uint64(0xC2B2AE3D27D4EB4F),
    np.uint64(0x165667B19E3779F9),
)


def _rotl64(x: "np.ndarray", r: int) -> "np.ndarray":
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _word_hashes64(words: list[str]) -> "np.ndarray":
    """blake2b-64 per UNIQUE word, mapped back to positions. Zipf means
    unique words ≪ word count, so the C-hash call count drops ~2-5x vs
    hashing every k-shingle string."""
    uniq, inv = np.unique(np.array(words, dtype=object), return_inverse=True)
    blake2b = hashlib.blake2b
    wh = np.fromiter(
        (
            int.from_bytes(
                blake2b(w.encode("utf-8"), digest_size=8).digest(), "little"
            )
            for w in uniq
        ),
        dtype=np.uint64, count=len(uniq),
    )
    return wh[inv]


def _shingle_hashes64(text: str, k: int) -> "np.ndarray":
    """uint64 hash per word k-shingle — deterministic across processes
    with 64 INDEPENDENT bits, fully vectorized.

    Construction: blake2b-64 per unique word (cryptographic-quality,
    NOT crc32 — crc is GF(2)-linear, which collapsed the old dual-crc
    scheme to 32 bits of entropy and correlated SimHash bit halves),
    then a position-dependent vectorized combine of the k word hashes
    (distinct odd multipliers + rotations, non-commutative: word order
    matters). Uncorrelatedness of hi/lo words is asserted in tests."""
    words = (text or "").lower().split()
    if not words:
        return np.empty(0, dtype=np.uint64)
    H = _word_hashes64(words)
    if len(words) < k:
        # array-typed throughout: uint64 wraparound is intended (numpy
        # warns on scalar overflow but not on array modular arithmetic)
        h = H[:1] * _COMB[0]
        for i in range(1, len(H)):
            h = h ^ _rotl64(H[i : i + 1], (21 * i) % 63 + 1) * _COMB[i % 3]
        return h
    parts = []
    n_sh = len(words) - k + 1
    for i in range(k):
        w = H[i : i + n_sh]
        term = _rotl64(w, (21 * i) % 63 + 1) * _COMB[i % 3] if i else w * _COMB[0]
        parts.append(term)
    out = parts[0]
    for t in parts[1:]:
        out = out ^ t
    return out


def _combine(H: "np.ndarray", k: int) -> "np.ndarray":
    """Positional combine of every k consecutive word hashes in H: one
    uint64 per window start, len(H) - k + 1 of them (array-typed, so
    the uint64 wraparound is the intended modular arithmetic)."""
    n = len(H) - k + 1
    out = H[:n] * _COMB[0]
    for i in range(1, k):
        out = out ^ _rotl64(H[i: i + n], (21 * i) % 63 + 1) * _COMB[i % 3]
    return out


def shingle_hashes_batch(docs: list[list[str]], k: int) -> list["np.ndarray"]:
    """The production shingle-hash kernel: per document of an Arrow
    batch (given as its word list), the uint64 hash of every word
    k-shingle in order — bit-identical to _shingle_hashes64 on the same
    words (pinned by test_r06_optimizations). A document shorter than k
    words is one shingle (empty: none).

    All words of the batch go through ONE blake2b pass over their
    unique set (Zipf: uniques ≪ occurrences) and one batch-wide
    positional combine; a shingle that would cross a document boundary
    is never selected, because each document slices only its own
    n_words - k + 1 positions."""
    hflat = _word_hashes64([w for words in docs for w in words])
    comb = _combine(hflat, k) if len(hflat) >= k else hflat[:0]
    out = []
    off = 0
    for words in docs:
        n = len(words)
        if n >= k:
            out.append(comb[off: off + n - k + 1])
        else:
            out.append(_combine(hflat[off: off + n], n))
        off += n
    return out


_WS_ASCII = None  # compiled lazily (re import stays function-local)


def _jvm_words(text: str) -> list[str]:
    """Token list matching split(trim(lower(text)), '\\s+') exactly:
    trim strips ASCII spaces only (Spark's StringTrim), re.ASCII makes
    Python \\s match the Java ASCII class (not Unicode whitespace), and
    boundary empty strings are KEPT — a leading/trailing tab leaves an
    '' token in the JVM fold, and the kernel must count it the same
    way. Always returns >= 1 token ([''] for an empty document)."""
    global _WS_ASCII
    if _WS_ASCII is None:
        import re

        _WS_ASCII = re.compile(r"\s+", re.ASCII)
    return _WS_ASCII.split(text.strip(" "))


# NULL-text sentinel shingle: the JVM fold maps NULL text to ONE
# degenerate shingle (xxhash64 over the NULL word slice evaluates to
# the seed constant, not NULL), so two adjacent NULL-text docs compare
# as identical singleton sets. Any fixed value preserves that; only
# set equality across docs surfaces in the query.
_NULL_SHINGLE = -7046029254386353131  # int64 view of 0x9E3779B97F4A7C15


@context_cached(maxsize=2)
def _jaccard_shingle_udf(k: int):
    """Distinct word-k-shingle hash set per document as a SORTED
    array<long> — the Arrow replacement for the interpreted JVM
    transform(xxhash64(slice(words, i, k))) fold (measured 2x; guide
    §4.2 "hand whole batches to vectorized native libraries").

    Hash values differ from the JVM xxhash64 fold by design — every
    consumer only compares shingle sets / counts, and any deterministic
    64-bit hash preserves those up to ~2^-64 collisions (the same
    contract the xxhash64 fold already carried vs the oracle's string
    shingles). The shingle hashes come from shingle_hashes_batch over
    the JVM fold's tokenization (_jvm_words); the per-doc distinct runs
    in numpy."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        hashes = shingle_hashes_batch(
            [[] if t is None else _jvm_words(t.lower()) for t in texts], k
        )
        return pd.Series(
            [
                [_NULL_SHINGLE] if t is None
                else np.unique(h).view(np.int64).tolist()
                for t, h in zip(texts, hashes)
            ]
        )

    return udf


def jaccard_shingle_hashes_col(text: Column, k: int = 3) -> Column:
    """text -> sorted distinct int64 word-k-shingle hashes (see
    _jaccard_shingle_udf); NULL text -> a singleton sentinel set, the
    JVM fold's behavior (xxhash64 of a NULL slice is the seed)."""
    return _jaccard_shingle_udf(k)(text)


def simhash64_py(text: str, k: int = 3) -> int:
    """64-bit SimHash over word k-shingles (signed int64 for Spark).
    Bit-majority accumulated with numpy unpackbits — vectorized."""
    h = _shingle_hashes64(text, k)
    if h.size == 0:
        return 0
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = bits.sum(axis=0) * 2 > h.size  # majority per bit position
    out = int(
        np.packbits(votes.astype(np.uint8), bitorder="little")
        .view(np.uint64)[0]
    )
    return out - (1 << 64) if out >= (1 << 63) else out


# universal-hash parameters over the 31-bit Mersenne prime: a,b,h < 2^31
# so a*h+b < 2^62 fits exactly in uint64 — standard 32-bit MinHash
_MINHASH_P = (1 << 31) - 1


@lru_cache(maxsize=4)
def _minhash_params(num_hashes: int):
    a = np.array(
        [(((2 * i + 1) * 0x9E3779B9) % _MINHASH_P) | 1 for i in range(num_hashes)],
        dtype=np.uint64,
    )[:, None]
    b = np.array(
        [((i + 1) * 0x85EBCA6B) % _MINHASH_P for i in range(num_hashes)],
        dtype=np.uint64,
    )[:, None]
    return a, b


def minhash_signature_py(text: str, num_hashes: int = 64, k: int = 3) -> list[int]:
    """MinHash signature via one base hash + universal-hash mixing.

    h_i(x) = (a_i * h(x) + b_i) mod p, p = 2^31-1 — each shingle hashed
    once with crc32, all permutations applied as one (num_hashes x
    n_shingles) uint64 broadcast, min along shingles. Fully vectorized."""
    base = _shingle_hashes64(text, k)
    if base.size == 0:
        return [0] * num_hashes
    a, b = _minhash_params(num_hashes)
    h = (base % np.uint64(_MINHASH_P))[None, :]
    sig = ((a * h + b) % np.uint64(_MINHASH_P)).min(axis=1)
    return [int(x) for x in sig]


def _simhash_from_hashes(h: "np.ndarray") -> int:
    if h.size == 0:
        return 0
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = bits.sum(axis=0) * 2 > h.size
    out = int(
        np.packbits(votes.astype(np.uint8), bitorder="little").view(np.uint64)[0]
    )
    return out - (1 << 64) if out >= (1 << 63) else out


def _minhash_from_hashes(h: "np.ndarray", num_hashes: int) -> list[int]:
    if h.size == 0:
        return [0] * num_hashes
    a, b = _minhash_params(num_hashes)
    hh = (h % np.uint64(_MINHASH_P))[None, :]
    sig = ((a * hh + b) % np.uint64(_MINHASH_P)).min(axis=1)
    return [int(x) for x in sig]


def _batch_shingle_hashes(texts, k: int) -> list["np.ndarray"]:
    """shingle_hashes_batch over the reference twins' tokenization:
    lowercased, Python-whitespace-split words; NULL text is empty."""
    return shingle_hashes_batch([(t or "").lower().split() for t in texts], k)


def simhash64_batch_py(texts, k: int = 3) -> list[int]:
    """simhash64_py over a whole batch, BIT-IDENTICAL per doc (pinned by
    test_r06_optimizations): the shared batch kernel, then the
    bit-majority per doc. Used by the enrich UDF (the flagship chain's
    per-doc simhash)."""
    return [_simhash_from_hashes(h) for h in _batch_shingle_hashes(texts, k)]


@context_cached(maxsize=2)
def _minhash_udf(num_hashes: int, k: int):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _minhash_from_hashes(h, num_hashes)
                for h in _batch_shingle_hashes(texts, k)
            ]
        )

    return udf


def minhash_signature_col(text: Column, num_hashes: int = 64, k: int = 3) -> Column:
    """text -> MinHash signature (minhash_signature_py per doc, batch
    kernel)."""
    return _minhash_udf(num_hashes, k)(text)


def content_hash_bytes_blake3(
    names_values: list[tuple[str, str | None]]
) -> str:
    """REFERENCE-COMPARABLE content hash: replicates content_hash.rs
    byte-for-byte — per selected name: name bytes, 0x00, then either
    0x01 + u64-LE(len) + canonical JSON (recursively key-sorted, compact,
    UTF-8 like serde_json) or 0x02 when missing, then 0xFF — hashed with
    BLAKE3 and formatted ``blake3:<hex>`` (content_hash.rs:27-66).

    ``names_values``: (extract name, JSON string of the anchor struct or
    None) in ``over`` order."""
    import json as _json

    from .blake3_pure import blake3_hex

    def canonical(v):
        # serde_json::to_vec of a BTreeMap-canonicalized Value: compact
        # separators, keys sorted recursively, raw UTF-8
        return _json.dumps(
            v, separators=(",", ":"), sort_keys=True, ensure_ascii=False
        ).encode("utf-8")

    buf = bytearray()
    for name, js in names_values:
        buf += name.encode("utf-8")
        buf += b"\x00"
        if js is None:
            buf += b"\x02"
        else:
            enc = canonical(_json.loads(js))
            buf += b"\x01"
            buf += len(enc).to_bytes(8, "little")
            buf += enc
        buf += b"\xff"
    return "blake3:" + blake3_hex(bytes(buf))


@context_cached(maxsize=32)
def _blake3_content_hash_udf(names: tuple[str, ...]):
    @F.pandas_udf(T.StringType())
    def udf(jsons: pd.Series) -> pd.Series:
        return pd.Series(
            [
                content_hash_bytes_blake3(list(zip(names, vals)))
                for vals in jsons
            ]
        )

    return udf


def content_hash_col(*cols: Column, algo: str = "md5", names: tuple[str, ...] = ()) -> Column:
    """Canonical content hash over a fixed-order tuple of columns.

    md5/sha256/xxhash64: fields serialized in the given order (reference:
    ``over`` order, content_hash.rs:24-31) with presence tags: null ->
    the literal tag ``\\x02missing`` (content_hash.rs presence-tagged
    0x01/0x02 encoding), separated by 0xFF-analog '\\x7f'. JVM-side end
    to end.

    blake3 (requires ``names``, the extract names in ``over`` order):
    REFERENCE-COMPARABLE — the exact content_hash.rs byte encoding hashed
    with the pure-Python BLAKE3 in an Arrow-batched UDF. The one hash
    algo that costs a Python stage; rules choose it when outputs must
    equal the reference's ``blake3:<hex>`` strings.
    """
    if algo == "blake3":
        if len(names) != len(cols):
            raise ValueError("blake3 content_hash requires extract names")
        return _blake3_content_hash_udf(tuple(names))(F.array(*cols))
    parts = []
    for c in cols:
        parts.append(
            F.when(c.isNull(), F.lit("\x02missing")).otherwise(
                F.concat(F.lit("\x01"), c.cast("string"))
            )
        )
    canonical = F.concat_ws("\x7f", *parts)
    if algo == "md5":
        return F.concat(F.lit("md5:"), F.md5(canonical))
    if algo == "sha256":
        return F.concat(F.lit("sha256:"), F.sha2(canonical, 256))
    if algo == "xxhash64":
        return F.concat(F.lit("xxh64:"), F.conv(F.hex(F.xxhash64(canonical)), 16, 16))
    raise ValueError(f"unknown algo {algo}")


def canonical_text_col(text: Column) -> Column:
    """Case/whitespace canonicalization before content hashing."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


# ---------------------------------------------------------------------------
# winnowing document fingerprints — the MOSS construction
# (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD 2003 — public). The k-gram hash is the first
# 15 hex digits of md5, so an external engine (the DuckDB oracle) can
# recompute the fingerprint SET exactly. The tie rule of classic
# winnowing picks a POSITION; the selected VALUE set is
# tie-rule-independent (every selected value is a window minimum), so
# set aggregates over window minima are the portable contract. The
# winnow query runs the pure-Column form (winnow_gram_hashes_col +
# winnow_minima_from_hashes) and the Arrow UDF form side by side under
# the oracle. Reference analog: content identity,
# src/dsl/content_hash.rs:7-69.
# ---------------------------------------------------------------------------


def _ascii_ws_normalize(text: str) -> str:
    """Collapse ASCII whitespace runs to single spaces + strip — the
    EXACT semantics of trim(regexp_replace(lower(x), '\\s+', ' ')) on
    the JVM and of RE2 \\s in DuckDB. Python str.split() would also
    split on Unicode whitespace (NBSP etc.), silently diverging the
    UDF contract path from the Column/oracle paths (review finding
    r4)."""
    import re

    toks = [t for t in re.split(r"\s+", (text or "").lower(), flags=re.ASCII)
            if t]
    return " ".join(toks)


def winnow_minima_py(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Window minima (with duplicates) of md5 k-gram hashes over
    whitespace-normalized lowercased text — the portable contract."""
    s = _ascii_ws_normalize(text)
    if len(s) < k:
        return []
    hs = [
        int(hashlib.md5(s[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
        for i in range(len(s) - k + 1)
    ]
    nw = max(len(hs) - window + 1, 1)
    return [min(hs[j : j + window]) for j in range(nw)]


@context_cached(maxsize=2)
def _winnow_minima_udf(k: int, window: int):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        return pd.Series([winnow_minima_py(t, k, window) for t in texts])

    return udf


def winnow_minima_md5_udf_col(
    text: Column, k: int = 8, window: int = 4
) -> Column:
    """Arrow-batched UDF path of the portable contract."""
    return _winnow_minima_udf(k, window)(text)


def sketch_md5_py(
    text: str, seeds: tuple[int, ...] = (0, 7, 15), k: int = 3
) -> tuple[int, list[int]]:
    """Portable (md5-contract) SimHash16 + MinHash over word k-shingles
    — same role as simhash64_batch_py / minhash_signature_col (the dedup
    operators' blake2b path) but recomputable in any engine with md5,
    so the sketch operator sits under the driver's hard oracle signal
    (the winnow pattern applied to near-dup identity). Contract: words
    = whitespace-split lowercased text; shingles = k-word grams (the
    whole text as one shingle when shorter); hash_i(s) = first 15 hex
    digits of md5('<i>:' + s); minhash_i = min over shingles;
    simhash16 bit b set iff sum over DISTINCT shingles of
    (bit_b(hash_sim(s)) ? +1 : -1) > 0 with hash_sim seeded 'sim'.
    Only the EMITTED seeds are computed (each (seed, shingle) pair is
    one md5 digest — the full 16/64-seed signature is
    minhash_signature_col's vectorized job, not this contract's)."""
    words = _ascii_ws_normalize(text).split(" ") if text else []
    words = [w for w in words if w]
    if len(words) >= k:
        shingles = [
            " ".join(words[i : i + k]) for i in range(len(words) - k + 1)
        ]
    else:
        shingles = [" ".join(words)]

    def h(seed, s: str) -> int:
        return int(
            hashlib.md5(f"{seed}:{s}".encode("utf-8")).hexdigest()[:15], 16
        )

    minhash = [min(h(i, s) for s in shingles) for i in seeds]
    sim_hashes = [h("sim", s) for s in set(shingles)]
    sim = 0
    for b in range(16):
        t = sum(1 if (x >> b) & 1 else -1 for x in sim_hashes)
        if t > 0:
            sim |= 1 << b
    return sim, minhash


def _md5_60(seed, s: str) -> int:
    """First 15 hex digits of md5('<seed>:'+s) — via the raw digest
    (high 60 bits of the first 8 bytes), identical to
    int(hexdigest[:15], 16) without the hex-string round-trip."""
    d = hashlib.md5(f"{seed}:{s}".encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big") >> 4


_SKETCH_MEMO_CAP = 1_000_000  # ~100 MB worst case; cleared when exceeded


def _sketch_md5_batch(
    texts, seeds: tuple[int, ...], k: int,
    memo: dict | None = None,
) -> tuple[list[int], list[list[int]]]:
    """Batch evaluation of the sketch_md5_py contract with a shingle ->
    (h_seed..., h_sim) memo: shingles repeat heavily across documents
    (Zipf), so each distinct shingle pays its len(seeds)+1 md5 digests
    once per WORKER (the memo outlives the batch via the UDF closure +
    worker reuse), and the per-bit SimHash majority vote runs
    vectorized in numpy. Output is bit-identical to mapping
    sketch_md5_py over the batch (pinned by test_r06_optimizations).
    The memo is capped (md5 values are pure, so clearing it only costs
    recomputation)."""
    if memo is None:
        memo = {}
    all_seeds = (*seeds, "sim")
    ns = len(seeds)
    sims: list[int] = []
    mins: list[list[int]] = []
    bitpos = np.arange(16, dtype=np.uint64)
    mget = memo.get
    for t in texts:
        words = _ascii_ws_normalize(t).split(" ") if t else []
        words = [w for w in words if w]
        # dedupe FIRST (dict.fromkeys, C-speed): the minhash min and the
        # sim vote are both over the distinct-shingle set (min over a
        # set equals min over the multiset), so duplicate shingles never
        # reach the memo loop
        if len(words) >= k:
            shingles = dict.fromkeys(
                " ".join(words[i: i + k])
                for i in range(len(words) - k + 1)
            )
        else:
            shingles = {" ".join(words): None}
        if len(memo) > _SKETCH_MEMO_CAP:
            memo.clear()
        hs_list = []
        for s in shingles:
            hs = mget(s)
            if hs is None:
                hs = tuple(_md5_60(seed, s) for seed in all_seeds)
                memo[s] = hs
            hs_list.append(hs)
        mins.append([min(h[i] for h in hs_list) for i in range(ns)])
        hsim = np.fromiter(
            (h[ns] for h in hs_list), dtype=np.uint64, count=len(hs_list)
        )
        # per-bit majority over distinct shingles: +1/-1 votes
        votes = 2 * ((hsim[:, None] >> bitpos) & np.uint64(1)).sum(
            axis=0
        ).astype(np.int64) - len(hsim)
        sims.append(int(((votes > 0).astype(np.uint64) << bitpos).sum()))
    return sims, mins


@context_cached(maxsize=2)
def _sketch_md5_udf(seeds: tuple[int, ...], k: int):
    memo: dict = {}  # per-worker, survives batches (worker reuse)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("simhash16", T.LongType()),
                T.StructField("minhash", T.ArrayType(T.LongType())),
            ]
        )
    )
    def udf(texts: pd.Series) -> pd.DataFrame:
        sims, mins = _sketch_md5_batch(texts, seeds, k, memo)
        return pd.DataFrame({"simhash16": sims, "minhash": mins})

    return udf


def sketch_md5_udf_col(
    text: Column, seeds: tuple[int, ...] = (0, 7, 15), k: int = 3
) -> Column:
    """Arrow-batched UDF path of the portable sketch contract."""
    return _sketch_md5_udf(tuple(seeds), k)(text)


def sketch_words_col(col_name: str) -> Column:
    """Lowercased ASCII-whitespace word array from a text column (by
    NAME) — project THIS first, then pass its name to
    sketch_shingles_col (lambda-CSE: interpolating the split into the
    shingle lambda would re-split the text once per shingle)."""
    return F.expr(
        f"filter(split(trim(lower({col_name})), '\\\\s+'), w -> w != '')"
    )


def sketch_shingles_col(words_col: str, k: int = 3) -> Column:
    """Word k-shingles from an ALREADY-PROJECTED word-array column (by
    NAME; lambda-CSE rule): array<string>, whole-text single shingle
    when shorter than k words.

    Built from k bulk slices chained through zip_with concat instead of
    a per-position transform(array_join(slice(...))) — the same strings
    with k-1 array traversals instead of one interpreted slice+join per
    shingle (measured ~2x on the shingle stage, r6)."""
    ws = words_col
    m = f"size({ws}) - {k - 1}"
    chain = f"slice({ws}, 1, {m})"
    for j in range(2, k + 1):
        chain = (
            f"zip_with({chain}, slice({ws}, {j}, {m}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return F.expr(
        f"CASE WHEN size({ws}) >= {k} THEN {chain} "
        f"ELSE array(array_join({ws}, ' ')) END"
    )


def _md5_hash_sql(seed: str, s: str) -> str:
    return (
        f"cast(conv(substr(md5(concat('{seed}:', {s})), 1, 15), 16, 10) "
        f"as bigint)"
    )


def sketch_minhash_col(shingles_col: str, seed: int) -> Column:
    """min over shingles of the seeded md5 hash (by NAME)."""
    return F.expr(
        f"array_min(transform({shingles_col}, "
        f"s -> {_md5_hash_sql(str(seed), 's')}))"
    )


def sketch_sim_hashes_col(shingles_col: str) -> Column:
    """'sim'-seeded hashes of the DISTINCT shingles (by NAME) —
    project this ONCE before sketch_simhash16_from_hashes (the 16
    per-bit folds below would otherwise each recompute every md5)."""
    return F.expr(
        f"transform(array_distinct({shingles_col}), "
        f"s -> {_md5_hash_sql('sim', 's')})"
    )


def sketch_simhash16_from_hashes(hs_col: str) -> Column:
    """16-bit SimHash from a projected sim-hash array (by NAME)."""
    terms = []
    for b in range(16):
        bitsum = (
            f"aggregate({hs_col}, cast(0 as bigint), "
            f"(a, x) -> a + ((x >> {b}) & 1) * 2 - 1)"
        )
        terms.append(f"(CASE WHEN {bitsum} > 0 THEN {1 << b} ELSE 0 END)")
    return F.expr(" + ".join(terms)).cast("long")


def winnow_gram_hashes_col(col_name: str, k: int = 8) -> Column:
    """Pure-Column md5 k-gram hashes over an ALREADY-PROJECTED
    normalized-text column (passed by NAME — lambda-CSE: Catalyst does
    not CSE under HOF lambdas, so an expression argument would be
    recomputed per sequence element). O(m·k) digests per doc — the
    oracle path; the numpy UDF is the scale path."""
    return F.expr(
        # conv(hex,16,10) returns a decimal string; 15 hex digits = 60
        # bits, so the bigint cast cannot overflow
        f"CASE WHEN length({col_name}) >= {k} THEN "
        f"transform(sequence(1, length({col_name}) - {k - 1}), "
        f"i -> cast(conv(substr(md5(substring({col_name}, i, {k})), 1, 15), 16, 10) as bigint)) "
        f"ELSE cast(array() as array<bigint>) END"
    )


def winnow_minima_from_hashes(col_name: str, window: int = 4) -> Column:
    """Window minima over a projected gram-hash array column (by
    NAME, same lambda-CSE rule)."""
    return F.expr(
        f"CASE WHEN size({col_name}) = 0 THEN cast(array() as array<bigint>) "
        f"ELSE transform(sequence(1, greatest(size({col_name}) - {window - 1}, 1)), "
        f"j -> array_min(slice({col_name}, j, {window}))) END"
    )
