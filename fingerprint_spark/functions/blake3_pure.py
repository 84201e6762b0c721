"""Pure-Python BLAKE3 (hash mode only) — public spec implementation.

Written from the published BLAKE3 specification (the official paper /
IETF draft): 7-round compression over 16-word states, SHA-256 IV, the
fixed 16-element message permutation, 1024-byte chunks of 64-byte
blocks, and a binary tree of parent compressions. Keyed mode and
derive-key mode are not needed by the engine and are omitted; extended
output (XOF) is truncated at the default 32 bytes.

Exists because the reference's content hash format is
``blake3:<hex>`` (src/dsl/content_hash.rs:24,66) and its compile
validation requires blake3 — no JVM/hashlib blake3 is available in this
environment, so the (already-Python-side) hash step uses this module.

Validated in tests against the published official vectors for the
empty input and the single 0x00 byte (which exercise the full round
function, permutation schedule, and flag placement); longer-input
vectors are not reproducible offline — multi-block and multi-chunk
paths are covered by structural invariants (incremental == one-shot
framing, boundary sensitivity) instead.
"""

from __future__ import annotations

import struct

_IV = (
    0x6A09E667, 0xBB67AE85, 0x3C6EF372, 0xA54FF53A,
    0x510E527F, 0x9B05688C, 0x1F83D9AB, 0x5BE0CD19,
)
_MSG_PERM = (2, 6, 3, 10, 7, 0, 4, 13, 1, 11, 12, 5, 9, 14, 15, 8)

_CHUNK_START = 1
_CHUNK_END = 2
_PARENT = 4
_ROOT = 8

_MASK = 0xFFFFFFFF
_BLOCK_LEN = 64
_CHUNK_LEN = 1024


def _rotr(x: int, n: int) -> int:
    return ((x >> n) | (x << (32 - n))) & _MASK


def _g(v: list[int], a: int, b: int, c: int, d: int, mx: int, my: int) -> None:
    v[a] = (v[a] + v[b] + mx) & _MASK
    v[d] = _rotr(v[d] ^ v[a], 16)
    v[c] = (v[c] + v[d]) & _MASK
    v[b] = _rotr(v[b] ^ v[c], 12)
    v[a] = (v[a] + v[b] + my) & _MASK
    v[d] = _rotr(v[d] ^ v[a], 8)
    v[c] = (v[c] + v[d]) & _MASK
    v[b] = _rotr(v[b] ^ v[c], 7)


def _compress(
    cv: tuple[int, ...],
    block: bytes,
    counter: int,
    block_len: int,
    flags: int,
) -> list[int]:
    m = list(struct.unpack("<16I", block))
    v = [
        cv[0], cv[1], cv[2], cv[3], cv[4], cv[5], cv[6], cv[7],
        _IV[0], _IV[1], _IV[2], _IV[3],
        counter & _MASK, (counter >> 32) & _MASK, block_len, flags,
    ]
    for _ in range(7):
        _g(v, 0, 4, 8, 12, m[0], m[1])
        _g(v, 1, 5, 9, 13, m[2], m[3])
        _g(v, 2, 6, 10, 14, m[4], m[5])
        _g(v, 3, 7, 11, 15, m[6], m[7])
        _g(v, 0, 5, 10, 15, m[8], m[9])
        _g(v, 1, 6, 11, 12, m[10], m[11])
        _g(v, 2, 7, 8, 13, m[12], m[13])
        _g(v, 3, 4, 9, 14, m[14], m[15])
        m = [m[_MSG_PERM[i]] for i in range(16)]
    return [
        v[0] ^ v[8], v[1] ^ v[9], v[2] ^ v[10], v[3] ^ v[11],
        v[4] ^ v[12], v[5] ^ v[13], v[6] ^ v[14], v[7] ^ v[15],
    ]


def _chunk_blocks(chunk: bytes):
    """Yield (block_bytes, block_len) 64-byte blocks; an empty chunk is
    one zero-filled block of length 0 (spec: empty input still compresses
    once)."""
    if not chunk:
        yield b"\x00" * _BLOCK_LEN, 0
        return
    for off in range(0, len(chunk), _BLOCK_LEN):
        blk = chunk[off: off + _BLOCK_LEN]
        yield blk.ljust(_BLOCK_LEN, b"\x00"), len(blk)


def _chunk_output(chunk: bytes, chunk_counter: int):
    """Compress a chunk; returns (cv_words, last_block_state) where the
    ROOT flag is deferred so the caller can finalize the root node."""
    blocks = list(_chunk_blocks(chunk))
    cv = _IV
    for i, (blk, blen) in enumerate(blocks):
        flags = 0
        if i == 0:
            flags |= _CHUNK_START
        if i == len(blocks) - 1:
            flags |= _CHUNK_END
            # defer: root finalization happens in blake3()
            return cv, (blk, chunk_counter, blen, flags)
        cv = tuple(_compress(cv, blk, chunk_counter, blen, flags))
    raise AssertionError("unreachable")


def blake3(data: bytes) -> bytes:
    """32-byte BLAKE3 digest (hash mode)."""
    chunks = [
        data[i: i + _CHUNK_LEN] for i in range(0, len(data), _CHUNK_LEN)
    ] or [b""]

    # leaf chunk CVs; the LAST node's final compression carries ROOT when
    # it is the root of the tree
    if len(chunks) == 1:
        cv, (blk, counter, blen, flags) = _chunk_output(chunks[0], 0)
        out = _compress(cv, blk, counter, blen, flags | _ROOT)
        return struct.pack("<8I", *out)

    cvs = []
    for i, ch in enumerate(chunks):
        cv, (blk, counter, blen, flags) = _chunk_output(ch, i)
        cvs.append(tuple(_compress(cv, blk, counter, blen, flags)))

    # binary tree of parent nodes (left-full tree per spec: combine pairs
    # left-to-right each level; odd node carries up unchanged)
    while len(cvs) > 2:
        nxt = []
        for j in range(0, len(cvs) - 1, 2):
            block = struct.pack("<8I", *cvs[j]) + struct.pack("<8I", *cvs[j + 1])
            nxt.append(tuple(_compress(_IV, block, 0, _BLOCK_LEN, _PARENT)))
        if len(cvs) % 2:
            nxt.append(cvs[-1])
        cvs = nxt
    block = struct.pack("<8I", *cvs[0]) + struct.pack("<8I", *cvs[1])
    out = _compress(_IV, block, 0, _BLOCK_LEN, _PARENT | _ROOT)
    return struct.pack("<8I", *out)


def blake3_hex(data: bytes) -> str:
    return blake3(data).hex()
