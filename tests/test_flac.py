"""FLAC-subset codec (operators/flac_codec.py) — bit-exact tests.

Round-4 VERDICT #5: close the audio tier the way jpeg_codec closed
images — a lossless stdlib-feasible decoder whose output is PROVEN
exact (CRC-8/16 + STREAMINFO md5), wired into the media_roundtrip
oracle row.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fingerprint_spark.operators.flac_codec import (
    _crc8,
    _crc16,
    _read_utf8_coded,
    _utf8_coded,
    decode_flac,
    encode_flac,
)


def _roundtrip(s, **kw):
    d = decode_flac(encode_flac(s, **kw))
    want = s if s.ndim == 2 else s[:, None]
    assert d["samples"].shape == want.shape
    assert (d["samples"] == want).all()
    return d


def test_roundtrip_shapes_and_paths():
    rng = np.random.RandomState(7)
    _roundtrip(np.full(300, -123, dtype=np.int16))            # CONSTANT
    _roundtrip((np.arange(500) * 13 % 4096 - 2048).astype(np.int16))
    _roundtrip(rng.randint(-32768, 32767, 777).astype(np.int16))
    _roundtrip(np.array([5], dtype=np.int16))                  # CONSTANT 1-blk
    # non-flat final partial block of 3 -> VERBATIM subframe
    _roundtrip(np.array([9, -4, 17] * 23, dtype=np.int16)[:67],
               blocksize=64)
    _roundtrip(np.array([32767, -32768] * 50, dtype=np.int16))  # extremes
    st = np.stack(
        [(np.arange(321) * 7 % 1000 - 500), np.full(321, 42)], axis=1
    ).astype(np.int16)
    d = _roundtrip(st, rate=44100, blocksize=128)
    assert d["rate"] == 44100 and d["channels"] == 2
    assert d["n_samples"] == 321


def test_corruption_and_subset_refusals():
    b = bytearray(encode_flac(
        (np.arange(500) * 13 % 4096 - 2048).astype(np.int16)
    ))
    bad = bytearray(b)
    bad[-10] ^= 0x01
    with pytest.raises(ValueError, match="CRC-16"):
        decode_flac(bytes(bad))
    with pytest.raises(ValueError, match="magic"):
        decode_flac(b"not flac at all")
    with pytest.raises(ValueError, match="truncated|corrupt"):
        decode_flac(bytes(b[: len(b) // 2]))
    # md5 tamper: flip a bit in the STREAMINFO md5 field
    bad2 = bytearray(b)
    bad2[4 + 4 + 18] ^= 0x01
    with pytest.raises(ValueError, match="md5"):
        decode_flac(bytes(bad2))
    # malicious total-samples (the 36-bit field maxed) must be refused
    # BEFORE allocation, not surface as MemoryError (review finding)
    bad3 = bytearray(b)
    bad3[8 + 14 : 8 + 18] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="cap"):
        decode_flac(bytes(bad3))


def test_utf8_coded_number_roundtrip():
    for n in (0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10000,
              123456789, (1 << 36) - 1):
        enc = _utf8_coded(n)
        got, end = _read_utf8_coded(enc, 0)
        assert (got, end) == (n, len(enc)), n


def test_crc_vectors():
    # linearity/sanity: CRC of empty is 0; appending the CRC byte(s)
    # of a message yields remainder 0 (the defining property)
    assert _crc8(b"") == 0 and _crc16(b"") == 0
    msg = b"\xff\xf8\x70\x18\x00"
    assert _crc8(msg + bytes([_crc8(msg)])) == 0
    c16 = _crc16(msg)
    assert _crc16(msg + bytes([c16 >> 8, c16 & 0xFF])) == 0


def test_stereo_decorrelation_roundtrips():
    """left/side, right/side, mid/side — the channel assignments real
    encoders emit — roundtrip bit-exactly (side channel at bps+1,
    mid/side low-bit recovery from side parity)."""
    rng = np.random.RandomState(3)
    # correlated stereo (small side channel — the decorrelation win)
    base = (np.sin(np.arange(700) / 9.0) * 15000).astype(np.int64)
    right = base + rng.randint(-300, 300, 700)
    st = np.stack([base, right], axis=1).astype(np.int16)
    sizes = {}
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        b = encode_flac(st, rate=8000, blocksize=128, stereo_mode=mode)
        d = decode_flac(b)
        assert (d["samples"] == st).all(), mode
        sizes[mode] = len(b)
    # decorrelation actually compresses better on correlated stereo
    assert min(sizes["left_side"], sizes["mid_side"]) < sizes["independent"]
    # extremes through the side channel (needs the 17th bit:
    # side = 32767 - (-32768) = 65535)
    ext = np.stack(
        [np.full(100, 32767), np.full(100, -32768)], axis=1
    ).astype(np.int16)
    for mode in ("left_side", "right_side", "mid_side"):
        d = decode_flac(encode_flac(ext, stereo_mode=mode))
        assert (d["samples"] == ext).all(), mode
    with pytest.raises(ValueError, match="2 channels"):
        encode_flac(np.zeros(10, dtype=np.int16), stereo_mode="mid_side")


def test_lpc_and_wasted_bits_roundtrip():
    """LPC subframes (the path real encoders emit most) and wasted-bits
    coding roundtrip bit-exactly; LPC beats FIXED on smooth signals."""
    rng = np.random.RandomState(5)
    sig = (np.sin(np.arange(2000) / 6.0) * 9000
           + rng.randint(-50, 50, 2000)).astype(np.int16)
    b_fixed = encode_flac(sig, blocksize=256)
    b_lpc = encode_flac(sig, blocksize=256, lpc_order=2)
    d = decode_flac(b_lpc)
    assert (d["samples"][:, 0] == sig).all()
    assert len(b_lpc) < len(b_fixed)      # the LPC win on smooth audio
    # wasted bits: all samples share 3 trailing zero bits
    w8 = (np.arange(500) * 8 % 4096 - 2048).astype(np.int16)
    assert (decode_flac(encode_flac(w8))["samples"][:, 0] == w8).all()
    # LPC + stereo decorrelation + wasted bits compose
    st = np.stack([w8, (w8 // 2) * 2], axis=1).astype(np.int16)
    b = encode_flac(st, stereo_mode="mid_side", lpc_order=2)
    assert (decode_flac(b)["samples"] == st).all()


def test_crafted_lpc_overflow_stays_valueerror():
    """Review finding r4b: a crafted LPC stream that blows the
    predictor past int64 must be a ValueError row outcome, not an
    OverflowError task crash; bad stereo_mode is ValueError even on
    empty input."""
    from fingerprint_spark.operators.flac_codec import (
        _BitWriter, _crc8, _crc16, _utf8_coded,
    )
    import struct as _struct

    # valid STREAMINFO for 64 samples mono
    import numpy as np_
    base = encode_flac(np_.zeros(64, dtype=np_.int16))
    head_end = 8 + 34   # fLaC + block header + STREAMINFO
    stream = bytearray(base[:head_end])
    # frame header: blocksize 16-bit form, rate streaminfo, mono, 16bps
    h = bytearray(b"\xff\xf8")
    h.append((0x7 << 4) | 0x0)
    h.append((0 << 4) | (0x4 << 1) | 0)
    h += _utf8_coded(0)
    h += _struct.pack(">H", 63)
    h.append(_crc8(bytes(h)))
    w = _BitWriter()
    w.write(0, 1)
    w.write(0x20 | 31, 6)   # LPC order 32
    w.write(0, 1)
    for _ in range(32):
        w.write(30000, 16)  # big warm-up
    w.write(14, 4)          # precision 15
    w.write(0, 5)           # shift 0
    for _ in range(32):
        w.write(16383, 15)  # huge positive coefs
    w.write(0, 2)           # rice, 4-bit params
    w.write(0, 4)           # partition order 0
    w.write(0xF, 4)         # escape
    w.write(20, 5)          # raw 20-bit residuals
    for _ in range(64 - 32):
        w.write(0, 20)
    w.align()
    frame = bytes(h) + w.bytes()
    stream += frame + _struct.pack(">H", _crc16(frame))
    with pytest.raises(ValueError):
        decode_flac(bytes(stream))
    with pytest.raises(ValueError, match="stereo_mode"):
        encode_flac(np.zeros((0, 2), dtype=np.int16), stereo_mode="mid-side")


def test_highly_compressible_silence_decodes():
    # ADVICE r4: the old ratio bound (decoded > 16x stream) refused
    # legitimate CONSTANT-heavy audio — 64k silent samples at a real
    # encoder blocksize compress far beyond 16x and must still decode
    sig = np.zeros(65536, dtype=np.int16)
    enc = encode_flac(sig, rate=44100, blocksize=4096)
    assert len(enc) * 16 < sig.nbytes  # genuinely beyond the old bound
    d = decode_flac(enc)
    assert d["samples"].shape == (65536, 1)
    assert not d["samples"].any()
