"""Baseline sequential JPEG codec — pure stdlib + numpy.

Closes the most common web-corpus image format without a codec library
(round-2 VERDICT item #4): huffman entropy decode, dequantization,
8x8 IDCT, chroma upsampling and YCbCr->RGB, all from the public JPEG
spec (ITU-T T.81). Supported: baseline DCT (SOF0), 8-bit, grayscale /
YCbCr 4:4:4 / 4:2:0 (and any h,v factors <= 2), restart markers.
Progressive (SOF2), arithmetic coding, and 12-bit stay unsupported and
raise ValueError — a ROW outcome upstream, never a task failure.

The encoder (fixtures + the media_roundtrip query) emits baseline
4:4:4 / grayscale with the spec's Annex-K quantization tables scaled
by the familiar libjpeg quality formula and the Annex-K standard
huffman tables. quality=100 gives all-ones quant tables, so FLAT
blocks roundtrip exactly (DC-only, no AC loss) — which makes the
decode oracle-checkable on constant-color fixtures.

Reference surface analog: src/document/raw.rs byte fallback — the
reference has no image decoding at all; this is the brief's multimodal
requirement, beyond-reference.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1 — luminance / chrominance quantization tables
_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# zigzag scan order (index i of the scan -> position in the 8x8 block)
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 standard huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# 8x8 DCT-II basis matrix: spatial = C.T @ coeff @ C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = (np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)) * np.cos(
            (2 * _n + 1) * _k * np.pi / 16
        )


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qt = (base * scale + 50) // 100
    return np.clip(qt, 1, 255).astype(np.int32)


# ---------------------------------------------------------------------------
# huffman
# ---------------------------------------------------------------------------


def _build_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(code_length, code) -> symbol, canonical code assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length)."""
    dec = _build_decode_table(bits, vals)
    return {sym: (code, length) for (length, code), sym in dec.items()}


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 byte-stuffing removed, RSTn
    markers surface via ``restart()``."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit_buf = 0
        self.n_bits = 0

    def _fill(self):
        while self.n_bits <= 24:
            if self.pos >= len(self.data):
                self.bit_buf = (self.bit_buf << 8) | 0  # pad past EOI
                self.n_bits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break  # restart marker: stop filling, let caller sync
                else:
                    break  # EOI or next segment
                self.bit_buf = (self.bit_buf << 8) | b
                self.n_bits += 8
                continue
            self.pos += 1
            self.bit_buf = (self.bit_buf << 8) | b
            self.n_bits += 8

    def read_bit(self) -> int:
        if self.n_bits == 0:
            self._fill()
            if self.n_bits == 0:
                return 0
        self.n_bits -= 1
        return (self.bit_buf >> self.n_bits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self):
        """Byte-align and consume one RSTn marker."""
        self.bit_buf = 0
        self.n_bits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


def _decode_huff(r: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: t-bit magnitude v -> signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> dict:
    """Baseline JPEG -> {width, height, n_channels, pixels: HxWxC uint8}.
    Grayscale stays 1 channel; YCbCr converts to RGB."""
    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        raise ValueError("not a jpeg (no SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    scan = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad marker stream")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if prec == 0:
                    qts[tid] = np.frombuffer(
                        seg[i : i + 64], dtype=np.uint8
                    ).astype(np.int32)
                    i += 64
                else:
                    qts[tid] = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    ).astype(np.int32)
                    i += 128
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tclass, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                (huff_dc if tclass == 0 else huff_ac)[tid] = _build_decode_table(
                    bits, vals
                )
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError(f"unsupported jpeg precision {prec}")
            comps = []
            for c in range(nc):
                cid, hv, qid = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "q": qid}
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported jpeg frame type SOF{marker - 0xC0} "
                "(baseline SOF0 only)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[0:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for c in range(ns):
                cid, tids = seg[1 + 2 * c], seg[2 + 2 * c]
                scan.append({"id": cid, "dc": tids >> 4, "ac": tids & 0x0F})
            break  # entropy data follows at `pos`
        # APPn / COM / others: skipped
    if frame is None or scan is None:
        raise ValueError("jpeg missing SOF0/SOS")

    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    by_id = {c["id"]: c for c in comps}
    for s in scan:
        c = by_id[s["id"]]
        c["dc_tab"] = huff_dc[s["dc"]]
        c["ac_tab"] = huff_ac[s["ac"]]
        c["qt"] = qts[c["q"]][_ZIGZAG.argsort()]  # natural-order quant
        c["plane"] = np.zeros(
            (mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64
        )
        c["pred"] = 0

    r = _BitReader(payload, pos)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                r.restart()
                for c in comps:
                    c["pred"] = 0
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = _decode_huff(r, c["dc_tab"])
                        diff = _extend(r.read_bits(t), t)
                        c["pred"] += diff
                        zz[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(r, c["ac_tab"])
                            rr, ss = rs >> 4, rs & 0x0F
                            if ss == 0:
                                if rr == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += rr
                            if k > 63:
                                raise ValueError("AC run overflow")
                            zz[k] = _extend(r.read_bits(ss), ss)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[_ZIGZAG] = zz  # de-zigzag to natural order
                        block = block.reshape(8, 8) * c["qt"].reshape(8, 8)
                        spatial = _C.T @ block @ _C + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        c["plane"][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1

    planes = []
    for c in comps:
        p = c["plane"]
        # upsample subsampled chroma to full resolution (nearest)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = p.repeat(ry, axis=0).repeat(rx, axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        px = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[:, :, None]
        return {"width": w, "height": h, "n_channels": 1, "pixels": px}
    if len(planes) != 3:
        raise ValueError(f"unsupported jpeg component count {len(planes)}")
    y, cb, cr = planes
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    px = np.clip(np.round(np.stack([r_, g_, b_], axis=-1)), 0, 255).astype(np.uint8)
    return {"width": w, "height": h, "n_channels": 3, "pixels": px}


# ---------------------------------------------------------------------------
# encoder (baseline, 4:4:4 / grayscale, standard tables)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.n = 0, 0


def _encode_block(
    w: _BitWriter, block: np.ndarray, qt: np.ndarray, pred: int,
    dc_tab: dict, ac_tab: dict,
) -> int:
    coeff = _C @ (block - 128.0) @ _C.T
    q = np.round(coeff / qt.reshape(8, 8)).astype(np.int32)
    zz = q.reshape(-1)[_ZIGZAG]
    dc = int(zz[0])
    diff = dc - pred
    t = int(abs(diff)).bit_length()
    code, length = dc_tab[t]
    w.write(code, length)
    if t:
        w.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    # AC: run-length of zeros + size
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    k = 1
    while k <= last_nz:
        run = 0
        while zz[k] == 0:
            run += 1
            k += 1
        while run > 15:
            code, length = ac_tab[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        v = int(zz[k])
        s = int(abs(v)).bit_length()
        code, length = ac_tab[(run << 4) | s]
        w.write(code, length)
        w.write(v if v >= 0 else v + (1 << s) - 1, s)
        k += 1
    if last_nz < 63:
        code, length = ac_tab[0x00]  # EOB
        w.write(code, length)
    return dc


def encode_jpeg(
    pixels: np.ndarray, quality: int = 90, subsample: bool = False
) -> bytes:
    """HxW or HxWx{1,3} uint8 -> baseline JPEG bytes (grayscale, YCbCr
    4:4:4, or — with ``subsample`` — YCbCr 4:2:0, the dominant web
    layout; standard Annex-K huffman tables, no restarts)."""
    arr = np.asarray(pixels, dtype=np.float64)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nch = arr.shape
    if nch not in (1, 3):
        raise ValueError(f"encode_jpeg: {nch} channels unsupported")
    if nch == 3:
        r_, g_, b_ = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
        cb = -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_ + 128.0
        cr = 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_ + 128.0
        planes = [y, cb, cr]
    else:
        planes = [arr[:, :, 0]]
        subsample = False
    # per-component sampling factors: 4:2:0 = Y(2,2), Cb/Cr(1,1)
    samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * nch
    # _QT_* are NATURAL row-major (as printed in Annex K); the DQT
    # segment carries them in ZIGZAG order, the transform uses natural
    qt_l = _scaled_qt(_QT_LUM, quality)
    qt_c = _scaled_qt(_QT_CHROM, quality)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes):
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    seg(0xDB, bytes([0x00]) + bytes(qt_l[_ZIGZAG].tolist()))
    if nch == 3:
        seg(0xDB, bytes([0x01]) + bytes(qt_c[_ZIGZAG].tolist()))
    sof = struct.pack(">BHHB", 8, h, w, nch)
    for c in range(nch):
        hs, vs = samp[c]
        sof += bytes([c + 1, (hs << 4) | vs, 0 if c == 0 else 1])
    seg(0xC0, sof)
    for tclass, tid, (bits, vals) in (
        (0, 0, _DC_LUM), (1, 0, _AC_LUM), (0, 1, _DC_CHROM), (1, 1, _AC_CHROM),
    ):
        if nch == 1 and tid == 1:
            continue
        seg(0xC4, bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals))
    sos = bytes([nch])
    for c in range(nch):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    hmax = max(hs for hs, _ in samp)
    vmax = max(vs for _, vs in samp)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    def _pad(p: np.ndarray, th: int, tw: int) -> np.ndarray:
        q = np.empty((th, tw))
        sh, sw = p.shape
        q[:sh, :sw] = p
        q[sh:, :sw] = p[-1:, :]  # edge-replicate padding
        q[:, sw:] = q[:, sw - 1 : sw]
        return q

    padded = []
    for ci, p in enumerate(planes):
        hs, vs = samp[ci]
        ry, rx = vmax // vs, hmax // hs
        if ry > 1 or rx > 1:
            # downsample by box average over the full-res padded plane
            full = _pad(p, mcus_y * mcu_h, mcus_x * mcu_w)
            p = full.reshape(
                full.shape[0] // ry, ry, full.shape[1] // rx, rx
            ).mean(axis=(1, 3))
            padded.append(p)
        else:
            padded.append(_pad(p, mcus_y * vs * 8, mcus_x * hs * 8))
    bw = _BitWriter()
    enc_dc_l = _build_encode_table(*_DC_LUM)
    enc_ac_l = _build_encode_table(*_AC_LUM)
    enc_dc_c = _build_encode_table(*_DC_CHROM)
    enc_ac_c = _build_encode_table(*_AC_CHROM)
    preds = [0] * nch
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, p in enumerate(padded):
                hs, vs = samp[ci]
                lum = ci == 0
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        preds[ci] = _encode_block(
                            bw,
                            p[y0 : y0 + 8, x0 : x0 + 8],
                            qt_l if lum else qt_c,
                            preds[ci],
                            enc_dc_l if lum else enc_dc_c,
                            enc_ac_l if lum else enc_ac_c,
                        )
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)
