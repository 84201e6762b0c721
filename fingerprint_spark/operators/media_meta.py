"""Structural metadata parsers for container formats — MP4, MP3, WebP.

FULL sample/pixel decode of these formats genuinely needs codec
libraries the container doesn't ship (AAC/H.264/VP8 entropy coding) —
that part stays honestly stubbed. But the METADATA a corpus pipeline
actually filters on (duration, dimensions, bitrate, track layout) lives
in plain struct-packed headers, parsed here from the public specs:

- MP4 / ISO BMFF (ISO 14496-12): box walk -> moov/mvhd timescale +
  duration, trak/tkhd 16.16-fixed width/height, hdlr track kinds.
- MP3 (MPEG-1/2 audio): ID3v2 skip, frame-header sync walk ->
  bitrate/sample-rate/mode per frame, exact frame count -> duration.
- WebP (RIFF): VP8 keyframe / VP8L / VP8X canvas dimensions.

Every parser raises ValueError on bytes that aren't the format —
upstream operators map that to a null-feature ROW, never a task
failure. Fixture writers emit REAL minimal containers so tests walk
the same byte paths a crawl corpus would.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# MP4 (ISO base media file format)
# ---------------------------------------------------------------------------


def _walk_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        size, btype = struct.unpack(">I4s", data[pos : pos + 8])
        hdr = 8
        if size == 1:
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("mp4: bad box size")
        yield btype, pos + hdr, pos + size
        pos += size


def parse_mp4(payload: bytes) -> dict:
    """mp4 bytes -> {duration_ms, n_tracks, width, height, brands,
    track_kinds}. Width/height from the first visual tkhd. Truncated
    boxes surface as ValueError (the documented contract — upstream
    operators catch ValueError only), never struct.error."""
    try:
        return _parse_mp4_inner(payload)
    except struct.error as e:  # short buffer inside a "valid-size" box
        raise ValueError(f"mp4: truncated box payload ({e})") from None


def _parse_mp4_inner(payload: bytes) -> dict:
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an mp4 (no ftyp)")
    brands = [payload[8:12].decode("latin-1")]
    duration_ms = None
    width = height = None
    n_tracks = 0
    kinds: list[str] = []
    for btype, s, e in _walk_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _walk_boxes(payload, s, e):
            if ctype == b"mvhd":
                ver = payload[cs]
                if ver == 1:
                    timescale, dur = struct.unpack(
                        ">IQ", payload[cs + 20 : cs + 32]
                    )
                else:
                    timescale, dur = struct.unpack(
                        ">II", payload[cs + 12 : cs + 20]
                    )
                if timescale:
                    duration_ms = int(dur * 1000 // timescale)
            elif ctype == b"trak":
                n_tracks += 1
                for t, ts_, te in _walk_boxes(payload, cs, ce):
                    if t == b"tkhd":
                        ver = payload[ts_]
                        # width/height: last 8 bytes, 16.16 fixed point
                        w_fx, h_fx = struct.unpack(
                            ">II", payload[te - 8 : te]
                        )
                        if w_fx and h_fx and width is None:
                            width, height = w_fx >> 16, h_fx >> 16
                    elif t == b"mdia":
                        for m, ms_, me in _walk_boxes(payload, ts_, te):
                            if m == b"hdlr":
                                kinds.append(
                                    payload[ms_ + 8 : ms_ + 12].decode(
                                        "latin-1"
                                    )
                                )
    if duration_ms is None:
        raise ValueError("mp4: no moov/mvhd")
    return {
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
        "width": width,
        "height": height,
        "brands": brands,
        "track_kinds": kinds,
    }


def make_mp4(
    duration_ms: int, width: int | None = None, height: int | None = None
) -> bytes:
    """Minimal REAL mp4: ftyp + moov(mvhd [+ trak(tkhd+mdia/hdlr)]),
    timescale 1000 (durations in ms)."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I4s", 8 + len(payload), btype) + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(
        b"mvhd",
        struct.pack(">B3xIIII", 0, 0, 0, 1000, duration_ms)
        + b"\x00" * 80,
    )
    traks = b""
    if width is not None and height is not None:
        tkhd = box(
            b"tkhd",
            struct.pack(">B3xIIII", 0, 0, 0, 1, 0)
            + struct.pack(">I", duration_ms)
            + b"\x00" * 52
            + struct.pack(">II", width << 16, height << 16),
        )
        hdlr = box(
            b"hdlr", struct.pack(">B3xI", 0, 0) + b"vide" + b"\x00" * 13
        )
        traks = box(b"trak", tkhd + box(b"mdia", hdlr))
    return ftyp + box(b"moov", mvhd + traks)


# ---------------------------------------------------------------------------
# MP3 (MPEG audio frame headers)
# ---------------------------------------------------------------------------

# MPEG-1 Layer III bitrates (kbps) and sample rates (Hz)
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                 256, 320]
_MP3_RATES = [44100, 48000, 32000]


def parse_mp3(payload: bytes) -> dict:
    """mp3 bytes -> {duration_ms, n_frames, bitrate_kbps, sample_rate,
    channels}. Walks every frame header (MPEG-1 Layer III; VBR handled
    by averaging per-frame bitrates)."""
    pos = 0
    # ID3v2: 'ID3' + ver(2) + flags + synchsafe u28 size
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    n_frames = 0
    bitrate_sum = 0
    sample_rate = None
    channels = None
    while pos + 4 <= len(payload):
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            if n_frames:
                break  # trailing junk after last frame
            pos += 1
            continue
        version = (b1 >> 3) & 0x03   # 3 = MPEG-1
        layer = (b1 >> 1) & 0x03     # 1 = Layer III
        if version != 3 or layer != 1:
            if n_frames:
                break
            pos += 1  # false sync in leading junk: keep scanning
            continue
        br_idx = (b2 >> 4) & 0x0F
        sr_idx = (b2 >> 2) & 0x03
        if br_idx in (0, 15) or sr_idx == 3:
            if n_frames:
                break
            pos += 1  # false sync: resync rather than refuse the file
            continue
        padding = (b2 >> 1) & 0x01
        mode = (b3 >> 6) & 0x03
        bitrate = _MP3_BITRATES[br_idx] * 1000
        rate = _MP3_RATES[sr_idx]
        frame_len = 144 * bitrate // rate + padding
        if frame_len <= 4:
            raise ValueError("mp3: degenerate frame")
        sample_rate = rate
        channels = 1 if mode == 3 else 2
        bitrate_sum += bitrate
        n_frames += 1
        pos += frame_len
    if not n_frames:
        raise ValueError("not an mp3 (no frame sync)")
    # a single "frame" that doesn't run to end-of-payload is almost
    # certainly a random 0xFFFB pair in binary junk, not audio — a real
    # 1-frame mp3 ends exactly at the frame boundary
    if n_frames == 1 and pos < len(payload):
        raise ValueError("mp3: lone false frame in non-audio bytes")
    # MPEG-1 Layer III: 1152 samples per frame
    duration_ms = int(n_frames * 1152 * 1000 // sample_rate)
    return {
        "duration_ms": duration_ms,
        "n_frames": n_frames,
        "bitrate_kbps": bitrate_sum // n_frames // 1000,
        "sample_rate": sample_rate,
        "channels": channels,
    }


def make_mp3(
    n_frames: int, bitrate_kbps: int = 128, sample_rate: int = 44100
) -> bytes:
    """Minimal REAL mp3: valid MPEG-1 Layer III stereo frame headers
    with silent (zero) payloads; byte-walkable by any mp3 header
    parser."""
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    sr_idx = _MP3_RATES.index(sample_rate)
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG-1, Layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),
            0x00,  # channel mode: stereo
        ]
    )
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    frame = hdr + b"\x00" * (frame_len - 4)
    return frame * n_frames


# ---------------------------------------------------------------------------
# WebP
# ---------------------------------------------------------------------------


def parse_webp(payload: bytes) -> dict:
    """webp bytes -> {width, height, variant} (VP8 lossy keyframe /
    VP8L lossless / VP8X extended canvas)."""
    if len(payload) < 16 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a webp (no RIFF/WEBP)")
    fourcc = payload[12:16]
    data = payload[20:]
    if fourcc == b"VP8 ":
        if len(data) < 10 or data[3:6] != b"\x9d\x01\x2a":
            raise ValueError("webp: bad VP8 keyframe start code")
        w = struct.unpack("<H", data[6:8])[0] & 0x3FFF
        h = struct.unpack("<H", data[8:10])[0] & 0x3FFF
        return {"width": w, "height": h, "variant": "VP8"}
    if fourcc == b"VP8L":
        if len(data) < 5 or data[0] != 0x2F:
            raise ValueError("webp: bad VP8L signature")
        bits = struct.unpack("<I", data[1:5])[0]
        return {
            "width": (bits & 0x3FFF) + 1,
            "height": ((bits >> 14) & 0x3FFF) + 1,
            "variant": "VP8L",
        }
    if fourcc == b"VP8X":
        w = int.from_bytes(data[4:7], "little") + 1
        h = int.from_bytes(data[7:10], "little") + 1
        return {"width": w, "height": h, "variant": "VP8X"}
    raise ValueError(f"webp: unknown chunk {fourcc!r}")


def make_webp(width: int, height: int) -> bytes:
    """Minimal REAL webp: VP8X extended header with canvas dims (the
    container layout; no pixel payload — metadata-only fixture)."""
    vp8x = (
        b"\x00\x00\x00\x00"
        + (width - 1).to_bytes(3, "little")
        + (height - 1).to_bytes(3, "little")
    )
    chunk = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
