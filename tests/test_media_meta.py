"""Structural container-metadata parsers (operators/media_meta.py):
MP4 box walk, MP3 frame-header walk, WebP dimension headers — the
metadata a corpus pipeline filters on, without a codec library. The
fixture writers emit REAL minimal containers (spec-size boxes, valid
frame syncs), so these are byte-path tests, not mock tests."""

import struct

import pytest

from fingerprint_spark.operators.media_meta import (
    make_mp3,
    make_mp4,
    make_webp,
    parse_mp3,
    parse_mp4,
    parse_webp,
)


def test_mp4_roundtrip_with_video_track():
    b = make_mp4(12_345, 640, 360)
    m = parse_mp4(b)
    assert m["duration_ms"] == 12_345
    assert (m["width"], m["height"]) == (640, 360)
    assert m["n_tracks"] == 1 and m["track_kinds"] == ["vide"]
    assert m["brands"] == ["isom"]


def test_mp4_audio_only_and_refusals():
    m = parse_mp4(make_mp4(987))
    assert m["duration_ms"] == 987 and m["n_tracks"] == 0
    assert m["width"] is None
    with pytest.raises(ValueError, match="no ftyp"):
        parse_mp4(b"\x00\x00\x00\x08free")
    # ftyp but no moov
    with pytest.raises(ValueError, match="no moov"):
        parse_mp4(struct.pack(">I4s", 16, b"ftyp") + b"isom\x00\x00\x02\x00")


def test_mp3_frame_walk_vbr_and_id3():
    b = make_mp3(25, bitrate_kbps=128, sample_rate=44100)
    m = parse_mp3(b)
    assert m["n_frames"] == 25
    assert m["duration_ms"] == 25 * 1152 * 1000 // 44100
    assert m["bitrate_kbps"] == 128 and m["sample_rate"] == 44100
    assert m["channels"] == 2
    # with an ID3v2 tag prepended (synchsafe size)
    tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 20]) + b"\x00" * 20
    assert parse_mp3(tag + b)["n_frames"] == 25
    # mixed bitrates average (VBR)
    vbr = make_mp3(10, 128) + make_mp3(10, 320)
    assert parse_mp3(vbr)["bitrate_kbps"] == (128 + 320) // 2
    with pytest.raises(ValueError, match="no frame sync"):
        parse_mp3(b"\x00" * 100)


def test_webp_variants():
    m = parse_webp(make_webp(321, 99))
    assert (m["width"], m["height"], m["variant"]) == (321, 99, "VP8X")
    # hand-built VP8 lossy keyframe header
    vp8 = (
        b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + struct.pack("<HH", 320, 240)
    )
    b = b"RIFF" + struct.pack("<I", 12 + len(vp8)) + b"WEBP" + b"VP8 " \
        + struct.pack("<I", len(vp8)) + vp8
    m = parse_webp(b)
    assert (m["width"], m["height"], m["variant"]) == (320, 240, "VP8")
    # hand-built VP8L: bits = (w-1) | (h-1)<<14
    bits = (511 - 1) | ((200 - 1) << 14)
    vp8l = bytes([0x2F]) + struct.pack("<I", bits)
    b = b"RIFF" + struct.pack("<I", 12 + len(vp8l)) + b"WEBP" + b"VP8L" \
        + struct.pack("<I", len(vp8l)) + vp8l
    m = parse_webp(b)
    assert (m["width"], m["height"], m["variant"]) == (511, 200, "VP8L")
    with pytest.raises(ValueError, match="RIFF"):
        parse_webp(b"\x89PNG----------------")


def test_mp4_truncated_box_raises_valueerror():
    """Truncated-but-valid-size boxes must surface as ValueError (the
    operators catch ValueError only), never struct.error."""
    import struct

    from fingerprint_spark.operators.media_meta import make_mp4, parse_mp4

    good = make_mp4(2000, 64, 36)
    for cut in (13, 20, 40, len(good) - 3):
        try:
            parse_mp4(good[:cut])
        except ValueError:
            pass
        except struct.error as e:  # pragma: no cover
            raise AssertionError(f"struct.error escaped at cut={cut}: {e}")
    # a moov with an mvhd whose declared size is valid but payload short
    bad = good[:36] + struct.pack(">I4s", 12, b"mvhd") + b"\x00\x00\x00\x00"
    try:
        parse_mp4(bad)
    except ValueError:
        pass


def test_mp3_resync_over_leading_junk_and_false_frame():
    import pytest

    from fingerprint_spark.operators.media_meta import make_mp3, parse_mp3

    real = make_mp3(5)
    # false sync bytes (0xFF 0xE5 = bad layer) before a real stream:
    # the scanner must resync, not refuse
    got = parse_mp3(b"\xff\xe5junk" + real)
    assert got["n_frames"] == 5
    # a lone 0xFFFB pair inside random bytes is NOT an mp3
    with pytest.raises(ValueError):
        parse_mp3(b"xx\xff\xfb\x92\x00" + b"A" * 500)
