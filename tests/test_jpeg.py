"""Baseline JPEG codec (operators/jpeg_codec.py) — real-codec matrix.

Roundtrip-based: the encoder and decoder are independent spec
implementations (forward DCT + huffman ENCODE vs huffman DECODE +
IDCT), so agreement on dims exactly and pixels within quantization
tolerance is evidence both sides follow T.81, not a shared bug: a
zigzag, table-order, or EXTEND mistake on either side produces garbage,
not small errors. Flat-image q100 roundtrips must be bit-exact
(all-ones quant tables, DC-only blocks)."""

import numpy as np
import pytest

from fingerprint_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg
from fingerprint_spark.operators.media_codecs import decode_image_bytes


@pytest.mark.parametrize("v", [0, 7, 128, 254, 255])
def test_flat_gray_q100_exact(v):
    img = np.full((12, 10, 1), v, dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(img, quality=100))
    assert (d["width"], d["height"], d["n_channels"]) == (10, 12, 1)
    assert (d["pixels"] == v).all()


def test_flat_rgb_q100_near_exact():
    img = np.full((8, 8, 3), [10, 200, 90], dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(img, quality=100))
    assert d["n_channels"] == 3
    # color-transform rounding only (RGB->YCbCr->RGB float roundtrip)
    assert np.abs(d["pixels"].astype(int) - img.astype(int)).max() <= 1


def test_gradient_gray_q90_close():
    x = np.linspace(0, 255, 32)
    img = np.tile(x, (24, 1)).astype(np.uint8)[:, :, None]
    d = decode_jpeg(encode_jpeg(img, quality=90))
    assert (d["width"], d["height"]) == (32, 24)
    err = np.abs(d["pixels"].astype(float) - img.astype(float)).mean()
    assert err < 3.0, err


def test_color_blocks_q95():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8, :8] = [255, 0, 0]
    img[:8, 8:] = [0, 255, 0]
    img[8:, :8] = [0, 0, 255]
    img[8:, 8:] = [255, 255, 0]
    d = decode_jpeg(encode_jpeg(img, quality=95))
    err = np.abs(d["pixels"].astype(float) - img.astype(float)).mean()
    assert err < 6.0, err


def test_420_subsampled_roundtrip():
    """4:2:0 — the dominant web layout — exercises MCU interleave,
    chroma downsample on encode and the decoder's upsampling path."""
    yy, xx = np.mgrid[0:32, 0:48]
    img = np.stack(
        [
            (128 + 60 * np.sin(xx / 10)).astype(np.uint8),
            (128 + 60 * np.cos(yy / 9)).astype(np.uint8),
            np.full_like(xx, 90, dtype=np.uint8),
        ],
        axis=-1,
    )
    d = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))
    assert (d["width"], d["height"], d["n_channels"]) == (48, 32, 3)
    err = np.abs(d["pixels"].astype(float) - img.astype(float)).mean()
    assert err < 4.0, err


@pytest.mark.parametrize("subsample", [False, True])
def test_odd_dimensions_pad_and_crop(subsample):
    """Dims not a multiple of the MCU size: padded on encode, cropped
    exactly on decode."""
    yy, xx = np.mgrid[0:29, 0:41]
    img = np.stack(
        [
            (100 + 2 * xx).clip(0, 255).astype(np.uint8),
            (90 + 3 * yy).clip(0, 255).astype(np.uint8),
            np.full_like(xx, 120, dtype=np.uint8),
        ],
        axis=-1,
    )
    d = decode_jpeg(encode_jpeg(img, quality=85, subsample=subsample))
    assert (d["width"], d["height"]) == (41, 29)
    err = np.abs(d["pixels"].astype(float) - img.astype(float)).mean()
    assert err < 6.0, err


def test_magic_dispatch_routes_jpeg():
    img = np.full((8, 8, 1), 33, dtype=np.uint8)
    d = decode_image_bytes(encode_jpeg(img, quality=100))
    assert (d["pixels"] == 33).all()


def test_garbage_and_unsupported_refused():
    with pytest.raises(ValueError, match="not a jpeg"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n----")
    # progressive (SOF2) must refuse, not mis-decode: build a minimal
    # marker stream with SOF2 in place of SOF0
    img = np.full((8, 8, 1), 50, dtype=np.uint8)
    b = bytearray(encode_jpeg(img, quality=90))
    i = b.find(b"\xff\xc0")
    b[i + 1] = 0xC2
    with pytest.raises(ValueError, match="SOF2"):
        decode_jpeg(bytes(b))
