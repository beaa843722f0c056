"""WebP-lossless (VP8L) codec tests — pure numpy, no Spark session.

The encoder in `operators/vp8l.py` is a correctness encoder whose
options each force one decoder path; roundtripping random images
through every option therefore pins the whole decode surface: normal
and simple prefix codes, color cache, LZ77 runs, meta prefix codes,
and all four inverse transforms (14 predictor modes, color
transform, subtract-green, color-indexing with sub-byte bundling).
"""

from __future__ import annotations

import numpy as np
import pytest

from trial_submission_studio_spark.operators.vp8l import (
    _BitWriter,
    decode_vp8l,
    decode_webp,
    encode_webp_lossless,
)


def _img(h, w, seed=0, channels=3, ncolors=None):
    rng = np.random.RandomState(seed)
    if ncolors:
        pal = rng.randint(0, 256, (ncolors, channels), dtype=np.uint8)
        return pal[rng.randint(0, ncolors, (h, w))]
    return rng.randint(0, 256, (h, w, channels), dtype=np.uint8)


def _roundtrip(img, **opts):
    out = decode_webp(encode_webp_lossless(img, **opts))
    if img.ndim == 3 and img.shape[2] == 4:
        np.testing.assert_array_equal(out, img)
    else:
        np.testing.assert_array_equal(out[:, :, :3], img)
        assert (out[:, :, 3] == 255).all()


def test_plain_literals_roundtrip():
    _roundtrip(_img(13, 17, seed=1))


def test_rgba_alpha_roundtrip():
    _roundtrip(_img(9, 11, seed=2, channels=4))


def test_grayscale_input_broadcasts():
    g = np.arange(48, dtype=np.uint8).reshape(6, 8)
    out = decode_webp(encode_webp_lossless(g))
    for c in range(3):
        np.testing.assert_array_equal(out[:, :, c], g)


def test_one_pixel_image():
    _roundtrip(np.array([[[3, 200, 77]]], dtype=np.uint8))


def test_subtract_green_roundtrip():
    _roundtrip(_img(10, 10, seed=3), subtract_green=True)


def test_color_cache_roundtrip():
    # few distinct colors → lots of cache hits
    for bits in (1, 4, 11):
        _roundtrip(_img(16, 16, seed=4, ncolors=7), cache_bits=bits)


def test_backrefs_roundtrip():
    img = _img(12, 12, seed=5, ncolors=3)
    img[4:8, :] = img[4, 0]  # long identical runs
    _roundtrip(img, use_backrefs=True)
    _roundtrip(img, use_backrefs=True, cache_bits=5)


@pytest.mark.parametrize("mode", range(14))
def test_predictor_modes_roundtrip(mode):
    _roundtrip(_img(11, 13, seed=10 + mode), predictor_bits=2, predictor_mode=mode)


def test_predictor_mixed_tiles_roundtrip():
    # tiles cycle through all 14 modes inside one image, incl. the
    # rightmost-column TR wrap and the first-row/column edge rules
    _roundtrip(_img(37, 41, seed=30), predictor_bits=2)


def test_predictor_large_tiles():
    _roundtrip(_img(20, 33, seed=31), predictor_bits=4, predictor_mode=12)


def test_color_transform_roundtrip():
    for cte in (0xFF000000, 0xFF102030, 0xFF7F80FF, 0xFFFFFFFF):
        _roundtrip(_img(14, 9, seed=6), color_transform_bits=3, color_cte=cte)


@pytest.mark.parametrize("ncolors", [2, 3, 4, 5, 16, 17, 200])
def test_palette_roundtrip(ncolors):
    # sub-byte bundling kicks in below 17 colors (xbits 3/2/1)
    _roundtrip(_img(15, 21, seed=7 + ncolors, ncolors=ncolors), palette=True)


def test_palette_width_not_multiple_of_bundle():
    # w=13 with 2 colors → 8 px/byte, last byte partially filled
    _roundtrip(_img(5, 13, seed=8, ncolors=2), palette=True)


def test_palette_rejects_too_many_colors():
    with pytest.raises(ValueError):
        encode_webp_lossless(_img(32, 32, seed=9), palette=True)


def test_meta_prefix_codes_roundtrip():
    _roundtrip(_img(19, 23, seed=11), meta_bits=2)
    _roundtrip(_img(6, 40, seed=12), meta_bits=4)


def test_meta_single_tile_roundtrip():
    # one tile → decoder derives a single code group
    _roundtrip(_img(4, 4, seed=13), meta_bits=3)


def test_stacked_transforms_roundtrip():
    # write order palette→color→subtract-green→predictor; decoder
    # must invert at the packed width until the palette expands
    img = _img(18, 25, seed=14, ncolors=12)
    _roundtrip(img, palette=True, predictor_bits=2, predictor_mode=11)
    _roundtrip(img, palette=True, subtract_green=True, predictor_bits=3)
    _roundtrip(
        _img(10, 10, seed=15),
        color_transform_bits=2,
        color_cte=0xFF204060,
        subtract_green=True,
        predictor_bits=2,
    )


def test_simple_prefix_codes_handcrafted():
    """2×1 image written with simple codes only: green code has two
    1-bit symbols, every other channel a single (0-bit) symbol."""
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(1, 14)  # w=2
    bw.write(0, 14)  # h=1
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no meta
    bw.write(0, 1)  # no cache

    def simple1(sym, wide=False):
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # num_symbols=1
        bw.write(1 if wide else 0, 1)
        bw.write(sym, 8 if wide else 1)

    # green: two symbols (10, 20), 1 bit each
    bw.write(1, 1)  # simple
    bw.write(1, 1)  # num_symbols=2
    bw.write(1, 1)  # first symbol 8-bit
    bw.write(10, 8)
    bw.write(20, 8)
    simple1(30, wide=True)  # red
    simple1(40, wide=True)  # blue
    simple1(255, wide=True)  # alpha
    simple1(1)  # distance (unused)
    bw.write(0, 1)  # pixel 0: green sym #0 (=10), canonical order
    bw.write(1, 1)  # pixel 1: green sym #1 (=20)
    out = decode_vp8l(bw.getvalue())
    assert out.shape == (1, 2, 4)
    np.testing.assert_array_equal(out[0, 0], [30, 10, 40, 255])
    np.testing.assert_array_equal(out[0, 1], [30, 20, 40, 255])


def test_corrupt_streams_raise():
    good = encode_webp_lossless(_img(8, 8, seed=20))
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x00\x00\x00\x00WAVE" + b"\x00" * 20)
    with pytest.raises((ValueError, EOFError)):
        decode_vp8l(b"\x2f\x01")  # truncated header
    with pytest.raises((ValueError, EOFError)):
        # truncate mid-stream
        decode_webp(good[: len(good) - 5] + b"")
    with pytest.raises(ValueError):
        decode_vp8l(b"\x00junk")  # wrong signature


def test_lossy_vp8_raises_notimplemented():
    import struct

    body = b"\x00" * 16
    riff = b"WEBP" + b"VP8 " + struct.pack("<I", len(body)) + body
    payload = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(NotImplementedError):
        decode_webp(payload)
