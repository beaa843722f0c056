"""Animated WebP tests: VP8X/ANIM/ANMF container walk, sub-rect
compositing with blend/dispose semantics over the native VP8L
codec, and Spark frame sampling."""

from __future__ import annotations

import numpy as np
import pytest

from trial_submission_studio_spark.operators.webpanim import (
    decode_webp_frames,
    encode_webp_anim,
    is_animated_webp,
)


def _stack(n=4, h=10, w=14, seed=0, channels=3):
    rng = np.random.RandomState(seed)
    bg = rng.randint(0, 256, (h, w, channels), dtype=np.uint8)
    frames = []
    for i in range(n):
        f = bg.copy()
        x = (2 * i) % (w - 4)
        f[2:6, x : x + 4] = rng.randint(0, 256, (4, 4, channels), dtype=np.uint8)
        frames.append(f)
    return frames


def test_is_animated_webp():
    from trial_submission_studio_spark.operators.vp8l import (
        encode_webp_lossless,
    )

    anim = encode_webp_anim(_stack(2))
    still = encode_webp_lossless(_stack(1)[0])
    assert is_animated_webp(anim)
    assert not is_animated_webp(still)
    assert not is_animated_webp(b"junk")


@pytest.mark.parametrize("sub_rect", [False, True])
def test_roundtrip_overwrite_frames(sub_rect):
    frames = _stack(5)
    out = decode_webp_frames(
        encode_webp_anim(frames, durations_ms=[40, 80, 120, 160, 200], sub_rect=sub_rect)
    )
    assert [d for d, _ in out] == [40, 80, 120, 160, 200]
    for (_, got), want in zip(out, frames):
        np.testing.assert_array_equal(got[:, :, :3], want)
        assert (got[:, :, 3] == 255).all()


def test_rgba_frames_and_even_offset_rule():
    frames = [f.astype(np.uint8) for f in _stack(3, channels=4)]
    out = decode_webp_frames(encode_webp_anim(frames, sub_rect=True))
    for (_, got), want in zip(out, frames):
        np.testing.assert_array_equal(got, want)


def test_alpha_blend_semantics():
    """blend=True: a fully-transparent frame leaves the canvas
    unchanged; a fully-opaque one replaces it."""
    h = w = 8
    base = np.full((h, w, 4), 200, np.uint8)
    clear = np.zeros((h, w, 4), np.uint8)  # alpha 0 everywhere
    opaque = np.full((h, w, 4), 40, np.uint8)
    opaque[:, :, 3] = 255
    out = decode_webp_frames(
        encode_webp_anim([base, clear, opaque], sub_rect=False, blend=True)
    )
    np.testing.assert_array_equal(out[1][1], out[0][1])  # no-op frame
    np.testing.assert_array_equal(out[2][1], opaque)


def test_dispose_to_background():
    """dispose_bg fills the frame rect with the ANIM background
    before the next frame composites."""
    h = w = 6
    f0 = np.full((h, w, 3), 10, np.uint8)
    f1 = np.full((h, w, 3), 250, np.uint8)
    payload = encode_webp_anim(
        [f0, f1], sub_rect=False, dispose_bg=True, background=(1, 2, 3, 255)
    )
    out = decode_webp_frames(payload)
    # each frame's own composite is what it painted
    np.testing.assert_array_equal(out[0][1][:, :, :3], f0)
    np.testing.assert_array_equal(out[1][1][:, :, :3], f1)


def test_still_webp_rejected_and_corrupt():
    from trial_submission_studio_spark.operators.vp8l import (
        encode_webp_lossless,
    )

    with pytest.raises(ValueError):
        decode_webp_frames(encode_webp_lossless(_stack(1)[0]))
    with pytest.raises(ValueError):
        decode_webp_frames(b"RIFF\x04\x00\x00\x00WAVE")
