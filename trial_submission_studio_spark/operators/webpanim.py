"""Animated WebP (VP8X + ANIM/ANMF) — multi-frame decode over the
native VP8L codec, stdlib+numpy.

The modern animated-image format on the web: a canvas plus ANMF
frames, each a sub-rectangle with its own duration, BLEND mode
(alpha-blend vs overwrite) and DISPOSE mode (keep vs fill with the
ANIM background color) — the same inter-frame state machine family
as animated GIF, with alpha. Frames whose payload is
lossless (VP8L) decode natively; lossy-VP8 frames raise
``NotImplementedError`` (same stub boundary as still WebP).

The encoder writes full-frame or even-offset sub-rectangle ANMF
entries with VP8L payloads — a correctness encoder driving both
blend modes and dispose-to-background through the decoder.

Reference parity note: the reference engine has no media surface;
no study-pipeline stage calls this standalone codec.
"""

from __future__ import annotations

import struct

__all__ = ["decode_webp_frames", "encode_webp_anim", "is_animated_webp"]

_ANIM_FLAG = 0x02
_ALPHA_FLAG = 0x10


def _u24(data: bytes, off: int) -> int:
    return data[off] | (data[off + 1] << 8) | (data[off + 2] << 16)


def _p24(v: int) -> bytes:
    return bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF))


def _chunks(payload: bytes):
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    i = 12
    while i + 8 <= len(payload):
        tag = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        yield tag, payload[i + 8 : i + 8 + size]
        i += 8 + size + (size & 1)


def is_animated_webp(payload: bytes) -> bool:
    try:
        for tag, body in _chunks(payload):
            if tag == b"VP8X":
                return bool(body[0] & _ANIM_FLAG)
            return False
    except (ValueError, IndexError):
        return False
    return False


def decode_webp_frames(payload: bytes):
    """Animated WebP → list of ``(duration_ms, canvas)`` with each
    canvas the fully composited H×W×4 RGBA uint8 state after that
    frame. Compositing follows the container spec: frames paint
    their sub-rectangle with either alpha BLENDing or overwrite,
    then optionally DISPOSE the rectangle to the ANIM background
    color. A non-animated WebP raises ValueError (use
    ``vp8l.decode_webp``); lossy VP8 frames raise
    NotImplementedError."""
    import numpy as np

    from trial_submission_studio_spark.operators.vp8l import decode_vp8l

    vp8x = None
    anim = None
    frames = []
    for tag, body in _chunks(payload):
        if tag == b"VP8X":
            vp8x = body
        elif tag == b"ANIM":
            anim = body
        elif tag == b"ANMF":
            frames.append(body)
    if vp8x is None or not vp8x[0] & _ANIM_FLAG or anim is None:
        raise ValueError("not an animated WebP")
    w = _u24(vp8x, 4) + 1
    h = _u24(vp8x, 7) + 1
    bg_bgra = anim[:4]
    background = np.array(
        [bg_bgra[2], bg_bgra[1], bg_bgra[0], bg_bgra[3]], np.uint8
    )
    canvas = np.tile(background, (h, w, 1))
    out = []
    for body in frames:
        fx = _u24(body, 0) * 2
        fy = _u24(body, 3) * 2
        fw = _u24(body, 6) + 1
        fh = _u24(body, 9) + 1
        duration = _u24(body, 12)
        flags = body[15]
        blend = not (flags & 0x02)  # B bit set = do NOT blend
        dispose_bg = bool(flags & 0x01)
        rgba = None
        for tag, sub in _chunks(b"RIFF" + struct.pack("<I", 4 + len(body) - 16) + b"WEBP" + body[16:]):
            if tag == b"VP8L":
                rgba = decode_vp8l(sub)
                break
            if tag == b"VP8 ":
                raise NotImplementedError(
                    "lossy VP8 animation frames need the full VP8 codec"
                )
        if rgba is None:
            raise ValueError("ANMF frame without VP8L data")
        if rgba.shape[:2] != (fh, fw):
            raise ValueError("ANMF header size disagrees with frame bitstream")
        if fx + fw > w or fy + fh > h:
            raise ValueError("frame rectangle outside canvas")
        region = canvas[fy : fy + fh, fx : fx + fw].astype(np.float64)
        src = rgba.astype(np.float64)
        if blend:
            a_s = src[:, :, 3:4] / 255.0
            a_d = region[:, :, 3:4] / 255.0
            a_out = a_s + a_d * (1 - a_s)
            safe = np.maximum(a_out, 1e-12)
            rgb = (src[:, :, :3] * a_s + region[:, :, :3] * a_d * (1 - a_s)) / safe
            merged = np.concatenate([rgb, a_out * 255.0], axis=2)
            canvas[fy : fy + fh, fx : fx + fw] = np.rint(merged).astype(np.uint8)
        else:
            canvas[fy : fy + fh, fx : fx + fw] = rgba
        out.append((duration, canvas.copy()))
        if dispose_bg:
            canvas[fy : fy + fh, fx : fx + fw] = background
    return out


def encode_webp_anim(
    frames,
    durations_ms=None,
    sub_rect: bool = True,
    blend: bool = False,
    dispose_bg: bool = False,
    background=(0, 0, 0, 0),
    loop: int = 0,
) -> bytes:
    """H×W×3/4 uint8 frame stack → animated WebP bytes with VP8L
    (lossless) payloads. ``sub_rect`` encodes frames after the first
    as the even-aligned bounding box of changed pixels (overwrite
    blend); ``blend=True`` marks frames for alpha blending instead;
    ``dispose_bg`` sets the dispose-to-background bit on every
    frame. Correctness encoder, not a compressor."""
    import numpy as np

    from trial_submission_studio_spark.operators.vp8l import (
        encode_webp_lossless,
    )

    stack = []
    for f in frames:
        a = np.asarray(f, dtype=np.uint8)
        if a.ndim != 3 or a.shape[2] not in (3, 4):
            raise ValueError("frames must be HxWx3 or HxWx4 uint8")
        if a.shape[2] == 3:
            a = np.concatenate(
                [a, np.full(a.shape[:2] + (1,), 255, np.uint8)], axis=2
            )
        stack.append(a)
    if not stack:
        raise ValueError("need at least one frame")
    h, w = stack[0].shape[:2]
    durations_ms = durations_ms or [100] * len(stack)

    def vp8l_chunk(img) -> bytes:
        whole = encode_webp_lossless(img)
        for tag, body in _chunks(whole):
            if tag == b"VP8L":
                return b"VP8L" + struct.pack("<I", len(body)) + body + (
                    b"\x00" if len(body) % 2 else b""
                )
        raise AssertionError("encoder produced no VP8L chunk")

    anmf_bodies = []
    prev = None
    for fi, frame in enumerate(stack):
        if frame.shape[:2] != (h, w):
            raise ValueError("all frames must share the canvas size")
        if prev is None or not sub_rect:
            fx = fy = 0
            region = frame
        else:
            changed = (frame != prev).any(axis=2)
            if not changed.any():
                fx = fy = 0
                region = frame[:2, :2]
            else:
                ys, xs = np.where(changed)
                fy = int(ys.min()) & ~1  # offsets must be even
                fx = int(xs.min()) & ~1
                region = frame[fy : int(ys.max()) + 1, fx : int(xs.max()) + 1]
        hdr = (
            _p24(fx // 2)
            + _p24(fy // 2)
            + _p24(region.shape[1] - 1)
            + _p24(region.shape[0] - 1)
            + _p24(int(durations_ms[fi]))
            + bytes([(0 if blend else 0x02) | (0x01 if dispose_bg else 0)])
        )
        anmf_bodies.append(hdr + vp8l_chunk(region))
        prev = frame

    flags = _ANIM_FLAG | _ALPHA_FLAG
    vp8x = bytes([flags, 0, 0, 0]) + _p24(w - 1) + _p24(h - 1)
    r, g, b, a = background
    anim = bytes([b, g, r, a]) + struct.pack("<H", loop)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    payload = chunk(b"VP8X", vp8x) + chunk(b"ANIM", anim)
    for body in anmf_bodies:
        payload += chunk(b"ANMF", body)
    riff = b"WEBP" + payload
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def webp_animation_info(payload: bytes):
    """Header-scale ``(n_frames, total_duration_ms)`` from the ANMF
    chunk headers alone (16 bytes each — frame bitstreams are
    skipped by chunk size). (0, 0) when not an animated WebP."""
    try:
        if not is_animated_webp(payload):
            return 0, 0
        count = 0
        total = 0
        for tag, body in _chunks(payload):
            if tag == b"ANMF" and len(body) >= 16:
                count += 1
                total += _u24(body, 12)
        return count, total
    except (ValueError, IndexError):
        return 0, 0
