"""WebP-lossless (VP8L) codec — stdlib+numpy, no image libraries.

Decoder implements the public VP8L bitstream specification (RFC 9649 /
"WebP Lossless Bitstream Specification"): LSB-first bit reader,
simple and normal (code-length-coded) canonical prefix codes, meta
prefix codes via the entropy image, color cache, LZ77 backward
references with the 120-entry 2D distance map, and all four inverse
transforms (predictor ×14 modes, color, subtract-green,
color-indexing incl. sub-byte pixel bundling). Output is H×W×4 RGBA
uint8 (callers usually take [..., :3]).

Encoder produces valid literal/backref streams with canonical prefix
codes written through the code-length code, optionally with the
subtract-green transform, a color cache, and distance-1 run
backreferences — enough surface to roundtrip arbitrary images through
every decoder path that matters (normal codes, cache, LZ77 copy,
transform inversion). It is a correctness encoder, not a compressor.

The entropy coder is its own implementation, structured by the format
spec, not by any codec library. Reference parity note: the reference
engine (rubentalstra/Trial-Submission-Studio) has no media surface;
no study-pipeline stage calls this standalone codec.
"""

from __future__ import annotations

__all__ = ["decode_webp", "decode_vp8l", "encode_webp_lossless"]


# --------------------------------------------------------------------------
# distance map: 120 two-dimensional neighbor codes (spec §4.2.2.3) —
# offsets (x, y), y in 0..7, x in -7..8 (x >= 1 when y == 0), ordered
# by (x² + y², |x|, sign) exactly as the published table
# --------------------------------------------------------------------------

def _distance_map() -> list[tuple[int, int]]:
    offs = []
    for y in range(8):
        for x in range(-7, 9):
            if y == 0 and x < 1:
                continue
            offs.append((x, y))
    offs.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]), p[0] < 0))
    assert len(offs) == 120
    return offs


_DIST_MAP = _distance_map()

#: code-length-code symbol order (spec §4.2.1.1)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class _BitReader:
    """LSB-first bit reader over bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise EOFError("VP8L stream truncated")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.out + bytes([self.acc & 0xFF]))
        return bytes(self.out)


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------

class _PrefixCode:
    """Decode table for one canonical prefix code: bits of each code
    are consumed MSB-first from the LSB-first stream (the
    DEFLATE/VP8L convention). A single-symbol code consumes 0 bits."""

    def __init__(self, lengths: list[int]):
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        self.single = used[0][1] if len(used) == 1 else None
        table: dict[tuple[int, int], int] = {}
        code = 0
        prev_len = 0
        for l, s in sorted(used):
            code <<= l - prev_len
            table[(l, code)] = s
            code += 1
            prev_len = l
        self.table = table
        self.max_len = max(l for l, _ in used) if used else 0

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        l = 0
        while l <= self.max_len:
            code = (code << 1) | br.read(1)
            l += 1
            s = self.table.get((l, code))
            if s is not None:
                return s
        raise ValueError("invalid prefix code")


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (length, code). Canonical assignment (sorted by
    length then symbol)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for l, s in sorted((l, s) for s, l in enumerate(lengths) if l > 0):
        code <<= l - prev_len
        out[s] = (l, code)
        code += 1
        prev_len = l
    return out


def _huffman_lengths(freqs: dict[int, int], alphabet: int, max_len: int = 15) -> list[int]:
    """Code lengths from frequencies; falls back to a flat COMPLETE
    code when the Huffman depth exceeds the format limit."""
    import heapq
    import itertools

    used = sorted(s for s, f in freqs.items() if f > 0)
    lengths = [0] * alphabet
    if not used:
        return lengths
    if len(used) == 1:
        lengths[used[0]] = 1
        return lengths
    counter = itertools.count()
    heap = [(freqs[s], next(counter), s, None, None) for s in used]
    heapq.heapify(heap)
    while len(heap) > 1:
        a = heapq.heappop(heap)
        b = heapq.heappop(heap)
        heapq.heappush(heap, (a[0] + b[0], next(counter), None, a, b))

    def assign(node, depth):
        if node[2] is not None:
            lengths[node[2]] = max(depth, 1)
            return depth
        return max(assign(node[3], depth + 1), assign(node[4], depth + 1))

    if assign(heap[0], 0) > max_len:
        # flat complete code: k symbols at L-1, rest at L, with
        # k = 2^L - count (kraft sum exactly 1)
        import math

        L = math.ceil(math.log2(len(used)))
        k = (1 << L) - len(used)
        for i, s in enumerate(used):
            lengths[s] = L - 1 if i < k else L
    return lengths


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

def _read_prefix_code(br: _BitReader, alphabet: int) -> _PrefixCode:
    if br.read(1):  # simple code
        num = br.read(1) + 1
        first_8 = br.read(1)
        s0 = br.read(8 if first_8 else 1)
        if s0 >= alphabet:
            raise ValueError("simple-code symbol out of range")
        lengths = [0] * alphabet
        if num == 2:
            s1 = br.read(8)
            if s1 >= alphabet or s1 == s0:
                raise ValueError("simple-code symbol out of range")
            lengths[s0] = 1
            lengths[s1] = 1
        else:
            lengths[s0] = 1
        return _PrefixCode(lengths)
    # normal: code lengths coded with the code-length code
    num_codes = br.read(4) + 4
    clc_lengths = [0] * 19
    for i in range(num_codes):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    max_symbol = alphabet
    if br.read(1):  # use length
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    lengths = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet and max_symbol > 0:
        max_symbol -= 1
        s = clc.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            for _ in range(3 + br.read(2)):
                if i < alphabet:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _PrefixCode(lengths)


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 prefix-coded value (lengths and distance codes)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _read_entropy_image(br: _BitReader, w: int, h: int):
    """Recursive: spatially-coded subimages (entropy image, predictor
    image, color transform image, palette) are full VP8L-coded images
    without transforms."""
    return _decode_image_data(br, w, h, is_sub=True)


def _decode_image_data(br: _BitReader, w: int, h: int, is_sub: bool):
    """→ list of uint32 ARGB pixels, scan-line order."""
    meta_codes = None
    meta_bits = 0
    if not is_sub and br.read(1):  # meta prefix codes
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_codes = _read_entropy_image(br, mw, mh)
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None
    n_groups = 1
    if meta_codes is not None:
        n_groups = max((int(p) >> 8) & 0xFFFF for p in meta_codes) + 1
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, 256),  # red
                _read_prefix_code(br, 256),  # blue
                _read_prefix_code(br, 256),  # alpha
                _read_prefix_code(br, 40),  # distance
            )
        )
    n = w * h
    out = [0] * n
    pos = 0
    mw = ((w + (1 << meta_bits) - 1) >> meta_bits) if meta_codes else 0

    def emit(argb: int) -> None:
        nonlocal pos
        out[pos] = argb
        pos += 1
        if cache is not None:
            cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = argb

    while pos < n:
        if meta_codes is not None:
            x, y = pos % w, pos // w
            mp = meta_codes[(y >> meta_bits) * mw + (x >> meta_bits)]
            g = groups[(int(mp) >> 8) & 0xFFFF]
        else:
            g = groups[0]
        s = g[0].read(br)
        if s < 256:  # literal
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            emit((alpha << 24) | (red << 16) | (s << 8) | blue)
        elif s < 256 + 24:  # backward reference
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(g[4].read(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                xoff, yoff = _DIST_MAP[dist_code - 1]
                dist = max(1, xoff + yoff * w)
            if dist > pos:
                raise ValueError("backref before start")
            for _ in range(length):
                if pos >= n:
                    break
                emit(out[pos - dist])
        else:  # color cache
            if cache is None:
                raise ValueError("cache symbol without cache")
            emit(cache[s - 256 - 24])
    return out


def _apply_inverse_transforms(pixels, w, h, transforms):
    """Transforms recorded outer-first; invert in reverse order.

    Width tracking: while a color-indexing transform is still
    uninverted the image is at its PACKED width, so predictor/color
    inverses read later in the reversal must run at that width (their
    tile grids were sized from it at read time too)."""
    import numpy as np

    cur_w = len(pixels) // h
    for kind, data in reversed(transforms):
        if kind == 2:  # subtract green — vectorized (elementwise)
            p = np.array(pixels, dtype=np.uint32)
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) + g) & 0xFF
            b = ((p & 0xFF) + g) & 0xFF
            pixels[:] = [int(v) for v in (p & 0xFF00FF00) | (r << 16) | b]
        elif kind == 0:  # predictor — sequential by construction
            bits, sub, sw = data
            _inverse_predictor(pixels, cur_w, h, bits, sub, sw)
        elif kind == 1:  # color transform — vectorized gather
            bits, sub, sw = data
            _inverse_color_transform(pixels, cur_w, h, bits, sub, sw)
        elif kind == 3:  # color indexing — vectorized table gather
            table, packed_w, xbits = data
            tab = np.array(table + [0], dtype=np.uint32)  # OOR → 0
            p = np.array(pixels, dtype=np.uint32)
            if xbits:
                per = 1 << xbits  # pixels bundled per green byte
                bitw = 8 >> xbits  # index width in bits
                mask = (1 << bitw) - 1
                g = ((p >> 8) & 0xFF).reshape(h, packed_w)
                # unpack sub-byte indices: (h, packed_w, per) → (h, w)
                shifts = np.arange(per, dtype=np.uint32) * bitw
                idx = (g[:, :, None] >> shifts[None, None, :]) & mask
                idx = idx.reshape(h, packed_w * per)[:, :w]
            else:
                idx = ((p >> 8) & 0xFF).reshape(h, w)
            idx = np.minimum(idx, len(tab) - 1)
            pixels[:] = [int(v) for v in tab[idx].reshape(-1)]
            cur_w = w
    return pixels


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) >> 1) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8)
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _add_pixels(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) & 0xFF) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8)
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _select(l: int, t: int, tl: int) -> int:
    # spec: return L only when strictly closer; tie goes to T
    p_l = p_t = 0
    for sh in (24, 16, 8, 0):
        pred = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        p_l += abs(pred - ((l >> sh) & 0xFF))
        p_t += abs(pred - ((t >> sh) & 0xFF))
    return l if p_l < p_t else t


def _clamped_grad(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _inverse_predictor(pixels, w, h, bits, sub, sw):
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pixels[i - 1]  # L
            elif x == 0:
                pred = pixels[i - w]  # T
            else:
                mode = (int(sub[(y >> bits) * sw + (x >> bits)]) >> 8) & 0xFF
                L = pixels[i - 1]
                T = pixels[i - w]
                TL = pixels[i - w - 1]
                # TR for the rightmost column wraps (per the spec's
                # linear-memory addressing) to the leftmost pixel of
                # the CURRENT row — uniformly index i - w + 1.
                TR = pixels[i - w + 1]
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _clamped_grad(L, T, TL)
                else:  # 13: ClampAddSubtractHalf
                    ave = _avg2(L, T)
                    out = 0
                    for sh in (24, 16, 8, 0):
                        a = (ave >> sh) & 0xFF
                        tl = (TL >> sh) & 0xFF
                        d = a - tl
                        # C-style /2 truncates toward zero
                        half = -((-d) // 2) if d < 0 else d // 2
                        v = a + half
                        out |= max(0, min(255, v)) << sh
                    pred = out
            pixels[i] = _add_pixels(pixels[i], pred)


def _cdelta(t: int, c: int) -> int:
    t = t - 256 if t >= 128 else t
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def _inverse_color_transform(pixels, w, h, bits, sub, sw):
    # vectorized: per-tile cte gathered to pixel grid, then the two
    # signed (t*c)>>5 delta stages as int32 arithmetic-shift math
    import numpy as np

    p = np.array(pixels, dtype=np.uint32).reshape(h, w)
    ctes = np.array(sub, dtype=np.uint32).reshape(-1)[
        (np.arange(h)[:, None] >> bits) * sw + (np.arange(w)[None, :] >> bits)
    ]

    def signed8(v):
        v = v.astype(np.int32)
        return np.where(v >= 128, v - 256, v)

    g2r = signed8(ctes & 0xFF)  # blue channel of the cte
    g2b = signed8((ctes >> 8) & 0xFF)  # green channel
    r2b = signed8((ctes >> 16) & 0xFF)  # red channel
    g = signed8((p >> 8) & 0xFF)
    r = (((p >> 16) & 0xFF).astype(np.int32) + ((g2r * g) >> 5)) & 0xFF
    b = (
        (p & 0xFF).astype(np.int32)
        + ((g2b * g) >> 5)
        + ((r2b * signed8(r)) >> 5)
    ) & 0xFF
    out = (p & np.uint32(0xFF00FF00)) | (r.astype(np.uint32) << 16) | b.astype(
        np.uint32
    )
    pixels[:] = [int(v) for v in out.reshape(-1)]


def decode_vp8l(data: bytes):
    """Decode a raw VP8L stream (after the RIFF headers) → H×W×4
    RGBA uint8 numpy array, or raise on malformed input."""
    import numpy as np

    if not data or data[0] != 0x2F:
        raise ValueError("not a VP8L stream")
    br = _BitReader(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    transforms = []
    seen = set()
    xsize = w
    while br.read(1):
        kind = br.read(2)
        if kind in seen:
            raise ValueError("duplicate transform")
        seen.add(kind)
        if kind == 2:  # subtract green
            transforms.append((2, None))
        elif kind in (0, 1):  # predictor / color
            bits = br.read(3) + 2
            sw = (xsize + (1 << bits) - 1) >> bits
            sh = (h + (1 << bits) - 1) >> bits
            sub = _read_entropy_image(br, sw, sh)
            transforms.append((kind, (bits, sub, sw)))
        else:  # color indexing
            tsize = br.read(8) + 1
            table_deltas = _read_entropy_image(br, tsize, 1)
            table = []
            prev = 0
            for d in table_deltas:  # palette is delta-coded
                prev = _add_pixels(prev, int(d))
                table.append(prev)
            if tsize <= 2:
                xbits = 3
            elif tsize <= 4:
                xbits = 2
            elif tsize <= 16:
                xbits = 1
            else:
                xbits = 0
            packed_w = (w + (1 << xbits) - 1) >> xbits if xbits else w
            transforms.append((3, (table, packed_w, xbits)))
            xsize = packed_w
    pixels = _decode_image_data(br, xsize, h, is_sub=False)
    pixels = _apply_inverse_transforms(pixels, w, h, transforms)
    arr = np.array(pixels, dtype=np.uint32).reshape(h, w)
    rgba = np.empty((h, w, 4), np.uint8)
    rgba[:, :, 0] = (arr >> 16) & 0xFF
    rgba[:, :, 1] = (arr >> 8) & 0xFF
    rgba[:, :, 2] = arr & 0xFF
    rgba[:, :, 3] = (arr >> 24) & 0xFF
    return rgba


def decode_webp(payload: bytes):
    """RIFF container walk → :func:`decode_vp8l`. Lossy VP8 chunks
    raise NotImplementedError (they need the full VP8 intra codec);
    anything else malformed raises ValueError."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    i = 12
    while i + 8 <= len(payload):
        import struct

        tag = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 WebP needs the full VP8 intra-frame codec; "
                "only VP8L (lossless) decodes natively here"
            )
        i += 8 + size + (size & 1)
    raise ValueError("no VP8L chunk found")


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------

def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    """Normal-code header: every length written through the
    code-length code (symbols 0..15 only — valid, just not maximally
    compact)."""
    freqs: dict[int, int] = {}
    for l in lengths:
        freqs[l] = freqs.get(l, 0) + 1
    clc_lengths = _huffman_lengths(freqs, 19, max_len=7)
    bw.write(0, 1)  # not simple
    bw.write(19 - 4, 4)  # all 19 code-length-code lengths present
    for s in _CLC_ORDER:
        bw.write(clc_lengths[s], 3)
    bw.write(0, 1)  # no max-symbol shortcut
    codes = _canonical_codes(clc_lengths)
    for l in lengths:
        cl, cc = codes[l]
        for b in range(cl - 1, -1, -1):  # MSB-first
            bw.write((cc >> b) & 1, 1)


class _Encoder:
    def __init__(self, bw: _BitWriter, lengths: list[int]):
        self.bw = bw
        self.codes = _canonical_codes(lengths)
        self.single = len(self.codes) == 1

    def emit(self, sym: int) -> None:
        if self.single:
            return  # 0-bit code
        l, c = self.codes[sym]
        for b in range(l - 1, -1, -1):
            self.bw.write((c >> b) & 1, 1)


def _length_to_prefix(v: int) -> tuple[int, int, int]:
    """value → (prefix code, extra bits, extra value); inverse of
    :func:`_prefix_value`."""
    if v <= 4:
        return v - 1, 0, 0
    import math

    extra = int(math.log2(v - 1)) - 1
    rem = v - 1 - (2 << extra)
    if rem < (1 << extra):
        return 2 * extra + 2, extra, rem
    return 2 * extra + 3, extra, rem - (1 << extra)


def _tokenize(pixels, cache_bits: int, use_backrefs: bool):
    """Literals, cache hits, and distance-1 runs (→ token list of
    ("lit", argb) | ("cache", idx) | ("copy", length))."""
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens = []
    i = 0
    n = len(pixels)
    while i < n:
        p = pixels[i]
        if use_backrefs and i > 0 and pixels[i - 1] == p:
            run = 1
            while i + run < n and pixels[i + run] == p and run < 4000:
                run += 1
            if run >= 3:
                tokens.append(("copy", run))
                if cache is not None:
                    idx = (0x1E35A7BD * p & 0xFFFFFFFF) >> (32 - cache_bits)
                    cache[idx] = p
                i += run
                continue
        if cache is not None:
            idx = (0x1E35A7BD * p & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == p:
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = p
        tokens.append(("lit", p))
        i += 1
    return tokens


def _token_freqs(tokens, cache_bits: int):
    gfreq: dict[int, int] = {}
    rfreq: dict[int, int] = {}
    bfreq: dict[int, int] = {}
    afreq: dict[int, int] = {}
    dfreq: dict[int, int] = {}
    for kind, v in tokens:
        if kind == "lit":
            gfreq[(v >> 8) & 0xFF] = gfreq.get((v >> 8) & 0xFF, 0) + 1
            rfreq[(v >> 16) & 0xFF] = rfreq.get((v >> 16) & 0xFF, 0) + 1
            bfreq[v & 0xFF] = bfreq.get(v & 0xFF, 0) + 1
            afreq[(v >> 24) & 0xFF] = afreq.get((v >> 24) & 0xFF, 0) + 1
        elif kind == "cache":
            s = 256 + 24 + v
            gfreq[s] = gfreq.get(s, 0) + 1
        else:
            pc, _, _ = _length_to_prefix(v)
            gfreq[256 + pc] = gfreq.get(256 + pc, 0) + 1
            dpc, _, _ = _length_to_prefix(121)  # distance 1 → code 121
            dfreq[dpc] = dfreq.get(dpc, 0) + 1
    for fr in (gfreq, rfreq, bfreq, afreq, dfreq):
        if not fr:  # prefix codes need at least one symbol
            fr[0] = 1
    return gfreq, rfreq, bfreq, afreq, dfreq


def _write_code_group(bw: _BitWriter, freqs, cache_bits: int):
    """Write the 5 prefix-code headers for one group; return the
    emitters (g, r, b, a, d)."""
    cache_size = (1 << cache_bits) if cache_bits else 0
    gfreq, rfreq, bfreq, afreq, dfreq = freqs
    glen = _huffman_lengths(gfreq, 256 + 24 + cache_size)
    rlen = _huffman_lengths(rfreq, 256)
    blen = _huffman_lengths(bfreq, 256)
    alen = _huffman_lengths(afreq, 256)
    dlen = _huffman_lengths(dfreq, 40)
    for lengths in (glen, rlen, blen, alen, dlen):
        _write_code_lengths(bw, lengths)
    return tuple(_Encoder(bw, x) for x in (glen, rlen, blen, alen, dlen))


def _emit_tokens(bw: _BitWriter, tokens, enc):
    g, r, b, al, d = enc
    for kind, v in tokens:
        if kind == "lit":
            g.emit((v >> 8) & 0xFF)
            r.emit((v >> 16) & 0xFF)
            b.emit(v & 0xFF)
            al.emit((v >> 24) & 0xFF)
        elif kind == "cache":
            g.emit(256 + 24 + v)
        else:
            pc, extra, ev = _length_to_prefix(v)
            g.emit(256 + pc)
            if extra:
                bw.write(ev, extra)
            dpc, dextra, dev = _length_to_prefix(121)
            d.emit(dpc)
            if dextra:
                bw.write(dev, dextra)


def _write_entropy_coded_image(bw: _BitWriter, pixels):
    """Sub-resolution image: <color-cache-info(0)><prefix-codes>
    <data> — no transforms, no meta bit (spec grammar for
    entropy-coded images)."""
    bw.write(0, 1)  # no color cache
    tokens = _tokenize(pixels, 0, False)
    enc = _write_code_group(bw, _token_freqs(tokens, 0), 0)
    _emit_tokens(bw, tokens, enc)


def _fwd_subtract_green(pixels):
    out = []
    for p in pixels:
        g = (p >> 8) & 0xFF
        r = ((p >> 16) - g) & 0xFF
        b = (p - g) & 0xFF
        out.append((p & 0xFF00FF00) | (r << 16) | b)
    return out


def _sub_pixels(a: int, b: int) -> int:
    return (
        ((((a >> 24) - (b >> 24)) & 0xFF) << 24)
        | (((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16)
        | (((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8)
        | (((a & 0xFF) - (b & 0xFF)) & 0xFF)
    )


def _fwd_predictor(pixels, w, h, bits, modes, sw):
    """Forward predictor transform: residual[i] = pixel[i] − pred
    computed from the ORIGINAL neighbors (which is what the decoder
    reconstructs progressively). `modes` is the per-tile mode image
    (plain ints, one per tile)."""
    sub = [0xFF000000 | (m << 8) for m in modes]
    res = list(pixels)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pixels[i - 1]
            elif x == 0:
                pred = pixels[i - w]
            else:
                mode = modes[(y >> bits) * sw + (x >> bits)]
                L = pixels[i - 1]
                T = pixels[i - w]
                TL = pixels[i - w - 1]
                TR = pixels[i - w + 1]
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _clamped_grad(L, T, TL)
                else:
                    ave = _avg2(L, T)
                    out = 0
                    for sh in (24, 16, 8, 0):
                        a = (ave >> sh) & 0xFF
                        tl = (TL >> sh) & 0xFF
                        d = a - tl
                        half = -((-d) // 2) if d < 0 else d // 2
                        out |= max(0, min(255, a + half)) << sh
                    pred = out
            res[i] = _sub_pixels(pixels[i], pred)
    return res, sub


def _fwd_color_transform(pixels, w, h, bits, ctes, sw):
    """Forward color transform with per-tile ColorTransformElements
    (each an ARGB-packed cte as the decoder reads it)."""
    res = list(pixels)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = ctes[(y >> bits) * sw + (x >> bits)]
            g2r = cte & 0xFF
            g2b = (cte >> 8) & 0xFF
            r2b = (cte >> 16) & 0xFF
            p = pixels[i]
            g = (p >> 8) & 0xFF
            r = (p >> 16) & 0xFF
            b = p & 0xFF
            new_r = (r - _cdelta(g2r, g)) & 0xFF
            # the r2b term uses the FINAL (original) red channel
            new_b = (b - _cdelta(g2b, g) - _cdelta(r2b, r)) & 0xFF
            res[i] = (p & 0xFF00FF00) | (new_r << 16) | new_b
    return res


def encode_webp_lossless(
    img,
    subtract_green: bool = False,
    cache_bits: int = 0,
    use_backrefs: bool = False,
    predictor_bits: int = 0,
    predictor_mode: int | None = None,
    color_transform_bits: int = 0,
    color_cte: int = 0xFF000000,
    palette: bool = False,
    meta_bits: int = 0,
) -> bytes:
    """H×W×3 RGB (or H×W×4 RGBA) uint8 → WebP (VP8L) bytes.

    A correctness encoder, not a compressor: every option exists to
    drive one decoder path. Transform order written (and therefore
    forward-applied) is palette → color-transform → subtract-green →
    predictor; the decoder inverts in reverse read order.

    - ``predictor_bits`` n>0 turns on the predictor transform with
      2^n-pixel tiles; ``predictor_mode`` pins one mode (0..13) for
      every tile, or ``None`` cycles tiles through all 14 modes.
    - ``color_transform_bits`` n>0 turns on the color transform with
      the single ``color_cte`` element in every tile.
    - ``palette`` encodes via color indexing (≤256 distinct colors),
      exercising sub-byte pixel bundling when ≤16 colors.
    - ``meta_bits`` n>0 writes a meta-prefix entropy image that
      splits tiles into two alternating code groups (literals only —
      cache/backrefs are disabled on this path).
    """
    import struct

    import numpy as np

    a = np.asarray(img, dtype=np.uint8)
    h, w = a.shape[:2]
    if a.ndim == 2:
        a = np.stack([a] * 3, axis=2)
    if a.shape[2] == 3:
        alpha = np.full((h, w), 255, np.uint8)
    else:
        alpha = a[:, :, 3]
    argb = (
        (alpha.astype(np.uint32) << 24)
        | (a[:, :, 0].astype(np.uint32) << 16)
        | (a[:, :, 1].astype(np.uint32) << 8)
        | a[:, :, 2].astype(np.uint32)
    ).reshape(-1)
    pixels = [int(p) for p in argb]

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version

    xsize = w  # width of the entropy-coded main image
    # ---- transforms, in read order (decoder inverts in reverse) ----
    if palette:
        colors = sorted(set(pixels))
        if len(colors) > 256:
            raise ValueError("palette encoding needs <= 256 distinct colors")
        index = {c: i for i, c in enumerate(colors)}
        tsize = len(colors)
        if tsize <= 2:
            xbits = 3
        elif tsize <= 4:
            xbits = 2
        elif tsize <= 16:
            xbits = 1
        else:
            xbits = 0
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(tsize - 1, 8)
        deltas = []
        prev = 0
        for c in colors:  # palette is delta-coded
            deltas.append(_sub_pixels(c, prev))
            prev = c
        _write_entropy_coded_image(bw, deltas)
        if xbits:
            per = 1 << xbits
            bitw = 8 >> xbits
            packed_w = (w + per - 1) >> xbits
            packed = []
            for y in range(h):
                for px in range(packed_w):
                    gbyte = 0
                    for k in range(per):
                        x = px * per + k
                        if x < w:
                            gbyte |= index[pixels[y * w + x]] << (k * bitw)
                    packed.append(0xFF000000 | (gbyte << 8))
            pixels = packed
            xsize = packed_w
        else:
            pixels = [0xFF000000 | (index[p] << 8) for p in pixels]
    if color_transform_bits:
        bits = color_transform_bits
        sw = (xsize + (1 << bits) - 1) >> bits
        sh = (h + (1 << bits) - 1) >> bits
        ctes = [color_cte] * (sw * sh)
        bw.write(1, 1)
        bw.write(1, 2)  # COLOR_TRANSFORM
        bw.write(bits - 2, 3)
        _write_entropy_coded_image(bw, ctes)
        pixels = _fwd_color_transform(pixels, xsize, h, bits, ctes, sw)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # SUBTRACT_GREEN
        pixels = _fwd_subtract_green(pixels)
    if predictor_bits:
        bits = predictor_bits
        sw = (xsize + (1 << bits) - 1) >> bits
        sh = (h + (1 << bits) - 1) >> bits
        if predictor_mode is None:
            modes = [i % 14 for i in range(sw * sh)]
        else:
            modes = [predictor_mode] * (sw * sh)
        bw.write(1, 1)
        bw.write(0, 2)  # PREDICTOR_TRANSFORM
        bw.write(bits - 2, 3)
        pixels, sub = _fwd_predictor(pixels, xsize, h, bits, modes, sw)
        _write_entropy_coded_image(bw, sub)
    bw.write(0, 1)  # no more transforms

    # ---- spatially-coded main image ----
    if meta_bits:
        cache_bits = 0
        use_backrefs = False
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        group_of_tile = [(t % 2) for t in range(mw * mh)]
        n_groups = max(group_of_tile) + 1  # what the decoder derives
        bw.write(1, 1)  # meta prefix codes present
        bw.write(meta_bits - 2, 3)
        _write_entropy_coded_image(
            bw, [0xFF000000 | (g << 8) for g in group_of_tile]
        )
        bw.write(0, 1)  # no color cache
        # split pixel stream into per-group literal token lists
        group_tokens = [[] for _ in range(n_groups)]
        order = []  # group id per pixel, in scan order
        for i, p in enumerate(pixels):
            x, y = i % xsize, i // xsize
            gid = group_of_tile[(y >> meta_bits) * mw + (x >> meta_bits)]
            group_tokens[gid].append(("lit", p))
            order.append(gid)
        encs = []
        for gid in range(n_groups):
            toks = group_tokens[gid] or [("lit", 0xFF000000)]
            encs.append(_write_code_group(bw, _token_freqs(toks, 0), 0))
        iters = [iter(toks) for toks in group_tokens]
        for gid in order:
            _emit_tokens(bw, [next(iters[gid])], encs[gid])
    else:
        bw.write(0, 1)  # no meta prefix codes
        if cache_bits:
            bw.write(1, 1)
            bw.write(cache_bits, 4)
        else:
            bw.write(0, 1)
        tokens = _tokenize(pixels, cache_bits, use_backrefs)
        enc = _write_code_group(bw, _token_freqs(tokens, cache_bits), cache_bits)
        _emit_tokens(bw, tokens, enc)

    stream = bw.getvalue()
    vp8l = stream + (b"\x00" if len(stream) % 2 else b"")
    riff = b"WEBP" + b"VP8L" + struct.pack("<I", len(stream)) + vp8l
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
