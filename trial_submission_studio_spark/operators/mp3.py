"""MPEG-1 Audio Layer III (MP3) codec — pure stdlib + numpy.

Public-spec implementation (ISO/IEC 11172-3). Every ALGORITHMIC
stage of Layer III decoding is implemented exactly as specified,
because those stages are closed-form math:

- frame sync / header fields (bitrate, sample-rate, mode, padding),
  ID3v2/ID3v1 tag skip, CRC-16 VALIDATION of protected frames
  (poly 0x8005; mismatching frames skip, never decode garbage);
- side info (MPEG-1 mono 17-byte / stereo 32-byte layouts, both
  granules, window-switching and normal shapes);
- the bit reservoir (``main_data_begin`` back-pointers across
  frames);
- scalefactor decode (slen1/slen2 table, scfsi sharing, long /
  short / mixed block layouts);
- requantization ``xr = sign·|is|^{4/3}·2^{(gg−210)/4}·
  2^{−(1+sfs)/2·(sf+pre)}·2^{−2·subblock_gain}``;
- MS ("mid/side") stereo AND intensity stereo (per-band
  tan(pos·π/12) panning from the right channel's scalefactor
  slots, MS confined to the non-intensity region — long blocks;
  short-block intensity quarantines);
- alias reduction (the 8 published butterfly coefficients);
- IMDCT with all four block types (36-point long/start/stop,
  3×12-point short with reorder), overlap-add, frequency inversion;
- the polyphase synthesis filterbank in its mathematically explicit
  form (overlap-accumulate of the 32-band cosine-modulated
  prototype — the ISO V-FIFO/U-assembly fast structure bakes sign
  alternations into its Table B.3 constants, so without that exact
  table the direct form is the one whose band orientation is
  provably correct; see :func:`_build_synthesis_bank`).

Two pieces of the format are TABULATED constants with no source in
this container, and this module is explicit about the boundary:

1. **Huffman code tables** (ISO Table B.7). The registry
   (`mp3_tables.py`) carries every table that survives a hard
   transcription-validation gate — prefix-freedom plus EXACT Kraft
   completeness, a joint constraint misremembered constants cannot
   realistically satisfy: pair tables 0-3, 5-9, 12 and 15 (the full
   16×16 big-value table, magnitudes to 15) and count1 tables A and
   B. Absent by name: 10, 11, 13 and the linbits ESC families 16-23
   / 24-31, whose candidate transcriptions failed the gate
   (`mp3_tables.UNVALIDATED_TABLES`); their LINBITS widths are
   registered and the ESC arithmetic is implemented, only the
   codeword tables are missing. Streams whose granules select an
   absent table raise ``NotImplementedError`` naming the table, so
   corpus jobs quarantine them via ``on_error="null"`` instead of
   decoding garbage. The in-repo :func:`encode_mp3_tones`
   correctness encoder codes payloads through ANY registered table
   (integer magnitudes, count1 quadruples) — the vp8l
   "correctness encoder" pattern — so every registered decode path
   is roundtrip-tested end to end.
2. **The 512-tap synthesis window** (ISO Table B.3 / C.1). A
   near-perfect-reconstruction prototype of the same length and
   cutoff is DESIGNED here (Kaiser-windowed lowpass, DC-gain
   calibrated); conformant streams therefore decode to
   approximately-right PCM (fine for feature/fingerprint use),
   not bit-exact ISO reference output. Swapping in the ISO table is a one-constant change.

Scalefactor-band tables ARE included: all six (3 sample rates ×
long/short) reproduce from public knowledge and self-check — each
must sum to exactly 576 (long) / 192 (short), which they do.

Scale shape: this is the correct, dependency-free reference codec for
test/metadata scale; bulk decode belongs in a libmad/ffmpeg-backed
kernel. No study-pipeline stage calls it: it is a standalone codec
library.
"""

from __future__ import annotations

import math

__all__ = ["decode_mp3", "encode_mp3_tones", "mp3_stream_info"]

# ----------------------------------------------------------------------------
# published constant tables (ISO/IEC 11172-3)
# ----------------------------------------------------------------------------

#: MPEG-1 Layer III bitrates (kbps); index 0 = free format (unsupported)
BITRATES_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
SAMPLE_RATES_V1 = (44100, 48000, 32000)

#: scalefac_compress → (slen1, slen2)
SLEN = (
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
)

#: preflag emphasis per long scalefactor band (22 entries)
PRETAB = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0)

#: long-block scalefactor band WIDTHS per sample rate (22 bands, sum 576)
SFB_LONG = {
    44100: (4, 4, 4, 4, 4, 4, 6, 6, 8, 8, 10, 12, 16, 20, 24, 28, 34, 42, 50, 54, 76, 158),
    48000: (4, 4, 4, 4, 4, 4, 6, 6, 6, 8, 10, 12, 16, 18, 22, 28, 34, 40, 46, 54, 54, 192),
    32000: (4, 4, 4, 4, 4, 4, 6, 6, 8, 10, 12, 16, 20, 24, 30, 38, 46, 56, 68, 84, 102, 26),
}
#: short-block widths per window (13 bands, sum 192)
SFB_SHORT = {
    44100: (4, 4, 4, 4, 6, 8, 10, 12, 14, 18, 22, 30, 56),
    48000: (4, 4, 4, 4, 6, 6, 10, 12, 14, 16, 20, 26, 66),
    32000: (4, 4, 4, 4, 6, 8, 12, 16, 20, 26, 34, 42, 12),
}
for _fs, _w in SFB_LONG.items():
    assert sum(_w) == 576, _fs
for _fs, _w in SFB_SHORT.items():
    assert sum(_w) == 192, _fs

#: alias-reduction butterfly coefficients
_ALIAS_C = (-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
ALIAS_CS = tuple(1.0 / math.sqrt(1.0 + c * c) for c in _ALIAS_C)
ALIAS_CA = tuple(c / math.sqrt(1.0 + c * c) for c in _ALIAS_C)


def _long_band_index(fs: int) -> list[int]:
    out = [0]
    for w in SFB_LONG[fs]:
        out.append(out[-1] + w)
    return out  # 23 boundaries, last = 576


def _crc16(data: bytes, crc: int = 0xFFFF) -> int:
    """MPEG-audio frame CRC: CRC-16 poly 0x8005, init 0xFFFF,
    MSB-first, no reflection/final-xor — computed over header bytes
    2-3 plus the whole side info (Layer III protected bits)."""
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1) & 0xFFFF
    return crc


# ----------------------------------------------------------------------------
# Huffman registry (the honest subset — module docstring, boundary #1)
# ----------------------------------------------------------------------------

def _pair_table(entries: dict) -> dict:
    """{(x, y): (code, hlen)} → decode map {(hlen, code): (x, y)} +
    max length; validated prefix-free."""
    dec = {}
    for (x, y), (code, hlen) in entries.items():
        dec[(hlen, code)] = (x, y)
    # prefix-freedom check
    codes = [(h, c) for (h, c) in dec]
    for h1, c1 in codes:
        for h2, c2 in codes:
            if (h1, c1) != (h2, c2) and h2 > h1 and (c2 >> (h2 - h1)) == c1:
                raise AssertionError("huffman table not prefix-free")
    return {"dec": dec, "max_len": max(h for h, _ in dec), "enc": dict(entries)}


#: big-values tables: index → {(|x|,|y|): (code, hlen)} — built from
#: the validated ISO Table B.7 subset in `mp3_tables.py` (tables 0-3,
#: 5-9, 12, 15; see that module's docstring for the validation gate
#: and the named-absent list). Unregistered indexes raise at decode.
from .mp3_tables import (  # noqa: E402 - table data module
    CODE_ALIASES,
    COUNT1_A,
    LINBITS as HUFFMAN_LINBITS,
    PAIR_TABLES as _B7,
    RESERVED_TABLES,
    UNVALIDATED_TABLES,
)

HUFFMAN_PAIR_TABLES: dict[int, dict] = {
    0: {"dec": {}, "max_len": 0, "enc": {}},  # table 0: no bits, all zero
}
for _tid, (_hl, _hc) in _B7.items():
    HUFFMAN_PAIR_TABLES[_tid] = _pair_table({
        (x, y): (_hc[x][y], _hl[x][y])
        for x in range(len(_hl)) for y in range(len(_hl[x]))
    })

#: count1 table B (count1table_select=1): every quadruple (v,w,x,y)
#: is the 4-bit one's-complement of its value bits.
COUNT1_B_DEC = {
    (4, (~n) & 0xF): ((n >> 3) & 1, (n >> 2) & 1, (n >> 1) & 1, n & 1)
    for n in range(16)
}
#: count1 table A (count1table_select=0): variable-length codes
COUNT1_A_DEC = {
    (COUNT1_A[0][n], COUNT1_A[1][n]):
        ((n >> 3) & 1, (n >> 2) & 1, (n >> 1) & 1, n & 1)
    for n in range(16)
}
COUNT1_A_ENC = {n: (COUNT1_A[1][n], COUNT1_A[0][n]) for n in range(16)}


# ----------------------------------------------------------------------------
# bit IO
# ----------------------------------------------------------------------------

class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, bitpos: int = 0) -> None:
        self.data = data
        self.pos = bitpos

    def read(self, n: int) -> int:
        v = 0
        pos, data = self.pos, self.data
        for _ in range(n):
            byte = data[pos >> 3]
            v = (v << 1) | ((byte >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return v


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, bits: int) -> None:
        if bits:
            self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
            self.n += bits
            while self.n >= 8:
                self.n -= 8
                self.out.append((self.acc >> self.n) & 0xFF)

    def bit_length(self) -> int:
        return len(self.out) * 8 + self.n

    def bytes_padded(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put(0, pad)
        return bytes(self.out)


# ----------------------------------------------------------------------------
# header / side info
# ----------------------------------------------------------------------------

def _parse_header(b: bytes, i: int):
    """4-byte frame header at offset i → dict or None (not MPEG-1 L3
    with a defined bitrate/rate)."""
    if i + 4 > len(b):
        return None
    h0, h1, h2, h3 = b[i], b[i + 1], b[i + 2], b[i + 3]
    if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
        return None
    version = (h1 >> 3) & 0x3      # 3 = MPEG-1
    layer = (h1 >> 1) & 0x3        # 1 = Layer III
    if version != 3 or layer != 1:
        return None
    protection = h1 & 1            # 0 = CRC present
    br_idx = (h2 >> 4) & 0xF
    sr_idx = (h2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / invalid
    padding = (h2 >> 1) & 1
    mode = (h3 >> 6) & 0x3         # 0 stereo, 1 joint, 2 dual, 3 mono
    mode_ext = (h3 >> 4) & 0x3
    bitrate = BITRATES_V1_L3[br_idx] * 1000
    rate = SAMPLE_RATES_V1[sr_idx]
    frame_len = 144 * bitrate // rate + padding
    return {
        "bitrate": bitrate, "rate": rate, "padding": padding,
        "mode": mode, "mode_ext": mode_ext, "crc": protection == 0,
        "frame_len": frame_len, "channels": 1 if mode == 3 else 2,
    }


def _parse_side_info(data: bytes, nch: int):
    """MPEG-1 side info → (main_data_begin, scfsi[ch][4],
    granules[2][ch] dicts)."""
    br = _BitReader(data)
    mdb = br.read(9)
    br.read(5 if nch == 1 else 3)  # private bits
    scfsi = [[br.read(1) for _ in range(4)] for _ in range(nch)]
    granules = []
    for _g in range(2):
        chs = []
        for _c in range(nch):
            gr = {
                "part2_3_length": br.read(12),
                "big_values": br.read(9),
                "global_gain": br.read(8),
                "scalefac_compress": br.read(4),
                "window_switching": br.read(1),
            }
            if gr["window_switching"]:
                gr["block_type"] = br.read(2)
                gr["mixed_block"] = br.read(1)
                gr["table_select"] = [br.read(5), br.read(5)]
                gr["subblock_gain"] = [br.read(3) for _ in range(3)]
                # region boundaries are implicit for window switching
                gr["region0_count"] = 8
                gr["region1_count"] = 36
            else:
                gr["block_type"] = 0
                gr["mixed_block"] = 0
                gr["table_select"] = [br.read(5), br.read(5), br.read(5)]
                gr["subblock_gain"] = [0, 0, 0]
                gr["region0_count"] = br.read(4)
                gr["region1_count"] = br.read(3)
            gr["preflag"] = br.read(1)
            gr["scalefac_scale"] = br.read(1)
            gr["count1table_select"] = br.read(1)
            chs.append(gr)
        granules.append(chs)
    return mdb, scfsi, granules


# ----------------------------------------------------------------------------
# scalefactors + huffman (main data)
# ----------------------------------------------------------------------------

def _read_scalefactors(br: _BitReader, gr: dict, scfsi, prev_sf, granule_idx):
    """→ (sf_long[22], sf_short[13][3]) with scfsi sharing applied."""
    s1, s2 = SLEN[gr["scalefac_compress"]]
    short = gr["window_switching"] and gr["block_type"] == 2
    sf_long = [0] * 22
    sf_short = [[0, 0, 0] for _ in range(13)]
    if short and not gr["mixed_block"]:
        for band in range(6):
            for w in range(3):
                sf_short[band][w] = br.read(s1)
        for band in range(6, 12):
            for w in range(3):
                sf_short[band][w] = br.read(s2)
    elif short and gr["mixed_block"]:
        for band in range(8):
            sf_long[band] = br.read(s1)
        for band in range(3, 6):
            for w in range(3):
                sf_short[band][w] = br.read(s1)
        for band in range(6, 12):
            for w in range(3):
                sf_short[band][w] = br.read(s2)
    else:
        groups = ((0, 6, s1), (6, 11, s1), (11, 16, s2), (16, 21, s2))
        for gi, (lo, hi, sl) in enumerate(groups):
            share = granule_idx == 1 and scfsi[gi] and prev_sf is not None
            for band in range(lo, hi):
                if share:
                    sf_long[band] = prev_sf[band]
                else:
                    sf_long[band] = br.read(sl)
    return sf_long, sf_short


def _decode_pair(br: _BitReader, table: int, end_bit: int):
    tab = HUFFMAN_PAIR_TABLES.get(table)
    if tab is None:
        base = CODE_ALIASES.get(table, table)
        why = (
            "a reserved id in ISO 11172-3 (no such table)"
            if table in RESERVED_TABLES
            else (
                f"absent: its codeword table"
                + (f" (shared with table {base})" if base != table else "")
                + " could not be validated from available knowledge"
                " (mp3_tables.py docstring boundary)"
            )
        )
        raise NotImplementedError(
            f"MP3 Huffman table {table} is {why} - registered subset: "
            f"{sorted(HUFFMAN_PAIR_TABLES)}; libmad/ffmpeg integration "
            "point for full-coverage decode"
        )
    if not tab["dec"]:
        return 0, 0
    code, length = 0, 0
    dec, mx = tab["dec"], tab["max_len"]
    while length <= mx:
        if br.pos >= end_bit:
            raise ValueError("huffman ran past part2_3 boundary")
        code = (code << 1) | br.read(1)
        length += 1
        hit = dec.get((length, code))
        if hit is not None:
            x, y = hit
            lin = HUFFMAN_LINBITS[table]
            if x == 15 and lin:
                x += br.read(lin)
            if x and br.read(1):
                x = -x
            if y == 15 and lin:
                y += br.read(lin)
            if y and br.read(1):
                y = -y
            return x, y
    raise ValueError("invalid huffman code")


def _decode_count1(br: _BitReader, select: int, end_bit: int):
    if select == 1:  # table B: fixed 4-bit complement codes
        code, length = 0, 0
        while length < 4:
            code = (code << 1) | br.read(1)
            length += 1
        vals = list(COUNT1_B_DEC[(4, code)])
    else:  # table A: variable-length (1..6 bits), validated complete
        code, length = 0, 0
        vals = None
        while length < 6:
            code = (code << 1) | br.read(1)
            length += 1
            hit = COUNT1_A_DEC.get((length, code))
            if hit is not None:
                vals = list(hit)
                break
        if vals is None:
            raise ValueError("invalid count1 table A code")
    out = []
    for v in vals:
        if v and br.pos < end_bit and br.read(1):
            v = -v
        out.append(v)
    return out


def _decode_spectrum(br: _BitReader, gr: dict, fs: int, end_bit: int):
    """→ int spectrum is[576] for one granule/channel."""
    is_ = [0] * 576
    bv2 = gr["big_values"] * 2
    if bv2 > 576:
        raise ValueError("big_values too large")
    band_idx = _long_band_index(fs)
    if gr["window_switching"]:
        r0_end = min(36, bv2)
        r1_end = bv2
    else:
        r0_end = min(band_idx[gr["region0_count"] + 1], bv2)
        r1_end = min(
            band_idx[min(gr["region0_count"] + gr["region1_count"] + 2, 22)],
            bv2,
        )
    i = 0
    while i < bv2:
        if i < r0_end:
            table = gr["table_select"][0]
        elif i < r1_end:
            table = gr["table_select"][1]
        else:
            table = gr["table_select"][2] if len(gr["table_select"]) > 2 else gr["table_select"][1]
        x, y = _decode_pair(br, table, end_bit)
        is_[i] = x
        if i + 1 < 576:
            is_[i + 1] = y
        i += 2
    # count1 region until bits run out
    while br.pos < end_bit and i + 3 < 576:
        quad = _decode_count1(br, gr["count1table_select"], end_bit)
        if br.pos > end_bit:
            break  # last quad overran: spec says discard
        for v in quad:
            if i < 576:
                is_[i] = v
                i += 1
    return is_


# ----------------------------------------------------------------------------
# requantize / stereo / alias / IMDCT / synthesis
# ----------------------------------------------------------------------------

def _requantize(is_, gr, sf_long, sf_short, fs):
    import numpy as np

    xr = np.zeros(576, dtype=np.float64)
    gg = 2.0 ** ((gr["global_gain"] - 210) / 4.0)
    sfs = 0.5 * (1 + gr["scalefac_scale"])
    short = gr["window_switching"] and gr["block_type"] == 2
    vals = np.asarray(is_, dtype=np.float64)
    mags = np.abs(vals) ** (4.0 / 3.0) * np.sign(vals)
    if not short:
        band_idx = _long_band_index(fs)
        for b in range(22):
            lo, hi = band_idx[b], band_idx[b + 1]
            sf = sf_long[b] + (PRETAB[b] if gr["preflag"] else 0)
            xr[lo:hi] = mags[lo:hi] * gg * 2.0 ** (-sfs * sf)
        return xr
    widths = SFB_SHORT[fs]
    n_long = 0
    if gr["mixed_block"]:
        band_idx = _long_band_index(fs)
        n_long = band_idx[8]
        for b in range(8):
            lo, hi = band_idx[b], band_idx[b + 1]
            sf = sf_long[b] + (PRETAB[b] if gr["preflag"] else 0)
            xr[lo:hi] = mags[lo:hi] * gg * 2.0 ** (-sfs * sf)
    # short region: bitstream order is (band, window, line); reorder
    # to (subband, window, line-in-window) natural order
    base = n_long
    start_band = 3 if gr["mixed_block"] else 0
    freq_base = n_long // 3  # per-window frequency offset of the short region
    pos = base
    fb = freq_base
    for b in range(start_band, 13):
        w_ = widths[b]
        for w in range(3):
            gain = gg * 2.0 ** (-2.0 * gr["subblock_gain"][w])
            sf = sf_short[b][w] if b < 12 else 0
            scale = gain * 2.0 ** (-sfs * sf)
            for p in range(w_):
                f = fb + p  # frequency line within this window
                nat = (f // 6) * 18 + w * 6 + (f % 6)
                src = pos + w * w_ + p
                if src < 576 and nat < 576:
                    xr[nat] = mags[src] * scale
        pos += 3 * w_
        fb += w_
    return xr


def _alias_reduce(xr, n_subbands_from: int = 1, n_subbands_to: int = 32):
    for b in range(n_subbands_from, n_subbands_to):
        base = 18 * b
        for i in range(8):
            lo = xr[base - 1 - i]
            hi = xr[base + i]
            xr[base - 1 - i] = lo * ALIAS_CS[i] - hi * ALIAS_CA[i]
            xr[base + i] = hi * ALIAS_CS[i] + lo * ALIAS_CA[i]
    return xr


def _win_long(block_type: int):
    import numpy as np

    i = np.arange(36)
    if block_type == 0:
        return np.sin(np.pi / 36 * (i + 0.5))
    if block_type == 1:  # start
        w = np.sin(np.pi / 36 * (i + 0.5))
        w[18:24] = 1.0
        w[24:30] = np.sin(np.pi / 12 * (np.arange(24, 30) - 18 + 0.5))
        w[30:] = 0.0
        return w
    if block_type == 3:  # stop
        w = np.sin(np.pi / 36 * (i + 0.5))
        w[:6] = 0.0
        w[6:12] = np.sin(np.pi / 12 * (np.arange(6, 12) - 6 + 0.5))
        w[12:18] = 1.0
        return w
    raise ValueError(block_type)


def _imdct_n(X, n):
    import numpy as np

    half = n // 2
    i = np.arange(n)[:, None]
    k = np.arange(half)[None, :]
    M = np.cos(np.pi / (2 * n) * (2 * i + 1 + half) * (2 * k + 1))
    return M @ np.asarray(X, dtype=np.float64)


def _imdct_granule(xr, gr, overlap):
    """xr[576] → 576 time samples (32 subbands × 18), using and
    updating ``overlap`` (32×18)."""
    import numpy as np

    out = np.zeros((32, 18))
    short = gr["window_switching"] and gr["block_type"] == 2
    win_short = np.sin(np.pi / 12 * (np.arange(12) + 0.5))
    for sb in range(32):
        X = xr[18 * sb : 18 * sb + 18]
        long_block = (not short) or (gr["mixed_block"] and sb < 2)
        if long_block:
            # mixed-block low subbands always use the normal window
            bt = 0 if (short and gr["mixed_block"] and sb < 2) else gr["block_type"]
            z = _imdct_n(X, 36) * _win_long(bt)
        else:
            # three 12-sample short windows at 50% overlap (6-sample
            # hop): offsets 6/12/18, zeros at 0..5 and 30..35 — each
            # window contributes 6 fresh samples, 3×6 = the granule's
            # 18 per subband
            z = np.zeros(36)
            for w in range(3):
                zz = _imdct_n(X[w * 6 : w * 6 + 6], 12) * win_short
                z[6 + 6 * w : 18 + 6 * w] += zz
        out[sb] = z[:18] + overlap[sb]
        overlap[sb] = z[18:]
        # frequency inversion: odd subbands negate odd time samples
        if sb % 2 == 1:
            out[sb][1::2] = -out[sb][1::2]
    return out


def _build_synthesis_bank():
    """Designed synthesis filterbank matrix (module docstring
    boundary #2). The ISO fast structure (V FIFO + U assembly +
    Table B.3 window) bakes sign alternations into its D constants;
    without that exact table, the mathematically explicit form is
    used instead: ``h_k(n) = d(n) · cos((2k+1)(n−16)π/64)`` with a
    DESIGNED 512-tap near-PR prototype ``d`` (Kaiser-windowed ideal
    lowpass at the 32-band half-band cutoff π/64), passband-gain
    calibrated. Returns the (512, 32) modulated filter matrix — one
    column per subband — used by overlap-accumulate synthesis.
    Orientation is correct by construction: band k content at
    subband-rate frequency ω lands at (kπ+ω)/32 for even k, with the
    odd-band inversion handled by the standard frequency-inversion
    stage."""
    import numpy as np

    n = np.arange(512, dtype=np.float64)
    m = n - 255.5
    d = np.sinc(m / 64.0) / 64.0  # ideal lowpass, cutoff pi/64
    beta = 9.0
    d *= np.i0(beta * np.sqrt(1 - (m / 256.0) ** 2)) / np.i0(beta)
    k = np.arange(32)[None, :]
    H = d[:, None] * np.cos((2 * k + 1) * (n[:, None] - 16) * np.pi / 64)
    # calibrate: steady DC into band 0 must reconstruct at unit gain
    acc = np.zeros(512)
    outs = []
    for _t in range(48):
        acc[:] = np.roll(acc, -32)
        acc[480:] = 0.0
        acc += H[:, 0]
        outs.append(acc[:32].copy())
    gain = float(np.mean(np.concatenate(outs[24:])))
    return H / gain


class _Synth:
    """Per-channel synthesis filterbank: overlap-accumulate of the
    cosine-modulated prototype (see :func:`_build_synthesis_bank`).
    Same I/O contract as the ISO V-FIFO structure: 32 subband
    samples in, 32 PCM samples out, 512-sample state."""

    _H = None

    def __init__(self) -> None:
        import numpy as np

        if _Synth._H is None:
            _Synth._H = _build_synthesis_bank()
        self.acc = np.zeros(512)

    def run(self, subband_samples):
        """subband_samples: (32, 18) → 576 PCM floats."""
        import numpy as np

        out = np.empty(18 * 32)
        acc, H = self.acc, _Synth._H
        for t in range(18):
            acc[:] = np.roll(acc, -32)
            acc[480:] = 0.0
            acc += H @ subband_samples[:, t]
            out[t * 32 : (t + 1) * 32] = acc[:32]
        return out


# ----------------------------------------------------------------------------
# stream walk + full decode
# ----------------------------------------------------------------------------

def _skip_id3(b: bytes) -> int:
    if len(b) >= 10 and b[:3] == b"ID3":
        size = ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14) | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        return 10 + size
    return 0


def mp3_stream_info(payload: bytes):
    """Walk every frame header → (rate, channels, n_frames,
    duration_ms, vbr) without touching main data. Handles CBR and
    VBR (per-frame walk), ID3v2/ID3v1 tags. None if no valid MPEG-1
    L3 frame is found."""
    if not payload:
        return None
    i = _skip_id3(payload)
    end = len(payload)
    if end >= 128 and payload[-128:-125] == b"TAG":
        end -= 128
    n = 0
    rate = channels = None
    bitrates = set()
    while i + 4 <= end:
        h = _parse_header(payload, i)
        if h is None:
            if n == 0:
                i += 1  # resync at stream start only
                continue
            break
        rate, channels = h["rate"], h["channels"]
        bitrates.add(h["bitrate"])
        n += 1
        i += h["frame_len"]
    if n == 0:
        return None
    return {
        "rate": rate,
        "channels": channels,
        "n_frames": n,
        "duration_ms": int(round(1000.0 * n * 1152 / rate)),
        "vbr": len(bitrates) > 1,
    }


def decode_mp3(payload: bytes, *, mix: bool = True):
    """MP3 bytes → (sample_rate, n_channels, float64 mono mix in
    [-1, 1]) — the `_make_audio_decoder` contract — or None when the
    payload is not an MPEG-1 Layer III stream. Raises
    ``NotImplementedError`` when a granule selects a Huffman table
    outside the registered subset (quarantine path).
    ``mix=False`` returns the per-channel (n, nch) PCM instead of the
    mono mix (joint-stereo tests need the channels)."""
    import numpy as np

    if not payload:
        return None
    start = _skip_id3(payload)
    end = len(payload)
    if end >= 128 and payload[-128:-125] == b"TAG":
        end -= 128
    i = start
    # resync to first valid header
    first = None
    while i + 4 <= end:
        if _parse_header(payload, i) is not None:
            first = i
            break
        i += 1
    if first is None:
        return None
    reservoir = bytearray()
    pcm_parts = []
    rate = nch = None
    synths = None
    overlaps = None
    i = first
    while i + 4 <= end:
        h = _parse_header(payload, i)
        if h is None:
            break
        if rate is None:
            rate, nch = h["rate"], h["channels"]
            synths = [_Synth() for _ in range(nch)]
            overlaps = [np.zeros((32, 18)) for _ in range(nch)]
        side_len = 17 if nch == 1 else 32
        off = i + 4 + (2 if h["crc"] else 0)
        if off + side_len > end:
            break
        if h["crc"]:
            # protected frame: validate before trusting the side
            # info — a corrupted frame is SKIPPED (its main data
            # still enters the reservoir so later back-pointers keep
            # their byte positions), never decoded into garbage
            want = (payload[i + 4] << 8) | payload[i + 5]
            got_crc = _crc16(
                payload[i + 2: i + 4] + payload[off: off + side_len]
            )
            if got_crc != want:
                reservoir.extend(payload[off + side_len: i + h["frame_len"]])
                if len(reservoir) > 4096:
                    del reservoir[:-4096]
                i += h["frame_len"]
                continue
        try:
            mdb, scfsi, granules = _parse_side_info(
                payload[off : off + side_len], nch
            )
        except IndexError:
            break
        main = payload[off + side_len : i + h["frame_len"]]
        res_before = len(reservoir)
        reservoir.extend(main)
        if mdb > res_before:
            # reservoir underflow (stream start): skip this frame
            i += h["frame_len"]
            if len(reservoir) > 4096:
                del reservoir[:-4096]
            continue
        br = _BitReader(bytes(reservoir), (res_before - mdb) * 8)
        intensity = h["mode"] == 1 and bool(h["mode_ext"] & 0x1)
        ms = h["mode"] == 1 and bool(h["mode_ext"] & 0x2)
        frame_pcm = [np.zeros(1152) for _ in range(nch)]
        frame_sf = [None] * nch  # granule-0 long scalefactors per channel
        ok = True
        for g in range(2):
            xrs = []
            raw = []  # (is_, sf_long) per channel, for joint stereo
            for c in range(nch):
                gr = granules[g][c]
                start_bit = br.pos
                end_bit = start_bit + gr["part2_3_length"]
                if end_bit > len(reservoir) * 8:
                    ok = False
                    break
                try:
                    sf_long, sf_short = _read_scalefactors(
                        br, gr, scfsi[c], frame_sf[c], g
                    )
                    if g == 0:
                        frame_sf[c] = sf_long
                    is_ = _decode_spectrum(br, gr, rate, end_bit)
                except (ValueError, IndexError):
                    ok = False
                    break
                br.pos = end_bit  # skip ancillary within part2_3
                raw.append((is_, sf_long))
                xrs.append(_requantize(is_, gr, sf_long, sf_short, rate))
            if not ok:
                break
            if nch == 2 and intensity:
                # intensity stereo (long blocks): bands at/above the
                # RIGHT channel's zero boundary carry a POSITION in
                # the right scalefactor slot; ratio = tan(pos*pi/12)
                # pans the LEFT channel's line energy. pos 7 = band
                # not intensity-coded (MS there if mode_ext & 2).
                # All closed-form — no tabulated constants.
                gr_r = granules[g][1]
                if gr_r["window_switching"] and gr_r["block_type"] == 2:
                    raise NotImplementedError(
                        "MP3 short-block intensity stereo is outside "
                        "the implemented subset"
                    )
                is_r, sf_r = raw[1]
                rzero = 0
                for idx in range(575, -1, -1):
                    if is_r[idx]:
                        rzero = idx + 1
                        break
                band_idx = _long_band_index(rate)
                inv = 1.0 / math.sqrt(2.0)
                for b in range(22):
                    lo, hi = band_idx[b], band_idx[b + 1]
                    in_intensity = lo >= rzero
                    # band 21 transmits no scalefactor: it reuses
                    # band 20's position (the standard decoder rule)
                    pos = sf_r[b] if b < 21 else sf_r[20]
                    if in_intensity and pos != 7:
                        ratio = math.tan(pos * math.pi / 12.0)
                        left = xrs[0][lo:hi].copy()
                        xrs[0][lo:hi] = left * (ratio / (1.0 + ratio))
                        xrs[1][lo:hi] = left * (1.0 / (1.0 + ratio))
                    elif ms:
                        m_ = xrs[0][lo:hi].copy()
                        s_ = xrs[1][lo:hi].copy()
                        xrs[0][lo:hi] = (m_ + s_) * inv
                        xrs[1][lo:hi] = (m_ - s_) * inv
            elif ms and nch == 2:
                m, s = xrs
                inv = 1.0 / math.sqrt(2.0)
                xrs = [(m + s) * inv, (m - s) * inv]
            for c in range(nch):
                gr = granules[g][c]
                is_short = gr["window_switching"] and gr["block_type"] == 2
                if not is_short:
                    _alias_reduce(xrs[c])
                elif gr["mixed_block"]:
                    # mixed: alias reduction on the two lower (long)
                    # subbands only — the single boundary at line 18
                    _alias_reduce(xrs[c], 1, 2)
                sub = _imdct_granule(xrs[c], gr, overlaps[c])
                frame_pcm[c][g * 576 : (g + 1) * 576] = synths[c].run(sub)
        if ok:
            pcm_parts.append(np.stack(frame_pcm, axis=1))
        if len(reservoir) > 4096:
            del reservoir[:-4096]
        i += h["frame_len"]
    if not pcm_parts:
        return None
    pcm = np.concatenate(pcm_parts, axis=0)
    if not mix:
        np.clip(pcm, -1.0, 1.0, out=pcm)
        return rate, nch, pcm
    mono = pcm.mean(axis=1)
    np.clip(mono, -1.0, 1.0, out=mono)
    return rate, nch, mono


# ----------------------------------------------------------------------------
# correctness encoder (test/driver side)
# ----------------------------------------------------------------------------

def encode_mp3_tones(
    sample_rate: int = 44100,
    lines: tuple = ((40, 1.0),),
    n_frames: int = 8,
    bitrate_kbps: int = 128,
    channels: int = 1,
    short_blocks: bool = False,
    mixed_blocks: bool = False,
    block_type_sequence: tuple | None = None,
    subblock_gain: tuple = (0, 0, 0),
    scalefacs: dict | None = None,
    scalefac_scale: int = 0,
    scfsi: bool = False,
    line_magnitudes: dict | None = None,
    count1_lines: tuple = (),
    reservoir: bool = False,
    reservoir_target: int = 200,
    intensity_positions: dict | None = None,
    with_crc: bool = False,
    _table_select: int | tuple = 1,
    _count1_select: int = 1,
) -> bytes:
    """Structurally-conformant MPEG-1 Layer III frames whose
    granules place +1 spectral values at the given MDCT ``lines`` —
    restricted to the registered Huffman subset (table 1 + count1 B),
    long blocks, no reservoir, so the in-repo decoder exercises its
    whole pipeline on them and ANY conformant decoder accepts the
    framing. ``channels=2`` emits stereo (mode 0) frames carrying
    the same spectrum in both channels (32-byte side info, two
    channel blocks per granule).

    ``lines``: (spectral_line, amplitude) pairs; line ℓ maps to
    ≈ (ℓ+0.5)·fs/1152 Hz. With |is|≤1 coding every coded line shares
    ONE granule amplitude, 2^((gg−210)/4) with gg chosen from the
    LOUDEST requested amplitude — compare decode output against
    :func:`expected_tone_amplitude`.

    ``_table_select`` / ``_count1_select`` select the big-value /
    count1 Huffman tables; ``_table_select`` also accepts a 3-tuple
    of per-region tables (long blocks — the mixed-table shape real
    encoders emit). A REGISTERED pair table (0-3, 5-9, 12, 15
    — see `mp3_tables.py`) really codes the payload with that table,
    so every registered table's decode path is exercisable;
    ``_count1_select=0`` codes any ``count1_lines`` with count1
    table A. An UNREGISTERED table id produces frames whose DECODE
    must raise ``NotImplementedError`` (the bitstream stays framed
    correctly; payload falls back to table-1 coding that the decoder
    never reaches).

    ``line_magnitudes`` ({line: |is| int}) codes integer magnitudes
    above 1 through the selected table (long blocks only); lines not
    listed default to magnitude 1. The decoded amplitude of a
    magnitude-m line is ``m^(4/3) · 2^((gg-210)/4)`` — see
    :func:`expected_tone_amplitude`'s ``magnitude`` argument.

    ``count1_lines`` places additional ±1 values ABOVE the big-value
    region, coded as count1 quadruples with the selected count1
    table (both A and B decode) — the region real encoders use for
    the spectrum's sparse top end.

    ``reservoir=True`` packs the frames' main data through the BIT
    RESERVOIR: every frame after the first carries a nonzero
    ``main_data_begin`` back-pointer (held near ``reservoir_target``
    bytes by ancillary stuffing, as real encoders do), so its main
    data physically lives in earlier frames' areas — the decoder's
    reservoir/back-pointer path decodes it to the SAME PCM as the
    unpacked stream.

    ``intensity_positions`` ({long band: position 0..6, or 7 = band
    not intensity-coded}) emits a JOINT-STEREO INTENSITY stream
    (mode_ext 01): the left channel carries the tones, the right
    channel's spectrum is empty and its scalefactor slots carry the
    positions — the decoder pans each band by
    ``ratio = tan(pos·π/12)`` (pos 0 = all right, 6 = all left,
    3 = equal). Long blocks, channels=2.

    ``with_crc=True`` emits PROTECTED frames (protection bit 0, a
    real CRC-16 over the protected span) — the decoder validates and
    SKIPS frames whose CRC mismatches instead of decoding corrupted
    side info.

    Decoder-path options (each forces one otherwise-unreachable
    decode path, the correctness-encoder discipline):

    - ``short_blocks=True`` — every granule is block_type 2
      (window_switching side-info shape, 3×12-point IMDCT, short
      reorder, ``subblock_gain``); ``lines`` are then SHORT-window
      frequency lines 0..191, placed identically in all three
      windows (line f ≈ (f+0.5)·fs/384 Hz).
    - ``scalefacs`` — {long_band: value 0..3} written with
      scalefac_compress 9 (slen 2/2); requantization scales band b
      by ``2^(−0.5·(1+scalefac_scale)·value)``.
    - ``scfsi=True`` — granule 1 OMITS its scalefactor bits and the
      scfsi mask makes the decoder reuse granule 0's (long blocks
      only, per spec).
    - ``mixed_blocks=True`` — block_type 2 with the mixed flag: the
      low two subbands stay long-coded (``lines`` < 36 are long
      spectral lines at (ℓ+0.5)·fs/1152 Hz), short bands 3..12 carry
      the rest (``lines`` ≥ 12 are short-window lines as in
      ``short_blocks``; per-window tripling applied).
    - ``block_type_sequence`` — per-granule window types across the
      stream (values 0/1/2/3 with long-block spectral layout for
      0/1/3 and the short layout for 2), exercising the start/stop
      transition windows.
    """
    if sample_rate not in SAMPLE_RATES_V1:
        raise ValueError(f"sample_rate must be one of {SAMPLE_RATES_V1}")
    if bitrate_kbps not in BITRATES_V1_L3:
        raise ValueError("unsupported bitrate")
    if not lines:
        raise ValueError("need at least one spectral line")
    if channels not in (1, 2):
        raise ValueError("channels must be 1 or 2")
    if (short_blocks or mixed_blocks or block_type_sequence) and (
        scalefacs or scfsi or line_magnitudes or count1_lines
        or intensity_positions
    ):
        raise ValueError(
            "scalefacs/scfsi/line_magnitudes/count1_lines/intensity "
            "options are long-block-only here"
        )
    if intensity_positions is not None:
        if channels != 2:
            raise ValueError("intensity_positions needs channels=2")
        if scalefacs or scfsi:
            raise ValueError("intensity_positions excludes scalefacs/scfsi")
        bad_pos = {
            b: p for b, p in intensity_positions.items()
            if not (0 <= int(b) <= 20 and 0 <= int(p) <= 7)
        }
        if bad_pos:
            raise ValueError(
                f"intensity positions are bands 0..20, values 0..7 "
                f"(7 = band not intensity-coded); got {bad_pos}"
            )
    if short_blocks and mixed_blocks:
        raise ValueError("pick one of short_blocks / mixed_blocks")
    if block_type_sequence:
        if short_blocks or mixed_blocks:
            raise ValueError(
                "block_type_sequence replaces short_blocks/mixed_blocks"
            )
        if any(bt not in (0, 1, 2, 3) for bt in block_type_sequence):
            raise ValueError("block types are 0..3")

    def _short_indices(fs_lines, band_lo=0, pos_base=0, freq_base=0):
        widths = SFB_SHORT[sample_rate]
        bases = [0]
        for w_ in widths:
            bases.append(bases[-1] + w_)
        idxs = set()
        for f in fs_lines:
            b = next(
                i for i in range(13) if bases[i] <= f < bases[i + 1]
            )
            if b < band_lo:
                raise ValueError(
                    f"short line {f} falls below band {band_lo} (mixed "
                    "low subbands are long-coded)"
                )
            off = pos_base + 3 * (bases[b] - freq_base)
            for w_i in range(3):
                idxs.add(off + w_i * widths[b] + (f - bases[b]))
        return idxs

    if short_blocks:
        if max(l for l, _ in lines) >= 192:
            raise ValueError("short-block lines are 0..191 (per window)")
        line_set = _short_indices([l for l, _ in lines])
        max_line = max(line_set)
    elif mixed_blocks:
        # lines < 36: LONG spectral lines (the low-subband region);
        # lines >= 36: SHORT-window frequency lines (>= the mixed
        # boundary freq_base=12 by construction of the band tables)
        long_part = [l for l, _ in lines if l < 36]
        short_part = [l for l, _ in lines if l >= 36]
        if any(l >= 192 for l in short_part):
            raise ValueError("mixed short lines are 36..191 (per window)")
        n_long = _long_band_index(sample_rate)[8]
        line_set = set(long_part)
        if short_part:
            line_set |= _short_indices(
                short_part, band_lo=3, pos_base=n_long, freq_base=n_long // 3
            )
        max_line = max(line_set)
    else:
        line_set = {l for l, _ in lines}
        max_line = max(line_set)
    if max_line >= 576:
        raise ValueError("spectral lines are 0..575")
    amp = max(a for _, a in lines)
    gg = int(round(210 + 4 * math.log2(max(amp, 1e-9))))
    gg = min(255, max(0, gg))
    sr_idx = SAMPLE_RATES_V1.index(sample_rate)
    br_idx = BITRATES_V1_L3.index(bitrate_kbps)
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    big_values = (max_line // 2) + 1
    # per-region table selection: an int selects one table for every
    # region; a 3-tuple selects (region0, region1, region2) — LONG
    # blocks only, the shape real encoders emit. A REGISTERED table
    # really codes its region's payload; an unregistered id is the
    # quarantine hook — payload falls back to table-1 coding the
    # decoder never reaches (it raises on the side-info id first).
    if isinstance(_table_select, int):
        tsel = (_table_select,) * 3
    else:
        tsel = tuple(_table_select)
        if len(tsel) != 3:
            raise ValueError("_table_select tuple must have 3 regions")
        if short_blocks or mixed_blocks or block_type_sequence:
            raise ValueError("per-region _table_select is long-block-only")

    def _enc_for(t: int) -> dict:
        got = HUFFMAN_PAIR_TABLES.get(t, HUFFMAN_PAIR_TABLES[1])["enc"]
        return got or HUFFMAN_PAIR_TABLES[1]["enc"]  # table 0: no codes

    enc_region = tuple(_enc_for(t) for t in tsel)
    # region boundaries as the DECODER computes them from the side
    # info this encoder writes (region0_count=7, region1_count=7)
    _bidx = _long_band_index(sample_rate)
    _r0_end, _r1_end = _bidx[8], _bidx[16]

    def _region_of(line: int) -> int:
        return 0 if line < _r0_end else (1 if line < _r1_end else 2)

    mags = {l: 1 for l in line_set}
    for l, m in (line_magnitudes or {}).items():
        if l not in line_set:
            raise ValueError(f"line_magnitudes line {l} not in lines")
        t = tsel[_region_of(l)]
        xmax = max(x for x, _ in _enc_for(t))
        if not 1 <= int(m) <= xmax:
            raise ValueError(
                f"magnitude {m} exceeds table {t} max {xmax}"
                " (the linbits ESC families 16-31 are unregistered -"
                " mp3_tables.py boundary)"
            )
        mags[l] = int(m)
    c1_set = set(count1_lines)
    if c1_set:
        bv2 = 2 * big_values
        if min(c1_set) < bv2:
            raise ValueError(
                f"count1_lines must sit above the big-value region "
                f"(>= {bv2}); lines occupy it"
            )
        if max(c1_set) > 572:
            raise ValueError("count1_lines are 0..572 (must fit a quad)")
    sf_compress = 9 if scalefacs else 0  # SLEN[9] = (2, 2)
    slen1, slen2 = SLEN[sf_compress]
    sf_vals = dict(scalefacs or {})
    if any(not (0 <= v < 4) or not (0 <= b < 21) for b, v in sf_vals.items()):
        raise ValueError("scalefacs: bands 0..20, values 0..3")

    def put_scalefacs(w: _BitWriter) -> int:
        bits = 0
        for band in range(11):
            w.put(sf_vals.get(band, 0), slen1)
            bits += slen1
        for band in range(11, 21):
            w.put(sf_vals.get(band, 0), slen2)
            bits += slen2
        return bits

    # per-block-type spectral layout: block_type_sequence granules of
    # type 2 remap each long line l to the short-window line at the
    # same frequency (l // 3)
    _layouts: dict[int, tuple[set, int]] = {}

    def layout(bt: int) -> tuple[set, int]:
        got = _layouts.get(bt)
        if got is None:
            if block_type_sequence and bt == 2:
                ls = _short_indices(sorted({l // 3 for l, _ in lines}))
            else:
                ls = line_set
            _layouts[bt] = got = (ls, max(ls) // 2 + 1)
        return got

    def put_granule_payload(
        w: _BitWriter, with_sf: bool, bt: int, ch: int = 0
    ) -> None:
        if intensity_positions is not None and ch == 1:
            # the RIGHT channel of an intensity stream: no spectrum,
            # its 21 "scalefactors" (slen 3/3) carry the positions;
            # unlisted bands default 7 = not intensity-coded
            for band in range(21):
                w.put(int(intensity_positions.get(band, 7)), 3)
            return
        ls, bv = layout(bt)
        if with_sf:
            put_scalefacs(w)
        for p in range(bv):
            x = mags.get(2 * p, 1) if 2 * p in ls else 0
            y = mags.get(2 * p + 1, 1) if 2 * p + 1 in ls else 0
            # region of the pair = region of its first line, exactly
            # as the decoder walks them (windowed shapes pass an int
            # _table_select, so both entries agree there)
            code, hlen = enc_region[_region_of(2 * p)][(x, y)]
            w.put(code, hlen)
            if x:
                w.put(0, 1)  # positive sign
            if y:
                w.put(0, 1)
        if c1_set and bt == 0:
            q = 2 * bv
            top = max(c1_set)
            while q <= top:
                vals = tuple(1 if q + j in c1_set else 0 for j in range(4))
                idx = vals[0] * 8 + vals[1] * 4 + vals[2] * 2 + vals[3]
                if _count1_select == 1:
                    w.put((~idx) & 0xF, 4)
                else:
                    c, hl = COUNT1_A_ENC[idx]
                    w.put(c, hl)
                for v in vals:
                    if v:
                        w.put(0, 1)  # positive sign
                q += 4

    def part23_bits(granule: int, bt: int, ch: int = 0) -> int:
        probe = _BitWriter()
        put_granule_payload(probe, _sf_in_granule(granule), bt, ch)
        return probe.bit_length()

    def _sf_in_granule(granule: int) -> bool:
        if sf_compress == 0:
            return False
        return granule == 0 or not scfsi

    def bt_for(frame: int, granule: int) -> int:
        if block_type_sequence:
            seq = block_type_sequence
            return seq[(2 * frame + granule) % len(seq)]
        return 2 if (short_blocks or mixed_blocks) else 0

    def put_channel_side(
        side: _BitWriter, granule: int, bt: int, ch: int = 0
    ) -> None:
        side.put(part23_bits(granule, bt, ch), 12)
        if intensity_positions is not None and ch == 1:
            side.put(0, 9)    # big_values: empty spectrum
            side.put(gg, 8)
            side.put(13, 4)   # scalefac_compress: SLEN[13] = (3, 3)
            side.put(0, 1)    # long block
            for _r in range(3):
                side.put(1, 5)  # table_select (no data coded)
            side.put(7, 4)    # region0_count
            side.put(7, 3)    # region1_count
            side.put(0, 1)    # preflag
            side.put(0, 1)    # scalefac_scale
            side.put(1, 1)    # count1table_select (unused)
            return
        side.put(layout(bt)[1], 9)  # big_values
        side.put(gg, 8)
        side.put(sf_compress, 4)
        if bt != 0:
            side.put(1, 1)   # window_switching
            side.put(bt, 2)
            side.put(1 if mixed_blocks else 0, 1)  # mixed_block
            side.put(tsel[0], 5)   # table_select region0
            side.put(tsel[1], 5)   # region1
            for sbg in subblock_gain:
                side.put(sbg, 3)
        else:
            side.put(0, 1)   # window_switching 0 (long)
            side.put(tsel[0], 5)   # table_select region0
            side.put(tsel[1], 5)   # region1
            side.put(tsel[2], 5)   # region2
            side.put(7, 4)   # region0_count
            side.put(7, 3)   # region1_count
        side.put(0, 1)   # preflag
        side.put(scalefac_scale & 1, 1)
        side.put(_count1_select & 1, 1)  # count1table_select

    def build_side(f_i: int, mdb: int) -> bytes:
        side = _BitWriter()
        side.put(mdb, 9)                     # main_data_begin
        side.put(0, 5 if channels == 1 else 3)  # private
        scfsi_bits = 0b1111 if (scfsi and sf_compress) else 0
        for _c in range(channels):
            side.put(scfsi_bits, 4)
        for g in range(2):
            for c in range(channels):
                put_channel_side(side, g, bt_for(f_i, g), c)
        out = side.bytes_padded()
        assert len(out) == (17 if channels == 1 else 32)
        return out

    def build_main(f_i: int) -> bytes:
        main = _BitWriter()
        for g in range(2):  # both granules, all channels: same spectrum
            for c in range(channels):
                put_granule_payload(main, _sf_in_granule(g), bt_for(f_i, g), c)
        return main.bytes_padded()

    # header: sync, MPEG-1, Layer III; protection bit 0 = CRC present
    h1 = 0xE0 | (3 << 3) | (1 << 1) | (0 if with_crc else 1)
    h2 = (br_idx << 4) | (sr_idx << 2)
    if intensity_positions is not None:
        mode, mode_ext = 1, 1  # joint stereo, intensity on
    else:
        mode, mode_ext = (3 if channels == 1 else 0), 0
    h3 = (mode << 6) | (mode_ext << 4) | 0x04  # original bit set
    header = bytes([0xFF, h1, h2, h3])
    side_len = 17 if channels == 1 else 32
    crc_len = 2 if with_crc else 0
    # per-frame main-data capacity
    cap = frame_len - 4 - crc_len - side_len

    def frame_prefix(side_bytes: bytes) -> bytes:
        """header (+ CRC over its protected span + the side info)."""
        if not with_crc:
            return header + side_bytes
        crc = _crc16(header[2:4] + side_bytes)
        return header + crc.to_bytes(2, "big") + side_bytes

    if reservoir:
        # BIT-RESERVOIR packing (main_data_begin > 0): each frame's
        # logical main data is placed in the PHYSICAL main-data areas
        # of earlier frames, exactly as real encoders do. The logical
        # stream packs greedily with STUFFING (ancillary zero bytes
        # after each frame's main data) holding the back-pointer at
        # ``reservoir_target`` — unbounded slack would push
        # main_data_begin past its 9-bit ceiling.
        target = min(int(reservoir_target), 511)
        mains = [build_main(f_i) for f_i in range(n_frames)]
        starts, mdbs = [], []
        p = 0  # global write position over the concatenated areas
        for k in range(n_frames):
            area = k * cap
            mdb = area - p
            if mdb < 0:
                raise ValueError(
                    "tone payload exceeds reservoir capacity"
                )
            assert mdb <= 511  # held by the stuffing below
            starts.append(p)
            mdbs.append(mdb)
            p += len(mains[k])
            nxt = (k + 1) * cap
            if p > nxt:
                raise ValueError("tone payload exceeds frame size")
            if nxt - p > target:
                p = nxt - target  # stuffing: pin the next back-pointer
        buf = bytearray(n_frames * cap)
        for k in range(n_frames):
            buf[starts[k]: starts[k] + len(mains[k])] = mains[k]
        return b"".join(
            frame_prefix(build_side(k, mdbs[k]))
            + bytes(buf[k * cap: (k + 1) * cap])
            for k in range(n_frames)
        )

    frames = []
    for f_i in range(n_frames):
        main_bytes = build_main(f_i)
        if len(main_bytes) > cap:
            raise ValueError("tone payload exceeds frame size")
        frame = (
            frame_prefix(build_side(f_i, 0)) + main_bytes
            + bytes(cap - len(main_bytes))
        )
        frames.append(frame)
    return b"".join(frames)


def expected_tone_amplitude(amplitude: float, magnitude: int = 1) -> float:
    """The global_gain-quantized amplitude the integer-magnitude
    coding of :func:`encode_mp3_tones` can actually represent:
    ``|is|^(4/3) · 2^((gg-210)/4)`` with gg from the loudest
    requested line amplitude."""
    gg = min(255, max(0, int(round(210 + 4 * math.log2(max(amplitude, 1e-9))))))
    return magnitude ** (4.0 / 3.0) * 2.0 ** ((gg - 210) / 4.0)


try:  # register by value so Arrow kernels can ship this module
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover - never block import on this
    pass
