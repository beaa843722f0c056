"""MP3 (MPEG-1 Layer III) codec tests — correctness-encoder
roundtrips through the full decode pipeline (side info → reservoir →
Huffman → requantize → IMDCT → synthesis), stream probing, the
registered-Huffman-subset quarantine boundary, and the Spark-side
audio operators consuming MP3 payloads."""

from __future__ import annotations

import numpy as np
import pytest

from trial_submission_studio_spark.operators.mp3 import (
    COUNT1_B_DEC,
    HUFFMAN_PAIR_TABLES,
    SFB_LONG,
    SFB_SHORT,
    _decode_count1,
    _BitReader,
    decode_mp3,
    encode_mp3_tones,
    expected_tone_amplitude,
    mp3_stream_info,
)


def _peak_hz(pcm, rate):
    x = pcm[len(pcm) // 2 :]
    spec = np.abs(np.fft.rfft(x * np.hanning(len(x))))
    return np.argmax(spec) * rate / len(x)


def test_band_tables_cover_the_spectrum_exactly():
    for fs, w in SFB_LONG.items():
        assert sum(w) == 576 and len(w) == 22, fs
    for fs, w in SFB_SHORT.items():
        assert sum(w) == 192 and len(w) == 13, fs


@pytest.mark.parametrize("rate", [44100, 48000, 32000])
@pytest.mark.parametrize("line", [7, 40, 100, 300])
def test_tone_roundtrip_frequency(rate, line):
    """A single spectral line decodes to PCM whose dominant frequency
    is that line's MDCT center (±1 line of spacing fs/1152) — pins
    header parse, side info, Huffman, requantize, IMDCT, frequency
    inversion, and the synthesis bank's band orientation at every
    MPEG-1 sample rate."""
    blob = encode_mp3_tones(rate, lines=((line, 0.5),), n_frames=8)
    got = decode_mp3(blob)
    assert got is not None
    r, ch, pcm = got
    assert r == rate and ch == 1
    assert pcm.shape == (8 * 1152,)
    want = (line + 0.5) * rate / 1152
    assert abs(_peak_hz(pcm, rate) - want) <= rate / 1152


def test_tone_amplitude_tracks_global_gain():
    """Decoded energy scales with the encoder's global_gain: halving
    the requested amplitude (= −4 gg steps) halves the decoded RMS."""
    rms = {}
    for amp in (0.5, 0.25, 0.125):  # <= 0.5 stays clear of the [-1,1] clip
        _, _, pcm = decode_mp3(
            encode_mp3_tones(44100, lines=((60, amp),), n_frames=8)
        )
        x = pcm[len(pcm) // 2 :]
        rms[amp] = float(np.sqrt((x**2).mean()))
    assert rms[0.5] == pytest.approx(2 * rms[0.25], rel=0.05)
    assert rms[0.25] == pytest.approx(2 * rms[0.125], rel=0.05)
    # absolute scale: gg-quantized amplitude, generous filterbank band
    assert rms[0.5] == pytest.approx(expected_tone_amplitude(0.5), rel=0.35)


def test_multi_line_spectrum_and_stereo():
    """Two lines decode as two spectral peaks; stereo (mode 0,
    32-byte side info, two channel blocks per granule) parses and
    mixes to the same tone."""
    lines = ((30, 0.5), (200, 0.5))
    _, _, pcm = decode_mp3(encode_mp3_tones(44100, lines=lines, n_frames=8))
    x = pcm[len(pcm) // 2 :]
    spec = np.abs(np.fft.rfft(x * np.hanning(len(x))))
    f = np.fft.rfftfreq(len(x), 1 / 44100)
    for line, _a in lines:
        want = (line + 0.5) * 44100 / 1152
        win = spec[(f > want - 60) & (f < want + 60)]
        assert win.max() > 0.2 * spec.max()

    blob = encode_mp3_tones(48000, lines=((60, 0.8),), n_frames=6, channels=2)
    r, ch, pcm = decode_mp3(blob)
    assert (r, ch) == (48000, 2)
    want = 60.5 * 48000 / 1152
    assert abs(_peak_hz(pcm, 48000) - want) <= 48000 / 1152


def test_stream_info_walks_frames_and_tags():
    blob = encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=5)
    info = mp3_stream_info(blob)
    assert info == {
        "rate": 44100,
        "channels": 1,
        "n_frames": 5,
        "duration_ms": int(round(1000 * 5 * 1152 / 44100)),
        "vbr": False,
    }
    # ID3v2 prefix (syncsafe size 10) + ID3v1 trailer are skipped
    wrapped = (
        b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
        + blob
        + b"TAG" + b"\x00" * 125
    )
    assert mp3_stream_info(wrapped)["n_frames"] == 5
    assert mp3_stream_info(b"junk" * 30) is None
    assert mp3_stream_info(b"") is None


def test_unregistered_huffman_table_quarantines():
    """Boundary #1 honesty: a frame selecting an absent Huffman
    table (13, or the ESC family 16/24) must raise
    NotImplementedError naming the table — never decode garbage."""
    bad = encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=2, _table_select=13)
    with pytest.raises(NotImplementedError, match="table 13"):
        decode_mp3(bad)
    bad = encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=2, _table_select=19)
    with pytest.raises(NotImplementedError, match="table 19.*table 16"):
        decode_mp3(bad)
    bad = encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=2, _table_select=4)
    with pytest.raises(NotImplementedError, match="table 4 is a reserved"):
        decode_mp3(bad)


def test_count1_table_b_is_involutive():
    """Count1 table B: 16 quadruples, all 4-bit, complement codes —
    decode of every code recovers the value bits."""
    assert len(COUNT1_B_DEC) == 16
    for (hlen, code), (v, w, x, y) in COUNT1_B_DEC.items():
        assert hlen == 4
        n = (v << 3) | (w << 2) | (x << 1) | y
        assert code == (~n) & 0xF


def test_huffman_table1_prefix_free():
    dec = HUFFMAN_PAIR_TABLES[1]["dec"]
    assert len(dec) == 4
    # decoding each code through a BitReader round-trips
    for (hlen, code), (x, y) in dec.items():
        bits = bin(code)[2:].zfill(hlen)
        payload = int(bits + "0" * (16 - len(bits)), 2).to_bytes(2, "big")
        br = _BitReader(payload)
        acc, ln = 0, 0
        while True:
            acc = (acc << 1) | br.read(1)
            ln += 1
            if (ln, acc) in dec:
                assert dec[(ln, acc)] == (x, y)
                break
            assert ln <= 3


def test_corrupt_and_truncated_streams_never_decode_garbage():
    blob = encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=4)
    assert decode_mp3(b"") is None
    assert decode_mp3(b"\x00" * 500) is None
    assert decode_mp3(blob[:100]) is not None  # first frame survives
    # mid-frame truncation: decodes the whole frames, drops the tail
    r, ch, pcm = decode_mp3(blob[: len(blob) // 2 + 7])
    assert pcm.size % 1152 == 0


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    flips=st.lists(
        st.tuples(st.integers(0, 3000), st.integers(0, 7)),
        min_size=1,
        max_size=12,
    ),
    data=st.randoms(),
)
def test_decode_survives_arbitrary_bit_corruption(flips, data):
    """Corruption-robustness property: flipping arbitrary bits in a
    valid stream must yield a decode result, None, or the documented
    NotImplementedError (an unregistered table id appearing under
    corruption) — never any other exception. This is the
    quarantine-path guarantee corpus jobs rely on."""
    blob = bytearray(
        encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=3)
    )
    for pos, bit in flips:
        blob[pos % len(blob)] ^= 1 << bit
    try:
        got = decode_mp3(bytes(blob))
    except NotImplementedError:
        return
    assert got is None or (len(got) == 3 and got[2].ndim == 1)


def test_short_block_roundtrip_and_subblock_gain():
    """Block-type-2 path end to end: window-switching side info,
    short reorder, 3x12-point IMDCT with 6-sample-hop overlap, and
    subblock_gain (2^-2 per step, exact). Short line f maps to
    ~(f+0.5)*fs/384 Hz. This coverage caught a real placement bug:
    short windows overlap by 6 samples (offsets 6/12/18), not 12."""
    for f in (13, 40, 90):
        blob = encode_mp3_tones(
            44100, lines=((f, 0.5),), n_frames=8, short_blocks=True
        )
        _, _, pcm = decode_mp3(blob)
        want = (f + 0.5) * 44100 / 384
        assert abs(_peak_hz(pcm, 44100) - want) <= 44100 / 384, f
    base = decode_mp3(
        encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=8, short_blocks=True)
    )[2]
    gained = decode_mp3(
        encode_mp3_tones(
            44100, lines=((40, 0.5),), n_frames=8,
            short_blocks=True, subblock_gain=(1, 1, 1),
        )
    )[2]
    r = np.sqrt((base[len(base) // 2 :] ** 2).mean()) / np.sqrt(
        (gained[len(gained) // 2 :] ** 2).mean()
    )
    assert r == pytest.approx(4.0, rel=0.01)


def test_scalefactors_and_scfsi_sharing():
    """Long-block scalefactor decode: band value v scales the band by
    2^(-0.5*(1+scalefac_scale)*v) (exact RMS ratios), and scfsi=1111
    makes granule 1 reuse granule 0's scalefactors bit-identically
    while saving its bits."""

    def rms(pcm):
        x = pcm[len(pcm) // 2 :]
        return float(np.sqrt((x**2).mean()))

    base = decode_mp3(encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=8))[2]
    sf2 = decode_mp3(
        encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=8, scalefacs={8: 2})
    )[2]
    sf2s = decode_mp3(
        encode_mp3_tones(
            44100, lines=((40, 0.5),), n_frames=8,
            scalefacs={8: 2}, scalefac_scale=1,
        )
    )[2]
    assert rms(base) / rms(sf2) == pytest.approx(2.0, rel=0.01)
    assert rms(base) / rms(sf2s) == pytest.approx(4.0, rel=0.01)

    explicit = decode_mp3(
        encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=6, scalefacs={8: 1})
    )[2]
    shared = decode_mp3(
        encode_mp3_tones(
            44100, lines=((40, 0.5),), n_frames=6, scalefacs={8: 1}, scfsi=True
        )
    )[2]
    assert np.allclose(explicit, shared)
    assert not np.allclose(explicit, base[: len(explicit)])

    with pytest.raises(ValueError, match="long-block-only"):
        encode_mp3_tones(short_blocks=True, scfsi=True)
    with pytest.raises(ValueError, match="bands 0..20"):
        encode_mp3_tones(scalefacs={25: 1})


def test_mixed_blocks_long_and_short_regions():
    """Mixed block_type-2 granules: low two subbands stay long-coded
    (long-line frequency map), short bands 3..12 carry the rest
    (short-line map); mixed alias reduction is restricted to the
    long-region boundary."""
    m_long = decode_mp3(
        encode_mp3_tones(44100, lines=((20, 0.5),), n_frames=8, mixed_blocks=True)
    )[2]
    want = 20.5 * 44100 / 1152
    assert abs(_peak_hz(m_long, 44100) - want) <= 44100 / 1152
    m_short = decode_mp3(
        encode_mp3_tones(44100, lines=((60, 0.5),), n_frames=8, mixed_blocks=True)
    )[2]
    want = 60.5 * 44100 / 384
    assert abs(_peak_hz(m_short, 44100) - want) <= 44100 / 384
    with pytest.raises(ValueError, match="one of"):
        encode_mp3_tones(short_blocks=True, mixed_blocks=True)


def test_block_type_transition_sequence():
    """long → start → short → stop window cycling across granules:
    the tone survives every transition with a coherent spectrum and
    healthy energy (a wrong transition window would modulate or
    cancel the overlap-add)."""
    pcm = decode_mp3(
        encode_mp3_tones(
            44100, lines=((42, 0.5),), n_frames=8,
            block_type_sequence=(0, 1, 2, 3),
        )
    )[2]
    x = pcm[len(pcm) // 2 :]
    # dominant component near the requested frequency in either the
    # long map or the type-2 granules' short-mapped frequency
    f = _peak_hz(pcm, 44100)
    want_long = 42.5 * 44100 / 1152
    want_short = (42 // 3 + 0.5) * 44100 / 384
    assert min(abs(f - want_long), abs(f - want_short)) <= 44100 / 384
    assert float(np.sqrt((x**2).mean())) > 0.3
    with pytest.raises(ValueError, match="block types"):
        encode_mp3_tones(block_type_sequence=(5,))


# ---------------------------------------------------------------- B.7 registry


def test_b7_registry_validates_and_names_boundary():
    """Every registered Table B.7 table is a complete prefix code
    (the transcription gate), linbits follow the published
    progression, and the absent set is exactly the named one."""
    from trial_submission_studio_spark.operators import mp3_tables as T

    assert sorted(T.PAIR_TABLES) == [1, 2, 3, 5, 6, 7, 8, 9, 12, 15]
    for tid, (hl, hc) in T.PAIR_TABLES.items():
        T.validate_pair_table(hl, hc)  # raises on any corruption
    T.validate_pair_table([T.COUNT1_A[0]], [T.COUNT1_A[1]])
    assert [T.LINBITS[i] for i in range(16, 24)] == [1, 2, 3, 4, 6, 8, 10, 13]
    assert [T.LINBITS[i] for i in range(24, 32)] == [4, 5, 6, 7, 8, 9, 11, 13]
    assert all(T.CODE_ALIASES[i] == 16 for i in range(17, 24))
    assert all(T.CODE_ALIASES[i] == 24 for i in range(25, 32))
    assert T.RESERVED_TABLES == {4, 14}
    assert T.UNVALIDATED_TABLES == {10, 11, 13, 16, 24}
    # table 15 is the full-magnitude big-value table
    assert len(T.PAIR_TABLES[15][0]) == 16


@pytest.mark.parametrize("table", [2, 3, 5, 6, 7, 8, 9, 12, 15])
def test_registered_tables_decode_identically_to_table1(table):
    """The SAME ±1 spectrum coded through each registered table must
    decode to byte-identical PCM — the is[] values are table-
    independent, so any difference is a codeword-table error."""
    tones = ((12, 0.5), (41, 0.5))
    ref = decode_mp3(encode_mp3_tones(44100, lines=tones, n_frames=4))[2]
    got = decode_mp3(
        encode_mp3_tones(44100, lines=tones, n_frames=4, _table_select=table)
    )[2]
    np.testing.assert_array_equal(got, ref)


@pytest.mark.parametrize("mag", [2, 7, 15])
def test_big_value_magnitudes_requantize_pow_4_3(mag):
    """Integer magnitudes through table 15 (the 16x16 big-value
    table): decoded amplitude scales as |is|^(4/3) — pins the
    requantization power law against the unit-magnitude baseline."""
    base = decode_mp3(
        encode_mp3_tones(44100, lines=((40, 0.01),), n_frames=6,
                         _table_select=15)
    )[2]
    scaled = decode_mp3(
        encode_mp3_tones(44100, lines=((40, 0.01),), n_frames=6,
                         _table_select=15, line_magnitudes={40: mag})
    )[2]
    want = mag ** (4.0 / 3.0)
    steady = slice(1152, None)  # skip the synthesis warmup
    ratio = np.sqrt(
        np.mean(scaled[steady] ** 2) / np.mean(base[steady] ** 2)
    )
    assert abs(ratio - want) / want < 1e-6
    assert abs(
        expected_tone_amplitude(0.01, mag) / expected_tone_amplitude(0.01)
        - want
    ) < 1e-12


def test_magnitude_exceeding_table_max_refused():
    with pytest.raises(ValueError, match="exceeds table 1 max 1"):
        encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=1,
                         line_magnitudes={40: 3})
    with pytest.raises(ValueError, match="exceeds table 15 max 15.*16-31"):
        encode_mp3_tones(44100, lines=((40, 0.5),), n_frames=1,
                         _table_select=15, line_magnitudes={40: 16})


def test_count1_region_decodes_with_both_tables():
    """count1 quadruples above the big-value region: the coded lines
    appear in the decoded spectrum, and table A (variable-length)
    produces byte-identical PCM to table B (complement codes) for
    the same values."""
    kw = dict(
        sample_rate=44100, lines=((10, 0.4),), n_frames=6,
        count1_lines=(120, 121, 130),
    )
    rb, chb, pcm_b = decode_mp3(encode_mp3_tones(_count1_select=1, **kw))
    ra, cha, pcm_a = decode_mp3(encode_mp3_tones(_count1_select=0, **kw))
    np.testing.assert_array_equal(pcm_a, pcm_b)
    # the count1 lines really landed: their tone dominates a band-pass
    x = pcm_b[len(pcm_b) // 2 :]
    spec = np.abs(np.fft.rfft(x * np.hanning(len(x))))
    hz_of = lambda line: (line + 0.5) * 44100 / 1152  # noqa: E731
    bin_of = lambda hz: int(round(hz * len(x) / 44100))  # noqa: E731
    for line in (120, 130):
        peak_bin = bin_of(hz_of(line))
        window = spec[max(0, peak_bin - 2): peak_bin + 3]
        assert window.max() > 5 * np.median(spec)
    # placement below the big-value region is refused, not mis-coded
    with pytest.raises(ValueError, match="above the big-value region"):
        encode_mp3_tones(44100, lines=((10, 0.4),), n_frames=1,
                         count1_lines=(4,))


def test_per_region_table_selection_decodes_identically():
    """A 3-tuple _table_select codes each region with its own
    registered table (the mixed-table shape real encoders emit);
    the decoded PCM is identical to single-table coding, and a
    magnitude is validated against ITS region's table max."""
    # lines spanning all three regions (region boundaries at the
    # 44100 band index: band_idx[8]=46, band_idx[16]=162)
    tones = ((12, 0.01), (80, 0.01), (300, 0.01))
    ref = decode_mp3(
        encode_mp3_tones(44100, lines=tones, n_frames=4, _table_select=15)
    )[2]
    mixed = decode_mp3(
        encode_mp3_tones(
            44100, lines=tones, n_frames=4, _table_select=(7, 9, 15)
        )
    )[2]
    np.testing.assert_array_equal(mixed, ref)
    # magnitudes validate per region: 7 in region0 (table 7, max 5)
    # is fine; 7 in region1 against table 6 (max 3) is refused
    decode_mp3(
        encode_mp3_tones(
            44100, lines=tones, n_frames=1,
            _table_select=(7, 9, 15), line_magnitudes={12: 5},
        )
    )
    with pytest.raises(ValueError, match="exceeds table 6 max 3"):
        encode_mp3_tones(
            44100, lines=tones, n_frames=1,
            _table_select=(7, 6, 15), line_magnitudes={80: 7},
        )
    # a mixed tuple with ONE unregistered region quarantines by name
    bad = encode_mp3_tones(
        44100, lines=tones, n_frames=1, _table_select=(1, 13, 15)
    )
    with pytest.raises(NotImplementedError, match="table 13"):
        decode_mp3(bad)


def test_bit_reservoir_stream_decodes_identically():
    """reservoir=True produces frames whose main data lives in
    EARLIER frames' areas (nonzero main_data_begin back-pointers,
    stuffing-pinned) — the decoder's reservoir path reconstructs
    byte-identical PCM to the unpacked stream, for plain tones and
    for the full magnitude/count1/multi-table shape."""
    from trial_submission_studio_spark.operators.mp3 import (
        _parse_header,
        _parse_side_info,
    )

    kw = dict(sample_rate=44100, lines=((40, 0.3), (200, 0.2)), n_frames=6)
    plain = encode_mp3_tones(**kw)
    packed = encode_mp3_tones(reservoir=True, **kw)
    assert len(plain) == len(packed)  # same framing, different packing
    # the back-pointers are really nonzero from frame 1 on
    mdbs = []
    i = 0
    while i < len(packed):
        h = _parse_header(packed, i)
        mdb, _, _ = _parse_side_info(packed[i + 4: i + 4 + 17], 1)
        mdbs.append(mdb)
        i += h["frame_len"]
    assert mdbs[0] == 0 and all(m > 0 for m in mdbs[1:]), mdbs
    assert all(m <= 511 for m in mdbs)
    r1, c1, pcm_plain = decode_mp3(plain)
    r2, c2, pcm_packed = decode_mp3(packed)
    np.testing.assert_array_equal(pcm_packed, pcm_plain)

    # the rich shape through the reservoir too
    kw2 = dict(
        sample_rate=48000, lines=((12, 0.01), (80, 0.01), (300, 0.01)),
        n_frames=5, _table_select=(7, 9, 15),
        line_magnitudes={12: 5, 80: 4}, count1_lines=(340, 344),
    )
    a = decode_mp3(encode_mp3_tones(**kw2))[2]
    b = decode_mp3(encode_mp3_tones(reservoir=True, **kw2))[2]
    np.testing.assert_array_equal(b, a)


def test_reservoir_truncation_skips_underflow_frames():
    """Cutting the stream mid-reservoir: a frame whose back-pointer
    reaches data the decoder never saw (stream resync mid-file) is
    skipped, never mis-decoded — drop the first frame and the walk
    resumes cleanly."""
    blob = encode_mp3_tones(
        44100, lines=((40, 0.3),), n_frames=6, reservoir=True
    )
    from trial_submission_studio_spark.operators.mp3 import _parse_header

    h = _parse_header(blob, 0)
    got = decode_mp3(blob[h["frame_len"]:])
    assert got is not None
    r, ch, pcm = got
    assert pcm.size % 1152 == 0 and pcm.size < 6 * 1152


def test_intensity_stereo_pans_by_position():
    """Intensity stereo (mode_ext 01): the right channel's
    scalefactor slots carry positions; the decoder pans the left
    channel's band energy by tan(pos*pi/12). pos 0 -> all right,
    6 -> all left, 3 -> equal split, 7 -> band not intensity-coded
    (left stays, right silent). Amplitude is CONSERVED: L+R equals
    the coded line for every position."""
    def stereo(positions):
        blob = encode_mp3_tones(
            44100, lines=((40, 0.3),), n_frames=6, channels=2,
            intensity_positions=positions,
        )
        r, ch, pcm = decode_mp3(blob, mix=False)
        assert (r, ch) == (44100, 2)
        x = pcm[pcm.shape[0] // 2:]
        return (
            float(np.sqrt((x[:, 0] ** 2).mean())),
            float(np.sqrt((x[:, 1] ** 2).mean())),
        )

    # line 40 sits in long band 8 at 44100 (band_idx [36, 44))
    l_off, r_off = stereo({8: 7})     # not intensity-coded
    assert l_off > 0.05 and r_off < 1e-9
    l0, r0 = stereo({8: 0})           # all right
    assert l0 < 1e-9 and abs(r0 - l_off) / l_off < 1e-6
    l6, r6 = stereo({8: 6})           # all left
    assert r6 < 1e-12 * max(l6, 1) or r6 < 1e-9
    assert abs(l6 - l_off) / l_off < 1e-6
    l3, r3 = stereo({8: 3})           # equal split
    assert abs(l3 - r3) / l3 < 1e-9
    assert abs((l3 + r3) - l_off) / l_off < 1e-6  # amplitude conserved
    # the mono MIX is position-independent (L+R conserved)
    mono_a = decode_mp3(
        encode_mp3_tones(44100, lines=((40, 0.3),), n_frames=6,
                         channels=2, intensity_positions={8: 2})
    )[2]
    mono_b = decode_mp3(
        encode_mp3_tones(44100, lines=((40, 0.3),), n_frames=6,
                         channels=2, intensity_positions={8: 5})
    )[2]
    np.testing.assert_allclose(mono_a, mono_b, atol=1e-12)


def test_intensity_encoder_validation():
    with pytest.raises(ValueError, match="channels=2"):
        encode_mp3_tones(44100, lines=((40, 0.3),), n_frames=1,
                         intensity_positions={8: 3})
    with pytest.raises(ValueError, match="bands 0..20"):
        encode_mp3_tones(44100, lines=((40, 0.3),), n_frames=1,
                         channels=2, intensity_positions={8: 9})
    with pytest.raises(ValueError, match="long-block-only"):
        encode_mp3_tones(44100, lines=((40, 0.3),), n_frames=1,
                         channels=2, short_blocks=True,
                         intensity_positions={8: 3})


def test_intensity_band21_reuses_band20_position():
    """Band 21 transmits no scalefactor; its intensity position is
    band 20's (the standard decoder rule) — a line in the top band
    pans by the position written for band 20."""
    # line 500 sits in band 21 at 44100 (band_idx [418, 576))
    blob = encode_mp3_tones(
        44100, lines=((500, 0.2),), n_frames=6, channels=2,
        intensity_positions={20: 0},  # all right, inherited by band 21
    )
    _, _, pcm = decode_mp3(blob, mix=False)
    x = pcm[pcm.shape[0] // 2:]
    l = float(np.sqrt((x[:, 0] ** 2).mean()))
    r = float(np.sqrt((x[:, 1] ** 2).mean()))
    assert l < 1e-9 and r > 0.01


def test_crc_protected_frames_validate_and_skip_corruption():
    """Protected frames (protection bit 0): the decoder validates the
    CRC-16 (poly 0x8005, init 0xFFFF, over header bytes 2-3 + side
    info) before trusting the side info — a valid CRC stream decodes
    byte-identically to its unprotected twin; a frame with corrupted
    side info is SKIPPED (the stream survives), never decoded as
    garbage."""
    kw = dict(sample_rate=44100, lines=((40, 0.3),), n_frames=6)
    plain = encode_mp3_tones(**kw)
    prot = encode_mp3_tones(with_crc=True, **kw)
    assert len(prot) == len(plain)  # same frame_len, smaller cap
    r, ch, a = decode_mp3(plain)
    _, _, b = decode_mp3(prot)
    np.testing.assert_array_equal(b, a)

    from trial_submission_studio_spark.operators.mp3 import _parse_header

    h = _parse_header(prot, 0)
    flen = h["frame_len"]
    # corrupt one side-info byte of frame 2: its CRC no longer
    # matches -> that frame is skipped, the rest still decode
    bad = bytearray(prot)
    bad[2 * flen + 9] ^= 0xFF
    got = decode_mp3(bytes(bad))
    assert got is not None
    _, _, pcm = got
    assert pcm.size == 5 * 1152  # 6 frames - 1 skipped
    # corrupting the CRC FIELD itself also just skips the frame
    bad2 = bytearray(prot)
    bad2[3 * flen + 4] ^= 0x55
    assert decode_mp3(bytes(bad2))[2].size == 5 * 1152
    # CRC frames compose with the reservoir
    pr = encode_mp3_tones(with_crc=True, reservoir=True, **kw)
    np.testing.assert_array_equal(decode_mp3(pr)[2], a)
