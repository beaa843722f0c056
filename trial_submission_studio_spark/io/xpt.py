"""SAS Transport (XPT) V5 writer — K1 (SURVEY.md §2.1).

A from-scratch implementation of the public SAS Technical Note TS-140
transport format (no third-party xport lib in this environment):
80-byte header records, 140-byte NAMESTR variable descriptors, fixed
record layout, and IBM System/360 hexadecimal floating point for
numerics.

Reference behavior reproduced (tss-submit/src/export/xpt.rs:16-145,
export/common.rs:83-119): Char variables are written at their max
observed trimmed length (floor 1, cap 200), Num variables as 8-byte
floats; variable labels and the dataset label are carried; missing
numeric = '.' (0x2E padded), missing char = blanks.

Spark-side: the caller computes lengths with a distributed aggregate
(:func:`~trial_submission_studio_spark.operators.profiling.max_observed_length`);
:func:`write_xpt` collects the projected member once through Arrow
(``DataFrame.toArrow``) and encodes it on the driver, record batch by
record batch in frame order. XPT is a single sequential file, and the
driver holds one member at a time, as the reference holds the whole
study in memory.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame


@dataclass
class XptVariable:
    name: str  # <= 8 chars, upper
    label: str = ""
    is_numeric: bool = False
    length: int = 8  # char length (num is always 8)


_PAD80 = b" "


def _rec(text: str) -> bytes:
    """One 80-byte header record."""
    b = text.encode("ascii")
    return b + _PAD80 * (80 - len(b))


def _header(kind: str, tail: str = "0" * 30) -> bytes:
    return _rec(f"HEADER RECORD*******{kind:<7} HEADER RECORD!!!!!!!{tail}")


_TS = "13AUG26:00:00:00"  # fixed timestamp => byte-stable golden files

# IBM hex float: mantissa in [1/16, 1), 7-bit excess-64 exponent of 16
_IBM_MIN = 16.0**-65  # smallest normalized magnitude; below it writes zero
_IBM_MAX = 16.0**63  # first magnitude the exponent cannot carry


class XptEncodingError(ValueError):
    """A value XPT cannot carry: non-ASCII characters in a char
    variable, or a number outside the IBM float range."""


def ibm_float(value: float | None) -> bytes:
    """IEEE double → 8-byte IBM System/360 float (big-endian).

    Missing (None/NaN) is SAS '.': 0x2E followed by 7 zero bytes.
    Magnitudes below 16**-65 write IBM zero; ±inf and magnitudes from
    16**63 up raise :class:`XptEncodingError`.
    """
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return b"\x2e" + b"\x00" * 7
    x = float(value)
    if abs(x) >= _IBM_MAX:
        raise XptEncodingError(f"{x!r} is outside the IBM float range (|x| < 16**63)")
    if abs(x) < _IBM_MIN:
        return b"\x00" * 8
    sign = 0x80 if x < 0 else 0x00
    x = abs(x)
    # x = mantissa * 16^exp with mantissa in [1/16, 1)
    exp = math.floor(math.log(x, 16)) + 1
    mant = x / (16.0**exp)
    # guard rounding at the boundary
    if mant >= 1.0:
        mant /= 16.0
        exp += 1
    elif mant < 1.0 / 16.0:
        mant *= 16.0
        exp -= 1
    mant_bits = int(mant * (1 << 56))
    if mant_bits >= 1 << 56:
        mant_bits >>= 4
        exp += 1
    return bytes([sign | (exp + 64)]) + mant_bits.to_bytes(7, "big")


def ibm_to_ieee(b: bytes) -> float | None:
    """Inverse of :func:`ibm_float` (used by tests)."""
    if b[0:1] == b"\x2e" and b[1:] == b"\x00" * 7:
        return None
    if b == b"\x00" * 8:
        return 0.0
    sign = -1.0 if b[0] & 0x80 else 1.0
    exp = (b[0] & 0x7F) - 64
    mant = int.from_bytes(b[1:], "big") / float(1 << 56)
    return sign * mant * (16.0**exp)


def _check_ibm_range(name: str, x: np.ndarray) -> None:
    """Raise :class:`XptEncodingError` when ``x`` holds ±inf or a
    magnitude from 16**63 up (NaN compares False: it is missing)."""
    big = np.abs(x) >= _IBM_MAX
    if big.any():
        raise XptEncodingError(
            f"{name!r} has {int(big.sum())} value(s) outside the IBM float "
            f"range (|x| < 16**63), e.g. {float(x[big][0])!r}"
        )


def _ibm_bytes(x: np.ndarray, name: str) -> np.ndarray:
    """Vectorized :func:`ibm_float` over a float64 array → an ``(n, 8)``
    uint8 matrix, bit-identical row by row; ``name`` labels the error."""
    _check_ibm_range(name, x)
    out = np.zeros((len(x), 8), dtype=np.uint8)
    out[np.isnan(x), 0] = 0x2E
    ok = np.abs(x) >= _IBM_MIN  # NaN, zero and underflow stay as set
    if ok.any():
        v = x[ok]
        sign = np.where(v < 0, 0x80, 0x00).astype(np.uint64)
        a = np.abs(v)
        # a = m * 2^e with m in [0.5, 1); 16^exp scaling done with
        # exact power-of-two ldexp, then boundary-corrected — the
        # same adjustment ladder as the scalar ibm_float()
        _, e = np.frexp(a)
        exp = np.ceil(e / 4.0).astype(np.int64)
        mant = np.ldexp(a, -4 * exp)
        hi = mant >= 1.0
        exp[hi] += 1
        mant[hi] /= 16.0
        lo = mant < (1.0 / 16.0)
        exp[lo] -= 1
        mant[lo] *= 16.0
        mant_bits = (mant * float(1 << 56)).astype(np.uint64)
        over = mant_bits >= (1 << 56)
        mant_bits[over] >>= 4
        exp[over] += 1
        word = ((sign | (exp + 64).astype(np.uint64)) << np.uint64(56)) | mant_bits
        out[ok] = (
            word[:, None] >> (np.uint64(56) - np.uint64(8) * np.arange(8, dtype=np.uint64))
        ).astype(np.uint8)
    return out


def _char_bytes(col: pa.Array, width: int) -> np.ndarray:
    """A string column → its ``(n, width)`` fixed-width ASCII byte matrix:
    null → blanks, cut at ``width`` code points, each non-ASCII code
    point → '?', blank-padded. Every value is then exactly ``width``
    bytes, so the fixed-size-binary value buffer IS the matrix."""
    s = pc.utf8_slice_codeunits(pc.fill_null(col, ""), 0, width)
    s = pc.utf8_rpad(pc.replace_substring_regex(s, r"[^\x00-\x7F]", "?"), width)
    fixed = s.cast(pa.binary(width))
    return np.frombuffer(
        fixed.buffers()[1], dtype=np.uint8, count=len(fixed) * width,
        offset=fixed.offset * width,
    ).reshape(len(fixed), width)


def _namestr(v: XptVariable, number: int, position: int, version: int = 5) -> bytes:
    """140-byte NAMESTR descriptor.

    V5: trailing 52 bytes are padding. V8 (TS-140_2): the same layout,
    with the 32-char long variable name at bytes 88-119 and the label
    length (short) at bytes 120-121 — names up to 32 chars survive
    (the 8-char ``nname`` then carries a truncated short name).
    """
    ntype = 1 if v.is_numeric else 2
    length = 8 if v.is_numeric else max(1, min(v.length, 200))
    name = v.name.upper()[:8] if version == 5 else v.name.upper()[:32][:8]
    label = (v.label or "")[:40]
    if version == 8:
        longname = v.name.upper()[:32].encode("ascii").ljust(32)
        tail = longname + struct.pack(">h", len(label)) + b"".ljust(18)
    else:
        tail = b"".ljust(52)
    return struct.pack(
        ">hhhh8s40s8shhh2s8sll52s",
        ntype,  # nhfun/ntype
        0,  # nhash
        length,  # nlng
        number,  # nvar0
        name.encode("ascii").ljust(8),
        label.encode("ascii", "replace").ljust(40),
        b"".ljust(8),  # nform
        0,  # nfl
        0,  # nfd
        0,  # nfj (left just)
        b"  ",  # nfill
        b"".ljust(8),  # niform
        0,  # nifl
        position,  # npos
        tail,
    )


def read_xpt(spark, path: str):
    """Read a SAS Transport V5/V8 file → DataFrame (the reverse of
    :func:`write_xpt`; the reference ingests CSV only, so XPT IMPORT
    is a beyond-reference capability — users with existing transport
    members can load them directly).

    The 80-byte header cards and NAMESTR table parse on the driver
    (schema-sized); the OBS records decode once as a numpy byte matrix
    — fixed-width slicing, vectorized IBM→IEEE for numerics — into one
    Arrow table and one DataFrame. Regulatory practice caps member
    size (FDA ~5 GB), so a driver-side read is the right shape; huge
    archives split across members, which read independently.

    Char columns: trailing blanks strip; all-blank cells → NULL
    (matching the CSV ingest discipline). Numeric missing ('.') → NULL.
    """
    with open(path, "rb") as fh:
        blob = fh.read()

    def find(marker: bytes) -> int:
        i = blob.find(marker)
        if i < 0:
            raise ValueError(f"not an XPT file (missing {marker!r}): {path}")
        return i

    nam_i = blob.find(b"HEADER RECORD*******NAMESTR")
    if nam_i < 0:
        nam_i = find(b"HEADER RECORD*******NAMSTV8")
    nam_card = blob[nam_i : nam_i + 80].decode("ascii")
    n_vars = int(nam_card[54:58])
    nam_start = nam_i + 80
    obs_i = blob.find(b"HEADER RECORD*******OBS ", nam_start)
    if obs_i < 0:
        obs_i = blob.find(b"HEADER RECORD*******OBSV8", nam_start)
    if obs_i < 0:
        raise ValueError(f"no OBS header in {path}")

    variables: list[XptVariable] = []
    positions: list[int] = []
    for k in range(n_vars):
        ns = blob[nam_start + k * 140 : nam_start + (k + 1) * 140]
        ntype, _nhash, nlng, _nvar0 = struct.unpack(">hhhh", ns[0:8])
        short_name = ns[8:16].decode("ascii").strip()
        label = ns[16:56].decode("ascii").strip()
        npos = struct.unpack(">l", ns[84:88])[0]
        long_name = ns[88:120].decode("ascii", "replace").strip()
        name = long_name if long_name and long_name.isprintable() else short_name
        variables.append(
            XptVariable(name or short_name, label, ntype == 1, nlng)
        )
        positions.append(npos)
    row_len = max(
        p + (8 if v.is_numeric else v.length) for p, v in zip(positions, variables)
    )

    payload = blob[obs_i + 80 :]
    n_rows = len(payload) // row_len
    # trailing pad: blanks after the last full record
    while n_rows and payload[(n_rows - 1) * row_len : n_rows * row_len] == b" " * row_len:
        n_rows -= 1

    m = np.frombuffer(payload, dtype=np.uint8, count=n_rows * row_len).reshape(
        n_rows, row_len
    )
    cols = {}
    for v, pos in zip(variables, positions):
        if v.is_numeric:
            b = m[:, pos : pos + 8]
            word = np.zeros(n_rows, dtype=np.uint64)
            for j in range(8):
                word = (word << np.uint64(8)) | b[:, j].astype(np.uint64)
            sign = np.where(b[:, 0] & 0x80, -1.0, 1.0)
            exp = (b[:, 0] & 0x7F).astype(np.int64) - 64
            mant = (word & np.uint64((1 << 56) - 1)).astype(np.float64) / float(1 << 56)
            vals = sign * mant * np.power(16.0, exp.astype(np.float64))
            missing = (b[:, 0] == 0x2E) & (b[:, 1:] == 0).all(axis=1)
            cols[v.name] = pa.array(vals, pa.float64(), mask=missing)  # '.' → NULL
        else:
            w = v.length
            raw = m[:, pos : pos + w].tobytes()
            cols[v.name] = pa.array(
                [raw[i * w : (i + 1) * w].decode("ascii", "replace").rstrip() or None
                 for i in range(n_rows)],
                pa.string(),
            )
    fields = ", ".join(
        f"`{v.name}` {'double' if v.is_numeric else 'string'}" for v in variables
    )
    return spark.createDataFrame(pa.table(cols), schema=fields)


def write_xpt(
    df: DataFrame,
    path: str,
    variables: list[XptVariable],
    dataset_name: str,
    dataset_label: str = "",
    version: int = 5,
    on_non_ascii: str = "error",
    issue_sink: list | None = None,
) -> int:
    """Write an XPT V5/V8 file; returns the row count written.

    ``df`` must contain exactly the variable columns (order matters).
    The projected member is collected once with ``toArrow()`` before
    the file is opened, audited, then encoded record batch by record
    batch in frame order. The driver holds the whole member: one
    larger than ``spark.driver.maxResultSize`` fails at that collect,
    before the file exists.

    XPT is ASCII-bound. ``on_non_ascii`` controls the policy for
    values outside ASCII (the reference errors/warns; silent '?'
    substitution corrupts data without a trace):

    - ``"error"`` (default): raise :class:`XptEncodingError` naming
      the variable and value; no file is written.
    - ``"issue"``: substitute '?' but append
      ``(variable, value)`` tuples to ``issue_sink`` (the first 3
      sorted values per variable, bounded at 100) so the caller can
      emit validation issues.

    A numeric value outside the IBM float range (±inf, |x| ≥ 16**63)
    raises :class:`XptEncodingError` before the file is opened; a
    magnitude below 16**-65 writes IBM zero.

    ``version=8`` writes the TS-140_2 V8 variant: V8 header markers
    (LIBV8/MEMBV8/DSCPTV8/NAMSTV8/OBSV8) and 32-char long variable
    names in the NAMESTR tail.
    """
    if version not in (5, 8):
        raise ValueError("version must be 5 or 8")
    if on_non_ascii not in ("error", "issue"):
        raise ValueError("on_non_ascii must be error|issue")
    lengths = [8 if v.is_numeric else max(1, min(v.length, 200)) for v in variables]
    positions: list[int] = []
    pos = 0
    for ln in lengths:
        positions.append(pos)
        pos += ln
    row_len = pos

    from pyspark.sql import functions as F

    # case-insensitive resolution, matching Spark's own analyzer —
    # a case-sensitive check here silently wrote an all-missing
    # column for a frame column differing only in case
    present = {c.upper(): c for c in df.columns}
    proj = []
    for v in variables:
        c = F.col(present[v.name.upper()]) if v.name.upper() in present else F.lit(None)
        proj.append(c.cast("double" if v.is_numeric else "string").alias(v.name))
    table = df.select(*proj).toArrow()

    # audit the whole member before any byte is written
    bad: dict[str, tuple[int, list[str]]] = {}
    for v, col in zip(variables, table.columns):
        if v.is_numeric:
            _check_ibm_range(v.name, col.to_numpy(zero_copy_only=False))
            continue
        mask = pc.invert(pc.string_is_ascii(col))
        n_bad = pc.sum(mask).as_py() or 0
        if n_bad:
            bad[v.name] = (n_bad, sorted(pc.unique(pc.filter(col, mask)).to_pylist())[:3])
    if bad and on_non_ascii == "error":
        name, (n_bad, samples) = next(iter(bad.items()))
        raise XptEncodingError(
            f"non-ASCII value(s) in {name!r} ({n_bad} rows, e.g. {samples}): "
            "XPT payloads are ASCII; transliterate upstream or pass "
            "on_non_ascii='issue'"
        )
    if issue_sink is not None:
        for name, (_n, samples) in bad.items():
            for s in samples:
                if len(issue_sink) >= 100:
                    break
                issue_sink.append((name, s))

    lib_kind, mem_kind, dsc_kind, nam_kind, obs_kind = (
        ("LIBRARY", "MEMBER", "DSCRPTR", "NAMESTR", "OBS")
        if version == 5
        else ("LIBV8", "MEMBV8", "DSCPTV8", "NAMSTV8", "OBSV8")
    )
    sas_sym = "SAS     "

    with open(path, "wb") as fh:
        fh.write(_header(lib_kind))
        fh.write(
            _rec(f"{sas_sym}{sas_sym}SASLIB  6.06    bsd4.2                          {_TS}")
        )
        fh.write(_rec(_TS))
        # TS-140: MEMBER header carries the descriptor sizes (160/140)
        fh.write(_header(mem_kind, "000000000000000001600000000140"))
        fh.write(_header(dsc_kind))
        fh.write(
            _rec(
                # TS-140: OS name field + blanks pad to col 64 so the
                # 16-char created datetime occupies cols 65-80 (same
                # layout as the LIBRARY real-header record above).
                f"SAS     {dataset_name.upper()[:8]:<8}SASDATA 6.06    bsd4.2"
                + " " * 26
                + _TS
            )
        )
        fh.write(_rec(f"{_TS}{'':16}{dataset_label[:40]:<40}{'':8}"))
        # namestr count goes in cols 55-58 of the header record
        fh.write(
            _rec(
                f"HEADER RECORD*******{nam_kind:<7} HEADER RECORD!!!!!!!"
                f"000000{len(variables):04d}00000000000000000000"
            )
        )
        for i, v in enumerate(variables):
            fh.write(_namestr(v, i + 1, positions[i], version))
        pad = (-len(variables) * 140) % 80
        fh.write(b" " * pad)
        fh.write(_header(obs_kind))

        for batch in table.to_batches():
            if batch.num_rows:
                fh.write(np.hstack([
                    _ibm_bytes(col.to_numpy(zero_copy_only=False), v.name)
                    if v.is_numeric else _char_bytes(col, ln)
                    for v, ln, col in zip(variables, lengths, batch.columns)
                ]).tobytes())  # row-major == rows concatenated
        # pad the final record block to 80 bytes with ASCII blanks
        fh.write(b" " * ((-table.num_rows * row_len) % 80))
    return table.num_rows
