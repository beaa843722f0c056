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
(:func:`~trial_submission_studio_spark.operators.profiling.max_observed_length`)
and streams partitions to the single sequential file via
``toLocalIterator`` — XPT is inherently a single-file format, so the
driver only ever holds one partition.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

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


def ibm_float(value: float | None) -> bytes:
    """IEEE double → 8-byte IBM System/360 float (big-endian).

    Missing is SAS '.': 0x2E followed by 7 zero bytes.
    """
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return b"\x2e" + b"\x00" * 7
    x = float(value)
    if x == 0.0:
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


class XptEncodingError(ValueError):
    """A value contains characters XPT's ASCII payload cannot carry."""


def read_xpt(spark, path: str, blank_as_null: bool = True, batch_rows: int = 100_000):
    """Read a SAS Transport V5/V8 file → DataFrame (the reverse of
    :func:`write_xpt`; the reference ingests CSV only, so XPT IMPORT
    is a beyond-reference capability — users with existing transport
    members can load them directly).

    The 80-byte header cards and NAMESTR table parse on the driver
    (schema-sized); OBS records decode in numpy batches — fixed-width
    byte matrix slicing, vectorized IBM→IEEE for numerics — and each
    batch becomes an Arrow-backed partition. Regulatory practice caps
    member size (FDA ~5 GB), so a driver-streamed read is the right
    shape; huge archives split across members, which read
    independently.

    Char columns: trailing blanks strip; all-blank cells → NULL when
    ``blank_as_null`` (matching the CSV ingest discipline). Numeric
    missing ('.') → NULL.
    """
    import numpy as np
    import pandas as pd

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

    fields = ", ".join(
        f"`{v.name}` {'double' if v.is_numeric else 'string'}" for v in variables
    )
    empty = spark.createDataFrame([], fields)
    if n_rows == 0:
        return empty

    def decode_batch(lo: int, hi: int) -> pd.DataFrame:
        m = np.frombuffer(
            payload, dtype=np.uint8, count=(hi - lo) * row_len, offset=lo * row_len
        ).reshape(hi - lo, row_len)
        cols = {}
        for v, pos in zip(variables, positions):
            if v.is_numeric:
                b = m[:, pos : pos + 8]
                word = np.zeros(len(b), dtype=np.uint64)
                for j in range(8):
                    word = (word << np.uint64(8)) | b[:, j].astype(np.uint64)
                sign = np.where(b[:, 0] & 0x80, -1.0, 1.0)
                exp = (b[:, 0] & 0x7F).astype(np.int64) - 64
                mant = (word & np.uint64((1 << 56) - 1)).astype(np.float64) / float(
                    1 << 56
                )
                vals = sign * mant * np.power(16.0, exp.astype(np.float64))
                missing = (b[:, 0] == 0x2E) & (b[:, 1:] == 0).all(axis=1)
                arr = pd.array(vals, dtype="Float64")
                arr[missing] = pd.NA  # SAS '.' → NULL, not NaN
                cols[v.name] = arr
            else:
                w = v.length
                raw = m[:, pos : pos + w].tobytes()
                s = pd.Series(
                    [raw[i * w : (i + 1) * w].decode("ascii", "replace").rstrip()
                     for i in range(hi - lo)]
                )
                if blank_as_null:
                    s = s.where(s != "", other=None)
                cols[v.name] = s
        return pd.DataFrame(cols)

    out = None
    for lo in range(0, n_rows, batch_rows):
        part = spark.createDataFrame(
            decode_batch(lo, min(lo + batch_rows, n_rows)), schema=fields
        )
        out = part if out is None else out.unionByName(part)
    return out


def _payload_kernel(specs: list[tuple[str, bool, int]], audit_chars: bool = False):
    """mapInPandas kernel factory: a record batch → ONE binary blob of
    fixed-width OBS bytes (numpy-vectorized IBM-float + char packing).

    ``audit_chars``: also scan every char column of the batch for
    non-ASCII values and emit (name, count, first-3-sorted samples)
    beside the blob — encode+audit in ONE pass over the data (the
    r2 shape paid a second full aggregation scan; VERDICT r2 #8).
    Per-batch sorted first-3 samples merge on the driver into the
    exact global first-3 (each global minimum is also a minimum of
    its own batch).

    Closure-local only (cloudpickle serializes by value; a module-level
    reference would break when the hosting app's cwd isn't the repo).
    """

    def gen(iterator):
        import numpy as np
        import pandas as pd

        def ibm_bytes(col: "pd.Series") -> "np.ndarray":
            x = col.astype("float64").to_numpy(copy=True)
            n = len(x)
            out = np.zeros((n, 8), dtype=np.uint8)
            miss = ~np.isfinite(x)
            out[miss, 0] = 0x2E
            ok = ~miss & (x != 0.0)
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
                word = (
                    ((sign | (exp + 64).astype(np.uint64)) << np.uint64(56))
                    | mant_bits
                )
                out[ok] = (
                    word[:, None] >> (np.uint64(56) - np.uint64(8) * np.arange(8, dtype=np.uint64))
                ).astype(np.uint8)
            return out

        def char_bytes(col: "pd.Series", width: int) -> "np.ndarray":
            # NOTE (r16): a "vectorized" U-dtype/UTF-32 rewrite of
            # this loop measured 10x SLOWER than the join (the
            # object->U conversion is per-element and far costlier
            # than C-loop str.encode); the per-row encode stays.
            s = col.fillna("").astype(str).str.slice(0, width).str.ljust(width)
            joined = b"".join(v.encode("ascii", "replace") for v in s)
            return np.frombuffer(joined, dtype=np.uint8).reshape(len(s), width)

        for pdf in iterator:
            if len(pdf) == 0:
                continue
            cols = [
                ibm_bytes(pdf[name]) if is_num else char_bytes(pdf[name], ln)
                for name, is_num, ln in specs
            ]
            blob = np.hstack(cols).tobytes()  # row-major == rows concatenated
            bad = []
            if audit_chars:
                for name, is_num, _ln in specs:
                    if is_num:
                        continue
                    s = pdf[name].astype("string")
                    mask = s.str.contains(r"[^\x00-\x7F]", regex=True, na=False)
                    n_bad = int(mask.sum())
                    if n_bad:
                        samples = sorted(s[mask].dropna().unique())[:3]
                        bad.append(
                            {"name": name, "n": n_bad, "samples": list(samples)}
                        )
            yield pd.DataFrame({"xpt_bytes": [blob], "bad": [bad]})

    return gen


def write_xpt(
    df: DataFrame,
    path: str,
    variables: list[XptVariable],
    dataset_name: str,
    dataset_label: str = "",
    sas_version: str = "9.4",
    version: int = 5,
    on_non_ascii: str = "error",
    issue_sink: list | None = None,
) -> int:
    """Write an XPT V5/V8 file; returns the row count written.

    ``df`` must contain exactly the variable columns (order matters).
    Rows stream through ``toLocalIterator`` — one executor partition
    on the driver at a time.

    XPT is ASCII-bound. ``on_non_ascii`` controls the policy for
    values outside ASCII (the reference errors/warns; silent '?'
    substitution corrupts data without a trace):

    - ``"error"`` (default): raise :class:`XptEncodingError` naming
      the variable and value.
    - ``"issue"``: substitute '?' but append
      ``(variable, value)`` tuples to ``issue_sink`` (bounded at 100)
      so the caller can emit validation issues.
    - ``"replace"``: legacy silent substitution.

    ``version=8`` writes the TS-140_2 V8 variant: V8 header markers
    (LIBV8/MEMBV8/DSCPTV8/NAMSTV8/OBSV8) and 32-char long variable
    names in the NAMESTR tail.
    """
    if version not in (5, 8):
        raise ValueError("version must be 5 or 8")
    if on_non_ascii not in ("error", "issue", "replace"):
        raise ValueError("on_non_ascii must be error|issue|replace")
    lengths = [8 if v.is_numeric else max(1, min(v.length, 200)) for v in variables]
    positions: list[int] = []
    pos = 0
    for ln in lengths:
        positions.append(pos)
        pos += ln
    row_len = pos

    lib_kind, mem_kind, dsc_kind, nam_kind, obs_kind = (
        ("LIBRARY", "MEMBER", "DSCRPTR", "NAMESTR", "OBS")
        if version == 5
        else ("LIBV8", "MEMBV8", "DSCPTV8", "NAMSTV8", "OBSV8")
    )
    sas_sym = "SAS     "

    n_rows = 0
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

        # --- OBS records: encoded DISTRIBUTED (numpy mapInPandas per
        # batch), the driver only concatenates pre-built blobs. At
        # 100 TB the encode is the expensive part and it scales out;
        # the sequential tail is a byte copy.
        from pyspark.sql import functions as F

        # case-insensitive resolution, matching Spark's own analyzer —
        # a case-sensitive check here silently wrote an all-missing
        # column for a frame column differing only in case
        present = {c.upper(): c for c in df.columns}
        proj = []
        for v, ln in zip(variables, lengths):
            if v.name.upper() in present:
                c = F.col(present[v.name.upper()])
            else:
                c = F.lit(None)
            proj.append(
                c.cast("double").alias(v.name)
                if v.is_numeric
                else c.cast("string").alias(v.name)
            )
        work = df.select(*proj)

        specs = [
            (v.name, v.is_numeric, ln) for v, ln in zip(variables, lengths)
        ]
        audit = on_non_ascii in ("error", "issue") and any(
            not v.is_numeric for v in variables
        )
        # r16: the old `coalesce(8)` partition cap is GONE. It existed
        # to bound toLocalIterator's one-serial-job-per-partition cost,
        # but DataFrame.coalesce assigns partitions to groups in
        # locality order, which SCRAMBLES partition order ([0,3,13],
        # [1,5,17], ... measured) — so >8-partition exports did not
        # write frame row order. The grouped-parallel fetch below has
        # no per-partition job cost to amortize, and fetching the raw
        # partitions preserves frame order exactly.
        payload = work.mapInPandas(
            _payload_kernel(specs, audit_chars=audit),
            "xpt_bytes binary, "
            "bad array<struct<name:string,n:bigint,samples:array<string>>>",
        )
        total_obs_bytes = 0
        bad_counts: dict[str, int] = {}
        bad_samples: dict[str, set] = {}
        # Partition fetch (r16): toLocalIterator pays one SERIAL job
        # round trip per partition even with prefetch (one ahead), so
        # an 8-partition export spent ~8 x (job latency + kernel).
        # Fetch in adaptively sized PARALLEL groups instead — encode
        # tasks run concurrently, driver memory stays bounded (a 5 GB
        # member never collects whole), and partition order (= row
        # order) is preserved because runJob returns results in
        # partition order.
        #
        # r17, two fixes the r16 driver record demanded (export 0.65x
        # at 32 cores, 2-4x faster at 8 — pure per-Python-task
        # latency):
        # - NO second Python layer. `sc.runJob(payload.rdd, list)`
        #   wrapped every fetched partition in ANOTHER Python worker
        #   task (~250 ms protocol latency each, measured warm) just
        #   to echo rows the JVM already had. The fetch now calls
        #   PythonRDD.runJob on the pickled-Row JavaRDD directly —
        #   the exact machinery RDD.runJob uses, minus its
        #   mapPartitions Python hop — so the only Python tasks left
        #   are the encode kernel's own.
        # - NO single-partition probe job. The first group is sized
        #   from the optimizer's size estimate for the projected
        #   frame (a driver-side stats lookup, not a job), with an 8x
        #   safety factor against under-estimation; later groups use
        #   observed bytes exactly as before. Small exports (the
        #   clinical-member norm) fetch in ONE job; a huge member
        #   degrades gracefully to the old probe-then-ramp shape.
        sc = df.sparkSession.sparkContext
        slots = max(sc.defaultParallelism, 1)
        budget = 256 * 1024 * 1024
        try:
            est_total = int(
                str(payload._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:
            est_total = 0

        def _public_path():
            src_rdd = payload.rdd

            def _fetch(parts: list[int]) -> list:
                return sc.runJob(src_rdd, lambda it: list(it), partitions=parts)

            return src_rdd.getNumPartitions(), _fetch

        def _fast_path():
            # serve the pickled-Row JavaRDD directly through
            # pyspark-internal helpers (stable across 3.x/4.x, but not
            # a public API)
            from pyspark.rdd import _load_from_socket
            from pyspark.serializers import BatchedSerializer, CPickleSerializer

            jrdd = payload._jdf.javaToPython()
            _ser = BatchedSerializer(CPickleSerializer())

            def _fetch(parts: list[int]) -> list:
                sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, parts)
                return list(_load_from_socket(sock_info, _ser))

            return jrdd.rdd().getNumPartitions(), _fetch

        # Any failure of the fast path's setup or of its FIRST fetch
        # (nothing is written yet) degrades to the public runJob path,
        # which refetches the same partitions; a real data error raises
        # again from that retry. Later fetches are not retried: the
        # path has proven itself and bytes are already on disk.
        try:
            n_pp, _fetch = _fast_path()
            fast = True
        except Exception:
            n_pp, _fetch = _public_path()
            fast = False

        if est_total > 0 and n_pp > 0:
            est_pp = max(est_total // n_pp, 1)
            first_size = max(1, min(min(n_pp, slots), int(budget // (8 * est_pp))))
        else:
            first_size = 1
        fetched_bytes = 0
        fetched_parts = 0
        lo = 0
        while lo < n_pp:
            if fetched_parts == 0:
                size = first_size
            else:
                avg = max(fetched_bytes // fetched_parts, 1)
                size = max(1, min(n_pp - lo, int(budget // avg)))
            parts = list(range(lo, lo + size))
            try:
                rows = _fetch(parts)
            except Exception:
                if not (fast and fetched_parts == 0):
                    raise
                n_pp, _fetch = _public_path()
                rows = _fetch(parts)
            lo += size
            fetched_parts += size
            for prow in rows:
                blob = prow["xpt_bytes"]
                fh.write(blob)
                total_obs_bytes += len(blob)
                fetched_bytes += len(blob)
                for b in prow["bad"] or []:
                    bad_counts[b["name"]] = bad_counts.get(b["name"], 0) + b["n"]
                    # per-batch sorted first-3 ∪-merged → exact global first-3
                    merged = bad_samples.setdefault(b["name"], set())
                    merged.update(b["samples"])
                    if len(merged) > 3:
                        bad_samples[b["name"]] = set(sorted(merged)[:3])
        n_rows = total_obs_bytes // row_len
        # pad the final record block to 80 bytes with ASCII blanks
        fh.write(b" " * ((-total_obs_bytes) % 80))

    if bad_counts:
        # encode+audit was one pass, so the violation surfaces after
        # the streaming write: 'error' removes the partial artifact
        # and raises (same contract as the r2 pre-scan — no file left
        # behind on error), 'issue' surfaces the pairs.
        if on_non_ascii == "error":
            import os

            os.remove(path)
            name = next(n for _v in variables for n in [_v.name] if n in bad_counts)
            raise XptEncodingError(
                f"non-ASCII value(s) in {name!r} ({bad_counts[name]} rows, e.g. "
                f"{sorted(bad_samples[name])[:3]}): XPT payloads are ASCII; "
                "transliterate upstream or pass on_non_ascii='issue'"
            )
        if issue_sink is not None:
            for v in variables:
                if v.name not in bad_counts:
                    continue
                for s in sorted(bad_samples[v.name])[:3]:
                    if len(issue_sink) >= 100:
                        break
                    issue_sink.append((v.name, s))
    return n_rows
