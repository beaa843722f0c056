"""Sinks (XPT/Dataset-XML/Define-XML/project) and the fuzzy mapper."""

import struct
import xml.dom.minidom

import pytest

from trial_submission_studio_spark.io.dataset_xml import write_dataset_xml
from trial_submission_studio_spark.io.define_xml import DefineDataset, DefineVariable, write_define_xml
from trial_submission_studio_spark.io.project import (
    file_sha256,
    load_project,
    save_project,
    sources_changed,
)
from trial_submission_studio_spark.io.xpt import XptVariable, ibm_float, ibm_to_ieee, write_xpt
from trial_submission_studio_spark.mapping import (
    MappingState,
    MappingStatus,
    jaro_winkler,
    normalize_name,
    score_pair,
    suggest_mappings,
)
from trial_submission_studio_spark.operators.profiling import max_observed_length
from trial_submission_studio_spark.sources.local import values_df


def _observed(frames):
    """write_define_xml's observed-length map for a {dataset: frame} dict."""
    return {dom: max_observed_length(df, df.columns) for dom, df in frames.items()}


@pytest.mark.parametrize("v", [0.0, 1.0, -1.0, 0.1, 123.456, 1e10, -2.5e-8, 55.0])
def test_ibm_float_roundtrip(v):
    got = ibm_to_ieee(ibm_float(v))
    assert got == pytest.approx(v, rel=1e-15)


def test_ibm_float_missing():
    assert ibm_float(None) == b"\x2e" + b"\x00" * 7
    assert ibm_to_ieee(ibm_float(None)) is None


def test_write_xpt(spark, tmp_path):
    df = values_df(
        spark,
        [("ST", "S-001", 55.0), ("ST", "S-002", None)],
        "STUDYID string, USUBJID string, AGE double",
    )
    variables = [
        XptVariable("STUDYID", "Study Identifier", False, 2),
        XptVariable("USUBJID", "Unique Subject Identifier", False, 5),
        XptVariable("AGE", "Age", True),
    ]
    path = str(tmp_path / "dm.xpt")
    n = write_xpt(df.orderBy("USUBJID"), path, variables, "DM", "Demographics")
    assert n == 2
    blob = open(path, "rb").read()
    assert len(blob) % 80 == 0
    assert blob.startswith(b"HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!")
    assert b"NAMESTR HEADER RECORD!!!!!!!0000000003" in blob
    # first NAMESTR record starts right after its header record
    ns_off = blob.index(b"NAMESTR HEADER") - 20 + 80
    ntype, _, nlng, nvar0, name = struct.unpack(">hhhh8s", blob[ns_off : ns_off + 16])
    assert (ntype, nlng, nvar0, name) == (2, 2, 1, b"STUDYID ")
    # obs: row = 2 + 5 + 8 bytes; age of S-001 = IBM 55.0
    obs_off = blob.index(b"OBS     HEADER") - 20 + 80
    row1 = blob[obs_off : obs_off + 15]
    assert row1[:7] == b"STS-001"
    assert ibm_to_ieee(row1[7:15]) == 55.0
    row2 = blob[obs_off + 15 : obs_off + 30]
    assert ibm_to_ieee(row2[7:15]) is None  # missing = '.'


def test_write_dataset_xml(spark, tmp_path):
    df = values_df(
        spark,
        [("ST", "S-001", "Sun <stroke>", 1), ("ST", "S-002", "", 2)],
        "STUDYID string, USUBJID string, AETERM string, _row_id int",
    )
    path = str(tmp_path / "ae.xml")
    n = write_dataset_xml(df, path, "AE", "ST.STUDY", order_col="_row_id")
    assert n == 2
    doc = xml.dom.minidom.parse(path)  # well-formed
    groups = doc.getElementsByTagName("ItemGroupData")
    assert len(groups) == 2
    assert groups[0].getAttribute("data:ItemGroupDataSeq") == "1"
    items0 = groups[0].getElementsByTagName("ItemData")
    vals = {i.getAttribute("ItemOID"): i.getAttribute("Value") for i in items0}
    assert vals["IT.AE.AETERM"] == "Sun <stroke>"  # escaped+parsed back
    # empty AETERM emits no ItemData (P4)
    oids1 = [i.getAttribute("ItemOID") for i in groups[1].getElementsByTagName("ItemData")]
    assert "IT.AE.AETERM" not in oids1


def test_write_dataset_xml_sharded(spark, tmp_path):
    """Large-domain split export: 5 rows at 2 rows/shard -> LB1..LB3,
    each a complete valid ODM document, global seq preserved."""
    from trial_submission_studio_spark.io.dataset_xml import write_dataset_xml_sharded

    df = values_df(
        spark,
        [("ST", f"S-{i:03d}", f"ALT{i}", i) for i in range(1, 6)],
        "STUDYID string, USUBJID string, LBTESTCD string, _row_id int",
    )
    written = write_dataset_xml_sharded(
        df, str(tmp_path), "LB", "ST.STUDY", order_col="_row_id", rows_per_shard=2
    )
    assert sorted(written) == ["LB1", "LB2", "LB3"]
    seqs = {}
    for member, path in written.items():
        doc = xml.dom.minidom.parse(path)  # each shard is well-formed
        odm = doc.documentElement
        assert odm.getAttribute("FileOID") == f"ST.STUDY.{member}"
        seqs[member] = [
            g.getAttribute("data:ItemGroupDataSeq")
            for g in doc.getElementsByTagName("ItemGroupData")
        ]
    assert seqs == {"LB1": ["1", "2"], "LB2": ["3", "4"], "LB3": ["5"]}


def test_dataset_xml_read_roundtrip(spark, tmp_path):
    """read_dataset_xml inverts the writer, including escaped values
    and empty-cell omission (absent ItemData -> NULL); a glob over
    sharded members reads all shards distributed."""
    from trial_submission_studio_spark.io.dataset_xml import (
        read_dataset_xml,
        write_dataset_xml_sharded,
    )

    df = values_df(
        spark,
        [("ST", "S-001", "Sun <stroke> & more", 1), ("ST", "S-002", "", 2)],
        "STUDYID string, USUBJID string, AETERM string, _row_id int",
    )
    path = str(tmp_path / "ae.xml")
    write_dataset_xml(df, path, "AE", "ST.STUDY", order_col="_row_id")
    back = read_dataset_xml(spark, path)
    rows_ = sorted(tuple(r) for r in back.select(
        "STUDYID", "USUBJID", "AETERM", "_row_id").collect())
    assert rows_ == [
        ("ST", "S-001", "Sun <stroke> & more", 1),
        ("ST", "S-002", None, 2),  # empty cell was omitted -> NULL
    ]

    shard_dir = tmp_path / "shards"
    big = values_df(
        spark,
        [("ST", f"S-{i:03d}", i) for i in range(1, 6)],
        "STUDYID string, USUBJID string, _row_id int",
    )
    write_dataset_xml_sharded(
        big, str(shard_dir), "LB", "ST.STUDY", order_col="_row_id", rows_per_shard=2
    )
    merged = read_dataset_xml(spark, str(shard_dir / "lb*.xml"))
    assert merged.count() == 5
    assert sorted(r["_row_id"] for r in merged.collect()) == [1, 2, 3, 4, 5]


def test_write_define_xml(spark, tmp_path):
    frames = {
        "DM": values_df(
            spark, [("S-001", "55")], "USUBJID string, AGE string"
        )
    }
    ds = DefineDataset(
        domain="DM",
        label="Demographics",
        structure="One record per subject",
        variables=[
            DefineVariable("USUBJID", "Unique Subject Identifier", mandatory=True),
            DefineVariable("AGE", "Age", data_type="integer"),
            DefineVariable("ARMCD", "Arm Code"),  # not in data -> skipped
        ],
    )
    path = str(tmp_path / "define.xml")
    write_define_xml(path, "ST.STUDY", [ds], _observed(frames))
    doc = xml.dom.minidom.parse(path)
    items = {
        e.getAttribute("OID"): e for e in doc.getElementsByTagName("ItemDef")
    }
    assert set(items) == {"IT.DM.USUBJID", "IT.DM.AGE"}
    assert items["IT.DM.USUBJID"].getAttribute("Length") == "5"  # observed max
    assert items["IT.DM.USUBJID"].getAttribute("def:HasNoData") == "No"


def test_project_roundtrip(tmp_path):
    src = tmp_path / "a.csv"
    src.write_text("x\n1\n")
    state = {"study_id": "ST", "source_hashes": {str(src): file_sha256(str(src))}}
    p = str(tmp_path / "proj.json")
    save_project(p, state)
    assert load_project(p) == state
    assert sources_changed(state) == {str(src): False}
    src.write_text("x\n2\n")
    assert sources_changed(state) == {str(src): True}


def test_autosave_policy(tmp_path):
    """Debounced autosave with a fake clock (reference tss-persistence
    autosave/config.rs + tracker.rs): debounce after last change, max
    delay after first unsaved change, hash-gated writes, disabled
    config never fires."""
    from trial_submission_studio_spark.io.project import (
        AutosaveConfig,
        Autosaver,
        load_project,
    )

    now = [0.0]
    state = {"v": 1}
    p = str(tmp_path / "proj.json")
    a = Autosaver(p, lambda: dict(state), AutosaveConfig(
        debounce_s=2.0, max_delay_s=30.0), clock=lambda: now[0])

    assert not a.tick()  # clean: nothing to do
    a.mark_dirty()
    now[0] = 1.0
    assert not a.tick()  # inside debounce
    now[0] = 3.1
    assert a.tick()  # debounce elapsed -> write
    assert load_project(p) == {"v": 1}
    assert not a.tick()  # back to clean

    # continuous edits: debounce keeps resetting, max delay forces it
    for t in range(4, 40):
        now[0] = float(t)
        state["v"] = t
        a.mark_dirty()
        saved = a.tick()
        if saved:
            break
    assert saved and now[0] - 4.0 >= 29.0  # fired via the 30s max delay

    # hash gate: dirty but state unchanged -> tracker resets, no write
    a.mark_dirty()
    now[0] += 10.0
    assert not a.tick()
    assert not a.dirty

    # disabled config never saves
    b = Autosaver(str(tmp_path / "b.json"), lambda: {"x": 1},
                  AutosaveConfig(enabled=False), clock=lambda: now[0])
    b.mark_dirty()
    now[0] += 100.0
    assert not b.tick()
    assert b.dirty


# --- fuzzy mapping -----------------------------------------------------


def test_jaro_winkler_basics():
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("abc", "xyz") == 0.0


def test_normalize_name():
    assert normalize_name("AE_Start-Date.Raw") == "ae start date raw"


def test_score_multipliers():
    # SEQ suffix agreement boosts, disagreement penalizes (score.rs:161-278)
    both = score_pair("AESEQ", "AESEQ")
    assert both.seq_adjust == 1.05
    assert score_pair("AESEQ", "AETERM").seq_adjust == 0.6
    assert score_pair("SEXCD", "SEX").cd_adjust == 0.7
    assert score_pair("SEX", "SEXCD").cd_adjust == 0.8


def test_suggest_one_to_one():
    got = suggest_mappings(
        ["SubjectId", "StartDate", "Severity"],
        ["AESTDTC", "AESEV"],
        min_confidence=0.5,
    )
    cols = [c for c, _ in got.values()]
    assert len(cols) == len(set(cols))  # 1:1
    assert got["AESEV"][0] == "Severity"


def test_mapping_state_rules():
    variables = [
        {"name": "STUDYID", "core": "Req"},
        {"name": "USUBJID", "core": "Req"},
        {"name": "AETERM", "core": "Req"},
        {"name": "AESEV", "core": "Exp"},
        {"name": "AELAT", "core": "Perm"},
    ]
    st = MappingState.new("AE", variables, ["Term", "Severity"], min_confidence=0.5)
    assert st.status["STUDYID"] == MappingStatus.AUTO_GENERATED
    with pytest.raises(ValueError):
        st.mark_not_collected("AETERM")  # Required can't be not-collected
    with pytest.raises(ValueError):
        st.mark_omitted("AESEV")  # only Permissible omittable
    st.mark_omitted("AELAT")
    assert st.status["AELAT"] == MappingStatus.OMITTED
    snap = st.snapshot()
    st2 = MappingState.restore(snap, variables)
    assert st2.status == st.status and st2.source == st.source


def test_resolve_codelist_priority():
    from trial_submission_studio_spark.standards.ct import Codelist, resolve_codelist

    regs = {
        "SEND": {"C1": Codelist("C1", "send-one", False)},
        "SDTM": {"C1": Codelist("C1", "sdtm-one", False)},
        "CUSTOM": {"C2": Codelist("C2", "custom-two", True)},
    }
    assert resolve_codelist(regs, "C1").name == "sdtm-one"  # SDTM wins
    assert resolve_codelist(regs, "C2").name == "custom-two"
    assert resolve_codelist(regs, "C9") is None


def test_define_xml_codelists(spark, tmp_path):
    frames = {"DM": values_df(spark, [("S-001", "M")], "USUBJID string, SEX string")}
    ds = DefineDataset(
        domain="DM",
        variables=[DefineVariable("SEX", "Sex", codelist_oid="CL.C66731")],
    )
    path = str(tmp_path / "define_cl.xml")
    write_define_xml(
        path, "ST", [ds], _observed(frames),
        codelists={"CL.C66731": [("M", "Male"), ("F", "Female")]},
    )
    doc = xml.dom.minidom.parse(path)
    cls = doc.getElementsByTagName("CodeList")
    assert len(cls) == 1 and cls[0].getAttribute("OID") == "CL.C66731"
    assert len(cls[0].getElementsByTagName("CodeListItem")) == 2


def test_define_xml_value_level_metadata(spark, tmp_path):
    """Define-XML 2.1 value-level metadata (beyond the reference's
    writer): ValueListDef + WhereClauseDef per slice, ValueListRef on
    the parent ItemDef, slice ItemDefs with their own codelists."""
    from trial_submission_studio_spark.io.define_xml import ValueLevelItem

    frames = {
        "QS": values_df(
            spark, [("S-001", "PGA01", "3")],
            "USUBJID string, QSTESTCD string, QSORRES string",
        )
    }
    ds = DefineDataset(
        domain="QS",
        variables=[
            DefineVariable("QSTESTCD", "Question Short Name"),
            DefineVariable(
                "QSORRES",
                "Finding in Original Units",
                value_list=[
                    ValueLevelItem(
                        "PGA01", "QSTESTCD", ["PGA01"],
                        data_type="integer", label="PGA Score",
                        codelist_oid="CL.PGA",
                    ),
                    ValueLevelItem(
                        "FREETEXT", "QSTESTCD", ["Q1", "Q2"],
                        data_type="text", length=200,
                    ),
                ],
            ),
        ],
    )
    path = str(tmp_path / "define_vl.xml")
    write_define_xml(
        path, "ST", [ds], _observed(frames), codelists={"CL.PGA": [("3", "Moderate")]}
    )
    doc = xml.dom.minidom.parse(path)
    vls = doc.getElementsByTagName("def:ValueListDef")
    assert len(vls) == 1 and vls[0].getAttribute("OID") == "VL.QS.QSORRES"
    assert len(vls[0].getElementsByTagName("ItemRef")) == 2
    wcs = {
        w.getAttribute("OID"): w for w in doc.getElementsByTagName("def:WhereClauseDef")
    }
    rc = wcs["WC.QS.QSORRES.PGA01"].getElementsByTagName("RangeCheck")[0]
    assert rc.getAttribute("Comparator") == "EQ"
    assert rc.getAttribute("def:ItemOID") == "IT.QS.QSTESTCD"
    rc2 = wcs["WC.QS.QSORRES.FREETEXT"].getElementsByTagName("RangeCheck")[0]
    assert rc2.getAttribute("Comparator") == "IN"
    assert len(rc2.getElementsByTagName("CheckValue")) == 2
    items = {
        i.getAttribute("OID"): i for i in doc.getElementsByTagName("ItemDef")
    }
    parent = items["IT.QS.QSORRES"]
    assert parent.getElementsByTagName("def:ValueListRef")[0].getAttribute(
        "ValueListOID"
    ) == "VL.QS.QSORRES"
    slice_def = items["IT.QS.QSORRES.PGA01"]
    assert slice_def.getAttribute("DataType") == "integer"
    assert slice_def.getElementsByTagName("CodeListRef")[0].getAttribute(
        "CodeListOID"
    ) == "CL.PGA"
    # value-level codelist is emitted
    assert any(
        c.getAttribute("OID") == "CL.PGA"
        for c in doc.getElementsByTagName("CodeList")
    )


GOLDEN_XPT_SHA256 = "fda13f40cd6ead0de4ff52d07708ca301b5746ac7907c1489e231367971fe836"


def test_xpt_golden_bytes(spark, tmp_path):
    """Byte-pinned golden output: the writer must stay stable across
    rounds (fixed _TS timestamp makes this deterministic)."""
    import hashlib

    df = values_df(spark, [("A", 1.0), ("B", None)], "C string, N double")
    path = str(tmp_path / "g.xpt")
    write_xpt(
        df.orderBy("C"), path,
        [XptVariable("C", "Char var", False, 1), XptVariable("N", "Num var", True)],
        "G", "Golden",
    )
    digest = hashlib.sha256(open(path, "rb").read()).hexdigest()
    assert digest == GOLDEN_XPT_SHA256, f"XPT bytes changed: {digest}"


def _ibm_both(x):
    """(scalar, vectorized) encodings of one value; "raises" on XptEncodingError."""
    import numpy as np

    from trial_submission_studio_spark.io.xpt import XptEncodingError, _ibm_bytes

    out = []
    for enc in (ibm_float, lambda v: _ibm_bytes(np.array([v], dtype=np.float64), "X")[0].tobytes()):
        try:
            out.append(enc(x))
        except XptEncodingError:
            out.append("raises")
    return tuple(out)


def test_ibm_vectorized_matches_scalar_and_range_edges():
    """The vectorized IBM encoder is bit-identical to the scalar one over
    the whole double range; magnitudes below 16**-65 write IBM zero, and
    ±inf or |x| >= 16**63 raise in both (they used to wrap silently)."""
    import math

    import numpy as np
    from hypothesis import given, settings, strategies as st

    from trial_submission_studio_spark.io.xpt import _ibm_bytes

    @settings(max_examples=500, deadline=None)
    @given(st.floats())
    def agree(x):
        s, v = _ibm_both(x)
        assert s == v, (x, s, v)

    agree()

    rng = np.random.default_rng(7)
    xs = rng.uniform(-1, 1, 100_000) * np.exp2(rng.integers(-262, 253, 100_000).astype(float))
    got = _ibm_bytes(xs, "X")
    assert all(got[i].tobytes() == ibm_float(float(x)) for i, x in enumerate(xs))

    zero, missing = b"\x00" * 8, b"\x2e" + b"\x00" * 7
    lo, hi = 16.0**-65, 16.0**63
    assert _ibm_both(lo)[0] == _ibm_both(lo)[1] != zero
    assert ibm_to_ieee(ibm_float(lo)) == lo
    top = math.nextafter(hi, 0)
    assert _ibm_both(top)[0] == _ibm_both(top)[1]
    assert ibm_to_ieee(ibm_float(top)) == top
    for x in (math.nextafter(lo, 0), -1e-80, 1e-80, 5e-324, -0.0, 0.0):
        assert _ibm_both(x) == (zero, zero), x
    for x in (hi, -hi, 1e76, -8e75, math.inf, -math.inf):
        assert _ibm_both(x) == ("raises", "raises"), x
    assert _ibm_both(math.nan) == (missing, missing)


def test_xpt_numeric_out_of_range_raises_before_the_file(spark, tmp_path):
    """1e76 used to be written as -7.46e-79: now it raises, naming the
    variable and a sample, and no file is created; 1e-80 writes 0."""
    import os

    from trial_submission_studio_spark.io.xpt import XptEncodingError, read_xpt

    vars_ = [XptVariable("I", "idx", True), XptVariable("X", "val", True)]
    big = values_df(spark, [(1.0, 2.0), (2.0, 1e76)], "I double, X double")
    path = str(tmp_path / "big.xpt")
    with pytest.raises(XptEncodingError, match=r"'X'.*1e\+76"):
        write_xpt(big.orderBy("I"), path, vars_, "G")
    assert not os.path.exists(path)

    tiny = values_df(spark, [(1.0, 1e-80), (2.0, -3.0)], "I double, X double")
    write_xpt(tiny.orderBy("I"), path, vars_, "G")
    assert [tuple(r) for r in read_xpt(spark, path).orderBy("I").collect()] == [
        (1.0, 0.0), (2.0, -3.0)
    ]


def test_xpt_many_partitions_match_per_row_rendition(spark, tmp_path):
    """A 20-partition member with nulls, empty strings, over-width and
    non-ASCII values spread over many partitions writes exactly the
    bytes of a pure-Python per-row encode, in frame order; 'issue' mode
    reports the global first-3 sorted non-ASCII values per variable,
    and 'error' mode leaves no file behind."""
    import os

    from pyspark.sql import functions as F

    from trial_submission_studio_spark.io.xpt import XptEncodingError

    n = 2000
    i = F.col("id")
    df = spark.range(0, n, 1, 20).select(
        F.when(i % 7 == 0, F.lit(None))
        .when(i % 11 == 0, F.lit(""))
        .when(i % 13 == 0, F.format_string("Zürich%05d", F.lit(n) - i))
        .when(i % 17 == 0, F.lit("日本語"))
        .otherwise(F.format_string("OVERWIDE%d", i))
        .alias("CITY"),
        F.when(i % 5 == 0, F.lit(None)).otherwise(i * 0.5 - 300.0).alias("X"),
        F.when(i % 3 == 0, F.lit(None)).otherwise(F.format_string("S%d", i)).alias("ID"),
    )
    vars_ = [
        XptVariable("CITY", "City", False, 6),
        XptVariable("X", "Val", True),
        XptVariable("ID", "Id", False, 4),
    ]
    rows_ = df.collect()
    payload = b"".join(
        (r["CITY"] or "")[:6].ljust(6).encode("ascii", "replace")
        + ibm_float(r["X"])
        + (r["ID"] or "")[:4].ljust(4).encode("ascii", "replace")
        for r in rows_
    )
    bad = sorted({r["CITY"] for r in rows_ if r["CITY"] and not r["CITY"].isascii()})

    path = str(tmp_path / "wide.xpt")
    sink: list = []
    assert write_xpt(df, path, vars_, "G", on_non_ascii="issue", issue_sink=sink) == n
    blob = open(path, "rb").read()
    obs = blob.index(b"OBS     HEADER") - 20 + 80
    assert blob[obs:] == payload + b" " * ((-len(payload)) % 80)
    assert sink == [("CITY", v) for v in bad[:3]]
    assert bad[0].startswith("Zürich") and len(bad) > 3

    err = str(tmp_path / "err.xpt")
    with pytest.raises(XptEncodingError, match="CITY"):
        write_xpt(df, err, vars_, "G")
    assert not os.path.exists(err)


def test_xpt_read_roundtrip(spark, tmp_path):
    """read_xpt inverts write_xpt: names, labels-as-types, trimmed
    chars (blank -> NULL), IBM-float numerics incl. missing, negative
    and fractional values; V8 long names resolve."""
    from trial_submission_studio_spark.io.xpt import read_xpt

    df = values_df(
        spark,
        [
            ("S-001", "Sun stroke", 55.25, 1.0),
            ("S-002", "", -3.5, None),
            ("S-003", "Nausea", 0.0, 12345.678),
        ],
        "USUBJID string, AETERM string, X double, Y double",
    )
    vars_ = [
        XptVariable("USUBJID", "Subject", False, 8),
        XptVariable("AETERM", "Term", False, 12),
        XptVariable("X", "X val", True),
        XptVariable("Y", "Y val", True),
    ]
    path = str(tmp_path / "rt.xpt")
    write_xpt(df.orderBy("USUBJID"), path, vars_, "AE", "Adverse Events")
    back = read_xpt(spark, path)
    assert back.columns == ["USUBJID", "AETERM", "X", "Y"]
    rows_ = sorted(tuple(r) for r in back.collect())
    assert rows_ == [
        ("S-001", "Sun stroke", 55.25, 1.0),
        ("S-002", None, -3.5, None),  # blank char -> NULL, '.' -> NULL
        ("S-003", "Nausea", 0.0, pytest.approx(12345.678)),
    ]

    # V8: 32-char long variable names survive the roundtrip
    long_vars = [
        XptVariable("ALONGVARIABLENAMEBEYOND8", "Long", False, 3),
        XptVariable("N", "Num", True),
    ]
    p8 = str(tmp_path / "v8.xpt")
    write_xpt(
        values_df(spark, [("abc", 2.0)], "ALONGVARIABLENAMEBEYOND8 string, N double"),
        p8, long_vars, "L", version=8,
    )
    b8 = read_xpt(spark, p8)
    assert b8.columns == ["ALONGVARIABLENAMEBEYOND8", "N"]
    assert tuple(b8.first()) == ("abc", 2.0)


def test_xpt_numeric_fidelity_sweep(spark, tmp_path):
    """1000 adversarial doubles (magnitudes 1e-60..1e60, negatives,
    subnormal-ish, exact integers) survive write->read exactly: IBM hex
    float carries 56 mantissa bits, a superset of IEEE's 52, so every
    in-range double is exactly representable."""
    import numpy as np

    from trial_submission_studio_spark.io.xpt import read_xpt

    rng = np.random.default_rng(42)
    vals = np.concatenate(
        [
            rng.uniform(-1e6, 1e6, 400),
            rng.uniform(-1, 1, 200) * 10.0 ** rng.integers(-60, 60, 200),
            np.arange(100, dtype=np.float64),  # exact integers
            np.array([0.0, -0.0, 1e-300 * 0, 0.1, -0.1, 1 / 3, 2**52 + 1.0]),
            rng.uniform(-1e-10, 1e-10, 293),
        ]
    )
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i bigint, X double"
    )
    path = str(tmp_path / "sweep.xpt")
    write_xpt(
        df.orderBy("i"), path,
        [XptVariable("I", "idx", True), XptVariable("X", "val", True)], "SW",
    )
    back = {int(r["I"]): r["X"] for r in read_xpt(spark, path).collect()}
    for i, v in enumerate(vals):
        assert back[i] == float(v), (i, v, back[i])


def test_xpt_zero_rows_roundtrip(spark, tmp_path):
    """An empty member writes headers only and reads back as an empty
    frame with the same columns and types."""
    from trial_submission_studio_spark.io.xpt import read_xpt

    df = values_df(spark, [("A", 1.0)], "C string, N double").limit(0)
    vars_ = [XptVariable("C", "Char", False, 3), XptVariable("N", "Num", True)]
    path = str(tmp_path / "empty.xpt")
    assert write_xpt(df, path, vars_, "E") == 0
    assert open(path, "rb").read().endswith(b"OBS     HEADER RECORD!!!!!!!" + b"0" * 30 + b" " * 2)
    back = read_xpt(spark, path)
    assert back.dtypes == [("C", "string"), ("N", "double")]
    assert back.count() == 0


def test_xpt_non_ascii_policy(spark, tmp_path):
    """XPT payloads are ASCII-bound: non-ASCII raises by default
    (silent '?' substitution corrupted data in round 1); 'issue' mode
    substitutes but surfaces the offending (variable, value) pairs."""
    from trial_submission_studio_spark.io.xpt import XptEncodingError

    df = values_df(spark, [("Münster", 1.0)], "C string, N double")
    vars_ = [XptVariable("C", "City", False, 10), XptVariable("N", "Num", True)]
    with pytest.raises(XptEncodingError, match="non-ASCII value"):
        write_xpt(df, str(tmp_path / "bad.xpt"), vars_, "G")
    sink: list = []
    n = write_xpt(df, str(tmp_path / "ok.xpt"), vars_, "G",
                  on_non_ascii="issue", issue_sink=sink)
    assert n == 1
    assert sink == [("C", "Münster")]
    body = open(tmp_path / "ok.xpt", "rb").read()
    assert b"M?nster" in body  # substitution recorded, not silent


def test_xpt_v8_long_names(spark, tmp_path):
    """V8 variant: V8 header markers and the 32-char long name in the
    NAMESTR tail (TS-140_2)."""
    df = values_df(spark, [("x", 2.0)], "C string, N double")
    vars_ = [
        XptVariable("ALONGVARIABLENAME", "Long", False, 1),
        XptVariable("N", "Num", True),
    ]
    path = str(tmp_path / "v8.xpt")
    n = write_xpt(df.selectExpr("C AS ALONGVARIABLENAME", "N"),
                  path, vars_, "G", version=8)
    assert n == 1
    body = open(path, "rb").read()
    assert b"LIBV8" in body and b"MEMBV8" in body
    assert b"NAMSTV8" in body and b"OBSV8" in body
    assert b"ALONGVARIABLENAME" in body  # 32-char longname field
    assert len(body) % 80 == 0


def test_define_xml_standards_origin_keysequence(spark, tmp_path):
    """Reference-parity define.xml: def:Standards section, CodeList
    def:StandardOID/def:Extensible, ItemRef KeySequence for
    identifiers, and the not-collected def:Origin annotation."""
    frames = {"DM": values_df(
        spark, [("S-001", "M", None)], "USUBJID string, SEX string, ARMCD string"
    )}
    ds = DefineDataset(
        domain="DM",
        variables=[
            DefineVariable("USUBJID", "Unique Subject Identifier",
                           mandatory=True, core="Req", role="Identifier"),
            DefineVariable("SEX", "Sex", codelist_oid="CL.C66731", core="Req"),
            DefineVariable("ARMCD", "Planned Arm Code", core="Exp"),
        ],
    )
    path = str(tmp_path / "define_std.xml")
    write_define_xml(
        path, "ST", [ds], _observed(frames),
        codelists={"CL.C66731": [("M", "Male"), ("F", "Female")]},
        ct_version="2025-03-28",
        codelist_meta={"CL.C66731": {"name": "Sex", "extensible": False}},
    )
    doc = xml.dom.minidom.parse(path)
    stds = doc.getElementsByTagName("def:Standard")
    assert len(stds) == 1
    assert stds[0].getAttribute("OID") == "STD.CT.SDTM.2025-03-28"
    assert stds[0].getAttribute("Type") == "CT"
    cl = doc.getElementsByTagName("CodeList")[0]
    assert cl.getAttribute("def:StandardOID") == "STD.CT.SDTM.2025-03-28"
    assert cl.getAttribute("def:Extensible") == ""  # non-extensible omits it
    refs = {r.getAttribute("ItemOID"): r for r in doc.getElementsByTagName("ItemRef")}
    assert refs["IT.DM.USUBJID"].getAttribute("KeySequence") == "1"
    assert refs["IT.DM.SEX"].getAttribute("KeySequence") == ""
    origins = {
        i.getAttribute("OID"): i.getElementsByTagName("def:Origin")[0].getAttribute("Type")
        for i in doc.getElementsByTagName("ItemDef")
    }
    assert origins["IT.DM.USUBJID"] == "Collected"
    assert origins["IT.DM.ARMCD"] == "Not Available"  # Expected, no data
