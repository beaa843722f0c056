"""Plan compiler + validation engine end-to-end on an AE-shaped fixture."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows
from trial_submission_studio_spark.operators import normalize
from trial_submission_studio_spark.operators.normalize import (
    NormalizationContext,
    Rule,
    compile_pipeline,
    infer_rules,
)
from trial_submission_studio_spark.operators.validation import (
    VariableSpec,
    duplicate_sequence_issues,
    melt_domain_keys,
    rdomain_invalid,
    relrec_invalid_references,
    relsub_not_bidirectional,
    usubjid_not_in_dm,
    validate_domain,
)
from trial_submission_studio_spark.sources.local import values_df


def _src(spark):
    return values_df(
        spark,
        [
            ("S-001", "Sun stroke", "2023-09-30", "Moderate", "10", 1),
            ("S-001", "Headache", "01/15/2024", "mild", "1,234.5", 2),
            ("S-002", "Nausea", "2024-01", "SEVERE", "abc", 3),
        ],
        "SubjectId string, AETERM string, AESTDAT string, AESEV string, AEDOSE string, _row_id int",
    )


def _ct(spark):
    return values_df(
        spark,
        [
            ("C66769", "MILD", "MILD", False),
            ("C66769", "MODERATE", "MODERATE", False),
            ("C66769", "SEVERE", "SEVERE", False),
        ],
        "codelist_code string, lookup_key string, submission_value string, extensible boolean",
    )


def test_compile_pipeline_end_to_end(spark):
    ref = values_df(
        spark, [("S-001", "2023-09-30"), ("S-002", "2024-01-01")],
        "SubjectId string, RFSTDTC string",
    )
    ctx = NormalizationContext(
        study_id="ST", domain_code="AE", order_col="_row_id",
        subject_col="SubjectId", ct_lookup=_ct(spark), ref_date_df=ref,
    )
    out = compile_pipeline(
        _src(spark),
        [
            Rule("STUDYID", "constant", params={"value": "ST"}, order=1),
            Rule("DOMAIN", "constant", params={"value": "AE"}, order=2),
            Rule("USUBJID", "usubjid_prefix", source="SubjectId", order=3),
            Rule("AESEQ", "sequence", order=4),
            Rule("AESEV", "ct", source="AESEV", params={"codelist_code": "C66769"}, order=5),
            Rule("AESTDTC", "iso_datetime", source="AESTDAT", order=6),
            Rule("AESTDY", "study_day", source="AESTDTC", order=7),
            Rule("AEDOSE", "numeric", source="AEDOSE", order=8),
        ],
        ctx,
    )
    assert out.columns == [
        "STUDYID", "DOMAIN", "USUBJID", "AESEQ", "AESEV", "AESTDTC", "AESTDY", "AEDOSE",
    ]
    got = {r["USUBJID"] + "/" + str(r["AESEQ"]): r.asDict() for r in out.collect()}
    r1 = got["ST-S-001/1"]
    assert (r1["AESTDTC"], r1["AESTDY"], r1["AESEV"], r1["AEDOSE"]) == (
        "2023-09-30", 1, "MODERATE", 10.0,
    )
    r2 = got["ST-S-001/2"]
    assert (r2["AESTDTC"], r2["AESTDY"], r2["AEDOSE"]) == ("2024-01-15", 108, 1234.5)
    r3 = got["ST-S-002/1"]
    assert (r3["AESTDTC"], r3["AESTDY"], r3["AEDOSE"]) == ("2024-01", None, None)


def test_compile_pipeline_rejects_transform_without_branch(spark, monkeypatch):
    """A transform kind the compiler has no branch for fails loudly
    instead of compiling to copy semantics."""
    monkeypatch.setattr(normalize, "TRANSFORMS", normalize.TRANSFORMS + ("mystery",))
    rule = Rule("AETERM", "mystery", source="AETERM")
    ctx = NormalizationContext(study_id="ST", domain_code="AE", order_col="")
    df = values_df(spark, [("Headache",)], "AETERM string")
    with pytest.raises(ValueError, match="mystery"):
        compile_pipeline(df, [rule], ctx)


def test_infer_rules_priority():
    variables = [
        {"name": "STUDYID", "order": 1},
        {"name": "DOMAIN", "order": 2},
        {"name": "USUBJID", "order": 3},
        {"name": "SUBJID", "order": 3.5},
        {"name": "AESEQ", "order": 4},
        {"name": "AETERM", "order": 5, "data_type": "Char"},
        {"name": "AESTDTC", "order": 6},
        {"name": "AESTDY", "order": 7},
        {"name": "AESEV", "order": 8, "codelist_code": "C66769"},
        {"name": "AEDOSE", "order": 9, "data_type": "Num"},
        {"name": "AEUNMAPPED", "order": 10},
    ]
    ctx = NormalizationContext(study_id="ST", domain_code="AE")
    mapped = {
        "SUBJID": "SubjectId", "AETERM": "Term", "AESTDTC": "StartDate",
        "AESEV": "Severity", "AEDOSE": "Dose",
    }
    inferred = infer_rules(variables, mapped, ctx)
    got = {r.target: r.transform for r in inferred}
    assert got == {
        "STUDYID": "constant", "DOMAIN": "constant", "USUBJID": "usubjid_prefix",
        "SUBJID": "copy", "AESEQ": "sequence", "AETERM": "copy",
        "AESTDTC": "iso_datetime", "AESTDY": "study_day", "AESEV": "ct",
        "AEDOSE": "numeric",
    }
    # USUBJID derives from the SUBJID source column (executor.rs:124-174)
    assert {r.target: r.source for r in inferred}["USUBJID"] == "SubjectId"


def test_validate_domain(spark):
    df = values_df(
        spark,
        [("S1", "ok", "2024-01-15", "12"), ("S2", None, "13/13/2024", "xx"), (None, "y", "2024", "5")],
        "USUBJID string, AETERM string, AESTDTC string, AEDOSE string",
    )
    specs = [
        VariableSpec("USUBJID", core="Req", role="Identifier"),
        VariableSpec("AETERM", core="Req"),
        VariableSpec("AESTDTC", core="Exp"),
        VariableSpec("AEDOSE", core="Perm", data_type="Num"),
        VariableSpec("AEMISSING", core="Exp"),
        VariableSpec("AETERM2", core="Req"),
    ]
    issues = {(r["variable"], r["category"]): r for r in validate_domain(df, "AE", specs).collect()}
    assert issues[("USUBJID", "Presence")]["count"] == 1
    assert issues[("AETERM", "Presence")]["count"] == 1
    assert issues[("AESTDTC", "Format")]["samples"] == ["13/13/2024"]
    assert issues[("AEDOSE", "Format")]["count"] == 1
    assert issues[("AEMISSING", "Presence")]["severity"] == "Warning"
    assert issues[("AETERM2", "Presence")]["severity"] == "Error"


def test_cross_domain_checks(spark):
    dm = values_df(spark, [("S1",), ("S2",), (None,), ("  ",)], "USUBJID string")
    # blank USUBJIDs are never probed; keys match untrimmed, samples trim
    ae = values_df(
        spark, [("S1",), ("S3",), ("S3",), (None,), ("  ",), (" S1 ",)], "USUBJID string"
    )
    got = usubjid_not_in_dm(ae, dm, "AE").collect()
    assert [tuple(r) for r in got] == [
        ("AE", "USUBJID", "CrossReference", "Error", 3, ["S1", "S3"])
    ]
    assert usubjid_not_in_dm(ae.limit(0), dm, "AE").collect() == []

    # RDOMAIN compares trimmed and upper-cased; blank is not checked
    co = values_df(
        spark,
        [("AE",), ("ZZ",), ("ae",), (" DM ",), (None,), ("  ",), (" zz",)],
        "RDOMAIN string",
    )
    got = rdomain_invalid(co, "CO", ["AE", "DM"]).collect()
    assert [tuple(r) for r in got] == [
        ("CO", "RDOMAIN", "CrossReference", "Error", 2, ["ZZ", "zz"])
    ]
    assert rdomain_invalid(co.limit(0), "CO", ["AE", "DM"]).collect() == []

    rel = values_df(
        spark, [("S1", "S2", "SPOUSE"), ("S2", "S1", "SPOUSE"), ("S3", "S4", "TWIN")],
        "USUBJID string, RSUBJID string, SREL string",
    )
    got = relsub_not_bidirectional(rel).collect()
    assert got[0]["count"] == 1 and got[0]["samples"] == ["S3->S4"]


def test_relrec_probe(spark):
    frames = {
        "AE": values_df(spark, [("S1", 1), ("S1", 2)], "USUBJID string, AESEQ int"),
        "LB": values_df(spark, [("S1", "G1")], "USUBJID string, LBGRPID string"),
    }
    keys = melt_domain_keys(frames)
    assert rows(keys) == [
        ("AE", "AESEQ", "1"), ("AE", "AESEQ", "2"), ("LB", "LBGRPID", "G1"),
    ]
    relrec = values_df(
        spark,
        [("AE", "AESEQ", "1"), ("AE", "AESEQ", "9"), ("LB", "LBGRPID", "G1")],
        "RDOMAIN string, IDVAR string, IDVARVAL string",
    )
    got = relrec_invalid_references(relrec, keys).collect()
    assert len(got) == 1 and got[0]["count"] == 1
    assert got[0]["samples"] == ["AESEQ=9"]


def test_duplicate_sequence_issues(spark):
    # groups of 2 and 3 add 1 and 2; null and blank keys group like any
    # other value, and concat_ws drops the null half of a sample
    df = values_df(
        spark,
        [
            ("S1", 1), ("S1", 1), ("S2", 1), ("S3", 2), ("S3", 2), ("S3", 2),
            (None, 5), (None, 5), ("  ", 6), ("  ", 6), ("S4", None), ("S4", None),
        ],
        "USUBJID string, AESEQ int",
    )
    got = duplicate_sequence_issues(df, "AE").collect()
    assert [tuple(r) for r in got] == [
        ("AE", "AESEQ", "Consistency", "Error", 6, ["/6", "5", "S1/1", "S3/2", "S4"])
    ]
    assert duplicate_sequence_issues(df.limit(0), "AE").collect() == []


def test_validate_domain_folds_cross_checks(spark):
    """One frame carrying every defect: the single aggregate gives the
    rows of validate_domain, duplicate_sequence_issues,
    usubjid_not_in_dm and rdomain_invalid as separate queries, in that
    order (rows captured from those queries)."""
    df = values_df(
        spark,
        [
            ("S1", 1, "ok", "2024-01-15", "12", "AE", None),
            ("S1", 1, "long headache", "13/13/2024", "xx", "zz", None),
            ("S1", 1, None, "2024", "5", " ae ", None),
            ("S9", 2, "x", None, "1,000", "QQ", None),
            ("S9", 2, "y", "2024-02", "abc", None, None),
            (None, 3, "z", "2024-03-01", "7", "DM", None),
            ("  ", 4, "w", "2024", "8", "  ", None),
            ("S2", None, "v", "bad", "9", "dm", None),
            ("S2", None, "u", "2024", "10", "xx", None),
        ],
        "USUBJID string, AESEQ int, AETERM string, AESTDTC string, "
        "AEDOSE string, RDOMAIN string, AEOUT string",
    )
    dm = values_df(spark, [("S1",), ("S2",), ("  ",), (None,)], "USUBJID string")
    specs = [
        VariableSpec("USUBJID", core="Req", role="Identifier"),
        VariableSpec("AETERM", core="Req", length=5),
        VariableSpec("AESTDTC", core="Exp"),
        VariableSpec("AEDOSE", core="Perm", data_type="Num"),
        VariableSpec("AEOUT", core="Exp"),
        VariableSpec("AEDECOD", core="Exp"),
        VariableSpec("AEACN", core="Exp"),
        VariableSpec("AEBODSYS", core="Req"),
    ]
    got = validate_domain(
        df, "AE", specs, {"AEACN"}, dm=dm, submitted=["AE", "DM"], seq_domain="AE"
    ).collect()
    assert [tuple(r) for r in got] == [
        ("AE", "USUBJID", "Presence", "Error", 2, []),
        ("AE", "USUBJID", "Presence", "Error", 2, []),
        ("AE", "AETERM", "Presence", "Error", 1, []),
        ("AE", "AETERM", "Limit", "Warning", 1, []),
        ("AE", "AESTDTC", "Format", "Error", 2, ["13/13/2024", "bad"]),
        ("AE", "AEDOSE", "Format", "Error", 2, ["abc", "xx"]),
        ("AE", "AEOUT", "Presence", "Warning", 9, []),
        ("AE", "AEDECOD", "Presence", "Warning", 1, []),
        ("AE", "AEBODSYS", "Presence", "Error", 1, []),
        ("AE", "AESEQ", "Consistency", "Error", 4, ["S1/1", "S2", "S9/2"]),
        ("AE", "USUBJID", "CrossReference", "Error", 2, ["S9"]),
        ("AE", "RDOMAIN", "CrossReference", "Error", 3, ["QQ", "xx", "zz"]),
    ]


def test_sdtm_registry_roundtrip_and_inference(spark):
    from trial_submission_studio_spark.standards.sdtm_domains import (
        DOMAINS,
        dump_registry_csv,
        load_registry_csv,
        supp_domain_for,
    )

    loaded = load_registry_csv(dump_registry_csv())
    assert set(loaded) == set(DOMAINS)
    assert loaded["DM"][0]["name"] == "STUDYID"
    supp = supp_domain_for("AE")
    assert supp["label"] == "Supplemental Qualifiers for AE"
    assert [v["name"] for v in supp["variables"]][:3] == ["STUDYID", "RDOMAIN", "USUBJID"]

    # registry drives rule inference directly
    ctx = NormalizationContext(study_id="ST", domain_code="AE")
    mappings = {"SUBJID": "SubjectId", "AETERM": "Term", "AESTDTC": "Start", "AESEV": "Sev"}
    rules = {r.target: r.transform for r in infer_rules(DOMAINS["AE"]["variables"], mappings, ctx)}
    assert rules["AESEQ"] == "sequence"
    assert rules["AESTDY"] == "study_day"
    assert rules["AESEV"] == "ct"


def test_full_registry_surface():
    """All 63 SDTM-IG v3.4 datasets with IG-shaped variable sets."""
    from trial_submission_studio_spark.standards.sdtm_domains import DOMAINS

    assert len(DOMAINS) == 63
    total = sum(len(d["variables"]) for d in DOMAINS.values())
    # EXACTLY the IG v3.4 inventory — not a superset (template extras
    # are pruned by _IG_TEMPLATE_OVERSHOOT; over-inclusion produced
    # spurious Expected-missing warnings)
    assert total == 1917, total
    assert all(
        len({v["name"] for v in d["variables"]}) == len(d["variables"])
        for d in DOMAINS.values()
    )
    # spot-check pruned shapes: EC has no VISIT block, RELSUB no DOMAIN
    assert "VISIT" not in {v["name"] for v in DOMAINS["EC"]["variables"]}
    assert "DOMAIN" not in {v["name"] for v in DOMAINS["RELSUB"]["variables"]}
    # mockdata-shaped studies need these beyond the original 12
    for code in ("PE", "PR", "QS", "DA", "EG", "CO", "SV", "SE", "TA", "TE",
                 "TV", "TI", "TS", "TU", "TR", "PC", "PP", "FA", "SR", "OI"):
        d = DOMAINS[code]
        names = [v["name"] for v in d["variables"]]
        assert "STUDYID" in names, code
        assert len(names) == len(set(names)), code
    # findings skeleton on QS (public IG v3.4 QS variable set)
    qs = {v["name"] for v in DOMAINS["QS"]["variables"]}
    assert {"QSTESTCD", "QSTEST", "QSCAT", "QSORRES", "QSSTRESC", "QSSTRESN",
            "QSBLFL", "QSDTC", "QSDY", "VISITNUM", "EPOCH"} <= qs


def test_infer_described_value_domain_tier():
    """Inference priority: name pattern > described value domain >
    codelist > dtype > copy (ported from reference inference.rs:288
    test_infer_datetime_from_described_value_domain and
    test_infer_duration_from_described_value_domain)."""
    ctx = NormalizationContext(study_id="ST", domain_code="XX")

    def one(var, mappings=None):
        rules = infer_rules([var], mappings or {var["name"]: "SRC"}, ctx)
        return rules[0].transform if rules else None

    base = {"name": "", "data_type": "Char", "codelist_code": "", "order": 1}
    # suffix wins even with a DVD present
    assert one({**base, "name": "CUSTOMDTC",
                "described_value_domain": "ISO 8601 datetime or interval"}) == "iso_datetime"
    # DVD tier: no DTC suffix, ISO-described → datetime ladder
    assert one({**base, "name": "CUSTOMVAR",
                "described_value_domain": "ISO 8601 datetime or interval"}) == "iso_datetime"
    # DVD date (no 'datetime' token)
    assert one({**base, "name": "CUSTOMVAR",
                "described_value_domain": "ISO 8601 date"}) == "iso_date"
    # DVD duration beats the datetime check
    assert one({**base, "name": "EXDURATION",
                "described_value_domain": "ISO 8601 duration"}) == "iso_duration"
    # DVD outranks codelist
    assert one({**base, "name": "CUSTOMVAR", "codelist_code": "C12345",
                "described_value_domain": "ISO 8601 datetime"}) == "iso_datetime"
    # codelist splits on ';'/',' and takes the first code
    rules = infer_rules(
        [{**base, "name": "CUSTOMVAR", "codelist_code": "C111; C222"}],
        {"CUSTOMVAR": "SRC"}, ctx,
    )
    assert rules[0].transform == "ct"
    assert rules[0].params["codelist_code"] == "C111"
    # dtype then copy
    assert one({**base, "name": "AGE", "data_type": "Num"}) == "numeric"
    assert one({**base, "name": "CUSTOMVAR"}) == "copy"
    # --SEQ must be domain-prefixed (XXSEQ yes, ABSEQ no)
    assert one({**base, "name": "XXSEQ"}) == "sequence"
    assert one({**base, "name": "ABSEQ"}) == "copy"


def test_validate_study_cross_domain_orchestra(spark):
    """One validate_study call surfaces ALL planted cross-domain
    violations (J1/J2/J3/J4/J5/J6), mirroring the reference's
    validate_cross_domain orchestration (validate/mod.rs:100-175)."""
    from trial_submission_studio_spark.study import Study, validate_study

    dm = values_df(spark, [("ST-01",), ("ST-02",)], "USUBJID string")
    ae = values_df(
        spark,
        [("ST-01", 1), ("ST-03", 1)],  # ST-03 not in DM -> J1
        "USUBJID string, AESEQ int",
    )
    relsub = values_df(
        spark,
        [("ST-01", "ST-99", "SIBLING")],  # RSUBJID not in DM -> J3; no reverse -> J4
        "USUBJID string, RSUBJID string, SREL string",
    )
    relspec = values_df(
        spark,
        [("ST-01", "SP1", "SP0", 1)],  # PARENT SP0 dangling -> J5
        "USUBJID string, REFID string, PARENT string, LEVEL int",
    )
    relrec = values_df(
        spark,
        [
            ("XX", "ST-01", "XXSEQ", "1", "REL1"),   # invalid RDOMAIN -> J2
            ("AE", "ST-01", "AESEQ", "99", "REL2"),  # missing record -> J6
        ],
        "RDOMAIN string, USUBJID string, IDVAR string, IDVARVAL string, RELID string",
    )
    study = Study(spark=spark, study_id="ST")
    frames = {"DM": dm, "AE": ae, "RELSUB": relsub, "RELSPEC": relspec,
              "RELREC": relrec}
    report = validate_study(study, frames)
    got = {(r["domain"], r["variable"], r["category"]) for r in report.collect()}
    assert ("AE", "USUBJID", "CrossReference") in got            # J1
    assert ("RELREC", "RDOMAIN", "CrossReference") in got        # J2
    assert ("RELSUB", "RSUBJID", "CrossReference") in got        # J3 + J4
    assert ("RELSPEC", "PARENT", "CrossReference") in got        # J5
    assert ("RELREC", "RDOMAIN=AE", "CrossReference") in got     # J6
    # J3 (Error) and J4 (Warning) are distinct rows on RSUBJID
    sevs = {r["severity"] for r in report.collect()
            if r["domain"] == "RELSUB" and r["variable"] == "RSUBJID"}
    assert sevs == {"Error", "Warning"}
