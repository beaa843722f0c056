import os

import gen


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))
            if n.endswith(".csv")}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for workload in ("study_small", "preview_edit"):
        a = gen.generate(workload, 3, str(tmp_path / f"{workload}-a"))
        b = gen.generate(workload, 3, str(tmp_path / f"{workload}-b"))
        assert _files(tmp_path / f"{workload}-a") == _files(tmp_path / f"{workload}-b")
        assert a["issues"] == b["issues"] and a["missing_numeric"] == b["missing_numeric"]


def test_seeds_pick_different_studies(tmp_path):
    a = gen.generate("study_small", 1, str(tmp_path / "a"))
    b = gen.generate("study_small", 2, str(tmp_path / "b"))
    assert a["subjects"] != b["subjects"]


def test_manifest_states_every_planted_key_and_matching_rows(tmp_path):
    m = gen.generate("study_small", 5, str(tmp_path))
    assert set(m["issues"]) == {"DM|RFICDTC|Format", "AE|AESTDTC|Format",
                                "AE|USUBJID|CrossReference",
                                "RELREC|RDOMAIN=AE|CrossReference"}
    assert set(m["missing_numeric"]) == {"DM|AGE"}
    assert m["issues"]["AE|USUBJID|CrossReference"] >= 2
    assert m["issues"]["RELREC|RDOMAIN=AE|CrossReference"] >= 1
    assert len(m["subjects"]) == m["datasets"]["DM"]["rows"] == gen.STUDY_SUBJECTS
    for d in m["datasets"].values():
        with open(d["path"]) as fh:
            assert sum(1 for _ in fh) == d["rows"] + 2  # label and name rows
