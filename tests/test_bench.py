"""bench.py's cdisc stages time the public study lifecycle."""

import datetime as dt

import duckdb
import pandas as pd

import bench
from trial_submission_studio_spark import study

SF_DIR = "/root/testdata/sf0.001"
LIFECYCLE = ("create_study", "build_domain", "validate_study", "export_study")


def test_cdisc_stages_drive_the_study_lifecycle(spark, monkeypatch):
    calls: list[str] = []
    exported: dict[str, pd.DataFrame] = {}

    def spy(name):
        real = getattr(study, name)

        def wrapper(*args, **kwargs):
            calls.append(name)
            out = real(*args, **kwargs)
            if name == "export_study":
                # read back before the stage removes its work directory
                exported["AE"] = pd.read_sas(out["AE"], format="xport")
            return out

        return wrapper

    for name in LIFECYCLE:
        monkeypatch.setattr(study, name, spy(name))

    t: dict = {}
    bench._cdisc_stages(spark, SF_DIR, t)

    assert set(t) == {
        "cdisc_import_csv",
        "cdisc_build_pipeline",
        "cdisc_validate",
        "cdisc_export_xpt",
        "cdisc_rows",
    }
    assert t["cdisc_rows"] == 1500
    assert set(calls) == set(LIFECYCLE)

    # AESTDY comes from the per-subject DM join: every subject's
    # reference start is 1995-01-01, and SDTM has no day 0
    ae = exported["AE"]
    assert len(ae) == 1500 and ae["AESTDY"].notna().all()
    ref = dt.date(1995, 1, 1)
    dates = duckdb.sql(
        f"SELECT CAST(o_orderdate AS DATE) FROM read_parquet('{SF_DIR}/orders.parquet')"
    ).fetchall()
    days = [(d - ref).days for (d,) in dates]
    expected = sorted(n + 1 if n >= 0 else n for n in days)
    assert sorted(ae["AESTDY"].astype(int)) == expected
