"""The checker against real engine outputs, and against broken copies."""

import pytest

import check
import gen
import lifecycle
import tracing


@pytest.fixture(scope="module")
def study_op(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("study")
    m = gen.generate("study_small", 22, str(d / "data"))
    return m, lifecycle.StudyLifecycle(spark, m, str(d / "out")).run(0)


def test_checker_accepts_the_engine_outputs(study_op):
    m, r = study_op
    assert check.check_study(m, r.outputs) == []


def test_checker_rejects_a_truncated_xpt(study_op, tmp_path):
    m, r = study_op
    with open(r.outputs["written"]["AE"], "rb") as fh:
        data = fh.read()
    cut = tmp_path / "ae.xpt"
    cut.write_bytes(data[: len(data) - 10 * 80])  # drop ten 80-byte records
    written = dict(r.outputs["written"], AE=str(cut))
    fails = check.check_study(m, dict(r.outputs, written=written))
    assert any(f.startswith("AE:") for f in fails)


def test_checker_rejects_a_wrong_issue_count(study_op):
    m, r = study_op
    issues = [dict(i) for i in r.outputs["issues"]]
    row = next(i for i in issues if i["variable"] == "AESTDTC")
    row["count"] += 1
    fails = check.check_study(m, dict(r.outputs, issues=issues))
    assert len(fails) == 1 and fails[0].startswith("issue AE|AESTDTC|Format|Error")


def test_checker_rejects_a_missing_planted_issue(study_op):
    m, r = study_op
    issues = [i for i in r.outputs["issues"] if i["variable"] != "RDOMAIN=AE"]
    assert check.check_study(m, dict(r.outputs, issues=issues))


def test_preview_is_checked_and_wrappers_add_no_spark_jobs(spark, tmp_path):
    m = gen.generate("preview_edit", 2, str(tmp_path))
    wl = lifecycle.PreviewEdit(spark, m)
    index = check.preview_index(m)
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()

    sc.setJobGroup("pb-plain", "untraced op")
    plain = wl.run(0)
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert check.check_preview(index, plain.outputs, lifecycle.PREVIEW_ROWS) == []
    bad = [dict(row) for row in plain.outputs["rows"]]
    bad[7]["AETERM"] += "x"
    assert check.check_preview(index, dict(plain.outputs, rows=bad), lifecycle.PREVIEW_ROWS)

    tracer = tracing.Tracer(sc)
    uninstall = tracing.install(tracer)
    wl.tracer = tracer
    try:
        with tracer.span("op"):
            traced = wl.run(0)  # the same remap as the untraced op
    finally:
        uninstall()
        wl.tracer = lifecycle.NullTracer()
    assert check.check_preview(index, traced.outputs, lifecycle.PREVIEW_ROWS) == []
    plain_jobs = len(tracker.getJobIdsForGroup("pb-plain"))
    traced_jobs = sum(len(tracker.getJobIdsForGroup(s.group)) for s in tracer.spans)
    assert plain_jobs == traced_jobs > 0
