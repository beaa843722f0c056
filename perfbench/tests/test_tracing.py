import time

import tracing


class FakeContext:
    """Stands in for a SparkContext: records the job group per call."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def _nested_op(tracer):
    t0 = time.perf_counter()
    with tracer.span("op"):
        with tracer.span("study.export_study"):
            time.sleep(0.01)
            with tracer.span("validation.report"):
                with tracer.span("validation.validate_domain"):
                    time.sleep(0.02)
            time.sleep(0.01)
            with tracer.span("xpt.write"):
                time.sleep(0.01)
        with tracer.span("define_xml.write"):
            time.sleep(0.005)
    return time.perf_counter() - t0


def test_span_self_times_sum_to_op_wall():
    tracer = tracing.Tracer(FakeContext())
    tracer.op = 0
    wall = _nested_op(tracer)
    selfs = tracing.self_times(tracer.spans)
    root = tracer.spans[0]
    assert abs(sum(selfs.values()) - root.wall) < 1e-9
    assert all(v >= 0 for v in selfs.values())
    # what the spans miss of the measured wall is the tracer's own cost
    assert 0 <= wall - root.wall < 0.005


def test_job_groups_nest_and_the_export_gate_gets_its_own():
    ctx = FakeContext()
    tracer = tracing.Tracer(ctx)
    _nested_op(tracer)
    by_name = {s.name: s for s in tracer.spans}
    export = by_name["study.export_study"]
    assert export.gate_group == export.group + "-gate"
    # gate ends where export_study's next callee starts
    assert by_name["validation.report"].end <= export.gate_end <= by_name["xpt.write"].start
    assert ctx.groups[-1] is None  # the op leaves no job group behind
    assert len({s.group for s in tracer.spans}) == len(tracer.spans)


def test_event_log_totals_attribute_jobs_to_groups(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Accumulables": [{"Name": "data sent to Python workers"}],
            "RDD Info": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1300, "Getting Result Time": 0,
                       "Failed": False},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 1e8,
                          "Executor Deserialize Time": 50, "Result Serialization Time": 0,
                          "Input Metrics": {"Bytes Read": 10, "Records Read": 2}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "events_1").write_text("\n".join(json.dumps(e) for e in events))
    log = tracing.read_event_log(str(tmp_path))
    t = tracing.spark_totals(log, {"g"})
    assert (t.jobs, t.stages, t.tasks, t.python_tasks) == (1, 1, 1, 1)
    assert t.run_s == 0.2 and abs(t.delay_s - 0.05) < 1e-9 and t.records_read == 2
    assert tracing.spark_totals(log, {"other"}).jobs == 0
