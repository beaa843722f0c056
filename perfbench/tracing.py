"""Traced run: one span per call into the engine's layers.

The engine is measured from outside. :func:`install` wraps the
functions ``study.py`` calls -- on the module attributes it looks them
up through -- so each call records a span (name, start, end, parent,
op id). Every span runs under its own Spark job group, and Spark's
event log (enabled for the traced run only) is read afterwards to give
each span its jobs, stages, tasks, executor time and bytes.

Spans live in memory until the run ends. A span's *self* time is its
wall time minus its children's, so the self times of one op's spans
sum to the op's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from trial_submission_studio_spark import study as S
from trial_submission_studio_spark.mapping import MappingState
from trial_submission_studio_spark.standards import ct_catalog

#: (module, attribute, span name): what ``study.py`` calls, by layer
TARGETS = [
    (S, "read_source_csv", "sources.read_csv"),
    (S, "infer_rules", "normalize.infer_rules"),
    (S, "compile_pipeline", "normalize.compile"),
    (S, "validate_domain", "validation.validate_domain"),
    (S, "duplicate_sequence_issues", "validation.duplicate_sequence"),
    (S, "usubjid_not_in_dm", "validation.usubjid_in_dm"),
    (S, "rdomain_invalid", "validation.rdomain"),
    (S, "relrec_invalid_references", "validation.relrec_refs"),
    (S, "melt_domain_keys", "validation.melt_keys"),
    (S, "max_observed_length", "profiling.max_len"),
    (S, "write_xpt", "xpt.write"),
    (S, "write_define_xml", "define_xml.write"),
    (S, "create_study", "study.create_study"),
    (S, "build_domain", "study.build_domain"),
    (S, "validate_study", "validation.report"),
    (S, "export_study", "study.export_study"),
    (ct_catalog, "builtin_lookup_df", "standards.ct_lookup"),
    (ct_catalog, "builtin_ct_versions", "standards.ct_versions"),
]
#: the export gate: the re-validation inside export_study, then its count()
GATE_PARENT, GATE_CHILD = "study.export_study", "validation.report"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    epoch_ms: float
    group: str
    end: float = 0.0
    gate_group: str | None = None
    gate_end: float | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans; each span's Spark jobs run under its own job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []

    def _set_group(self, group: str | None, name: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is not None and parent.gate_group and parent.gate_end is None:
            parent.gate_end = time.perf_counter()
        sid = len(self.spans)
        s = Span(sid, name, parent.id if parent else None, self.op,
                 time.perf_counter(), time.time() * 1000, f"pb-span-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._set_group(None)
            elif name == GATE_CHILD and parent.name == GATE_PARENT:
                # jobs export_study runs between the re-validation and its
                # next callee (the error count) belong to the gate
                parent.gate_group = parent.group + "-gate"
                self._set_group(parent.gate_group, parent.name)
            else:
                self._set_group(parent.group, parent.name)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def install(tracer: Tracer):
    """Wrap every target; return a function that restores the originals."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in TARGETS]
    for mod, attr, name in TARGETS:
        setattr(mod, attr, _wrap(tracer, name, getattr(mod, attr)))
    new = MappingState.__dict__["new"]
    MappingState.new = classmethod(_wrap(tracer, "mapping.suggest", new.__func__))

    def uninstall() -> None:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
        MappingState.new = new

    return uninstall


# --- Spark event log ---------------------------------------------------------


@dataclass
class StageStats:
    tasks: int = 0
    failed: int = 0
    python: bool = False
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    delay_ms: float = 0.0
    shuffle_write: float = 0.0
    bytes_read: float = 0.0
    records_read: float = 0.0


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id -> group, stages, t0, t1
    stages: dict[int, StageStats] = field(default_factory=dict)


PYTHON_ACCUMULABLES = ("data sent to Python workers", "time to run Python workers")


def read_event_log(log_dir: str) -> EventLog:
    """Parse every event-log file under ``log_dir`` (rolling or not)."""
    log = EventLog()
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    log.jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "stages": ev["Stage IDs"], "t0": ev["Submission Time"], "t1": None}
                elif kind == "SparkListenerJobEnd":
                    log.jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = log.stages.setdefault(info["Stage ID"], StageStats())
                    names = {a.get("Name") for a in info.get("Accumulables", [])}
                    rdds = {r.get("Name") for r in info.get("RDD Info", [])}
                    st.python = bool(names.intersection(PYTHON_ACCUMULABLES)) or "PythonRDD" in rdds
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(ev["Stage ID"], StageStats())
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.failed += bool(info.get("Failed"))
                    run = m.get("Executor Run Time", 0)
                    st.run_ms += run
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    getting = (info["Finish Time"] - info["Getting Result Time"]
                               if info.get("Getting Result Time") else 0)
                    st.delay_ms += max(0, info["Finish Time"] - info["Launch Time"] - run
                                       - m.get("Executor Deserialize Time", 0)
                                       - m.get("Result Serialization Time", 0) - getting)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    st.bytes_read += inp.get("Bytes Read", 0)
                    st.records_read += inp.get("Records Read", 0)
    return log


@dataclass
class SparkTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    python_tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    delay_s: float = 0.0
    shuffle_write: float = 0.0
    bytes_read: float = 0.0
    records_read: float = 0.0
    intervals: list = field(default_factory=list)


def spark_totals(log: EventLog, groups: set[str]) -> SparkTotals:
    """Jobs, stages and task metrics of every job run under ``groups``."""
    t = SparkTotals()
    seen: set[int] = set()
    for job in log.jobs.values():
        if job["group"] not in groups:
            continue
        t.jobs += 1
        t.intervals.append((job["t0"], job["t1"] or job["t0"]))
        for sid in job["stages"]:
            st = log.stages.get(sid)
            if st is None or st.tasks == 0 or sid in seen:
                continue  # skipped (reused shuffle) or counted by another job
            seen.add(sid)
            t.stages += 1
            t.tasks += st.tasks
            t.python_tasks += st.tasks if st.python else 0
            t.failed_tasks += st.failed
            t.run_s += st.run_ms / 1000
            t.cpu_s += st.cpu_ns / 1e9
            t.delay_s += st.delay_ms / 1000
            t.shuffle_write += st.shuffle_write
            t.bytes_read += st.bytes_read
            t.records_read += st.records_read
    return t


def _covered_ms(intervals: list) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


# --- per-op and per-layer figures ---------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall time minus the wall time of its children."""
    out = {s.id: s.wall for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.wall
    return out


def _descendants(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def _groups(spans: list[Span]) -> set[str]:
    return {g for s in spans for g in (s.group, s.gate_group) if g}


def op_figures(spans: list[Span], log: EventLog, csv_bytes: int, xpt_bytes: int) -> dict:
    """The per-layer figures of one traced op; ``spans`` are that op's."""
    root = next(s for s in spans if s.parent is None)
    selfs = self_times(spans)

    def named(name, pred=lambda s: True):
        return [s for s in spans if s.name == name and pred(s)]

    def incl(found):
        sub = [d for s in found for d in _descendants(spans, s)]
        return sum(s.wall for s in found), spark_totals(log, _groups(sub))

    by_id = {s.id: s for s in spans}

    def under_export(s):
        return s.parent is not None and by_id[s.parent].name == GATE_PARENT

    f: dict[str, float] = {}
    for key, name in [("sources.read_csv", "sources.read_csv"),
                      ("normalize.compile", "normalize.compile"),
                      ("validation.collect", "validation.collect"),
                      ("profiling.max_len", "profiling.max_len"),
                      ("xpt.write", "xpt.write")]:
        f[key + ".s"], tot = incl(named(name))
        f[key + ".jobs"] = tot.jobs
        if key == "xpt.write":
            f["xpt.python_tasks"] = tot.python_tasks
            f["xpt.bytes_per_s"] = xpt_bytes / f["xpt.write.s"] if f["xpt.write.s"] else 0.0
    f["mapping.suggest.s"], _ = incl(named("mapping.suggest"))
    f["mapping.suggest.calls"] = len(named("mapping.suggest"))
    f["standards.ct_lookup.s"], _ = incl(named("standards.ct_lookup"))
    f["normalize.infer_rules.s"], _ = incl(named("normalize.infer_rules"))
    f["define_xml.write.s"], _ = incl(named("define_xml.write"))

    report = named("validation.report", lambda s: not under_export(s))
    f["validation.report.s"], tot = incl(report)
    f["validation.report.jobs"] = tot.jobs
    val_bytes = tot.bytes_read + incl(named("validation.collect"))[1].bytes_read
    f["validation.scans_per_domain"] = val_bytes / csv_bytes if csv_bytes else 0.0

    gate_s, gate_jobs = 0.0, 0
    for exp in named(GATE_PARENT):
        inner = named(GATE_CHILD, lambda s, e=exp: s.parent == e.id)
        sub = [d for s in inner for d in _descendants(spans, s)]
        groups = _groups(sub) | ({exp.gate_group} if exp.gate_group else set())
        gate_jobs += spark_totals(log, groups).jobs
        gate_s += (exp.gate_end or exp.end) - exp.start
    f["study.export_gate.s"], f["study.export_gate.jobs"] = gate_s, gate_jobs

    layers: dict[str, float] = {}
    for s in spans:
        layers[s.layer] = layers.get(s.layer, 0.0) + selfs[s.id]
    f["study.self_s"] = layers.get("study", 0.0)
    # the benchmark's own spans (op, phase.*) hold only loop glue
    f["trace.bench_self_s"] = layers.get("op", 0.0) + layers.get("phase", 0.0)

    tot = spark_totals(log, _groups(spans))
    f.update({
        "spark.jobs": tot.jobs, "spark.stages": tot.stages, "spark.tasks": tot.tasks,
        "spark.python_tasks": tot.python_tasks, "spark.failed_tasks": tot.failed_tasks,
        "spark.executor_run_s": tot.run_s, "spark.executor_cpu_s": tot.cpu_s,
        "spark.scheduler_delay_s": tot.delay_s, "spark.shuffle_write_bytes": tot.shuffle_write,
        "spark.input_records": tot.records_read,
        "spark.driver_s": max(0.0, root.wall - _covered_ms(tot.intervals) / 1000),
        "sources.read_amplification": tot.bytes_read / csv_bytes if csv_bytes else 0.0,
    })
    f["layers"] = layers
    return f


def medians(rows: list[dict]) -> dict[str, float]:
    keys = [k for k in rows[0] if k != "layers"]
    return {k: statistics.median(r[k] for r in rows) for k in keys}


def layer_table(rows: list[dict]) -> str:
    """Median self time per layer over the traced ops, as text."""
    names = sorted({k for r in rows for k in r["layers"]})
    med = {n: statistics.median(r["layers"].get(n, 0.0) for r in rows) for n in names}
    total = sum(med.values()) or 1.0
    lines = [f"{'layer':<14}{'self_s':>10}{'share':>8}"]
    for n in sorted(names, key=lambda n: -med[n]):
        lines.append(f"{n:<14}{med[n]:>10.4f}{med[n] / total:>8.1%}")
    return "\n".join(lines)
