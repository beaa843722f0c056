"""One op of each workload, driven through the public ``study.py`` API.

Every call into the engine goes through the ``study`` module's own
attributes (``S.create_study``, ``S.build_domain`` ...), so the traced
run's wrappers -- installed on those same attributes -- see exactly
the calls a GUI user's action makes. The ops never call Spark
themselves except where the user action does: ``collect()`` on the
validation report and on the 100-row preview.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

from trial_submission_studio_spark import study as S

PREVIEW_ROWS = 100


class NullTracer:
    """Tracing off: a span costs one Python call and records nothing."""

    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null


@dataclass
class OpResult:
    wall_s: float
    rows: int
    cpu_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


def _accept_all(st, manifest: dict) -> None:
    for code, spec in manifest["datasets"].items():
        for var, col in spec["mappings"].items():
            st.mappings[code].accept(var, col)


def _assignments(manifest: dict) -> dict[str, str]:
    return {code: d["path"] for code, d in manifest["datasets"].items()}


class StudyLifecycle:
    """create -> accept mappings -> build -> validate -> export, with a
    fresh study id per op (the expression memo misses, as it does
    across real studies)."""

    def __init__(self, spark, manifest: dict, out_root: str):
        self.spark = spark
        self.manifest = manifest
        self.out_root = out_root
        self.tracer = NullTracer()
        self.rows = sum(d["rows"] for d in manifest["datasets"].values())

    def run(self, op_id: int) -> OpResult:
        span = self.tracer.span
        study_id = f"PB{self.manifest['seed']}X{op_id}"
        out_dir = os.path.join(self.out_root, f"op{op_id}")
        t0 = time.perf_counter()
        with span("phase.create"):
            st = S.create_study(self.spark, study_id, _assignments(self.manifest))
            _accept_all(st, self.manifest)
        t1 = time.perf_counter()
        with span("phase.build"):
            dm = S.build_domain(st, "DM")
            frames = {"DM": dm}
            for code in self.manifest["datasets"]:
                if code != "DM":
                    frames[code] = S.build_domain(st, code, dm_frame=dm)
        t2 = time.perf_counter()
        with span("phase.validate"):
            report = S.validate_study(st, frames)
            with span("validation.collect"):
                issues = report.collect()
        t3 = time.perf_counter()
        with span("phase.export"):
            written = S.export_study(st, frames, out_dir, bypass_validation=True)
        t4 = time.perf_counter()
        return OpResult(
            wall_s=t4 - t0,
            rows=self.rows,
            phases={"create": t1 - t0, "build": t2 - t1, "validate": t3 - t2,
                    "export": t4 - t3},
            outputs={"study_id": study_id, "written": written, "out_dir": out_dir,
                     "issues": [r.asDict() for r in issues]},
        )

    @staticmethod
    def cleanup(result: OpResult) -> None:
        shutil.rmtree(result.outputs["out_dir"], ignore_errors=True)


class PreviewEdit:
    """The GUI's read-only edit loop on one fixed DM+AE study: remap one
    AE variable, rebuild AE against DM, collect a 100-row preview. The
    study id stays fixed, so the expression memo hits.

    ``rows`` counts DM and AE source rows: the preview's --SEQ window
    and the DM reference-date join read both sources whole on every op
    (the traced run's ``spark.input_records`` shows it)."""

    def __init__(self, spark, manifest: dict):
        self.spark = spark
        self.manifest = manifest
        self.tracer = NullTracer()
        self.study_id = f"PB{manifest['seed']}PV"
        self.study = S.create_study(spark, self.study_id, _assignments(manifest))
        _accept_all(self.study, manifest)
        self.dm = S.build_domain(self.study, "DM")
        self.rows = sum(d["rows"] for d in manifest["datasets"].values())

    def run(self, op_id: int) -> OpResult:
        span = self.tracer.span
        remaps = self.manifest["remaps"]
        var, col = remaps[(self.manifest["seed"] + op_id) % len(remaps)]
        t0 = time.perf_counter()
        with span("phase.preview"):
            self.study.mappings["AE"].accept(var, col)
            ae = S.build_domain(self.study, "AE", dm_frame=self.dm)
            with span("preview.collect"):
                rows = ae.limit(PREVIEW_ROWS).collect()
        wall = time.perf_counter() - t0
        return OpResult(
            wall_s=wall,
            rows=self.rows,
            phases={"preview": wall},
            outputs={"study_id": self.study_id, "rows": [r.asDict() for r in rows],
                     "mapping": dict(self.study.mappings["AE"].accepted_mappings())},
        )

    @staticmethod
    def cleanup(result: OpResult) -> None:
        pass
