"""trial_submission_studio_spark — a PySpark-native analytics/ETL engine.

A from-scratch re-expression of the query and data-processing
capabilities of ``rubentalstra/Trial-Submission-Studio`` (a Rust/Polars
desktop app that converts clinical-trial EDC CSV exports into CDISC
SDTM submission packages), rebuilt Spark-first:

- every row-loop in the reference becomes a vectorized Column
  expression compiled into a single ``select`` (Catalyst/Tungsten
  whole-stage codegen);
- every HashSet membership probe becomes a broadcast/shuffle
  hash join;
- file row order is replaced by explicit, deterministic ordering
  keys carried from ingest.

Layers (mirrors the reference's crate split — SURVEY.md §7):

- :mod:`~trial_submission_studio_spark.sources`   — ingest (CSV incl.
  double-header, Items.csv metadata)         (≙ tss-ingest)
- :mod:`~trial_submission_studio_spark.standards` — controlled
  terminology / codelist registries          (≙ tss-standards)
- :mod:`~trial_submission_studio_spark.functions` — scalar transform
  expression library (T1–T14)                (≙ tss-submit/normalize)
- :mod:`~trial_submission_studio_spark.operators` — plan compiler,
  profiling, validation, reshape, dedup, similarity, text analysis
                                              (≙ tss-submit + extensions)
- :mod:`~trial_submission_studio_spark.streaming` — Structured
  Streaming windowed aggregation (extension; reference is batch-only)
"""

__version__ = "0.1.0"

from trial_submission_studio_spark.session import get_spark  # noqa: F401
