"""Column profiling aggregations (SURVEY.md §2.4 A1–A4, A9, A10).

The reference computes per-column hints (null ratio, unique ratio,
numeric ratio) and role-detection statistics with full-column scans
(tss-ingest/src/hints.rs:14-134, metadata/detection.rs:60-131). Here
each profile is **one** pass over the table: a single ``agg`` with
every per-column statistic as an expression, so Spark scans the
parquet once regardless of column count.

Scale note: ``approx_count_distinct`` is the default cardinality
estimator (HLL, no shuffle of distinct values); exact
``countDistinct`` is opt-in for the small correctness-checked paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _nonblank(c: Column) -> Column:
    return c.isNotNull() & (F.trim(c.cast("string")) != "")


def column_hints(df: DataFrame, columns: list[str] | None = None, exact: bool = False) -> DataFrame:
    """One row per profiled column: n, nulls, null_ratio, distinct,
    unique_ratio, numeric_ratio, max_len, avg_len (A1/A2/A4)."""
    columns = columns or df.columns
    distinct = F.countDistinct if exact else F.approx_count_distinct
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        col = F.col(c)
        s = F.trim(col.cast("string"))
        nonblank = _nonblank(col)
        aggs += [
            F.sum(F.when(~nonblank, 1).otherwise(0)).alias(f"{c}__nulls"),
            distinct(F.when(nonblank, s)).alias(f"{c}__distinct"),
            F.sum(F.when(s.try_cast("double").isNotNull(), 1).otherwise(0)).alias(
                f"{c}__numeric"
            ),
            F.max(F.length(s)).alias(f"{c}__max_len"),
            F.avg(F.when(nonblank, F.length(s))).alias(f"{c}__avg_len"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    n = row["__n"]
    spark = df.sparkSession
    out = []
    for c in columns:
        nulls = row[f"{c}__nulls"] or 0
        nonnull = n - nulls
        out.append(
            (
                c,
                n,
                nulls,
                (nulls / n) if n else 0.0,
                row[f"{c}__distinct"] or 0,
                (row[f"{c}__distinct"] / nonnull) if nonnull else 0.0,
                (row[f"{c}__numeric"] / nonnull) if nonnull else 0.0,
                row[f"{c}__max_len"],
                float(row[f"{c}__avg_len"]) if row[f"{c}__avg_len"] is not None else None,
            )
        )
    # literal VALUES relation (sources/local.py): pure JVM — a list
    # createDataFrame pays a Python-worker task per downstream action
    from trial_submission_studio_spark.sources.local import values_df

    return values_df(
        spark,
        out,
        "column string, n long, nulls long, null_ratio double, distinct long, "
        "unique_ratio double, numeric_ratio double, max_len int, avg_len double",
    )


def numeric_profile(
    df: DataFrame,
    columns: list[str],
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 10000,
    exact: bool = False,
) -> DataFrame:
    """Per-numeric-column distribution profile in ONE table pass:
    count, mean, stddev, min, max, and the requested quantiles.

    Default is ``percentile_approx`` (GK sketch, mergeable map-side —
    the 100 TB path: no shuffle of values, error bounded by
    ``1/accuracy``); ``exact=True`` switches to the exact
    ``percentile`` aggregate for small correctness-checked frames.
    All statistics for all columns ride one ``agg``, so the scan
    happens once however many columns are profiled.
    """
    if not columns:
        raise ValueError("need at least one column")
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    pct = (
        (lambda c: F.percentile(c, qarr))
        if exact
        else (lambda c: F.percentile_approx(c, qarr, F.lit(accuracy)))
    )
    aggs: list[Column] = []
    for c in columns:
        col = F.col(c).cast("double")
        aggs += [
            F.count(col).alias(f"{c}__n"),
            F.avg(col).alias(f"{c}__mean"),
            F.stddev(col).alias(f"{c}__std"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
            pct(col).alias(f"{c}__q"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    out = []
    for c in columns:
        qs = row[f"{c}__q"] or [None] * len(quantiles)
        out.append(
            (
                c,
                row[f"{c}__n"],
                row[f"{c}__mean"],
                row[f"{c}__std"],
                row[f"{c}__min"],
                row[f"{c}__max"],
                [float(v) if v is not None else None for v in qs],
            )
        )
    from trial_submission_studio_spark.sources.local import values_df

    return values_df(
        df.sparkSession,
        out,
        "column string, n long, mean double, std double, min double, "
        "max double, quantiles array<double>",
    )


def distinct_samples(df: DataFrame, column: str, n: int = 5) -> DataFrame:
    """A3: first n distinct non-blank values, sorted (reference uses a
    BTreeSet — hints.rs:105-134)."""
    c = F.col(column)
    return (
        df.select(F.trim(c.cast("string")).alias(column))
        .filter(_nonblank(c))
        .distinct()
        .orderBy(column)
        .limit(n)
    )


def max_observed_length(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """A4/A9 in one pass: {column: max right-trimmed length}, 0 when the
    column holds no non-blank value (reference: export/common.rs:83-119).

    Export reads both facts from this one aggregate: the XPT/Define-XML
    Char length is ``max(n, 1)`` and the has-data flag is ``n > 0``
    (Spark's ``rtrim`` strips the same character ``trim`` does, so a
    positive right-trimmed length is exactly "non-blank")."""
    if not columns:
        return {}
    aggs = [
        F.max(F.length(F.rtrim(F.col(c).cast("string")))).alias(c) for c in columns
    ]
    row = df.agg(*aggs).collect()[0].asDict()
    return {c: int(row[c] or 0) for c in columns}
