"""Focused pins for the r16 optimization-round internals:

- widen_if_narrow's cheap guard (analyzed-plan + file-grain probe)
  must widen narrow parquet, skip shuffled lineage, and never be
  fooled by empty byte-splits of a single-row-group file;
- the XPT writer's grouped-parallel partition fetch must keep byte
  order across many partitions and tiny group budgets;
- the mapInArrow SimHash kernel must match the retained pandas
  kernel bit-for-bit (NULL/empty/long docs);
- validation issue frames must build on ONE slice (each action on a
  handful of rows previously paid defaultParallelism Python-worker
  round trips).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_widen_fires_on_single_rowgroup_parquet(spark, tmp_path):
    from trial_submission_studio_spark.operators.partitioning import (
        widen_if_narrow,
    )

    p = str(tmp_path / "one_rg")
    spark.range(0, 10_000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = widen_if_narrow(df, "id")
    assert "RepartitionByExpression" in _analyzed(out)


def test_widen_skips_shuffled_lineage(spark, tmp_path):
    from pyspark.sql import Window

    from trial_submission_studio_spark.operators.partitioning import (
        widen_if_narrow,
    )

    p = str(tmp_path / "win_src")
    spark.range(0, 1000).withColumn("k", F.col("id") % 7).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    w = df.withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
    out = widen_if_narrow(w, "id")
    assert out is w  # lineage already behind a shuffle: no extra exchange
    agg = df.groupBy("k").count()
    assert widen_if_narrow(agg, "k") is agg


def test_widen_counts_row_groups_not_byte_splits(spark, tmp_path):
    """A 32-byte-split scan of a 1-row-group file is ONE real task;
    the guard must widen regardless of the split count (the r16
    mid-round regression: t9 went 0.47 -> 1.52 s when byte splits
    satisfied the old partition-count check)."""
    from trial_submission_studio_spark.operators.partitioning import (
        _scan_parallelism,
    )

    p = str(tmp_path / "one_rg2")
    spark.range(0, 50_000).selectExpr("id", "repeat('x', 50) AS pad").coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    files = df.inputFiles()
    assert len(files) == 1
    eff = _scan_parallelism(spark, files, slots=32)
    assert eff == 1  # one row group == one real task


def test_widen_csv_splits_are_real(spark, tmp_path):
    """Splittable text sources really do parallelize per byte split,
    so the guard must credit them (Spark's own split formula)."""
    from trial_submission_studio_spark.operators.partitioning import (
        _scan_parallelism,
    )

    p = tmp_path / "big.csv"
    with open(p, "w") as fh:
        fh.write("a,b\n")
        for i in range(200_000):
            fh.write(f"{i},{'x' * 40}\n")
    df = spark.read.option("header", "true").csv(str(p))
    eff = _scan_parallelism(spark, df.inputFiles(), slots=32)
    assert eff is not None and eff > 1


def test_xpt_grouped_fetch_many_partitions(spark, tmp_path):
    """Byte-identical output across partition counts: the member's
    collect must preserve partition order (= frame row order)."""
    from trial_submission_studio_spark.io.xpt import XptVariable, write_xpt

    rows = [(f"S{i:05d}", float(i) if i % 7 else None) for i in range(5000)]
    df = spark.createDataFrame(rows, "C string, N double").orderBy("C")
    variables = [XptVariable("C", "Char", False, 6), XptVariable("N", "Num", True)]
    ref = str(tmp_path / "one.xpt")
    write_xpt(df.coalesce(1), ref, variables, "G")
    wide = str(tmp_path / "wide.xpt")
    write_xpt(
        df.repartitionByRange(20, "C").sortWithinPartitions("C"),
        wide,
        variables,
        "G",
    )
    assert open(ref, "rb").read() == open(wide, "rb").read()


def test_simhash_arrow_kernel_matches_pandas_kernel(spark):
    from pyspark.sql.types import LongType, StructType

    from trial_submission_studio_spark.operators.dedup import (
        _simhash_kernel,
        simhash64,
        token_hashes,
    )

    texts = [
        "hello world", "", None, "a", "the same the same", "x " * 500,
    ] + [f"doc {i} body {'w%d ' % (i % 7) * (i % 40)}" for i in range(500)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(4)
    src = df.select("doc_id", token_hashes("text").alias("__h"))
    new = {r["doc_id"]: r["simhash64"] for r in simhash64(src, "__h").collect()}
    fields = [f for f in src.schema.fields if f.name != "__h"]
    out_schema = StructType(list(fields)).add("simhash64", LongType())
    old = {
        r["doc_id"]: r["simhash64"]
        for r in src.mapInPandas(
            _simhash_kernel("__h", "simhash64", [f.name for f in fields]),
            out_schema,
        ).collect()
    }
    assert new == old


def test_issue_frames_single_slice(spark):
    from trial_submission_studio_spark.operators.validation import (
        VariableSpec,
        validate_domain,
    )

    df = spark.createDataFrame(
        [("S1", None), ("S2", "x" * 50)], "USUBJID string, AETERM string"
    )
    issues = validate_domain(
        df, "AE", [VariableSpec("USUBJID", core="Req"), VariableSpec("AETERM", length=10)]
    )
    assert issues.rdd.getNumPartitions() == 1
    assert issues.count() >= 1
