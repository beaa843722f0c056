"""Pins for the r17 optimization round:

- the fragile equivalences the r16 verdict flagged (footer row count
  == count(), candidate-pair distinctness behind the merged gate
  aggregates);
- the csv_reader _row_id arithmetic (window-free) against a reference
  enumeration;
- the JVM-literal issue frames (schema + content parity with the
  createDataFrame path, and zero Python stages in the plan);
- the single-exchange compile_pipeline plan shape.
"""

import pyspark.sql.functions as F
import pytest

SF_SMOKE = "/root/testdata/sf0.001"


def test_parquet_footer_count_equals_spark_count(spark):
    """simhash_fingerprints derives n_docs from the parquet footer;
    that is only valid while footer num_rows == count() on the same
    file (r16 verdict "What's wrong #3" — pin it)."""
    import __spark_entry__ as entrymod

    footer = entrymod._parquet_row_count(f"{SF_SMOKE}/documents.parquet")
    counted = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert footer == counted


def test_simhash_corpus_is_documents_plus_planted(spark):
    """The gate's n_docs = |documents| + n_planted identity: corpus
    must stay 'unfiltered documents UNION 1:1 planted'."""
    import __spark_entry__ as entrymod

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = d.unionByName(entrymod._planted_docs(d, 10, " zq"))
    n_planted = d.filter(F.col("doc_id") % 10 == 0).count()
    assert corpus.count() == d.count() + n_planted


def test_lsh_candidate_pairs_distinct(spark):
    """The merged recall-gate aggregate (count(__hit) after a left
    join) is equivalent to the old inner-join count ONLY while both
    sides are distinct pairs — pin the candidate side."""
    from trial_submission_studio_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    sig = minhash_signatures(d, "doc_id", "text", k=5, num_hashes=32)
    cands = lsh_candidate_pairs(sig, "doc_id", bands=8, rows_per_band=4)
    n = cands.count()
    assert n == cands.distinct().count()


def test_simhash_hamming_pairs_distinct(spark):
    from trial_submission_studio_spark.operators.dedup import (
        simhash64,
        simhash_hamming_pairs,
        token_hashes,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    fp = simhash64(d.select("doc_id", token_hashes("text").alias("__h")), "__h")
    pairs = simhash_hamming_pairs(fp, max_hamming=3)
    assert pairs.count() == pairs.distinct().count()


def test_csv_row_id_window_free_and_dense(spark, tmp_path):
    """_row_id from monotonically_increasing_id arithmetic: dense,
    1-based, file order — and the plan carries NO Window/Exchange."""
    from trial_submission_studio_spark.sources.csv_reader import read_source_csv

    p = str(tmp_path / "rows.csv")
    with open(p, "w") as fh:
        fh.write("Subject,Val\nSubjectId,VAL\n")
        for i in range(5000):
            fh.write(f"S-{i},{i}\n")
    src = read_source_csv(spark, p, header_rows=2)
    analyzed = src.df._jdf.queryExecution().analyzed().toString()
    assert "Window" not in analyzed
    rows = src.df.select("SubjectId", "_row_id").orderBy("_row_id").collect()
    assert [r["_row_id"] for r in rows] == list(range(1, 5001))
    assert rows[0]["SubjectId"] == "S-0"
    assert rows[4999]["SubjectId"] == "S-4999"


def test_issue_frame_jvm_literal_parity(spark):
    """inline(array(struct(...))) issue frames: same columns, same
    rows as the createDataFrame path, no Python eval in the plan."""
    from trial_submission_studio_spark.operators.validation import (
        ISSUE_SCHEMA,
        _issue_frame,
    )

    rows = [
        ("AE", "AESTDTC", "Format", "Error", 3, ["x", "y"]),
        ("AE", "AESEQ", "Consistency", "Error", 1, []),
        ("AE", "AETERM", "Presence", "Warning", 7, None),
        # literal-escaping edges: quotes, backslashes, unicode,
        # newline (the frame is one parsed SQL expression)
        ("AE", "AEDECOD", "Format", "Error", 2, ["o'brien", "a\\b", "µ\n"]),
    ]
    fast = _issue_frame(spark, rows)
    ref = spark.createDataFrame(rows, ISSUE_SCHEMA)
    assert fast.columns == ref.columns
    assert [tuple(r) for r in fast.collect()] == [
        tuple(r) for r in ref.collect()
    ]
    assert fast.dtypes == ref.dtypes
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython

    empty = _issue_frame(spark, [])
    assert empty.columns == ref.columns
    assert empty.dtypes == ref.dtypes
    assert empty.count() == 0


def test_issue_frame_large_fallback(spark):
    from trial_submission_studio_spark.operators.validation import _issue_frame

    rows = [("D", f"V{i}", "Format", "Error", i, []) for i in range(300)]
    df = _issue_frame(spark, rows)
    assert df.count() == 300
    assert df.rdd.getNumPartitions() == 1


def test_compile_pipeline_single_exchange_with_seq(spark, tmp_path):
    """The widen keys on the --SEQ window's partition expression, so
    a narrow source compiles to ONE shuffle exchange (guide §2.4)."""
    from trial_submission_studio_spark.operators.normalize import (
        NormalizationContext,
        Rule,
        compile_pipeline,
    )

    p = str(tmp_path / "src")
    spark.range(0, 2000).select(
        F.col("id").alias("ORD"),
        (F.col("id") % 50).cast("string").alias("SUBJ"),
        F.lit("2021-01-02").alias("DTRAW"),
    ).coalesce(1).write.parquet(p)
    src = spark.read.parquet(p)
    ctx = NormalizationContext(
        study_id="S1", domain_code="XX", order_col="ORD", subject_col="SUBJ"
    )
    rules = [
        Rule("STUDYID", "constant", params={"value": "S1"}, order=1),
        Rule("USUBJID", "usubjid_prefix", source="SUBJ", order=2),
        Rule("XXSEQ", "sequence", order=3),
        Rule("XXSTDTC", "iso_datetime", source="DTRAW", order=4),
    ]
    out = compile_pipeline(src, rules, ctx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    # and the numbering is still per-subject 1..N in ORD order
    got = {
        (r["USUBJID"], r["XXSEQ"])
        for r in out.select("USUBJID", "XXSEQ").collect()
    }
    assert ("S1-0", 1) in got and ("S1-0", 40) in got
    assert len(got) == 2000


def test_xpt_grouped_fetch_stats_sized(spark, tmp_path):
    """Byte-identical XPT output at 1 vs 20 partitions of a
    range-derived frame."""
    from trial_submission_studio_spark.io.xpt import XptVariable, write_xpt

    cols = [
        XptVariable("USUBJID", "Subject", False, 10),
        XptVariable("XSEQ", "Seq", True),
    ]
    blobs = {}
    for n_parts in (1, 20):
        df = spark.range(0, 3000, 1, n_parts).select(
            F.concat(F.lit("S"), F.col("id")).alias("USUBJID"),
            (F.col("id") % 9).cast("double").alias("XSEQ"),
        )
        path = str(tmp_path / f"out_{n_parts}.xpt")
        n = write_xpt(df, path, cols, "XX", "Test")
        assert n == 3000
        with open(path, "rb") as fh:
            blobs[n_parts] = fh.read()
    assert blobs[1] == blobs[20]
