"""Chunk-vector → document-vector pooling (mean / weighted mean,
applyInPandas, one shuffle)."""

import numpy as np
import pytest

from trial_submission_studio_spark.operators.embeddings import pool_embeddings
from trial_submission_studio_spark.sources.local import values_df


def _frame(spark, rows):
    return values_df(
        spark, rows, "doc_id bigint, vec array<double>, n_tokens bigint"
    )


def test_mean_pool_matches_numpy(spark):
    rows = [
        (1, [1.0, 2.0], 4),
        (1, [3.0, 4.0], 4),
        (1, [5.0, 6.0], 2),
        (2, [10.0, 20.0], 7),
    ]
    got = {
        r.doc_id: (r.vec, r.n_pooled)
        for r in pool_embeddings(_frame(spark, rows), "doc_id", "vec").collect()
    }
    assert got[1][1] == 3 and got[2][1] == 1
    np.testing.assert_allclose(got[1][0], [3.0, 4.0])
    np.testing.assert_allclose(got[2][0], [10.0, 20.0])


def test_weighted_pool_and_null_handling(spark):
    rows = [
        (1, [0.0, 0.0], 1),
        (1, [4.0, 8.0], 3),
        (2, None, 5),
    ]
    got = {
        r.doc_id: (r.vec, r.n_pooled)
        for r in pool_embeddings(
            _frame(spark, rows), "doc_id", "vec", weight_col="n_tokens"
        ).collect()
    }
    np.testing.assert_allclose(got[1][0], [3.0, 6.0])  # (0*1 + 4*3)/4
    assert got[2] == (None, 0)  # all-NULL group kept for provenance


def test_mixed_dims_raise(spark):
    df = _frame(spark, [(1, [1.0], 1), (1, [1.0, 2.0], 1)])
    with pytest.raises(Exception, match="mixed embedding dims"):
        pool_embeddings(df, "doc_id", "vec").collect()


def test_chunk_encode_pool_composition(spark):
    """chunks → (deterministic fake encoder) → pool: the long-document
    embedding path; pooled dim and provenance survive, and n_pooled
    equals the chunk count."""
    from pyspark.sql import functions as F

    chunks = values_df(
        spark,
        [
            (i, c, i + 1, f"w{i}_{c} w{i}_{c}x", 2)
            for i in range(5)
            for c in range(i + 1)
        ],
        "doc_id bigint, chunk_id int, n_chunks int, chunk string, n_tokens bigint",
    )
    encoded = chunks.withColumn(
        "vec",
        F.array(
            (F.xxhash64("chunk") % 1000).cast("double") / 1000.0,
            (F.xxhash64("chunk", F.lit(1)) % 1000).cast("double") / 1000.0,
        ),
    )
    pooled = pool_embeddings(encoded, "doc_id", "vec", weight_col="n_tokens")
    rows = {r.doc_id: r for r in pooled.collect()}
    assert set(rows) == set(range(5))
    n_chunks = {r.doc_id: r.n_chunks for r in chunks.select("doc_id", "n_chunks").distinct().collect()}
    for i in range(5):
        assert rows[i].n_pooled == n_chunks[i]
        assert len(rows[i].vec) == 2
