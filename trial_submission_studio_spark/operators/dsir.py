"""DSIR importance weights — the weighting half of Data Selection via
Importance Resampling (Xie et al., 2023) as DataFrame algebra.

Given a small TARGET corpus (the distribution you want — e.g.
Wikipedia+books) and a huge RAW corpus (web crawl), weight every raw
document by how much more likely its hashed-n-gram bag is under the
target distribution than under the raw distribution. Resampling on
those weights is left to the caller.

Pipeline shape (every stage a standard Spark shape):

1. ``hashed_ngram_counts``: word uni+bigrams → ``xxhash64 mod B``
   buckets (codegen explode + element_at, the `lm.py` hot-path
   discipline — no higher-order lambdas) → per-(doc, bucket) counts.
2. Fit: two groupBy-sum passes give the B-dimensional bucket
   distributions of target and raw (B ≈ 10⁴: the model is KBs —
   collected once, broadcast-joined back as a tiny table of
   per-bucket log-ratios with add-k smoothing).
3. ``dsir_log_weights``: one broadcast equi-join of the per-doc
   bucket counts against the log-ratio table + map-side-combined
   per-doc sum — ONE shuffle over data keyed by doc id.

Reference parity note: the reference engine
(rubentalstra/Trial-Submission-Studio) has no data-selection
surface; this extends the sampling/quality family (SURVEY.md §2.13)
beside the bigram-LM perplexity filter (`lm.py` — CCNet's recipe;
DSIR is its importance-sampling successor).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hashed_ngram_counts",
    "fit_bucket_distribution",
    "dsir_log_weights",
]


def _words(text_col: str) -> Column:
    t = F.lower(F.trim(F.col(text_col)))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def hashed_ngram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 10_000,
    bucket_expr=None,
) -> DataFrame:
    """→ ``(id, bucket, n)``: counts of word unigrams AND bigrams
    hashed into ``buckets`` (DSIR's feature space). Codegen shape:
    positions explode + element_at, bigram formed by string concat
    of adjacent words; both gram streams share one exploded frame.

    ``bucket_expr`` (``Column -> Column``, optional) swaps the gram →
    bucket hash; default ``pmod(xxhash64(gram), buckets)``. Any
    replacement must land in ``[0, buckets)`` — pass an
    engine-portable hash (e.g. an md5-hex-prefix conv) when a
    non-Spark system has to reproduce the feature space bit-for-bit."""
    exploded = (
        df.select(F.col(id_col), _words(text_col).alias("__toks"))
        .filter(F.size("__toks") >= 1)
        .select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(1), F.size("__toks"))).alias("__i"),
        )
        .select(
            id_col,
            F.element_at("__toks", F.col("__i")).alias("__w"),
            F.when(
                F.col("__i") < F.size("__toks"),
                F.concat(
                    F.element_at("__toks", F.col("__i")),
                    F.lit(" "),
                    F.element_at("__toks", F.col("__i") + 1),
                ),
            ).alias("__bg"),
        )
    )
    if bucket_expr is None:
        bucket_expr = lambda g: F.pmod(F.xxhash64(g), F.lit(buckets))  # noqa: E731
    grams = exploded.select(
        id_col, bucket_expr(F.col("__w")).alias("bucket")
    ).unionByName(
        exploded.filter(F.col("__bg").isNotNull()).select(
            id_col, bucket_expr(F.col("__bg")).alias("bucket")
        )
    )
    return grams.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def fit_bucket_distribution(
    counts: DataFrame, buckets: int, smoothing: float = 1.0
) -> list:
    """Per-doc bucket counts → smoothed log-probability vector
    (Python list of length ``buckets``; KBs — the DSIR "model").
    Add-k smoothing keeps never-seen buckets finite."""
    totals = {
        r["bucket"]: r["t"]
        for r in counts.groupBy("bucket")
        .agg(F.sum("n").alias("t"))
        .collect()
    }
    denom = sum(totals.values()) + smoothing * buckets
    return [
        math.log((totals.get(b, 0) + smoothing) / denom)
        for b in range(buckets)
    ]


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 10_000,
    smoothing: float = 1.0,
    bucket_expr=None,
) -> DataFrame:
    """→ raw ``(id, log_weight)``: Σ_b c_b·(log p_target(b) −
    log p_raw(b)). The log-ratio table is ``buckets`` rows —
    broadcast; the only corpus-scale shuffle is the per-doc sum.
    ``bucket_expr`` passes through to :func:`hashed_ngram_counts`."""
    spark = raw.sparkSession
    raw_counts = hashed_ngram_counts(raw, id_col, text_col, buckets, bucket_expr)
    tgt_counts = hashed_ngram_counts(target, id_col, text_col, buckets, bucket_expr)
    log_t = fit_bucket_distribution(tgt_counts, buckets, smoothing)
    log_r = fit_bucket_distribution(raw_counts, buckets, smoothing)
    # pandas + Arrow: the frame lands JVM-side as a LocalTableScan —
    # a plain list createDataFrame parallelizes and pays a
    # Python-worker task (~250 ms protocol latency) on every action
    # that touches the broadcast build side
    import pandas as _pd

    ratio = spark.createDataFrame(
        _pd.DataFrame(
            {
                "bucket": _pd.Series(range(buckets), dtype="int64"),
                "log_ratio": _pd.Series(
                    [log_t[b] - log_r[b] for b in range(buckets)],
                    dtype="float64",
                ),
            }
        ),
        "bucket bigint, log_ratio double",
    )
    return (
        raw_counts.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("n") * F.col("log_ratio")).alias("log_weight"))
    )
