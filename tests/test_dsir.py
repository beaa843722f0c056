"""DSIR importance-weight tests: feature counts vs a Python
reference, log-weight math vs numpy, and the plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from trial_submission_studio_spark.operators.dsir import (
    dsir_log_weights,
    fit_bucket_distribution,
    hashed_ngram_counts,
)

B = 64  # tiny bucket space so collisions are exercised


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hashed_ngram_counts_match_reference(spark):
    df = _df(spark, [(1, "a b c"), (2, "a a"), (3, ""), (4, "solo")])
    got = {
        (r["doc_id"], r["bucket"]): r["n"]
        for r in hashed_ngram_counts(df, "doc_id", "text", B).collect()
    }
    # reference: same hashing via Spark (xxhash64 is JVM-side), then
    # python-side bag construction
    toks = {1: ["a", "b", "c"], 2: ["a", "a"], 4: ["solo"]}
    grams = {
        d: t + [f"{x} {y}" for x, y in zip(t, t[1:])] for d, t in toks.items()
    }
    all_grams = sorted({g for gs in grams.values() for g in gs})
    hb = {
        r["g"]: r["b"]
        for r in spark.createDataFrame([(g,) for g in all_grams], "g string")
        .select("g", F.pmod(F.xxhash64("g"), F.lit(B)).alias("b"))
        .collect()
    }
    expect = {}
    for d, gs in grams.items():
        for g in gs:
            key = (d, hb[g])
            expect[key] = expect.get(key, 0) + 1
    assert got == expect
    assert 3 not in {d for d, _ in got}  # empty text yields nothing


def test_fit_distribution_is_smoothed_logprob(spark):
    df = _df(spark, [(1, "x x y")])
    counts = hashed_ngram_counts(df, "doc_id", "text", B)
    logp = fit_bucket_distribution(counts, B, smoothing=0.5)
    assert len(logp) == B
    # probabilities sum to 1
    assert abs(sum(math.exp(v) for v in logp) - 1.0) < 1e-9
    # observed buckets are more probable than unobserved ones
    assert max(logp) > min(logp)


def test_log_weights_match_numpy(spark):
    raw = _df(spark, [(i, f"w{i % 5} common") for i in range(20)])
    target = _df(spark, [(100 + i, "w1 common target") for i in range(5)])
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(raw, target, "doc_id", "text", B).collect()
    }
    # recompute from the building blocks
    rc = hashed_ngram_counts(raw, "doc_id", "text", B)
    tc = hashed_ngram_counts(target, "doc_id", "text", B)
    log_t = fit_bucket_distribution(tc, B)
    log_r = fit_bucket_distribution(rc, B)
    expect = {}
    for r in rc.collect():
        expect[r["doc_id"]] = expect.get(r["doc_id"], 0.0) + r["n"] * (
            log_t[r["bucket"]] - log_r[r["bucket"]]
        )
    assert set(w) == set(expect)
    for d in expect:
        assert w[d] == pytest.approx(expect[d], rel=1e-12)


def test_custom_bucket_expr_swaps_feature_hash(spark):
    """bucket_expr replaces xxhash64: an explicit expr identical to
    the default reproduces the default output exactly, and the
    engine-portable md5-hex-prefix hash (the oracle's form) lands in
    range and flows through dsir_log_weights."""
    df = _df(spark, [(1, "a b c"), (2, "a a"), (4, "solo")])
    default = {
        (r["doc_id"], r["bucket"]): r["n"]
        for r in hashed_ngram_counts(df, "doc_id", "text", B).collect()
    }
    explicit = {
        (r["doc_id"], r["bucket"]): r["n"]
        for r in hashed_ngram_counts(
            df, "doc_id", "text", B,
            bucket_expr=lambda g: F.pmod(F.xxhash64(g), F.lit(B)),
        ).collect()
    }
    assert explicit == default

    def md5_bucket(g):
        return F.conv(
            F.substring(F.md5(F.encode(g, "UTF-8")), 1, 3), 16, 10
        ).cast("long")

    rows = hashed_ngram_counts(
        df, "doc_id", "text", 4096, bucket_expr=md5_bucket
    ).collect()
    assert rows and all(0 <= r["bucket"] < 4096 for r in rows)
    # md5 of "solo" prefix must agree with Python's hashlib
    import hashlib

    want = int(hashlib.md5(b"solo").hexdigest()[:3], 16)
    assert any(
        r["bucket"] == want and r["doc_id"] == 4 for r in rows
    )
    w = dsir_log_weights(
        df.filter("doc_id != 1"), df.filter("doc_id = 1"),
        "doc_id", "text", 4096, bucket_expr=md5_bucket,
    ).collect()
    assert {r["doc_id"] for r in w} == {2, 4}


def test_plan_broadcasts_ratio_table(spark):
    raw = _df(spark, [(i, f"w{i % 5}") for i in range(10)])
    target = _df(spark, [(100, "w1")])
    plan = (
        dsir_log_weights(raw, target, "doc_id", "text", B)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
