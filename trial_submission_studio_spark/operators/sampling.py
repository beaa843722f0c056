"""Deterministic sampling for training-mix construction.

A 100 TB corpus feeding a training pipeline needs samples that are

- **reproducible**: the same corpus + seed always selects the same
  rows, independent of partitioning, task retries, or cluster size
  (``df.sample`` is seed-stable only for a fixed partition layout);
- **key-consistent**: selection is a pure function of a row KEY, so
  re-runs over an updated corpus keep previously-selected keys
  (critical for train/eval splits that must not drift);
- **stratified**: per-stratum rates (language, source, quality band)
  to shape the training mixture.

Selection hashes the key into ``BUCKETS`` equal slices and keeps the
first ``fraction * BUCKETS`` — a pure JVM expression (xxhash64), no
shuffle, fully pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: hash-space granularity: fractions resolve to 1e-6
BUCKETS = 1_000_000


def sample_bucket(key: Column | str, seed: int = 0, hash_expr: Column | None = None) -> Column:
    """The row's bucket in [0, BUCKETS): ``xxhash64(key, seed)`` by
    default; ``hash_expr`` substitutes any deterministic int
    expression (e.g. a multiplicative hash both Spark and an external
    SQL oracle can evaluate identically)."""
    col = F.col(key) if isinstance(key, str) else key
    h = hash_expr if hash_expr is not None else F.xxhash64(col, F.lit(seed))
    return F.pmod(h, F.lit(BUCKETS)).cast("long")


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 0,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Keep ~``fraction`` of rows, selected purely by key hash."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(
        sample_bucket(key_col, seed, hash_expr) < int(fraction * BUCKETS)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    buckets: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Pack documents into training sequences of ≤ ``budget`` tokens
    → (doc_id, pack_id, pack_tokens).

    Bin packing is inherently sequential, so the corpus is first
    hashed into ``buckets`` independent groups (deterministic key
    hash — same spread guarantees as :func:`deterministic_sample`)
    and each group packs locally with first-fit-decreasing inside one
    ``applyInPandas`` task. Pack ids are ``{bucket}-{bin}``, globally
    unique and stable across runs. A document longer than the budget
    gets its own (overflowing) pack rather than being dropped —
    truncation is the tokenizer's decision, not the packer's.

    Scale: each bucket must fit one task (size ``buckets`` ≈
    corpus_docs / 5M for comfortable pandas groups); packing quality
    is within the usual FFD 11/9·OPT bound per bucket, and bucketing
    costs at most one extra partially-filled pack per bucket.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            [token_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        bucket = int(pdf["__bucket"].iat[0])
        bins: list[int] = []  # remaining capacity per bin
        assign: list[int] = []
        for t in pdf[token_col].astype("int64"):
            t = int(t)
            for i, cap in enumerate(bins):
                if cap >= t:
                    bins[i] = cap - t
                    assign.append(i)
                    break
            else:
                bins.append(max(budget - t, 0))
                assign.append(len(bins) - 1)
        # exact totals (an overflow doc zeroes its remaining capacity)
        exact = [0] * len(bins)
        for i, t in zip(assign, pdf[token_col].astype("int64")):
            exact[i] += int(t)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].astype("int64"),
                "pack_id": [f"{bucket}-{i}" for i in assign],
                "pack_tokens": [exact[i] for i in assign],
            }
        )

    work = df.select(
        F.col(id_col), F.col(token_col), sample_bucket(id_col, seed).alias("__h")
    ).withColumn("__bucket", F.pmod(F.col("__h"), F.lit(buckets)).cast("int"))
    return work.groupBy("__bucket").applyInPandas(
        pack, f"{id_col} long, pack_id string, pack_tokens long"
    )


def mix_epochs(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    key_col: str,
    default_weight: float = 1.0,
    seed: int = 0,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Weighted multi-epoch corpus mixing: a stratum with weight
    ``w`` contributes ``floor(w)`` full passes plus a deterministic
    ``frac(w)``-rate sample, each row tagged with an ``epoch`` index
    (0-based int) — the output is ~``w ×`` the stratum, the standard
    way a training mixture up-weights small high-quality sources
    (weight 2.3 → every row twice, plus a 30 % keyed sample).

    One generator expression per row, exploded JVM-side: epoch array
    = ``sequence(0, floor(w)-1)``, extended by ``floor(w)`` when the
    key hash selects the row for the fractional pass. No shuffle, no
    join, selection partition/retry/cluster-size-independent (same
    guarantees as :func:`deterministic_sample`). Weights < 1 degrade
    to plain stratified down-sampling; weight 0 drops the stratum.
    """
    for s, wt in weights.items():
        if wt < 0:
            raise ValueError(f"weight for stratum {s!r} must be >= 0")
    if default_weight < 0:
        raise ValueError("default_weight must be >= 0")
    w: Column = F.lit(float(default_weight))
    for s, wt in sorted(weights.items()):
        w = F.when(F.col(strata_col) == s, F.lit(float(wt))).otherwise(w)
    full = F.floor(w).cast("int")
    frac_threshold = ((w - F.floor(w)) * BUCKETS).cast("long")
    bucket = sample_bucket(key_col, seed, hash_expr)
    epochs_full = F.when(full >= 1, F.sequence(F.lit(0), full - 1)).otherwise(
        F.array().cast("array<int>")
    )
    epochs = F.when(
        bucket < frac_threshold, F.concat(epochs_full, F.array(full))
    ).otherwise(epochs_full)
    return df.withColumn("epoch", F.explode(epochs))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    seed: int = 0,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Per-stratum deterministic sampling: rows of stratum ``s`` keep
    rate ``fractions.get(s, default_fraction)``.

    The per-stratum threshold is a small ``when`` chain (strata counts
    are config-sized), so the whole selection stays one codegen'd
    filter over the scan — no shuffle, no join, and Parquet can still
    prune on any pushed predicates.
    """
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0, 1]")
    threshold: Column = F.lit(int(default_fraction * BUCKETS))
    for s, f in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == s, F.lit(int(f * BUCKETS))
        ).otherwise(threshold)
    return df.filter(sample_bucket(key_col, seed, hash_expr) < threshold)


def cap_per_key(
    df: DataFrame,
    key_col: str,
    cap: int,
    id_col: str,
    priority: Column | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per key, chosen by deterministic
    priority (per-domain / per-source document quotas — the crawl-
    governance step that stops one mega-domain from dominating a mix).

    Priority defaults to ``xxhash64(id)`` — a uniform draw that is
    reproducible across runs and partitionings; pass ``priority`` to
    rank by quality score, recency, or an oracle-matchable arithmetic
    hash instead. Ties break on ``id_col`` so the selection is total.

    Scale: one shuffle on ``key_col``; ``row_number`` stops scoring a
    partition once written, but a pathological hot key still serializes
    onto one task — the same per-key ceiling as any window formulation
    (see ``operators/temporal.py``). For power-law key distributions
    pre-thin hot keys with :func:`deterministic_sample` at a rate that
    leaves ~10×cap candidates, then apply the exact cap.
    """
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError("cap must be >= 1")
    prio = priority if priority is not None else F.xxhash64(F.col(id_col))
    w = Window.partitionBy(key_col).orderBy(prio, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def rebalance_to_target(
    df: DataFrame,
    strata_col: str,
    target: dict[str, float],
    key_col: str,
    seed: int = 0,
    hash_expr: Column | None = None,
) -> tuple[DataFrame, dict[str, float]]:
    """Downsample strata so the output distribution approximates a
    target mix (the "rebalance languages/sources to X%" step of corpus
    construction).

    ``target`` maps stratum → desired share (normalized internally;
    strata not listed are dropped). The achievable output size is
    ``N = min_s(count_s / share_s)`` — the stratum that runs out first
    caps the total — and each stratum keeps ``share_s · N / count_s``
    of its rows via the same key-hash selection as
    :func:`stratified_sample` (reproducible, partition-independent).
    Downsample-only by design: to UPWEIGHT a stratum beyond its
    natural count, compose :func:`mix_epochs`.

    Returns ``(sampled_df, fractions)`` — the fractions are surfaced
    so callers can log/persist the realized rates. Costs one count
    action (stratum cardinalities are config-sized) before the lazy
    filter.
    """
    if not target:
        raise ValueError("target must name at least one stratum")
    tot = float(sum(target.values()))
    if tot <= 0:
        raise ValueError("target shares must sum > 0")
    shares = {s: w / tot for s, w in target.items()}
    counts = {
        r["s"]: r["n"]
        for r in df.filter(F.col(strata_col).isin(*shares))
        .groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    missing = sorted(s for s in shares if counts.get(s, 0) == 0)
    if missing:
        raise ValueError(f"target strata absent from corpus: {missing}")
    n_out = min(counts[s] / share for s, share in shares.items())
    fractions = {
        s: min(1.0, share * n_out / counts[s]) for s, share in shares.items()
    }
    sampled = stratified_sample(
        df, strata_col, fractions, key_col,
        default_fraction=0.0, seed=seed, hash_expr=hash_expr,
    )
    return sampled, fractions


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.7,
    seed: int = 0,
    hash_expr: Column | None = None,
) -> tuple[DataFrame, dict[str, float], dict[str, float]]:
    """Temperature-scaled source mixing: target share of stratum
    ``s`` is ``count_s^alpha / Σ_t count_t^alpha`` — the multilingual
    LM convention (mBERT/XLM-R's exponential smoothing) that lifts
    low-resource strata without letting one giant source dominate.
    ``alpha = 1`` keeps the natural mix (no-op shares), ``alpha → 0``
    approaches uniform. Downsample-only like
    :func:`rebalance_to_target` (which this delegates to; compose
    :func:`mix_epochs` to upweight instead).

    Returns ``(sampled_df, target_shares, realized_fractions)``.
    Costs one stratum-count action (config-sized) before the lazy
    key-hash filter — partition-independent and reproducible."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["s"] is not None
    }
    if not counts:
        raise ValueError("no non-NULL strata in corpus")
    powered = {s: float(n) ** alpha for s, n in counts.items()}
    # left-fold in sorted-stratum order: collect() row order varies
    # run to run, and float addition is not associative — an
    # order-pinned sum makes target shares bit-reproducible (and
    # SQL-mirrorable as an explicit addition chain)
    z = sum(powered[s] for s in sorted(powered))
    target = {s: p / z for s, p in powered.items()}
    sampled, fractions = rebalance_to_target(
        df, strata_col, target, key_col, seed=seed, hash_expr=hash_expr
    )
    return sampled, target, fractions


def split_corpus(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int = 0,
    hash_expr: Column | None = None,
) -> dict[str, DataFrame]:
    """Deterministic, leakage-safe train/val/test split.

    Partitions the hash space into contiguous slices proportional to
    ``weights`` (normalized internally), so the named splits are
    disjoint, exhaustive over the keyspace, and a pure function of the
    KEY — re-running over a grown corpus keeps every previously-
    assigned key in the same split (no train/test leakage across
    dataset versions, the property ``df.randomSplit`` cannot give).
    Returns {name: DataFrame}; each is a zero-shuffle filter over the
    same scan.
    """
    if not weights:
        raise ValueError("weights must name at least one split")
    tot = float(sum(weights.values()))
    if tot <= 0:
        raise ValueError("weights must sum > 0")
    bucket = sample_bucket(key_col, seed, hash_expr)
    out: dict[str, DataFrame] = {}
    lo = 0
    items = list(weights.items())
    for i, (name, w) in enumerate(items):
        hi = BUCKETS if i == len(items) - 1 else lo + int(w / tot * BUCKETS)
        out[name] = df.filter((bucket >= lo) & (bucket < hi))
        lo = hi
    return out


def shuffle_deterministic(df: DataFrame, key_col: str, seed: int = 0) -> DataFrame:
    """Deterministic pseudo-random permutation of the corpus — the
    training-order shuffle. Orders by ``xxhash64(key, seed)`` with the
    key itself as tie-break, so the order is a pure function of
    (corpus keys, seed): identical across partitionings, retries, and
    cluster sizes; a new seed is a fresh epoch order.

    Scale shape: one range-partitioned global sort (sampled range
    boundaries keep partitions balanced because the hash is uniform —
    no skew by construction). When only shard-LOCAL order matters,
    ``sortWithinPartitions`` on the same hash gets the property at
    zero extra shuffle.
    """
    return df.orderBy(
        F.xxhash64(F.col(key_col), F.lit(int(seed))).asc(), F.col(key_col).asc()
    )


def split_corpus_grouped(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    groups: DataFrame,
    seed: int = 0,
) -> dict[str, DataFrame]:
    """Near-dup-aware train/val/test split: assignment hashes the
    duplicate-GROUP representative, not the document id, so every
    member of a near-duplicate component lands in the SAME split.

    This closes the leakage mode :func:`split_corpus` cannot see:
    exact-hash splitting separates byte-identical documents, but two
    NEAR-duplicates (one word changed) hash apart and can straddle
    train/test — evaluation then scores memorization. ``groups`` is
    the ``(id, rep)`` component table from
    ``dedup.duplicate_groups`` (ids absent from it are their own
    representative via the left join + coalesce).

    Scale shape: one equi-join on the id key against the group table
    (component-table-sized, not corpus-sized); the split itself stays
    the zero-shuffle contiguous-hash-slice filter of
    :func:`split_corpus` and keeps its grown-corpus stability — as
    long as a group's representative is stable, the whole group's
    split is.
    """
    gid, grep = groups.columns[0], groups.columns[1]
    g = groups.select(F.col(gid).alias(id_col), F.col(grep).alias("__rep"))
    keyed = df.join(g, id_col, "left").withColumn(
        "__split_key",
        F.coalesce(F.col("__rep"), F.col(id_col)).cast("string"),
    ).drop("__rep")
    out = split_corpus(keyed, "__split_key", weights, seed)
    return {name: d.drop("__split_key") for name, d in out.items()}
