"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (BASELINE.json north-star): exact and
near-duplicate detection over a document corpus, designed so every
stage is shuffle-bounded at 100 TB:

- **exact**: group by a content key — full text for exact bytes, an
  md5 fingerprint of normalized text for whitespace/case-insensitive
  dedup. Shuffles hashes, not documents (project to (id, key) first).
- **MinHash + LSH**: shingle → 64-bit hashes → k minima as the
  signature → band buckets → join within buckets. Candidate pairs
  are generated by an equi-join on (band, bucket), never an O(n²)
  cross join; band count / rows-per-band tune the Jaccard threshold.
- **n-gram Jaccard verify**: exact Jaccard on candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(c: Column | str) -> Column:
    """Canonical form for near-exact dedup: lowercase, collapsed
    whitespace, trimmed."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(col.cast("string")), "\\s+", " "))


def fingerprint(c: Column | str) -> Column:
    """Deterministic document fingerprint (md5 of normalized text)."""
    return F.md5(normalize_text(c))


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = False
) -> DataFrame:
    """One row per duplicate *group*: (keep_id, dup_count).

    keep_id = min id in the group (deterministic survivor); only
    groups with >1 member are returned.
    """
    key = fingerprint(text_col) if normalized else F.col(text_col).cast("string")
    return (
        df.select(F.col(id_col), key.alias("__key"))
        .groupBy("__key")
        .agg(
            F.min(id_col).cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
        .select("keep_id", "dup_count")
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str, normalized: bool = True) -> DataFrame:
    """Return the deduplicated frame (deterministic min-id survivor)."""
    key = fingerprint(text_col) if normalized else F.col(text_col).cast("string")
    keyed = df.withColumn("__key", key)
    survivors = keyed.groupBy("__key").agg(F.min(id_col).alias(id_col))
    return keyed.join(survivors, [ "__key", id_col], "left_semi").drop("__key")


# shared partition-layout guard (see operators/partitioning.py);
# re-exported here because every dedup stage starts with a shingle
# explode that is CPU-bound on narrow local inputs
from trial_submission_studio_spark.operators.partitioning import (  # noqa: E402
    widen_if_narrow as _widen_if_narrow,
)


def _shingle_expr(text_sql: str, k: int) -> str:
    """SQL fragment producing the distinct k-gram array (used because
    lambda-substr over a non-literal position needs expr SQL)."""
    return (
        f"array_distinct(transform(sequence(1, greatest(length({text_sql}) - {k - 1}, 1)),"
        f" i -> substr({text_sql}, i, {k})))"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, num_hashes: int = 32
) -> DataFrame:
    """(id, sig array<bigint>) — per-document MinHash signature.

    Shape chosen for codegen and scale: shingles are produced by
    ``explode(sequence) + substr`` (plain expressions — higher-order
    lambda transforms are *interpreted* in Spark and ~10× slower),
    and the per-hash minima are ``min()`` aggregates, which get
    map-side partial aggregation — the shuffle carries one row per
    (doc, 32 minima), not the shingle set. Shingle duplicates don't
    affect a min, so no distinct is needed.
    """
    norm = normalize_text(F.col(text_col))
    exploded = (
        _widen_if_narrow(df, id_col)
        .select(F.col(id_col), norm.alias("__norm"))
        .select(
            id_col,
            "__norm",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("__norm") - (k - 1), F.lit(1))
                )
            ).alias("__pos"),
        )
        .select(id_col, F.expr(f"substr(__norm, __pos, {k})").alias("__sh"))
        # hash the shingle STRING once; the per-function family then
        # hashes the resulting fixed-width long (~18% faster than
        # re-hashing the string num_hashes times)
        .select(id_col, F.xxhash64(F.col("__sh")).alias("__h"))
    )
    # one F.expr per aggregate (and one for the array) instead of the
    # Column-builder chain: each Column op is a py4j round trip, and
    # the old listcomp cost ~0.25 s of pure driver time per call
    # (guide §5 — the driver should do almost no work). `{i}` is an
    # int literal exactly like the old F.lit(i), so the hash family
    # is bit-identical.
    aggs = [
        F.expr(f"min(xxhash64(__h, {i})) AS __h{i}") for i in range(num_hashes)
    ]
    mins = exploded.groupBy(id_col).agg(*aggs)
    sig = F.expr(
        "array(" + ", ".join(f"__h{i}" for i in range(num_hashes)) + ") AS sig"
    )
    return mins.select(F.col(id_col), sig)


def band_bucket_rows(
    sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) — one row per LSH band per document.

    THE single definition of the banding scheme: a persisted bucket
    table is only meaningful if future computations produce
    bit-identical buckets, so both the intra-corpus candidate join
    (:func:`lsh_candidate_pairs`) and the increment-vs-corpus path
    (:func:`incremental_minhash_dedup`) must call this, never inline
    a copy."""
    # single SQL string instead of bands×rows_per_band Column ops:
    # the old nested listcomp was ~0.55 s of py4j round trips per
    # call (guide §5). Literals/casts/indexing are the exact SQL
    # forms of the old Column ops, so bucket values stay
    # bit-identical (pinned by the incremental-dedup parity tests).
    structs = ", ".join(
        f"struct({b} AS band, xxhash64(concat_ws(',', "
        + ", ".join(
            f"cast(sig[{b * rows_per_band + r}] AS string)"
            for r in range(rows_per_band)
        )
        + ")) AS bucket)"
        for b in range(bands)
    )
    return sig_df.select(
        F.col(id_col), F.expr(f"explode(array({structs})) AS bb")
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """MinHash-LSH banding: candidate near-dup pairs (id_a < id_b).

    Documents sharing any band bucket become candidates — an
    equi-join on (band, bucket_hash); at scale the bucket join is the
    only shuffle and AQE handles skewed buckets.
    """
    bucket_rows = band_bucket_rows(sig_df, id_col, bands, rows_per_band)
    # Materialize once: both sides of the self-join read these rows;
    # without it the whole signature computation runs twice.
    # localCheckpoint (not persist): the blocks' lifetime is tied to
    # the returned DataFrame — when the caller drops it they are
    # GC-collected, so repeated calls in one session don't accumulate
    # executor memory (round-1 persist() was never unpersisted). At
    # 100 TB the signatures would live in a persisted table between
    # stages instead.
    bucket_rows = bucket_rows.localCheckpoint(eager=True)
    a = bucket_rows.alias("a")
    b = bucket_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact character-k-gram Jaccard on candidate pairs only.

    (id_a, id_b, jaccard) for pairs ≥ threshold. The shingle arrays
    are joined in twice (broadcast-ineligible at scale — candidates
    are already co-partitioned by id from the LSH join).
    """
    sh = _widen_if_narrow(df, id_col).select(
        F.col(id_col),
        F.expr(_shingle_expr(f"trim(regexp_replace(lower(cast({text_col} as string)), '\\\\s+', ' '))", k)).alias("sh"),
    )
    j = (
        candidates.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return j


def simhash_hamming_pairs(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash64",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs from 64-bit SimHash fingerprints via Hamming
    banding (id_a < id_b, hamming ≤ ``max_hamming``).

    Pigeonhole: two fingerprints within Hamming distance d < bands
    must agree exactly on at least one of the ``bands`` equal-width
    chunks, so candidates come from an equi-join on (band, chunk) —
    never an O(n²) cross join — then exact verification with
    ``bit_count(a XOR b)``. The only shuffle carries (id, band,
    chunk16) rows.
    """
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(fp_col), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    rows_df = (
        fp_df.select(F.col(id_col), F.col(fp_col), F.explode(chunks).alias("bc"))
        .select(id_col, fp_col, "bc.band", "bc.chunk")
    )
    a, b = rows_df.alias("a"), rows_df.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{fp_col}").alias("__fa"),
            F.col(f"b.{fp_col}").alias("__fb"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_near(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end near-duplicate removal: the full chain a training
    pipeline actually runs, composed from the staged operators —

    MinHash signatures → LSH band candidates → exact k-gram Jaccard
    verification (candidates only) → connected components
    (:func:`duplicate_groups`) → keep ONE survivor per duplicate
    group (the minimum id) plus every unpaired document.

    Every stage is shuffle-bounded: signatures are per-document
    aggregates, candidates come from a band-bucket equi-join (never
    all-pairs), verification touches candidate pairs only, and group
    resolution is the O(log diameter) CC loop.
    """
    sig = minhash_signatures(df, id_col, text_col, k=k, num_hashes=num_hashes)
    cands = lsh_candidate_pairs(sig, id_col, bands=bands, rows_per_band=rows_per_band)
    verified = ngram_jaccard_pairs(df, id_col, text_col, cands, k=k, threshold=threshold)
    groups = duplicate_groups(verified.select("id_a", "id_b"))
    # plain key join — duplicate groups scale with the corpus, so no
    # broadcast; the join key is the id both sides already hash on
    return (
        df.join(groups, df[id_col] == groups["id"], "left")
        .filter(F.col("rep").isNull() | (F.col(id_col) == F.col("rep")))
        .drop("id", "rep")
    )


def duplicate_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS → (id, rep).

    Pair finders (LSH bands, SimHash chunks, Jaccard verify) emit
    edges, not groups — and near-duplication is not transitive-closed
    in the pair list (A~B, B~C may surface without A~C). Keeping one
    survivor per *component* needs connected components: ``rep`` is
    the minimum id reachable from ``id``; dedup keeps ``id == rep``
    rows.

    Scale shape: alternating min-label propagation (min over
    neighbors) and pointer jumping (rep ← rep's rep), the standard
    two-phase Spark CC loop — convergence in O(log diameter)
    iterations, each a key-partitioned join, never a driver-side
    graph. Labels are ``localCheckpoint``ed per iteration to truncate
    the loop's lineage. Convergence is detected by the sum of labels
    (monotone non-increasing under min-propagation).

    Only ids present in ``pairs`` appear; unpaired documents are
    trivially their own representative (left-join this result and
    ``coalesce(rep, id)``).
    """
    e_fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    e_rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = e_fwd.union(e_rev).distinct().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("rep", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(max_iter):
        # min over neighbours' current labels
        neigh = (
            edges.join(
                labels.select(
                    F.col("id").alias("__nid"), F.col("rep").alias("__nrep")
                ),
                F.col("dst") == F.col("__nid"),
            )
            .groupBy("src")
            .agg(F.min("__nrep").alias("__minrep"))
        )
        labels = (
            labels.join(neigh, labels["id"] == neigh["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("rep"), F.coalesce(F.col("__minrep"), F.col("rep"))
                ).alias("rep"),
            )
        )
        # pointer jumping: rep ← rep's rep (min labels only decrease)
        hop = labels.select(
            F.col("id").alias("__rid"), F.col("rep").alias("__rrep")
        )
        labels = (
            labels.join(hop, labels["rep"] == hop["__rid"], "left")
            .select("id", F.coalesce("__rrep", "rep").alias("rep"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("rep")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def token_hashes(col_name: str) -> Column:
    """array<bigint>: xxhash64 of each whitespace token of the
    normalized text. Precompute this once per row before
    :func:`simhash_from_hashes` so the 64 bit-votes reuse it."""
    norm = f"trim(regexp_replace(lower(cast({col_name} as string)), '\\\\s+', ' '))"
    return F.expr(f"transform(split({norm}, ' '), t -> xxhash64(t))")


def simhash64(
    df: DataFrame,
    hashes_col: str,
    out_col: str = "simhash64",
) -> DataFrame:
    """64-bit SimHash fingerprints in ONE pass over the token hashes.

    Replaces the interpreted 64-fold SQL form (VERDICT r2 #6):
    :func:`simhash_from_hashes` evaluates one higher-order
    ``aggregate`` per bit — 64 interpreted passes over every token
    array, the engine's worst hot-path shape at 100 TB. This operator
    keeps the JVM-side ``xxhash64`` tokenization (:func:`token_hashes`)
    and moves only the bit-vote fold into a vectorized numpy kernel
    over ``mapInPandas`` Arrow batches: unpack all token hashes of a
    batch into a (tokens × 64) bit matrix once, segment-sum it per
    document with ``np.add.reduceat``, majority-vote, and repack.
    Semantics are bit-identical to the SQL form (pinned by
    ``test_simhash_kernel_matches_sql_form``): empty and NULL token
    arrays both fingerprint to 0 (the SQL CASE's ELSE arm swallows
    the NULL votes).

    Output: the input frame with ``hashes_col`` replaced by
    ``out_col`` (bigint). Purely partition-local — no shuffle.
    """
    import numpy as np  # noqa: F401  (documents the kernel dependency)

    from pyspark.sql.types import LongType, StructType

    fields = [f for f in df.schema.fields if f.name != hashes_col]
    out_names = [f.name for f in fields]
    out_schema = StructType(fields).add(out_col, LongType())
    kernel = _simhash_arrow_kernel(hashes_col, out_col, out_names)
    # mapInArrow, not mapInPandas (r16): an Arrow list<int64> column
    # is one flat int64 buffer plus offsets — the numpy fold consumes
    # exactly that, zero-copy. The pandas path materialized a Python
    # object per row (a boxed ndarray per document), which profiling
    # showed was most of the stage's wall time (250 ms/task of
    # worker time vs ~40 ms of JVM CPU).
    return df.mapInArrow(kernel, schema=out_schema)


def _simhash_arrow_kernel(hashes_name: str, out_name: str, other_names: list[str]):
    """mapInArrow kernel factory (closure-local only). Semantics are
    identical to :func:`_simhash_kernel` — NULL or empty token arrays
    fingerprint to 0 — but the token hashes are consumed directly
    from the Arrow list buffers (flat values + offsets), never boxed
    into per-row Python objects."""

    max_tokens = 1 << 20  # bounds the (tokens × 64) bit matrix

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        shifts = np.arange(64, dtype=np.uint64)
        weights = (np.uint64(1) << shifts).astype(np.uint64)

        def fold_flat(flat: "np.ndarray", starts: "np.ndarray", lens: "np.ndarray") -> "np.ndarray":
            """SimHash contiguous segments of ``flat`` (all lens > 0)."""
            bits = np.unpackbits(
                flat.astype("<u8").view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )
            sums = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
            votes = 2 * sums.astype(np.int64) - lens[:, None]
            fp = ((votes > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            return fp.view(np.int64)

        for batch in batches:
            n = batch.num_rows
            col = batch.column(hashes_name)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [batch.column(c) for c in other_names]
                    + [pa.array([], type=pa.int64())],
                    names=other_names + [out_name],
                )
                continue
            # ListArray.offsets index the FULL child array returned by
            # .values (absolute positions, slice-safe)
            off = np.asarray(col.offsets).astype(np.int64)
            lens = np.diff(off)
            if col.null_count:
                nulls = np.asarray(col.is_null())
                lens = np.where(nulls, 0, lens)
            vals = np.asarray(col.values, dtype=np.int64)
            fp_out = np.zeros(n, dtype=np.int64)
            nz = np.flatnonzero(lens)
            if nz.size:
                starts_abs = off[:-1][nz]
                seg_lens = lens[nz]
                # process in token-bounded slices of the nz segments
                ends = np.cumsum(seg_lens)
                lo = 0
                while lo < nz.size:
                    budget = (0 if lo == 0 else ends[lo - 1]) + max_tokens
                    hi = max(lo + 1, int(np.searchsorted(ends, budget, "right")))
                    s, l = starts_abs[lo:hi], seg_lens[lo:hi]
                    # gather the slice's tokens contiguously (handles
                    # any offset gaps, e.g. null cells with spans)
                    flat = np.concatenate(
                        [vals[a : a + b] for a, b in zip(s, l)]
                    ) if not (
                        len(s) and np.array_equal(s[1:], (s + l)[:-1])
                    ) else vals[s[0] : s[-1] + l[-1]]
                    rel = np.zeros(hi - lo, dtype=np.int64)
                    rel[1:] = np.cumsum(l)[:-1]
                    fp_out[nz[lo:hi]] = fold_flat(flat, rel, l)
                    lo = hi
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in other_names]
                + [pa.array(fp_out, type=pa.int64())],
                names=other_names + [out_name],
            )

    return kernel


def _simhash_kernel(hashes_name: str, out_name: str, other_names: list[str]):
    """Batch kernel factory (closure-local state only — module refs
    break pickling when the hosting app's cwd isn't the repo)."""

    # Token budget per vectorized slice: bounds the transient
    # (tokens × 64)-byte bit matrix to ~64 MB however large the
    # Arrow batch or the documents are.
    max_tokens = 1 << 20

    def kernel(batches):
        import numpy as np

        shifts = np.arange(64, dtype=np.uint64)
        weights = (np.uint64(1) << shifts).astype(np.uint64)

        def fold(arrs: list) -> np.ndarray:
            """SimHash each token-hash array; len-0 arrays -> 0."""
            lens = np.array([a.size for a in arrs], dtype=np.int64)
            out = np.zeros(len(arrs), dtype=np.int64)
            nz = np.flatnonzero(lens)
            if nz.size == 0:
                return out
            flat = np.concatenate([arrs[i] for i in nz])
            # (tokens, 64) uint8 bit matrix via unpackbits — ~400×
            # faster than a broadcast uint64 shift; astype('<u8')
            # pins little-endian bytes so column k is bit k on any
            # platform. Segment sums accumulate in int32 (uint8 would
            # wrap at 255 tokens; int64 reduceat is ~25× slower).
            bits = np.unpackbits(
                flat.astype("<u8").view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )
            starts = np.zeros(nz.size, dtype=np.int64)
            starts[1:] = np.cumsum(lens[nz])[:-1]
            sums = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
            votes = 2 * sums.astype(np.int64) - lens[nz, None]
            fp = ((votes > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            out[nz] = fp.view(np.int64)
            return out

        empty = np.empty(0, dtype=np.int64)
        for pdf in batches:
            col = pdf[hashes_name]
            n = len(pdf)
            fp_out = np.zeros(n, dtype=np.int64)
            # slice the batch so the bit matrix stays memory-bounded
            pos = 0
            while pos < n:
                arrs, toks, end = [], 0, pos
                while end < n and (toks == 0 or toks < max_tokens):
                    cell = col.iat[end]
                    a = empty if cell is None else np.asarray(cell, dtype=np.int64)
                    arrs.append(a)
                    toks += a.size
                    end += 1
                fp_out[pos:end] = fold(arrs)
                pos = end
            yield pdf[other_names].assign(**{out_name: fp_out})

    return kernel


def simhash_from_hashes(hashes_col: str) -> Column:
    """64-bit SimHash from a precomputed token-hash array (bigint).

    Bit b of the result is the majority vote of bit b across the
    hashes. Pure SQL higher-order expressions (``bit_get`` accepts a
    column position; the Python DSL's ``shiftright`` does not), one
    whole-stage-codegen span.

    Reference formulation kept for oracle parity and tests; the hot
    path is :func:`simhash64` — HOFs don't codegen, so this form pays
    64 interpreted passes over every token array.

    The sign bit (63) is applied by adding Long.MIN_VALUE rather than
    ``acc*2`` over all 64 bits, which would overflow under ANSI mode.
    """
    vote = (
        f"aggregate({hashes_col}, 0, (a, h) -> a + "
        "CASE WHEN bit_get(h, {b}) = 1 THEN 1 ELSE -1 END)"
    )
    low_bits = (
        "aggregate(sequence(62, 0, -1), CAST(0 AS BIGINT), (acc, b) -> acc * 2 + "
        f"CASE WHEN aggregate({hashes_col}, 0, (a, h) -> a + "
        "CASE WHEN bit_get(h, b) = 1 THEN 1 ELSE -1 END) > 0 "
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    )
    sign = (
        f"CASE WHEN {vote.format(b=63)} > 0 "
        "THEN CAST(-9223372036854775808 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )
    return F.expr(f"{sign} + {low_bits}")


# --------------------------------------------------------------------------
# incremental dedup: new batch vs an already-deduplicated corpus
# --------------------------------------------------------------------------

def incremental_exact_dedup(
    new_df: DataFrame,
    seen_fps: DataFrame | None,
    id_col: str,
    text_col: str,
    normalized: bool = True,
    bloom=None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an INCREMENT against a persisted corpus fingerprint table
    (the daily-crawl pattern: at 100 TB you never re-shuffle the full
    corpus — you keep its (fp) table and anti-join each new batch).

    ``seen_fps`` is a 1-column ``fp`` DataFrame (or None for a cold
    start). Returns ``(novel, updated_fps)``:

    - ``novel`` — new rows that are neither in the seen table nor
      duplicated *within* the batch (min-id survivor intra-batch);
    - ``updated_fps`` — seen ∪ the novel rows' fingerprints, ready to
      persist for the next increment.

    Both joins key on the 16-byte fingerprint, so shuffle width is
    independent of document size. The anti join broadcasts nothing by
    default (the seen table is corpus-sized); co-locate increments by
    bucketing both tables on ``fp`` to make it shuffle-free.

    ``bloom`` (an ``operators.bloom.BloomFilter`` covering every
    seen fp) prunes the anti-join: definitely-new rows skip it, only
    maybe-seen rows verify — same result, the join input shrinks to
    true dups + the fpp slice.
    """
    key = fingerprint(text_col) if normalized else F.md5(F.col(text_col).cast("string"))
    keyed = new_df.withColumn("__fp", key)
    intra = keyed.join(
        keyed.groupBy("__fp").agg(F.min(id_col).alias(id_col)),
        ["__fp", id_col],
        "left_semi",
    )
    if seen_fps is None:
        novel = intra
    elif bloom is not None:
        # Bloom-pruned verification (operators/bloom.py): rows whose
        # filter probe misses bypass the corpus anti-join entirely —
        # identical result, the join only sees true dups + the fpp
        # slice. The filter must contain every seen fp (extra keys
        # cost verify work, never correctness).
        from trial_submission_studio_spark.operators.bloom import (
            bloom_incremental_dedup,
        )

        novel = bloom_incremental_dedup(
            intra.withColumnRenamed("__fp", "fp"),
            seen_fps.select("fp"),
            bloom,
            "fp",
        ).withColumnRenamed("fp", "__fp")
    else:
        novel = intra.join(
            seen_fps.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
        )
    updated = (
        novel.select(F.col("__fp").alias("fp"))
        if seen_fps is None
        else seen_fps.unionByName(novel.select(F.col("__fp").alias("fp")))
    )
    return novel.drop("__fp"), updated


def incremental_minhash_dedup(
    new_df: DataFrame,
    seen_buckets: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    seen_sigs: DataFrame | None = None,
    sig_threshold: float = 0.7,
    track_ids: bool = False,
    deltas: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Near-dup dedup of an increment against persisted LSH band
    buckets (same shape as :func:`incremental_exact_dedup`, with
    MinHash banding instead of exact fingerprints). Pass
    ``track_ids=True`` on a COLD start to get id-carrying bucket and
    signature tables back, enabling verification on later increments.

    ``seen_buckets`` is a (band, bucket[, id]) DataFrame from
    previous increments (None for a cold start). A new document
    becomes a drop CANDIDATE when any of its band buckets already
    exists in the seen table — the standard LSH criterion, applied
    increment-vs-corpus, so no intra-corpus self-join ever reruns.
    Intra-batch near-dups are resolved first via the usual band
    self-join (min-id survivor).

    **False positives**: with the default 8×4 banding, a merely
    *similar* document (Jaccard ≈ 0.5) collides in ≥1 band with
    probability ≈ 1-(1-0.5⁴)⁸ ≈ 40 % — and corpus TEXT is gone, so
    n-gram verification cannot rescue it. Pass ``seen_sigs`` (the
    persisted ``(id, sig)`` table; requires ``seen_buckets`` to carry
    the seen ``id`` column) to verify candidates by
    signature-estimated Jaccard — the matched-minhash fraction is an
    unbiased Jaccard estimator, costs one candidate-pair join (no
    text), and drops only candidates with est ≥ ``sig_threshold``.

    Returns ``(novel, updated_buckets, updated_sigs)``; persist both
    tables between increments (``updated_sigs`` is None when
    ``seen_sigs`` was not requested on a warm start).

    ``deltas=True`` returns the NOVEL rows' bucket/signature tables
    instead of the seen∪novel unions — the batch-id-fenced append
    pattern writes each increment's delta
    under its own directory and rereads the union by partition
    discovery, so replaying a failed batch rewrites one directory
    instead of duplicating state.
    """
    sig = minhash_signatures(new_df, id_col, text_col, k, num_hashes)
    sig = sig.localCheckpoint(eager=True)
    band_rows = band_bucket_rows(sig, id_col, bands, rows_per_band)
    band_rows = band_rows.localCheckpoint(eager=True)
    # intra-batch: keep the min id of every bucket-sharing group
    a, b = band_rows.alias("a"), band_rows.alias("b")
    later_dups = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    intra_rows = band_rows.join(later_dups, id_col, "left_anti")
    if seen_buckets is not None and seen_sigs is not None:
        if id_col not in seen_buckets.columns:
            raise ValueError(
                "signature verification needs seen_buckets to carry "
                f"the {id_col!r} column (persist band_bucket_rows "
                "WITH ids when you persist signatures)"
            )
        cand = (
            intra_rows.join(
                seen_buckets.select(
                    "band", "bucket", F.col(id_col).alias("__seen_id")
                ),
                ["band", "bucket"],
            )
            .select(id_col, "__seen_id")
            .distinct()
        )
        est = (
            cand.join(sig.select(id_col, F.col("sig").alias("__sa")), id_col)
            .join(
                seen_sigs.select(
                    F.col(id_col).alias("__seen_id"), F.col("sig").alias("__sb")
                ),
                "__seen_id",
            )
            .withColumn(
                "__est",
                F.size(
                    F.filter(
                        F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
                        lambda m: m,
                    )
                )
                / F.lit(float(num_hashes)),
            )
        )
        hit = (
            est.filter(F.col("__est") >= sig_threshold).select(id_col).distinct()
        )
    elif seen_buckets is not None:
        hit = intra_rows.join(
            seen_buckets.select("band", "bucket"), ["band", "bucket"], "left_semi"
        ).select(id_col).distinct()
    else:
        hit = None
    base_ids = intra_rows.select(id_col).distinct()
    novel_ids = base_ids if hit is None else base_ids.join(hit, id_col, "left_anti")
    novel = new_df.join(novel_ids, id_col, "left_semi")
    keep_cols = (
        ["band", "bucket", id_col]
        if (seen_buckets is not None and id_col in seen_buckets.columns)
        or (seen_buckets is None and seen_sigs is not None)
        or (seen_buckets is None and track_ids)
        else ["band", "bucket"]
    )
    novel_buckets = intra_rows.join(novel_ids, id_col, "left_semi").select(*keep_cols)
    novel_sigs = sig.join(novel_ids, id_col, "left_semi").select(id_col, "sig")
    if deltas:
        return novel, novel_buckets, novel_sigs
    updated = (
        novel_buckets
        if seen_buckets is None
        else seen_buckets.unionByName(novel_buckets).distinct()
    )
    if seen_sigs is not None:
        updated_sigs = seen_sigs.unionByName(novel_sigs)
    elif seen_buckets is None and track_ids:
        updated_sigs = novel_sigs
    else:
        updated_sigs = None
    return novel, updated, updated_sigs


def calibrate_lsh(
    threshold: float,
    num_hashes: int = 32,
    false_negative_weight: float = 1.0,
) -> dict:
    """Pick (bands, rows_per_band) for a target Jaccard threshold.

    The LSH S-curve gives P(candidate | similarity s) =
    1 − (1 − s^r)^b. The standard heuristic threshold where the
    curve crosses 0.5 is ≈ (1/b)^(1/r); this search instead
    minimizes the integrated error of the curve against the ideal
    step function at ``threshold`` (Mining of Massive Datasets
    §3.4.3), with false negatives above the threshold weighted by
    ``false_negative_weight`` (raise it to bias toward recall).
    Returns ``{"bands", "rows_per_band", "candidate_prob"}`` where
    ``candidate_prob`` is a callable P(candidate | s) for audit.
    Only factorizations b·r = num_hashes are considered — the
    operator contract of `lsh_band_buckets`.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r

        def prob(s, _r=r, _b=b):
            return 1.0 - (1.0 - s**_r) ** _b

        # integrated weighted error vs the ideal step at `threshold`
        steps = 200
        err = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = prob(s)
            if s < threshold:
                err += p / steps  # false-positive mass
            else:
                err += false_negative_weight * (1.0 - p) / steps
        if best is None or err < best[0]:
            best = (err, b, r, prob)
    _, b, r, prob = best
    return {"bands": b, "rows_per_band": r, "candidate_prob": prob}
