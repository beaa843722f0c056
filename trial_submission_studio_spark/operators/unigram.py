"""Unigram-LM subword tokenizer (SentencePiece-style): distributed
EM training + Viterbi encoding.

The second of the two dominant subword algorithms (Kudo 2018,
"Subword Regularization"; the tokenizer behind T5/ALBERT/XLNet and
SentencePiece's default). Where BPE (Sennrich 2016) greedily merges
pairs, the unigram model starts from a LARGE seed piece inventory
and alternates EM fitting with pruning until the target vocabulary
remains; encoding is the Viterbi-best segmentation under the fitted
piece log-probabilities.

Scale shape:

- The ONLY corpus-sized stage is the shared word histogram
  (`bpe.word_histogram`: one codegen explode + groupBy, map-side
  combined). Training then runs entirely on the (word, count) table,
  which is vocabulary-sized (Heaps' law), NOT corpus-sized.
- Seed extraction, E-steps, and Viterbi all run as Arrow-batched
  kernels over the word table with the current piece model
  BROADCAST (a {piece: logprob} dict, ≤ a few MB at the 10⁵-piece
  scale real tokenizers use). Each EM iteration is ONE Spark job
  over the word table plus a model-sized aggregation — never an
  iteration-per-piece, never a corpus re-scan.
- Pruning is model-sized: the alternative-segmentation loss of each
  piece is a driver loop over the piece inventory (each an O(len²)
  Viterbi on a ≤16-char string), the same "driver handles the
  megabyte-scale table" design as single-node tokenizer trainers.
- Encoding broadcasts the final model and memoizes per distinct word
  in each Arrow batch (Zipf: the memo absorbs almost all rows) —
  a designated Python op (no JVM expression does Viterbi).

Determinism: expected counts are order-independent sums of pure
per-word functions (float64 accumulation in a fixed per-word order;
cross-word sums round-trip through Spark's sum — tests pin partition
independence at 1e-9); seed selection and pruning tie-break on
(count/loss desc, piece asc); Viterbi tie-breaks prefer the LONGER
first piece, then lexicographic — so trained vocab and encodings are
reproducible across partitionings and cluster sizes.

Pieces never cross pre-token (word) boundaries — the word-level
convention of the shared pre-tokenizer (`operators/bpe.py`), which keeps the corpus-sized stage a plain
histogram. (SentencePiece's ▁-joined cross-space pieces are a
documented deviation; within-word inventories are what its
`--split_by_whitespace=true` default produces anyway.)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import word_histogram

try:  # pragma: no cover - environment-dependent
    # Arrow kernels below call module-level helpers (_viterbi,
    # _forward_backward); register the module by value so Python
    # workers need not import the package from their cwd (the
    # robots.py discipline).
    from pyspark import cloudpickle
    import sys

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

__all__ = [
    "train_unigram_lm",
    "unigram_encode",
    "unigram_encode_ids",
    "unigram_ids",
    "unigram_vocab_df",
]

#: fallback log-prob for characters absent from the model (unknown
#: bytes at encode time): worse than any real piece but finite, so
#: encoding never fails — the SentencePiece unk-penalty idea.
UNK_LOGPROB = -100.0


def _viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs.
    Tie-break: higher total logprob, then LONGER first piece at each
    split point (realized by preferring the longest candidate when
    scores tie exactly), deterministic."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                lp = UNK_LOGPROB if i - j == 1 else None
                if lp is None:
                    continue
            cand = best[j] + lp
            # strictly-greater keeps the SMALLEST j (longest piece
            # ending at i) on exact ties, since j ascends
            if cand > best[i]:
                best[i] = cand
                back[i] = j
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def _forward_backward(
    word: str, logp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Expected piece counts for one word occurrence + its log
    marginal likelihood. Lattice nodes are the n+1 cut positions;
    edges are in-vocab pieces. Words containing characters absent
    from the model contribute through the UNK single-char fallback
    (same as Viterbi), so EM and encoding see the same lattice."""
    n = len(word)
    neg = -np.inf
    alpha = np.full(n + 1, neg)
    alpha[0] = 0.0
    edges: list[tuple[int, int, str, float]] = []
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j == 1:
                    lp = UNK_LOGPROB
                else:
                    continue
            edges.append((j, i, piece, lp))
            alpha[i] = np.logaddexp(alpha[i], alpha[j] + lp)
    beta = np.full(n + 1, neg)
    beta[n] = 0.0
    for j, i, piece, lp in reversed(edges):
        beta[j] = np.logaddexp(beta[j], lp + beta[i])
    z = float(alpha[n])
    out: dict[str, float] = {}
    if not np.isfinite(z):
        return out, z
    for j, i, piece, lp in edges:
        post = math.exp(alpha[j] + lp + beta[i] - z)
        if post > 0.0:
            out[piece] = out.get(piece, 0.0) + post
    return out, z


def _seed_pieces(
    words: DataFrame, seed_size: int, max_piece_len: int
) -> DataFrame:
    """(piece, count) candidate inventory: every substring of length
    ≤ max_piece_len of every histogram word, weighted by word count,
    truncated to the ``seed_size`` heaviest multi-char pieces PLUS
    every single character (chars are never prunable — they keep the
    lattice total). Runs over the vocabulary-sized word table."""

    def gen(batches):
        for pdf in batches:
            pieces: list[str] = []
            counts: list[int] = []
            for word, cnt in zip(pdf["word"], pdf["count"]):
                n = len(word)
                for j in range(n):
                    for i in range(j + 1, min(j + max_piece_len, n) + 1):
                        pieces.append(word[j:i])
                        counts.append(cnt)
            yield pd.DataFrame({"piece": pieces, "count": counts})

    sub = words.mapInPandas(gen, "piece string, count long")
    agg = sub.groupBy("piece").agg(F.sum("count").alias("count"))
    chars = agg.filter(F.length("piece") == 1)
    multi = (
        agg.filter(F.length("piece") > 1)
        .orderBy(F.desc("count"), F.asc("piece"))
        .limit(seed_size)
    )
    return chars.unionByName(multi)


def _e_step(
    words: DataFrame, logp: dict[str, float], max_piece_len: int
) -> tuple[dict[str, float], float]:
    """One distributed E-step: expected piece counts over the word
    histogram (each word's posterior counts × its corpus count) and
    the total corpus log-likelihood. One Spark job."""
    model = dict(logp)
    ml = int(max_piece_len)

    def kernel(batches):
        for pdf in batches:
            acc: dict[str, float] = {}
            ll = 0.0
            for word, cnt in zip(pdf["word"], pdf["count"]):
                exp, z = _forward_backward(word, model, ml)
                if not np.isfinite(z):
                    continue
                ll += z * cnt
                for p, c in exp.items():
                    acc[p] = acc.get(p, 0.0) + c * cnt
            yield pd.DataFrame(
                {
                    "piece": list(acc.keys()) + ["\x00__ll__"],
                    "ecount": list(acc.values()) + [ll],
                }
            )

    rows = (
        words.mapInPandas(kernel, "piece string, ecount double")
        .groupBy("piece")
        .agg(F.sum("ecount").alias("ecount"))
        .collect()
    )
    counts = {r["piece"]: r["ecount"] for r in rows}
    ll = counts.pop("\x00__ll__", 0.0)
    return counts, ll


def _normalize(counts: dict[str, float]) -> dict[str, float]:
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("EM collapsed: no probability mass")
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items() if c > 0.0}


def _prune(
    logp: dict[str, float],
    counts: dict[str, float],
    keep: int,
    max_piece_len: int,
) -> dict[str, float]:
    """Drop the lowest-value multi-char pieces down to ``keep``
    total. Loss of piece p ≈ ecount_p · (logP(p) − logP(best
    segmentation of p WITHOUT p)) — the SentencePiece alternative-
    segmentation criterion; model-sized driver work."""
    chars = {p for p in logp if len(p) == 1}
    multis = [p for p in logp if len(p) > 1]
    budget = keep - len(chars)
    if budget <= 0:
        return {p: lp for p, lp in logp.items() if p in chars}
    if len(multis) <= budget:
        return dict(logp)
    losses = []
    for p in multis:
        without = dict(logp)
        del without[p]
        alt = _viterbi(p, without, max_piece_len)
        alt_lp = sum(
            without.get(q, UNK_LOGPROB if len(q) == 1 else UNK_LOGPROB)
            for q in alt
        )
        loss = counts.get(p, 0.0) * (logp[p] - alt_lp)
        losses.append((loss, p))
    losses.sort(key=lambda t: (-t[0], t[1]))
    kept = {p for _, p in losses[:budget]} | chars
    return {p: lp for p, lp in logp.items() if p in kept}


def train_unigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 4096,
    seed_size: int | None = None,
    max_piece_len: int = 16,
    em_iters: int = 2,
    shrink_factor: float = 0.75,
    lowercase: bool = False,
    max_words: int = 200_000,
) -> dict:
    """Train a unigram piece model → ``{"logp": {piece: logprob},
    "max_piece_len", "stats"}``.

    Rounds of (``em_iters`` × distributed E-step + renormalize) then
    prune to ``max(vocab_size, current · shrink_factor)`` repeat
    until the inventory fits ``vocab_size``. ``max_words`` bounds
    the histogram to its most frequent words (Zipf truncation,
    coverage reported in stats)."""
    if vocab_size < 10:
        raise ValueError("vocab_size must be >= 10")
    if not 0.0 < shrink_factor < 1.0:
        raise ValueError("shrink_factor must be in (0, 1)")
    hist = word_histogram(df, text_col, lowercase=lowercase)
    total_row = hist.agg(
        F.count(F.lit(1)).alias("n"), F.sum("count").alias("tot")
    ).collect()[0]
    n_words, total_count = int(total_row["n"] or 0), int(total_row["tot"] or 0)
    if n_words == 0:
        raise ValueError("empty corpus")
    top = (
        hist.orderBy(F.desc("count"), F.asc("word")).limit(max_words)
        if n_words > max_words
        else hist
    )
    top = top.localCheckpoint()
    kept_count = top.agg(F.sum("count")).collect()[0][0]
    seed_n = seed_size if seed_size is not None else 8 * vocab_size
    seed = {
        r["piece"]: float(r["count"])
        for r in _seed_pieces(top, seed_n, max_piece_len).collect()
    }
    logp = _normalize(seed)
    ll = float("nan")
    rounds = 0
    while True:
        for _ in range(em_iters):
            counts, ll = _e_step(top, logp, max_piece_len)
            logp = _normalize(counts)
        if len(logp) <= vocab_size:
            break
        keep = max(vocab_size, int(len(logp) * shrink_factor))
        pruned = _prune(logp, counts, keep, max_piece_len)
        if len(pruned) >= len(logp):
            # nothing prunable left (all-chars floor above
            # vocab_size): stop rather than loop forever
            logp = pruned
            break
        logp = _normalize({p: math.exp(lp) for p, lp in pruned.items()})
        rounds += 1
    return {
        "logp": logp,
        "max_piece_len": max_piece_len,
        "lowercase": lowercase,
        "stats": {
            "vocab_size": len(logp),
            "n_words": n_words,
            "coverage": (kept_count / total_count) if total_count else 1.0,
            "final_loglik": ll,
            "prune_rounds": rounds,
        },
    }


def unigram_vocab_df(spark, model: dict) -> DataFrame:
    """(piece_id, piece, logprob) table — ids assigned by (logprob
    desc, piece asc), deterministic; persist beside the corpus."""
    items = sorted(model["logp"].items(), key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(
        [(i, p, lp) for i, (p, lp) in enumerate(items)],
        "piece_id long, piece string, logprob double",
    )


def unigram_ids(model: dict) -> dict[str, int]:
    """Deterministic piece→id map, ids assigned by (logprob desc,
    piece asc) — identical ordering to :func:`unigram_vocab_df` so a
    persisted vocab table and in-memory encoding agree."""
    items = sorted(model["logp"].items(), key=lambda t: (-t[1], t[0]))
    return {p: i for i, (p, _) in enumerate(items)}


def unigram_encode_ids(
    df: DataFrame,
    text_col: str,
    model: dict,
    out_col: str = "piece_ids",
    unk_id: int = -1,
) -> DataFrame:
    """Append ``out_col`` (array<long>): Viterbi pieces mapped
    through :func:`unigram_ids`; pieces outside the vocabulary (the
    UNK single-char fallback on unseen bytes) emit ``unk_id``. Same
    Arrow-batched memoized kernel shape as :func:`unigram_encode`."""
    logp = dict(model["logp"])
    ml = int(model["max_piece_len"])
    lower = bool(model.get("lowercase", False))
    ids = unigram_ids(model)
    unk = int(unk_id)

    from .bpe import _PRETOKEN_RE
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def enc(s: pd.Series) -> pd.Series:
        memo: dict[str, list[int]] = {}

        def one(text):
            if text is None:
                return []
            t = text.lower() if lower else text
            out: list[int] = []
            for w in _PRETOKEN_RE.findall(t):
                got = memo.get(w)
                if got is None:
                    got = [
                        ids.get(p, unk) for p in _viterbi(w, logp, ml)
                    ]
                    memo[w] = got
                out.extend(got)
            return out

        return s.map(one)

    return df.withColumn(out_col, enc(F.col(text_col).cast("string")))


def unigram_encode(
    df: DataFrame,
    text_col: str,
    model: dict,
    out_col: str = "pieces",
) -> DataFrame:
    """Append ``out_col`` (array<string>): Viterbi-best segmentation
    of each pre-token (bpe.PRETOKEN_PATTERN words), concatenated in
    order. Broadcast model + per-batch word memo, Arrow-batched."""
    from .bpe import _PRETOKEN_RE

    logp = dict(model["logp"])
    ml = int(model["max_piece_len"])
    lower = bool(model.get("lowercase", False))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def one(text):
            if text is None:
                return []
            t = text.lower() if lower else text
            out: list[str] = []
            for w in _PRETOKEN_RE.findall(t):
                got = memo.get(w)
                if got is None:
                    got = _viterbi(w, logp, ml)
                    memo[w] = got
                out.extend(got)
            return out

        return s.map(one)

    return df.withColumn(out_col, enc(F.col(text_col).cast("string")))
