"""Shared text tokenizer for the lexical operators (BM25, n-gram
LMs, contamination shingles).

Two conventions, selected per call:

- ``token_pattern=None`` (default): split on whitespace. This is the
  historical convention shared by `bm25.py`, `lm.py`, and
  `contamination.py` — deliberately identical across the three so a
  decontamination probe and the LM that scores the same corpus agree
  on what a "word" is. It keeps punctuation attached ("word." ≠
  "word"), which depresses recall on punctuated benchmark text.
- ``token_pattern=WORD_PATTERN`` (or any Java regex): extract all
  matches instead of splitting. ``WORD_PATTERN`` keeps letter runs
  and digit runs (``\\p{L}+|\\p{N}+``), so "word." tokenizes to
  "word" and recall on punctuated text recovers. Opt-in so the
  whitespace default — and every pinned oracle — stays byte-stable.

Both shapes stay whole-stage-codegen JVM expressions (`split` /
`regexp_extract_all`); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["WORD_PATTERN", "words", "encoding_stats"]

#: punctuation-aware option: unicode letter runs | digit runs
WORD_PATTERN = r"[\p{L}\p{M}]+|\p{N}+"


def words(
    c: Column | str, lowercase: bool = True, token_pattern: str | None = None
) -> Column:
    """Array-of-tokens expression for a text column. NULL/blank →
    empty array (never a 1-element ``[""]``)."""
    s = F.trim((F.col(c) if isinstance(c, str) else c).cast("string"))
    if lowercase:
        s = F.lower(s)
    if token_pattern is None:
        toks = F.split(s, r"\s+")
    else:
        toks = F.regexp_extract_all(s, F.lit(token_pattern), 0)
    return F.when(s.isNull() | (s == ""), F.array().cast("array<string>")).otherwise(
        toks
    )


def encoding_stats(
    df: DataFrame,
    tokens_col: str,
    text_col: str,
    strata_col: str | None = None,
    vocab_size: int | None = None,
) -> DataFrame:
    """Tokenizer-evaluation aggregates over an encoded corpus sample —
    the standard metrics for CHOOSING a tokenizer (BPE vs unigram vs
    vocab size) before committing a multi-week pretraining run:

    - ``chars_per_token`` — compression ratio (higher = fewer tokens
      for the same text; the headline fertility metric);
    - ``tokens_per_doc`` — mean sequence length (drives packing and
      context-budget planning);
    - ``distinct_tokens`` (+ ``vocab_utilization`` when
      ``vocab_size`` is given) — how much of the trained vocabulary
      the corpus actually exercises (a low ratio means wasted
      embedding rows);
    - ``n_docs`` / ``n_tokens`` / ``n_chars`` — the raw masses.

    ``tokens_col`` is any array column — `unigram.unigram_encode`
    pieces, `unigram.unigram_encode_ids` ids, or the
    lexical :func:`words` output — so the same report compares
    tokenizers by swapping the encode stage only. Grouped by
    ``strata_col`` when given (per-language fertility is where
    multilingual tokenizers fail first). One shuffle for the main
    aggregate + one token-grain distinct count; all codegen.
    """
    grp = [strata_col] if strata_col else []
    base = df.select(
        *grp,
        F.size(F.col(tokens_col)).alias("__nt"),
        F.length(F.col(text_col).cast("string")).alias("__nc"),
    )
    agg = base.groupBy(*grp).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("n_tokens"),
        F.coalesce(F.sum("__nc"), F.lit(0)).cast("long").alias("n_chars"),
    )
    tok_rows = df.select(*grp, F.explode(tokens_col).alias("__tok"))
    distinct = tok_rows.groupBy(*grp).agg(
        F.countDistinct("__tok").cast("long").alias("distinct_tokens")
    )
    joined = (
        agg.join(distinct, grp, "left") if grp else agg.crossJoin(distinct)
    )
    out = joined.select(
        *grp,
        "n_docs",
        "n_tokens",
        "n_chars",
        (F.col("n_chars") / F.col("n_tokens")).alias("chars_per_token"),
        (F.col("n_tokens") / F.col("n_docs")).alias("tokens_per_doc"),
        F.coalesce(F.col("distinct_tokens"), F.lit(0))
        .cast("long")
        .alias("distinct_tokens"),
    )
    if vocab_size is not None:
        if vocab_size <= 0:
            raise ValueError("vocab_size must be positive")
        out = out.withColumn(
            "vocab_utilization",
            F.col("distinct_tokens") / F.lit(float(vocab_size)),
        )
    return out
