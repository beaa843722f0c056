"""Pre-tokenizer shared by the subword tokenizers.

The regex pre-tokenizer (letter runs | digit runs | one other
non-space char) and the corpus word histogram built on it. The
unigram-LM tokenizer (`operators/unigram.py`) trains from
:func:`word_histogram` and segments each pre-token that
``_PRETOKEN_RE`` finds, so the Java regex (distributed histogram) and
the Python regex (Arrow-batched encoder) must agree byte-for-byte.

Scale shape: the word histogram is the one corpus-sized stage of
tokenizer training — one regexp-extract + explode +
groupBy(word).count(), map-side combined, shuffling short strings.
Everything downstream runs on the aggregated (word, count) table,
which is vocabulary-sized, not corpus-sized.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Pre-tokenizer: letter runs | digit runs | single other non-space
#: char. Same token classes as textstats.bpe_ish_token_count, with the
#: whitespace class written out explicitly so the Java regex (used by
#: the distributed histogram) and the Python regex (used by the
#: encoder) agree byte-for-byte — Java's bare ``\s`` is ASCII-only
#: while Python's is Unicode-aware, so the bare class would silently
#: diverge on NBSP et al.
_WS = " \\t\\n\\x0B\\f\\r"
PRETOKEN_PATTERN = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS}]"
_PRETOKEN_RE = re.compile(PRETOKEN_PATTERN)


def pretokenize(c: Column | str) -> Column:
    """Pre-token array of a text column (array<string>; empty for
    NULL/blank). JVM-side regexp_extract_all — this is the corpus-hot
    path of training and stays in whole-stage codegen."""
    s = F.trim((F.col(c) if isinstance(c, str) else c).cast("string"))
    arr = F.regexp_extract_all(s, F.lit(f"({PRETOKEN_PATTERN})"), 1)
    return F.when(s.isNull() | (s == ""), F.array().cast("array<string>")).otherwise(arr)


def word_histogram(df: DataFrame, text_col: str, lowercase: bool = False) -> DataFrame:
    """(word, count) over the corpus — the one corpus-sized stage of
    tokenizer training. groupBy on short strings, map-side combined."""
    toks = pretokenize(text_col)
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
