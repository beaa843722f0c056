"""Text analysis operators (north-star extension): token counting,
language-ID heuristic, quality scoring — all expression-only
(whole-stage codegen; zero Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: minimal English stopword set for the n-gram/stopword-ratio
#: language heuristic (public-domain word list)
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "it", "that", "this", "with", "for", "on", "as",
    "at", "by", "be", "from", "not", "but", "they", "he", "she",
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of the trimmed text (array<string>); empty
    text → empty array."""
    s = F.trim(_col(c).cast("string"))
    return F.when(s.isNull() | (s == ""), F.array().cast("array<string>")).otherwise(
        F.split(s, "\\s+")
    )


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("long")


def bpe_ish_token_count(c: Column | str) -> Column:
    """A BPE-flavored proxy: word pieces + digits + punctuation runs.

    Counts matches of (letter-runs | digit-runs | single punct),
    which tracks subword tokenizer counts far better than whitespace
    on code/punctuation-heavy text.
    """
    s = F.trim(_col(c).cast("string"))
    arr = F.regexp_extract_all(s, F.lit("([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])"), 1)
    return F.size(arr).cast("long")


def stopword_ratio(c: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """fraction of tokens that are (lowercased) stopwords; 0 for empty."""
    toks = F.transform(tokens(c), lambda t: F.lower(t))
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def predict_english(c: Column | str, threshold: float = 0.12) -> Column:
    """Heuristic language ID: stopword ratio ≥ threshold → English."""
    return (stopword_ratio(c) >= F.lit(threshold)).alias("is_en")


def punct_ratio(c: Column | str) -> Column:
    s = F.trim(_col(c).cast("string"))
    total = F.length(s)
    punct = F.length(F.regexp_replace(s, "[A-Za-z0-9\\s]", ""))
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(
        F.lit(0.0)
    )


def _nonblank_parts(c: Column | str, pattern: str) -> Column:
    """Trimmed, non-blank segments of the text split on ``pattern``
    (array<string>); NULL/blank text → empty array."""
    s = F.trim(_col(c).cast("string"))
    parts = F.transform(F.split(s, pattern), lambda x: F.trim(x))
    kept = F.filter(parts, lambda x: x != "")
    return F.when(s.isNull() | (s == ""), F.array().cast("array<string>")).otherwise(
        kept
    )


def _dup_fraction_e4(parts: Column) -> Column:
    """``((n - n_distinct) * 10000) // n`` as long — the duplicate
    fraction in exact integer fixed-point, so Spark and any SQL oracle
    agree bit-for-bit (float rounding order can't diverge)."""
    n = F.size(parts)
    d = F.size(F.array_distinct(parts))
    return F.when(
        n > 0, F.floor((n - d).cast("double") * 10000.0 / n.cast("double"))
    ).otherwise(F.lit(0)).cast("long")


def dup_line_fraction_e4(c: Column | str) -> Column:
    """Gopher/RefinedWeb-style duplicate-line fraction (fraction of
    lines that repeat an earlier line), e4 fixed-point. Zero-shuffle:
    pure array expressions inside whole-stage codegen."""
    return _dup_fraction_e4(_nonblank_parts(c, "\n"))


def dup_paragraph_fraction_e4(c: Column | str) -> Column:
    """Duplicate-paragraph fraction (blank-line-separated paragraphs),
    e4 fixed-point — the paragraph twin of the line rule."""
    return _dup_fraction_e4(_nonblank_parts(c, "\n{2,}"))


def dup_line_char_fraction(c: Column | str) -> Column:
    """Fraction of characters sitting in repeated line occurrences
    (the char-weighted Gopher repetition rule). One sorted-array fold
    — the accumulator carries (previous line, running char count), so
    every non-first occurrence contributes its length. Still
    zero-shuffle, all codegen."""
    parts = F.sort_array(_nonblank_parts(c, "\n"))
    total = F.aggregate(
        parts, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    dup_chars = F.aggregate(
        parts,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("cs"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            (
                acc["cs"]
                + F.when(x == acc["prev"], F.length(x).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("cs"),
        ),
        lambda acc: acc["cs"],
    )
    return F.when(
        total > 0, F.round(dup_chars.cast("double") / total.cast("double"), 4)
    ).otherwise(F.lit(0.0))


#: bullet prefixes and ellipsis suffixes per Gopher's formatting
#: rules — pinned here so the oracle SQL mirrors the same literals
BULLET_LINE_RE = r"^[•‣▪◦*-] "
ELLIPSIS_LINE_RE = r"(\.\.\.|…)$"
SYMBOL_RE = r"#|…|\.\.\."


def symbol_word_ratio_e4(c: Column | str) -> Column:
    """Gopher symbol-to-word ratio (hash + ellipsis occurrences per
    word), e4 fixed-point. Zero-shuffle codegen (regexp_count)."""
    s = F.trim(_col(c).cast("string"))
    n = token_count(c)
    nsym = F.when(
        s.isNull() | (s == ""), F.lit(0)
    ).otherwise(F.regexp_count(s, F.lit(SYMBOL_RE)))
    return (
        F.when(n > 0, F.floor(nsym.cast("double") * 10000.0 / n.cast("double")))
        .otherwise(F.lit(0))
        .cast("long")
    )


def bullet_line_fraction_e4(c: Column | str) -> Column:
    """Fraction of lines starting with a bullet marker (Gopher
    formatting rule), e4 fixed-point."""
    lines = _nonblank_parts(c, "\n")
    nb = F.size(F.filter(lines, lambda x: x.rlike(BULLET_LINE_RE)))
    n = F.size(lines)
    return (
        F.when(n > 0, F.floor(nb.cast("double") * 10000.0 / n.cast("double")))
        .otherwise(F.lit(0))
        .cast("long")
    )


def ellipsis_line_fraction_e4(c: Column | str) -> Column:
    """Fraction of lines ending in an ellipsis (Gopher formatting
    rule — truncated-snippet pages), e4 fixed-point."""
    lines = _nonblank_parts(c, "\n")
    ne = F.size(F.filter(lines, lambda x: x.rlike(ELLIPSIS_LINE_RE)))
    n = F.size(lines)
    return (
        F.when(n > 0, F.floor(ne.cast("double") * 10000.0 / n.cast("double")))
        .otherwise(F.lit(0))
        .cast("long")
    )


def alpha_word_fraction_e4(c: Column | str) -> Column:
    """Fraction of words containing at least one ASCII letter (the
    Gopher 80 %-alphabetic rule's statistic), e4 fixed-point."""
    toks = tokens(c)
    na = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    n = F.size(toks)
    return (
        F.when(n > 0, F.floor(na.cast("double") * 10000.0 / n.cast("double")))
        .otherwise(F.lit(0))
        .cast("long")
    )


def top_ngram_stats(df, id_col: str = "doc_id", text_col: str = "text", n: int = 2):
    """Per-document most-frequent word n-gram and the fraction of the
    document's characters it covers (the Gopher "top n-gram char
    fraction" filter). Explode → count per (doc, gram) → rank-1
    window: two shuffles on doc_id, honest and skew-tolerant (grams
    are counted map-side first via partial aggregation).

    Returns (id_col, top_gram, occurrences, gram_char_frac); documents
    with fewer than ``n`` words are omitted.
    """
    toks = tokens(text_col)
    # guard: sequence(0, size-n) counts DOWN when size < n, and slice
    # with start 0 throws — short docs must yield an empty gram array
    # (explode then drops them, per the docstring)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = (
        df.select(
            F.col(id_col),
            F.length(F.trim(F.col(text_col).cast("string"))).alias("__chars"),
            F.explode(grams).alias("gram"),
        )
    )
    counts = exploded.groupBy(id_col, "__chars", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("occurrences")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("occurrences"), F.asc("gram")  # deterministic tie-break
    )
    return (
        counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            id_col,
            F.col("gram").alias("top_gram"),
            "occurrences",
            F.when(
                F.col("__chars") > 0,
                F.round(
                    F.col("occurrences")
                    * F.length("gram").cast("double")
                    / F.col("__chars"),
                    4,
                ),
            ).otherwise(F.lit(0.0)).alias("gram_char_frac"),
        )
    )


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality proxy: long enough, low punctuation,
    reasonable mean word length (the reference engine has no analog;
    this mirrors common LLM-corpus quality filters)."""
    s = F.trim(_col(c).cast("string"))
    n_tok = token_count(c)
    len_score = F.least(F.length(s).cast("double") / F.lit(200.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4)
    mean_word = F.when(n_tok > 0, F.length(s).cast("double") / n_tok).otherwise(F.lit(0.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_score * punct_penalty * word_score, 4)


def _make_compression_ratio_udf(level: int):
    """Arrow-batched zlib compression ratio (closure factory — the
    worker cannot import this package)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def ratio(s):
        import zlib

        def one(v):
            if v is None:
                return None
            raw = v.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, level)) / len(raw)

        return s.map(one)

    # real-class annotations (PEP 563 inline hints stringify beyond
    # pyspark's resolver) drive the type-hint pandas_udf form
    ratio.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(ratio, "double")


def compression_ratio(c: Column | str, level: int = 6) -> Column:
    """zlib(deflate) compressed-size / raw-size per document — the
    Gopher/Dolma-era repetitiveness signal the string-expression
    rules can't see: boilerplate and templated spam compress far
    below natural prose (ratio < ~0.3), while binary-ish or
    high-entropy junk barely compresses (ratio > ~0.9). NULL for
    NULL/empty docs.

    Python is unavoidable (no JVM zlib expression), so this rides an
    Arrow-batched pandas_udf; at corpus scale run it once at ingest
    alongside the other per-doc stats, never per-query.
    """
    if not 1 <= level <= 9:
        raise ValueError("zlib level must be in [1, 9]")
    return _make_compression_ratio_udf(level)(_col(c).cast("string"))


def compression_filter(
    df,
    text_col: str = "text",
    min_ratio: float = 0.25,
    max_ratio: float = 0.95,
    level: int = 6,
):
    """Keep documents whose compression ratio falls in the
    natural-text band (drops templated/repetitive spam below
    ``min_ratio`` and high-entropy junk above ``max_ratio``; NULL
    ratios — empty docs — are dropped, matching the other quality
    filters' no-evidence stance)."""
    r = compression_ratio(text_col, level)
    return df.filter((r >= min_ratio) & (r <= max_ratio))


def sentence_count(c: Column | str) -> Column:
    """Terminal-punctuation-run count, floored at 1 for non-empty
    text (a fragment with no ``.!?`` is one sentence; empty/NULL
    handled by callers). Codegen."""
    col = F.col(c) if isinstance(c, str) else c
    return F.greatest(
        F.regexp_count(col, F.lit(r"[.!?。]+")), F.lit(1)
    ).cast("long")


def syllable_count(c: Column | str) -> Column:
    """Vowel-group syllable approximation (``[aeiouy]+`` runs on the
    lowercased text — the standard cheap English estimator; counts
    within ~10% of dictionary syllabification on running prose).
    Codegen."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(F.lower(col), F.lit("[aeiouy]+")).cast("long")


def flesch_reading_ease(c: Column | str) -> Column:
    """Flesch reading ease (Flesch 1948; the quality-signal variant
    used by early web-corpus filters): ``206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words)``. Higher = simpler; ~60-70
    is plain English, <30 academic. English-centric by construction
    (vowel-group syllables) — gate by language first. NULL for
    wordless text. All codegen; mirrors to any SQL engine."""
    col = F.col(c) if isinstance(c, str) else c
    words = token_count(col).cast("double")
    sents = sentence_count(col).cast("double")
    sylls = syllable_count(col).cast("double")
    return F.when(
        words > 0,
        F.lit(206.835) - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (sylls / words),
    )
