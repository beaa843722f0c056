"""C4-style line-level quality filtering.

The C4 cleaning recipe (Raffel et al., "Exploring the Limits of
Transfer Learning", §2.2) filters web text LINE by line before
document-level rules: keep only lines that end in terminal
punctuation, have a minimum word count, and contain no blocklisted
marker (lorem ipsum, code braces, ...). The document is then rebuilt
from the surviving lines.

Spark-first shape: the whole pass is ONE projection over the scan —
``split`` on newlines, higher-order ``filter`` with a pure-expression
line predicate, ``aggregate``/``concat_ws`` to rebuild — all inside
whole-stage codegen, no UDF, no shuffle, no explode (the per-line
work happens inside array expressions, so a 100-TB corpus streams
through map tasks with zero exchange).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: C4's "terminal punctuation" — a line must end in one of these
TERMINAL_PUNCT_RE = "[.!?]$"


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _line_keep_predicate(
    min_words: int,
    require_terminal_punct: bool,
    blocklist: tuple[str, ...],
):
    def keep(x: Column) -> Column:
        ok = F.size(F.split(x, r"\s+")) >= F.lit(min_words)
        if require_terminal_punct:
            ok = ok & x.rlike(TERMINAL_PUNCT_RE)
        for marker in blocklist:
            ok = ok & ~F.lower(x).contains(marker.lower())
        return ok

    return keep


def kept_lines(
    text_col: Column | str,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] = (),
) -> Column:
    """Array-of-surviving-lines EXPRESSION (trimmed, blank lines
    dropped, C4 rules applied) — the projection-only form that
    :func:`line_quality_filter` aggregates and that a streaming
    pipeline can rebuild text from without a join (two branches of
    one stream cannot re-join statelessly)."""
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(_c(text_col).cast("string"), F.lit("")), "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    return F.filter(
        lines,
        _line_keep_predicate(min_words, require_terminal_punct, blocklist),
    )


def line_quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] = (),
    keep_text: bool = True,
) -> DataFrame:
    """Apply C4 line rules to a newline-separated text column →
    ``(id, n_lines, n_kept, kept_chars[, kept_text])``.

    ``n_lines`` counts non-blank lines (after trim), ``n_kept`` those
    passing every rule, ``kept_chars`` the total character length of
    surviving lines, and ``kept_text`` the document rebuilt from them
    (newline-joined; omit via ``keep_text=False`` when only stats
    feed a downstream filter — the rebuilt text is the wide column).

    Blocklist matching is case-insensitive substring (C4 matches its
    badword list the same way). Rules are pure expressions, so the
    operator composes with the textstats family in a single pass.
    """
    if min_words < 0:
        raise ValueError("min_words must be >= 0")
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(_c(text_col).cast("string"), F.lit("")), "\n"),
            # explicit unary lambda: F.trim's optional second parameter
            # would otherwise receive transform's element INDEX
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    kept = kept_lines(
        text_col, min_words, require_terminal_punct, blocklist
    )
    out = [
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.aggregate(
            kept, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("kept_chars"),
    ]
    if keep_text:
        out.append(F.concat_ws("\n", kept).alias("kept_text"))
    return df.select(*out)


def blocklist_word_stats(
    df: DataFrame,
    text_col: str,
    words,
    out_prefix: str = "blocked",
) -> DataFrame:
    """Word-boundary blocklist accounting → adds
    ``<prefix>_hits`` (total occurrences) and ``<prefix>_density``
    (hits per word) columns. ``words`` is the USER-SUPPLIED list
    (the classic C4 stage applies a published profanity list; none
    ships here — policy belongs to the operator's caller, the
    mechanism to the engine).

    Mechanism: the list compiles ONCE into a single alternation
    regexp with word boundaries, counted by ``regexp_count`` —
    codegen, case-insensitive, zero shuffles. Scale is regexp-size
    bound: a few thousand terms compile fine; beyond that prefer a
    token equi-join against a blocklist table."""
    import re as _re

    if not words:
        raise ValueError("blocklist is empty")
    pat = "(?i)\\b(" + "|".join(sorted(_re.escape(w) for w in words)) + ")\\b"
    hits = F.regexp_count(_c(text_col), F.lit(pat))
    n_words = F.size(F.split(F.trim(_c(text_col)), r"\s+"))
    return df.withColumn(f"{out_prefix}_hits", hits).withColumn(
        f"{out_prefix}_density",
        F.when(n_words > 0, hits / n_words).otherwise(F.lit(0.0)),
    )


def blocklist_filter(
    df: DataFrame,
    text_col: str,
    words,
    max_hits: int = 0,
    max_density: float | None = None,
) -> DataFrame:
    """Drop documents whose blocklist hits exceed ``max_hits`` (or
    whose per-word density exceeds ``max_density`` when given) —
    the C4 bad-words stage with the list externalized. Pure
    filter over :func:`blocklist_word_stats`' codegen counters."""
    scored = blocklist_word_stats(df, text_col, words, out_prefix="__bl")
    keep = F.col("__bl_hits") <= max_hits
    if max_density is not None:
        keep = keep & (F.col("__bl_density") <= max_density)
    return scored.filter(keep).drop("__bl_hits", "__bl_density")
