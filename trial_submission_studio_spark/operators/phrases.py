"""Phrase mining and keyword extraction — corpus-statistics
operators for vocabulary curation.

Training-data pipelines mine collocations (PMI-scored bigrams) to
build tokenizer seed vocabularies and phrase-aware dedup keys, and
extract per-document tf-idf keywords for topic auditing, targeted
curation ("documents about X"), and cluster labeling. Both are pure
DataFrame algebra — count aggregations joined on term keys — so they
scale as ordinary shuffles on 8-byte-hashable token keys.

Reference parity note: the reference engine
(rubentalstra/Trial-Submission-Studio) has no corpus-statistics
surface; this extends the text/curation family (SURVEY.md §2.13)
beside `bm25.py` (retrieval) and `lm.py` (sequence likelihood).

Scale notes (100 TB):
- `collocations`: one explode pass feeds a bigram count and a
  unigram count (two shuffles on token keys); the join back is
  vocabulary-grain on `term` — an equi-join, never broadcast (a web
  vocabulary is 10⁸ rows; same discipline as bm25's term_dfs rule).
- `tfidf_keywords`: postings-shaped counts + a doc-frequency join +
  one per-document window top-k. The window partitions by document
  id — millions of small partitions, no skew (documents are
  bounded), no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tokenize import words as _tok_words

__all__ = ["collocations", "tfidf_keywords"]


def collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    lowercase: bool = True,
    token_pattern: str | None = None,
) -> DataFrame:
    """Adjacent-bigram collocation table →
    ``(tok_a, tok_b, n_ab, n_a, n_b, pmi, npmi)``.

    ``pmi = ln(n_ab · T / (n_a · n_b))`` with ``T`` = total token
    count and unigram counts taken over ALL tokens (including
    document-final ones — the standard corpus-frequency convention,
    so PMI is comparable across corpora of different mean document
    length). ``npmi = pmi / (−ln(n_ab / T))`` ∈ (−1, 1] (Bouma 2009;
    1 = perfect association) — the usual threshold scale for phrase
    promotion (npmi ≥ 0.5-ish). ``min_count`` prunes the long tail
    BEFORE the unigram joins — at web scale most bigrams are
    hapaxes, so this cuts the join input by orders of magnitude.

    Deterministic and SQL-oracle-expressible (counts + joins +
    ln). Fully lazy: the total token count T is NOT a separate
    ``count()`` action (which would re-explode the corpus in its own
    job) — it rides in-plan as a 1-row broadcast derived from the
    unigram table (``Σ n`` over ``uni``), so AQE's ReusedExchange
    serves the unigram shuffle to the totals agg AND both join sides
    from ONE corpus explode."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = _tok_words(text_col, lowercase=lowercase, token_pattern=token_pattern)
    tok_rows = df.select(F.explode(toks).alias("tok"))
    uni = tok_rows.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = uni.agg(F.sum("n").cast("double").alias("__total_toks"))
    pairs = (
        df.select(toks.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(
            F.expr(
                "explode(transform(sequence(1, size(__t) - 1), "
                "i -> struct(element_at(__t, i) as tok_a, "
                "element_at(__t, i + 1) as tok_b)))"
            ).alias("__p")
        )
        .select("__p.tok_a", "__p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    t = F.col("__total_toks")
    pmi = F.log(F.col("n_ab") * t / (F.col("n_a") * F.col("n_b")))
    return (
        pairs.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "n_a",
            "n_b",
            pmi.alias("pmi"),
            (pmi / (-F.log(F.col("n_ab") / t))).alias("npmi"),
        )
    )


def tfidf_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    lowercase: bool = True,
    token_pattern: str | None = None,
) -> DataFrame:
    """Per-document top-``k`` terms by smoothed tf-idf →
    ``(id, term, tf, df, tfidf, rank)``.

    ``tfidf = tf · (ln((1 + N) / (1 + df)) + 1)`` — the
    scikit-learn ``smooth_idf`` convention (never zero, defined even
    for df = N). Ties break lexicographically on ``term`` so results
    are deterministic. The df join is vocabulary-grain on ``term``
    (equi-join, not broadcast — see module scale notes)."""
    if k <= 0:
        raise ValueError("k must be positive")
    toks = _tok_words(text_col, lowercase=lowercase, token_pattern=token_pattern)
    postings = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfs = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = df.select(id_col).distinct().count()
    idf = F.log((1.0 + float(n_docs)) / (1.0 + F.col("df"))) + 1.0
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        postings.join(dfs, "term")
        .withColumn("tfidf", F.col("tf") * idf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )
