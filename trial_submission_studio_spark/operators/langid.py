"""Trainable character-n-gram language identification.

The textstats stopword-ratio heuristic flags "English-like" cheaply;
real corpus routing needs a multi-language classifier. This is the
classic Cavnar-Trenkle / langid.py formulation — per-language
character-trigram profiles, cosine scoring — as pure DataFrame
algebra: train = two aggregations over a labeled sample, classify =
explode + broadcast join + argmax. No model artifact, no Python in
the row path.

Scale shape:

- Profiles are top-k grams per language — a few hundred rows per
  language, always broadcast.
- Classification explodes each document to its distinct grams with
  term frequencies (bounded by text length), joins the broadcast
  profile, and reduces per (doc, lang) then per doc. Two map-side
  combined aggregations, zero wide shuffles beyond the doc-key
  reductions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _norm_text(c: Column) -> Column:
    # lowercase, collapse whitespace to single spaces, pad so edge
    # grams exist for short strings
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.trim(c.cast("string"))), r"\s+", " "),
        F.lit(" "),
    )


def _gram_rows(
    df: DataFrame, id_cols: list[str], text_col: str, n_max: int
) -> DataFrame:
    """Explode to one row per overlapping character n-gram for EVERY
    n in 1..n_max — the mixed-order Cavnar-Trenkle gram set (short
    grams give coverage for ideographic scripts and tiny training
    sets; long grams discriminate related alphabetic languages).
    substr with a dynamic position needs expr SQL — the sequence
    element is not a literal."""
    s = _norm_text(F.col(text_col))
    # codegen shape, NOT a higher-order transform lambda (Spark
    # interprets HOF lambdas, ~4-10x slower — the same reason minhash
    # shingles use explode+substr): explode character positions once,
    # then emit the 1..n_max grams at each position from a small
    # array; positions too close to the end gate to NULL so no
    # truncated gram aliases a shorter order
    per_n = [
        F.when(
            F.col("__pos") + (n - 1) <= F.length("__s"),
            F.expr(f"substr(__s, __pos, {n})"),
        )
        for n in range(1, n_max + 1)
    ]
    return (
        df.select(*id_cols, s.alias("__s"))
        .select(
            *id_cols,
            "__s",
            F.explode(F.sequence(F.lit(1), F.length("__s"))).alias("__pos"),
        )
        .select(*id_cols, F.explode(F.array(*per_n)).alias("gram"))
        # whitespace-only grams carry zero language signal but would
        # dominate every profile's norm (the padded space is the most
        # frequent character in any corpus); NULLs are the end-gated
        # positions
        .filter(F.col("gram").isNotNull() & (F.trim(F.col("gram")) != ""))
    )


def train_language_profiles(
    labeled: DataFrame,
    lang_col: str,
    text_col: str,
    n: int = 3,
    top_k: int = 300,
) -> DataFrame:
    """(lang, gram, weight) — L2-normalized term-frequency weight of
    each language's ``top_k`` most frequent character grams over the
    mixed 1..n gram orders."""
    grams = _gram_rows(labeled, [lang_col], text_col, n)
    counts = grams.groupBy(lang_col, "gram").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    w = Window.partitionBy(lang_col).orderBy(F.desc("tf"), F.col("gram"))
    top = counts.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= top_k
    )
    norms = top.groupBy(lang_col).agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("__norm")
    )
    return (
        top.join(norms, lang_col)
        .select(
            F.col(lang_col).alias("lang"),
            "gram",
            (F.col("tf") / F.col("__norm")).alias("weight"),
        )
    )


def classify_language(
    df: DataFrame,
    profiles: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_score: float = 0.0,
) -> DataFrame:
    """(id, lang, score) — the argmax-cosine language per document
    (deterministic tie-break on language name), ``lang = NULL`` when
    no profile gram matches or the best score is below ``min_score``
    (unknown-language signal)."""
    grams = _gram_rows(df, [id_col], text_col, n)
    doc_tf = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).cast("double").alias("dtf")
    )
    doc_norm = doc_tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("dtf") * F.col("dtf"))).alias("__dn")
    )
    sims = (
        doc_tf.join(F.broadcast(profiles), "gram")
        .groupBy(id_col, "lang")
        .agg(F.sum(F.col("dtf") * F.col("weight")).alias("__dot"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.col("lang"))
    best = (
        sims.join(doc_norm, id_col)
        .select(id_col, "lang", (F.col("__dot") / F.col("__dn")).alias("score"))
        .withColumn("__r", F.row_number().over(w))
        .filter((F.col("__r") == 1) & (F.col("score") >= min_score))
        .drop("__r")
    )
    return (
        df.select(id_col)
        .distinct()
        .join(best, id_col, "left")
        .select(id_col, "lang", "score")
    )


def collect_profiles(profiles: DataFrame) -> dict:
    """``(lang, gram, weight)`` rows → ``{lang: {gram: weight}}``
    (KB-scale — profiles are top-k grams per language). The plain-dict
    form feeds :func:`classify_language_rowlocal`'s Arrow kernel."""
    out: dict = {}
    for r in profiles.collect():
        out.setdefault(r["lang"], {})[r["gram"]] = float(r["weight"])
    return out


def classify_language_rowlocal(
    df: DataFrame,
    profiles: dict | DataFrame,
    text_col: str,
    n: int = 3,
    min_score: float = 0.0,
    out_col: str = "lang",
) -> DataFrame:
    """Adds ``out_col`` (and ``<out_col>_score``) per ROW — the
    streaming-safe twin of :func:`classify_language`: no explode, no
    per-doc aggregation, so it composes into stateless Structured
    Streaming pipelines and any other place a join-back by id is
    unavailable.

    Semantics match :func:`classify_language` for ASCII-normalizable
    text: same padded-lowercase normalization, same mixed 1..n gram
    set with whitespace-only grams excluded, same full-document L2
    norm (all grams, matched or not), same argmax with deterministic
    tie-break on language name, NULL when nothing matches or the best
    cosine is below ``min_score``. (Java and Python lowercase a few
    non-ASCII code points differently — e.g. dotted İ; the batch path
    is authoritative there.)

    ``profiles`` may be the trained DataFrame (collected here — one
    KB-scale driver action) or a pre-collected
    :func:`collect_profiles` dict for reuse across micro-batches."""
    from collections.abc import Iterator

    import pandas as pd

    if not isinstance(profiles, dict):
        profiles = collect_profiles(profiles)
    # capture only plain data + stdlib in the closure (cloudpickle
    # ships it by value — the non-repo-cwd worker discipline)
    prof = {lang: dict(g) for lang, g in sorted(profiles.items())}
    n_max = int(n)
    floor = float(min_score)
    tcol = text_col
    ocol = out_col

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        import re

        ws = re.compile(r"\s+", re.ASCII)  # Java \s is ASCII-only

        def one(text):
            if text is None:
                return None, None
            s = " " + ws.sub(" ", str(text).strip(" ").lower()) + " "
            tf: dict = {}
            ln = len(s)
            for p in range(ln):
                for k in range(1, n_max + 1):
                    if p + k > ln:
                        break
                    g = s[p : p + k]
                    if g.strip(" ") == "":
                        continue
                    tf[g] = tf.get(g, 0) + 1
            if not tf:
                return None, None
            norm = math.sqrt(sum(v * v for v in tf.values()))
            best_lang, best_score = None, None
            for lang, grams in prof.items():
                dot = 0.0
                for g, w in grams.items():
                    c = tf.get(g)
                    if c:
                        dot += c * w
                if dot <= 0.0:
                    continue
                score = dot / norm
                if best_score is None or score > best_score:
                    best_lang, best_score = lang, score
            if best_score is None or best_score < floor:
                return None, None
            return best_lang, best_score

        for pdf in batches:
            langs, scores = [], []
            for text in pdf[tcol]:
                lang, score = one(text)
                langs.append(lang)
                scores.append(score)
            pdf = pdf.copy()
            pdf[ocol] = pd.Series(langs, dtype=object)
            pdf[f"{ocol}_score"] = pd.Series(scores, dtype="float64")
            yield pdf

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema += f", `{out_col}` string, `{out_col}_score` double"
    return df.mapInPandas(kernel, schema)
