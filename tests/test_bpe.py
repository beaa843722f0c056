"""Shared pre-tokenizer: Java/Python regex parity and the word
histogram the unigram tokenizer trains from."""

from trial_submission_studio_spark.operators.bpe import (
    _PRETOKEN_RE,
    pretokenize,
    word_histogram,
)


def test_pretokenize_matches_python_regex_incl_nbsp(spark):
    """Java/Python regex parity on the explicit whitespace class —
    NBSP must tokenize identically on both sides."""
    texts = ["a b", "tab\tsep", "mixed 12ab!?x"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["text"]: r["p"] for r in df.select(
        "text", pretokenize("text").alias("p")).collect()}
    for t in texts:
        assert got[t] == _PRETOKEN_RE.findall(t), t


def test_word_histogram_counts(spark):
    df = spark.createDataFrame([("low low Low",), ("low!",)], "text string")
    rows = {r["word"]: r["count"] for r in word_histogram(df, "text").collect()}
    assert rows == {"low": 3, "Low": 1, "!": 1}
    lowered = {
        r["word"]: r["count"]
        for r in word_histogram(df, "text", lowercase=True).collect()
    }
    assert lowered == {"low": 4, "!": 1}
