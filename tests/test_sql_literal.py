"""``sources.local.sql_literal``: data strings round-trip bit-exactly
through every SQL-literal frame constructor — ``values_df``, the
validation issue frame, and the contract's ``_literal_df``."""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from trial_submission_studio_spark.operators.validation import _issue_frame
from trial_submission_studio_spark.sources.local import values_df

# One string per hazard of Spark's string-literal parsing: backslash
# escapes, a trailing backslash, quotes, ${...} variable substitution,
# and the unicode/octal/LIKE escape forms.
TRICKY = [
    "back\\slash",
    "a\\tb",
    "trail\\",
    "it's",
    "''",
    "\\'",
    "line\nbreak\r\n",
    "${spark.app.name}",
    "${env:HOME}",
    "$\\{x}",
    "%_\\%\\_",
    "\\u0041\\U0001F600",
    "\\101",
    "\x00nul",
    "-- /*x*/ ;",
    "ünï©ødé 🧪",
]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(max_size=20), min_size=1, max_size=8))
@example(TRICKY)
def test_strings_round_trip_through_every_literal_frame(spark, strings):
    import __spark_entry__ as entrymod

    indexed = list(enumerate(strings))

    got = values_df(spark, indexed, "i int, s string").collect()
    assert [r["s"] for r in sorted(got)] == strings

    got = entrymod._literal_df(spark, indexed, "i int, s string").collect()
    assert [r["s"] for r in sorted(got)] == strings

    issues = [(s, s, s, s, i, [s, s]) for i, s in indexed]
    got = sorted(_issue_frame(spark, issues).collect(), key=lambda r: r["count"])
    assert [tuple(r) for r in got] == [
        (s, s, s, s, i, [s, s]) for i, s in indexed
    ]

