"""CSV ingest, items-metadata role detection, streaming parity, and
hypothesis property tests."""

import codecs

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trial_submission_studio_spark.functions.duration import normalize_duration_str
from trial_submission_studio_spark.sources.csv_reader import (
    detect_encoding,
    list_csv_files,
    read_source_csv,
)
from trial_submission_studio_spark.sources.items_metadata import detect_roles, load_items_metadata
from trial_submission_studio_spark.sources.local import values_df
from trial_submission_studio_spark.streaming.events import tumbling_window_counts

AE_CSV = (
    "Subject ID,Term,Start Date\n"
    "SubjectId,AETERM,AESTDAT\n"
    "S-001,Sun stroke,2023-09-30\n"
    "S-002,  ,2024-01-15\n"
)


def test_double_header_csv(spark, tmp_path):
    p = tmp_path / "AE.csv"
    p.write_text(AE_CSV, encoding="utf-8")
    src = read_source_csv(spark, str(p), header_rows=2)
    assert src.columns == ["SubjectId", "AETERM", "AESTDAT"]
    assert src.labels["AETERM"] == "Term"
    got = sorted(tuple(r) for r in src.df.collect())
    assert got == [
        ("S-001", "Sun stroke", "2023-09-30", 1),
        ("S-002", None, "2024-01-15", 2),  # whitespace-only -> NULL
    ]


def test_single_header_csv(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("A,B\n1,2\n", encoding="utf-8")
    src = read_source_csv(spark, str(p), header_rows=1)
    assert src.columns == ["A", "B"]
    assert src.df.count() == 1


def test_utf16_bom(spark, tmp_path):
    p = tmp_path / "u16.csv"
    p.write_bytes(codecs.BOM_UTF16_LE + AE_CSV.encode("utf-16-le"))
    assert detect_encoding(str(p)) == "UTF-16LE"
    src = read_source_csv(spark, str(p), header_rows=2)
    assert src.df.count() == 2
    assert src.df.filter(F.col("SubjectId") == "S-001").count() == 1


def test_utf16_crlf(spark, tmp_path):
    """Windows CRLF UTF-16 file: the sniffed lineSep must keep the
    last column free of stray '\\r' (ADVICE round 1)."""
    p = tmp_path / "u16crlf.csv"
    body = AE_CSV.replace("\n", "\r\n")
    p.write_bytes(codecs.BOM_UTF16_LE + body.encode("utf-16-le"))
    src = read_source_csv(spark, str(p), header_rows=2)
    assert src.df.count() == 2
    last_col = src.columns[-1]
    vals = [r[0] for r in src.df.select(last_col).collect()]
    assert all(v is None or "\r" not in v for v in vals), vals
    assert src.df.filter(F.col("SubjectId") == "S-001").count() == 1


def test_utf8_bom(spark, tmp_path):
    p = tmp_path / "u8.csv"
    p.write_bytes(codecs.BOM_UTF8 + AE_CSV.encode("utf-8"))
    src = read_source_csv(spark, str(p), header_rows=2)
    assert src.columns[0] == "SubjectId"


def test_list_csv_files(tmp_path):
    (tmp_path / "b.CSV").write_text("x\n")
    (tmp_path / "a.csv").write_text("x\n")
    (tmp_path / "c.txt").write_text("x\n")
    got = [p.rsplit("/", 1)[-1] for p in list_csv_files(str(tmp_path))]
    assert got == ["a.csv", "b.CSV"]


ITEMS_CSV = (
    "Item Id,Item Label,Type,Required,Format,Len\n"
    "ID,Label,DataType,Mandatory,FormatName,ContentLength\n"
    "SUBJID,Subject Identifier for the Study,text,True,,8\n"
    "SEXCD,Gender of the Subject - Code,text,True,SEX,1\n"
    "AGE,Age of the Subject in Years,integer,False,,3\n"
    "ICDAT,Informed Consent Signature Date,date,True,,10\n"
)


def test_items_role_detection(spark, tmp_path):
    p = tmp_path / "Items.csv"
    p.write_text(ITEMS_CSV, encoding="utf-8")
    src = read_source_csv(spark, str(p), header_rows=2)
    roles = detect_roles(src)
    assert roles["ID"] == "id"
    assert roles["Label"] == "label"
    meta = load_items_metadata(spark, str(p))
    assert meta.items["SEXCD"].format_name == "SEX"
    assert meta.items["AGE"].mandatory is False
    assert meta.items["SUBJID"].content_length == 8


def test_top_ngram_short_docs_omitted(spark):
    """Docs with fewer than n tokens yield no gram rows instead of a
    slice crash (code-review regression: sequence(0, size-n) counted
    DOWN for short docs)."""
    from trial_submission_studio_spark.operators.textstats import top_ngram_stats

    df = values_df(
        spark,
        [(1, "hello"), (2, ""), (3, None), (4, "a b")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["top_gram"] for r in top_ngram_stats(df).collect()}
    assert got == {4: "a b"}


def test_streaming_matches_batch(spark, tmp_path):
    batch = values_df(
        spark,
        [
            (1, "2024-01-01 00:10:00", "click", 1.0),
            (2, "2024-01-01 00:50:00", "click", 2.0),
            (3, "2024-01-01 01:10:00", "view", 3.0),
        ],
        "event_id bigint, ts_s string, event_type string, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    src_dir = str(tmp_path / "events_stream")
    batch.write.parquet(src_dir)

    expected = sorted(tuple(r) for r in tumbling_window_counts(batch, "1 hour").collect())

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string, value double")
        .parquet(src_dir)
    )
    agg = tumbling_window_counts(stream, "1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tw_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM tw_out").collect())
    finally:
        q.stop()
    assert got == expected


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """At-least-once delivery -> exactly-once events: duplicate
    event_ids are dropped with watermark-bounded state; batch mode
    degrades to plain dropDuplicates with identical results."""
    from trial_submission_studio_spark.streaming.events import dedup_stream

    batch = values_df(
        spark,
        [
            (1, "2024-01-01 00:10:00", "click"),
            (1, "2024-01-01 00:10:00", "click"),  # redelivery
            (2, "2024-01-01 00:20:00", "view"),
            (2, "2024-01-01 00:21:00", "view"),  # same id, later ts
            (3, "2024-01-01 00:30:00", "click"),
        ],
        "event_id bigint, ts_s string, event_type string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    src_dir = str(tmp_path / "dups")
    batch.write.parquet(src_dir)

    assert sorted(
        r["event_id"] for r in dedup_stream(batch).collect()
    ) == [1, 2, 3]

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string")
        .parquet(src_dir)
    )
    out = dedup_stream(stream, watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()
        )
    finally:
        q.stop()
    assert got == [1, 2, 3]


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=30))
def test_duration_idempotent(s):
    once = normalize_duration_str(s)
    twice = normalize_duration_str(once)
    assert twice == once  # normalize∘normalize == normalize


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10000))
def test_duration_numeric_days(n):
    assert normalize_duration_str(str(n)) == (f"P{n}D" if n else "P0D")


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """session_window stats: streaming result equals the batch result
    of the same definition, and session membership agrees with the
    batch lag-based sessionize operator."""
    from trial_submission_studio_spark.operators.skew import sessionize
    from trial_submission_studio_spark.streaming.events import session_window_stats

    batch = values_df(
        spark,
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 2.0),   # same session (10m gap)
            (1, "2024-01-01 01:00:00", 3.0),   # new session (50m > 30m)
            (2, "2024-01-01 00:05:00", 4.0),
        ],
        "user_id bigint, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    src_dir = str(tmp_path / "sess_events")
    batch.write.parquet(src_dir)

    expected = sorted(
        tuple(r) for r in session_window_stats(batch, gap_minutes=30).collect()
    )
    assert len(expected) == 3  # u1 x2 sessions + u2 x1

    # cross-operator agreement: lag-based sessionize finds the same
    # (user, session) partitioning
    sess = sessionize(batch, "user_id", "ts", gap_minutes=30)
    by_sess = sess.groupBy("user_id", "session_id").count().collect()
    assert sorted((r["user_id"], r["count"]) for r in by_sess) == [
        (1, 1), (1, 2), (2, 1),
    ]

    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp, value double"
    ).parquet(src_dir)
    agg = session_window_stats(stream, gap_minutes=30, watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM sess_out").collect())
    finally:
        q.stop()
    assert got == expected


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Append-mode + watermark: an event older than the watermark must
    be DROPPED from its already-finalized window (true late-data
    semantics, exercised with two sequential micro-batches)."""
    src_dir = str(tmp_path / "late_stream")
    schema = "event_id bigint, ts timestamp, event_type string, value double"

    def write_batch(rows, part):
        values_df(
            spark, rows, "event_id bigint, ts_s string, event_type string, value double"
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "event_type", "value",
        ).coalesce(1).write.mode("append").parquet(src_dir)

    # batch 1: one on-time event + a far-future event that advances the
    # watermark past the first window's end
    write_batch([(1, "2024-01-01 00:10:00", "click", 1.0),
                 (2, "2024-01-01 03:00:00", "click", 1.0)], 0)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    agg = tumbling_window_counts(stream, "1 hour", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for the 00:00 window (watermark is now
        # 02:00) — must not resurrect or alter the finalized window
        write_batch([(3, "2024-01-01 00:20:00", "click", 5.0)], 1)
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM late_out").collect()
        }
    finally:
        q.stop()
    # the 00:00 window finalized with ONLY the on-time event
    assert got[("2024-01-01 00:00:00", "click")] == (1, 1.0)
    # the late event's value never appears anywhere
    assert all(v[1] != 5.0 and v[1] != 6.0 for v in got.values()), got


def test_streaming_stateless_corpus_filters_match_batch(spark, tmp_path):
    """The row-local corpus stages (C4 line filter, quality predicate)
    are stateless expressions, so the SAME plan runs on a stream —
    batch and bounded-stream outputs must be identical row-for-row."""
    from trial_submission_studio_spark.operators.qualityfilter import (
        line_quality_filter,
    )
    from trial_submission_studio_spark.operators.textstats import token_count

    batch = spark.createDataFrame(
        [
            (1, "good line with words here.\nxx\nanother fine line today."),
            (2, "visit the café olé site or mail us now please."),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_stream")
    batch.write.parquet(src)

    def stage(df):
        scored = line_quality_filter(df, "doc_id", "text", min_words=4)
        return scored.filter(token_count("kept_text") >= 4).select(
            "doc_id", "n_kept", "kept_text"
        )

    expected = sorted(tuple(r) for r in stage(batch).collect())
    assert len(expected) == 2  # doc 3 filtered; docs 1-2 survive

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        stage(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM corpus_stream_out").collect()
        )
    finally:
        q.stop()
    assert got == expected


def test_streaming_crawl_stages_match_batch(spark, tmp_path):
    """The page-governance stages (PII filter, PII redaction) are
    stateless, so the SAME plan runs on a stream of fetched pages —
    batch ≡ bounded stream row-for-row."""
    from trial_submission_studio_spark.operators.pii import pii_filter, redact_pii

    batch = spark.createDataFrame(
        [
            (1, "https://good.org/a",
             "<html><body><p>Mail jane@example.org today.</p></body></html>"),
            (2, "https://bad.com/x",
             "<html><body><p>a@b.com c@d.com e@f.com</p></body></html>"),
            (3, "https://good.org/b",
             "<html><body><p>Fine page body here.</p></body></html>"),
        ],
        "doc_id long, url string, html string",
    )
    src = str(tmp_path / "pages_stream")
    batch.write.parquet(src)

    def stage(df):
        kept = pii_filter(df, "html", max_total=1)
        return kept.select("doc_id", redact_pii("html").alias("html"))

    expected = sorted(tuple(r) for r in stage(batch).collect())
    assert [e[0] for e in expected] == [1, 3]
    assert "jane@example.org" not in expected[0][1]
    assert "[EMAIL]" in expected[0][1]

    stream = spark.readStream.schema("doc_id long, url string, html string").parquet(src)
    q = (
        stage(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("crawl_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM crawl_stream_out").collect()
        )
    finally:
        q.stop()
    assert got == expected


def test_incremental_exact_dedup_bloom_equivalence(spark):
    """Batch API: incremental_exact_dedup(bloom=...) returns exactly
    the plain path's novel set."""
    from trial_submission_studio_spark.operators.bloom import build_bloom
    from trial_submission_studio_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    docs = values_df(
        spark,
        [(i, f"text {i % 60}") for i in range(100)],
        "doc_id bigint, text string",
    )
    seen = docs.filter("doc_id < 40").select(
        F.md5(F.col("text").cast("string")).alias("fp")
    ).distinct()
    # normalized=False keys on md5(text) — matches `seen` above
    inc = docs.filter("doc_id >= 40")
    plain, _ = incremental_exact_dedup(inc, seen, "doc_id", "text", normalized=False)
    bf = build_bloom(seen, "fp", capacity=50, fpp=0.3)  # deliberately lossy
    pruned, _ = incremental_exact_dedup(
        inc, seen, "doc_id", "text", normalized=False, bloom=bf
    )
    assert sorted(r["doc_id"] for r in plain.collect()) == sorted(
        r["doc_id"] for r in pruned.collect()
    )
