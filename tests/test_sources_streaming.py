"""CSV ingest, items-metadata role detection, streaming parity, and
hypothesis property tests."""

import codecs
import os

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trial_submission_studio_spark.functions.duration import normalize_duration_str
from trial_submission_studio_spark.sources import read_source_csv
from trial_submission_studio_spark.sources.csv_reader import detect_encoding, list_csv_files
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


def test_streaming_asof_matches_batch(spark, tmp_path):
    """Streaming as-of join (state-store last-value-per-key) emits the
    same matches as the batch asof_join operator, including a
    cross-micro-batch match where the state row carries a right-side
    observation from an earlier batch."""
    from trial_submission_studio_spark.operators.temporal import asof_join
    from trial_submission_studio_spark.streaming.asof import streaming_asof_join

    def frame(rows, payload):
        return values_df(
            spark, rows, f"user_id bigint, ts_s string, {payload}"
        ).select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
            *[p.split()[0] for p in payload.split(", ")],
        )

    r1 = frame([(1, "2024-01-01 00:05:00", 10.0), (2, "2024-01-01 00:10:00", 20.0)], "quote double")
    l1 = frame([(1, "2024-01-01 00:07:00", 100), (2, "2024-01-01 00:09:00", 200)], "trade_id bigint")
    r2 = frame([(1, "2024-01-01 00:30:00", 11.0)], "quote double")
    l2 = frame([(1, "2024-01-01 00:35:00", 300), (2, "2024-01-01 00:40:00", 400)], "trade_id bigint")

    ldir, rdir = str(tmp_path / "trades"), str(tmp_path / "quotes")
    l1.write.parquet(ldir)
    r1.write.parquet(rdir)

    lstream = spark.readStream.schema("user_id bigint, ts timestamp, trade_id bigint").parquet(ldir)
    rstream = spark.readStream.schema("user_id bigint, ts timestamp, quote double").parquet(rdir)
    joined = streaming_asof_join(
        lstream, rstream, ["user_id"], value_cols=["quote"], suffix="_right"
    )
    q = joined.writeStream.outputMode("append").format("memory").queryName("asof_out").start()
    try:
        q.processAllAvailable()
        # phase 2, respecting the documented per-key in-order arrival:
        # the new quote lands (and is folded into state) before the
        # trades that should see it — so BOTH phase-2 trades match
        # purely out of the state store (u1: 00:30 quote from this
        # phase, u2: 00:10 quote carried since phase 1)
        r2.write.mode("append").parquet(rdir)
        q.processAllAvailable()
        l2.write.mode("append").parquet(ldir)
        q.processAllAvailable()
        got = {
            r["trade_id"]: (r["quote_right"], str(r["ts_right"]))
            for r in spark.sql("SELECT * FROM asof_out").collect()
        }
    finally:
        q.stop()

    expected_df = asof_join(
        l1.unionByName(l2), r1.unionByName(r2), ["user_id"],
        value_cols=["quote"],
    )
    expected = {
        r["trade_id"]: (r["quote_right"], str(r["ts_right"]))
        for r in expected_df.collect()
    }
    assert len(got) == 4
    assert got == expected
    assert got[200] == (None, "None")          # no quote yet at 00:09
    assert got[400] == (20.0, "2024-01-01 00:10:00")  # via state store


def test_streaming_asof_tolerance_and_strict_match_batch(spark, tmp_path):
    """The streaming as-of's tolerance/strict knobs agree with the
    batch operator: an exact-timestamp quote is invisible under
    strict, and a match older than the tolerance window is NULLed."""
    from trial_submission_studio_spark.operators.temporal import asof_join
    from trial_submission_studio_spark.streaming.asof import streaming_asof_join

    def frame(rows, payload):
        return values_df(
            spark, rows, f"user_id bigint, ts_s string, {payload}"
        ).select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
            payload.split()[0],
        )

    right = frame(
        [(1, "2024-01-01 00:00:00", 10.0), (1, "2024-01-01 01:00:00", 11.0)],
        "quote double",
    )
    left = frame(
        [(1, "2024-01-01 01:00:00", 100),   # exact ts: strict hides 11.0
         (1, "2024-01-01 02:30:00", 200)],  # 90m after 11.0: tol=3600 NULLs
        "trade_id bigint",
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(ldir)
    right.write.parquet(rdir)
    ls = spark.readStream.schema("user_id bigint, ts timestamp, trade_id bigint").parquet(ldir)
    rs = spark.readStream.schema("user_id bigint, ts timestamp, quote double").parquet(rdir)

    for kwargs in ({"tolerance_seconds": 3600}, {"strict": True}):
        joined = streaming_asof_join(
            ls, rs, ["user_id"], value_cols=["quote"], suffix="_right", **kwargs
        )
        name = "asof_ts_" + ("tol" if "tolerance_seconds" in kwargs else "strict")
        q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            got = {
                r["trade_id"]: r["quote_right"]
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
        finally:
            q.stop()
        want = {
            r["trade_id"]: r["quote_right"]
            for r in asof_join(
                left, right, ["user_id"], value_cols=["quote"], **kwargs
            ).collect()
        }
        assert got == want, (kwargs, got, want)
    assert want[100] == 10.0  # strict: exact 01:00 quote hidden


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
    """The crawl-governance stages (URL normalization key, domain
    blocklist) are stateless, so the SAME plan runs on a stream of
    fetched pages — batch ≡ bounded stream row-for-row."""
    from trial_submission_studio_spark.operators.urls import (
        domain_blocklist_filter,
        normalize_url,
    )

    batch = spark.createDataFrame(
        [
            (1, "https://www.good.org/a?utm_source=t",
             "<html><body><p>Fine page body here.</p></body></html>"),
            (2, "https://spam.bad.com/x",
             "<html><body><p>spam spam</p></body></html>"),
            (3, "https://good.org/a",  # same canonical URL as doc 1
             "<html><body><p>Fine page body here.</p></body></html>"),
        ],
        "doc_id long, url string, html string",
    )
    src = str(tmp_path / "pages_stream")
    batch.write.parquet(src)

    def stage(df):
        kept = domain_blocklist_filter(df, "url", ["bad.com"])
        return kept.select(
            "doc_id",
            normalize_url("url").alias("canonical_url"),
        )

    expected = sorted(tuple(r) for r in stage(batch).collect())
    assert [e[0] for e in expected] == [1, 3]
    assert expected[0][1] == expected[1][1] == "https://good.org/a"

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


def test_streaming_dedup_ingest_across_restarts(spark, tmp_path):
    """Continuous corpus ingest (streaming/ingest.py): micro-batches
    dedup against the PERSISTED fingerprint table, so a document
    admitted in a batch from a previous query RUN is still rejected
    after a restart — beyond any watermark/state-store scope. Also
    pins intra-batch min-id survivorship through the streaming path."""
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    from trial_submission_studio_spark.streaming.ingest import start_dedup_ingest

    schema = "doc_id bigint, text string"
    # run 1: docs 1-3, with 2/3 identical (min-id survivor -> 2)
    values_df(
        spark,
        [(1, "alpha text"), (2, "same body"), (3, "same body")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_ingest(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", corpus, state, ckpt,
    )
    q.awaitTermination(120)

    got1 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got1 == {1, 2}

    # run 2 (restart, same checkpoint): doc 4 repeats run 1's text,
    # doc 5 is novel
    values_df(
        spark, [(4, "alpha text"), (5, "brand new")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_ingest(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", corpus, state, ckpt,
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(corpus).collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 5}
    # the fingerprint state table covers exactly the admitted docs
    assert spark.read.parquet(state).select("fp").distinct().count() == 3


def test_streaming_dedup_ingest_replay_idempotent(spark, tmp_path):
    """Failure-recovery replay fence: foreachBatch re-runs batch N
    while batch N's OWN state delta is already persisted. Without the
    batch-id exclusion in the seen-state read, every replayed doc
    self-matches, `novel` goes empty, and the fenced overwrite wipes
    the corpus batch dir — permanent loss. A replay (simulated with a
    fresh checkpoint over the same source files, so the same rows
    re-process under batch_id=0) must recompute the SAME novel set in
    both exact and near modes."""
    from trial_submission_studio_spark.streaming.ingest import start_dedup_ingest

    schema = "doc_id bigint, text string"
    base = (
        "the quick brown fox jumps over the lazy dog while seventy "
        "watchful geese parade across the frozen harbor at dawn"
    )
    for mode in ("exact", "near"):
        src = str(tmp_path / mode / "src")
        corpus = str(tmp_path / mode / "corpus")
        state = str(tmp_path / mode / "state")
        values_df(
            spark, [(1, base), (2, "other body entirely")], schema
        ).coalesce(1).write.mode("append").parquet(src)

        def run(ckpt):
            q = start_dedup_ingest(
                spark.readStream.schema(schema).parquet(src),
                "doc_id", "text", corpus, state,
                str(tmp_path / mode / ckpt), mode=mode,
                publish_versions=True,
            )
            q.awaitTermination(120)

        run("ckpt1")
        assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 2}
        # replay: same source, fresh checkpoint -> batch_id=0 re-runs
        # against state that already holds batch_id=0's delta
        run("ckpt2")
        assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 2}
        # the published snapshot still resolves (no dangling file refs)
        from trial_submission_studio_spark.io import versioned as V

        snap = V.read_version(spark, corpus)
        assert {r.doc_id for r in snap.collect()} == {1, 2}


def test_streaming_near_dup_ingest_across_restarts(spark, tmp_path):
    """mode='near': the streaming ingest rejects NEAR-duplicates of
    documents admitted in any previous run — LSH band-bucket state +
    signature verification persisted across restarts, text never kept
    in state. Dissimilar documents still pass."""
    from trial_submission_studio_spark.streaming.ingest import start_dedup_ingest

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id bigint, text string"

    base = (
        "the quick brown fox jumps over the lazy dog while seventy "
        "watchful geese parade across the frozen harbor at dawn"
    )
    near = base.replace("frozen", "sunlit")  # high-Jaccard variant
    far = (
        "completely unrelated content about distributed query engines "
        "optimizing shuffle placement under adaptive execution plans"
    )

    def run(rows):
        values_df(spark, rows, schema).coalesce(1).write.mode("append").parquet(src)
        q = start_dedup_ingest(
            spark.readStream.schema(schema).parquet(src),
            "doc_id", "text", corpus, state, ckpt, mode="near",
        )
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination()

    run([(1, base)])
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1}

    # restart: near-dup of run 1 rejected, dissimilar admitted
    run([(2, near), (3, far)])
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3}
    # state carries band buckets + signatures, never text
    bcols = set(spark.read.parquet(state + "/buckets").columns)
    assert {"band", "bucket", "doc_id"} <= bcols and "text" not in bcols
    scols = set(spark.read.parquet(state + "/sigs").columns)
    assert {"doc_id", "sig"} <= scols and "text" not in scols


def test_streaming_dedup_ingest_bloom_pruned(spark, tmp_path):
    """Exact-mode ingest with the Bloom sidecar: same admit/reject
    decisions as plain exact mode across a restart, per-batch filter
    files appear under state/_bloom, and the underscore dir stays
    invisible to the partition-discovered fp read."""
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    from trial_submission_studio_spark.streaming.ingest import start_dedup_ingest

    schema = "doc_id bigint, text string"
    opts = {"capacity": 1000, "fpp": 0.01}
    values_df(
        spark,
        [(1, "alpha text"), (2, "same body"), (3, "same body")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_ingest(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", corpus, state, ckpt, bloom=opts,
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2}

    values_df(
        spark, [(4, "alpha text"), (5, "brand new")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_ingest(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", corpus, state, ckpt, bloom=opts,
    )
    q.awaitTermination(120)

    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2, 5}
    # fp state read is unpolluted by the sidecar dir and matches admits
    assert spark.read.parquet(state).select("fp").distinct().count() == 3
    import os

    sidecars = sorted(os.listdir(os.path.join(state, "_bloom")))
    assert any(s.startswith("batch_") and s.endswith(".bits") for s in sidecars)
    # the merged sidecars contain every admitted fp (no false negatives)
    from trial_submission_studio_spark.operators.bloom import (
        bloom_maybe_seen,
        load_bloom,
        merge_blooms,
    )

    bfs = [
        load_bloom(os.path.join(state, "_bloom", s[: -len(".json")]))
        for s in sidecars
        if s.endswith(".json")
    ]
    merged = merge_blooms(bfs)
    misses = (
        bloom_maybe_seen(
            spark.read.parquet(state).select("fp"), "fp", merged
        )
        .where("NOT maybe_seen")
        .count()
    )
    assert misses == 0


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


def test_streaming_near_dup_threshold_autocalibration(spark, tmp_path):
    """minhash={'threshold': t} auto-picks (bands, rows_per_band)
    via calibrate_lsh and still rejects a near-duplicate across a
    restartable ingest run."""
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    from trial_submission_studio_spark.streaming.ingest import start_dedup_ingest

    schema = "doc_id bigint, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    values_df(spark, [(1, base)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start_dedup_ingest(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", corpus, state, ckpt,
        mode="near", minhash={"threshold": 0.7},
    )
    q.awaitTermination(120)
    near = base.replace("lazy", "sleepy")
    values_df(
        spark, [(2, near), (3, "completely different content entirely")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_ingest(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", corpus, state, ckpt,
        mode="near", minhash={"threshold": 0.7},
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 3}  # near-dup 2 rejected, novel 3 admitted


def test_ingest_state_compaction_bounds_files_preserves_replay(spark, tmp_path):
    """compact_ingest_state folds fence-dead batch partitions into a
    negative compaction epoch: the state-dir partition count stays
    bounded (<= epoch + keep_latest) across N batches, dedup against
    compacted state still rejects previously admitted texts, and a
    REAL failure replay (latest commit marker removed, same
    checkpoint, same batch id) stays idempotent because the newest
    batch's delta is never folded."""
    import shutil

    from trial_submission_studio_spark.streaming.ingest import (
        _batch_dirs,
        compact_ingest_state,
        start_dedup_ingest,
    )

    schema = "doc_id bigint, text string"
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = start_dedup_ingest(
            spark.readStream.schema(schema).option(
                "maxFilesPerTrigger", "1"
            ).parquet(src),
            "doc_id", "text", corpus, state, ckpt,
            bloom={"capacity": 1000, "fpp": 0.01},
        )
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination()

    batches = [
        [(1, "alpha body"), (2, "beta body")],
        [(11, "alpha body"), (12, "gamma body")],   # alpha repeats
        [(21, "beta body"), (22, "delta body")],    # beta repeats
        [(31, "gamma body"), (32, "epsilon body")], # gamma repeats
    ]
    for rows in batches:
        values_df(spark, rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run()
    admitted = {1, 2, 12, 22, 32}
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == admitted
    assert len(_batch_dirs(state)) == 4

    folded = compact_ingest_state(spark, state, mode="exact")
    assert folded["fp"] == 3 and folded["bloom"] == 3
    dirs = _batch_dirs(state)
    assert set(dirs) == {-1, 3}  # epoch + protected latest
    # state content unchanged: same distinct fingerprints
    assert spark.read.parquet(state).select("fp").distinct().count() == 5

    # ingest after compaction: old text still rejected, novel admitted
    values_df(
        spark, [(41, "alpha body"), (42, "zeta body")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    admitted |= {42}
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == admitted

    # second compaction folds the previous epoch too: bounded forever
    compact_ingest_state(spark, state, mode="exact")
    assert set(_batch_dirs(state)) == {-2, 4}

    # REAL replay: drop the newest commit marker; restart re-executes
    # batch 4 under its ORIGINAL id against state holding its delta
    os.remove(os.path.join(ckpt, "commits", "4"))
    crc = os.path.join(ckpt, "commits", ".4.crc")
    if os.path.exists(crc):  # hadoop checksum sidecar blocks re-commit
        os.remove(crc)
    run()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == admitted
    assert spark.read.parquet(state).select("fp").distinct().count() == 6

    # keep_latest guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_latest"):
        compact_ingest_state(spark, state, keep_latest=0)


def test_ingest_state_compaction_near_mode(spark, tmp_path):
    """Near-dup (MinHash LSH) state: buckets and sigs tables both
    fold; near-duplicates of documents admitted BEFORE compaction are
    still rejected after it."""
    from trial_submission_studio_spark.streaming.ingest import (
        _batch_dirs,
        compact_ingest_state,
        start_dedup_ingest,
    )

    schema = "doc_id bigint, text string"
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    base = (
        "the quick brown fox jumps over the lazy dog while seventy "
        "watchful geese parade across the frozen harbor at dawn"
    )

    def run():
        q = start_dedup_ingest(
            spark.readStream.schema(schema).option(
                "maxFilesPerTrigger", "1"
            ).parquet(src),
            "doc_id", "text", corpus, state, ckpt, mode="near",
        )
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination()

    batches = [
        [(1, base), (2, "an entirely different second document body here")],
        [(11, "short unrelated note about harbor lights")],
        [(21, "yet another novel body mentioning geese migration data")],
    ]
    for rows in batches:
        values_df(spark, rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run()
    before = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert before == {1, 2, 11, 21}

    folded = compact_ingest_state(spark, state, mode="near")
    assert folded == {"buckets": 2, "sigs": 2}
    assert set(_batch_dirs(os.path.join(state, "buckets"))) == {-1, 2}
    assert set(_batch_dirs(os.path.join(state, "sigs"))) == {-1, 2}

    # a near-duplicate of batch 0's base doc (one word changed) must
    # still be rejected against the COMPACTED state
    near = base.replace("frozen", "icy")
    values_df(
        spark, [(31, near), (32, "completely fresh closing document")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == (
        before | {32}
    )
