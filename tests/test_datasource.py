"""`spark.read.format("tss")` / `readStream.format("tss")`
(`io/datasource.py`): the Python DataSource veneer must return
exactly what the explicit-file-list readers return — snapshots, time
travel, deletion vectors, column mapping, partition/zonemap pruning
via pushFilters — and the streaming change feed must be a consistent
retract stream whose signed aggregate equals the batch aggregate of
the final snapshot, across commits landing mid-stream and a
checkpoint restart."""

import os

import pytest
from pyspark.sql import functions as F

from trial_submission_studio_spark.io.datasource import plan_files, register
from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
    delete_where,
)
from trial_submission_studio_spark.io.merge import merge_version
from trial_submission_studio_spark.io.table_schema import rename_column
from trial_submission_studio_spark.io.versioned import (
    current_version,
    new_data_dir,
    read_version,
)
from trial_submission_studio_spark.io.zonemap import publish_with_stats


@pytest.fixture(scope="module")
def tss(spark):
    register(spark)
    return spark


def _mk(spark, tmp_path, n=40, n_files=4, name="t"):
    root = str(tmp_path / name)
    os.makedirs(root)
    d = new_data_dir(root)
    spark.createDataFrame(
        [(k, k * 10) for k in range(n)], "k long, v long"
    ).repartitionByRange(n_files, "k").sortWithinPartitions("k").write.parquet(
        d, mode="append"
    )
    publish_with_stats(root, d, ["k"])
    return root


def _snap(df):
    return {tuple(r) for r in df.collect()}


def test_batch_format_matches_explicit_readers(tss, tmp_path):
    spark = tss
    root = _mk(spark, tmp_path)
    delete_matching_dv(spark, root, spark.createDataFrame([(3,)], "k long"), "k")
    merge_version(spark, root, spark.createDataFrame([(5, 555)], "k long, v long"), "k")

    df = spark.read.format("tss").option("root", root).load()
    assert _snap(df) == _snap(read_version(spark, root))
    # filters return exact rows (dv files anti-joined, filter re-applied)
    assert _snap(df.filter("k < 10")) == _snap(
        read_version(spark, root).filter("k < 10")
    )
    # time travel by version and by the recorded commit time
    v1 = 1
    assert _snap(
        spark.read.format("tss").option("root", root)
        .option("version", str(v1)).load()
    ) == _snap(read_version(spark, root, v1))
    # asOf resolves schema AND mapping from the SAME snapshot the
    # reader reads: after a rename, an asOf read at a pre-rename
    # instant must present the OLD name with real values
    from trial_submission_studio_spark.io.versioned import read_manifest

    pre_rename_ts = read_manifest(root)["created_utc"]
    rename_column(spark, root, "v", "val")
    old = (
        spark.read.format("tss").option("root", root)
        .option("asOf", pre_rename_ts).load()
    )
    assert old.columns == ["k", "v"]
    assert old.filter("v is null").count() == 0


def test_pushed_filters_prune_files(tss, tmp_path):
    spark = tss
    root = _mk(spark, tmp_path, n=100, n_files=5)
    # the plan the reader executes: range-clustered files prune
    plan = plan_files(root, None, [("k", "<", 20)])
    assert plan["files_skipped"] >= 3
    assert 0 < len(plan["files"]) < plan["files_total"]
    # and the format route returns the exact filtered rows
    df = spark.read.format("tss").option("root", root).load()
    assert _snap(df.filter("k < 20")) == {(k, k * 10) for k in range(20)}
    # a fully-pruned predicate still returns a well-formed empty frame
    assert df.filter("k < -5").count() == 0
    # the plan audit SEES the DS scan (pushdown facts live in
    # plan_files — the plan string carries no PushedFilters for a
    # Python source)
    from trial_submission_studio_spark.operators.planaudit import (
        plan_facts,
    )

    facts = plan_facts(df.filter("k < 20"))
    assert len(facts["datasource_scans"]) == 1
    assert "tss" in facts["datasource_scans"][0]


def test_format_reads_shallow_clone_abs_entries(tss, tmp_path):
    """The format route resolves a clone's ABSOLUTE manifest entries
    and its re-keyed dv sidecars exactly like the explicit readers."""
    from trial_submission_studio_spark.io.versioned import shallow_clone

    spark = tss
    src = _mk(spark, tmp_path, n=30, n_files=2, name="csrc")
    delete_matching_dv(
        spark, src, spark.createDataFrame([(4,)], "k long"), "k"
    )
    clone = str(tmp_path / "cdst")
    shallow_clone(src, clone, spark=spark)
    delete_matching_dv(
        spark, clone, spark.createDataFrame([(7,)], "k long"), "k"
    )
    df = spark.read.format("tss").option("root", clone).load()
    assert _snap(df) == _snap(read_version(spark, clone))
    assert _snap(df) == {
        (k, k * 10) for k in range(30) if k not in (4, 7)
    }


def test_column_mapping_and_partitions_through_format(tss, tmp_path):
    spark = tss
    root = _mk(spark, tmp_path, name="tm")
    rename_column(spark, root, "v", "val")
    df = spark.read.format("tss").option("root", root).load()
    assert df.columns == ["k", "val"]
    assert _snap(df) == {(k, k * 10) for k in range(40)}

    from trial_submission_studio_spark.io.partitioned_table import (
        publish_partitioned,
    )

    proot = str(tmp_path / "tp")
    publish_partitioned(
        spark,
        spark.createDataFrame(
            [(k, f"d{k % 3}", k) for k in range(30)],
            "k long, day string, v long",
        ),
        proot,
        "day",
    )
    # partition pseudo-stats prune inside the DS plan (no footer stats)
    plan = plan_files(proot, None, [("day", "=", "d1")])
    assert plan["files_skipped"] >= 2
    got = _snap(
        spark.read.format("tss").option("root", proot).load()
        .filter("day = 'd1'")
    )
    assert got == {(k, "d1", k) for k in range(30) if k % 3 == 1}


def test_metadata_views_through_format(tss, tmp_path):
    """option('metadata', files|partitions|history): manifest-derived
    views as DataFrames through the format route."""
    from trial_submission_studio_spark.io.partitioned_table import (
        publish_partitioned,
    )

    spark = tss
    root = str(tmp_path / "meta")
    publish_partitioned(
        spark,
        spark.createDataFrame(
            [(k, f"d{k % 2}", k) for k in range(10)],
            "k long, day string, v long",
        ),
        root,
        "day",
    )
    delete_matching_dv(
        spark, root, spark.createDataFrame([(1,)], "k long"), "k"
    )
    files = spark.read.format("tss").option("root", root).option(
        "metadata", "files"
    ).load()
    assert files.count() >= 2
    assert files.agg({"dv_rows": "sum"}).collect()[0][0] == 1
    parts = spark.read.format("tss").option("root", root).option(
        "metadata", "partitions"
    ).load()
    assert {r.partition for r in parts.collect()} == {
        '{"day": "d0"}', '{"day": "d1"}',
    }
    hist = spark.read.format("tss").option("root", root).option(
        "metadata", "history"
    ).load()
    assert [r.op for r in hist.collect()] == ["delete_dv", "write"]
    with pytest.raises(Exception, match="unknown metadata view"):
        spark.read.format("tss").option("root", root).option(
            "metadata", "nope"
        ).load().count()


def test_feed_starting_version_skips_history(tss, tmp_path):
    """startingVersion pins the first offset: a consumer that only
    wants commits AFTER the bootstrap snapshot never replays it."""
    spark = tss
    root = _mk(spark, tmp_path, n=12, n_files=1, name="tsv")
    v0 = current_version(root)
    merge_version(
        spark, root, spark.createDataFrame([(99, 1)], "k long, v long"),
        "k",
    )
    sink, ckpt = str(tmp_path / "vsink"), str(tmp_path / "vck")
    q = (
        spark.readStream.format("tss").option("root", root)
        .option("feed", "true").option("startingVersion", str(v0))
        .load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    feed = _snap(spark.read.parquet(sink))
    # only the merge commit's delta — the 12-row bootstrap is absent
    assert (99, 1, "insert") in feed
    assert len([r for r in feed if r[2] == "insert"]) < 12


def test_writer_create_append_overwrite(tss, tmp_path):
    """df.write.format('tss'): create on a fresh root, append through
    the commit loop, logical->physical translation on mapped tables,
    snapshot-replace overwrite with history intact, and the loud
    refusals for constraint/layout tables."""
    spark = tss
    root = str(tmp_path / "w")
    spark.createDataFrame(
        [(k, k) for k in range(10)], "k long, v long"
    ).write.format("tss").option("root", root).mode("append").save()
    assert current_version(root) == 1
    spark.createDataFrame([(100, 1)], "k long, v long").write.format(
        "tss"
    ).option("root", root).mode("append").save()
    assert _snap(read_version(spark, root)) == {
        (k, k) for k in range(10)
    } | {(100, 1)}

    rename_column(spark, root, "v", "val")
    spark.createDataFrame([(200, 2)], "k long, val long").write.format(
        "tss"
    ).option("root", root).mode("append").save()
    df = read_version(spark, root)
    assert df.columns == ["k", "val"] and (200, 2) in _snap(df)

    spark.createDataFrame([(1, 9)], "k long, val long").write.format(
        "tss"
    ).option("root", root).mode("overwrite").save()
    assert _snap(read_version(spark, root)) == {(1, 9)}
    # history intact: the overwrite is one more commit, not a wipe
    assert read_version(spark, root, 1).count() == 10

    # refusals: constraint tables and layout-spec'd tables
    from trial_submission_studio_spark.io.bucketed_table import (
        publish_bucketed,
    )
    from trial_submission_studio_spark.io.versioned import (
        set_table_constraints,
    )

    croot = str(tmp_path / "wc")
    spark.createDataFrame([(1, 1)], "k long, v long").write.format(
        "tss"
    ).option("root", croot).mode("append").save()
    set_table_constraints(spark, croot, {"v_pos": "v >= 0"})
    with pytest.raises(Exception, match="CHECK constraints"):
        spark.createDataFrame([(2, 2)], "k long, v long").write.format(
            "tss"
        ).option("root", croot).mode("append").save()
    broot = str(tmp_path / "wb")
    publish_bucketed(
        spark, spark.createDataFrame([(1, 1)], "k long, v long"),
        broot, "k", 2,
    )
    with pytest.raises(Exception, match="layout contract"):
        spark.createDataFrame([(2, 2)], "k long, v long").write.format(
            "tss"
        ).option("root", broot).mode("append").save()


def test_sink_commit_loop_serializes_racing_writers(tmp_path):
    """The sink's stdlib commit loop under a real 8-thread race:
    exclusive manifest creation serializes them, every append lands
    exactly once (mirror of the commit_files race test, for the
    self-contained path)."""
    import threading

    from trial_submission_studio_spark.io.datasource import (
        _ds_append_commit,
        _ds_list_versions,
    )
    from trial_submission_studio_spark.io.versioned import read_manifest

    root = str(tmp_path / "r")
    os.makedirs(root + "/data")

    def mk(i):
        p = f"data/f{i}.parquet"
        with open(os.path.join(root, p), "wb") as f:
            f.write(b"x")
        return p

    _ds_append_commit(root, [mk(0)], {"seed": True})
    errs = []

    def go(i):
        try:
            _ds_append_commit(root, [mk(i)], {"w": i})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=go, args=(i,)) for i in range(1, 9)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    vs = _ds_list_versions(root)
    assert not errs and len(vs) == 9
    assert len(read_manifest(root, vs[-1])["files"]) == 9


def test_stream_feed_survives_midstream_rename(tss, tmp_path):
    """A rename lands between feed batches: the stream's schema is
    fixed at start (old logical name), and the retract rows keep
    resolving through the FROZEN physical names — values must never
    silently null out on either side of the rename commit."""
    spark = tss
    root = _mk(spark, tmp_path, n=10, n_files=1, name="tsr")
    ckpt, sink = str(tmp_path / "rck"), str(tmp_path / "rsink")
    q = (
        spark.readStream.format("tss")
        .option("root", root).option("feed", "true").load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        rename_column(spark, root, "v", "val")
        merge_version(
            spark, root,
            spark.createDataFrame([(1, 999)], "k long, val long"), "k",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    feed = spark.read.parquet(sink)
    assert feed.filter("v is null").count() == 0
    # the rewritten file retracts with the ORIGINAL values intact
    assert (1, 10, "delete") in _snap(feed)
    assert (1, 999, "insert") in _snap(feed)


def test_streaming_sink_exactly_once_append(tss, tmp_path):
    """df.writeStream.format('tss'): each micro-batch is ONE fenced
    append commit; a checkpoint restart commits nothing it already
    landed; refusals for constraint/layout tables fire at start."""
    spark = tss
    src_dir = str(tmp_path / "in")
    root = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src_dir)
    spark.createDataFrame([(1, 10)], "k long, v long").write.mode(
        "append"
    ).parquet(src_dir)

    def go():
        return (
            spark.readStream.schema("k long, v long").parquet(src_dir)
            .writeStream.format("tss").option("root", root)
            .option("checkpointLocation", ckpt).start()
        )

    q = go()
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(2, 20), (3, 30)], "k long, v long"
        ).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    assert _snap(read_version(spark, root)) == {(1, 10), (2, 20), (3, 30)}
    # restart from checkpoint: exactly-once across the gap
    spark.createDataFrame([(4, 40)], "k long, v long").write.mode(
        "append"
    ).parquet(src_dir)
    q = go()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _snap(read_version(spark, root)) == {
        (1, 10), (2, 20), (3, 30), (4, 40),
    }
    from trial_submission_studio_spark.io.versioned import table_history

    fences = [
        h["metadata"]["stream_sink"]["batch_id"]
        for h in table_history(root)
        if "stream_sink" in h["metadata"]
    ]
    assert fences == sorted(fences, reverse=True)  # monotone commits
    # and the sink's rows read back through every route
    assert _snap(
        spark.read.format("tss").option("root", root).load()
    ) == {(1, 10), (2, 20), (3, 30), (4, 40)}


def test_stream_feed_signed_aggregate_and_restart(tss, tmp_path):
    spark = tss
    root = _mk(spark, tmp_path, n=20, n_files=2, name="ts")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def go():
        return (
            spark.readStream.format("tss")
            .option("root", root).option("feed", "true").load()
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt).start()
        )

    q = go()
    try:
        q.processAllAvailable()
        # initial snapshot arrives as pure inserts
        first = spark.read.parquet(sink)
        assert _snap(first.select("_change").distinct()) == {("insert",)}
        assert first.count() == 20
        # commits land MID-STREAM
        merge_version(
            spark, root,
            spark.createDataFrame([(1, 111), (50, 1)], "k long, v long"),
            "k",
        )
        delete_matching_dv(
            spark, root, spark.createDataFrame([(2,)], "k long"), "k"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    # a commit lands while the stream is DOWN; restart resumes from
    # the checkpointed version offset (no duplicates, no gaps)
    delete_where(spark, root, [("k", ">=", 15)])
    q = go()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    feed = spark.read.parquet(sink)
    sign = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(-1)
    agg = feed.agg(
        F.sum(sign * F.col("v")).alias("s"), F.sum(sign).alias("n")
    ).collect()[0]
    snap = read_version(spark, root)
    want = snap.agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert (agg.s, agg.n) == (want.s, want.n)
    # dv-delete commits arrive as deletes of the exact rows
    assert (2, 20, "delete") in _snap(feed)
    # keyed net view: per-key signed count is 0 (gone) or 1 (live)
    net = {
        r.k: r.n
        for r in feed.groupBy("k").agg(F.sum(sign).alias("n")).collect()
    }
    live = {r.k for r in snap.collect()}
    assert {k for k, n in net.items() if n == 1} == live
    assert all(n in (0, 1) for n in net.values())
