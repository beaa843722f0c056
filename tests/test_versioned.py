"""Versioned corpus snapshots: atomic manifest publish, time travel,
append via base_version, rollback, retire+vacuum."""

import os

import pytest

from trial_submission_studio_spark.io.versioned import (
    current_version,
    list_versions,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
    retire_versions,
    rollback,
    vacuum,
)


def _docs(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS doc_id", "concat('text-', id) AS text"
    )


def test_publish_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "corpus")
    os.makedirs(root)
    d1 = new_data_dir(root)
    _docs(spark, 0, 100).write.parquet(d1, mode="append")
    m1 = publish_version(root, d1, metadata={"source": "batch-1"})
    assert m1["version"] == 1 and current_version(root) == 1

    d2 = new_data_dir(root)
    _docs(spark, 100, 150).write.parquet(d2, mode="append")
    m2 = publish_version(root, d2, base_version=1)
    assert m2["version"] == 2
    assert set(m1["files"]) < set(m2["files"])

    assert read_version(spark, root).count() == 150  # CURRENT
    assert read_version(spark, root, version=1).count() == 100  # time travel
    assert read_manifest(root, 1)["metadata"]["source"] == "batch-1"


def test_rollback_is_append_only(spark, tmp_path):
    root = str(tmp_path / "corpus")
    os.makedirs(root)
    for lo, hi in ((0, 10), (10, 30)):
        d = new_data_dir(root)
        _docs(spark, lo, hi).write.parquet(d, mode="append")
        publish_version(root, d)
    m = rollback(root, to_version=1)
    assert m["version"] == 3 and m["metadata"]["rollback_of"] == 1
    assert current_version(root) == 3
    assert read_version(spark, root).count() == 10
    assert list_versions(root) == [1, 2, 3]  # history intact


def test_retire_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "corpus")
    os.makedirs(root)
    dirs = []
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        d = new_data_dir(root)
        _docs(spark, lo, hi).write.parquet(d, mode="append")
        publish_version(root, d)  # each version = ONLY its own files
        dirs.append(d)
    retired = retire_versions(root, keep_latest=1)
    assert retired == [1, 2]
    # retention fence: with the default 7-day min age, just-written
    # unreferenced files are NOT deletable — an in-flight writer's
    # unpublished run dir looks exactly like a retired version's, and
    # an age-blind concurrent vacuum would destroy its whole run
    assert vacuum(root, dry_run=True) == []
    deletable = vacuum(root, dry_run=True, min_age_seconds=0)
    assert deletable  # v1+v2 files now unreferenced
    assert all(not p.startswith("data/" + os.path.basename(dirs[2])) for p in deletable)
    deleted = vacuum(root, min_age_seconds=0)
    assert deleted == deletable
    assert read_version(spark, root).count() == 10  # CURRENT intact
    assert not os.path.isdir(dirs[0])  # empty run dir pruned
    # a genuinely in-flight run dir survives a DEFAULT-age real
    # vacuum wholesale (files and dir both kept)
    inflight = new_data_dir(root)
    _docs(spark, 90, 95).write.parquet(inflight, mode="append")
    assert vacuum(root) == []
    assert os.path.isdir(inflight)


def test_publish_guards(spark, tmp_path):
    root = str(tmp_path / "corpus")
    os.makedirs(root)
    with pytest.raises(ValueError, match="no data files"):
        publish_version(root, new_data_dir(root))
    d = new_data_dir(root)
    _docs(spark, 0, 5).write.parquet(d, mode="append")
    publish_version(root, d)
    with pytest.raises(ValueError, match="duplicate files"):
        publish_version(root, d, base_version=1)  # same dir twice
    with pytest.raises(FileNotFoundError):
        read_manifest(str(tmp_path / "nowhere"))


def test_diff_versions(spark, tmp_path):
    from trial_submission_studio_spark.io.versioned import diff_versions

    root = str(tmp_path / "corpus")
    os.makedirs(root)
    d1 = new_data_dir(root)
    _docs(spark, 0, 10).write.parquet(d1, mode="append")
    publish_version(root, d1)
    d2 = new_data_dir(root)
    _docs(spark, 10, 20).write.parquet(d2, mode="append")
    publish_version(root, d2, base_version=1)
    d = diff_versions(root, 1, 2)
    assert d["n_removed"] == 0 and d["n_added"] >= 1
    assert d["n_delta"] == d["n_added"]
    assert all(f.startswith("data/") for f in d["added"])
    back = diff_versions(root, 2, 1)
    assert back["n_added"] == 0 and back["n_removed"] == d["n_added"]


def test_jsonl_landing_to_versioned_corpus_end_to_end(spark, tmp_path):
    """The landing-to-corpus story composes: JSONL landing files →
    pinned-schema parse (malformed lines dropped) → exact dedup against
    the current snapshot → atomic snapshot publish → pooled doc
    vectors, with time travel back to the first landing."""
    import json

    from pyspark.sql import functions as F

    from trial_submission_studio_spark.operators.dedup import incremental_exact_dedup
    from trial_submission_studio_spark.operators.embeddings import pool_embeddings

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    os.makedirs(landing)
    os.makedirs(corpus)

    def land(name, rows, bad=0):
        path = os.path.join(landing, name)
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
            for _ in range(bad):
                f.write("{torn line\n")
        return path

    def run(path):
        batch = (
            spark.read.schema("doc_id long, text string")
            .option("mode", "DROPMALFORMED")
            .json(path)
        )
        base = current_version(corpus)
        seen = None
        if base is not None:
            seen = read_version(spark, corpus).select(
                F.md5(F.col("text")).alias("fp")
            )
        novel, _ = incremental_exact_dedup(
            batch, seen, "doc_id", "text", normalized=False
        )
        d = new_data_dir(corpus)
        novel.select("doc_id", "text").write.parquet(d, mode="append")
        publish_version(corpus, d, base_version=base)

    run(land("a.jsonl", [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "pack my box with five dozen liquor jugs"},
    ], bad=1))
    v1 = current_version(corpus)
    assert {r.doc_id for r in read_version(spark, corpus).collect()} == {1, 2}

    # second landing file: one exact duplicate, one novel
    run(land("b.jsonl", [
        {"doc_id": 3, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 4, "text": "sphinx of black quartz judge my vow"},
    ]))
    snapshot = read_version(spark, corpus)
    assert {r.doc_id for r in snapshot.collect()} == {1, 2, 4}
    assert {r.doc_id for r in read_version(spark, corpus, version=v1).collect()} == {1, 2}

    # one fake vector per word, pooled back to one vector per document
    words = snapshot.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    encoded = words.withColumn(
        "vec", F.array((F.xxhash64("word") % 997).cast("double"))
    )
    pooled = pool_embeddings(encoded, "doc_id", "vec")
    rows = {r.doc_id: r for r in pooled.collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1].n_pooled == 9 and rows[4].n_pooled == 7
    assert all(len(r.vec) == 1 for r in rows.values())


def test_compact_version_preserves_rows_and_history(spark, tmp_path):
    """OPTIMIZE-style compaction: many small part files rewrite to
    few ~target-size outputs in a NEW version; rows identical; the
    pre-compaction version still time-travels; retire+vacuum then
    reclaims the small files while the compacted snapshot survives."""
    import os

    from trial_submission_studio_spark.io.versioned import (
        compact_version,
        new_data_dir,
        publish_version,
        read_manifest,
        read_version,
        retire_versions,
        vacuum,
    )

    root = str(tmp_path / "corpus")
    run = new_data_dir(root)
    df = spark.range(2000).selectExpr("id AS doc_id", "repeat('x', 50) AS text")
    df.repartition(16).write.mode("overwrite").parquet(run)  # 16 tiny files
    v1 = publish_version(root, run)
    assert v1["n_files"] == 16

    v2 = compact_version(spark, root, target_bytes=1 << 30)
    assert v2["version"] == v1["version"] + 1
    assert v2["metadata"]["files_in"] == 16
    assert v2["n_files"] < v1["n_files"]
    # identical rows; old version still time-travels
    new_ids = sorted(r["doc_id"] for r in read_version(spark, root).collect())
    old_ids = sorted(
        r["doc_id"] for r in read_version(spark, root, v1["version"]).collect()
    )
    assert new_ids == old_ids == list(range(2000))

    # big files carry over untouched when above the small threshold
    v3 = compact_version(spark, root, target_bytes=1 << 30, small_threshold=1)
    assert v3 == read_manifest(root)  # nothing small → no new commit

    retire_versions(root, keep_latest=1)
    deleted = vacuum(root, min_age_seconds=0)
    assert deleted  # the 16 small files are reclaimable
    assert sorted(r["doc_id"] for r in read_version(spark, root).collect()) == list(
        range(2000)
    )


def test_compact_version_verify_and_noop(spark, tmp_path):
    from trial_submission_studio_spark.io.versioned import (
        compact_version,
        new_data_dir,
        publish_version,
    )

    root = str(tmp_path / "c2")
    run = new_data_dir(root)
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(run)
    v1 = publish_version(root, run)
    # single file → nothing to compact, same manifest back
    assert compact_version(spark, root)["version"] == v1["version"]


def test_timestamp_time_travel(spark, tmp_path, monkeypatch):
    """as_of resolves the newest commit at-or-before the instant;
    date-only prefixes mean midnight; pre-table instants raise."""
    import trial_submission_studio_spark.io.versioned as V

    root = str(tmp_path / "corpus")
    os.makedirs(root)
    times = iter(
        ["2026-01-01T10:00:00Z", "2026-01-02T10:00:00Z", "2026-01-03T10:00:00Z"]
    )
    real_strftime = V.time.strftime
    monkeypatch.setattr(
        V.time, "strftime", lambda fmt, *a: next(times)
        if fmt == "%Y-%m-%dT%H:%M:%SZ"
        else real_strftime(fmt, *a),
    )
    for lo, hi in ((0, 10), (10, 30), (30, 60)):
        d = new_data_dir(root)
        _docs(spark, lo, hi).write.parquet(d, mode="append")
        publish_version(
            root, d, base_version=V.current_version(root)
        )
    from trial_submission_studio_spark.io.versioned import (
        read_version as rv,
        version_as_of,
    )

    assert version_as_of(root, "2026-01-01T10:00:00Z") == 1
    assert version_as_of(root, "2026-01-02T23:59:59") == 2
    assert version_as_of(root, "2026-01-03") == 2  # midnight, before 10:00
    assert version_as_of(root, "2027-01-01") == 3
    assert rv(spark, root, as_of="2026-01-02T12:00:00").count() == 30
    assert rv(spark, root).count() == 60
    with pytest.raises(ValueError, match="existed at or before"):
        version_as_of(root, "2025-12-31")
    with pytest.raises(ValueError, match="not both"):
        rv(spark, root, version=1, as_of="2026-01-02")
