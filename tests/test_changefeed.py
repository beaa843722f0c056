"""Row-level change sets between versions of a versioned table:
`operators/diff.py:snapshot_diff` over two `read_version` time-travel
loads, with `io/versioned.py:diff_versions` as the file-level side —
merges, deletes and appends classify per key, and layout-only commits
change files but no rows."""

import os

from trial_submission_studio_spark.io.merge import delete_matching, merge_version
from trial_submission_studio_spark.io.versioned import (
    compact_version,
    diff_versions,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
)
from trial_submission_studio_spark.operators.diff import (
    snapshot_diff,
    snapshot_diff_summary,
)


def _docs(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS doc_id", "concat('t-', id) AS text"
    )


def _table(spark, root, n_runs=3, per=100):
    os.makedirs(root, exist_ok=True)
    base = None
    for i in range(n_runs):
        d = new_data_dir(root)
        _docs(spark, i * per, (i + 1) * per).repartition(2).write.parquet(
            d, mode="append"
        )
        base = publish_version(root, d, base_version=base)["version"]
    return base


def _feed(spark, root, v_from, v_to):
    d = snapshot_diff(
        read_version(spark, root, v_from),
        read_version(spark, root, v_to),
        ["doc_id"],
    )
    name = {"added": "insert", "removed": "delete", "changed": "update"}
    return {(r.doc_id, name[r.change_type]) for r in d.collect()}


def _summary(spark, root, v_from, v_to):
    return snapshot_diff_summary(
        read_version(spark, root, v_from),
        read_version(spark, root, v_to),
        ["doc_id"],
    ).first()


def test_feed_matches_full_diff_across_merge(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = _table(spark, root)
    src = spark.createDataFrame(
        [(5, "UPDATED"), (150, "UPDATED"), (999, "NEW")],
        "doc_id long, text string",
    )
    v2 = merge_version(spark, root, src, "doc_id")["version"]
    assert _feed(spark, root, v1, v2) == {
        (5, "update"), (150, "update"), (999, "insert")
    }
    s = _summary(spark, root, v1, v2)
    assert (s.n_added, s.n_changed, s.n_removed) == (1, 2, 0)
    assert (s.n_old, s.n_new) == (300, 301)
    # only the files holding the merged keys were rewritten
    f = diff_versions(root, v1, v2)
    assert 0 < f["n_removed"] < len(read_manifest(root, v1)["files"])


def test_feed_across_delete_and_append(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = _table(spark, root)
    doomed = spark.createDataFrame([(3,), (250,)], "doc_id long")
    v2 = delete_matching(spark, root, doomed, "doc_id")["version"]
    d = new_data_dir(root)
    _docs(spark, 300, 320).repartition(1).write.parquet(d, mode="append")
    v3 = publish_version(root, d, base_version=v2)["version"]
    assert _feed(spark, root, v1, v3) == {(3, "delete"), (250, "delete")} | {
        (i, "insert") for i in range(300, 320)
    }
    # each hop on its own
    assert _feed(spark, root, v1, v2) == {(3, "delete"), (250, "delete")}
    assert _feed(spark, root, v2, v3) == {(i, "insert") for i in range(300, 320)}


def test_compaction_feeds_nothing(spark, tmp_path):
    """A pure-layout commit moves rows between files without logical
    change: every moved row digests equal -> empty change set."""
    root = str(tmp_path / "t")
    v1 = _table(spark, root)
    v2 = compact_version(spark, root, target_bytes=1 << 26)["version"]
    assert v2 != v1
    assert _feed(spark, root, v1, v2) == set()
    s = _summary(spark, root, v1, v2)
    assert s.n_added == s.n_changed == s.n_removed == 0
    assert s.n_unchanged == 300
    assert diff_versions(root, v1, v2)["n_removed"] > 0  # it DID rewrite layout


def test_insert_only_and_reverse_direction(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = _table(spark, root, n_runs=1)
    d = new_data_dir(root)
    _docs(spark, 100, 130).repartition(1).write.parquet(d, mode="append")
    v2 = publish_version(root, d, base_version=v1)["version"]
    assert _feed(spark, root, v1, v2) == {
        (i, "insert") for i in range(100, 130)
    }
    # reading the change set BACKWARDS inverts it
    assert _feed(spark, root, v2, v1) == {
        (i, "delete") for i in range(100, 130)
    }
