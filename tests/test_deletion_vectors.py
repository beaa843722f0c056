"""Merge-on-read deletion vectors (`io/deletion_vectors.py`): O(k)
deletes, read-path composition (plain / zone-map / bucket-pruned
reads, row-level change sets between versions), tombstone folding by
every rewrite, and
the bytes-written audit that pins the whole point — a scattered
k-row delete must not rewrite data files."""

import os

from pyspark.sql import functions as F

from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
    dv_map,
    dv_rows,
)
from trial_submission_studio_spark.io.merge import (
    delete_matching,
    merge_version,
)
from trial_submission_studio_spark.io.versioned import (
    compact_version,
    current_version,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
    retire_versions,
    vacuum,
)
from trial_submission_studio_spark.io.zonemap import (
    optimize_version,
    publish_with_stats,
    read_pruned,
)
from trial_submission_studio_spark.operators.diff import snapshot_diff


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, v long")


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def _publish(spark, tmp_path, n=40, n_files=4, name="t"):
    root = str(tmp_path / name)
    os.makedirs(root)
    d = new_data_dir(root)
    _kv(spark, [(k, k * 10) for k in range(n)]).repartition(
        n_files
    ).write.parquet(d, mode="append")
    publish_version(root, d)
    return root


def _snap(spark, root, version=None):
    return {(r.k, r.v) for r in read_version(spark, root, version).collect()}


def _change_feed(spark, root, v_from, v_to):
    """Row-level change set between two versions: `snapshot_diff` of
    the two time-travel reads, as ``{(k, insert|delete|update)}``."""
    name = {"added": "insert", "removed": "delete", "changed": "update"}
    d = snapshot_diff(
        read_version(spark, root, v_from), read_version(spark, root, v_to), ["k"]
    )
    return {(r.k, name[r.change_type]) for r in d.collect()}


def _data_bytes(root, manifest):
    return sum(os.path.getsize(os.path.join(root, f)) for f in manifest["files"])


def test_dv_delete_is_o_k_bytes_not_file_rewrites(spark, tmp_path):
    """The headline audit: deleting 5 scattered keys from a 4-file
    table writes only a small sidecar — the data-file list is
    IDENTICAL (zero files rewritten) and the new bytes are a tiny
    fraction of what copy-on-write would have rewritten."""
    root = _publish(spark, tmp_path, n=400, n_files=4)
    m0 = read_manifest(root)
    doomed = [3, 97, 151, 263, 399]  # hash-scattered across files
    m1 = delete_matching_dv(spark, root, _keys(spark, doomed), "k")

    assert m1["files"] == m0["files"]  # zero data files rewritten
    assert m1["metadata"]["merge"]["files_rewritten"] == 0
    assert m1["metadata"]["merge"]["rows_deleted"] == 5
    sidecar_bytes = sum(
        os.path.getsize(os.path.join(root, s))
        for e in dv_map(m1).values()
        for s in set(e["sidecars"])
    )
    # the CoW alternative rewrites every touched file; the sidecar is
    # one tiny parquet of 5 (file, pos) pairs
    assert sidecar_bytes < _data_bytes(root, m0)
    assert dv_rows(m1) == 5

    assert _snap(spark, root) == {
        (k, k * 10) for k in range(400) if k not in doomed
    }
    # time travel: the pre-delete version is untouched
    assert _snap(spark, root, m0["version"]) == {
        (k, k * 10) for k in range(400)
    }


def test_repeated_dv_deletes_never_double_list(spark, tmp_path):
    root = _publish(spark, tmp_path)
    delete_matching_dv(spark, root, _keys(spark, [1, 2]), "k")
    # overlapping second delete: 2 is already dead, only 3 is live
    m2 = delete_matching_dv(spark, root, _keys(spark, [2, 3]), "k")
    assert m2["metadata"]["merge"]["rows_deleted"] == 1
    assert dv_rows(m2) == 3
    assert _snap(spark, root) == {
        (k, k * 10) for k in range(40) if k not in (1, 2, 3)
    }
    # deleting only-dead keys is a no-op: no new version published
    m3 = delete_matching_dv(spark, root, _keys(spark, [1, 3]), "k")
    assert m3["version"] == m2["version"]
    assert current_version(root) == m2["version"]


def test_merge_folds_dv_of_rewritten_files_and_carries_the_rest(
    spark, tmp_path
):
    root = _publish(spark, tmp_path, n=40, n_files=4)
    delete_matching_dv(spark, root, _keys(spark, [0, 1, 2, 3, 4, 5]), "k")
    m1 = read_manifest(root)
    assert len(dv_map(m1)) >= 2  # tombstones scattered over files

    # upsert a couple of LIVE keys: their files get rewritten (dv
    # folded), untouched files keep their dv entries
    src = _kv(spark, [(10, 111), (20, 222)])
    m2 = merge_version(spark, root, src, "k")
    rewritten = set(m1["files"]) - set(m2["files"])
    assert rewritten
    for f in rewritten:
        assert f not in dv_map(m2)  # folded
    carried = set(dv_map(m2))
    assert carried == {f for f in dv_map(m1) if f not in rewritten}

    want = {(k, k * 10) for k in range(6, 40)}
    want -= {(10, 100), (20, 200)}
    want |= {(10, 111), (20, 222)}
    assert _snap(spark, root) == want

    # CoW delete over a dv'd table composes the same way
    m3 = delete_matching(spark, root, _keys(spark, [10]), "k")
    want -= {(10, 111)}
    assert _snap(spark, root) == want
    assert set(dv_map(m3)) <= set(m3["files"])


def test_compaction_folds_tombstones_and_vacuum_sweeps_sidecars(
    spark, tmp_path
):
    root = _publish(spark, tmp_path, n=40, n_files=4)
    delete_matching_dv(spark, root, _keys(spark, [7, 13, 21]), "k")
    want = {(k, k * 10) for k in range(40) if k not in (7, 13, 21)}

    m = compact_version(spark, root, include_dv_files=True)
    assert not dv_map(m)  # all tombstones folded
    assert m["metadata"]["dv_rows_folded"] == 3
    assert _snap(spark, root) == want

    # the sidecar is still referenced by the historical dv version;
    # after retiring history it becomes vacuumable
    dv_dir = os.path.join(root, "dv")
    n_sidecars = sum(len(fs) for _, _, fs in os.walk(dv_dir))
    assert n_sidecars > 0
    deletable = vacuum(root, dry_run=True, min_age_seconds=0)
    assert not [p for p in deletable if p.startswith("dv/")]
    retire_versions(root, keep_latest=1)
    swept = vacuum(root, min_age_seconds=0)
    assert [p for p in swept if p.startswith("dv/")]
    assert not os.path.isdir(dv_dir) or not os.listdir(dv_dir)
    assert _snap(spark, root) == want


def test_zonemap_read_pruned_and_optimize_compose_with_dv(spark, tmp_path):
    root = str(tmp_path / "z")
    os.makedirs(root)
    d = new_data_dir(root)
    _kv(spark, [(k, k * 10) for k in range(60)]).repartition(3).write.parquet(
        d, mode="append"
    )
    publish_with_stats(root, d, ["k", "v"])
    delete_matching_dv(spark, root, _keys(spark, [5, 25, 45]), "k")

    got = {
        (r.k, r.v)
        for r in read_pruned(
            spark, root, [("k", "between", (0, 30))]
        ).collect()
    }
    assert got == {
        (k, k * 10) for k in range(31) if k not in (5, 25)
    }

    m = optimize_version(spark, root, {"k": (0.0, 100.0)}, num_partitions=2)
    assert not dv_map(m)  # full rewrite folds everything
    assert _snap(spark, root) == {
        (k, k * 10) for k in range(60) if k not in (5, 25, 45)
    }


def test_bucketed_key_pruned_read_applies_dv(spark, tmp_path):
    from trial_submission_studio_spark.io.bucketed_table import (
        read_key_pruned,
    )
    from trial_submission_studio_spark.io.bucketed_table import (
        publish_bucketed,
    )

    root = str(tmp_path / "b")
    publish_bucketed(
        spark, _kv(spark, [(k, k * 10) for k in range(40)]), root, "k", 8
    )
    m = delete_matching_dv(spark, root, _keys(spark, [4, 9]), "k")
    # the probe was bucket-pruned (the delete key IS the bucket key)
    assert 0 < m["metadata"]["merge"]["buckets_probed"] <= 2
    got = {
        (r.k, r.v)
        for r in read_key_pruned(spark, root, _keys(spark, [4, 5, 9])).collect()
    }
    assert got == {(5, 50)}
    assert _snap(spark, root) == {
        (k, k * 10) for k in range(40) if k not in (4, 9)
    }


def test_change_feed_reports_dv_deletes_and_reinsert_as_update(
    spark, tmp_path
):
    root = _publish(spark, tmp_path)
    v0 = current_version(root)
    delete_matching_dv(spark, root, _keys(spark, [3, 17]), "k")
    v1 = current_version(root)
    assert _change_feed(spark, root, v0, v1) == {(3, "delete"), (17, "delete")}

    # dv-delete then re-insert the key with a NEW value in a later
    # append: across the span that is an update, not delete+insert
    d = new_data_dir(root)
    _kv(spark, [(3, 999)]).repartition(1).write.parquet(d, mode="append")
    publish_version(root, d, base_version=current_version(root))
    v2 = current_version(root)
    assert _change_feed(spark, root, v0, v2) == {(3, "update"), (17, "delete")}
    # and the dv-only hop plus the append-only hop stay exact
    assert _change_feed(spark, root, v1, v2) == {(3, "insert")}


def test_dv_verify_detects_tampering(spark, tmp_path):
    """verify=True recounts the affected slice; a healthy delete
    passes (exercised above), and the count check is actually wired
    (a manifest hand-edited to lie about rows fails the read)."""
    root = _publish(spark, tmp_path)
    m = delete_matching_dv(
        spark, root, _keys(spark, [11, 12]), "k", verify=True
    )
    assert m["metadata"]["merge"]["rows_deleted"] == 2
    assert len(_snap(spark, root)) == 38


def test_diff_versions_surfaces_dv_deltas(spark, tmp_path):
    """A dv-only commit changes no files; the manifest audit must not
    read it as 'no change' — dv_changed names the touched files and
    n_dv_rows_delta counts the new tombstones."""
    from trial_submission_studio_spark.io.versioned import diff_versions

    root = _publish(spark, tmp_path, n=40, n_files=2)
    v0 = current_version(root)
    delete_matching_dv(spark, root, _keys(spark, [5, 6]), "k")
    v1 = current_version(root)
    d = diff_versions(root, v0, v1)
    assert d["added"] == [] and d["removed"] == []
    assert len(d["dv_changed"]) >= 1
    assert d["n_dv_rows_delta"] == 2
    # reverse direction: the delta is negative
    assert diff_versions(root, v1, v0)["n_dv_rows_delta"] == -2


def test_dv_free_reads_plan_plain_scans(spark, tmp_path):
    """Plan-shape guard: a table with NO tombstones must read as a
    plain scan (zero joins — the dv machinery costs nothing until
    used), and a dv'd table pays exactly one anti-join on the
    tombstoned files' branch."""
    root = _publish(spark, tmp_path, n=40, n_files=2)

    def _plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    plan = _plan(read_version(spark, root))
    assert "Join" not in plan

    delete_matching_dv(spark, root, _keys(spark, [1]), "k")
    plan = _plan(read_version(spark, root))
    assert "LeftAnti" in plan
    # only the dv'd file's branch pays the anti-join: the clean file
    # still scans plain (union of plain + anti-joined branches)
    m = read_manifest(root)
    assert len(dv_map(m)) == 1 and len(m["files"]) == 2


def test_change_feed_sees_dv_rollback_resurrection(spark, tmp_path):
    """Rolling back a dv delete shrinks the dv map with an identical
    file list; the change set must report the resurrected rows as
    inserts (and value-identical re-inserts as nothing vs their
    pre-delete state across the full span)."""
    from trial_submission_studio_spark.io.versioned import rollback

    root = _publish(spark, tmp_path)
    v0 = current_version(root)
    delete_matching_dv(spark, root, _keys(spark, [4, 8]), "k")
    v1 = current_version(root)
    rollback(root, v0)
    v2 = current_version(root)
    assert _change_feed(spark, root, v1, v2) == {(4, "insert"), (8, "insert")}
    # full span v0 -> v2 is a no-op (delete then resurrect)
    assert _change_feed(spark, root, v0, v2) == set()


def test_delete_where_drops_whole_files_by_metadata(spark, tmp_path):
    """Retention delete (delete_where): on a clustered table the bulk
    of the predicate range is dropped at FILE grain with zero reads
    (zone-map proof), only the boundary file pays row-level
    tombstones, untouched files are never opened — and the read, time
    travel, and the row-level change set all stay exact."""
    from trial_submission_studio_spark.io.deletion_vectors import (
        delete_where,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    d = new_data_dir(root)
    # k-clustered: 4 files covering [0,25), [25,50), [50,75), [75,100)
    _kv(spark, [(k, k) for k in range(100)]).repartitionByRange(
        4, "k"
    ).sortWithinPartitions("k").write.parquet(d, mode="append")
    publish_with_stats(root, d, ["k"])
    m0 = read_manifest(root)
    v0 = m0["version"]

    m1 = delete_where(spark, root, [("k", "<", 30)])
    au = m1["metadata"]["merge"]
    assert au["op"] == "delete_where"
    assert au["files_dropped"] >= 1          # the fully-covered file(s)
    assert au["rows_tombstoned"] > 0         # the boundary file
    assert au["files_untouched"] >= 2        # upper files never opened
    assert au["rows_dropped"] + au["rows_tombstoned"] == 30
    assert _snap(spark, root) == {(k, k) for k in range(30, 100)}
    assert _snap(spark, root, v0) == {(k, k) for k in range(100)}
    assert _change_feed(spark, root, v0, m1["version"]) == {
        (k, "delete") for k in range(30)
    }

    # no-match predicate: no-op, no commit
    m2 = delete_where(spark, root, [("k", ">=", 1000)])
    assert m2["version"] == m1["version"]

    # emptying the table is refused
    import pytest

    with pytest.raises(ValueError, match="empty the table"):
        delete_where(spark, root, [("k", ">=", 0)])


def test_delete_where_without_stats_falls_back_to_tombstones(
    spark, tmp_path
):
    from trial_submission_studio_spark.io.deletion_vectors import (
        delete_where,
    )

    root = _publish(spark, tmp_path, n=40, n_files=2)  # no stats
    m = delete_where(spark, root, [("k", "between", (10, 19))])
    au = m["metadata"]["merge"]
    assert au["files_dropped"] == 0 and au["rows_tombstoned"] == 10
    assert m["files"] == read_manifest(root, au["base_version"])["files"]
    assert _snap(spark, root) == {
        (k, k * 10) for k in range(40) if not 10 <= k <= 19
    }


def test_delete_where_null_rows_never_match_file_drop(spark, tmp_path):
    """A file containing NULLs in the predicate column must not be
    dropped wholesale under k < cutoff — NULL comparisons don't
    satisfy the predicate, so those rows survive."""
    from trial_submission_studio_spark.io.deletion_vectors import (
        delete_where,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    d = new_data_dir(root)
    spark.createDataFrame(
        [(k, k) for k in range(10)] + [(None, 99)], "k long, v long"
    ).repartition(1).write.parquet(d, mode="append")
    publish_with_stats(root, d, ["k"])
    m = delete_where(spark, root, [("k", "<", 100)])
    assert m["metadata"]["merge"]["files_dropped"] == 0
    got = {(r.k, r.v) for r in read_version(spark, root).collect()}
    assert got == {(None, 99)}
