"""Optimistic multi-writer concurrency for the versioned table
format (`io/versioned.py:commit_files`): exclusive manifest creation
under a real thread race, auto-rebase for the provably-safe commit
pairs (append‖append, append‖compact/optimize, merge-over-
maintenance), and typed `TableConflictError` for the unsafe ones
(merge‖merge, tombstone races) — the loser never corrupts and never
silently drops the other writer's commit."""

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
)
from trial_submission_studio_spark.io.merge import merge_version
from trial_submission_studio_spark.io.versioned import (
    TableConflictError,
    commit_files,
    compact_version,
    current_version,
    list_versions,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
)


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, v long")


def _write_run(spark, root, pairs, n_files=1):
    d = new_data_dir(root)
    _kv(spark, pairs).repartition(n_files).write.parquet(d, mode="append")
    return d


def _publish(spark, tmp_path, pairs, n_files=2, name="t"):
    root = str(tmp_path / name)
    os.makedirs(root)
    publish_version(root, _write_run(spark, root, pairs, n_files))
    return root


def _snap(spark, root, version=None):
    return {(r.k, r.v) for r in read_version(spark, root, version).collect()}


def test_threaded_appends_all_land_exactly_once(spark, tmp_path):
    """8 writers commit from the SAME base concurrently: the
    exclusive manifest create serializes them; every commit lands in
    history exactly once and the final snapshot holds all rows."""
    base_rows = [(k, k) for k in range(10)]
    root = _publish(spark, tmp_path, base_rows)
    base_v = current_version(root)
    runs = [
        _write_run(spark, root, [(100 + i, i)]) for i in range(8)
    ]
    rels = [
        [os.path.relpath(p, root) for p in _files_of(run)] for run in runs
    ]
    barrier = threading.Barrier(8)

    def commit(i):
        barrier.wait()
        return commit_files(
            root, base_version=base_v, kind="append", add_files=rels[i],
            metadata={"writer": i},
        )["version"]

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(commit, range(8)))
    assert sorted(versions) == list(range(base_v + 1, base_v + 9))
    assert _snap(spark, root) == set(base_rows) | {
        (100 + i, i) for i in range(8)
    }
    # every manifest in history is intact and strictly growing
    sizes = [len(read_manifest(root, v)["files"]) for v in list_versions(root)]
    assert sizes == sorted(sizes)


def _files_of(run_dir):
    from trial_submission_studio_spark.io.versioned import data_files

    return data_files(run_dir)


def test_append_rebases_over_concurrent_compaction(spark, tmp_path):
    root = _publish(spark, tmp_path, [(k, k) for k in range(20)], n_files=4)
    v0 = current_version(root)
    # maintenance lands first...
    compact_version(spark, root, target_bytes=1 << 26)
    assert current_version(root) > v0
    # ...then an append PLANNED against v0 commits: auto-rebase keeps
    # the compacted layout and adds the fresh rows exactly once
    run = _write_run(spark, root, [(99, 99)])
    m = publish_version(root, run, base_version=v0)
    assert m["metadata"]["commit_kind"] == "append"
    assert _snap(spark, root) == {(k, k) for k in range(20)} | {(99, 99)}
    # the compacted file list survived (no resurrection of the smalls)
    compacted = read_manifest(root, v0 + 1)["files"]
    assert set(compacted) <= set(m["files"])


def test_merge_rebases_over_maintenance_but_not_over_merge(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    big = _write_run(spark, root, [(k, k) for k in range(5000)], n_files=1)
    smalls = _write_run(spark, root, [(9000 + k, k) for k in range(6)], 3)
    publish_version(root, [big, smalls])
    v0 = current_version(root)

    # compaction of the small files lands between merge plan + commit
    compact_version(
        spark, root, target_bytes=1 << 26, small_threshold=8 * 1024
    )
    assert current_version(root) == v0 + 1
    # keyed-over-maintenance, disjoint files: auto-rebase
    m = merge_version(spark, root, _kv(spark, [(3, 333)]), "k", version=v0)
    assert m["metadata"]["commit_kind"] == "keyed"
    want = {(k, k) for k in range(5000) if k != 3} | {(3, 333)}
    want |= {(9000 + k, k) for k in range(6)}
    assert _snap(spark, root) == want

    # keyed-over-keyed: refused loudly even when the two merges touch
    # DISJOINT files (key 9001 lives in the compacted smalls file the
    # first merge never rewrote — the conflict is about unseen rows,
    # not file collisions); nothing gets published
    v_now = current_version(root)
    with pytest.raises(TableConflictError, match="non-maintenance"):
        merge_version(
            spark, root, _kv(spark, [(9001, 1)]), "k", version=v_now - 1
        )
    assert current_version(root) == v_now
    assert _snap(spark, root) == want


def test_rewrite_conflicts_with_concurrent_rewrite_of_same_file(
    spark, tmp_path
):
    root = _publish(spark, tmp_path, [(k, k) for k in range(10)], n_files=1)
    v0 = current_version(root)
    merge_version(spark, root, _kv(spark, [(1, 11)]), "k")  # rewrites the file
    # maintenance planned against v0 wants to rewrite the same file
    m0 = read_manifest(root, v0)
    with pytest.raises(TableConflictError, match="rewrote/removed"):
        commit_files(
            root, base_version=v0, kind="maintenance",
            add_files=["data/x/part-fake.parquet"],
            remove_files=m0["files"],
        )


def test_tombstone_races_conflict_both_directions(spark, tmp_path):
    root = _publish(spark, tmp_path, [(k, k) for k in range(10)], n_files=1)
    v0 = current_version(root)
    the_file = read_manifest(root, v0)["files"][0]

    # dv-delete lands; a rewrite planned against v0 (which never saw
    # the tombstones) must conflict — publishing would resurrect rows
    delete_matching_dv(
        spark, root, spark.createDataFrame([(2,)], "k long"), "k"
    )
    with pytest.raises(TableConflictError, match="tombstones"):
        commit_files(
            root, base_version=v0, kind="maintenance",
            add_files=["data/x/part-fake.parquet"],
            remove_files=[the_file],
        )

    # and a dv-delete planned against v0 conflicts with the dv-delete
    # that landed (same file, independent position lists)
    with pytest.raises(TableConflictError):
        delete_matching_dv(
            spark, root, spark.createDataFrame([(5,)], "k long"), "k",
            version=v0,
        )


def test_rollback_restores_contracts(spark, tmp_path):
    from trial_submission_studio_spark.io.bucketed_table import (
        bucket_spec,
        publish_bucketed,
        read_key_pruned,
    )
    from trial_submission_studio_spark.io.versioned import rollback

    root = str(tmp_path / "b")
    publish_bucketed(
        spark, _kv(spark, [(k, k) for k in range(20)]), root, "k", 4
    )
    v0 = current_version(root)
    delete_matching_dv(
        spark, root, spark.createDataFrame([(7,)], "k long"), "k"
    )
    m = rollback(root, v0)
    # the layout contract and tombstone state travel with the rollback
    assert bucket_spec(root) == {"key_cols": ["k"], "n_buckets": 4}
    assert not m.get("dv")  # v0 had no tombstones -> restored clean
    got = {
        (r.k, r.v)
        for r in read_key_pruned(
            spark, root, spark.createDataFrame([(7,)], "k long")
        ).collect()
    }
    assert got == {(7, 7)}


def test_racing_rollup_refreshes_cannot_double_count(spark, tmp_path):
    """Two refreshes of a rollup table computed against the same
    rollup state must not both land (double-counted partials): a
    refresh appends its partial as a KEYED commit, keyed-over-keyed
    never rebases, so the stale writer conflicts loudly and the
    rollup keeps only the first refresh."""
    # a count rollup stored as (partial id, partial count) rows whose
    # counts sum to the total: 20 base rows so far
    root = _publish(spark, tmp_path, [(0, 20)], n_files=1, name="r")
    v0 = current_version(root)

    def _refresh():
        # both refreshers saw the same one new base row
        d = _write_run(spark, root, [(1, 1)])
        return [os.path.relpath(p, root) for p in _files_of(d)]

    first, stale = _refresh(), _refresh()
    m = commit_files(root, base_version=v0, kind="keyed", add_files=first)
    assert m["metadata"]["commit_kind"] == "keyed"
    with pytest.raises(TableConflictError):
        commit_files(root, base_version=v0, kind="keyed", add_files=stale)
    assert current_version(root) == m["version"]
    assert sum(r.v for r in read_version(spark, root).collect()) == 21


def test_table_history_describes_the_commit_log(spark, tmp_path):
    from trial_submission_studio_spark.io.deletion_vectors import (
        delete_matching_dv,
    )
    from trial_submission_studio_spark.io.versioned import (
        compact_version,
        table_history,
    )

    root = _publish(spark, tmp_path, [(k, k) for k in range(20)], n_files=3)
    merge_version(spark, root, _kv(spark, [(1, 11)]), "k")
    delete_matching_dv(spark, root, _kv(spark, [(2, 0)]).select("k"), "k")
    compact_version(spark, root, target_bytes=1 << 26,
                    include_dv_files=True)

    h = table_history(root)
    assert [e["op"] for e in h] == [
        "compaction", "delete_dv", "merge", "write"
    ]
    assert [e["kind"] for e in h] == [
        "maintenance", "keyed", "keyed", "unknown"
    ]
    assert h[1]["dv_rows"] == 1 and h[0]["dv_rows"] == 0
    assert [e["version"] for e in h] == [4, 3, 2, 1]
    assert table_history(root, limit=2)[-1]["op"] == "delete_dv"
