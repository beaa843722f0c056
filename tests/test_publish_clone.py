"""Branch publish-back (`io/clones.py:publish_clone`) — the WAP
merge: fork a zero-copy branch, run merge/delete/dv/retention ops on
it, publish, and the source must equal applying the SAME ops to the
source directly (model equality). Conflicting source commits since
the fork refuse typed; append-only branches rebase over them; the
clone registry pins source files against vacuum until the branch is
published or deregistered."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from trial_submission_studio_spark.io.clones import clone_delta, publish_clone
from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
    delete_where,
    dv_map,
)
from trial_submission_studio_spark.io.merge import merge_version, update_where
from trial_submission_studio_spark.io.versioned import (
    ClonePinnedError,
    TableConflictError,
    current_version,
    deregister_clone,
    list_clones,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
    retire_versions,
    shallow_clone,
    table_history,
    vacuum,
)
from trial_submission_studio_spark.io.zonemap import publish_with_stats


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, v long")


def _snap(spark, root, version=None):
    return {(r.k, r.v) for r in read_version(spark, root, version).collect()}


def _make_src(spark, tmp_path, name="src", n=80, n_files=4):
    root = str(tmp_path / name)
    os.makedirs(root)
    d = new_data_dir(root)
    _kv(spark, [(k, k) for k in range(n)]).repartitionByRange(
        n_files, "k"
    ).sortWithinPartitions("k").write.parquet(d, mode="append")
    publish_with_stats(root, d, ["k"])
    return root


def _branch_ops(spark, root):
    """The op sequence under test: upsert, dv delete, retention
    delete, predicate update — every DML family the format has."""
    merge_version(spark, root, _kv(spark, [(7, 777), (200, 1)]), "k")
    delete_matching_dv(spark, root, _kv(spark, [(30, 0)]).select("k"), "k")
    delete_where(spark, root, [("k", "<", 15)])
    update_where(spark, root, [("k", "=", 40)], {"v": "v + 1000"})


def test_publish_equals_direct_ops(spark, tmp_path):
    src = _make_src(spark, tmp_path)
    control = str(tmp_path / "control")
    shutil.copytree(src, control)
    _branch_ops(spark, control)

    clone = str(tmp_path / "branch")
    shallow_clone(src, clone, spark=spark)
    _branch_ops(spark, clone)
    want = _snap(spark, clone)
    assert want == _snap(spark, control)

    m = publish_clone(spark, clone)
    assert _snap(spark, src) == want
    au = m["metadata"]["publish_clone"]
    assert au["fork_version"] == 1 and au["files_added"] >= 1
    # history labels the landing, and the source time-travels across it
    assert table_history(src)[0]["kind"] == "keyed"
    assert _snap(spark, src, 1) == {(k, k) for k in range(80)}
    # pin released: the clone no longer blocks source maintenance
    assert list_clones(src) == []
    retire_versions(src, 1)
    vacuum(src, min_age_seconds=0)
    assert _snap(spark, src) == want  # still whole after the sweep


def test_dv_rekey_roundtrip_through_publish(spark, tmp_path):
    """Fork a source that ALREADY carries tombstones, add more on the
    branch, publish: the dv state re-keys back to source-relative
    keys and the landed manifest's tombstone accounting is exact."""
    src = _make_src(spark, tmp_path, n=40, n_files=2)
    delete_matching_dv(spark, src, _kv(spark, [(3, 0)]).select("k"), "k")
    clone = str(tmp_path / "c")
    shallow_clone(src, clone, spark=spark)
    delete_matching_dv(spark, clone, _kv(spark, [(5, 0)]).select("k"), "k")

    m = publish_clone(spark, clone)
    assert _snap(spark, src) == {
        (k, k) for k in range(40) if k not in (3, 5)
    }
    # keys are source-relative again (no absolute leakage)
    assert all(not os.path.isabs(f) for f in dv_map(m))
    assert sum(e["rows"] for e in dv_map(m).values()) == 2


def test_publish_appends_to_fork_era_sidecars(spark, tmp_path):
    """The landed dv state APPENDS to the source's fork-era sidecars
    (never replaces them): each fork-era sidecar list is a prefix of
    the published one, and the tombstone count grows by exactly the
    branch's deletes — no re-delete of rows already dead at fork."""
    src = _make_src(spark, tmp_path, n=40, n_files=2)
    delete_matching_dv(
        spark, src, _kv(spark, [(3, 0), (4, 0)]).select("k"), "k"
    )
    pre = dv_map(read_manifest(src))
    clone = str(tmp_path / "c")
    shallow_clone(src, clone, spark=spark)
    delete_matching_dv(spark, clone, _kv(spark, [(7, 0)]).select("k"), "k")
    post = dv_map(publish_clone(spark, clone))
    assert pre
    for f, e in pre.items():
        assert post[f]["sidecars"][: len(e["sidecars"])] == e["sidecars"]
        assert len(post[f]["sidecars"]) == len(e["sidecars"]) + 1
    assert sum(e["rows"] for e in post.values()) == 3
    assert _snap(spark, src) == {
        (k, k) for k in range(40) if k not in (3, 4, 7)
    }


def test_metadata_only_branch_lands_contract_changes(spark, tmp_path):
    """A branch whose only work is a rename (or constraint edit) must
    LAND it — not deregister and silently drop the change."""
    from trial_submission_studio_spark.io.table_schema import (
        rename_column,
    )
    from trial_submission_studio_spark.io.versioned import (
        set_table_constraints,
        table_constraints,
    )

    src = _make_src(spark, tmp_path, n=10, n_files=1)
    clone = str(tmp_path / "c")
    shallow_clone(src, clone)
    rename_column(spark, clone, "v", "val")
    set_table_constraints(spark, clone, {"val_pos": "val >= 0"})
    m = publish_clone(spark, clone)
    assert m["column_mapping"] == {"k": "k", "val": "v"}
    assert table_constraints(src) == {"val_pos": "val >= 0"}
    df = read_version(spark, src)
    assert df.columns == ["k", "val"]
    assert {(r.k, r.val) for r in df.collect()} == {
        (k, k) for k in range(10)
    }
    assert list_clones(src) == []


def test_append_only_branch_rebases_over_source_append(spark, tmp_path):
    src = _make_src(spark, tmp_path, n=20, n_files=1)
    clone = str(tmp_path / "c")
    shallow_clone(src, clone)
    d = new_data_dir(clone)
    _kv(spark, [(100, 100)]).write.parquet(d, mode="append")
    publish_version(clone, d, base_version=current_version(clone))
    # source moves on with its own append — append‖append is safe
    d2 = new_data_dir(src)
    _kv(spark, [(200, 200)]).write.parquet(d2, mode="append")
    publish_version(src, d2, base_version=current_version(src))

    publish_clone(spark, clone)
    assert _snap(spark, src) == {(k, k) for k in range(20)} | {
        (100, 100),
        (200, 200),
    }


def test_rewriting_branch_conflicts_with_source_commit(spark, tmp_path):
    src = _make_src(spark, tmp_path, n=20, n_files=1)
    clone = str(tmp_path / "c")
    shallow_clone(src, clone)
    merge_version(spark, clone, _kv(spark, [(1, 111)]), "k")
    # a non-maintenance source commit since the fork
    d = new_data_dir(src)
    _kv(spark, [(300, 300)]).write.parquet(d, mode="append")
    publish_version(src, d, base_version=current_version(src))
    src_before = _snap(spark, src)

    with pytest.raises(TableConflictError):
        publish_clone(spark, clone)
    assert _snap(spark, src) == src_before  # loser never corrupts
    assert list_clones(src) != []  # pin stays until resolved
    # and the failed attempt left no stray linked run dirs behind
    assert vacuum(src, dry_run=True, min_age_seconds=0) == []


def test_vacuum_refuses_while_clone_pins_files(spark, tmp_path):
    """The r13 documented footgun is now a typed refusal: source
    maintenance that would delete clone-referenced files raises
    ClonePinnedError naming the clone; deregistering releases it
    (and the old breakage stays available via ignore_clones)."""
    src = _make_src(spark, tmp_path, n=30, n_files=2)
    clone = str(tmp_path / "c")
    shallow_clone(src, clone)
    # source rewrites everything, making the fork files garbage
    merge_version(spark, src, _kv(spark, [(0, 999)]), "k")
    from trial_submission_studio_spark.io.versioned import compact_version

    compact_version(spark, src, small_threshold=10**9)
    retire_versions(src, 1)
    with pytest.raises(ClonePinnedError) as e:
        vacuum(src, min_age_seconds=0)
    assert os.path.abspath(clone) in e.value.clones
    # nothing was deleted: the clone still reads
    assert _snap(spark, clone) == {(k, k) for k in range(30)}
    # deregistered clones no longer pin
    assert deregister_clone(src, clone)
    assert vacuum(src, min_age_seconds=0) != []
    with pytest.raises(Exception):
        _snap(spark, clone)  # the documented breakage, now opt-in


def test_chained_clone_pins_the_grandparent(spark, tmp_path):
    """c2 = clone(c1 = clone(src)): c2's absolute refs reach INTO
    src, so src's vacuum must refuse until c2 deregisters — the
    ancestor-chain registration closes the r13 chained-clone gap."""
    from trial_submission_studio_spark.io.versioned import compact_version

    src = _make_src(spark, tmp_path, n=20, n_files=1)
    c1 = str(tmp_path / "c1")
    shallow_clone(src, c1)
    c2 = str(tmp_path / "c2")
    shallow_clone(c1, c2)
    # src rewrites everything; fork files become src-side garbage
    merge_version(spark, src, _kv(spark, [(0, 9)]), "k")
    compact_version(spark, src, small_threshold=10**9)
    retire_versions(src, 1)
    # c1 deregisters (e.g. abandoned) — c2 STILL pins src's files
    assert deregister_clone(src, c1)
    with pytest.raises(ClonePinnedError) as e:
        vacuum(src, min_age_seconds=0)
    assert os.path.abspath(c2) in e.value.clones
    assert _snap(spark, c2) == {(k, k) for k in range(20)}
    # releasing c2 (recorded at c1, cascades to src) unpins
    assert deregister_clone(c1, c2)
    assert vacuum(src, min_age_seconds=0) != []


def test_bucketed_branch_publish_keeps_layout(spark, tmp_path):
    from trial_submission_studio_spark.io.bucketed_table import (
        bucket_spec,
        publish_bucketed,
        read_key_pruned,
    )

    src = str(tmp_path / "bsrc")
    publish_bucketed(
        spark, _kv(spark, [(k, k) for k in range(40)]), src, "k", 8
    )
    clone = str(tmp_path / "bc")
    shallow_clone(src, clone)
    merge_version(spark, clone, _kv(spark, [(3, 333), (99, 99)]), "k")
    m = publish_clone(spark, clone)
    assert m["metadata"]["bucket_spec"] == {"key_cols": ["k"], "n_buckets": 8}
    assert bucket_spec(src) == {"key_cols": ["k"], "n_buckets": 8}
    got = {
        (r.k, r.v)
        for r in read_key_pruned(
            spark, src, spark.createDataFrame([(3,), (99,)], "k long")
        ).collect()
    }
    assert got == {(3, 333), (99, 99)}


def test_two_branches_second_publish_conflicts(spark, tmp_path):
    """Two rewriting branches off the same fork: the first lands; the
    second's publish sees a non-maintenance source commit since its
    fork and refuses typed — never a silent double-apply."""
    src = _make_src(spark, tmp_path, n=20, n_files=1)
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    shallow_clone(src, b1)
    shallow_clone(src, b2)
    merge_version(spark, b1, _kv(spark, [(1, 111)]), "k")
    merge_version(spark, b2, _kv(spark, [(2, 222)]), "k")
    publish_clone(spark, b1)
    with pytest.raises(TableConflictError):
        publish_clone(spark, b2)
    assert _snap(spark, src) == {(k, k) for k in range(20) if k != 1} | {
        (1, 111)
    }
    # the losing branch still pins its files until resolved
    assert len(list_clones(src)) == 1


def test_publish_needs_surviving_fork_history(spark, tmp_path):
    """Retiring the clone's own fork commit (its v1) makes the fork
    unlocatable: publish refuses with a clear message instead of
    guessing a base."""
    src = _make_src(spark, tmp_path, n=10, n_files=1)
    clone = str(tmp_path / "c")
    shallow_clone(src, clone)
    merge_version(spark, clone, _kv(spark, [(1, 5)]), "k")
    retire_versions(clone, 1)  # drops the clone's fork manifest
    with pytest.raises(ValueError, match="not a shallow clone|fork"):
        publish_clone(spark, clone)


def test_unchanged_branch_publish_is_noop(spark, tmp_path):
    src = _make_src(spark, tmp_path, n=10, n_files=1)
    v = current_version(src)
    clone = str(tmp_path / "c")
    shallow_clone(src, clone)
    delta = clone_delta(clone)
    assert delta["added"] == [] and delta["removed"] == []
    m = publish_clone(spark, clone)
    assert m["version"] == v  # no empty commit
    assert list_clones(src) == []
