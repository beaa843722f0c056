"""Column-mapping schema evolution (`io/table_schema.py`
rename_column / drop_column): logical renames and drops are
metadata-only commits over frozen physical names — zero data
rewrites, time travel reads old names at old versions, and every DML
family (merge, dv delete, retention delete, predicate update,
compact, optimize, clone publish) keeps working on the renamed
column because reads project physical->logical and writes translate
back."""

import os

import pytest

from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
    delete_where,
)
from trial_submission_studio_spark.io.merge import (
    delete_matching,
    merge_version,
    update_where,
)
from trial_submission_studio_spark.io.table_schema import (
    drop_column,
    rename_column,
    to_physical,
)
from trial_submission_studio_spark.io.versioned import (
    compact_version,
    current_version,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
    set_table_constraints,
)
from trial_submission_studio_spark.io.zonemap import (
    optimize_version,
    pruning_audit,
    publish_with_stats,
    read_pruned,
)


def _kv(spark, pairs, schema="k long, v long"):
    return spark.createDataFrame(list(pairs), schema)


def _make(spark, tmp_path, name="t", n=40, n_files=2):
    root = str(tmp_path / name)
    os.makedirs(root)
    d = new_data_dir(root)
    _kv(spark, [(k, k * 10) for k in range(n)]).repartitionByRange(
        n_files, "k"
    ).sortWithinPartitions("k").write.parquet(d, mode="append")
    publish_with_stats(root, d, ["k", "v"])
    return root


def _data_files(root):
    out = []
    for cur, _d, names in os.walk(os.path.join(root, "data")):
        out += [n for n in names if n.endswith(".parquet")]
    return sorted(out)


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    root = _make(spark, tmp_path)
    v1 = current_version(root)
    before = _data_files(root)
    m = rename_column(spark, root, "v", "val")
    assert _data_files(root) == before  # zero data rewrites
    assert m["column_mapping"] == {"k": "k", "val": "v"}
    df = read_version(spark, root)
    assert df.columns == ["k", "val"]
    assert {(r.k, r.val) for r in df.collect()} == {
        (k, k * 10) for k in range(40)
    }
    # time travel: the old version still reads the OLD name
    old = read_version(spark, root, v1)
    assert old.columns == ["k", "v"]
    # renaming again chains; unknown/duplicate names refuse
    rename_column(spark, root, "val", "value")
    assert read_version(spark, root).columns == ["k", "value"]
    with pytest.raises(ValueError, match="no such column"):
        rename_column(spark, root, "v", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, root, "value", "k")


def test_zonemap_pruning_survives_rename(spark, tmp_path):
    root = _make(spark, tmp_path, n=100, n_files=4)
    rename_column(spark, root, "v", "val")
    # stats are keyed by the physical name; a LOGICAL predicate must
    # still prune files and still return exact rows
    audit = pruning_audit(root, [("val", "<", 300)])
    assert audit["files_skipped"] >= 1
    got = {
        (r.k, r.val)
        for r in read_pruned(spark, root, [("val", "<", 300)]).collect()
    }
    assert got == {(k, k * 10) for k in range(30)}


def test_dml_families_on_renamed_column(spark, tmp_path):
    root = _make(spark, tmp_path, n=60, n_files=3)
    rename_column(spark, root, "v", "val")
    want = {k: k * 10 for k in range(60)}

    merge_version(
        spark, root,
        _kv(spark, [(5, 555), (100, 1)], "k long, val long"), "k",
    )
    want[5] = 555
    want[100] = 1
    delete_matching_dv(spark, root, _kv(spark, [(9, 0)]).select("k"), "k")
    want.pop(9)
    delete_matching(spark, root, _kv(spark, [(10, 0)]).select("k"), "k")
    want.pop(10)
    # predicate delete ON the renamed column (metadata-first planning
    # translates the name for the zone-map split)
    delete_where(spark, root, [("val", ">=", 550)])
    want = {k: v for k, v in want.items() if v < 550}
    update_where(spark, root, [("k", "=", 3)], {"val": "val + 7"})
    want[3] += 7
    compact_version(spark, root, small_threshold=10**9, include_dv_files=True)
    optimize_version(spark, root, {"val": (0.0, 1000.0)}, num_partitions=2)

    got = {
        (r.k, r.val) for r in read_version(spark, root).collect()
    }
    assert got == set(want.items())
    # the on-disk name space never forked: every live file still
    # carries the PHYSICAL column name
    m = read_manifest(root)
    import pyarrow.parquet as pq

    for f in m["files"]:
        names = pq.ParquetFile(os.path.join(root, f)).schema_arrow.names
        assert "v" in names and "val" not in names, f


def test_drop_column_without_rewrite_and_mixed_appends(spark, tmp_path):
    root = _make(spark, tmp_path, n=20, n_files=1)
    before = _data_files(root)
    m = drop_column(spark, root, "v")
    assert _data_files(root) == before
    assert read_version(spark, root).columns == ["k"]
    # time travel still shows the dropped column
    assert read_version(spark, root, 1).columns == ["k", "v"]
    # appends after the drop write the NARROW physical schema; the
    # mixed read (old wide files + new narrow ones) stays correct
    d = new_data_dir(root)
    to_physical(
        spark.createDataFrame([(100,), (101,)], "k long"), m,
        context="append",
    ).write.parquet(d, mode="append")
    publish_version(root, d, base_version=current_version(root))
    assert {r.k for r in read_version(spark, root).collect()} == set(
        range(20)
    ) | {100, 101}
    with pytest.raises(ValueError, match="last column"):
        drop_column(spark, root, "k")


def test_rename_refusals_for_dependent_contracts(spark, tmp_path):
    # CHECK constraints reference logical names: refuse the rename
    root = _make(spark, tmp_path, name="tc")
    set_table_constraints(spark, root, {"v_pos": "v >= 0"})
    with pytest.raises(ValueError, match="constraints reference"):
        rename_column(spark, root, "v", "val")
    with pytest.raises(ValueError, match="constraints reference"):
        drop_column(spark, root, "v")
    # bucket-spec key columns are layout contracts: refuse
    from trial_submission_studio_spark.io.bucketed_table import (
        publish_bucketed,
    )

    broot = str(tmp_path / "b")
    publish_bucketed(
        spark, _kv(spark, [(k, k) for k in range(20)]), broot, "k", 4
    )
    with pytest.raises(ValueError, match="bucket-spec"):
        rename_column(spark, broot, "k", "id")
    # non-key columns of a bucketed table rename fine
    rename_column(spark, broot, "v", "val")
    assert read_version(spark, broot).columns[:2] == ["k", "val"] or set(
        read_version(spark, broot).columns
    ) >= {"k", "val"}


def test_constraints_enforce_through_mapping(spark, tmp_path):
    """After a rename, the recorded CHECK (new logical name) still
    gates appends whose files carry the physical name."""
    root = _make(spark, tmp_path, name="tg", n=10, n_files=1)
    rename_column(spark, root, "v", "val")
    set_table_constraints(spark, root, {"val_pos": "val >= 0"})
    m = read_manifest(root)
    d = new_data_dir(root)
    to_physical(
        _kv(spark, [(100, -5)], "k long, val long"), m, context="append"
    ).write.parquet(d, mode="append")
    from trial_submission_studio_spark.io.versioned import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError):
        publish_version(
            root, d, base_version=current_version(root), spark=spark
        )


def test_branch_rename_publishes_back(spark, tmp_path):
    """Rename on a BRANCH lands on the source through publish_clone
    (the mapping rides the WAP commit)."""
    from trial_submission_studio_spark.io.clones import publish_clone
    from trial_submission_studio_spark.io.versioned import shallow_clone

    src = _make(spark, tmp_path, name="psrc", n=20, n_files=1)
    clone = str(tmp_path / "pbranch")
    shallow_clone(src, clone)
    rename_column(spark, clone, "v", "val")
    merge_version(
        spark, clone, _kv(spark, [(1, 111)], "k long, val long"), "k"
    )
    publish_clone(spark, clone)
    df = read_version(spark, src)
    assert df.columns == ["k", "val"]
    assert {(r.k, r.val) for r in df.collect()} == {
        (k, k * 10) for k in range(20) if k != 1
    } | {(1, 111)}
