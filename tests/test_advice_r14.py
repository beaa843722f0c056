"""Round-14 hardening of the table-format edge cases: retired
intervening manifests must CONFLICT a rebase (not silently vanish
from the safety proof), lineage keying must anchor the root match
(interior-substring paths), delete_where's audit must count LIVE
rows, and the exclusive manifest create must absorb an NFS-style
self-race without absorbing a real one."""

import os

import pytest

from trial_submission_studio_spark.io import versioned
from trial_submission_studio_spark.io.deletion_vectors import (
    FILE_COL,
    delete_matching_dv,
    delete_where,
    rel_path_col,
)
from trial_submission_studio_spark.io.versioned import (
    TableConflictError,
    _atomic_create,
    commit_files,
    current_version,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
)
from trial_submission_studio_spark.io.zonemap import publish_with_stats


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, v long")


def _write_run(spark, root, pairs, n_files=1):
    d = new_data_dir(root)
    _kv(spark, pairs).repartition(n_files).write.parquet(d, mode="append")
    return d


def _publish(spark, tmp_path, pairs, n_files=1, name="t"):
    root = str(tmp_path / name)
    os.makedirs(root)
    publish_version(root, _write_run(spark, root, pairs, n_files))
    return root


def test_retired_intervening_manifest_conflicts_keyed_rebase(
    spark, tmp_path
):
    """A keyed commit rebasing from base v1 while a racing
    retire_versions deleted the intervening v2 (an append the safety
    proof NEEDS to inspect) must refuse with TableConflictError —
    never rebase over history it cannot read (WriteSerializable)."""
    root = _publish(spark, tmp_path, [(1, 1), (2, 2)])
    base_v = current_version(root)
    # v2: an intervening append (would make a keyed rebase unsafe)
    publish_version(
        root, _write_run(spark, root, [(3, 3)]), base_version=base_v
    )
    # v3: an intervening maintenance commit (rebase-safe on its own)
    m2 = read_manifest(root)
    commit_files(
        root, base_version=m2["version"], kind="maintenance",
        metadata={"noop": True},
    )
    # simulate the retire racing the commit: v2's manifest is gone
    os.remove(versioned._manifest_path(root, base_v + 1))
    d = new_data_dir(root)
    _kv(spark, [(9, 9)]).write.parquet(d, mode="append")
    add = [os.path.relpath(p, root) for p in versioned.data_files(d)]
    with pytest.raises(TableConflictError, match="rebase safety"):
        commit_files(
            root, base_version=base_v, kind="keyed", add_files=add,
        )


def test_atomic_create_absorbs_identical_payload_race(tmp_path):
    """NFS-style self-race: a second create with the IDENTICAL
    payload is a success (the manifest is in place); a different
    payload is still a loud lost race."""
    p = str(tmp_path / "m.json")
    _atomic_create(p, "{'v': 1}")
    _atomic_create(p, "{'v': 1}")  # absorbed, no raise
    with pytest.raises(FileExistsError):
        _atomic_create(p, "{'v': 2}")
    with open(p) as f:
        assert f.read() == "{'v': 1}"


def test_rel_path_col_interior_substring_not_miskeyed(spark, tmp_path):
    """An external file whose absolute path contains the table
    root's abspath as an INTERIOR substring must key by its own
    absolute path, never by the bogus suffix match."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    # external file at <tmp>/shadow/<abspath-of-root>/f.parquet:
    # its full path contains "<abspath-of-root>/" in the middle
    ext_dir = str(tmp_path / "shadow") + os.path.abspath(root)
    os.makedirs(ext_dir)
    _kv(spark, [(1, 1)]).coalesce(1).write.parquet(ext_dir, mode="append")
    got = (
        spark.read.parquet(ext_dir)
        .select(rel_path_col(root, allow_external=True).alias(FILE_COL))
        .collect()[0][FILE_COL]
    )
    assert got.startswith(ext_dir)  # the absolute key
    assert not got.endswith(".parquet") or "/" in got[1:]
    # and a genuinely-inside file still keys root-relative
    run = _write_run(spark, root, [(2, 2)])
    rel = (
        spark.read.parquet(run)
        .select(rel_path_col(root, allow_external=True).alias(FILE_COL))
        .collect()[0][FILE_COL]
    )
    assert not os.path.isabs(rel) and rel.startswith("data/")


def test_delete_where_rows_dropped_counts_live_rows(spark, tmp_path):
    """delete_where's audit on a wholesale-dropped file subtracts the
    rows a prior dv delete already tombstoned."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    d = new_data_dir(root)
    # one file, k in [0, 10): all < 100, so a k<100 delete drops it
    _kv(spark, [(k, k) for k in range(10)]).coalesce(1).write.parquet(
        d, mode="append"
    )
    publish_with_stats(root, d, ["k"])
    # tombstone 3 rows first
    delete_matching_dv(spark, root, _kv(spark, [(0, 0), (1, 1), (2, 2)]), "k")
    # second file keeps the table non-empty after the drop
    d2 = new_data_dir(root)
    _kv(spark, [(k, k) for k in range(200, 205)]).coalesce(1).write.parquet(
        d2, mode="append"
    )
    publish_with_stats(root, d2, ["k"], base_version=current_version(root))
    m = delete_where(spark, root, [("k", "<", 100)])
    audit = m["metadata"]["merge"]
    assert audit["files_dropped"] == 1
    assert audit["rows_dropped"] == 7  # 10 physical - 3 tombstoned
    assert {r.k for r in read_version(spark, root).collect()} == set(
        range(200, 205)
    )


