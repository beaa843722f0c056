"""Auto-maintenance policies (`io/versioned.py:maintain_table`): the
file-stat and tombstone-debt sensors wired to compaction so a
pipeline heals itself without manual compact calls."""

import os

from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
    dv_rows,
)
from trial_submission_studio_spark.io.versioned import (
    current_version,
    maintain_table,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
    table_health,
)


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, v long")


def test_many_small_appends_auto_compact(spark, tmp_path):
    """An ingest loop that appends tiny batches and calls
    maintain_table each cycle: nothing happens while healthy, one
    compaction fires when the small-file bound trips, rows survive
    exactly, and the next cycle is a no-op again."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    d = new_data_dir(root)
    _kv(spark, [(k, k) for k in range(10)]).repartition(1).write.parquet(
        d, mode="append"
    )
    publish_version(root, d)

    fired_at = None
    for i in range(12):
        d = new_data_dir(root)
        _kv(spark, [(100 + 10 * i + j, i) for j in range(3)]).repartition(
            1
        ).write.parquet(d, mode="append")
        publish_version(root, d, base_version=current_version(root))
        r = maintain_table(spark, root, max_small_files=8)
        if r["compacted"] and fired_at is None:
            fired_at = i
            assert r["health"]["n_small"] > 8
    assert fired_at is not None  # the policy actually fired mid-loop
    # post-loop: steady state is healthy or one more compaction away
    maintain_table(spark, root, max_small_files=8)
    assert table_health(root)["n_small"] <= 8

    want = {(k, k) for k in range(10)} | {
        (100 + 10 * i + j, i) for i in range(12) for j in range(3)
    }
    assert {(r.k, r.v) for r in read_version(spark, root).collect()} == want


def test_tombstone_debt_triggers_dv_fold(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    d = new_data_dir(root)
    _kv(spark, [(k, k) for k in range(40)]).repartition(2).write.parquet(
        d, mode="append"
    )
    publish_version(root, d)
    delete_matching_dv(spark, root, _kv(spark, [(1, 0), (2, 0), (3, 0)])
                       .select("k"), "k")
    assert dv_rows(read_manifest(root)) == 3

    # small-file rule alone would not fire; the dv-debt rule does,
    # and the compaction folds the tombstones away
    r = maintain_table(
        spark, root, max_small_files=1000, max_dv_rows=2
    )
    assert r["compacted"] and r["dv_folded"]
    assert dv_rows(read_manifest(root)) == 0
    assert {(row.k, row.v) for row in read_version(spark, root).collect()} \
        == {(k, k) for k in range(40) if k not in (1, 2, 3)}
    # healthy table: next cycle is a no-op
    r2 = maintain_table(spark, root, max_small_files=1000, max_dv_rows=2)
    assert not r2["compacted"] and r2["version"] == r["version"]


