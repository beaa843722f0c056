"""One composed r13 lifecycle: a constrained versioned table fed by
merges and merge-on-read deletes, auto-maintenance folding the
tombstone debt, and a shallow clone taking an experimental merge —
every artifact consumed by the next step, every step's answers pinned
against a plain dict model."""

from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
    dv_map,
)
from trial_submission_studio_spark.io.merge import merge_version
from trial_submission_studio_spark.io.versioned import (
    ConstraintViolationError,
    current_version,
    maintain_table,
    new_data_dir,
    publish_version,
    read_manifest,
    read_version,
    set_table_constraints,
    shallow_clone,
)

SCHEMA = "k bigint, grp string, score double"


def _snap(spark, root):
    return {(r.k, r.grp, r.score) for r in read_version(spark, root).collect()}


def test_constrained_dv_maintenance_clone(spark, tmp_path):
    root = str(tmp_path / "t")
    model = {k: ("a" if k % 2 else "b", float(k)) for k in range(1, 41)}

    def _want():
        return {(k, g, s) for k, (g, s) in model.items()}

    # bootstrap + CHECK contract
    d = new_data_dir(root)
    spark.createDataFrame(
        [(k, g, s) for k, (g, s) in model.items()], SCHEMA
    ).repartition(2).write.parquet(d, mode="append")
    publish_version(root, d)
    set_table_constraints(spark, root, {"score_nonneg": "score >= 0"})
    assert _snap(spark, root) == _want()

    # dv deletes + upserts: erasures tombstone, the snapshot stays exact
    for dels, ups in (([1, 2], [(50, "a", 5.0)]), ([4], [(3, "b", 9.0)])):
        keys = spark.createDataFrame([(k,) for k in dels], "k bigint")
        delete_matching_dv(spark, root, keys, "k")
        merge_version(spark, root, spark.createDataFrame(ups, SCHEMA), "k")
        for k in dels:
            model.pop(k)
        model.update({k: (g, s) for k, g, s in ups})
        assert _snap(spark, root) == _want()
    assert dv_map(read_manifest(root))  # tombstone debt exists

    # a violating commit refuses at the commit choke point: nothing
    # lands, and a clean retry goes through
    v = current_version(root)
    try:
        merge_version(
            spark, root, spark.createDataFrame([(60, "a", -1.0)], SCHEMA), "k"
        )
        raise AssertionError("violating merge was accepted")
    except ConstraintViolationError:
        pass
    assert current_version(root) == v
    merge_version(
        spark, root, spark.createDataFrame([(60, "a", 1.0)], SCHEMA), "k"
    )
    model[60] = ("a", 1.0)
    assert _snap(spark, root) == _want()

    # auto-maintenance folds the dv debt and the rows survive exactly
    r = maintain_table(spark, root, max_small_files=10_000, max_dv_rows=1)
    assert r["dv_folded"]
    assert not dv_map(read_manifest(root))
    assert _snap(spark, root) == _want()

    # a shallow clone takes an experimental merge; the production
    # table is untouched — and the clone inherits the CHECK contract
    dst = str(tmp_path / "exp")
    shallow_clone(root, dst, spark=spark)
    merge_version(
        spark, dst, spark.createDataFrame([(50, "b", 123.0)], SCHEMA), "k"
    )
    assert _snap(spark, root) == _want()
    try:
        merge_version(
            spark, dst, spark.createDataFrame([(70, "a", -9.0)], SCHEMA), "k"
        )
        raise AssertionError("clone accepted a constraint violation")
    except ConstraintViolationError:
        pass
