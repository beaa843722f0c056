"""Model-based test of the table-format stack: a seeded random
sequence of commits (append / merge / delete / compact / optimize)
runs against BOTH the real store and a plain dict model; after every
commit the snapshot must equal the model, and at the end every
historical version must time-travel to the model recorded for it.
One test, many composed code paths — the class of
bug this hunts (a commit that silently loses or duplicates rows
through some op interleaving) is the worst a table format can have.
"""

import os
import random

import pytest
from pyspark.sql import functions as F

from trial_submission_studio_spark.io.deletion_vectors import (
    delete_matching_dv,
    delete_where,
)
from trial_submission_studio_spark.io.merge import (
    delete_matching,
    merge_version,
    update_where,
)
from trial_submission_studio_spark.io.versioned import (
    compact_version,
    current_version,
    new_data_dir,
    publish_version,
    read_version,
)
from trial_submission_studio_spark.io.zonemap import (
    optimize_version,
    publish_with_stats,
    read_pruned,
)


def _df(spark, rows, vname="v"):
    df = spark.createDataFrame(
        [(k, v) for k, v in rows], "k long, v long"
    )
    return df.withColumnRenamed("v", vname) if vname != "v" else df


def _snapshot(spark, root, version=None, vname="v"):
    return {
        (r["k"], r[vname])
        for r in read_version(spark, root, version).collect()
    }


@pytest.mark.parametrize("seed", [7, 23, 41])
def test_random_commit_sequences_match_dict_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / "t")
    os.makedirs(root)

    model: dict[int, int] = {k: k * 10 for k in range(40)}
    d = new_data_dir(root)
    _df(spark, model.items()).repartition(3).write.parquet(d, mode="append")
    publish_with_stats(root, d, ["k", "v"])
    next_key = 40
    vname = "v"  # logical name of the value column (rename op moves it)
    history = [(current_version(root), dict(model), vname)]

    for step in range(12):
        op = rng.choice(
            ["append", "merge", "delete", "dv_delete", "update_where",
             "delete_where", "compact", "optimize", "branch_roundtrip",
             "rename"]
        )
        if op == "append":
            fresh = {next_key + i: (next_key + i) * 10 for i in range(5)}
            next_key += 5
            d = new_data_dir(root)
            _df(spark, fresh.items()).repartition(1).write.parquet(
                d, mode="append"
            )
            publish_version(root, d, base_version=current_version(root))
            model.update(fresh)
        elif op == "merge":
            keys = rng.sample(sorted(model), min(4, len(model)))
            ups = {k: model[k] + 1 for k in keys[:2]}
            ins = {next_key: next_key * 10}
            next_key += 1
            dels = keys[2:]
            src = [(k, v, False) for k, v in {**ups, **ins}.items()] + [
                (k, 0, True) for k in dels
            ]
            merge_version(
                spark,
                root,
                spark.createDataFrame(
                    src, "k long, v long, d boolean"
                ).withColumnRenamed("v", vname),
                "k",
                delete_col="d",
            )
            model.update(ups)
            model.update(ins)
            for k in dels:
                model.pop(k, None)
        elif op == "delete":
            if len(model) <= 5:
                continue
            dels = rng.sample(sorted(model), 3)
            delete_matching(
                spark, root, _df(spark, [(k, 0) for k in dels]).select("k"),
                "k",
            )
            for k in dels:
                model.pop(k)
        elif op == "dv_delete":
            if len(model) <= 5:
                continue
            # merge-on-read: same logical delete, tombstones instead
            # of rewrites (deliberately overlaps already-dead keys)
            dels = rng.sample(sorted(model), 2) + [rng.randrange(60)]
            delete_matching_dv(
                spark, root, _df(spark, [(k, 0) for k in dels]).select("k"),
                "k",
            )
            for k in dels:
                model.pop(k, None)
        elif op == "update_where":
            lo = rng.randrange(0, 60)
            hi = lo + rng.randrange(1, 15)
            update_where(
                spark, root, [("k", "between", (lo, hi))],
                {vname: f"{vname} + 1"},
            )
            for k in model:
                if lo <= k <= hi:
                    model[k] += 1
        elif op == "delete_where":
            lo = rng.randrange(0, 60)
            hi = lo + rng.randrange(1, 10)
            doomed = {k for k in model if lo <= k <= hi}
            if not doomed or len(model) - len(doomed) < 3:
                continue  # empty-table refusal / keep the model alive
            delete_where(spark, root, [("k", "between", (lo, hi))])
            for k in doomed:
                model.pop(k)
        elif op == "branch_roundtrip":
            # fork -> mutate the branch -> publish back: the landed
            # source must equal the branch's model
            from trial_submission_studio_spark.io.clones import (
                publish_clone,
            )
            from trial_submission_studio_spark.io.versioned import (
                shallow_clone,
            )

            branch = str(tmp_path / f"branch{step}")
            shallow_clone(root, branch, spark=spark)
            sub = rng.choice(["merge", "dv_delete", "delete_where"])
            if sub == "merge":
                keys = rng.sample(sorted(model), min(2, len(model)))
                ups = {k: model[k] + 7 for k in keys}
                ins = {next_key: next_key * 10}
                next_key += 1
                merge_version(
                    spark, branch,
                    _df(spark, {**ups, **ins}.items(), vname), "k",
                )
                model.update(ups)
                model.update(ins)
            elif sub == "dv_delete":
                if len(model) <= 5:
                    continue
                dels = rng.sample(sorted(model), 2)
                delete_matching_dv(
                    spark, branch,
                    _df(spark, [(k, 0) for k in dels]).select("k"), "k",
                )
                for k in dels:
                    model.pop(k)
            else:
                lo = rng.randrange(0, 60)
                hi = lo + rng.randrange(1, 8)
                doomed = {k for k in model if lo <= k <= hi}
                if not doomed or len(model) - len(doomed) < 3:
                    continue
                delete_where(spark, branch, [("k", "between", (lo, hi))])
                for k in doomed:
                    model.pop(k)
            publish_clone(spark, branch)
        elif op == "rename":
            from trial_submission_studio_spark.io.table_schema import (
                rename_column,
            )

            new = f"v{step}"
            rename_column(spark, root, vname, new)
            vname = new
        elif op == "compact":
            compact_version(
                spark, root, target_bytes=1 << 26,
                include_dv_files=rng.random() < 0.5,
            )
        elif op == "optimize":
            optimize_version(
                spark, root, {"k": (0.0, 2000.0)}, num_partitions=2
            )
        got = _snapshot(spark, root, vname=vname)
        want = {(k, v) for k, v in model.items()}
        assert got == want, (seed, step, op, got ^ want)
        # zone-map interplay: a pruned ranged read over whatever
        # stats survived this op (merge/delete carry, optimize
        # recomputes, compact drops them) must still equal the
        # model filter — stats may only ever cost speed
        lo = rng.randrange(0, 60)
        hi = lo + rng.randrange(1, 30)
        pred = [("k", "between", (lo, hi))]
        pruned = {
            (r["k"], r[vname])
            for r in read_pruned(spark, root, pred).collect()
        }
        assert pruned == {
            (k, v) for k, v in model.items() if lo <= k <= hi
        }, (seed, step, op, pred)
        history.append((current_version(root), dict(model), vname))

    # every historical snapshot still time-travels to its model
    for v, m, n in history:
        assert _snapshot(spark, root, v, n) == {
            (k, x) for k, x in m.items()
        }
    # the format route returns the same final answers the explicit
    # readers do — after the whole random op interleaving, including
    # renames, tombstones and layout churn
    from trial_submission_studio_spark.io.datasource import register

    register(spark)
    via_format = {
        (r["k"], r[vname])
        for r in spark.read.format("tss").option("root", root)
        .load().collect()
    }
    assert via_format == {(k, v) for k, v in model.items()}
