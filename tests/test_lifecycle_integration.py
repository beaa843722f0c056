"""One table-format cycle in one flow — the pieces composing
end-to-end the way a production deployment would chain them:

    publish (with zone maps) -> CDC merge -> OPTIMIZE -> pruning audit

Each piece has its own suite; this test pins the COMPOSITION —
that the artifacts each step emits are exactly what the next step
consumes, across one realistic cycle."""

import os

from pyspark.sql import functions as F

from trial_submission_studio_spark.io.merge import merge_version
from trial_submission_studio_spark.io.versioned import (
    new_data_dir,
    read_version,
)
from trial_submission_studio_spark.io.zonemap import (
    optimize_version,
    pruning_audit,
    publish_with_stats,
    read_pruned,
)


def _docs(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS doc_id",
        "concat('document number ', id, ' body text') AS text",
        "CASE WHEN id % 2 = 0 THEN 'web' ELSE 'books' END AS source",
    )


def test_merge_optimize_prune_cycle(spark, tmp_path):
    root = str(tmp_path / "corpus")
    os.makedirs(root)

    # 1. publish v1 with zone maps on the key
    d = new_data_dir(root)
    _docs(spark, 0, 200).repartition(4).write.parquet(d, mode="append")
    publish_with_stats(root, d, ["doc_id"])

    # 2. CDC: one merge commit (update text of 5, delete 6, insert 500)
    changes = (
        _docs(spark, 500, 501)
        .unionByName(
            _docs(spark, 5, 6).withColumn(
                "text", F.lit("updated body of five")
            )
        )
        .withColumn("is_del", F.lit(False))
        .unionByName(_docs(spark, 6, 7).withColumn("is_del", F.lit(True)))
    )
    merge_version(spark, root, changes, "doc_id", delete_col="is_del")
    after_merge = {
        r.doc_id: r.text for r in read_version(spark, root).collect()
    }
    assert len(after_merge) == 200  # -1 delete +1 insert
    assert after_merge[5] == "updated body of five"
    assert 6 not in after_merge and 500 in after_merge

    # 3. OPTIMIZE the corpus: every answer is unchanged, and the
    #    clustered layout + fresh stats make a narrow id range prune
    optimize_version(spark, root, {"doc_id": (0.0, 1000.0)},
                     num_partitions=4)
    assert {
        r.doc_id: r.text for r in read_version(spark, root).collect()
    } == after_merge
    a = pruning_audit(root, [("doc_id", "between", (10, 20))])
    assert a["files_skipped"] > 0
    got = {
        x.doc_id
        for x in read_pruned(
            spark, root, [("doc_id", "between", (10, 20))]
        ).collect()
    }
    assert got == set(range(10, 21))  # (the deleted id 6 is outside)
