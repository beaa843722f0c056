"""SparkSession factory tuned for this engine.

The engine's expressions are written to be ANSI-safe (``try_*``
variants everywhere a cast/parse can fail), so they behave identically
whether the hosting session runs with ``spark.sql.ansi.enabled`` true
(Spark 4 default) or false. The factory below is what our own tests
and bench use; library code never assumes these configs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trial_submission_studio_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with scale-aware defaults.

    - ``spark.sql.adaptive.enabled``: AQE re-plans shuffles at runtime
      (coalesces small partitions, splits skewed ones) — essential at
      100 TB, harmless locally.
    - ``spark.sql.session.timeZone=UTC``: all temporal semantics in
      this engine are wall-clock ISO-8601 strings; UTC pins the
      string<->timestamp boundary.
    - Arrow enabled: the duration-grammar Pandas UDF rides
      vectorized Arrow batches.
    - Runtime bloom-filter joins are left at the Spark 4 defaults
      (``spark.sql.optimizer.runtime.bloomFilter.enabled=true``,
      application-side threshold 10 GB): on a selective-dimension
      join the optimizer injects a ``bloom_filter_agg`` on the
      filtered build side and pre-filters the big probe scan before
      the shuffle — a 100 TB-only win that is deliberately invisible
      at test scale. ``tests/test_plan_shapes.py`` lowers the
      thresholds to prove our join shapes stay ELIGIBLE for the
      injection (nothing in the plan defeats it).
    - ``spark.sql.codegen.cache.maxEntries=2000``: Spark keeps 100
      generated classes by default, fewer than one study lifecycle
      generates, so every warm lifecycle evicted and recompiled its
      own classes (``CodegenMetrics``, 4 vCPUs): 36-48 Janino compiles
      per warm run of the 2-domain test study, 117 per warm perfbench
      ``study_small`` op on local[1]. With 2000 entries both compile
      0. The conf is static (read once, when the session starts).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst targets total/defaultParallelism per
        # post-shuffle partition but floors it at minPartitionSize
        # (default 1m). Expression-dense stages here (ISO regex
        # ladders, CT lookups, window functions) carry few bytes per
        # row, so the 1m floor coalesces a 32-core stage down to a
        # handful of tasks while each task is CPU-bound — r16
        # measured e2e's post-shuffle stage AQE-coalesced to 5 tasks
        # of 1.28m each. 64k keeps such stages at core-count
        # parallelism; at real scale partitions are far above either
        # floor and the setting is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Scan split sizing: the 4m default openCostInBytes was tuned
        # for spinning-disk seek cost; it floors maxSplitBytes at 4m,
        # which reads a whole single-file CSV/text source in 1-2
        # tasks at local scale. r16 used 256k, which let a 7 MB CSV
        # split defaultParallelism ways (~30 tasks of ~250 KB) — and
        # the r16 driver run showed exactly the guide-§2.6 failure in
        # reverse: ~30 near-empty tasks of scheduling + stage-barrier
        # latency cost MORE than the parse (import 2-4x faster at 8
        # cores than 32). r17 floors splits at 1m so TASK COUNT SCALES
        # WITH BYTES, not with slots: a 7 MB CSV is ~8 tasks at any
        # core count, a 500 MB CSV still reaches full width. The
        # bytes-per-core term, not this floor, governs real
        # deployments (any file > cores MB). Env-parameterized for
        # cluster tuning.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", str(1 << 20)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
