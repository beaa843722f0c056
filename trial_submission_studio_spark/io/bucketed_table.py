"""Bucket-spec'd versioned tables — the hash-dir layout of the bm25
index (`operators/bm25.py` ``__tb=N``) generalized to the table
format, recorded as a MANIFEST CONTRACT like the schema contract
(`io/table_schema.py`).

What the spec buys at 100 TB (each measured/pinned by tests):

- **Key-pruned reads**: a point lookup / IN-list probe / semi-join
  whose keys are known computes its bucket ids by hash arithmetic
  and plans the scan over ONLY those buckets' files — 1/n_buckets of
  the table per probed key, driver-side, no metastore, no listing
  (`read_key_pruned`).
- **Bucket-pruned merge planning**: `io/merge.py:merge_version`
  consults the spec and restricts its affected-file probe (the
  key-column scan that finds copy-on-write candidates) to the
  buckets the source keys hash to — merge planning cost drops from
  "scan every file's key column" to "scan matching buckets only",
  which is the difference between O(table) and O(batch) at scale.
- **Layout preservation**: merge/compaction rewrites re-partition
  rewritten rows by the bucket key into ``__kb=N`` dirs and carry
  the spec forward, so the table never silently degrades to
  unbucketed; a run may add files to any bucket dir (LSM-style —
  multiple files per bucket compose, exactly like bm25 runs).

Workload tradeoff, stated plainly: hash bucketing SCATTERS keys
uniformly, so a large update batch touches ~min(|keys|, n_buckets)
buckets — copy-on-write merge economics favor the range-clustered
zonemap layout (`io/zonemap.py`) when CDC batches are key-clustered,
and favor buckets when the workload is point lookups / key probes /
co-located joins. They are complementary layout tools, not rivals
(same split as Delta's Z-ORDER vs Hive bucketing).

What the spec does NOT buy — documented, with the measured reason
(`tests/test_bucketed_table.py::test_exchange_free_join_needs_catalog_or_dsv2`):
an **exchange-free JOIN**. Catalyst only elides the shuffle when the
SCAN reports a HashClusteredDistribution, and a path-based parquet
read of an explicit file list never does — that metadata channel is
the catalog bucketed table (`operators/bucketing.py:write_bucketed`,
shipped) or a JVM DataSource-v2 implementing
``SupportsReportPartitioning``, which cannot be expressed from
Python. The file-level co-location is still exactly what a DSv2
source would report; the layout is ready for one.

Hash function: ``pmod(murmur3 via F.hash, n)`` computed
EXPLICITLY into the ``__kb`` column — pruning and placement use the
same arithmetic on both the write and probe side, so correctness
never depends on matching Spark's internal bucket-file naming.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources.local import sql_literal
from . import versioned as _ver

__all__ = [
    "BUCKET_COL",
    "bucket_id",
    "bucket_spec",
    "publish_bucketed",
    "read_bucketed_version",
    "bucket_files",
    "read_key_pruned",
    "append_bucketed",
    "read_point_lookup",
    "point_lookup_audit",
    "sync_catalog_bucketed",
]

BUCKET_COL = "__kb"


def bucket_id(key_cols: Sequence[str], n_buckets: int) -> Column:
    """The bucket id of a row: ``pmod(murmur3(key...), n)``."""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def _write_bucketed_run(
    df: DataFrame, root: str, spec: dict
) -> list[str]:
    """One run of ``__kb=N/part-*.parquet`` files under a fresh data
    dir; returns root-relative paths. One writer task per touched
    bucket (repartition on __kb), so file count tracks bucket count,
    not the session's shuffle-partition default. When the spec
    records ``sort_cols``, rows are sorted on them WITHIN each bucket
    (the sort leads with the partition column so the writer's own
    partition sort doesn't eliminate it — SPARK-44512 shape), making
    the per-file parquet min/max and the manifest zone maps tight."""
    cols, n = spec["key_cols"], spec["n_buckets"]
    order = spec.get("sort_cols") or cols
    run_dir = _ver.new_data_dir(root)
    (
        df.withColumn(BUCKET_COL, bucket_id(cols, n))
        .repartition(F.col(BUCKET_COL))
        .sortWithinPartitions(BUCKET_COL, *order)
        .write.partitionBy(BUCKET_COL)
        .mode("overwrite")  # new_data_dir pre-creates the (empty) dir
        .parquet(run_dir)
    )
    return sorted(
        os.path.relpath(p, root) for p in _ver.data_files(run_dir)
    )


def _stats_cols(spec: dict) -> list[str] | None:
    """Zone-map columns a spec'd table tracks: the within-bucket sort
    columns plus the bucket keys. None for plain (unsorted) specs —
    hash-scattered files have useless min/max, so stats stay off."""
    if not spec.get("sort_cols"):
        return None
    return sorted(set(spec["sort_cols"]) | set(spec["key_cols"]))


def _canon_spec(key_cols, n_buckets: int, sort_cols=None) -> dict:
    cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not cols:
        raise ValueError("need at least one bucket key column")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    spec = {"key_cols": cols, "n_buckets": int(n_buckets)}
    if sort_cols:
        spec["sort_cols"] = (
            [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        )
    return spec


def publish_bucketed(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    key_cols: str | Sequence[str],
    n_buckets: int,
    *,
    sort_cols: str | Sequence[str] | None = None,
    metadata: dict | None = None,
) -> dict:
    """Write ``df`` hash-bucketed on ``key_cols`` and commit a
    version whose manifest records the ``bucket_spec`` contract.
    Later merges preserve the layout (see module docstring);
    re-publishing over an existing root with a DIFFERENT spec is
    refused — a mixed-layout table would prune incorrectly.

    ``sort_cols`` composes the two layout tools: rows are sorted on
    them WITHIN each bucket and per-file zone maps (`io/zonemap.py`)
    ride the manifest, so a point lookup prunes twice — to the probed
    buckets' files by hash arithmetic, then to the matching sorted
    runs inside them by min/max (and parquet prunes row groups below
    that via the pushed filter; see :func:`read_point_lookup`)."""
    spec = _canon_spec(key_cols, n_buckets, sort_cols)
    prev = bucket_spec(root) if _ver.current_version(root) else None
    if prev is not None and prev != spec:
        raise ValueError(
            f"bucket spec changed (recorded {prev}, got {spec}); "
            "rebucket under a fresh root"
        )
    if _ver.current_version(root) is not None and _ver.read_manifest(
        root
    )["metadata"].get("partition_spec"):
        raise ValueError(
            "root is partition-spec'd (io/partitioned_table.py); a "
            "flat bucketed run would break directory pruning — use "
            "publish_partitioned(bucket_key=...) to nest buckets "
            "inside partitions"
        )
    os.makedirs(root, exist_ok=True)
    files = _write_bucketed_run(df, root, spec)
    meta = {**(metadata or {}), "bucket_spec": spec}
    stats = None
    cols = _stats_cols(spec)
    if cols:
        from .zonemap import collect_file_stats

        stats = collect_file_stats(root, files, cols, spark=spark)
    return _ver.publish_files(root, files, metadata=meta, stats=stats)


def append_bucketed(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    *,
    metadata: dict | None = None,
) -> dict:
    """Append a new run to a bucket-spec'd table under its RECORDED
    spec (LSM-style: each run adds at most one file per touched
    bucket; runs compose and `versioned.compact_version` folds them).
    Goes through the multi-writer commit loop as an ``append``; a
    sort-spec'd table's fresh files get their zone maps collected on
    the same columns."""
    spec = bucket_spec(root)
    if spec is None:
        raise ValueError(f"{root} carries no bucket_spec")
    base_v = _ver.current_version(root)
    files = _write_bucketed_run(df, root, spec)
    stats = None
    cols = _stats_cols(spec)
    if cols:
        from .zonemap import collect_file_stats

        stats = collect_file_stats(root, files, cols, spark=spark)
    return _ver.commit_files(
        root,
        base_version=base_v,
        kind="append",
        add_files=files,
        add_stats=stats,
        metadata={**(metadata or {}), "bucket_spec": spec},
        spark=spark,
    )


def bucket_spec(root: str, version: int | None = None) -> dict | None:
    """The recorded spec, or None for an unbucketed table."""
    if _ver.current_version(root) is None:
        return None
    return _ver.read_manifest(root, version)["metadata"].get("bucket_spec")


def read_bucketed_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The snapshot WITHOUT the layout column (user view)."""
    return _ver.read_version(spark, root, version).drop(BUCKET_COL)


def bucket_files(
    manifest: dict, bucket_ids: set[int]
) -> list[str]:
    """Manifest entries belonging to the given buckets — the
    driver-side file-grain prune (rel paths carry ``__kb=N/``)."""
    keep = tuple(f"{BUCKET_COL}={b}/" for b in sorted(bucket_ids))
    return [f for f in manifest["files"] if any(k in f for k in keep)]


def probe_bucket_ids(
    keys: DataFrame, spec: dict
) -> set[int]:
    """Distinct bucket ids of the probe keys (bounded by
    n_buckets; the collect is id-sized, never key-sized)."""
    return {
        r["__b"]
        for r in keys.select(
            bucket_id(spec["key_cols"], spec["n_buckets"]).alias("__b")
        )
        .distinct()
        .collect()
    }


def read_key_pruned(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    *,
    version: int | None = None,
) -> DataFrame:
    """Rows of the snapshot whose bucket-key appears in ``keys`` —
    planned over ONLY the probed buckets' files. Semantically
    identical to ``read_bucketed_version(...).join(keys, key_cols,
    "left_semi")`` (pinned by tests); the difference is the scan:
    ~|probed buckets|/n_buckets of the table's files."""
    spec = bucket_spec(root, version)
    if spec is None:
        raise ValueError(f"{root} carries no bucket_spec")
    m = _ver.read_manifest(root, version)
    # dtype gate BEFORE hashing: bucket_id uses F.hash, which is
    # dtype-sensitive — an int probe against a bigint table would
    # prune the wrong buckets and silently drop rows
    from .table_schema import align_column_types

    probe_schema = spark.read.parquet(
        os.path.join(root, m["files"][0])
    ).schema
    keys = align_column_types(
        keys, probe_schema, cols=spec["key_cols"], context="read_key_pruned"
    )
    mine = bucket_files(m, probe_bucket_ids(keys, spec))
    if not mine:
        return read_bucketed_version(spark, root, version).limit(0)
    # the __kb dir is pure PATH layout (partitionBy consumed the
    # column at write time); a plain read of the pruned leaf files
    # yields the user schema directly — no partition inference, no
    # basePath coupling across run dirs. Deletion vectors compose:
    # only the probed buckets' sidecar tombstones are applied.
    from .deletion_vectors import read_with_dv

    df = read_with_dv(spark, root, m, mine)
    dkeys = keys.select(*spec["key_cols"]).distinct()
    # broadcast only under the same 1M-key probe discipline as
    # merge_version's broadcast_keys="auto"; a corpus-scale key set
    # falls back to a shuffle semi-join instead of OOMing executors
    probe = 1_000_000
    if dkeys.limit(probe + 1).count() <= probe:
        dkeys = F.broadcast(dkeys)
    return df.join(dkeys, spec["key_cols"], "left_semi")


def _point_lookup_plan(
    spark: SparkSession, root: str, values: list, version: int | None
) -> tuple[dict, dict, list[str], dict]:
    """Shared planning for :func:`read_point_lookup` /
    :func:`point_lookup_audit`: (manifest, spec, files-to-read,
    audit-counts). Two metadata-only prunes compose — bucket dirs by
    hash arithmetic, then zone maps on the within-bucket sort order."""
    spec = bucket_spec(root, version)
    if spec is None:
        raise ValueError(f"{root} carries no bucket_spec")
    if len(spec["key_cols"]) != 1:
        raise ValueError(
            "read_point_lookup takes scalar values for single-column "
            f"bucket keys; this table's key is {spec['key_cols']} — use "
            "read_key_pruned with a keys DataFrame"
        )
    m = _ver.read_manifest(root, version)
    key = spec["key_cols"][0]
    # build the probe frame WITH the target key's exact type (an
    # int-keyed table must not see bigint-inferred scalars — F.hash
    # is dtype-sensitive, and the caller has no DataFrame to cast)
    from pyspark.sql.types import StructType

    probe_schema = spark.read.parquet(
        os.path.join(root, m["files"][0])
    ).schema
    key_field = next(f for f in probe_schema.fields if f.name == key)
    if key_field.dataType.simpleString() in (
        "int", "bigint", "smallint", "tinyint", "string", "double",
        "float", "boolean",
    ):
        # literal VALUES relation: pure JVM, no Python-worker task
        from trial_submission_studio_spark.sources.local import values_df

        keys = values_df(
            spark,
            [(v,) for v in values],
            f"{key} {key_field.dataType.simpleString()}",
        )
    else:
        keys = spark.createDataFrame(
            [(v,) for v in values], StructType([key_field])
        )
    mine = bucket_files(m, probe_bucket_ids(keys, spec))
    audit = {"files_total": len(m["files"]),
             "files_after_bucket_prune": len(mine)}
    read = mine
    if m.get("stats"):
        from .zonemap import prune_files

        sub = dict(m, files=mine,
                   stats={f: s for f, s in m["stats"].items() if f in mine})
        read = prune_files(sub, [(key, "in", list(values))])["kept"]
    audit["files_read"] = len(read)
    return m, spec, read, audit


def read_point_lookup(
    spark: SparkSession,
    root: str,
    values: list,
    *,
    version: int | None = None,
) -> DataFrame:
    """Rows whose (single-column) bucket key is in ``values`` —
    planned with BOTH layout prunes: the probed buckets' files only
    (hash arithmetic), then only the sorted runs whose zone maps can
    contain a probed value, and the IN-filter pushed to parquet so
    row groups inside the surviving files skip too. Semantically
    identical to ``read_bucketed_version(...).filter(key.isin(...))``
    (pinned by tests); deletion vectors apply."""
    m, spec, read, _ = _point_lookup_plan(spark, root, values, version)
    key = spec["key_cols"][0]
    if not read:
        return read_bucketed_version(spark, root, version).limit(0).filter(
            F.col(key).isin(list(values))
        )
    from .deletion_vectors import read_with_dv

    df = read_with_dv(spark, root, m, read)
    return df.filter(F.col(key).isin(list(values)))


def point_lookup_audit(
    spark: SparkSession,
    root: str,
    values: list,
    *,
    version: int | None = None,
) -> dict:
    """Metadata-only answer to "how much does this lookup skip?":
    file counts after each prune stage plus the composed fractions —
    the planning tool for picking n_buckets and sort_cols."""
    _, _, _, audit = _point_lookup_plan(spark, root, values, version)
    total = audit["files_total"] or 1
    audit["bucket_prune_fraction"] = 1 - audit["files_after_bucket_prune"] / total
    audit["total_prune_fraction"] = 1 - audit["files_read"] / total
    return audit


_TABLE_RE = r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?"


def sync_catalog_bucketed(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    path: str | None = None,
    sort_within: Sequence[str] | None = None,
    force: bool = False,
) -> dict:
    """The catalog BRIDGE for exchange-free joins: materialize the
    CURRENT snapshot as a catalog bucketed table (same key columns
    and bucket count as the recorded ``bucket_spec``), so joins and
    aggregations on the bucket key plan with ZERO shuffle Exchange on
    this side — the payoff the write-once ``__kb`` layout cannot
    deliver through a path-based read (the measured boundary:
    Catalyst only elides the Exchange when the SCAN reports hash
    clustering, which in Python is exactly the catalog route,
    `operators/bucketing.py`).

    Idempotent sync, not a one-shot CTAS: the snapshot version and
    root are recorded as table properties; calling again after a
    merge/compaction/delete commit rewrites the materialization
    (``refreshed=True``), calling on an already-current table is a
    metadata no-op (``refreshed=False``). Deletion vectors are
    applied at materialization, so the catalog table holds live rows
    only.

    Cost model, stated plainly: the materialization is one
    partition-local rewrite of the snapshot per refresh —
    ``repartition(n, keys)`` hashes with the same murmur3 the ``__kb``
    layout used, so rows do not change machines under a co-partitioned
    scheduler, but a copy is written. Amortize it over the joins that
    skip their shuffle; for one-off joins just pay the Exchange.

    ``path`` makes the catalog table external at that location;
    ``sort_within`` adds a within-bucket ``sortBy`` (one file per
    bucket). Returns ``{"table", "version", "refreshed"}``."""
    import re

    if not re.fullmatch(_TABLE_RE, table):
        raise ValueError(f"unsafe table name: {table!r}")
    spec = bucket_spec(root)
    if spec is None:
        raise ValueError(f"{root} carries no bucket_spec")
    cur = _ver.current_version(root)
    root_abs = os.path.abspath(root)
    if not force and spark.catalog.tableExists(table):
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        }
        if (
            props.get("tss.snapshot_root") == root_abs
            and props.get("tss.snapshot_version") == str(cur)
        ):
            return {"table": table, "version": cur, "refreshed": False}

    from ..operators.bucketing import write_bucketed

    df = read_bucketed_version(spark, root)
    write_bucketed(
        df,
        table,
        spec["key_cols"],
        spec["n_buckets"],
        sort_cols=sort_within,
        path=path,
    )
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'tss.snapshot_root'={sql_literal(root_abs)}, "
        f"'tss.snapshot_version'='{cur}')"
    )
    return {"table": table, "version": cur, "refreshed": True}
