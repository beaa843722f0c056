"""Merge-on-read deletion vectors for versioned snapshots — Delta's
DV shape over the `io/versioned.py` manifest protocol.

Why copy-on-write alone is not enough at 100 TB: `io/merge.py`'s
``delete_matching`` rewrites every file that CONTAINS a doomed key.
Hash-bucketed layouts (`io/bucketed_table.py`) deliberately SCATTER
keys, so a GDPR erasure of k scattered keys touches ~min(k, n_files)
files and pays O(file bytes) per touched file — the dominant cost of
a small delete on a big table. The table-format answer (Delta
deletion vectors, Iceberg positional delete files, Hudi MOR) is to
make the delete a METADATA-plus-O(k) operation:

1. find the doomed rows' physical positions — ``(file, row_index)``
   pairs, where ``row_index`` is Spark's parquet ``_metadata.row_index``
   (stable: it is the row's ordinal within its immutable file),
2. write ONLY those pairs to a small parquet sidecar (O(k) bytes),
3. commit a new version with the SAME data-file list plus a
   ``dv`` map in the manifest: ``rel_file -> {sidecars: [...],
   rows: n}``.

Readers apply the map: files without DV entries are scanned plain;
files with entries are anti-joined against their sidecar pairs on
``(file, row_index)`` — the join side is O(total undeleted-yet
tombstones), broadcast under the usual size discipline. Every read
path composes: zone-map pruning and bucket key-pruning shrink the
FILE list first, and only the surviving files' sidecars are loaded.

The debt is repaid at rewrite time, exactly like an LSM: any commit
that rewrites a file (CoW merge/delete, compaction, OPTIMIZE)
materializes the survivors and DROPS the file's DV entries.
``io/versioned.py:compact_version(include_dv_files=True)``
folds tombstone-heavy files eagerly.

Reference parity note: the reference's persistence layer
(`/root/reference/crates/tss-persistence`) has no record-level
delete; this module is part of the LLM-pipeline extension layer
(corpus lifecycle at scale — erasure requests, recalled sources).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import versioned

__all__ = [
    "FILE_COL",
    "POS_COL",
    "dv_map",
    "dv_rows",
    "read_dv",
    "read_with_dv",
    "delete_matching_dv",
    "delete_where",
]

#: lineage column names used in sidecars and by ``with_lineage`` reads
FILE_COL = "__tss_file"
POS_COL = "__tss_pos"

_DV_DIR = "dv"

#: broadcast the tombstone side of the anti-join below this many rows
#: (same order as merge_version's 1M-key auto probe; tombstone rows
#: are two narrow columns, so the bound is generous)
_BROADCAST_DV_ROWS = 4_000_000


def dv_map(manifest: dict) -> dict:
    """The manifest's ``rel_file -> {"sidecars": [...], "rows": n}``
    deletion-vector map ({} for a DV-free snapshot)."""
    return manifest.get("dv") or {}


def dv_rows(manifest: dict, rel_files: list[str] | None = None) -> int:
    """Total tombstoned rows recorded for ``rel_files`` (default: the
    whole snapshot) — driver-side, from the manifest alone."""
    m = dv_map(manifest)
    if rel_files is None:
        return sum(e["rows"] for e in m.values())
    return sum(m[f]["rows"] for f in rel_files if f in m)


def rel_path_col(root: str, *, allow_external: bool = False) -> Column:
    """The MANIFEST-ENTRY key of a scanned row's source file,
    extracted from ``_metadata.file_path`` by position with column
    functions (never string-interpolated SQL). Files under ``root``
    key by their root-relative path. ``allow_external`` (set when the
    manifest actually holds absolute entries — shallow clones,
    `versioned.shallow_clone`) keys outside-root files by the
    scheme-stripped absolute path, which is exactly how the clone's
    manifest names them; WITHOUT it a non-matching path FAILS LOUDLY
    — a silently mis-keyed row would dodge its tombstones. Both sides
    of every (file, position) comparison — sidecar writes, anti-joins,
    manifest dv maps — go through this one function, so the keying is
    consistent by construction."""
    marker = os.path.abspath(root) + "/"
    path = F.col("_metadata.file_path")
    # strip the URI scheme first ("file:/abs", "file:///abs" ->
    # "/abs"), then ANCHOR the root match with startswith semantics:
    # an interior substring hit (root /data/t vs an external file
    # /backup/data/t/...) must NOT be mis-keyed by its suffix — that
    # row would dodge its tombstones or mis-key sidecar pairs
    stripped = F.regexp_replace(path, r"^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
    if allow_external:
        # outside-root files key by their scheme-stripped absolute
        # path — exactly how a shallow clone's manifest names them
        fallback = stripped
    else:
        fallback = F.raise_error(
            F.concat(
                F.lit(f"manifest keying: path outside root {marker!r}: "),
                path,
            )
        ).cast("string")
    return F.when(
        stripped.startswith(F.lit(marker)),
        stripped.substr(F.lit(len(marker) + 1), F.length(stripped)),
    ).otherwise(fallback)


def _paths(root: str, rel_files: list[str]) -> list[str]:
    return [os.path.join(root, f) for f in rel_files]


def read_dv(
    spark: SparkSession,
    root: str,
    manifest: dict,
    rel_files: list[str] | None = None,
) -> DataFrame | None:
    """The ``(FILE_COL, POS_COL)`` tombstone pairs relevant to
    ``rel_files`` (default: all files), or None when none exist. A
    sidecar can cover many files and keeps pairs for since-rewritten
    ones until vacuum, so the rows are semi-filtered to exactly the
    requested files (file-count-sized broadcast) — which also makes
    the manifest's per-file ``rows`` counts an EXACT size estimate
    for the broadcast decision."""
    m = dv_map(manifest)
    files = [
        f
        for f in (rel_files if rel_files is not None else manifest["files"])
        if f in m
    ]
    sidecars = sorted({s for f in files for s in m[f]["sidecars"]})
    if not sidecars:
        return None
    dv = spark.read.parquet(*_paths(root, sidecars)).select(FILE_COL, POS_COL)
    from trial_submission_studio_spark.sources.local import values_df

    # literal VALUES relation: a list createDataFrame schedules one
    # Python-worker task per slice on EVERY downstream action
    mine = values_df(spark, [(f,) for f in files], f"{FILE_COL} string")
    dv = dv.join(F.broadcast(mine), FILE_COL, "left_semi")
    if dv_rows(manifest, files) <= _BROADCAST_DV_ROWS:
        dv = F.broadcast(dv)
    return dv


def read_with_dv(
    spark: SparkSession,
    root: str,
    manifest: dict,
    rel_files: list[str] | None = None,
    *,
    with_lineage: bool = False,
) -> DataFrame:
    """Live rows of ``rel_files`` (default: the whole snapshot) with
    the manifest's deletion vectors applied, presented under the
    table's LOGICAL schema (`io/table_schema.py` column mapping;
    identity for unmapped tables). Files WITHOUT a DV entry are
    scanned plain; files WITH one pay the anti-join. With
    ``with_lineage`` the result keeps ``FILE_COL`` (root-relative
    source path) and ``POS_COL`` (row ordinal within the file) — the
    physical address a later ``delete_matching_dv`` tombstones."""
    from .table_schema import column_mapping, to_logical

    files = list(rel_files if rel_files is not None else manifest["files"])
    if not files:
        raise ValueError("read_with_dv: empty file list")
    m = dv_map(manifest)
    dv_files = [f for f in files if f in m]
    plain = [f for f in files if f not in m]
    external = any(os.path.isabs(f) for f in files)
    cm = column_mapping(manifest)

    def _read(rel: list[str]) -> DataFrame:
        df = spark.read.parquet(*_paths(root, rel))
        if cm and any(ph not in df.columns for ph in cm.values()):
            # inference sampled a file predating an added column:
            # merge footers so its values don't silently null out
            df = spark.read.option("mergeSchema", "true").parquet(
                *_paths(root, rel)
            )
        return df

    def _lineage(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            rel_path_col(root, allow_external=external).alias(FILE_COL),
            F.col("_metadata.row_index").alias(POS_COL),
        )

    keep = (FILE_COL, POS_COL) if with_lineage else ()
    parts: list[DataFrame] = []
    if plain:
        df = _read(plain)
        df = _lineage(df) if with_lineage else df
        parts.append(to_logical(df, manifest, keep=keep))
    if dv_files:
        df = _lineage(_read(dv_files))
        dv = read_dv(spark, root, manifest, dv_files)
        df = df.join(dv, [FILE_COL, POS_COL], "left_anti")
        if not with_lineage:
            df = df.drop(FILE_COL, POS_COL)
        parts.append(to_logical(df, manifest, keep=keep))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _tombstone(
    root: str, doomed: DataFrame, per_file: dict, old: dict
) -> dict:
    """Write the doomed ``(FILE_COL, POS_COL)`` pairs to one O(k)
    sidecar run under ``root/dv`` (vacuum walks it) and return the
    merged dv-map entries for the affected files."""
    n = sum(per_file.values())
    run_dir = os.path.join(root, _DV_DIR, versioned._fresh_run_id())
    os.makedirs(run_dir, exist_ok=False)
    doomed.repartition(max(1, math.ceil(n / 5_000_000))).write.mode(
        "overwrite"
    ).parquet(run_dir)
    sidecars = [
        os.path.relpath(p, root) for p in versioned.data_files(run_dir)
    ]
    out: dict = {}
    for f, k in per_file.items():
        e = {"sidecars": list(old.get(f, {}).get("sidecars", ())),
             "rows": old.get(f, {}).get("rows", 0)}
        e["sidecars"] += sidecars
        e["rows"] += k
        out[f] = e
    return out


def delete_where(
    spark: SparkSession,
    root: str,
    predicate: list[tuple],
    *,
    version: int | None = None,
    verify: bool = True,
    metadata: dict | None = None,
) -> dict:
    """Predicate delete (``DELETE WHERE``) with METADATA-FIRST
    planning — the retention/TTL operation at 100 TB scale
    ("drop everything older than the cutoff"):

    1. the zone maps three-way split the file list
       (`zonemap.split_files_for_delete`): files whose stats PROVE
       every row matches are DROPPED from the manifest wholesale —
       zero bytes read for what is usually the vast bulk of a
       retention delete on a time-clustered table;
    2. boundary files that might hold matches get a row-level pass
       (live rows only) and O(k) tombstones
       (`delete_matching_dv`'s machinery);
    3. provably-unaffected files are never opened.

    ``predicate`` uses the `io/zonemap.py` conjunct shape, e.g.
    ``[("ts", "<", cutoff)]``. Without stats everything lands in the
    scan slice (correct, just not metadata-cheap). One keyed commit
    through the multi-writer loop carries both effects; deleting
    every row is refused (retire the table explicitly instead).
    Returns the new manifest; ``metadata.merge`` records
    ``files_dropped`` / ``rows_dropped`` / ``rows_tombstoned`` /
    ``files_untouched``."""
    from .zonemap import predicate_to_column, split_files_for_delete

    m = versioned.read_manifest(root, version)
    bad = [f for f in m["files"] if not f.endswith(".parquet")]
    if bad:
        raise ValueError(
            f"deletion vectors require an all-parquet snapshot; found {bad[:3]}"
        )
    split = split_files_for_delete(m, predicate)
    drop, scan = split["drop"], split["scan"]

    old = dv_map(m)
    dv_updates: dict = {}
    n_tomb = 0
    if scan:
        doomed = (
            read_with_dv(spark, root, m, scan, with_lineage=True)
            .filter(predicate_to_column(predicate))
            .select(FILE_COL, POS_COL)
        )
        per_file = {
            r[FILE_COL]: r["n"]
            for r in doomed.groupBy(FILE_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_tomb = sum(per_file.values())
        if n_tomb:
            dv_updates = _tombstone(root, doomed, per_file, old)

    if not drop and not n_tomb:
        return m  # nothing matched: no empty commit

    if verify and n_tomb:
        affected = sorted(dv_updates)
        cand = dict(m, dv={**old, **dv_updates})
        before = read_with_dv(spark, root, m, affected).count()
        after = read_with_dv(spark, root, cand, affected).count()
        if after != before - n_tomb:
            raise RuntimeError(
                f"delete_where mismatch: {before} live before, "
                f"{n_tomb} tombstoned, but {after} live after"
            )

    stats = m.get("stats") or {}
    merge_meta = {
        "op": "delete_where",
        "files_dropped": len(drop),
        # LIVE rows removed by this commit: the zone-map num_rows
        # counts physically present rows, so already-tombstoned ones
        # must be subtracted or a table with prior dv deletes
        # overstates the drop. Files dropped purely by partition
        # pseudo-stats have NO recorded row count (the path doesn't
        # know it) — rows_dropped_exact flags the audit as a lower
        # bound rather than silently under-reporting as a fact.
        "rows_dropped": sum(
            max(
                0,
                ((stats.get(f) or {}).get("num_rows") or 0)
                - old.get(f, {}).get("rows", 0),
            )
            for f in drop
        ),
        "rows_dropped_exact": all(
            (stats.get(f) or {}).get("num_rows") is not None
            for f in drop
        ),
        "files_scanned": len(scan),
        "rows_tombstoned": n_tomb,
        "files_untouched": len(split["keep"]),
        "base_version": m["version"],
    }
    bspec = m["metadata"].get("bucket_spec")
    try:
        return versioned.commit_files(
            root,
            base_version=m["version"],
            kind="keyed",
            remove_files=drop,
            dv_updates=dv_updates,
            metadata={"merge": merge_meta, **(metadata or {}),
                      **({"bucket_spec": bspec} if bspec else {})},
        )
    except ValueError as e:
        if "empty file list" in str(e):
            raise ValueError(
                "delete_where would empty the table; refusing — retire "
                "the table explicitly instead"
            ) from e
        raise


def delete_matching_dv(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key_cols: str | list[str],
    *,
    version: int | None = None,
    broadcast_keys: bool | str = "auto",
    verify: bool = True,
    metadata: dict | None = None,
) -> dict:
    """Delete every row whose key appears in ``keys`` by WRITING
    TOMBSTONES, not rewriting files: the new version keeps the base's
    data-file list verbatim and adds O(deleted rows) of sidecar bytes
    — the merge-on-read dual of `io/merge.py:delete_matching`
    (identical read-back semantics, pinned by the model test).

    Planning reuses the copy-on-write machinery: bucket-spec'd
    snapshots prune the probe to the buckets the keys hash to, and
    the probe itself reads key columns + footer lineage only. Rows
    already tombstoned are excluded by construction (the probe scans
    LIVE rows), so repeated deletes never double-list a position.

    Returns the new manifest; ``metadata.merge`` records
    ``op="delete_dv"``, ``rows_deleted``, ``files_affected`` and the
    cumulative ``dv_rows_total``. Deleting zero live rows publishes
    nothing and returns the current manifest unchanged."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    m = versioned.read_manifest(root, version)
    bad = [f for f in m["files"] if not f.endswith(".parquet")]
    if bad:
        raise ValueError(
            f"deletion vectors require an all-parquet snapshot; found {bad[:3]}"
        )

    from .table_schema import align_column_types, logical_struct

    probe_schema = logical_struct(
        spark.read.parquet(*_paths(root, m["files"][:1])).schema, m
    )
    keys = align_column_types(
        keys, probe_schema, cols=key_cols, context="delete_matching_dv"
    )
    dkeys = keys.select(*key_cols).distinct()
    if broadcast_keys == "auto":
        probe = 1_000_000
        broadcast_keys = dkeys.limit(probe + 1).count() <= probe
    dk = F.broadcast(dkeys) if broadcast_keys else dkeys

    # bucket-pruned probe, exactly as in delete_matching
    probe_rel = m["files"]
    buckets_probed = None
    bspec = m["metadata"].get("bucket_spec")
    if bspec and bspec["key_cols"] == key_cols:
        from .bucketed_table import bucket_files, probe_bucket_ids

        probed = probe_bucket_ids(dkeys, bspec)
        buckets_probed = len(probed)
        probe_rel = bucket_files(m, probed)

    if not probe_rel:
        return m
    doomed = (
        read_with_dv(spark, root, m, probe_rel, with_lineage=True)
        .select(*key_cols, FILE_COL, POS_COL)
        .join(dk, key_cols, "left_semi")
        .select(FILE_COL, POS_COL)
    )
    # per-file tombstone counts: bounded by the snapshot's file count
    per_file = {
        r[FILE_COL]: r["n"]
        for r in doomed.groupBy(FILE_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_doomed = sum(per_file.values())
    if n_doomed == 0:
        return m

    old = dv_map(m)
    dv_updates = _tombstone(root, doomed, per_file, old)

    stats = {
        "op": "delete_dv",
        "rows_deleted": n_doomed,
        "files_affected": len(per_file),
        "files_kept": len(m["files"]),
        "files_rewritten": 0,
        "dv_rows_total": sum(e["rows"] for e in old.values()) + n_doomed,
        "base_version": m["version"],
    }
    if buckets_probed is not None:
        stats["buckets_probed"] = buckets_probed

    if verify:
        # verify BEFORE publishing (a failed invariant must never
        # leave a bad version live): re-read the affected slice under
        # a CANDIDATE manifest carrying the merged dv map
        affected = sorted(per_file)
        cand = dict(m, dv={**old, **dv_updates})
        n_live_before = read_with_dv(spark, root, m, affected).count()
        n_live_after = read_with_dv(spark, root, cand, affected).count()
        if n_live_after != n_live_before - n_doomed:
            raise RuntimeError(
                f"dv delete mismatch: {n_live_before} live before, "
                f"{n_doomed} tombstoned, but {n_live_after} live after"
            )
    # key-dependent commit through the multi-writer loop: conflicts
    # loudly if a concurrent commit rewrote or re-tombstoned the
    # files these positions address (positions are file-bound)
    return versioned.commit_files(
        root,
        base_version=m["version"],
        kind="keyed",
        dv_updates=dv_updates,
        metadata={"merge": stats, **(metadata or {}),
                  **({"bucket_spec": bspec} if bspec else {})},
    )
