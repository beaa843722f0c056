"""Branch publish-back for shallow clones — the WAP
(write-audit-publish) merge that completes the branching story of
`io/versioned.py:shallow_clone`.

The workflow this enables (Iceberg's branch + fast-forward, Delta's
clone-then-merge): fork a zero-copy dev branch of a production table,
run the risky operation there (a backfill, a new dedup pass, a
retention delete), audit the branch (CHECK constraints, row counts,
stage gates), then land the WHOLE branch on the
source as ONE atomic commit — or walk away and the source never saw
a thing.

How the delta is computed — entirely from the two manifests plus the
clone's O(k) tombstone state, never from data diffing:

- the clone's first manifest records the fork (``shallow_clone_of``:
  source root + version); every source file the branch still
  references is an ABSOLUTE entry equal to a fork entry, so
  * fork entries missing from the clone = files the branch rewrote
    or dropped -> ``remove_files`` on the source;
  * clone-RELATIVE entries = files the branch wrote -> hard-linked
    (copy fallback) into a fresh source run dir, preserving any
    bucket-dir suffix so `io/bucketed_table.py` layouts survive,
    then ``add_files``. Hard links make the publish itself
    zero-copy on one filesystem — the bytes already exist.
- deletion vectors: clone dv entries that CHANGED since the fork
  (compared against the clone's v1 re-keyed baseline) are re-keyed
  BACK — absolute clone keys to source-relative keys, clone-local
  keys to their linked paths — into one fresh source sidecar; the
  per-file rows counts carry verbatim. Unchanged entries need
  nothing: the source's own carried dv state is the same content.

The landing goes through `versioned.commit_files` from
``base_version = fork version``: a branch that only APPENDED commits
as ``kind="append"`` (rebases over anything the source did since the
fork), while a branch that rewrote/tombstoned commits as
``kind="keyed"`` — any non-maintenance source commit since the fork
then refuses with the typed :class:`versioned.TableConflictError`,
exactly the WriteSerializable rule the rest of the format enforces.
CHECK constraints re-validate the added files at the commit choke
point, and a successful publish deregisters the clone's vacuum pin
(`versioned.deregister_clone`).

Scale shape: metadata + O(changed files) link calls + O(tombstone
rows) sidecar bytes. No corpus-sized read anywhere — publishing a
100-file branch of a 100 TB table is a metadata operation.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, functions as F

from trial_submission_studio_spark.sources.local import values_df as _values_df

from . import versioned
from .deletion_vectors import FILE_COL, POS_COL

__all__ = ["clone_delta", "publish_clone"]


def _fork_info(clone_root: str) -> tuple[dict, dict]:
    """(fork-commit manifest, shallow_clone_of metadata) from the
    clone's earliest surviving manifest — its v1 by construction."""
    vs = versioned.list_versions(clone_root)
    if not vs:
        raise FileNotFoundError(f"no published version under {clone_root}")
    v1m = versioned.read_manifest(clone_root, vs[0])
    info = v1m["metadata"].get("shallow_clone_of")
    if not info:
        raise ValueError(
            f"{clone_root} is not a shallow clone (or its fork commit "
            "was retired); publish_clone needs the clone's first "
            "manifest to locate the fork"
        )
    return v1m, info


def clone_delta(clone_root: str) -> dict:
    """The branch's net change since its fork, from manifests alone:
    ``{"src_root", "fork_version", "added" (clone-rel), "removed"
    (src entries), "dv_changed" (clone keys), "foreign" (abs refs
    outside the fork — chained-clone leftovers that block a
    publish)}``. The audit half of write-audit-publish."""
    cm = versioned.read_manifest(clone_root)
    v1m, info = _fork_info(clone_root)
    src_root, fork_v = info["root"], info["version"]
    fork = versioned.read_manifest(src_root, fork_v)
    fork_abs = {
        os.path.abspath(os.path.join(src_root, f)): f for f in fork["files"]
    }
    clone_files = set(cm["files"])
    added, foreign = [], []
    for f in cm["files"]:
        if os.path.isabs(f):
            if f not in fork_abs:
                foreign.append(f)
        else:
            added.append(f)
    removed = [
        fork_abs[a] for a in sorted(fork_abs) if a not in clone_files
    ]
    cm_dv = cm.get("dv") or {}
    v1_dv = v1m.get("dv") or {}
    dv_changed = sorted(
        f for f in cm_dv if cm_dv[f] != v1_dv.get(f)
    )
    return {
        "src_root": src_root,
        "fork_version": fork_v,
        "clone_version": cm["version"],
        "added": sorted(added),
        "removed": removed,
        "dv_changed": dv_changed,
        "foreign": sorted(foreign),
    }


def _link_into(src_path: str, dst_path: str) -> None:
    os.makedirs(os.path.dirname(dst_path), exist_ok=True)
    try:
        os.link(src_path, dst_path)
    except OSError:
        shutil.copy2(src_path, dst_path)  # cross-device fallback


def _migrate_files(
    clone_root: str, src_root: str, rel_files: list[str]
) -> tuple[dict[str, str], list[str]]:
    """Hard-link the clone's local data files into fresh immutable
    run dirs under the source (one fresh run per clone run, the
    path suffix after ``data/<run>/`` preserved so bucket dirs —
    ``__kb=N`` — and file names survive verbatim). Returns (clone
    rel -> source rel mapping, created run dirs for failure
    cleanup)."""
    runs: dict[tuple[str, str], str] = {}
    created: list[str] = []
    mapping: dict[str, str] = {}
    for f in rel_files:
        parts = f.split("/", 2)
        if len(parts) < 3:
            raise ValueError(
                f"unexpected clone-local file layout: {f!r} (want "
                "<namespace>/<run>/...)"
            )
        ns, run, rest = parts
        key = (ns, run)
        if key not in runs:
            rd = os.path.join(src_root, ns, versioned._fresh_run_id())
            os.makedirs(rd, exist_ok=False)
            runs[key] = rd
            created.append(rd)
        dst = os.path.join(runs[key], rest)
        _link_into(os.path.join(clone_root, f), dst)
        mapping[f] = os.path.relpath(dst, src_root)
    return mapping, created


def publish_clone(
    spark: SparkSession,
    clone_root: str,
    *,
    metadata: dict | None = None,
) -> dict:
    """Land the clone's net changes since its fork on the SOURCE as
    one atomic commit (see module docstring for the full semantics).
    Returns the source's new manifest (or its current one when the
    branch made no changes). On success the clone's vacuum pin is
    released — retire or discard the clone afterwards; it must not
    keep operating as a branch of the pre-publish world."""
    delta = clone_delta(clone_root)
    if delta["foreign"]:
        raise ValueError(
            "clone references files outside its fork snapshot "
            f"(chained clone?): {delta['foreign'][:3]} — "
            "compact_version the clone first to localize them"
        )
    src_root, fork_v = delta["src_root"], delta["fork_version"]
    cm = versioned.read_manifest(clone_root)
    fork = versioned.read_manifest(src_root, fork_v)
    fork_abs = {
        os.path.abspath(os.path.join(src_root, f)): f for f in fork["files"]
    }

    # contract deltas (rename/drop, schema evolution, constraint
    # edits) are real branch work too — a metadata-only branch must
    # LAND them, not silently vanish into a "no changes" return
    schema_changed = (cm.get("schema") or []) != (fork.get("schema") or [])
    mapping_changed = (cm.get("column_mapping") or {}) != (
        fork.get("column_mapping") or {}
    )
    constraints_changed = (cm.get("constraints") or {}) != (
        fork.get("constraints") or {}
    )
    if (
        not delta["added"]
        and not delta["removed"]
        and not delta["dv_changed"]
        and not (schema_changed or mapping_changed or constraints_changed)
    ):
        versioned.deregister_clone(src_root, clone_root)
        return versioned.read_manifest(src_root)

    mapping, created = _migrate_files(clone_root, src_root, delta["added"])
    try:
        # --- deletion vectors: re-key POST-FORK tombstones back to
        # source keys, APPENDING to the source's fork-era sidecars
        # rather than replacing them — sidecar lists are append-only
        # per file until a rewrite folds them, and the change feed's
        # dv delta depends on that: a wholesale
        # sidecar swap would read as a rollback-resurrection plus a
        # re-delete of every long-dead row.
        v1m, _info = _fork_info(clone_root)
        v1_dv = v1m.get("dv") or {}
        cm_dv = cm.get("dv") or {}
        fork_dv = fork.get("dv") or {}
        dv_updates: dict = {}
        if delta["dv_changed"]:
            def _src_key(f: str) -> str:
                return fork_abs[f] if os.path.isabs(f) else mapping[f]

            fresh_pairs = []  # (clone file key, post-fork sidecar)
            for f in delta["dv_changed"]:
                base = set(v1_dv.get(f, {}).get("sidecars", ()))
                for sc in cm_dv[f]["sidecars"]:
                    if sc not in base:
                        fresh_pairs.append((f, sc))
            sidecar_rel = sorted({sc for _, sc in fresh_pairs})
            new_sidecars: list[str] = []
            if sidecar_rel:
                from .deletion_vectors import rel_path_col

                raw = (
                    spark.read.parquet(
                        *[os.path.join(clone_root, sc)
                          for sc in sidecar_rel]
                    )
                    .select(
                        FILE_COL,
                        POS_COL,
                        rel_path_col(clone_root).alias("__sc"),
                    )
                    .join(
                        F.broadcast(
                            _values_df(
                                spark,
                                fresh_pairs,
                                f"{FILE_COL} string, __sc string",
                            )
                        ),
                        [FILE_COL, "__sc"],
                        "left_semi",
                    )
                )
                trans = _values_df(
                    spark,
                    [(f, _src_key(f)) for f in delta["dv_changed"]],
                    f"{FILE_COL} string, __src string",
                )
                rekeyed = raw.join(F.broadcast(trans), FILE_COL).select(
                    F.col("__src").alias(FILE_COL), POS_COL
                )
                run_dir = os.path.join(
                    src_root, "dv", versioned._fresh_run_id()
                )
                os.makedirs(run_dir, exist_ok=False)
                created.append(run_dir)
                rekeyed.repartition(1).write.mode("overwrite").parquet(
                    run_dir
                )
                new_sidecars = [
                    os.path.relpath(p, src_root)
                    for p in versioned.data_files(run_dir)
                ]
            for f in delta["dv_changed"]:
                carried = (
                    list(
                        fork_dv.get(fork_abs[f], {}).get("sidecars", ())
                    )
                    if os.path.isabs(f)
                    else []
                )
                dv_updates[_src_key(f)] = {
                    "sidecars": carried + new_sidecars,
                    "rows": cm_dv[f]["rows"],
                }

        add_files = [mapping[f] for f in delta["added"]]
        cm_stats = cm.get("stats") or {}
        add_stats = {
            mapping[f]: cm_stats[f] for f in delta["added"] if f in cm_stats
        }
        schema = cm.get("schema") if schema_changed else None
        # the branch renamed/dropped columns or edited constraints:
        # land the new contracts (conflicts typed if the source also
        # changed them concurrently)
        mapping_arg: dict | str = (
            (cm.get("column_mapping") or {}) if mapping_changed
            else "carry"
        )
        constraints_arg: dict | str = (
            (cm.get("constraints") or {}) if constraints_changed
            else "carry"
        )
        # a branch that only appended read nothing — it rebases over
        # anything; rewrites/tombstones are key-dependent; a pure
        # contract change is row-preserving maintenance
        if delta["removed"] or dv_updates:
            kind = "keyed"
        elif delta["added"]:
            kind = "append"
        else:
            kind = "maintenance"
        meta = {
            "publish_clone": {
                "clone_root": os.path.abspath(clone_root),
                "clone_version": delta["clone_version"],
                "fork_version": fork_v,
                "files_added": len(add_files),
                "files_removed": len(delta["removed"]),
                "dv_files_changed": len(delta["dv_changed"]),
            },
            **(metadata or {}),
        }
        bspec = cm["metadata"].get("bucket_spec")
        if bspec:
            meta["bucket_spec"] = bspec
        out = versioned.commit_files(
            src_root,
            base_version=fork_v,
            kind=kind,
            add_files=add_files,
            remove_files=delta["removed"],
            dv_updates=dv_updates or None,
            add_stats=add_stats or None,
            schema=schema,
            column_mapping=mapping_arg,
            constraints=constraints_arg,
            metadata=meta,
            spark=spark,
        )
    except BaseException:
        # the linked run dirs are unreferenced by any manifest;
        # remove them now rather than leaving them to age out
        for rd in created:
            shutil.rmtree(rd, ignore_errors=True)
        raise
    versioned.deregister_clone(src_root, clone_root)
    return out
