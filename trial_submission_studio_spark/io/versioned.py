"""Versioned corpus snapshots: atomic publish, time travel, rollback,
vacuum — the transactional-table-format core (the idea behind
Iceberg/Delta), stdlib-only.

Why this exists at 100 TB: ``mode("overwrite")`` on a live corpus
directory is a torn-write hazard — a reader that lists files while a
multi-hour job is replacing thousands of them sees half a corpus, and
a failed job leaves no good state to go back to. The fix is the
standard one: **data files are immutable and write-once; commits are
a single atomic manifest swap.**

Layout::

    root/
      data/<run-id>/part-*.parquet   immutable; each writer uses a
                                     fresh run-id, never overwrites
      dv/<run-id>/part-*.parquet     deletion-vector sidecars
                                     (io/deletion_vectors.py): O(k)
                                     tombstone pairs per delete commit
      _versions/v00000001.json       manifest: explicit file list +
                                     stats/schema/dv contracts +
                                     counts + user metadata
      _versions/CURRENT              pointer file -> version number
                                     (hint only; newest manifest wins)

Protocol:

- :func:`publish_version` writes the manifest to a temp name and
  ``os.link``\\ s it into place — hard-link creation is atomic AND
  exclusive, so of two writers racing for the same version number
  exactly one wins and the other gets ``FileExistsError`` (the
  POSIX equivalent of an object store's conditional PUT). The
  ``CURRENT`` pointer is a rename-swapped hint; the source of truth
  for "current" is the newest manifest, which is monotone under
  races by construction.
- :func:`commit_files` is the MULTI-WRITER protocol on top (the
  Delta commit-loop shape): a writer states its base version, its
  file delta, and its commit KIND; on discovering intervening
  commits it auto-rebases when provably safe (appends over anything;
  row-preserving maintenance when its inputs survived; key-dependent
  writes over maintenance only) and raises a typed
  :class:`TableConflictError` otherwise — the loser never corrupts,
  and no longer just dies on safe races.
- :func:`read_version` hands Spark the manifest's EXPLICIT file list
  — never a directory listing. Besides time travel, this kills the
  eventually-consistent-listing class of bugs and lets a 100k-file
  corpus skip the recursive list entirely.
- :func:`rollback` publishes a NEW version whose file list is an old
  version's (history stays append-only — an audit can always see
  that a rollback happened, same as Delta's RESTORE).
- :func:`vacuum` deletes data files no surviving manifest references
  (run after retiring old versions with ``keep_latest``).

Writers put shards into a fresh ``data/<run-id>`` dir
(:func:`new_data_dir`), then publish. Pairs with the incremental-dedup
ingest (each accepted batch = one new version; replaying a batch
re-publishes the same file list, which is idempotent by content).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_VERSIONS = "_versions"
_CURRENT = "CURRENT"
_CLONES = "_clones"


class ClonePinnedError(RuntimeError):
    """A vacuum would delete files a live registered shallow clone
    still references (`shallow_clone` registers a back-pointer under
    the source's ``_clones/``). Carries the offending clone roots;
    the recovery is to publish or retire+deregister the clones (or
    pass ``ignore_clones=True`` to knowingly break them)."""

    def __init__(self, clones: list[str], files: list[str]):
        self.clones = sorted(clones)
        self.files = sorted(files)
        super().__init__(
            "vacuum would delete files still referenced by live "
            f"shallow clones {self.clones} (e.g. {self.files[:3]}); "
            "publish or deregister the clones first, or pass "
            "ignore_clones=True to break them knowingly"
        )


class ConstraintViolationError(ValueError):
    """A commit tried to add rows violating the table's CHECK
    constraints (`set_table_constraints`). Carries per-constraint
    violation counts; nothing was published."""

    def __init__(self, counts: dict):
        self.counts = dict(counts)
        super().__init__(
            "constraint violations in the rows being committed: "
            + ", ".join(f"{k}: {v}" for k, v in sorted(counts.items()))
        )


class TableConflictError(RuntimeError):
    """A concurrent commit made this write unsafe to rebase: the
    files it read/rewrote were themselves rewritten, tombstoned, or
    (for key-dependent writes) potentially-matching rows were added.
    Carries the reason and the contested files; the recovery is to
    re-plan against the new current version and retry the operation
    (never to force-publish — that would lose the other commit)."""

    def __init__(self, reason: str, files: list[str] | None = None):
        self.reason = reason
        self.files = sorted(files or [])
        detail = f" (contested: {self.files[:3]})" if self.files else ""
        super().__init__(f"{reason}{detail}")


def _versions_dir(root: str) -> str:
    return os.path.join(root, _VERSIONS)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_versions_dir(root), f"v{version:08d}.json")


def _atomic_write(path: str, payload: str) -> None:
    """Write-then-rename: readers see the whole file or nothing."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(payload)
        os.rename(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _atomic_create(path: str, payload: str) -> None:
    """Write-then-LINK: atomic like rename, but EXCLUSIVE — raises
    ``FileExistsError`` if ``path`` exists, where rename would
    silently replace it. Two writers racing for the same version
    number therefore cannot clobber each other's manifest; the loser
    sees the error and re-enters the commit loop.

    Filesystem requirements, stated plainly: exclusivity rides on
    POSIX ``link(2)`` semantics, so the versions directory must live
    on a local POSIX filesystem (or one with true atomic-exclusive
    link). Object stores need their conditional-PUT equivalent
    instead. On NFS, a retransmitted ``link`` can report ``EEXIST``
    for the caller's OWN successful link — that self-race is absorbed
    here by comparing the existing manifest's content to the payload:
    identical content means this writer (or an idempotent twin) won,
    so the create is treated as a success rather than a lost race."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(payload)
        try:
            os.link(tmp, path)  # fails if path exists: exclusive create
        except FileExistsError:
            try:
                with open(path, encoding="utf-8") as f:
                    existing = f.read()
            except OSError:
                raise FileExistsError(path) from None
            if existing != payload:
                raise
            # NFS retransmit self-race (or idempotent twin): our
            # exact payload is already in place — success
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


#: Manifests at or above this many files are stored SEGMENTED: the
#: per-file entries (path + zone-map stats + dv ref) move into
#: immutable content-addressed segment files under
#: ``_versions/segments/``, and the manifest itself holds only the
#: segment id list — the Iceberg manifest-list shape. An append then
#: writes ONE new segment (O(delta) metadata bytes) and reuses every
#: untouched segment by reference; a delete_where rewrites only the
#: segments holding dropped entries. Below the threshold the plain
#: inline-JSON wire format is kept (small tables stay single-file,
#: human-inspectable, and every existing tool keeps working).
SEGMENT_MIN_FILES = 256

#: Entries per freshly-written segment. ~1k entries ≈ a few hundred
#: KB of JSON: big enough that a 10^6-file table is ~10^3 segments
#: (driver-side listing stays trivial), small enough that a partial
#: rewrite (delete_where touching one region) stays cheap.
SEGMENT_TARGET_ENTRIES = 1024

_SEGMENTS_SUBDIR = "segments"


def _segments_dir(root: str) -> str:
    return os.path.join(_versions_dir(root), _SEGMENTS_SUBDIR)


def _segment_path(root: str, sid: str) -> str:
    return os.path.join(_segments_dir(root), sid + ".json")


#: Process-level cache of segment payloads — segments are immutable
#: and content-addressed, so a cache hit is always valid; bounded so
#: a long-lived driver touching many tables can't grow unboundedly.
_SEG_CACHE: dict = {}
_SEG_CACHE_MAX = 256


def _load_segment(root: str, sid: str) -> list[dict]:
    key = (os.path.abspath(root), sid)
    hit = _SEG_CACHE.get(key)
    if hit is not None:
        return hit
    with open(_segment_path(root, sid), encoding="utf-8") as f:
        entries = json.load(f)["entries"]
    while len(_SEG_CACHE) >= _SEG_CACHE_MAX:
        _SEG_CACHE.pop(next(iter(_SEG_CACHE)))
    _SEG_CACHE[key] = entries
    return entries


def _write_segment(root: str, entries: list[dict]) -> str:
    """Write one immutable segment, named by its content hash — two
    writers (or a commit-loop retry) producing the same entries land
    on the same file, which `_atomic_create` absorbs as idempotent."""
    import hashlib

    payload = json.dumps(
        {"entries": entries}, sort_keys=True, separators=(",", ":")
    )
    sid = "seg-" + hashlib.sha256(payload.encode()).hexdigest()[:32]
    os.makedirs(_segments_dir(root), exist_ok=True)
    path = _segment_path(root, sid)
    if os.path.exists(path):
        # content-addressed reuse can RESURRECT an orphaned segment
        # (same entries re-published after its manifests were retired)
        # — refresh its mtime or a concurrently-running vacuum, which
        # computed liveness before this commit's manifest links, would
        # GC it past the age guard and brick the new version
        try:
            os.utime(path, None)
        except OSError:
            pass
    else:
        _atomic_create(path, payload)
    return sid


def _jcopy(v):
    """Deep copy of a parsed-JSON value (dicts/lists/scalars only) —
    cheaper than copy.deepcopy for this shape and sufficient because
    segment payloads come straight from json.load."""
    if isinstance(v, dict):
        return {k: _jcopy(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jcopy(x) for x in v]
    return v


def _resolve_manifest(root: str, raw: dict) -> dict:
    """Materialize a segmented manifest to the classic in-memory shape
    (``files`` / ``stats`` / ``dv`` inline) every consumer speaks; the
    ``segments`` key stays on the dict so re-publishers can reuse
    unchanged segments. Stats/dv values are DEEP-COPIED out of the
    segment cache: a caller mutating its resolved manifest (pre-r15
    behavior — every read was a fresh JSON parse) must not poison the
    process-wide cache or skew `_maybe_segment`'s entry-equality
    reuse check."""
    m = dict(raw)
    files: list[str] = []
    stats: dict = {}
    dv: dict = {}
    for sid in raw["segments"]:
        for e in _load_segment(root, sid):
            f = e["file"]
            files.append(f)
            if "stats" in e:
                stats[f] = _jcopy(e["stats"])
            if "dv" in e:
                dv[f] = _jcopy(e["dv"])
    m["files"] = sorted(files)
    if stats:
        m["stats"] = stats
    if dv:
        m["dv"] = dv
    return m


def _segment_summary(entries: list[dict], pseudo: dict) -> dict:
    """Zone-map SUMMARY of one segment's member files — the same
    entry shape `zonemap._file_might_match` consumes, so a predicate
    can skip a whole metadata segment WITHOUT loading it (two-level
    pruning, the Iceberg manifest-list shape). Soundness rules: a
    column appears only when EVERY member file carries same-tagged
    stats for it (min/max = global bounds, nulls summed); num_rows
    only when every member records it; anything uncertain is simply
    omitted, which the matcher treats as "might match" — a summary
    can cost a segment load, never rows. ``pseudo`` is the
    path-derived partition pseudo-stats map (exact values), merged
    per file exactly like `zonemap._with_partition_stats` does."""
    n_rows = 0
    have_rows = True
    cols_agg: dict = {}
    first = True
    for e in entries:
        st = e.get("stats") or {}
        fcols = dict(st.get("columns") or {})
        ps = pseudo.get(e["file"])
        if ps:
            fcols.update(ps["columns"])
        nr = st.get("num_rows")
        if nr is None:
            have_rows = False
        else:
            n_rows += nr
        def _complete(s) -> bool:
            # caller-composed stats may omit fields the read path
            # tolerates; an incomplete entry can't summarize — omit
            # the column (matcher keeps) rather than crash the commit
            return isinstance(s, dict) and all(
                k in s for k in ("t", "min", "max", "nulls")
            )

        if first:
            cols_agg = {
                c: dict(s) for c, s in fcols.items() if _complete(s)
            }
            first = False
            continue
        for c in list(cols_agg):
            cur = cols_agg[c]
            if cur is None:
                continue
            s = fcols.get(c)
            if not _complete(s) or s["t"] != cur["t"]:
                cols_agg[c] = None
                continue
            try:
                if s["min"] < cur["min"]:
                    cur["min"] = s["min"]
                if s["max"] > cur["max"]:
                    cur["max"] = s["max"]
            except TypeError:
                cols_agg[c] = None
                continue
            cur["nulls"] += s["nulls"]
    out: dict = {"n_files": len(entries)}
    # lexicographic file-name range: entries are sorted chunks, so
    # membership of any path in this segment implies
    # file_min <= path <= file_max — what lets a commit prove a
    # segment UNTOUCHED by its delta without loading it
    out["file_min"] = entries[0]["file"]
    out["file_max"] = entries[-1]["file"]
    if have_rows:
        out["num_rows"] = n_rows
    cols = {c: s for c, s in cols_agg.items() if s is not None}
    if cols:
        out["columns"] = cols
    else:
        # explicit "no summarizable columns" marker: distinguishes a
        # genuinely column-less summary from a DEGRADED one (the
        # streaming sink writes file-range-only summaries), so the
        # upgrade pass recomputes the latter exactly once instead of
        # either never (pruning lost forever) or every commit
        out["nocols"] = True
    return out


def _maybe_segment(root: str, manifest: dict, delta: dict | None = None) -> dict:
    """The on-disk form of a manifest: unchanged below
    :data:`SEGMENT_MIN_FILES`; above it, per-file entries are packed
    into content-addressed segments, REUSING every predecessor
    segment whose entries all survive byte-identically (file kept,
    stats entry equal, dv entry equal) — so commit metadata is
    O(delta), not O(table). An append reuses all prior segments and
    writes one new one; a delete_where or dv update rewrites only the
    segments holding touched entries.

    ``delta`` (from `commit_files`, which knows its exact footprint:
    ``{"touched": set, "added": list}``) upgrades the reuse CHECK to
    O(delta) as well: a segment whose summary file-name range misses
    every touched path is provably untouched and reuses WITHOUT
    loading — a pure append re-reads zero prior metadata. A coverage
    accounting check (covered + residual == n_files) falls back to
    the full per-entry scan if the fast-path books don't balance, so
    a stale or missing summary can cost loads, never correctness.

    Honest boundary: `commit_files` still RESOLVES its base manifest
    once (carried stats/dv maps are materialized), an O(files) parse
    amortized by the immutable segment cache — the same shape as
    Delta reading its checkpoint or Iceberg planning over matching
    manifests. The O(delta) claims are about commit WRITES and the
    reuse check; selective READS get O(matching) via
    `zonemap.prune_manifest`'s summary skips."""
    files = manifest["files"]
    if len(files) < SEGMENT_MIN_FILES:
        return manifest
    stats = manifest.get("stats") or {}
    dv = manifest.get("dv") or {}
    fset = set(files)
    covered: set[str] = set()
    reused: list[str] = []
    prev_v = manifest["version"] - 1
    if prev_v >= 1:
        try:
            prev = _read_manifest_raw(root, prev_v)
        except FileNotFoundError:
            prev = {}
    else:
        prev = {}
    # path-derived partition pseudo-stats fold into the segment
    # summaries so two-level pruning skips whole partitions' worth of
    # segments without loading them (mirrors _with_partition_stats)
    md = manifest.get("metadata") or {}
    if md.get("partition_spec") or md.get("partition_spec_history"):
        from .partitioned_table import partition_pseudo_stats

        pseudo = partition_pseudo_stats(manifest)
    else:
        pseudo = {}
    prev_summaries = prev.get("segment_stats") or {}
    summaries: dict = {}

    def _entry(f: str) -> dict:
        e: dict = {"file": f}
        if f in stats:
            e["stats"] = stats[f]
        if f in dv:
            e["dv"] = dv[f]
        return e

    touched = delta["touched"] if delta is not None else None
    # sorted once so each segment's [file_min, file_max] overlap test
    # is a bisect (O(log touched)) instead of a full scan — a
    # delete_where touching 10^5 files on a 10^3-segment table would
    # otherwise do 10^8 driver-side comparisons before reusing anything
    touched_sorted = sorted(touched) if touched is not None else None

    def _range_hit(summ: dict) -> bool:
        import bisect

        i = bisect.bisect_left(touched_sorted, summ["file_min"])
        return (
            i < len(touched_sorted)
            and touched_sorted[i] <= summ["file_max"]
        )

    covered_n = 0
    residual_set: set[str] = set()
    for sid in prev.get("segments", ()):
        summ = prev_summaries.get(sid)
        if (
            touched is not None
            and summ
            and "file_min" in summ
            and "n_files" in summ  # consumed unguarded below
            # degraded summaries (the sink's file-range-only form) are
            # excluded from the zero-load path so the upgrade below
            # runs exactly once and restores segment-level pruning
            and ("columns" in summ or summ.get("nocols"))
            and not _range_hit(summ)
        ):
            # provably untouched by this commit's footprint: reuse
            # segment AND summary with zero loads
            reused.append(sid)
            summaries[sid] = summ
            covered_n += summ["n_files"]
            continue
        entries = _load_segment(root, sid)
        if all(
            e["file"] in fset
            and e.get("stats") == stats.get(e["file"])
            and e.get("dv") == dv.get(e["file"])
            for e in entries
        ):
            reused.append(sid)
            covered_n += len(entries)
            covered.update(e["file"] for e in entries)
            summ = prev_summaries.get(sid)
            if summ is None or "file_min" not in summ or (
                "columns" not in summ and not summ.get("nocols")
            ):
                # entries are in hand anyway: upgrade a degraded
                # summary (e.g. the sink's range-only one) so the
                # segment regains zero-load reuse and pruning skips
                summ = _segment_summary(entries, pseudo)
            summaries[sid] = summ
        else:
            residual_set.update(
                e["file"] for e in entries if e["file"] in fset
            )
    if touched is not None:
        residual_set.update(delta["added"])
        if covered_n + len(residual_set) != len(files):
            # the fast-path books don't balance (stale summary, an
            # out-of-contract delta): recompute with the full
            # per-entry scan — loads, never wrong bytes
            return _maybe_segment(root, manifest, delta=None)
        residual = sorted(residual_set)
    else:
        residual_set.update(f for f in files if f not in covered)
        residual = [f for f in files if f in residual_set]
    # fold undersized TAIL segments into this commit's fresh batch
    # (LSM-style): without it, 1-file appends accumulate 1-entry
    # segments and the manifest's ref list grows O(commits). With it,
    # the tail grows to half-target then seals, so segment count is
    # O(files/target) and per-commit bytes are bounded by ~half a
    # target segment — still O(delta), amortized.
    while reused:
        n_tail = (summaries.get(reused[-1]) or {}).get("n_files")
        if n_tail is None:
            n_tail = len(_load_segment(root, reused[-1]))
        if (
            n_tail >= SEGMENT_TARGET_ENTRIES // 2
            or n_tail + len(residual) > SEGMENT_TARGET_ENTRIES
        ):
            break
        tail = _load_segment(root, reused[-1])
        sid = reused.pop()
        summaries.pop(sid, None)
        # the tail's stats/dv entries are already in the manifest's
        # full maps (the reuse check proved them identical), so only
        # the file set moves
        residual = sorted(set(residual) | {e["file"] for e in tail})
    fresh: list[str] = []
    for i in range(0, len(residual), SEGMENT_TARGET_ENTRIES):
        entries = [
            _entry(f) for f in residual[i : i + SEGMENT_TARGET_ENTRIES]
        ]
        sid = _write_segment(root, entries)
        fresh.append(sid)
        summaries[sid] = _segment_summary(entries, pseudo)
    out = {
        k: v for k, v in manifest.items()
        if k not in ("files", "stats", "dv")
    }
    out["segments"] = reused + fresh
    out["segment_stats"] = {
        sid: summaries[sid] for sid in out["segments"]
    }
    # summary so history/audit walks stay metadata-only
    out["dv_rows"] = sum(e["rows"] for e in dv.values())
    return out


def _fresh_run_id() -> str:
    return uuid.uuid4().hex[:16]


def new_data_dir(root: str) -> str:
    """A fresh immutable data directory for one write run. Writers
    target this (e.g. ``df.write.parquet(new_data_dir(root))``) so
    no run ever overwrites another's files."""
    d = os.path.join(root, "data", _fresh_run_id())
    os.makedirs(d, exist_ok=False)
    return d


def data_files(run_dir: str) -> list[str]:
    """Absolute paths of the data files under one run directory
    (writer markers like ``_SUCCESS``/``.crc`` excluded)."""
    out = []
    for cur, _dirs, names in os.walk(run_dir):
        for n in names:
            if n.endswith((".parquet", ".jsonl", ".jsonl.gz", ".json.gz")) and not n.startswith("_"):
                out.append(os.path.join(cur, n))
    return sorted(out)




def list_versions(root: str) -> list[int]:
    vd = _versions_dir(root)
    if not os.path.isdir(vd):
        return []
    return sorted(
        int(n[1:-5])
        for n in os.listdir(vd)
        if n.startswith("v") and n.endswith(".json")
    )


def current_version(root: str) -> int | None:
    """The newest published version. Source of truth is the manifest
    list (monotone under concurrent writers — the ``CURRENT`` pointer
    file is a rename-swapped HINT that a pathological interleave
    could briefly leave one behind, so it is never read here)."""
    versions = list_versions(root)
    return versions[-1] if versions else None


def _read_manifest_raw(root: str, version: int) -> dict:
    """The manifest exactly as stored — segmented manifests keep
    their ``segments`` ref list unresolved. For metadata-only walks
    (commit times, commit kinds) this skips segment loading."""
    with open(_manifest_path(root, version), encoding="utf-8") as f:
        return json.load(f)


def read_manifest(root: str, version: int | None = None) -> dict:
    if version is None:
        version = current_version(root)
        if version is None:
            raise FileNotFoundError(f"no published version under {root}")
    raw = _read_manifest_raw(root, version)
    if "segments" in raw:
        return _resolve_manifest(root, raw)
    return raw


def publish_files(
    root: str,
    files: list[str],
    *,
    metadata: dict | None = None,
    stats: dict | None = None,
    schema: list | None = None,
    dv: dict | None = None,
    constraints: dict | None = None,
    column_mapping: dict | None = None,
    _expect_version: int | None = None,
    _delta: dict | None = None,
) -> dict:
    """Atomically publish a new version from an EXPLICIT root-relative
    file list (the primitive under :func:`publish_version`; used
    directly by callers that compose the list themselves).

    ``stats`` is an optional per-file column-statistics mapping
    (rel-path -> zone-map entry, from `io/zonemap.py`) stored in the
    manifest for data skipping; entries for files not in ``files``
    are dropped, missing entries are fine (those files are simply
    never skipped).

    ``dv`` is an optional deletion-vector map (rel-path ->
    ``{"sidecars": [...], "rows": n}``, from
    `io/deletion_vectors.py`). Unlike stats, an entry for a file not
    in ``files`` is REFUSED: dropping a tombstone silently would
    resurrect deleted rows — rewriting callers must filter the map
    to their kept files explicitly (:func:`commit_files` does this
    carry for every writer routed through it).

    Refuses duplicate entries and refuses to overwrite an existing
    manifest (two racing writers: second loses loudly, not
    silently). Commit atomicity requires the versions directory on a
    local POSIX filesystem (exclusive ``link(2)``) — see
    :func:`_atomic_create` for the NFS self-race absorption and the
    object-store (conditional PUT) note."""
    if not files:
        raise ValueError("refusing to publish an empty file list")
    if len(files) != len(set(files)):
        from collections import Counter

        dupes = [f for f, c in Counter(files).items() if c > 1]
        raise ValueError(f"duplicate files in version: {sorted(dupes)[:3]}")
    os.makedirs(_versions_dir(root), exist_ok=True)
    version = (max(list_versions(root), default=0)) + 1
    if _expect_version is not None and version != _expect_version:
        # a concurrent commit landed between the caller's validation
        # read and this publish: the caller's rebase reasoning is
        # stale — fail exactly like a lost manifest-create race so
        # commit_files re-validates against the new world
        raise FileExistsError(
            f"version {_expect_version} superseded (next is {version})"
        )
    manifest = {
        "version": version,
        "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "files": sorted(files),
        "n_files": len(files),
        "metadata": metadata or {},
    }
    if stats:
        fset = set(files)
        manifest["stats"] = {f: s for f, s in stats.items() if f in fset}
    if schema:
        # recorded contract for `io/table_schema.py`'s append gate
        manifest["schema"] = schema
    if dv:
        orphans = sorted(set(dv) - set(files))
        if orphans:
            raise ValueError(
                "dv entries for files not in this version (a dropped "
                f"tombstone resurrects deleted rows): {orphans[:3]}"
            )
        non_parquet = [f for f in files if not f.endswith(".parquet")]
        if non_parquet:
            raise ValueError(
                "deletion vectors need parquet row indexes; this "
                f"version holds non-parquet files: {non_parquet[:3]}"
            )
        manifest["dv"] = dv
    if constraints:
        # recorded CHECK contract (set_table_constraints); enforced
        # by commit_files on every row-adding commit's fresh files
        manifest["constraints"] = constraints
    if column_mapping:
        # logical->physical name map (`io/table_schema.py` renames/
        # drops without rewrites); physical targets must be unique or
        # two logical columns would read the same bytes
        vals = list(column_mapping.values())
        if len(vals) != len(set(vals)):
            raise ValueError(
                "column_mapping maps two logical columns to the same "
                "physical column"
            )
        manifest["column_mapping"] = dict(column_mapping)
    path = _manifest_path(root, version)
    # big manifests go SEGMENTED on disk (O(delta) commit metadata —
    # see _maybe_segment); the in-memory return keeps the classic
    # resolved shape callers expect, plus the segment refs
    disk = _maybe_segment(root, manifest, delta=_delta)
    # exclusive create: of two writers racing for this version number
    # exactly one wins; the loser's FileExistsError is the commit
    # loop's retry signal (commit_files catches it)
    _atomic_create(path, json.dumps(disk, indent=1))
    _atomic_write(os.path.join(_versions_dir(root), _CURRENT), str(version))
    if disk is not manifest:
        manifest["segments"] = disk["segments"]
    return manifest


#: commit kinds for :func:`commit_files` — what a writer's result
#: semantically depended on, which determines what it may rebase over
_KINDS = ("append", "maintenance", "keyed")


class _SegmentedFallback(Exception):
    """Internal: the raw-segment commit path met a shape it does not
    prove (e.g. first-ever dv on a table) — re-run this loop
    iteration through the classic resolved path. Never escapes
    :func:`commit_files`."""


def _probe_segments(root: str, raw: dict, probe_sorted: list[str]):
    """Walk a RAW segmented manifest loading only the segments whose
    recorded file-name range may contain a probe path (plus any
    segment without a usable summary). Returns
    ``(plan, entry_map)`` where ``plan`` is ``[(sid, entries|None,
    summary)]`` in ref order (``entries is None`` = skipped with zero
    loads) and ``entry_map`` maps each loaded entry's file to it."""
    import bisect

    summaries = raw.get("segment_stats") or {}
    plan = []
    entry_map: dict = {}
    for sid in raw["segments"]:
        summ = summaries.get(sid)
        usable = (
            summ
            and "file_min" in summ
            and "n_files" in summ  # consumed unguarded downstream
            # degraded (sink-written, range-only) summaries load once
            # so the rebuilt manifest carries upgraded ones — same
            # discipline as _maybe_segment's load-verify branch
            and ("columns" in summ or summ.get("nocols"))
        )
        if usable:
            i = bisect.bisect_left(probe_sorted, summ["file_min"])
            if not (
                i < len(probe_sorted)
                and probe_sorted[i] <= summ["file_max"]
            ):
                plan.append((sid, None, summ))
                continue
        entries = _load_segment(root, sid)
        for e in entries:
            entry_map[e["file"]] = e
        plan.append((sid, entries, summ))
    return plan, entry_map


def _probe_raw_dv(root: str, raw: dict, paths: set) -> dict:
    """dv entries for ``paths`` from a RAW manifest, loading only the
    covering segments (inline map for plain manifests)."""
    if "segments" not in raw:
        dv = raw.get("dv") or {}
        return {f: dv[f] for f in paths if f in dv}
    _, entry_map = _probe_segments(root, raw, sorted(paths))
    return {
        f: entry_map[f]["dv"]
        for f in paths
        if f in entry_map and "dv" in entry_map[f]
    }


def _commit_files_segmented(
    root: str,
    *,
    base_raw: dict,
    target_raw: dict,
    cur_v: int,
    base_version: int,
    kind: str,
    add_files: list,
    remove: set,
    dv_updates: dict | None,
    add_stats: dict | None,
    meta: dict,
    schema: list | None,
    constraints,
    column_mapping,
) -> dict:
    """One :func:`commit_files` loop iteration against a SEGMENTED
    target, O(delta) end-to-end: rebase validation and manifest
    construction operate on the raw manifest + segment refs, loading
    only segments whose file-name range can contain a touched or
    added path — a pure append on a 10^6-file table reads two raw
    manifests and ZERO prior segments. Returns the published RAW
    manifest (``segments`` unresolved; ``read_manifest`` gives the
    classic inline view). Raises ``FileExistsError`` on a lost
    publish race (the caller's loop re-examines the world),
    :class:`TableConflictError` on provably-unsafe rebases, and
    :class:`_SegmentedFallback` when a shape needs the classic
    resolved path (first dv on the table)."""
    dv_updates = dv_updates or {}
    add_stats = add_stats or {}
    if dv_updates and target_raw.get("dv_rows", 0) == 0:
        # first-ever tombstones: the classic path's "no non-parquet
        # files anywhere" guard needs the full list once
        raise _SegmentedFallback
    if len(add_files) != len(set(add_files)):
        raise ValueError("duplicate files in commit's add_files")
    touched = remove | set(dv_updates) | set(add_stats)
    probe = touched | set(add_files)
    plan, entry_map = _probe_segments(root, target_raw, sorted(probe))

    missing = remove - set(entry_map)
    if missing:
        if cur_v != base_version:
            # mirror the classic rebase diagnosis: the file WAS in
            # the caller's base but a concurrent commit took it —
            # "re-plan and retry", not "your input list is wrong"
            raise TableConflictError(
                "concurrent commit rewrote/removed files this commit "
                "also rewrites", list(missing),
            )
        raise TableConflictError(
            "remove_files not in the base snapshot", list(missing)
        )
    # remove+re-add of the same path is the classic in-place-rewrite
    # shape and stays legal — only an add of a SURVIVING path is a dup
    dupes = [f for f in add_files if f in entry_map and f not in remove]
    if dupes:
        raise ValueError(
            f"duplicate files in version: {sorted(dupes)[:3]}"
        )
    # a dv entry for a file this commit REMOVES (and does not re-add)
    # is the classic orphan-dv refusal — never a silent drop
    orphans = sorted(
        f for f in dv_updates
        if f not in set(add_files)
        and (f in remove or f not in entry_map)
    )

    intervening_raw: list = []
    if cur_v != base_version:
        try:
            intervening_raw = [
                _read_manifest_raw(root, v)
                for v in range(base_version + 1, cur_v + 1)
            ]
        except FileNotFoundError as e:
            raise TableConflictError(
                f"cannot verify rebase safety: {e}"
            ) from e
        # the dv-growth check (files I rewrite/tombstone must not
        # have gained tombstones since MY base): probe both raws for
        # exactly the touched files
        check = remove | set(dv_updates)
        if check:
            b_dv = _probe_raw_dv(root, base_raw, check)
            dv_grew = []
            for f in check:
                # a dv entry for a file this commit CREATES is
                # race-free — but a re-added REMOVE is a rewrite of
                # existing rows and must still see concurrent
                # tombstones (classic checks every remove)
                if f in set(add_files) and f not in remove:
                    continue
                t_e = entry_map.get(f)
                if f in dv_updates and t_e is None:
                    dv_grew.append(f)
                elif t_e is not None and t_e.get("dv") != b_dv.get(f):
                    dv_grew.append(f)
            if dv_grew:
                raise TableConflictError(
                    "concurrent tombstones on files this commit "
                    "rewrites or tombstones", dv_grew,
                )
        if kind == "keyed":
            unsafe = [
                m["version"]
                for m in intervening_raw
                if m["metadata"].get("commit_kind") != "maintenance"
            ]
            if unsafe:
                raise TableConflictError(
                    "key-dependent write raced a non-maintenance "
                    f"commit (versions {unsafe}); re-plan against "
                    "the current version and retry"
                )
        if add_files and kind != "maintenance" and (
            (base_raw.get("constraints") or {})
            != (target_raw.get("constraints") or {})
        ):
            raise TableConflictError(
                "table constraints changed concurrently; re-plan "
                "and retry"
            )
    if orphans:
        raise ValueError(
            "dv entries for files not in this version (a dropped "
            f"tombstone resurrects deleted rows): {orphans[:3]}"
        )
    if schema is not None and (target_raw.get("schema") or []) != (
        base_raw.get("schema") or []
    ):
        raise TableConflictError(
            "schema contract changed concurrently; re-derive "
            "against the current version and retry"
        )
    if constraints != "carry" and intervening_raw:
        raise TableConflictError(
            "constraint change raced other commits; re-validate "
            "against the current version and retry"
        )
    if column_mapping != "carry" and intervening_raw:
        raise TableConflictError(
            "column-mapping change raced other commits; re-derive "
            "against the current version and retry"
        )

    dv_present = target_raw.get("dv_rows", 0) > 0 or dv_updates
    if dv_present:
        non_parquet = [
            f for f in add_files if not f.endswith(".parquet")
        ]
        if non_parquet:
            raise ValueError(
                "deletion vectors need parquet row indexes; this "
                f"version holds non-parquet files: {non_parquet[:3]}"
            )

    # ---- build the new segment list ----
    md = target_raw.get("metadata") or {}
    partitioned = bool(
        md.get("partition_spec") or md.get("partition_spec_history")
    )

    def _pseudo(files: list) -> dict:
        if not partitioned:
            return {}
        from .partitioned_table import partition_pseudo_stats

        return partition_pseudo_stats(
            {"files": files, "metadata": md}
        )

    reused: list = []
    out_summaries: dict = {}
    covered_n = 0
    dv_rows_new = target_raw.get("dv_rows", 0)
    residual_entries: dict = {}
    for sid, entries, summ in plan:
        if entries is None:
            reused.append(sid)
            out_summaries[sid] = summ
            covered_n += summ["n_files"]
            continue
        if not any(e["file"] in probe for e in entries):
            # loaded only because its summary was absent/degraded:
            # reuse as-is with an upgraded summary
            reused.append(sid)
            out_summaries[sid] = _segment_summary(
                entries, _pseudo([e["file"] for e in entries])
            )
            covered_n += len(entries)
            continue
        # a touched segment breaks up: surviving entries re-pack
        for e in entries:
            if "dv" in e:
                dv_rows_new -= e["dv"]["rows"]
            f = e["file"]
            if f in remove:
                continue
            e2: dict = {"file": f}
            st = add_stats.get(f, e.get("stats"))
            if st is not None:
                e2["stats"] = st
            dvv = dv_updates.get(f, e.get("dv"))
            if dvv is not None:
                e2["dv"] = dvv
            residual_entries[f] = e2
    for f in add_files:
        e2 = {"file": f}
        if f in add_stats:
            e2["stats"] = add_stats[f]
        if f in dv_updates:
            e2["dv"] = dv_updates[f]
        residual_entries[f] = e2
    # LSM-style tail fold (mirror of _maybe_segment): undersized tail
    # segments merge into this commit's fresh batch so segment count
    # stays O(files/target) under 1-file appends
    while reused:
        tail_summ = out_summaries.get(reused[-1]) or {}
        n_tail = tail_summ.get("n_files")
        if n_tail is None:
            n_tail = len(_load_segment(root, reused[-1]))
        if (
            n_tail >= SEGMENT_TARGET_ENTRIES // 2
            or n_tail + len(residual_entries) > SEGMENT_TARGET_ENTRIES
        ):
            break
        sid_tail = reused.pop()
        out_summaries.pop(sid_tail, None)
        tail = _load_segment(root, sid_tail)
        for e in tail:
            if "dv" in e:
                dv_rows_new -= e["dv"]["rows"]
            residual_entries[e["file"]] = e
        covered_n -= len(tail)
    residual = sorted(residual_entries)
    fresh: list = []
    for i in range(0, len(residual), SEGMENT_TARGET_ENTRIES):
        chunk = [
            residual_entries[f]
            for f in residual[i : i + SEGMENT_TARGET_ENTRIES]
        ]
        sid = _write_segment(root, chunk)
        fresh.append(sid)
        out_summaries[sid] = _segment_summary(
            chunk, _pseudo([e["file"] for e in chunk])
        )
    for e in residual_entries.values():
        if "dv" in e:
            dv_rows_new += e["dv"]["rows"]
    n_files = covered_n + len(residual)
    if n_files != _raw_n_files(target_raw) - len(remove) + len(
        add_files
    ):
        # the books don't balance: a summary's recorded n_files is
        # stale/corrupt — recompute through the classic resolved path
        # (same discipline as _maybe_segment's accounting fallback:
        # loads, never wrong bytes)
        raise _SegmentedFallback
    if n_files == 0:
        raise ValueError("refusing to publish an empty file list")

    # ---- assemble + publish the raw manifest ----
    pub_meta = dict(meta)
    for _k in ("bucket_spec", "partition_spec",
               "partition_spec_history"):
        if _k not in pub_meta and md.get(_k):
            pub_meta[_k] = md[_k]
    out = {
        "version": cur_v + 1,
        "created_utc": time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
        ),
        "n_files": n_files,
        "metadata": pub_meta,
    }
    schema_val = schema if schema is not None else target_raw.get("schema")
    if schema_val:
        out["schema"] = schema_val
    cons_val = (
        target_raw.get("constraints")
        if constraints == "carry"
        else (constraints or None)
    )
    if cons_val:
        out["constraints"] = cons_val
    cm_val = (
        target_raw.get("column_mapping")
        if column_mapping == "carry"
        else (column_mapping or None)
    )
    if cm_val:
        vals = list(cm_val.values())
        if len(vals) != len(set(vals)):
            raise ValueError(
                "column_mapping maps two logical columns to the same "
                "physical column"
            )
        out["column_mapping"] = dict(cm_val)
    out["segments"] = seg_list = reused + fresh
    out["segment_stats"] = {
        sid: out_summaries[sid] for sid in seg_list
    }
    out["dv_rows"] = dv_rows_new
    path = _manifest_path(root, out["version"])
    _atomic_create(path, json.dumps(out, indent=1))
    _atomic_write(
        os.path.join(_versions_dir(root), _CURRENT),
        str(out["version"]),
    )
    return out


def _check_rebase(
    kind: str,
    base: dict,
    target: dict,
    intervening: list[dict],
    remove: set[str],
    dv_updates: dict | None,
    adds_rows: bool = False,
    adds: frozenset | set = frozenset(),
) -> None:
    """Raise :class:`TableConflictError` unless rebasing this commit
    from ``base`` onto ``target`` is provably safe.

    - Any kind: files I rewrote/tombstoned must still be present and
      must not have grown tombstones since base (my rewrite was
      computed without them — publishing would resurrect deletes or
      lose the concurrent ones).
    - ``keyed`` (merge/delete/upsert — the result depends on which
      rows exist): additionally, every intervening commit must be
      row-preserving ``maintenance``; a concurrent ``append`` or
      another ``keyed`` commit may have added/changed rows my key
      probe never saw (the Delta WriteSerializable rule).
    - ``append`` read nothing, ``maintenance`` is row-preserving of
      its declared inputs — both rebase over anything that passes
      the file checks above.
    """
    t_files = set(target["files"])
    gone = remove - t_files
    if gone:
        raise TableConflictError(
            "concurrent commit rewrote/removed files this commit "
            "also rewrites", list(gone),
        )
    b_dv, t_dv = base.get("dv") or {}, target.get("dv") or {}
    dv_grew = [f for f in remove if t_dv.get(f) != b_dv.get(f)]
    if dv_updates:
        for f in dv_updates:
            if f in adds:
                # a dv entry for a file THIS commit adds (e.g. a
                # published clone's tombstoned local files): nobody
                # else can have touched a file that doesn't exist yet
                continue
            if f not in t_files:
                dv_grew.append(f)
            elif t_dv.get(f) != b_dv.get(f):
                dv_grew.append(f)
    if dv_grew:
        raise TableConflictError(
            "concurrent tombstones on files this commit rewrites or "
            "tombstones", dv_grew,
        )
    if kind == "keyed":
        unsafe = [
            m["version"]
            for m in intervening
            if m["metadata"].get("commit_kind") != "maintenance"
        ]
        if unsafe:
            raise TableConflictError(
                "key-dependent write raced a non-maintenance commit "
                f"(versions {unsafe}); re-plan against the current "
                "version and retry"
            )
    if adds_rows and kind != "maintenance" and (
        (base.get("constraints") or {}) != (target.get("constraints") or {})
    ):
        # the CHECK contract changed mid-flight: this commit's rows
        # were validated against the OLD contract — re-validate by
        # re-running against the current version
        raise TableConflictError(
            "table constraints changed concurrently; re-plan and retry"
        )


def commit_files(
    root: str,
    *,
    base_version: int,
    kind: str,
    add_files: list[str] | tuple = (),
    remove_files: list[str] | set | tuple = (),
    dv_updates: dict | None = None,
    metadata: dict | None = None,
    add_stats: dict | None = None,
    schema: list | None = None,
    constraints: dict | str = "carry",
    column_mapping: dict | str = "carry",
    spark: SparkSession | None = None,
    max_retries: int = 10,
) -> dict:
    """Optimistic-concurrency commit (the Delta commit-loop shape):
    publish "``base_version``'s files minus ``remove_files`` plus
    ``add_files`` (and/or tombstone updates ``dv_updates``)" — and if
    OTHER commits landed since ``base_version``, auto-rebase onto the
    newest one when :func:`_check_rebase` can prove it safe for this
    commit ``kind``, else raise :class:`TableConflictError`. A lost
    manifest-create race (two writers picking the same version
    number) just re-enters the loop.

    Carried files keep the CURRENT manifest's stats/dv entries (not
    the base's — a rebase must not undo the other writer's
    metadata); ``add_stats``/``dv_updates`` apply on top for this
    commit's own files. ``schema`` defaults to the rebase target's
    recorded contract.

    Return shape: plain targets return the classic resolved manifest
    (``files``/``stats``/``dv`` inline). SEGMENTED targets take the
    O(delta) raw path (`_commit_files_segmented` — validation and
    construction on segment refs, zero prior-segment loads for a
    pure append) and return the RAW manifest (``segments`` +
    ``segment_stats`` + ``n_files``/``dv_rows`` summaries, no inline
    file list — resolving it would cost the O(files) walk the path
    exists to avoid); use :func:`read_manifest` for the inline view.

    Safe-rebase matrix (writer kind × intervening kind)::

        mine \\ theirs   append  maintenance  keyed/unknown
        append           yes       yes          yes
        maintenance      yes       yes*         yes*
        keyed            no        yes*         no

    (* = only when the file/tombstone checks pass — i.e. the commits
    touched disjoint files.)
    """
    if kind not in _KINDS:
        raise ValueError(f"kind must be one of {_KINDS}")
    add_files = list(add_files)
    remove = set(remove_files)
    # RAW base: contracts (schema/constraints/column_mapping) are
    # top-level keys; the inline file/stats/dv view resolves lazily
    # only on the classic (plain-target) path below
    base_raw = _read_manifest_raw(root, base_version)
    base = None  # resolved on demand by the classic path
    meta = dict(metadata or {})
    meta["commit_kind"] = kind
    # CHECK-constraint enforcement at the one commit choke point:
    # row-ADDING commits validate exactly their fresh files against
    # the table's recorded contract (maintenance commits are
    # row-preserving — their rows already passed when first added)
    cons = base_raw.get("constraints")
    if cons and add_files and kind != "maintenance":
        if spark is None:
            raise ValueError(
                "this table has CHECK constraints; commit_files needs "
                "spark= to enforce them on the fresh files"
            )
        from .table_schema import to_logical

        # constraint expressions name LOGICAL columns; the fresh
        # files are physical — project through the mapping first
        _enforce_constraints(
            spark,
            to_logical(
                spark.read.parquet(*[os.path.join(root, f)
                                     for f in add_files]),
                base_raw,
            ),
            cons,
        )
    for _ in range(max_retries):
        cur_v = current_version(root)
        target_raw = (
            base_raw
            if cur_v == base_version
            else _read_manifest_raw(root, cur_v)
        )
        if "segments" in target_raw:
            # O(delta) raw path: rebase validation + manifest build on
            # segment refs, loading only touched segments — a pure
            # append reads ZERO prior metadata segments end-to-end
            try:
                return _commit_files_segmented(
                    root,
                    base_raw=base_raw,
                    target_raw=target_raw,
                    cur_v=cur_v,
                    base_version=base_version,
                    kind=kind,
                    add_files=add_files,
                    remove=remove,
                    dv_updates=dv_updates,
                    add_stats=add_stats,
                    meta=meta,
                    schema=schema,
                    constraints=constraints,
                    column_mapping=column_mapping,
                )
            except FileExistsError:
                continue  # lost the publish race; re-examine world
            except _SegmentedFallback:
                pass  # classic resolved path for this iteration
        if base is None:
            base = (
                _resolve_manifest(root, base_raw)
                if "segments" in base_raw
                else base_raw
            )
        if cur_v == base_version:
            target, intervening = base, []
        else:
            try:
                target = read_manifest(root, cur_v)
                # versions are dense by construction, so iterate the
                # RANGE, not list_versions(): a concurrent
                # retire_versions that deleted an intervening manifest
                # must surface as FileNotFoundError -> conflict here,
                # never as a silently shorter list (a keyed commit
                # could otherwise rebase over a retired append and
                # violate the WriteSerializable rule)
                intervening = [
                    read_manifest(root, v)
                    for v in range(base_version + 1, cur_v + 1)
                ]
            except FileNotFoundError as e:
                # a racing retire_versions swallowed part of the
                # history we'd need to prove safety
                raise TableConflictError(
                    f"cannot verify rebase safety: {e}"
                ) from e
            _check_rebase(kind, base, target, intervening, remove,
                          dv_updates, adds_rows=bool(add_files),
                          adds=set(add_files))
        t_files = target["files"]
        missing = remove - set(t_files)
        if missing:
            raise TableConflictError(
                "remove_files not in the base snapshot", list(missing)
            )
        files = [f for f in t_files if f not in remove] + add_files
        t_stats = target.get("stats") or {}
        stats = {f: t_stats[f] for f in files if f in t_stats}
        if add_stats:
            stats.update(add_stats)
        t_dv = target.get("dv") or {}
        dv = {f: t_dv[f] for f in t_files
              if f not in remove and f in t_dv}
        if dv_updates:
            dv.update(dv_updates)
        if schema is not None and (target.get("schema") or []) != (
            base.get("schema") or []
        ):
            # the caller derived its schema contract from ITS base; a
            # concurrent schema evolution must not be clobbered by a
            # stale merge of the contract — re-derive and retry
            raise TableConflictError(
                "schema contract changed concurrently; re-derive "
                "against the current version and retry"
            )
        if constraints != "carry" and intervening:
            # a constraint change races everything: intervening adds
            # were never validated against the NEW contract
            raise TableConflictError(
                "constraint change raced other commits; re-validate "
                "against the current version and retry"
            )
        if column_mapping != "carry" and intervening:
            # two concurrent mapping edits (renames/drops) would
            # last-write-win a lost update; re-derive and retry
            raise TableConflictError(
                "column-mapping change raced other commits; re-derive "
                "against the current version and retry"
            )
        # layout contracts ride every commit automatically: a writer
        # that forgot to re-attach the spec must not silently strip
        # the table's pruning contract (callers may still override by
        # passing their own value in metadata)
        pub_meta = dict(meta)
        for _k in ("bucket_spec", "partition_spec",
                   "partition_spec_history"):
            if _k not in pub_meta and target["metadata"].get(_k):
                pub_meta[_k] = target["metadata"][_k]
        try:
            return publish_files(
                root,
                files,
                metadata=pub_meta,
                stats=stats or None,
                schema=schema if schema is not None else target.get("schema"),
                dv=dv or None,
                constraints=(
                    target.get("constraints")
                    if constraints == "carry"
                    else (constraints or None)
                ),
                column_mapping=(
                    target.get("column_mapping")
                    if column_mapping == "carry"
                    else (column_mapping or None)
                ),
                # pin the version this rebase was validated against:
                # any commit sneaking in between validation and link
                # turns into a loud retry, never a lost update
                _expect_version=(cur_v or 0) + 1,
                # the commit's exact metadata footprint: segments whose
                # file-name range misses all of it reuse with ZERO loads
                _delta={
                    "touched": remove
                    | set(dv_updates or ())
                    | set(add_stats or ()),
                    "added": list(add_files),
                },
            )
        except FileExistsError:
            continue  # lost the manifest-create race; re-examine world
    raise TableConflictError(
        f"gave up after {max_retries} commit attempts (livelock?)"
    )


def publish_version(
    root: str,
    run_dirs: str | list[str],
    *,
    metadata: dict | None = None,
    base_version: int | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Atomically publish a new version whose file list is every data
    file under ``run_dirs`` (one or more immutable run directories),
    optionally unioned with an existing version's files
    (``base_version`` — the incremental-append pattern: new batch dir
    + previous snapshot = next snapshot).

    Returns the manifest dict (incl. ``version``).
    """
    if isinstance(run_dirs, str):
        run_dirs = [run_dirs]
    fresh: list[str] = []
    for rd in run_dirs:
        rel = [os.path.relpath(p, root) for p in data_files(rd)]
        if not rel:
            raise ValueError(f"no data files under {rd}")
        fresh.extend(rel)
    if base_version is not None:
        # incremental append: the multi-writer commit loop — carried
        # files keep their (immutable) zone-map entries and
        # deletion-vector tombstones, and the append auto-rebases
        # over any commit that landed since base_version (it read
        # nothing, so any rebase is safe)
        return commit_files(
            root,
            base_version=base_version,
            kind="append",
            add_files=fresh,
            metadata=metadata,
            spark=spark,
        )
    return publish_files(root, fresh, metadata=metadata)


def version_as_of(root: str, timestamp: str) -> int:
    """The newest version whose commit time is <= ``timestamp``
    (UTC, ISO ``YYYY-MM-DDTHH:MM:SSZ`` or any prefix — manifests
    store ``created_utc`` in this form, so the comparison is
    lexicographic on the normalized string). The Delta ``TIMESTAMP
    AS OF`` shape. Raises if the table didn't exist yet."""
    ts = timestamp.rstrip("Z").replace(" ", "T")
    best = None
    for v in list_versions(root):
        created = _read_manifest_raw(root, v)["created_utc"].rstrip("Z")
        # plain lexicographic: a prefix timestamp ("2026-08-15")
        # means its zero-fill instant (midnight), because any longer
        # same-prefix commit string sorts after it
        if created <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no version of {root} existed at or before {timestamp}"
        )
    return best


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    *,
    as_of: str | None = None,
) -> DataFrame:
    """Read a published snapshot (CURRENT by default; time-travel by
    ``version`` or by commit time with ``as_of``) from its EXPLICIT
    manifest file list — no directory listing, no torn reads."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version or as_of, not both")
        version = version_as_of(root, as_of)
    m = read_manifest(root, version)
    if m.get("dv"):
        # merge-on-read: anti-join the tombstoned positions out of
        # the files that carry deletion vectors (parquet-only —
        # delete_matching_dv gates on that at write time)
        from .deletion_vectors import read_with_dv

        return read_with_dv(spark, root, m)
    paths = [os.path.join(root, f) for f in m["files"]]
    fmt = "json" if paths[0].endswith((".jsonl", ".jsonl.gz", ".json.gz")) else "parquet"
    df = spark.read.format(fmt).load(paths)
    from .table_schema import column_mapping as _cmap, to_logical

    cm = _cmap(m)
    if fmt == "parquet":
        # schema inference samples ONE footer; under add-column
        # evolution the live column set is the mapping's physical
        # names (mapped tables) or the recorded schema contract
        # (unmapped) — when the sample missed any, merge all footers
        # so no file's values silently null out
        want = (
            set(cm.values())
            if cm
            else {f["name"] for f in (m.get("schema") or ())}
        )
        if any(c not in df.columns for c in want):
            df = spark.read.option("mergeSchema", "true").parquet(*paths)
    return to_logical(df, m)


def rollback(root: str, to_version: int) -> dict:
    """Publish a NEW version with ``to_version``'s file list (history
    stays append-only; the bad version remains inspectable). The
    target's zone-map stats, schema contract, deletion vectors and
    layout contract (``bucket_spec``) all travel with the file list —
    restoring a snapshot restores its whole read contract, not just
    its bytes."""
    m = read_manifest(root, to_version)
    meta: dict = {"rollback_of": m["version"]}
    for _k in ("bucket_spec", "partition_spec", "partition_spec_history"):
        if m["metadata"].get(_k):
            meta[_k] = m["metadata"][_k]
    return publish_files(
        root,
        m["files"],
        metadata=meta,
        stats=m.get("stats"),
        schema=m.get("schema"),
        dv=m.get("dv"),
        constraints=m.get("constraints"),
        column_mapping=m.get("column_mapping"),
    )


def _enforce_constraints(spark, df: DataFrame, constraints: dict) -> None:
    """ONE aggregate pass counting violators of every constraint;
    raises :class:`ConstraintViolationError` with per-constraint
    counts when any row fails. NULL results count as violations
    (a CHECK that cannot be proven true is not true — stricter than
    ANSI CHECK, which is the right default for a data gate)."""
    from pyspark.sql import functions as F

    aggs = [
        F.sum(
            F.when(F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)),
                   0).otherwise(1)
        ).alias(name)
        for name, expr in sorted(constraints.items())
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {k: int(v) for k, v in row.asDict().items() if v}
    if bad:
        raise ConstraintViolationError(bad)


def table_constraints(root: str, version: int | None = None) -> dict:
    """The recorded CHECK contract ({} when none)."""
    return read_manifest(root, version).get("constraints") or {}


def set_table_constraints(
    spark: SparkSession,
    root: str,
    constraints: dict[str, str],
    *,
    validate_existing: bool = True,
) -> dict:
    """Record CHECK constraints (name -> boolean SQL expression) as a
    manifest contract — Delta's ``ADD CONSTRAINT``: every later
    row-adding commit (append, merge upserts, CDC batches) validates
    its fresh files and refuses with per-constraint counts on
    violation; row-preserving maintenance commits skip the re-check.
    ``validate_existing`` first proves the CURRENT rows satisfy the
    new contract (one scan), so a recorded constraint is never
    already broken. Pass ``{}`` to drop all constraints."""
    m = read_manifest(root)
    for name, expr in constraints.items():
        from pyspark.sql import functions as F

        # parse errors surface now, not at some future commit
        read_version(spark, root).limit(0).filter(F.expr(expr)).collect()
        if not name or not isinstance(expr, str):
            raise ValueError(f"bad constraint {name!r}: {expr!r}")
    if constraints and validate_existing:
        _enforce_constraints(spark, read_version(spark, root), constraints)
    meta = {"set_constraints": sorted(constraints)}
    if m["metadata"].get("bucket_spec"):
        meta["bucket_spec"] = m["metadata"]["bucket_spec"]
    # through the commit loop: the file list is the CURRENT one (a
    # concurrent append's files must not be dropped), and a commit
    # landing during the validation scan conflicts loudly (its rows
    # were never checked against the new contract)
    return commit_files(
        root,
        base_version=m["version"],
        kind="maintenance",
        metadata=meta,
        constraints=dict(constraints),
        spark=spark,
    )


def shallow_clone(
    src_root: str,
    dst_root: str,
    *,
    version: int | None = None,
    metadata: dict | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Zero-copy clone (Delta ``SHALLOW CLONE``): publish a NEW table
    at ``dst_root`` whose first manifest references the source
    snapshot's data files (and deletion-vector sidecars) by ABSOLUTE
    path — no bytes move. The clone is a real table from then on:
    merges/deletes/compactions write THEIR files under ``dst_root``
    and carry the untouched absolute references forward, so a dev
    branch of a 100 TB table costs one manifest and localizes
    copy-on-write — exactly the experiment/backfill workflow.

    The whole read/write stack already resolves absolute entries
    (``os.path.join(root, f)`` is ``f`` when ``f`` is absolute, and
    lineage keys come from `deletion_vectors.rel_path_col`, which
    names outside-root files by their absolute path): time travel,
    dv reads, zone-map pruning, bucket key-pruning, merge planning
    and the clone's own vacuum (which only ever walks ``dst_root``)
    all compose.

    Deletion vectors: the clone RE-MATERIALIZES the source's live
    tombstones into one dst-local sidecar with the clone's (absolute)
    file keys — sidecars are O(deleted rows), so this stays
    effectively zero-copy while keeping a single key space per table
    (later deletes on the clone just append more sidecars). Cloning
    a dv'd version therefore needs the ``spark`` session.

    Vacuum safety is ENFORCED, not just documented: the clone
    registers a back-pointer marker under the source's ``_clones/``
    pinning the forked snapshot's file list, and the source's
    :func:`vacuum` refuses (typed :class:`ClonePinnedError`) to
    delete pinned files while the clone is registered.
    `io/clones.py:publish_clone` (landing the branch) and
    :func:`deregister_clone` (abandoning it) both release the pin.
    Chained clones register along the whole discoverable ancestor
    chain (each root's vacuum filters the pin to its own files), so
    a grandparent's vacuum refuses too; only ancestors whose fork
    history was already retired fall back to the documented
    compact-before-vacuum discipline."""
    m = read_manifest(src_root, version)
    if os.path.abspath(src_root) == os.path.abspath(dst_root):
        raise ValueError("shallow_clone onto the source root")
    if current_version(dst_root) is not None:
        raise ValueError(
            f"{dst_root} already has a published version; clone onto a "
            "fresh root"
        )

    def _abs(f: str) -> str:
        return os.path.abspath(os.path.join(src_root, f))

    files = [_abs(f) for f in m["files"]]
    stats = m.get("stats")
    if stats:
        stats = {_abs(f): s for f, s in stats.items()}
    dv = m.get("dv")
    if dv:
        if spark is None:
            raise ValueError(
                "cloning a version with deletion vectors needs spark= "
                "(the tombstones are re-keyed into one dst-local sidecar)"
            )
        from pyspark.sql import functions as F

        from .deletion_vectors import FILE_COL, POS_COL, read_dv

        os.makedirs(dst_root, exist_ok=True)
        from trial_submission_studio_spark.sources.local import values_df

        pairs = values_df(
            spark, [(f, _abs(f)) for f in dv], f"{FILE_COL} string, __abs string"
        )
        rekeyed = (
            read_dv(spark, src_root, m)
            .join(F.broadcast(pairs), FILE_COL)
            .select(F.col("__abs").alias(FILE_COL), POS_COL)
        )
        run_dir = os.path.join(dst_root, "dv", _fresh_run_id())
        os.makedirs(run_dir, exist_ok=False)
        rekeyed.repartition(1).write.mode("overwrite").parquet(run_dir)
        sidecars = [
            os.path.relpath(p, dst_root) for p in data_files(run_dir)
        ]
        dv = {
            _abs(f): {"sidecars": sidecars, "rows": e["rows"]}
            for f, e in dv.items()
        }
    meta = {
        "shallow_clone_of": {
            "root": os.path.abspath(src_root),
            "version": m["version"],
        },
        **(metadata or {}),
    }
    for _k in ("bucket_spec", "partition_spec", "partition_spec_history"):
        if m["metadata"].get(_k):
            meta[_k] = m["metadata"][_k]
    os.makedirs(dst_root, exist_ok=True)
    # register BEFORE the clone's first manifest exists: a vacuum
    # racing the clone must already see the pin (a failed publish
    # deregisters on the way out)
    register_clone(src_root, dst_root, m)
    try:
        return publish_files(
            dst_root,
            files,
            metadata=meta,
            stats=stats,
            schema=m.get("schema"),
            dv=dv,
            constraints=m.get("constraints"),
            column_mapping=m.get("column_mapping"),
        )
    except BaseException:
        deregister_clone(src_root, dst_root)
        raise


def _clones_dir(root: str) -> str:
    return os.path.join(root, _CLONES)


def _clone_marker_path(src_root: str, dst_root: str) -> str:
    import hashlib

    cid = hashlib.sha256(
        os.path.abspath(dst_root).encode()
    ).hexdigest()[:16]
    return os.path.join(_clones_dir(src_root), cid + ".json")


def _ancestor_clone_roots(root: str, limit: int = 16) -> list[str]:
    """The chain of table roots this root was (transitively) cloned
    from, walked through each root's earliest surviving manifest's
    ``shallow_clone_of`` pointer. Bounded and cycle-guarded; a
    retired fork commit simply ends the walk (those ancestors keep
    the r13-era documented caveat)."""
    out: list[str] = []
    seen = {os.path.abspath(root)}
    cur = root
    while len(out) < limit:
        vs = list_versions(cur)
        if not vs:
            break
        info = _read_manifest_raw(cur, vs[0])["metadata"].get(
            "shallow_clone_of"
        )
        if not info:
            break
        nxt = info["root"]
        if os.path.abspath(nxt) in seen:
            break
        out.append(nxt)
        seen.add(os.path.abspath(nxt))
        cur = nxt
    return out


def register_clone(src_root: str, dst_root: str, manifest: dict) -> str:
    """Write the clone back-pointer marker pinning ``manifest``'s
    files (and dv sidecars) against the source's :func:`vacuum`.
    Self-contained — the pinned FILE LIST lives in the marker, so the
    pin survives :func:`retire_versions` of the forked manifest.

    Chained clones: when the source is ITSELF a clone, the manifest's
    absolute entries reference ancestor tables — the marker is ALSO
    registered at every discoverable ancestor root (each root's
    vacuum filters the pinned list to its own files), and the source
    marker records the ancestor list so :func:`deregister_clone`
    cascades. Called by :func:`shallow_clone`; idempotent per
    ``dst_root``."""
    sidecars = sorted(
        {s for e in (manifest.get("dv") or {}).values()
         for s in e["sidecars"]}
    )
    ancestors = [
        os.path.abspath(a) for a in _ancestor_clone_roots(src_root)
    ]
    payload = {
        "dst_root": os.path.abspath(dst_root),
        "src_version": manifest["version"],
        "created_utc": time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
        ),
        "sidecars": sidecars,
        "ancestors": ancestors,
    }
    if manifest.get("segments"):
        # segmented fork: pin the SEGMENT REFS, not a copied file
        # list — O(segments) marker bytes at any table size. The
        # source's vacuum keeps marker-referenced segments alive
        # (same pin discipline as the files themselves), so the pin
        # still survives retire_versions of the forked manifest.
        payload["segments"] = list(manifest["segments"])
        payload["segments_root"] = os.path.abspath(src_root)
    else:
        payload["files"] = manifest["files"]
    blob = json.dumps(payload, indent=1)
    for r in [src_root] + ancestors:
        os.makedirs(_clones_dir(r), exist_ok=True)
        _atomic_write(_clone_marker_path(r, dst_root), blob)
    return _clone_marker_path(src_root, dst_root)


def list_clones(root: str) -> list[dict]:
    """The live registered shallow clones of this table (markers
    under ``_clones/``), each with ``dst_root`` / ``src_version`` /
    pinned ``files``. Metadata-scale."""
    d = _clones_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for n in sorted(os.listdir(d)):
        if n.endswith(".json"):
            with open(os.path.join(d, n), encoding="utf-8") as f:
                out.append(json.load(f))
    return out


def deregister_clone(src_root: str, dst_root: str) -> bool:
    """Release a clone's vacuum pin (the clone was published back,
    compacted to independence, or abandoned) — cascading to the
    ancestor roots the marker recorded. Returns whether a marker
    existed at the source."""
    path = _clone_marker_path(src_root, dst_root)
    if not os.path.exists(path):
        return False
    try:
        with open(path, encoding="utf-8") as f:
            ancestors = json.load(f).get("ancestors") or []
    except (OSError, ValueError):
        ancestors = []
    os.remove(path)
    for r in ancestors:
        p = _clone_marker_path(r, dst_root)
        if os.path.exists(p):
            os.remove(p)
    return True


def _clone_pinned_files(root: str) -> dict[str, str]:
    """root-relative pinned path -> pinning clone's dst_root, from
    the live markers. Absolute marker entries outside this root
    belong to a grandparent table and are skipped (a chained clone
    pins only its direct source). Segment-pinning markers resolve
    their file list from the source's segment store; an unresolvable
    marker raises LOUDLY (deleting possibly-pinned files on a broken
    marker is the one unrecoverable direction)."""
    marker = os.path.abspath(root) + os.sep
    pinned: dict[str, str] = {}
    for c in list_clones(root):
        files = list(c.get("files", ()))
        if not files and c.get("segments"):
            sroot = c.get("segments_root") or root
            try:
                for sid in c["segments"]:
                    files.extend(
                        e["file"] for e in _load_segment(sroot, sid)
                    )
            except FileNotFoundError as e:
                raise RuntimeError(
                    f"clone marker for {c.get('dst_root')} pins "
                    f"segments under {sroot} that no longer resolve "
                    f"({e}); deregister the clone if it is dead, or "
                    "restore the segment store"
                ) from e
        for f in files + list(c.get("sidecars", ())):
            if os.path.isabs(f):
                af = os.path.abspath(f)
                if not af.startswith(marker):
                    continue
                f = os.path.relpath(af, root)
            pinned[f] = c["dst_root"]
    return pinned


def table_history(root: str, *, limit: int | None = None) -> list[dict]:
    """Commit log, newest first — Delta's ``DESCRIBE HISTORY``: one
    dict per surviving manifest with the version, commit time, commit
    kind, the operation summary (merge/delete/compaction/optimize/
    rollback/clone/constraint metadata, whichever the writer
    recorded), and the file/tombstone footprint. Metadata-scale: one
    manifest read per entry; ``limit`` bounds the walk."""
    out = []
    for v in reversed(list_versions(root)):
        if limit is not None and len(out) >= limit:
            break
        m = _read_manifest_raw(root, v)  # metadata-only walk:
        # segmented manifests carry n_files + dv_rows summaries, so
        # history never loads segments
        md = m["metadata"]
        if "merge" in md:
            op = md["merge"].get("op", "merge")
        elif "compaction_of" in md:
            op = "compaction"
        elif "optimize" in md:
            op = "optimize"
        elif "rollback_of" in md:
            op = "rollback"
        elif "shallow_clone_of" in md:
            op = "clone"
        elif "set_constraints" in md:
            op = "set_constraints"
        else:
            op = "write"
        out.append({
            "version": v,
            "created_utc": m["created_utc"],
            "kind": md.get("commit_kind", "unknown"),
            "op": op,
            "n_files": m["n_files"],
            "dv_rows": (
                m["dv_rows"]
                if "segments" in m
                else sum(
                    e["rows"] for e in (m.get("dv") or {}).values()
                )
            ),
            "metadata": md,
        })
    return out


def table_detail(root: str, version: int | None = None) -> dict:
    """Delta's ``DESCRIBE DETAIL``: one dict summarizing a snapshot —
    version, commit time, file/byte/tombstone footprint, and every
    recorded contract (schema, constraints, column mapping, bucket
    and partition specs). Metadata-scale: one manifest read plus file
    stats."""
    m = read_manifest(root, version)
    sizes = [os.path.getsize(os.path.join(root, f)) for f in m["files"]]
    return {
        "root": os.path.abspath(root),
        "version": m["version"],
        "n_segments": len(m.get("segments") or ()),
        "created_utc": m["created_utc"],
        "n_files": len(m["files"]),
        "total_bytes": sum(sizes),
        "dv_rows": sum(e["rows"] for e in (m.get("dv") or {}).values()),
        "schema": m.get("schema"),
        "constraints": m.get("constraints") or {},
        "column_mapping": m.get("column_mapping"),
        "bucket_spec": m["metadata"].get("bucket_spec"),
        "partition_spec": m["metadata"].get("partition_spec"),
        "n_clones": len(list_clones(root)),
    }


def table_files(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Iceberg's ``files`` metadata table: one row per data file in
    the snapshot — path, size, recorded row count (NULL when the
    table never collected stats), tombstoned rows, and the parsed
    partition values (JSON; NULL for unpartitioned layouts). Driver
    builds it from the manifest + file stats alone; no data read."""
    import json as _json

    m = read_manifest(root, version)
    stats = m.get("stats") or {}
    dv = m.get("dv") or {}
    from .partitioned_table import merged_partition_spec

    pspec = merged_partition_spec(m)
    rows = []
    for f in m["files"]:
        pv = None
        if pspec:
            from .partitioned_table import partition_values

            vals = partition_values(f, pspec)
            pv = _json.dumps(vals, sort_keys=True) if vals else None
        rows.append(
            (
                f,
                os.path.getsize(os.path.join(root, f)),
                (stats.get(f) or {}).get("num_rows"),
                dv.get(f, {}).get("rows", 0),
                pv,
            )
        )
    from trial_submission_studio_spark.sources.local import values_df

    return values_df(
        spark,
        rows,
        "file string, size_bytes long, num_rows long, dv_rows long, "
        "partition string",
    )


def _diff_entry_map(root: str, raw: dict, skip_sids: set) -> dict:
    """file -> segment entry (``{"file", "stats"?, "dv"?}``) for one
    RAW manifest, loading only segments outside ``skip_sids``. Plain
    manifests synthesize entries from their inline maps."""
    out: dict = {}
    if "segments" in raw:
        for sid in raw["segments"]:
            if sid in skip_sids:
                continue
            for e in _load_segment(root, sid):
                out[e["file"]] = e
    else:
        dv = raw.get("dv") or {}
        for f in raw.get("files", ()):
            e: dict = {"file": f}
            if f in dv:
                e["dv"] = dv[f]
            out[f] = e
    return out


def _diff_raw(root: str, raw_a: dict, raw_b: dict) -> dict:
    """File-grain diff of two RAW manifests, O(delta) metadata work
    on segmented stores: a segment id referenced by BOTH versions is
    content-addressed and therefore byte-identical — its entries
    cannot differ and are never loaded; only the UNSHARED segments
    resolve. A 16-file micro-batch on a 10^6-file table touches two
    raw manifests plus the one or two segments that actually changed
    (the completion of `_maybe_segment`'s O(delta) commit side, on
    the read/CDC side). A plain manifest on either side falls back
    to its inline maps (correct, O(files) for that side — the shape
    a table crossing the segmentation threshold pays once).

    Returns ``{"added", "removed", "dv_changed"`` (sorted file
    lists) ``, "dv_from", "dv_to"}`` — the dv maps carry entries for
    exactly the added/removed/dv_changed files, which is everything
    the change feed needs."""
    shared: set = set()
    if "segments" in raw_a and "segments" in raw_b:
        shared = set(raw_a["segments"]) & set(raw_b["segments"])
    map_a = _diff_entry_map(root, raw_a, shared)
    map_b = _diff_entry_map(root, raw_b, shared)
    added = sorted(set(map_b) - set(map_a))
    removed = sorted(set(map_a) - set(map_b))
    dv_changed = sorted(
        f
        for f in set(map_a) & set(map_b)
        if map_a[f].get("dv") != map_b[f].get("dv")
    )
    dv_from = {
        f: map_a[f]["dv"]
        for f in removed + dv_changed
        if "dv" in map_a[f]
    }
    dv_to = {
        f: map_b[f]["dv"]
        for f in added + dv_changed
        if "dv" in map_b[f]
    }
    return {
        "added": added,
        "removed": removed,
        "dv_changed": dv_changed,
        "dv_from": dv_from,
        "dv_to": dv_to,
    }


def _raw_n_files(raw: dict) -> int:
    return raw.get("n_files", len(raw.get("files", ())))


def _raw_dv_rows(raw: dict) -> int:
    if "segments" in raw:
        return raw.get("dv_rows", 0)
    return sum(e["rows"] for e in (raw.get("dv") or {}).values())


def diff_versions(root: str, v_from: int, v_to: int) -> dict:
    """What changed between two snapshots — file-level audit from the
    manifests alone (metadata-scale at any corpus size): added and
    removed file lists, net file-count delta, and the files whose
    deletion-vector state changed (a merge-on-read delete commit is
    INVISIBLE at file grain — ``dv_changed`` is how the audit sees
    it). The
    operational answer to "what did last night's ingest actually
    publish?". Segment-aware: on a segmented store only the segments
    the two versions do NOT share are loaded (`_diff_raw`), so the
    audit is O(delta) even on a 10^6-file table."""
    raw_a = _read_manifest_raw(root, v_from)
    raw_b = _read_manifest_raw(root, v_to)
    d = _diff_raw(root, raw_a, raw_b)
    return {
        "from": v_from,
        "to": v_to,
        "added": d["added"],
        "removed": d["removed"],
        "n_added": len(d["added"]),
        "n_removed": len(d["removed"]),
        "n_delta": _raw_n_files(raw_b) - _raw_n_files(raw_a),
        "dv_changed": d["dv_changed"],
        "n_dv_rows_delta": _raw_dv_rows(raw_b) - _raw_dv_rows(raw_a),
    }


class FeedPinnedError(RuntimeError):
    """Retention would delete a manifest a REGISTERED change-feed
    consumer (``readStream.format("tss").option("feedId", ...)``)
    still needs as its next batch's start offset. Carries the
    conflicting consumers; the recovery is to let them catch up, or
    delete their stale ``_versions/feed-<id>`` markers (dead
    consumers), or pass ``ignore_feeds=True`` to break them
    knowingly."""

    def __init__(self, conflicts: dict):
        self.conflicts = dict(conflicts)  # feed id -> committed version
        super().__init__(
            "retire_versions would delete manifests live change-feed "
            f"consumers still need (feedId -> committed offset: "
            f"{self.conflicts}); let them catch up, remove their "
            "_versions/feed-<id> markers if dead, or pass "
            "ignore_feeds=True"
        )


def _feed_low_water(root: str) -> dict[str, int]:
    """feed id -> newest committed version, from the durable consumer
    markers the ``tss`` streaming source writes in ``commit()``."""
    vd = _versions_dir(root)
    out: dict[str, int] = {}
    if not os.path.isdir(vd):
        return out
    for n in os.listdir(vd):
        if not n.startswith("feed-"):
            continue
        try:
            with open(os.path.join(vd, n), encoding="utf-8") as f:
                out[n[len("feed-"):]] = int(f.read().strip())
        except (OSError, ValueError):
            continue
    return out


def retire_versions(
    root: str, keep_latest: int, *, ignore_feeds: bool = False
) -> list[int]:
    """Delete old manifests, keeping the newest ``keep_latest``. The
    CURRENT version is always kept. Returns retired version numbers.

    Registered change-feed consumers pin their committed offset's
    manifest (it is the next micro-batch's start snapshot): retiring
    it raises :class:`FeedPinnedError` before deleting anything —
    the CDC-log retention rule, enforced instead of documented.
    ``ignore_feeds=True`` breaks behind consumers knowingly (they
    fail with a typed ``FeedRetentionError`` on their next read)."""
    if keep_latest < 1:
        raise ValueError("keep_latest must be >= 1")
    versions = list_versions(root)
    cur = current_version(root)
    retire = [v for v in versions[:-keep_latest] if v != cur]
    if retire and not ignore_feeds:
        doomed = set(retire)
        conflicts = {
            fid: w
            for fid, w in _feed_low_water(root).items()
            if w in doomed
        }
        if conflicts:
            raise FeedPinnedError(conflicts)
    for v in retire:
        os.remove(_manifest_path(root, v))
    return retire


#: Default vacuum retention (7 days) — same order as Delta Lake's
#: ``deletedFileRetentionDuration`` default, and for the same reason:
#: a writer that has filled a fresh run dir but not yet published is
#: unreferenced-by-any-manifest ON PURPOSE, and must not be swept.
VACUUM_MIN_AGE_SECONDS = 7 * 24 * 3600


#: Default consumer-marker TTL (30 days): a feed consumer or stream
#: sink that has not advanced its marker in a month is presumed dead.
#: Deliberately much longer than any reasonable retention window — a
#: paused-but-live consumer losing its marker means retention can
#: break it (typed FeedRetentionError on resume), so the default errs
#: far toward keeping markers.
MARKER_TTL_SECONDS = 30 * 24 * 3600


def gc_consumer_markers(
    root: str,
    *,
    max_idle_seconds: float = MARKER_TTL_SECONDS,
    feeds: bool = True,
    sinks: bool = True,
    dry_run: bool = False,
) -> list[str]:
    """Drop durable consumer markers idle past a TTL — the retention
    hygiene for the two marker families that otherwise accumulate
    forever: change-feed low-water marks (``_versions/feed-<id>``,
    written by ``readStream.format("tss").option("feedId", ...)`` on
    each commit) and streaming-sink replay fences
    (``_versions/sink-<run_id>``, refreshed every micro-batch).

    Idleness is the marker's mtime: every live consumer/run refreshes
    its marker as it progresses, so "mtime older than
    ``max_idle_seconds``" means no progress for that long. Markers
    younger than the TTL are ALWAYS kept (a live-but-behind consumer
    keeps its `retire_versions` pin; a live sink run keeps its
    exactly-once fence) — same age-guard discipline as
    :func:`vacuum`. Consequences of a drop, stated plainly: a dropped
    FEED marker lets retention retire manifests the dead consumer
    would have pinned (a zombie that resumes dies with the typed
    ``FeedRetentionError``); a dropped SINK fence removes replay
    protection for a run that would have to stay crashed for the
    whole TTL and then replay — the manifest-scan fallback still
    fences any batch whose commit survives in history.

    Returns the dropped marker file names (with ``dry_run``, the
    droppable ones). Called by :func:`maintain_table` when its
    ``marker_ttl_seconds`` policy is set."""
    if max_idle_seconds <= 0:
        raise ValueError("max_idle_seconds must be > 0")
    vd = _versions_dir(root)
    if not os.path.isdir(vd):
        return []
    cutoff = time.time() - max_idle_seconds
    dropped: list[str] = []
    for n in sorted(os.listdir(vd)):
        if not (
            (feeds and n.startswith("feed-"))
            or (sinks and n.startswith("sink-"))
        ):
            continue
        full = os.path.join(vd, n)
        try:
            if os.path.getmtime(full) > cutoff:
                continue
            if not dry_run:
                os.remove(full)
        except OSError:
            continue  # racing refresh/removal: the marker is live
        dropped.append(n)
    return dropped


def vacuum(
    root: str,
    dry_run: bool = False,
    *,
    min_age_seconds: float = VACUUM_MIN_AGE_SECONDS,
    ignore_clones: bool = False,
) -> list[str]:
    """Delete data files referenced by NO surviving manifest (run
    after :func:`retire_versions`). Returns the deleted (or, with
    ``dry_run``, deletable) paths relative to root.

    Files younger than ``min_age_seconds`` (by mtime) are always kept:
    an in-flight writer's fresh ``new_data_dir`` is unreferenced until
    its ``publish_version`` commits, so an age-blind vacuum running
    concurrently would destroy the whole in-flight run. Pass
    ``min_age_seconds=0`` only when no writer can be active.

    Live registered shallow clones (:func:`list_clones`) PIN the
    files their fork snapshot references: a vacuum that would delete
    a pinned file refuses with :class:`ClonePinnedError` (before
    deleting anything) — publishing back or deregistering the clone
    releases the pin; ``ignore_clones=True`` breaks the clones
    knowingly. ``dry_run`` reports pinned files as deletable without
    raising (planning view).

    Walks ``root/data`` + ``root/dv`` (deletion-vector sidecars are
    manifest-referenced files like any other) and the manifests only
    — metadata-scale work regardless of data size."""
    # liveness from the UNION of unique segment ids across surviving
    # manifests — each unique segment parses ONCE, so consecutive
    # versions sharing almost all segments cost O(unique segments),
    # not O(versions x files); plain manifests contribute inline
    live: set[str] = set()
    live_segs: set[str] = set()
    for v in list_versions(root):
        raw = _read_manifest_raw(root, v)
        if "segments" in raw:
            for sid in raw["segments"]:
                if sid in live_segs:
                    continue
                live_segs.add(sid)
                for e in _load_segment(root, sid):
                    live.add(e["file"])
                    if "dv" in e:
                        live.update(e["dv"]["sidecars"])
        else:
            live.update(raw["files"])
            for e in (raw.get("dv") or {}).values():
                live.update(e["sidecars"])
    cutoff = time.time() - min_age_seconds
    doomed: list[str] = []
    young: set[str] = set()  # "data/<run>" / "dv/<run>" holding young files
    namespaces = [os.path.join(root, ns) for ns in ("data", "dv")]
    for ns_root in namespaces:
        for cur, _dirs, names in os.walk(ns_root):
            for n in names:
                if n.startswith((".", "_")):  # _SUCCESS / .crc markers
                    continue
                full = os.path.join(cur, n)
                rel = os.path.relpath(full, root)
                if rel in live:
                    continue
                if os.path.getmtime(full) > cutoff:
                    young.add(
                        os.sep.join(rel.split(os.sep)[:2])
                        if os.sep in rel
                        else rel
                    )
                    continue
                doomed.append(rel)
    if not dry_run and not ignore_clones:
        pinned = _clone_pinned_files(root)
        hit = [rel for rel in doomed if rel in pinned]
        if hit:
            raise ClonePinnedError(
                sorted({pinned[rel] for rel in hit}), hit
            )
    if not dry_run:
        import shutil

        for rel in doomed:
            os.remove(os.path.join(root, rel))
        # a run dir with no live files left is dead wholesale —
        # remove it including writer markers (_SUCCESS, .crc) —
        # unless it still holds too-young (possibly in-flight) files
        for ns_root in namespaces:
            if not os.path.isdir(ns_root):
                continue
            ns = os.path.basename(ns_root)
            for run in os.listdir(ns_root):
                key = os.path.join(ns, run)
                prefix = key + os.sep
                if key not in young and not any(
                    f.startswith(prefix) for f in live
                ):
                    shutil.rmtree(os.path.join(ns_root, run))
    # metadata-segment GC: content-addressed segments referenced by
    # no surviving manifest and no clone marker are garbage
    # (retire_versions orphans them). Same age guard as data files —
    # a racing publish writes (or mtime-refreshes) its segments
    # BEFORE its manifest links into place. Reported in the returned
    # list and simulated under dry_run like everything else vacuum
    # touches — an audit built from the return must see the whole
    # deletion.
    segdir = _segments_dir(root)
    if os.path.isdir(segdir):
        # live_segs was already collected in the liveness walk above
        rootabs = os.path.abspath(root)
        for c in list_clones(root):
            if c.get("segments") and os.path.abspath(
                c.get("segments_root") or root
            ) == rootabs:
                live_segs.update(c["segments"])
        for n in sorted(os.listdir(segdir)):
            if not (n.startswith("seg-") and n.endswith(".json")):
                continue
            full = os.path.join(segdir, n)
            if n[:-5] in live_segs:
                continue
            if os.path.getmtime(full) > cutoff:
                continue
            doomed.append(os.path.relpath(full, root))
            if not dry_run:
                os.remove(full)
    return sorted(doomed)


def compact_version(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    *,
    version: int | None = None,
    small_threshold: int | None = None,
    include_dv_files: bool = False,
    verify: bool = True,
    metadata: dict | None = None,
) -> dict:
    """Small-file compaction WITHOUT breaking time travel: rewrite a
    snapshot's under-sized parquet files into ~``target_bytes``
    outputs and publish the result as a NEW version. The input
    version (and every other) stays readable until retired+vacuumed
    — compaction is just another append-only commit.

    Why it matters at scale: streaming ingest and per-batch fencing
    produce many small part files; a 100k-file snapshot pays listing,
    open, and footer costs per file and starves scan parallelism
    (sub-row-group files → one task each). The Delta/Iceberg answer
    is OPTIMIZE/rewrite: data files are immutable, so compaction is a
    rewrite + manifest swap, never an in-place merge.

    Plan shape: file sizes come from a driver-side stat of the
    manifest list (metadata-scale); files ≥ ``small_threshold``
    (default ``target_bytes // 2``) are carried over untouched; the
    small ones are read in ONE Spark job and repartitioned to
    ``ceil(total_small_bytes / target_bytes)`` outputs written to a
    fresh immutable run dir. ``verify=True`` adds a row-count check
    of small-in vs compacted-out before publishing (two counts over
    the small slice only).

    ``include_dv_files=True`` additionally rewrites every file that
    carries deletion-vector tombstones (`io/deletion_vectors.py`),
    folding the anti-join debt into clean files — the LSM
    tombstone-collapse move; `maintain_table` triggers it from a
    dv-fraction policy.

    Returns the new manifest; if nothing qualifies for compaction,
    returns the CURRENT manifest unchanged (no empty commit).
    """
    import math

    from .deletion_vectors import dv_map, read_with_dv

    m = read_manifest(root, version)
    dvm = dv_map(m)
    threshold = small_threshold if small_threshold is not None else target_bytes // 2
    keep: list[str] = []
    small: list[str] = []
    small_bytes = 0
    for rel in m["files"]:
        size = os.path.getsize(os.path.join(root, rel))
        if size < threshold or (include_dv_files and rel in dvm):
            small.append(rel)
            small_bytes += size
        else:
            keep.append(rel)
    if len(small) < 2 and not any(f in dvm for f in small):
        return m  # nothing worth rewriting
    # rewrites materialize survivors: read the rewrite slice with its
    # tombstones applied (LOGICAL view), and write it back under the
    # frozen PHYSICAL names so the on-disk name space never forks
    from .table_schema import to_physical

    small_df = to_physical(
        read_with_dv(spark, root, m, small), m, context="compact"
    )
    bspec = m["metadata"].get("bucket_spec")
    pspec = m["metadata"].get("partition_spec")
    if pspec:
        # Hive-partitioned snapshot (io/partitioned_table.py): the
        # directory layout is a manifest contract — compaction
        # consolidates small files WITHIN partition (and nested
        # bucket) dirs and carries the spec forward
        from .partitioned_table import _write_partitioned_run

        fresh = _write_partitioned_run(small_df, root, pspec, bspec)
    elif bspec:
        # bucket-spec'd snapshot (io/bucketed_table.py): the layout
        # is a manifest contract — compaction consolidates small
        # files WITHIN buckets (one output file per touched bucket)
        # and carries the spec forward. A plain rewrite would emit
        # files outside the __kb dirs and break key-pruned reads.
        from .bucketed_table import _write_bucketed_run

        fresh = _write_bucketed_run(small_df, root, bspec)
    else:
        n_out = max(1, math.ceil(small_bytes / target_bytes))
        run_dir = new_data_dir(root)
        small_df.repartition(n_out).write.mode("overwrite").parquet(run_dir)
        fresh = [os.path.relpath(p, root) for p in data_files(run_dir)]
    if verify:
        n_in = small_df.count()
        n_out_rows = spark.read.parquet(
            *[os.path.join(root, f) for f in fresh]
        ).count()
        if n_in != n_out_rows:
            raise RuntimeError(
                f"compaction row-count mismatch: {n_in} in, "
                f"{n_out_rows} out"
            )
    meta = {
        "compaction_of": m["version"],
        "files_in": len(small),
        "files_out": len(fresh),
        **(metadata or {}),
    }
    from .deletion_vectors import dv_rows

    folded = dv_rows(m, small)
    if folded:
        meta["dv_rows_folded"] = folded
    if bspec:
        meta["bucket_spec"] = bspec
    from .zonemap import stats_like

    # row-preserving maintenance commit: auto-rebases over concurrent
    # appends/maintenance on other files; the compacted outputs get
    # zone maps on the same columns the base tracked
    return commit_files(
        root,
        base_version=m["version"],
        kind="maintenance",
        add_files=fresh,
        remove_files=small,
        add_stats=stats_like(root, m, fresh, spark=spark),
        metadata=meta,
        spark=spark,
    )


def table_health(
    root: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    small_threshold: int | None = None,
    version: int | None = None,
) -> dict:
    """Metadata-scale health probe of a snapshot — the SENSOR side of
    :func:`maintain_table`: file counts, how many are under-sized
    (footer+open cost, starved scan parallelism), and how much
    merge-on-read tombstone debt readers are paying
    (`io/deletion_vectors.py` anti-joins)."""
    from .deletion_vectors import dv_map, dv_rows

    m = read_manifest(root, version)
    threshold = (
        small_threshold if small_threshold is not None else target_bytes // 2
    )
    sizes = [os.path.getsize(os.path.join(root, f)) for f in m["files"]]
    return {
        "version": m["version"],
        "n_files": len(m["files"]),
        "n_small": sum(1 for s in sizes if s < threshold),
        "total_bytes": sum(sizes),
        "dv_files": len(dv_map(m)),
        "dv_rows": dv_rows(m),
    }


def maintain_table(
    spark: SparkSession,
    root: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    small_threshold: int | None = None,
    max_small_files: int = 8,
    max_dv_rows: int = 100_000,
    verify: bool = True,
    marker_ttl_seconds: float | None = None,
) -> dict:
    """Policy-driven auto-maintenance — the ACTUATOR loop an ingest
    pipeline calls after its commits instead of a human watching the
    audits: when the small-file count exceeds ``max_small_files`` OR
    the tombstone debt exceeds ``max_dv_rows`` rows, run ONE
    :func:`compact_version` (folding deletion vectors whenever the dv
    bound tripped). Does nothing when the table is healthy, so it is
    safe (and cheap — one manifest read + file stats) to call every
    cycle. With ``marker_ttl_seconds`` set, also drops consumer
    markers idle past that TTL (:func:`gc_consumer_markers` — dead
    feed pins and sink fences stop accumulating). Returns the health
    probe plus what was done::

        {"health": {...}, "compacted": bool, "dv_folded": bool,
         "markers_dropped": [...], "version": <current after
         maintenance>}

    Concurrency: compaction goes through the multi-writer commit loop
    as a ``maintenance`` commit; if a racing writer rewrote the same
    files, the conflict is swallowed and reported
    (``conflict=True``) — maintenance is never urgent, the next
    cycle re-plans against the new current version."""
    health = table_health(
        root, target_bytes=target_bytes, small_threshold=small_threshold,
    )
    fold = health["dv_rows"] > max_dv_rows
    compact = fold or health["n_small"] > max_small_files
    out = {
        "health": health,
        "compacted": False,
        "dv_folded": False,
        "conflict": False,
        "markers_dropped": (
            gc_consumer_markers(
                root, max_idle_seconds=marker_ttl_seconds
            )
            if marker_ttl_seconds is not None
            else []
        ),
        "version": health["version"],
    }
    if compact:
        try:
            m = compact_version(
                spark,
                root,
                target_bytes=target_bytes,
                small_threshold=small_threshold,
                include_dv_files=fold,
                verify=verify,
            )
        except TableConflictError:
            out["conflict"] = True
            out["version"] = current_version(root)
            return out
        out["compacted"] = m["version"] != health["version"]
        out["dv_folded"] = fold and out["compacted"]
        out["version"] = m["version"]
    return out


