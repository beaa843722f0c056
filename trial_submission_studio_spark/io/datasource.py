"""`spark.read.format("tss")` — a PySpark 4 Python DataSource veneer
over the versioned table format, batch AND streaming.

Why a DataSource when every function already reads manifests: the
format route moves snapshot resolution, zone-map/partition/mapping
pruning and the dv anti-join INSIDE the planner —
``spark.read.format("tss").option("root", ...).option("asOf", ...)``
is the one-liner a downstream user expects, ``pushFilters`` receives
the query's conjuncts and shrinks the FILE PARTITIONS before Spark
schedules a task (the Python-DS equivalent of ``PushedFilters`` in a
parquet scan), and ``readStream`` turns the commit log into a
change-data-feed source with table VERSIONS as offsets.

Boundaries, stated plainly (the same ones measured in r12/r13): the
Python DataSource API cannot report hash clustering
(``SupportsReportPartitioning`` is JVM-only), so bucketed joins via
this route still shuffle — `io/bucketed_table.py:sync_catalog_bucketed`
remains the exchange-free path. And rows flow through Arrow batches
read by pyarrow in Python workers, which benchmarks slower than the
JVM parquet scan — the explicit-file-list readers
(`versioned.read_version` & co.) stay the hot path; this is the
convenience/pushdown surface, priced honestly.

Batch semantics: one :class:`InputPartition` per surviving data file
(after `io/zonemap.py:prune_manifest` with the pushed conjuncts — which
already composes footer stats, Hive-partition pseudo-stats and the
column mapping). Files carrying deletion vectors read WITHOUT arrow
predicate filtering (row ordinals must survive to apply tombstones),
then mask; plain files let pyarrow skip row groups. Every pushed
filter is also RETURNED to Spark for re-evaluation, so pruning can
only cost speed, never rows — the module-wide discipline.

Streaming semantics (the format's CDC-out side): offsets are
``{"version": N}``; each micro-batch is the
RETRACT STREAM of commits ``(start, end]`` — live rows of removed
files and newly-tombstoned rows emit ``_change="delete"``, live rows
of added files and dv-rollback resurrections emit
``_change="insert"`` (an update is delete+insert of the same key, the
Flink retract model). A signed aggregate over the feed therefore
equals the batch aggregate of the final snapshot, pinned by test.
Offset management runs driver-side on stdlib manifest mirrors; the
DATA reads fan out to EXECUTORS, one task per changed file, so a
bulk first snapshot or a large commit never materializes on the
driver. History must be retained while consumers are behind
(``retire_versions`` keeping their horizon), same rule as any CDC
log. Restart resumes from the checkpointed version offset and
rebuilds identical batches (partitioning is deterministic from the
manifests).

Write symmetry: ``df.write.format("tss")`` (batch create / append /
snapshot-replace overwrite through the commit loop) and
``df.writeStream.format("tss")`` (exactly-once streaming APPEND sink
— one fenced commit per micro-batch, replays commit nothing; see
:class:`_TssStreamWriter`).
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    DataSourceStreamReader,
    WriterCommitMessage,
)

try:
    # Pickle OUR classes by value: the streaming source runner worker
    # receives the DataSource pickle WITHOUT the session's pyFiles on
    # its path, so a by-reference class pickle would fail to import
    # this package at unpickle time. By-value makes the pickle
    # self-contained; the FEED reader additionally avoids package
    # imports at call time (the stdlib manifest helpers below),
    # while batch-side workers get the package via register()'s
    # addPyFile and may import it freely.
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

__all__ = ["TssDataSource", "register", "FeedRetentionError"]

_CHANGE = "_change"


class FeedRetentionError(RuntimeError):
    """A change-feed consumer's next batch needs a manifest that
    ``retire_versions`` already deleted — the CDC-log retention rule
    was broken while the consumer was behind. Named loudly (instead
    of the raw FileNotFoundError) so the operator knows WHICH rule to
    fix; registering the consumer with ``option("feedId", ...)`` lets
    retention refuse up front (`versioned.FeedPinnedError`)."""


def _ds_list_versions(root: str) -> list:
    """Self-contained mirror of `versioned.list_versions` (stdlib
    only — callable inside the no-pyFiles streaming runner)."""
    vd = os.path.join(root, "_versions")
    if not os.path.isdir(vd):
        return []
    return sorted(
        int(n[1:-5])
        for n in os.listdir(vd)
        if n.startswith("v") and n.endswith(".json")
    )


def _ds_read_manifest_raw(root: str, version: int) -> dict:
    import json

    path = os.path.join(root, "_versions", f"v{version:08d}.json")
    with open(path, encoding="utf-8") as f:
        return json.load(f)


#: stdlib mirror of `versioned.SEGMENT_MIN_FILES` /
#: `SEGMENT_TARGET_ENTRIES` — the sink runner has no pyFiles, so the
#: constants are duplicated rather than imported
_DS_SEGMENT_MIN_FILES = 256
_DS_SEGMENT_TARGET_ENTRIES = 1024


#: segment payload cache (mirror of versioned._SEG_CACHE): segments
#: are immutable and content-addressed, and the streaming sink runner
#: persists across micro-batches — without this, every commit of a
#: 10^3-segment table re-parses the whole store twice (resolve +
#: reuse check), making commit LATENCY O(table) even though the
#: written bytes are O(batch)
_DS_SEG_CACHE: dict = {}
_DS_SEG_CACHE_MAX = 256


def _ds_load_segment(root: str, sid: str) -> list:
    import json

    key = (os.path.abspath(root), sid)
    hit = _DS_SEG_CACHE.get(key)
    if hit is not None:
        return hit
    path = os.path.join(root, "_versions", "segments", sid + ".json")
    with open(path, encoding="utf-8") as f:
        entries = json.load(f)["entries"]
    while len(_DS_SEG_CACHE) >= _DS_SEG_CACHE_MAX:
        _DS_SEG_CACHE.pop(next(iter(_DS_SEG_CACHE)))
    _DS_SEG_CACHE[key] = entries
    return entries


class _DsSegmentMismatch(Exception):
    """Internal: the sink's raw segmented append found books that
    don't balance (stale/corrupt summary n_files) — the caller
    re-runs the batch through the fully-resolved classic path."""


def _ds_read_manifest(root: str, version: int) -> dict:
    """Stdlib mirror of `versioned.read_manifest` incl. segment
    resolution — only the accounting-fallback path still pays this
    full resolve; steady-state sink commits are raw."""
    raw = _ds_read_manifest_raw(root, version)
    if "segments" not in raw:
        return raw
    m = dict(raw)
    files, stats, dv = [], {}, {}
    for sid in raw["segments"]:
        for e in _ds_load_segment(root, sid):
            f = e["file"]
            files.append(f)
            if "stats" in e:
                stats[f] = e["stats"]
            if "dv" in e:
                dv[f] = e["dv"]
    m["files"] = sorted(files)
    if stats:
        m["stats"] = stats
    if dv:
        m["dv"] = dv
    return m


def _ds_diff_manifests(root: str, raw_a: dict, raw_b: dict) -> dict:
    """Stdlib mirror of `versioned._diff_raw`: file-grain diff of two
    RAW manifests loading only the segments the two versions do NOT
    share (shared ids are content-addressed, hence byte-identical).
    This is what makes each change-feed trigger O(delta) metadata —
    a 16-file micro-batch on a 10^6-file table resolves one or two
    segments, never both full file sets."""

    def entry_map(raw, skip):
        out = {}
        if "segments" in raw:
            for sid in raw["segments"]:
                if sid in skip:
                    continue
                for e in _ds_load_segment(root, sid):
                    out[e["file"]] = e
        else:
            dv = raw.get("dv") or {}
            for f in raw.get("files", ()):
                e = {"file": f}
                if f in dv:
                    e["dv"] = dv[f]
                out[f] = e
        return out

    shared = set()
    if "segments" in raw_a and "segments" in raw_b:
        shared = set(raw_a["segments"]) & set(raw_b["segments"])
    map_a = entry_map(raw_a, shared)
    map_b = entry_map(raw_b, shared)
    added = sorted(set(map_b) - set(map_a))
    removed = sorted(set(map_a) - set(map_b))
    dv_changed = sorted(
        f
        for f in set(map_a) & set(map_b)
        if map_a[f].get("dv") != map_b[f].get("dv")
    )
    return {
        "added": added,
        "removed": removed,
        "dv_changed": dv_changed,
        "dv_from": {
            f: map_a[f]["dv"]
            for f in removed + dv_changed
            if "dv" in map_a[f]
        },
        "dv_to": {
            f: map_b[f]["dv"]
            for f in added + dv_changed
            if "dv" in map_b[f]
        },
    }


def register(spark) -> None:
    """Register the ``tss`` format on a session.

    DataSource code runs in PYTHON WORKER processes (the planning
    worker and the executors), which cannot import this package
    unless it is shipped to them — cloudpickle by-value does not
    help, because the package's lazy ``from . import ...`` statements
    execute at CALL time inside the worker. So this ships the package
    the standard deployment way: one source zip via ``sc.addPyFile``
    (zipimport makes it importable in every worker), then registers
    the format. Idempotent per session.

    Side effect, stated plainly: this enables the session-global
    ``spark.sql.python.filterPushdown.enabled`` conf (off by default
    in Spark 4) — without it ``pushFilters`` is never called and the
    format route loses file pruning. It applies to every Python
    DataSource on the session, not just ``tss``."""
    import tempfile
    import zipfile

    import trial_submission_studio_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    # uid-scoped name: the temp dir is world-shared, and a second OS
    # user's os.replace onto another's file is a PermissionError
    uid = getattr(os, "getuid", lambda: "u")()
    zip_path = os.path.join(
        tempfile.gettempdir(), f"tss_pkg_datasource_{uid}.zip"
    )
    tmp = zip_path + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for cur, _dirs, names in os.walk(pkg_dir):
            if "__pycache__" in cur:
                continue
            for n in sorted(names):
                if not n.endswith(".py"):
                    continue
                full = os.path.join(cur, n)
                rel = os.path.join(
                    os.path.basename(pkg_dir),
                    os.path.relpath(full, pkg_dir),
                )
                zf.write(full, rel)
    os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    # pushFilters is gated behind this runtime conf (off by default)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TssDataSource)


def _filter_conjunct(f: Filter):
    """Translate one Spark DS filter to a zonemap conjunct, or None
    when out of the pruning vocabulary (nested column, Not, string
    matchers...) — untranslatable filters simply don't prune."""
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None
    col = attr[0]
    if isinstance(f, EqualTo):
        return (col, "=", f.value)
    if isinstance(f, GreaterThan):
        return (col, ">", f.value)
    if isinstance(f, GreaterThanOrEqual):
        return (col, ">=", f.value)
    if isinstance(f, LessThan):
        return (col, "<", f.value)
    if isinstance(f, LessThanOrEqual):
        return (col, "<=", f.value)
    if isinstance(f, In):
        return (col, "in", list(f.value))
    if isinstance(f, IsNull):
        return (col, "isnull")
    if isinstance(f, IsNotNull):
        return (col, "isnotnull")
    return None


def plan_files(
    root: str, version: int | None, conjuncts: list[tuple]
) -> dict:
    """The driver-side plan the batch reader executes: the pruned
    file list + the kept files' dv refs (zone maps x partition dirs x
    column mapping), resolved TWO-LEVEL on segmented manifests —
    segment summaries skip whole metadata segments before any of
    their entries load (`zonemap.prune_manifest`), so a selective
    read on a huge table never parses the non-matching metadata.
    Exposed for tests/audits — the `plan_facts` of the format route."""
    from .zonemap import prune_manifest

    pr = prune_manifest(root, version, list(conjuncts))
    return {
        "files": pr["kept"],
        "dv": pr["dv"],
        "files_total": pr["files_total"],
        "files_skipped": pr["files_skipped"],
        "segments_total": pr["segments_total"],
        "segments_skipped": pr["segments_skipped"],
        "conjuncts": list(conjuncts),
    }


@dataclass
class _FilePartition(InputPartition):
    path: str  # absolute
    sidecars: tuple  # absolute sidecar paths holding this file's dv
    dv_key: str  # the manifest key tombstones use for this file


def _arrow_filters(conjuncts: list[tuple], mapping: dict | None):
    """Zonemap conjuncts -> pyarrow DNF filters (physical names).
    CORRECTNESS NOTE: unlike manifest pruning, arrow-level filters
    really drop rows and Spark cannot resurrect them — so only
    conjuncts that are exactly re-expressible land here (numeric /
    string / bool literals; datetime literals are skipped because a
    tz-mismatch between the predicate and the file encoding could
    over-filter). Everything skipped is still enforced by Spark's
    re-applied filter; skipping only costs row-group skipping."""

    def _safe(v):
        return isinstance(v, (int, float, str, bool)) and not (
            isinstance(v, float) and v != v
        )

    out = []
    for c in conjuncts:
        col = (mapping or {}).get(c[0], c[0])
        op = c[1]
        if op in ("=", "<", "<=", ">", ">=") and _safe(c[2]):
            out.append((col, "==" if op == "=" else op, c[2]))
        elif op == "in" and all(_safe(x) for x in c[2]):
            out.append((col, "in", list(c[2])))
    return out or None


def _read_file_arrow(
    path: str,
    phys_cols: list[str],
    sidecars: tuple,
    dv_key: str,
    filters=None,
):
    """One file as a pyarrow Table of exactly ``phys_cols`` (missing
    columns null-filled — add-column evolution), deletion-vector
    ordinals masked out. Plain files pass ``filters`` to pyarrow for
    row-group skipping; dv files must keep ordinals, so they read
    unfiltered and rely on Spark's re-applied filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    present = set(pf.schema_arrow.names)
    avail = [c for c in phys_cols if c in present]
    if filters:
        # a filter naming a column this file PREDATES (add-column
        # evolution) would crash pq.read_table with ArrowInvalid
        # ('No match for FieldRef.Name') — restrict to columns in
        # this footer; Spark re-applies every conjunct, so skipping
        # one only costs row-group skipping, never rows
        filters = [f for f in filters if f[0] in present] or None
    if sidecars:
        import numpy as np

        t = pq.read_table(path, columns=avail)
        doomed = set()
        for s in sidecars:
            sc = pq.read_table(
                s,
                columns=["__tss_file", "__tss_pos"],
                filters=[("__tss_file", "==", dv_key)],
            )
            doomed.update(sc.column("__tss_pos").to_pylist())
        if doomed:
            # vectorized keep-mask (numpy fancy-index assignment +
            # zero-copy arrow wrap) — the per-row Python list
            # comprehension this replaces was the last row-at-a-time
            # loop in a data-plane path. Out-of-range ordinals (a
            # corrupt sidecar, or a path republished with fewer rows)
            # are dropped, matching the old mask's tolerance.
            idx = np.fromiter(doomed, count=len(doomed), dtype=np.int64)
            idx = idx[(idx >= 0) & (idx < t.num_rows)]
            mask = np.ones(t.num_rows, dtype=bool)
            mask[idx] = False
            t = t.filter(pa.array(mask))
    else:
        t = pq.read_table(path, columns=avail, filters=filters)
    for c in phys_cols:
        if c not in t.column_names:
            t = t.append_column(c, pa.nulls(t.num_rows))
    return t.select(phys_cols)


def _snapshot_arrow_fields(
    root: str, files: list, want, max_footers=64,
    union_nullability=False,
):
    """name -> (Spark DataType, nullable) resolved from parquet
    FOOTERS, plus the first footer's field order. Reads footers until
    every ``want`` column is typed, HARD-CAPPED at ``max_footers`` —
    schema() is a metadata question and must never become an O(table)
    footer sweep on a 100k-file table (the caller types any survivor
    from the contract's recorded arrow type string instead).
    ``want=None`` is the single-footer fast path for contract-less
    unmapped tables, where every file shares one schema by
    construction.

    ``union_nullability=True`` scans EVERY given footer (caller
    bounds the list) and declares a column non-nullable only when it
    is present and non-nullable in ALL of them — the only SOUND way
    to claim non-nullability, because the reader null-fills a column
    a file predates, and Spark's optimizer folds ``IS NULL`` on a
    non-nullable attribute to false."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    types: dict = {}
    order: list = []
    seen_in: dict = {}
    n_read = 0
    for rel in files[:max_footers]:
        sch = from_arrow_schema(
            pq.ParquetFile(os.path.join(root, rel)).schema_arrow
        )
        n_read += 1
        for f in sch.fields:
            if f.name in types:
                t, nb = types[f.name]
                types[f.name] = (t, nb or f.nullable)
            else:
                types[f.name] = (f.dataType, f.nullable)
            seen_in[f.name] = seen_in.get(f.name, 0) + 1
        if not order:
            order = [f.name for f in sch.fields]
        if not union_nullability and (
            want is None or all(w in types for w in want)
        ):
            break
    if union_nullability:
        types = {
            n: (t, nb or seen_in.get(n, 0) < n_read)
            for n, (t, nb) in types.items()
        }
    return types, order


def _spark_type_from_arrow_str(s: str):
    """Arrow type-string (the exact form the manifest's schema
    contract records — `table_schema.file_schema`) -> Spark DataType.
    Only the fallback for a contract column NO surviving footer
    carries; footer-resolved types always win."""
    import re

    from pyspark.sql import types as T

    flat = {
        "int8": T.ByteType(), "int16": T.ShortType(),
        "int32": T.IntegerType(), "int64": T.LongType(),
        "float": T.FloatType(), "double": T.DoubleType(),
        "string": T.StringType(), "large_string": T.StringType(),
        "bool": T.BooleanType(),
        "binary": T.BinaryType(), "large_binary": T.BinaryType(),
        "date32[day]": T.DateType(),
    }
    if s in flat:
        return flat[s]
    if s.startswith("timestamp["):
        return T.TimestampType() if "tz=" in s else T.TimestampNTZType()
    m = re.fullmatch(r"decimal128\((\d+),\s*(-?\d+)\)", s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"(?:large_)?list<item: (.+)>", s)
    if m:
        return T.ArrayType(_spark_type_from_arrow_str(m.group(1)))
    raise ValueError(
        f"cannot map arrow type string {s!r} to a Spark type"
    )


class _TssBatchReader(DataSourceReader):
    """Everything ``read()`` needs is resolved in ``__init__`` (the
    planning worker) or carried ON the partition objects — executor
    copies of the reader may be pickled BEFORE ``partitions()`` runs,
    so attributes set there must never be read-side state."""

    def __init__(self, options, schema):
        from . import versioned

        self._root = options["root"]
        v = options.get("version")
        as_of = options.get("asof") or options.get("asOf")
        if v is not None:
            self._version = int(v)
        elif as_of is not None:
            self._version = versioned.version_as_of(self._root, as_of)
        else:
            self._version = versioned.current_version(self._root)
        if self._version is None:
            raise FileNotFoundError(
                f"no published version under {self._root}"
            )
        self._schema = schema
        self._conjuncts: list[tuple] = []
        # RAW read: column_mapping is a top-level manifest key, so
        # resolving every segment here would defeat the two-level
        # pruning plan_files is about to do
        m = versioned._read_manifest_raw(self._root, self._version)
        self._mapping = m.get("column_mapping") or None

    def pushFilters(self, filters):
        for f in filters:
            c = _filter_conjunct(f)
            if c is not None:
                self._conjuncts.append(c)
            # return EVERY filter: file-grain pruning is approximate,
            # Spark must still evaluate the predicate on rows
            yield f

    def partitions(self):
        plan = plan_files(self._root, self._version, self._conjuncts)
        dv = plan["dv"]
        out = []
        for f in plan["files"]:
            e = dv.get(f)
            out.append(
                _FilePartition(
                    path=os.path.join(self._root, f),
                    sidecars=tuple(
                        os.path.join(self._root, s)
                        for s in (e["sidecars"] if e else ())
                    ),
                    dv_key=f,
                )
            )
        if not out:
            # a fully-pruned read still needs >=1 partition; the
            # sentinel tells read() to emit nothing
            out.append(_FilePartition(path="", sidecars=(), dv_key=""))
        return out

    def read(self, partition):
        if not partition.path:
            return  # fully-pruned sentinel
        logical = [f.name for f in self._schema.fields]
        phys = [(self._mapping or {}).get(c, c) for c in logical]
        t = _read_file_arrow(
            partition.path,
            phys,
            partition.sidecars,
            partition.dv_key,
            filters=_arrow_filters(self._conjuncts, self._mapping),
        )
        t = t.rename_columns(logical)
        yield from t.to_batches()


@dataclass
class _FeedPartition(InputPartition):
    change: str  # "insert" | "delete"
    kind: str  # "live" (whole file's live rows) | "dv_delta"
    path: str  # absolute data file path
    sidecars: tuple  # live: the file's dv sidecars; dv_delta: FRESH ones
    exclude_sidecars: tuple  # dv_delta: sidecars already dead before
    dv_key: str  # the manifest key tombstones use for this file
    phys: tuple  # physical column names to read, in logical order


class _TssFeedReader(DataSourceStreamReader):
    """Retract-stream change feed (see module docstring), as a FULL
    stream reader: offset management (initial/latest/partitions) runs
    in the no-pyFiles streaming runner on stdlib manifest mirrors,
    while the DATA reads fan out to executors — one task per changed
    file — so a large first snapshot or a bulk commit never
    materializes on the driver. Partitioning is deterministic from
    the two manifests, so a replayed offset range rebuilds the exact
    same batch (manifests must be retained while consumers are
    behind, the usual CDC-log rule)."""

    def __init__(self, options, schema):
        self._root = options["root"]
        self._start = int(options.get("startingVersion", 0))
        self._schema = schema
        fid = options.get("feedid") or options.get("feedId")
        if fid is not None and not all(
            c.isalnum() or c in "_-" for c in str(fid)
        ):
            raise ValueError(
                f"feedId must be [A-Za-z0-9_-]: {fid!r}"
            )
        self._feed_id = str(fid) if fid is not None else None

    def initialOffset(self):
        return {"version": self._start}

    def latestOffset(self):
        vs = _ds_list_versions(self._root)
        cur = vs[-1] if vs else None
        return {"version": max(self._start, cur or 0)}

    def commit(self, end):
        # durable consumer low-water mark (option("feedId", ...)):
        # records the newest version this consumer has fully
        # committed, so `versioned.retire_versions` can refuse to
        # delete the manifest a live consumer's next batch starts
        # from instead of letting it die on FeedRetentionError
        if self._feed_id is None:
            return
        import tempfile

        vd = os.path.join(self._root, "_versions")
        os.makedirs(vd, exist_ok=True)
        path = os.path.join(vd, f"feed-{self._feed_id}")
        v = int(end["version"])
        try:
            with open(path, encoding="utf-8") as f:
                if int(f.read().strip()) >= v:
                    return
        except (OSError, ValueError):
            pass
        fd, tmp = tempfile.mkstemp(dir=vd, suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(str(v))
        os.replace(tmp, path)

    def _raw_manifest(self, v):
        """RAW manifest (segment refs unresolved) with the feed's
        error mapping: a missing manifest is the retention rule
        broken; a missing SEGMENT (surfacing later, at diff time) is
        store damage — `partitions` maps that separately."""
        if v == 0:
            return {"files": [], "metadata": {}}
        try:
            return _ds_read_manifest_raw(self._root, v)
        except FileNotFoundError:
            raise FeedRetentionError(
                f"change-feed offset {v} of {self._root} was retired "
                "(retire_versions deleted its manifest) while this "
                "consumer still needed it — retain manifests while "
                "consumers are behind; pass option('feedId', ...) so "
                "retire_versions can see and refuse this, or restart "
                "the feed from a fresh checkpoint"
            ) from None

    def partitions(self, start, end):
        v_from, v_to = int(start["version"]), int(end["version"])
        if v_to <= v_from:
            return []
        a, b = self._raw_manifest(v_from), self._raw_manifest(v_to)
        logical = [
            f.name for f in self._schema.fields if f.name != _CHANGE
        ]
        # physical names are FROZEN: the newest mapping resolves the
        # stream's fixed logical schema for every version in range
        cm_b = b.get("column_mapping") or {}
        cm_a = a.get("column_mapping") or {}
        phys = tuple(cm_b.get(c, cm_a.get(c, c)) for c in logical)
        # segment-aware raw diff: each trigger loads only the
        # segments the two offsets do NOT share — O(delta) metadata
        # per micro-batch regardless of table size
        try:
            d = _ds_diff_manifests(self._root, a, b)
        except FileNotFoundError as e:
            # the manifests survive; what's missing is a SEGMENT file
            # one of them references — that's store damage (or a
            # broken segment GC), not the retention rule: don't send
            # the operator chasing retire_versions
            raise RuntimeError(
                f"a manifest in ({v_from}, {v_to}] of {self._root} "
                f"references a metadata segment that is missing ({e});"
                " the segment store is damaged — restore it or "
                "re-publish the snapshot"
            ) from e
        dv_a, dv_b = d["dv_from"], d["dv_to"]

        def _abs(rel):
            return os.path.join(self._root, rel)

        out = []
        for f in d["removed"]:  # removed: live-at-a rows retract
            e = dv_a.get(f)
            out.append(_FeedPartition(
                change="delete", kind="live", path=_abs(f),
                sidecars=tuple(_abs(x) for x in (e["sidecars"] if e else ())),
                exclude_sidecars=(), dv_key=f, phys=phys,
            ))
        for f in d["added"]:  # added: live-at-b rows insert
            e = dv_b.get(f)
            out.append(_FeedPartition(
                change="insert", kind="live", path=_abs(f),
                sidecars=tuple(_abs(x) for x in (e["sidecars"] if e else ())),
                exclude_sidecars=(), dv_key=f, phys=phys,
            ))
        for f in d["dv_changed"]:  # dv deltas, both directions
            sa = tuple(dv_a.get(f, {}).get("sidecars", ()))
            sb = tuple(dv_b.get(f, {}).get("sidecars", ()))
            dead = tuple(x for x in sb if x not in sa)
            if dead:  # newly tombstoned -> delete
                out.append(_FeedPartition(
                    change="delete", kind="dv_delta", path=_abs(f),
                    sidecars=tuple(_abs(x) for x in dead),
                    exclude_sidecars=tuple(_abs(x) for x in sa),
                    dv_key=f, phys=phys,
                ))
            res = tuple(x for x in sa if x not in sb)
            if res:  # dv rollback resurrection -> insert
                out.append(_FeedPartition(
                    change="insert", kind="dv_delta", path=_abs(f),
                    sidecars=tuple(_abs(x) for x in res),
                    exclude_sidecars=tuple(_abs(x) for x in sb),
                    dv_key=f, phys=phys,
                ))
        return out

    @staticmethod
    def _doomed(sidecars, dv_key):
        import pyarrow.parquet as pq

        out = set()
        for s in sidecars:
            sc = pq.read_table(
                s,
                columns=["__tss_file", "__tss_pos"],
                filters=[("__tss_file", "==", dv_key)],
            )
            out.update(sc.column("__tss_pos").to_pylist())
        return out

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = partition
        phys = list(p.phys)
        if p.kind == "live":
            t = _read_file_arrow(p.path, phys, p.sidecars, p.dv_key)
        else:
            rows = self._doomed(p.sidecars, p.dv_key) - self._doomed(
                p.exclude_sidecars, p.dv_key
            )
            names = pq.ParquetFile(p.path).schema_arrow.names
            t = pq.read_table(
                p.path, columns=[c for c in phys if c in names]
            )
            # take by sorted ordinal — vectorized in Arrow, replacing
            # the O(rows) per-row Python mask comprehension
            t = t.take(sorted(rows))
            for c in phys:
                if c not in t.column_names:
                    t = t.append_column(c, pa.nulls(t.num_rows))
            t = t.select(phys)
        if t.num_rows == 0:
            return
        logical = [
            f.name for f in self._schema.fields if f.name != _CHANGE
        ]
        t = t.rename_columns(logical).append_column(
            _CHANGE, pa.array([p.change] * t.num_rows, type=pa.string())
        )
        yield from t.to_batches()


@dataclass
class _WriteMessage(WriterCommitMessage):
    rel_files: tuple
    rows: int


class _TssWriter(DataSourceArrowWriter):
    """``df.write.format("tss")`` — the write half of the veneer.

    ``mode("append")`` commits the tasks' fresh files onto the
    current version through the multi-writer loop (creating the table
    when the root has no version); ``mode("overwrite")`` publishes a
    snapshot-replace commit (every previous file removed, history
    intact — time travel still reads the old versions). Each task
    writes ONE parquet file into a fresh immutable run dir; the
    driver-side commit is a single atomic manifest swap, and an
    aborted job removes the run dir so nothing half-written is ever
    referenced.

    Honest boundaries, refused loudly rather than silently degraded:
    CHECK-constraint tables (enforcement needs a SparkSession, which
    DataSource commit workers don't have — use
    `versioned.commit_files(spark=...)`), and bucket-/partition-
    spec'd tables (plain task files would break the layout contract —
    use ``append_bucketed`` / ``append_partitioned``). Column-mapped
    tables ARE supported: the logical input translates to the frozen
    physical names per batch. When the table records a schema
    contract, the fresh files are validated against it at commit
    (same gate as `table_schema.publish_checked`)."""

    def __init__(self, options, schema, overwrite):
        from . import versioned

        self._root = options["root"]
        self._overwrite = bool(overwrite)
        self._schema = schema
        self._mapping = None
        self._base_version = None
        cur = versioned.current_version(self._root)
        if cur is not None:
            # RAW read: mapping/constraints/layout are top-level keys
            m = versioned._read_manifest_raw(self._root, cur)
            self._base_version = m["version"]
            self._mapping = m.get("column_mapping") or None
            if m.get("constraints"):
                raise ValueError(
                    "table has CHECK constraints; the DataSource commit "
                    "worker has no SparkSession to enforce them — write "
                    "files and commit via versioned.commit_files(spark=...)"
                )
            md = m["metadata"]
            if md.get("bucket_spec") or md.get("partition_spec"):
                raise ValueError(
                    "table carries a layout contract (bucket/partition "
                    "spec); plain task files would break its pruning — "
                    "use append_bucketed / append_partitioned"
                )
        os.makedirs(os.path.join(self._root, "data"), exist_ok=True)
        import uuid

        self._run_dir = os.path.join(
            self._root, "data", uuid.uuid4().hex[:16]
        )
        os.makedirs(self._run_dir, exist_ok=False)

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        path = os.path.join(
            self._run_dir, f"part-{uuid.uuid4().hex[:16]}.parquet"
        )
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if self._mapping:
                    # logical input -> frozen physical file names; an
                    # unknown logical column must refuse like
                    # to_physical does — a silent passthrough would
                    # fork the on-disk name space with a column no
                    # logical projection ever reads
                    unknown = [
                        c
                        for c in batch.schema.names
                        if c not in self._mapping
                    ]
                    if unknown:
                        raise ValueError(
                            "write: columns not in the table's column "
                            f"mapping: {unknown}"
                        )
                    batch = batch.rename_columns(
                        [self._mapping[c] for c in batch.schema.names]
                    )
                if writer is None:
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return _WriteMessage(rel_files=(), rows=0)
        return _WriteMessage(
            rel_files=(os.path.relpath(path, self._root),), rows=rows
        )

    def commit(self, messages):
        from . import versioned
        from .table_schema import schema_violations, snapshot_schema

        files = [
            f for msg in messages if msg is not None
            for f in msg.rel_files
        ]
        if not files:
            # empty frame: nothing to publish (manifests refuse empty
            # lists; an overwrite-to-empty must be an explicit retire)
            os.rmdir(self._run_dir)
            return
        base_schema = None
        if self._base_version is not None:
            base_schema = versioned._read_manifest_raw(
                self._root, self._base_version
            ).get("schema")
        if base_schema:
            bad = schema_violations(
                base_schema, snapshot_schema(self._root, files)
            )
            if bad:
                self.abort(messages)
                raise ValueError(
                    "schema-incompatible write refused:\n  "
                    + "\n  ".join(bad)
                )
        if self._base_version is None:
            versioned.publish_files(
                self._root, files, metadata={"writer": "tss-datasource"}
            )
        elif self._overwrite:
            base = versioned.read_manifest(self._root, self._base_version)
            versioned.commit_files(
                self._root,
                base_version=self._base_version,
                kind="keyed",  # replaces rows: conflicts with any
                # concurrent non-maintenance commit, never clobbers it
                add_files=files,
                remove_files=base["files"],
                metadata={"writer": "tss-datasource", "overwrite": True},
            )
        else:
            versioned.commit_files(
                self._root,
                base_version=self._base_version,
                kind="append",
                add_files=files,
                metadata={"writer": "tss-datasource"},
            )

    def abort(self, messages):
        import shutil

        shutil.rmtree(self._run_dir, ignore_errors=True)


def _ds_maybe_segment(
    root: str, manifest: dict, prev_raw, added=None
) -> dict:
    """Stdlib mirror of `versioned._maybe_segment`: above the
    threshold, pack per-file entries into content-addressed segments,
    reusing every predecessor segment whose entries all survive —
    the sink's append reuses ALL of them and writes one delta
    segment, keeping commit metadata O(batch) on a huge table."""
    files = manifest["files"]
    if len(files) < _DS_SEGMENT_MIN_FILES:
        return manifest
    stats = manifest.get("stats") or {}
    dv = manifest.get("dv") or {}
    fset = set(files)
    covered: set = set()
    reused: list = []
    prev_summaries = (prev_raw or {}).get("segment_stats") or {}
    summaries: dict = {}
    covered_n = 0
    for sid in (prev_raw or {}).get("segments", ()):
        summ = prev_summaries.get(sid)
        if added is not None and summ and "file_min" in summ:
            # a sink commit is a PURE APPEND: every prior segment is
            # untouched by construction, so a ranged summary reuses
            # it with zero loads (mirror of versioned._maybe_segment's
            # delta fast path with an empty touched set)
            reused.append(sid)
            summaries[sid] = summ
            covered_n += summ["n_files"]
            continue
        entries = _ds_load_segment(root, sid)
        if all(
            e["file"] in fset
            and e.get("stats") == stats.get(e["file"])
            and e.get("dv") == dv.get(e["file"])
            for e in entries
        ):
            reused.append(sid)
            covered_n += len(entries)
            covered.update(e["file"] for e in entries)
            if sid in prev_summaries:
                # carry the two-level pruning summaries forward; a
                # segment without one simply loads at plan time
                summaries[sid] = prev_summaries[sid]
    if added is not None:
        residual_set = set(added)
        if covered_n + len(residual_set) != len(files):
            # books don't balance (stale summary): full per-entry scan
            return _ds_maybe_segment(root, manifest, prev_raw)
        residual = sorted(residual_set)
    else:
        residual = [f for f in files if f not in covered]
    # fold undersized tail segments (mirror of versioned's LSM-style
    # fold — keeps segment count O(files/target) under 1-file batches)
    while reused:
        n_tail = (summaries.get(reused[-1]) or {}).get("n_files")
        if n_tail is None:
            n_tail = len(_ds_load_segment(root, reused[-1]))
        if (
            n_tail >= _DS_SEGMENT_TARGET_ENTRIES // 2
            or n_tail + len(residual) > _DS_SEGMENT_TARGET_ENTRIES
        ):
            break
        tail = _ds_load_segment(root, reused[-1])
        summaries.pop(reused.pop(), None)
        residual = sorted(set(residual) | {e["file"] for e in tail})
    fresh: list = []
    for i in range(0, len(residual), _DS_SEGMENT_TARGET_ENTRIES):
        entries = []
        for f in residual[i : i + _DS_SEGMENT_TARGET_ENTRIES]:
            e: dict = {"file": f}
            if f in stats:
                e["stats"] = stats[f]
            if f in dv:
                e["dv"] = dv[f]
            entries.append(e)
        sid = _ds_write_segment_file(root, entries)
        fresh.append(sid)
        # ranged summary (entries are sorted) so the NEXT micro-batch
        # reuses this segment with zero loads; column summaries need
        # stats the sink doesn't collect — a later batch-side commit
        # upgrades them on its load-verify pass
        summaries[sid] = {
            "n_files": len(entries),
            "file_min": entries[0]["file"],
            "file_max": entries[-1]["file"],
        }
    out = {
        k: v for k, v in manifest.items()
        if k not in ("files", "stats", "dv")
    }
    out["segments"] = reused + fresh
    if summaries:
        out["segment_stats"] = summaries
    out["dv_rows"] = sum(e["rows"] for e in dv.values())
    return out


def _ds_append_segmented(
    root: str, cur_raw: dict, files: list, version: int, meta: dict
) -> dict:
    """Assemble the next RAW manifest for a pure sink append onto a
    SEGMENTED table without resolving it (stdlib mirror of the
    pure-append case of `versioned._commit_files_segmented`): prior
    segments whose recorded file-name range cannot contain any fresh
    path reuse with zero loads (sink files live under a per-run
    ``data/stream-<run>/`` prefix, so ranges practically never hit);
    a range hit loads just that segment for the duplicate check. The
    per-batch metadata cost is O(batch + segment refs), not
    O(table-files)."""
    import bisect

    summaries = cur_raw.get("segment_stats") or {}
    probe = sorted(files)
    residual = {f: {"file": f} for f in files}
    reused: list = []
    out_summ: dict = {}
    covered = 0
    for sid in cur_raw["segments"]:
        summ = summaries.get(sid)
        if summ and "file_min" in summ and "n_files" in summ:
            i = bisect.bisect_left(probe, summ["file_min"])
            if not (i < len(probe) and probe[i] <= summ["file_max"]):
                reused.append(sid)
                out_summ[sid] = summ
                covered += summ["n_files"]
                continue
        entries = _ds_load_segment(root, sid)
        if any(e["file"] in residual for e in entries):
            raise ValueError("duplicate files in streaming append")
        reused.append(sid)
        # entries are sorted chunks by construction — a missing
        # summary regains at least the range form
        out_summ[sid] = summ if summ and "file_min" in summ else {
            "n_files": len(entries),
            "file_min": entries[0]["file"],
            "file_max": entries[-1]["file"],
        }
        covered += len(entries)
    # LSM tail fold (mirror of _ds_maybe_segment)
    while reused:
        n_tail = (out_summ.get(reused[-1]) or {}).get("n_files")
        if n_tail is None:
            n_tail = len(_ds_load_segment(root, reused[-1]))
        if (
            n_tail >= _DS_SEGMENT_TARGET_ENTRIES // 2
            or n_tail + len(residual) > _DS_SEGMENT_TARGET_ENTRIES
        ):
            break
        sid_tail = reused.pop()
        out_summ.pop(sid_tail, None)
        tail = _ds_load_segment(root, sid_tail)
        for e in tail:
            residual[e["file"]] = e
        covered -= len(tail)
    fresh: list = []
    names = sorted(residual)
    for i in range(0, len(names), _DS_SEGMENT_TARGET_ENTRIES):
        chunk = [
            residual[f]
            for f in names[i : i + _DS_SEGMENT_TARGET_ENTRIES]
        ]
        sid = _ds_write_segment_file(root, chunk)
        fresh.append(sid)
        out_summ[sid] = {
            "n_files": len(chunk),
            "file_min": chunk[0]["file"],
            "file_max": chunk[-1]["file"],
        }
    import time as _time

    if covered + len(names) != cur_raw.get("n_files", 0) + len(files):
        # stale/corrupt summary n_files: recompute through the
        # classic fully-resolved path (loads, never wrong bytes)
        raise _DsSegmentMismatch
    out = {
        "version": version,
        "created_utc": _time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()
        ),
        "n_files": covered + len(names),
        "metadata": {**meta, "commit_kind": "append"},
    }
    # stats/dv stay inside segments on this path; only the top-level
    # contracts carry
    for k in ("schema", "constraints", "column_mapping"):
        if cur_raw.get(k):
            out[k] = cur_raw[k]
    for k in ("bucket_spec", "partition_spec",
              "partition_spec_history"):
        if cur_raw["metadata"].get(k):
            out["metadata"][k] = cur_raw["metadata"][k]
    out["segments"] = reused + fresh
    out["segment_stats"] = {
        sid: out_summ[sid] for sid in out["segments"]
    }
    out["dv_rows"] = cur_raw.get("dv_rows", 0)
    return out


def _ds_write_segment_file(root: str, entries: list) -> str:
    """Write one immutable content-addressed segment (stdlib mirror
    of `versioned._write_segment`, shared by the sink's segment
    paths)."""
    import hashlib
    import json
    import tempfile

    segdir = os.path.join(root, "_versions", "segments")
    os.makedirs(segdir, exist_ok=True)
    payload = json.dumps(
        {"entries": entries}, sort_keys=True, separators=(",", ":")
    )
    sid = "seg-" + hashlib.sha256(payload.encode()).hexdigest()[:32]
    spath = os.path.join(segdir, sid + ".json")
    if os.path.exists(spath):
        # resurrected orphan: refresh mtime so a racing vacuum's age
        # guard protects it
        try:
            os.utime(spath, None)
        except OSError:
            pass
        return sid
    fd, tmp = tempfile.mkstemp(dir=segdir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(payload)
        try:
            os.link(tmp, spath)
        except FileExistsError:
            pass  # content-addressed: the twin is identical
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return sid


def _ds_file_schema(path: str) -> list[dict]:
    """Stdlib+pyarrow mirror of `table_schema.file_schema`: one
    footer's ``[{"name","type","nullable"}, ...]`` sorted by name."""
    import pyarrow.parquet as pq

    sch = pq.ParquetFile(path).schema_arrow
    return sorted(
        (
            {"name": f.name, "type": str(f.type), "nullable": f.nullable}
            for f in sch
        ),
        key=lambda f: f["name"],
    )


def _ds_schema_violations(base: list[dict], new: list[dict]) -> list[str]:
    """Stdlib mirror of `table_schema.schema_violations` (strict — the
    sink has no evolution switch): dropped/new columns, exact type
    text, nullability drift."""
    b = {f["name"]: f for f in base}
    n = {f["name"]: f for f in new}
    out = []
    for name in sorted(set(b) - set(n)):
        out.append(f"column dropped: {name}")
    for name in sorted(set(n) - set(b)):
        out.append(f"new column: {name}")
    for name in sorted(set(b) & set(n)):
        if b[name]["type"] != n[name]["type"]:
            out.append(
                f"type changed: {name} {b[name]['type']} -> "
                f"{n[name]['type']}"
            )
        elif b[name]["nullable"] != n[name]["nullable"]:
            out.append(
                f"nullability changed: {name} "
                f"{b[name]['nullable']} -> {n[name]['nullable']}"
            )
    return out


def _ds_append_commit(
    root: str, files: list[str], meta: dict, max_retries: int = 10
) -> dict | None:
    """Self-contained append commit (stdlib only — the streaming
    sink runner worker has no pyFiles): carry the CURRENT manifest's
    files/stats/dv/schema/constraints/column-mapping/layout contracts
    verbatim, add ``files``, publish with the exclusive hard-link
    create, retry on a lost race. Mirrors the safe subset of
    `versioned.commit_files(kind="append")` — appends read nothing,
    so carrying the newest world is always a valid rebase."""
    import json
    import tempfile
    import time as _time

    vd = os.path.join(root, "_versions")
    os.makedirs(vd, exist_ok=True)
    # fresh-file footers read ONCE and only when a contract exists
    # (they don't change across retries); the contract they're checked
    # against re-reads per retry, so one appearing mid-loop is caught
    fresh_schemas: list | None = None

    def _fresh_schemas():
        nonlocal fresh_schemas
        if fresh_schemas is None:
            fresh_schemas = [
                (f, _ds_file_schema(os.path.join(root, f)))
                for f in files
                if f.endswith(".parquet")
            ]
        return fresh_schemas

    for _ in range(max_retries):
        vs = _ds_list_versions(root)
        cur_raw = _ds_read_manifest_raw(root, vs[-1]) if vs else None
        if cur_raw is not None and files:
            # contracts can appear MID-STREAM (an operator adds a
            # CHECK constraint or republishes a layout under the
            # running sink): appending unvalidated plain files would
            # silently bypass them — fail the stream loudly instead.
            # All contract keys are TOP-LEVEL on the raw manifest, so
            # no segment resolution is needed here.
            if cur_raw.get("constraints"):
                raise ValueError(
                    "table gained CHECK constraints mid-stream; the "
                    "sink cannot enforce them — switch to the "
                    "foreachBatch CDC route"
                )
            if cur_raw["metadata"].get("bucket_spec") or cur_raw[
                "metadata"
            ].get("partition_spec"):
                raise ValueError(
                    "table gained a layout contract mid-stream; plain "
                    "task files would break its pruning — switch to "
                    "the foreachBatch CDC route"
                )
            if cur_raw.get("schema"):
                # a restarted stream whose input drifted must not
                # append contract-violating files silently — the same
                # gate the batch writer applies via schema_violations
                for f, fsch in _fresh_schemas():
                    bad = _ds_schema_violations(cur_raw["schema"], fsch)
                    if bad:
                        raise ValueError(
                            "stream append violates the table's "
                            f"recorded schema contract ({f}):\n  "
                            + "\n  ".join(bad)
                        )
        version = (vs[-1] if vs else 0) + 1
        raw_ok = cur_raw is not None and "segments" in cur_raw
        if raw_ok:
            # r16: segmented table — assemble the next raw manifest
            # directly (O(batch + segment refs) per micro-batch); the
            # duplicate check rides the segment ranges
            try:
                manifest = disk = _ds_append_segmented(
                    root, cur_raw, files, version, meta
                )
            except _DsSegmentMismatch:
                raw_ok = False
        if not raw_ok:
            cur = (
                _ds_read_manifest(root, vs[-1])
                if cur_raw is not None and "segments" in cur_raw
                else cur_raw
            )
            base_files = list(cur["files"]) if cur else []
            all_files = sorted(base_files + files)
            if len(all_files) != len(set(all_files)):
                raise ValueError("duplicate files in streaming append")
            manifest = {
                "version": version,
                "created_utc": _time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()
                ),
                "files": all_files,
                "n_files": len(all_files),
                "metadata": {**meta, "commit_kind": "append"},
            }
            if cur:
                for k in ("stats", "schema", "dv", "constraints",
                          "column_mapping"):
                    if cur.get(k):
                        manifest[k] = cur[k]
                for k in ("bucket_spec", "partition_spec",
                          "partition_spec_history"):
                    if cur["metadata"].get(k):
                        manifest["metadata"][k] = cur["metadata"][k]
            disk = _ds_maybe_segment(root, manifest, cur_raw, added=files)
        path = os.path.join(vd, f"v{version:08d}.json")
        payload = json.dumps(disk, indent=1)
        fd, tmp = tempfile.mkstemp(dir=vd, suffix=".tmp")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(payload)
            try:
                os.link(tmp, path)
            except FileExistsError:
                # same absorb as versioned._atomic_create: an NFS
                # retransmit can report EEXIST for our OWN successful
                # link — identical content means we won; a retry would
                # otherwise see its own files in base_files and die on
                # the duplicate guard
                try:
                    with open(path, encoding="utf-8") as f:
                        existing = f.read()
                except OSError:
                    existing = None
                if existing != payload:
                    continue  # lost the create race: re-read the world
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        cpath = os.path.join(vd, "CURRENT")
        fd, tmp = tempfile.mkstemp(dir=vd, suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(str(version))
        os.replace(tmp, cpath)
        return manifest
    raise RuntimeError("streaming append: gave up after retries")


def _ds_sink_fence_path(root: str, run_id: str) -> str:
    # lives beside the manifests but matches neither the v*.json nor
    # the feed-* patterns; retire_versions/vacuum never touch it
    return os.path.join(root, "_versions", f"sink-{run_id}")


def _ds_write_sink_fence(
    root: str, run_id: str, batch_id: int, seen_version: int
) -> None:
    """Durably record this run's high-water batch id (monotone,
    atomic-replace). Written AFTER each successful commit — so the
    marker can lag the manifests by at most one batch (a crash in
    between), which the manifest scan fallback absorbs; it can never
    LEAD them, which would drop a batch. ``seen_version`` is the
    newest table version at write time: every fence of this run at or
    below it is covered by ``batch_id`` (batch ids are monotone), so
    the fallback scan may stop there."""
    import tempfile

    path = _ds_sink_fence_path(root, run_id)
    try:
        with open(path, encoding="utf-8") as f:
            if int(f.read().split()[0]) >= batch_id:
                return
    except (OSError, ValueError, IndexError):
        pass
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write(f"{batch_id} {seen_version}")
    os.replace(tmp, path)


def _ds_last_sink_batch(root: str, run_id: str):
    """Newest recorded stream-sink batch id for this writer identity:
    the durable per-run fence marker (survives ``retire_versions`` —
    the retention escape the r14 manifest-only fence had), maxed with
    a newest-first manifest scan covering the commit-then-crash-
    before-marker window. The scan stops at the first fence hit for
    this run (that IS the newest — batch ids are monotone) or at the
    marker's recorded seen-version (older fences are already covered
    by the marker), so arbitrarily many interleaved commits can never
    push the fence out of view — the old 200-manifest cap silently
    double-committed past it — while steady-state cost stays a few
    manifest reads."""
    best = None
    floor = 0
    try:
        with open(_ds_sink_fence_path(root, run_id), encoding="utf-8") as f:
            parts = f.read().split()
        best = int(parts[0])
        if len(parts) > 1:
            floor = int(parts[1])
    except (OSError, ValueError, IndexError):
        pass
    for v in reversed(_ds_list_versions(root)):
        if v <= floor:
            break
        try:
            sk = _ds_read_manifest_raw(root, v)["metadata"].get(
                "stream_sink"
            )
        except FileNotFoundError:
            break  # a racing retire swallowed it; the marker rules
        if sk and sk.get("run_id") == run_id:
            if best is None or sk["batch_id"] > best:
                best = sk["batch_id"]
            break
    return best


class _TssStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("tss")`` — exactly-once streaming
    APPEND sink over the manifest protocol. Each micro-batch's task
    files land as ONE append commit stamped with
    ``metadata.stream_sink = {run_id, batch_id}``; on the at-least-
    once replay Structured Streaming guarantees, a batch id at or
    below the newest recorded one for this run COMMITS NOTHING (the
    replayed task files stay unreferenced and age out via vacuum).
    Everything here is stdlib+pyarrow self-contained:
    the streaming sink runner worker carries no pyFiles.

    Refusals at start (loud, with the right alternative): non-append
    output modes, CHECK-constraint tables (no SparkSession to
    enforce), layout-spec'd tables (plain task files would break
    their pruning — use foreachBatch with merge_version)."""

    def __init__(self, options, schema, overwrite):
        import uuid

        if overwrite:
            raise ValueError(
                "tss streaming sink is append-only; complete/update "
                "output modes need an aggregate-aware sink — use "
                "foreachBatch with merge_version"
            )
        self._root = options["root"]
        self._schema = schema
        self._mapping = None
        vs = _ds_list_versions(self._root)
        if vs:
            # RAW read: mapping/constraints/layout are top-level keys
            m = _ds_read_manifest_raw(self._root, vs[-1])
            self._mapping = m.get("column_mapping") or None
            if m.get("constraints"):
                raise ValueError(
                    "table has CHECK constraints; the streaming sink "
                    "cannot enforce them — use foreachBatch with "
                    "merge_version instead"
                )
            md = m["metadata"]
            if md.get("bucket_spec") or md.get("partition_spec"):
                raise ValueError(
                    "table carries a layout contract; plain task files "
                    "would break its pruning — use foreachBatch with "
                    "append_bucketed/append_partitioned"
                )
        # one immutable run dir per query run; files are uuid-named
        # so replayed tasks can never collide
        self._run_id = options.get("queryRunId") or uuid.uuid4().hex[:16]
        os.makedirs(os.path.join(self._root, "data"), exist_ok=True)
        self._run_dir = os.path.join(
            self._root, "data", f"stream-{self._run_id}"
        )
        os.makedirs(self._run_dir, exist_ok=True)

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        path = os.path.join(
            self._run_dir, f"part-{uuid.uuid4().hex[:16]}.parquet"
        )
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if self._mapping:
                    unknown = [
                        c
                        for c in batch.schema.names
                        if c not in self._mapping
                    ]
                    if unknown:
                        raise ValueError(
                            "stream write: columns not in the table's "
                            f"column mapping: {unknown}"
                        )
                    batch = batch.rename_columns(
                        [self._mapping[c] for c in batch.schema.names]
                    )
                if writer is None:
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return _WriteMessage(rel_files=(), rows=0)
        return _WriteMessage(
            rel_files=(os.path.relpath(path, self._root),), rows=rows
        )

    def commit(self, messages, batchId):
        files = [
            f for msg in messages if msg is not None
            for f in msg.rel_files
        ]
        last = _ds_last_sink_batch(self._root, self._run_id)
        if last is not None and batchId <= last:
            # replayed batch: the fence says it already committed —
            # drop the rewritten task files, publish nothing
            for f in files:
                try:
                    os.remove(os.path.join(self._root, f))
                except OSError:
                    pass
            return
        if not files:
            # fence even an empty batch so a replay cannot double-
            # commit an earlier one after a gap — the durable marker
            # alone does it now; no junk manifest commit
            vs = _ds_list_versions(self._root)
            _ds_write_sink_fence(
                self._root, self._run_id, batchId, vs[-1] if vs else 0
            )
            return
        m = _ds_append_commit(
            self._root,
            files,
            {"stream_sink": {"run_id": self._run_id,
                             "batch_id": batchId}},
        )
        _ds_write_sink_fence(
            self._root, self._run_id, batchId, m["version"]
        )

    def abort(self, messages, batchId):
        for msg in messages or ():
            if msg is None:
                continue
            for f in msg.rel_files:
                try:
                    os.remove(os.path.join(self._root, f))
                except OSError:
                    pass


#: metadata views the format exposes (Iceberg's db.table.files /
#: .history shape): option("metadata", <name>)
_META_SCHEMAS = {
    "files": "file string, size_bytes long, num_rows long, "
             "dv_rows long, partition string",
    "partitions": "partition string, n_files long, num_rows long, "
                  "dv_rows long",
    "history": "version long, created_utc string, kind string, "
               "op string, n_files long, dv_rows long",
}


class _TssMetaReader(DataSourceReader):
    """Reader for the metadata views: the rows are manifest-derived
    and driver-sized, computed once in the planning worker and
    carried on a single partition."""

    def __init__(self, options, which):
        from . import versioned

        root = options["root"]
        v = options.get("version")
        version = int(v) if v is not None else None
        if which == "files":
            m = versioned.read_manifest(root, version)
            stats = m.get("stats") or {}
            dv = m.get("dv") or {}
            from .partitioned_table import merged_partition_spec

            pspec = merged_partition_spec(m)
            rows = []
            for f in m["files"]:
                pv = None
                if pspec:
                    import json as _json

                    from .partitioned_table import partition_values

                    vals = partition_values(f, pspec)
                    pv = (
                        _json.dumps(vals, sort_keys=True)
                        if vals else None
                    )
                rows.append((
                    f,
                    os.path.getsize(os.path.join(root, f)),
                    (stats.get(f) or {}).get("num_rows"),
                    dv.get(f, {}).get("rows", 0),
                    pv,
                ))
        elif which == "partitions":
            import json as _json

            from .partitioned_table import partition_values

            m = versioned.read_manifest(root, version)
            from .partitioned_table import merged_partition_spec

            # merged spec (current OR history): a dropped spec still
            # answers from old-generation layouts
            spec = merged_partition_spec(m)
            if spec is None:
                raise ValueError(f"{root} carries no partition_spec")
            stats = m.get("stats") or {}
            dv = m.get("dv") or {}
            agg: dict = {}
            for f in m["files"]:
                key = _json.dumps(
                    partition_values(f, spec), sort_keys=True
                )
                e = agg.setdefault(key, [0, 0, 0, True])
                e[0] += 1
                nr = (stats.get(f) or {}).get("num_rows")
                if nr is None:
                    e[3] = False
                else:
                    e[1] += nr
                e[2] += dv.get(f, {}).get("rows", 0)
            rows = [
                (k, e[0], e[1] if e[3] else None, e[2])
                for k, e in sorted(agg.items())
            ]
        else:  # history
            rows = [
                (h["version"], h["created_utc"], h["kind"], h["op"],
                 h["n_files"], h["dv_rows"])
                for h in versioned.table_history(root)
            ]
        self._rows = rows

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition):
        yield from self._rows


class TssDataSource(DataSource):
    """``format("tss")`` — options: ``root`` (required), ``version``
    or ``asOf`` (batch time travel), ``feed=true`` + optional
    ``startingVersion`` (streaming change feed),
    ``metadata=files|partitions|history`` (manifest-derived metadata
    views, the Iceberg ``db.table.files`` shape)."""

    @classmethod
    def name(cls):
        return "tss"

    def _is_feed(self):
        return str(self.options.get("feed", "")).lower() == "true"

    def _meta(self):
        w = self.options.get("metadata")
        if w and w not in _META_SCHEMAS:
            raise ValueError(
                f"unknown metadata view {w!r}; one of "
                f"{sorted(_META_SCHEMAS)}"
            )
        return w

    def schema(self):
        from pyspark.sql.types import StringType, StructField, StructType

        from . import versioned

        if self._meta():
            return _META_SCHEMAS[self._meta()]
        root = self.options["root"]
        v = self.options.get("version")
        as_of = self.options.get("asof") or self.options.get("asOf")
        if v is not None:
            version = int(v)
        elif as_of is not None:
            # the schema AND column mapping must come from the same
            # snapshot the reader will read — resolving asOf against
            # CURRENT would present post-rename names over pre-rename
            # data and silently null the column
            version = versioned.version_as_of(root, as_of)
        else:
            version = None
        if version is None:
            version = versioned.current_version(root)
            if version is None:
                raise FileNotFoundError(
                    f"no published version under {root}"
                )
        # RAW manifest: mapping + contract are top-level keys, and
        # footer sampling needs only a handful of file paths — on a
        # segmented store, load segments lazily instead of resolving
        # the whole metadata for a schema question
        m = versioned._read_manifest_raw(root, version)
        cm = m.get("column_mapping")
        # WHICH physical columns exist comes from the manifest's
        # recorded schema contract when present (the same authority
        # read_version's mergeSchema honors) — never from one sampled
        # footer, whose coverage under add-column evolution depends on
        # manifest sort order
        contract = {f["name"]: f for f in (m.get("schema") or [])}
        want = list(contract) if contract else (
            list(cm.values()) if cm else None
        )
        n_total = m.get("n_files", len(m.get("files") or ()))
        if "segments" in m:
            sample: list = []
            for sid in m["segments"]:
                sample.extend(
                    e["file"] for e in versioned._load_segment(root, sid)
                )
                if len(sample) >= 64:
                    break
            m = dict(m, files=sample)
        # Nullability soundness rule: the reader NULL-FILLS a column
        # any file predates (add-column evolution / heterogeneous
        # publishes), and Spark's optimizer constant-folds IS NULL on
        # a non-nullable attribute — so declaring non-nullable is only
        # safe when EVERY file provably carries the column
        # non-nullable. That proof is affordable exactly for small
        # contract-less unmapped tables (<= 64 footers, all scanned);
        # everything else presents nullable=True, like Spark's own
        # parquet relation does.
        sound_nonnull = (
            not cm
            and not contract
            and n_total == len(m["files"])
            and n_total <= 64
        )
        if sound_nonnull:
            by_phys, order = _snapshot_arrow_fields(
                root, m["files"], None,
                max_footers=len(m["files"]),
                union_nullability=True,
            )
        else:
            # one footer resolves everything for the common case;
            # columns it misses (add-column evolution) type from the
            # CONTRACT's recorded arrow type string — O(1) footer
            # reads regardless of where the evolved files sort. Only
            # an unparseable contract type (or a contract-less
            # mapping hole) pays a capped footer scan.
            by_phys, order = _snapshot_arrow_fields(
                root, m["files"], want, max_footers=1
            )
            by_phys = {
                n: (t, True) for n, (t, _nb) in by_phys.items()
            }
        unresolved = []
        for c in want or ():
            if c in by_phys:
                continue
            e = contract.get(c)
            if e is not None:
                try:
                    # typed from the contract, nullability forced True
                    # (the contract cannot prove presence in every
                    # file — an evolved column null-fills)
                    by_phys[c] = (
                        _spark_type_from_arrow_str(e["type"]), True
                    )
                    continue
                except ValueError:
                    pass
            unresolved.append(c)
        if unresolved:
            more, _ = _snapshot_arrow_fields(
                root, m["files"], unresolved
            )
            for c, t in more.items():
                by_phys.setdefault(c, (t[0], True))

        def _field(name, phys_name):
            t = by_phys.get(phys_name)
            if t is not None:
                # nullability rides from the footer field / contract
                # entry (pre-r15 behavior for unmapped tables) instead
                # of a hard-coded True
                return StructField(name, t[0], t[1])
            if contract:
                raise ValueError(
                    f"column {phys_name!r} is in neither the schema "
                    "contract's parseable types nor any scanned file "
                    "footer"
                )
            # contract-less mapped table whose physical column
            # survives in no scanned footer: skip it (the pre-r15 DS
            # behavior — with no contract and no footer there is no
            # type to present) rather than brick the read over a
            # vanished column
            return None

        if cm:
            fields = [
                f
                for f in (_field(lg, ph) for lg, ph in cm.items())
                if f is not None
            ]
        else:
            names = list(order)
            names += [n for n in (want or []) if n not in set(names)]
            fields = [
                f
                for f in (_field(n, n) for n in names)
                if f is not None
            ]
        if self._is_feed():
            fields = fields + [StructField(_CHANGE, StringType(), False)]
        return StructType(fields)

    def reader(self, schema):
        if self._meta():
            return _TssMetaReader(self.options, self._meta())
        return _TssBatchReader(self.options, schema)

    def streamReader(self, schema):
        return _TssFeedReader(self.options, schema)

    def writer(self, schema, overwrite):
        return _TssWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite):
        return _TssStreamWriter(self.options, schema, overwrite)
