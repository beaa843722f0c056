"""JSONL source/sink — the lingua-franca interchange format of LLM
training corpora (one JSON object per line; The Pile, RedPajama, C4,
Dolma, and most HuggingFace text datasets ship this way).

Everything here is built-in Spark machinery configured the way a
100 TB corpus run needs it — no UDFs, no Python parsing:

- **Schema is pinned, never inferred.** Schema inference runs a full
  extra pass over the data just to guess a schema; at corpus scale
  that doubles ingest cost and makes the result depend on which
  files happened to contain which optional keys. :func:`read_jsonl`
  REQUIRES an explicit schema (DDL string or StructType).
- **Parse is a Catalyst expression, not a datasource mode.** The scan
  is ``spark.read.text`` (one ``value`` column) and the parse is
  ``from_json(value, schema)`` with ``columnNameOfCorruptRecord`` in
  the parse schema. This deliberately avoids the JSON datasource's
  internal corrupt column, whose SPARK-21610 restriction forbids any
  query that prunes down to the corrupt column alone (e.g.
  ``quarantined.count()``) — here the quarantine column is an
  ordinary computed column with no such landmine, and the raw line
  and file path ride along for free. Jackson does the parsing
  JVM-side inside whole-stage codegen either way.
- **Quarantine and parse-pruning are a real tradeoff, surfaced as a
  flag.** Detecting a malformed line requires parsing the WHOLE line
  — so with ``quarantine=True`` (the ingest default) the parse
  carries the full schema. With ``quarantine=False`` the parse is an
  optionless ``from_json`` and Spark's ``OptimizeJsonExprs`` prunes
  it to the fields downstream references — a 2-key projection over a
  40-key document parses 2 keys. Use ``quarantine=True`` for the
  first ingest of untrusted data, ``quarantine=False`` for narrow
  analytical re-reads of corpora you already validated.
- **Malformed lines quarantine, never kill the job.** A bad line
  yields NULL data columns and the raw line in the quarantine column.
  :func:`split_quarantine` separates the streams; the bad stream keeps the raw line (and ``_path`` when
  requested) so a re-ingest after an upstream fix can target exactly
  the bad shards.
- **Compression layout = parallelism.** ``.jsonl`` splits by block
  (many tasks per file); ``.jsonl.gz`` is one task per file — fine
  when the corpus ships as many ~100 MB-1 GB members (the
  CommonCrawl story), pathological as one
  10 TB member. :func:`write_jsonl` defaults to gzip with an
  explicit shard count so what this engine emits is always
  re-ingestable in parallel.

The reference engine (rubentalstra/Trial-Submission-Studio) reads
clinical CSVs (crates/tss-ingest/src/csv/reader.rs), not JSONL; this
source belongs to the training-data extension surface
(SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Default quarantine column; kept out of the way of real keys.
CORRUPT_COL = "_corrupt_record"


def _as_struct(spark: SparkSession, schema) -> StructType:
    if isinstance(schema, StructType):
        return schema
    # DDL string → StructType via the session parser
    return spark.createDataFrame([], schema).schema


def read_jsonl(
    spark: SparkSession,
    path: str | list[str],
    schema,
    *,
    quarantine: bool = True,
    corrupt_col: str = CORRUPT_COL,
    with_path: bool = False,
    options: dict | None = None,
) -> DataFrame:
    """Read line-delimited JSON with a pinned schema and (optionally) a
    corrupt-line quarantine column.

    ``schema`` (required — see module docstring for why inference is
    banned at scale) covers the DATA columns; with
    ``quarantine=True`` ``corrupt_col`` is appended automatically.
    Malformed lines come back with data columns NULL and the raw
    line in ``corrupt_col``; well-formed lines have ``corrupt_col``
    NULL. With ``quarantine=False`` malformed lines yield all-NULL
    data columns (indistinguishable from an empty object — use the
    quarantine path for untrusted input) and the parse schema is
    prunable to the referenced fields (see module docstring).
    ``with_path`` adds the source file path as ``_path`` (quarantine
    provenance / incremental-ingest bookkeeping). ``options`` passes
    extra ``from_json`` options (e.g. ``timestampFormat``); any
    option disables parse-pruning, so keep the fast path optionless.

    Blank/whitespace-only lines are dropped (trailing-newline
    artifacts, not corrupt data — mirroring the JSON datasource).
    """
    struct = _as_struct(spark, schema)
    if corrupt_col in struct.fieldNames():
        raise ValueError(
            f"schema must not already contain the quarantine column "
            f"{corrupt_col!r}; pass corrupt_col= to rename it"
        )
    opts = dict(options or {})
    fields = list(struct.fields)
    if quarantine:
        fields.append(StructField(corrupt_col, StringType(), True))
        opts = {
            "columnNameOfCorruptRecord": corrupt_col,
            "mode": "PERMISSIVE",
            **opts,
        }
    parse_schema = StructType(fields)
    raw = spark.read.text(path)
    return _parse_lines(raw, parse_schema, opts, with_path)


def _parse_lines(
    raw: DataFrame, parse_schema: StructType, opts: dict, with_path: bool
) -> DataFrame:
    """The shared parse plan — batch and streaming reads differ ONLY in
    the text scan underneath (the engine's batch ≡ stream rule)."""
    cols = [F.col(f"_parsed.{f.name}") for f in parse_schema.fields]
    if with_path:
        cols.append(F.input_file_name().alias("_path"))
    return (
        raw.filter(F.trim(F.col("value")) != "")
        .withColumn("_parsed", F.from_json("value", parse_schema, opts))
        .select(*cols)
    )


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema,
    *,
    corrupt_col: str = CORRUPT_COL,
    with_path: bool = False,
    options: dict | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured-Streaming variant of :func:`read_jsonl` — the
    continuous-corpus-ingest front end (new ``.jsonl``/``.jsonl.gz``
    members landing in a directory become micro-batches).

    Same pinned schema, same quarantine contract, and literally the
    same parse plan as the batch reader (only the text scan differs)
    — downstream stages (dedup against persisted state, quality
    gates, sharded sink via ``foreachBatch``) compose unchanged; see
    `streaming/ingest.py`. ``max_files_per_trigger`` bounds
    micro-batch size for backfill over a large landing directory.
    """
    struct = _as_struct(spark, schema)
    if corrupt_col in struct.fieldNames():
        raise ValueError(
            f"schema must not already contain the quarantine column "
            f"{corrupt_col!r}; pass corrupt_col= to rename it"
        )
    opts = {
        "columnNameOfCorruptRecord": corrupt_col,
        "mode": "PERMISSIVE",
        **(options or {}),
    }
    parse_schema = StructType(
        list(struct.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return _parse_lines(reader.text(path), parse_schema, opts, with_path)


def split_quarantine(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> tuple[DataFrame, DataFrame]:
    """Split a :func:`read_jsonl` frame into (good, quarantined).

    ``good`` drops the quarantine column; ``quarantined`` keeps every
    column (data columns NULL, raw line in ``corrupt_col``, ``_path``
    if requested) so bad shards are traceable. Both sides are plain
    filters over the same lineage — Spark plans one scan per action;
    a caller materializing both streams should write ``quarantined``
    first (it is normally ~0 rows) or persist the parent. Unlike the
    JSON datasource's internal corrupt column, this one supports ANY
    query shape, including ``quarantined.count()``.
    """
    if corrupt_col not in df.columns:
        raise ValueError(f"no quarantine column {corrupt_col!r} in frame")
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    return good, bad


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    shards: int | None = None,
    compression: str | None = "gzip",
    mode: str = "error",
) -> None:
    """Write ``df`` as sharded JSONL (gzip by default).

    ``shards`` caps output file count via a round-robin
    ``repartition`` — at 100 TB you size shards to ~0.5-1 GB
    compressed so the re-ingest gets one healthy task per member
    (gzip members are not splittable); leaving ``shards=None`` keeps
    the upstream partitioning (no extra shuffle). NULL-valued keys
    are dropped per line (standard JSONL practice — readers treat
    absent and null alike under a pinned schema; this also keeps
    sparse optional fields from bloating every line).
    """
    out = df.repartition(shards) if shards else df
    writer = out.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
