"""EDC CSV ingest — the reference's tss-ingest surface, Spark-first.

Reference semantics reproduced (SURVEY.md §2.1 S1–S4):

- ``list_csv_files``: case-insensitive ``*.csv`` discovery, sorted by
  filename (reference: tss-ingest/src/discovery.rs:10-53).
- encoding detection by BOM sniff: UTF-8 (±BOM) passthrough, UTF-16
  LE/BE accepted (reference: tss-ingest/src/csv/reader.rs:97-167).
  Spark's CSV reader handles the encodings natively via the
  ``encoding`` option; we only sniff the BOM on the driver (first 4
  bytes) to pick the option value.
- 1- or 2-row headers: row 1 = human labels (optional), row 2 =
  column names, data after (reference: tss-ingest/src/csv/reader.rs:
  239-264, csv/header.rs:58-91). Labels are returned as a
  driver-side dict (schema-sized metadata, not data-plane).
- empty-string ≡ missing: the reference trims + special-cases blank
  strings in every operator (e.g. normalize/executor.rs:152-160); we
  normalize whitespace-only cells to NULL once at ingest instead.
- ``_row_id``: the reference relies on implicit file row order for
  --SEQ numbering and Dataset-XML row sequence. Under Spark
  parallelism order must be explicit, so ingest attaches a
  deterministic ``_row_id`` reconstructed from file-split offsets
  (``monotonically_increasing_id`` is monotone in (partition, offset)
  for a single-file scan).

Scale note: CSV is the *compatibility* ingest path (the reference caps
it at 500 MB per file); the engine's native at-scale source is
parquet.
"""

from __future__ import annotations

import codecs
import csv
import io
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_csv_files(directory: str) -> list[str]:
    """Case-insensitive *.csv listing, sorted by filename."""
    out = [
        os.path.join(directory, name)
        for name in os.listdir(directory)
        if name.lower().endswith(".csv") and os.path.isfile(os.path.join(directory, name))
    ]
    return sorted(out, key=lambda p: os.path.basename(p).lower())


def detect_encoding(path: str) -> str:
    """BOM sniff → Spark CSV ``encoding`` option value."""
    with open(path, "rb") as fh:
        head = fh.read(4)
    if head.startswith(codecs.BOM_UTF8):
        return "UTF-8"
    if head.startswith(codecs.BOM_UTF16_LE):
        return "UTF-16LE"
    if head.startswith(codecs.BOM_UTF16_BE):
        return "UTF-16BE"
    return "UTF-8"


def _detect_line_sep(path: str, encoding: str) -> str:
    """Sniff the line terminator (driver-side, head bytes only).

    Needed for UTF-16: Spark requires an explicit ``lineSep`` there,
    and hard-coding ``\\n`` would leave a stray ``\\r`` on the last
    column of every row of a Windows CRLF file (``trim()`` strips only
    spaces, so blank→NULL and comparisons downstream would keep it).
    """
    py_enc = {"UTF-8": "utf-8-sig", "UTF-16LE": "utf-16", "UTF-16BE": "utf-16"}[encoding]
    with open(path, "rb") as fh:
        head = fh.read(65536)
    text = head.decode(py_enc, errors="ignore")
    i = text.find("\n")
    if i > 0 and text[i - 1] == "\r":
        return "\r\n"
    return "\n"


def _read_head_lines(path: str, encoding: str, n: int) -> list[list[str]]:
    """Parse the first ``n`` CSV records on the driver (headers only)."""
    py_enc = {"UTF-8": "utf-8-sig", "UTF-16LE": "utf-16", "UTF-16BE": "utf-16"}[encoding]
    with open(path, "r", encoding=py_enc, newline="") as fh:
        reader = csv.reader(fh)
        rows: list[list[str]] = []
        for row in reader:
            rows.append(row)
            if len(rows) >= n:
                break
    return rows


@dataclass
class SourceTable:
    """A loaded source domain table: data + schema-sized metadata."""

    df: DataFrame
    columns: list[str]
    labels: dict[str, str] = field(default_factory=dict)
    encoding: str = "UTF-8"
    path: str = ""

    ROW_ID = "_row_id"


def validate_shape(columns: list[str], path: str = "") -> list[str]:
    """Shape guards (reference: csv/reader.rs:175-202). Returns warnings."""
    if not columns:
        raise ValueError(f"CSV has no columns: {path}")
    empties = [i for i, c in enumerate(columns) if not c.strip()]
    if empties:
        raise ValueError(f"CSV has empty column names at positions {empties}: {path}")
    warnings = []
    if len(columns) > 500:
        warnings.append(f"wide table: {len(columns)} columns (> 500) in {path}")
    return warnings


def read_source_csv(
    spark: SparkSession,
    path: str,
    header_rows: int = 2,
    encoding: str | None = None,
    blank_as_null: bool = True,
) -> SourceTable:
    """Read an EDC export CSV with 1- or 2-row header.

    All data columns come back as strings (the reference's SAS-transport
    type discipline keeps everything Char until an explicit
    NumericConversion — SURVEY.md §1.2); whitespace-only cells are
    normalized to NULL; a deterministic ``_row_id`` (1-based file row
    order) is attached for --SEQ and sink row numbering.
    """
    return _read_counted(spark, path, header_rows, encoding, blank_as_null)[0]


def _read_counted(
    spark: SparkSession,
    path: str,
    header_rows: int,
    encoding: str | None,
    blank_as_null: bool,
) -> tuple[SourceTable, int]:
    """:func:`read_source_csv` plus the file's data-row count, which
    the ``_row_id`` offset scan yields for free."""
    if header_rows not in (1, 2):
        raise ValueError("header_rows must be 1 or 2")
    enc = encoding or detect_encoding(path)
    head = _read_head_lines(path, enc, header_rows)
    if len(head) < header_rows:
        raise ValueError(f"CSV shorter than its declared header ({header_rows} rows): {path}")
    names = [c.strip() for c in head[-1]]
    labels = (
        {n: l.strip() for n, l in zip(names, head[0])} if header_rows == 2 else {n: n for n in names}
    )
    validate_shape(names, path)

    reader = (
        spark.read.option("header", "false")
        .option("encoding", enc)
        .option("multiLine", "false")
    )
    if enc.startswith("UTF-16"):
        # Spark autodetects line separators only for UTF-8-compatible
        # charsets; for UTF-16 an explicit lineSep (encoded in the
        # declared charset) is required or rows split mid-character.
        # Sniffed, not hard-coded: CRLF files would otherwise leave a
        # trailing '\r' on each row's last column.
        reader = reader.option("lineSep", _detect_line_sep(path, enc))
    raw = reader.csv(path)
    # Positional rename (inferred _c0.._cN → declared names).
    if len(raw.columns) != len(names):
        raise ValueError(
            f"CSV column count mismatch: header declares {len(names)}, data has {len(raw.columns)}: {path}"
        )
    df = raw.toDF(*names)

    # File order is deterministic for a single-file scan: partition
    # index follows byte offset, so monotonically_increasing_id is
    # monotone in file position. A dense 1-based _row_id is derived
    # WITHOUT a global window (which would move every row to one task
    # — the round-1 formulation): per-partition position + a
    # driver-computed cumulative offset per partition. The extra
    # count() pass is one parallel scan; numbering stays parallel.
    #
    # r17: the per-partition position comes straight from
    # monotonically_increasing_id's documented layout (partition index
    # in the upper 31 bits, a 0-based per-partition record counter in
    # the lower 33), so the r16 `row_number() OVER (PARTITION BY
    # __pid ORDER BY monotonically_increasing_id())` — a full shuffle
    # on __pid plus a sort, re-parsing the CSV on the exchange's map
    # side — collapses to `(mid & (2^33-1)) + 1` evaluated inside the
    # scan stage. Values are bit-identical (the window ranked by mid
    # within each partition, i.e. by that same lower-33-bit counter);
    # the import plan loses its only Exchange (guide §2.4).
    df = df.withColumn("__pid", F.spark_partition_id())
    counts = {
        r["__pid"]: r["count"]
        for r in df.groupBy("__pid").count().collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets and len(offsets) > 1:
        offset_expr = F.element_at(
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            ),
            F.col("__pid"),
        )
    else:
        offset_expr = F.lit(0)
    local = (
        F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1
    )
    df = df.withColumn(SourceTable.ROW_ID, (offset_expr + local).cast("long"))
    df = (
        df.filter(F.col(SourceTable.ROW_ID) > header_rows)
        .withColumn(
            SourceTable.ROW_ID, (F.col(SourceTable.ROW_ID) - header_rows).cast("long")
        )
        .drop("__pid")
    )

    if blank_as_null:
        df = df.select(
            *[
                F.when(F.trim(F.col(c)) == "", None).otherwise(F.col(c)).alias(c)
                for c in names
            ],
            SourceTable.ROW_ID,
        )
    table = SourceTable(df=df, columns=names, labels=labels, encoding=enc, path=path)
    return table, max(acc - header_rows, 0)


def read_source_csvs(
    spark: SparkSession,
    paths: list[str],
    header_rows: int = 2,
    encoding: str | None = None,
    blank_as_null: bool = True,
) -> SourceTable:
    """Read a domain delivered as MULTIPLE source files (split
    datasets — the reference's own mockdata ships LB as five CSVs and
    ``DomainFrame.dataset_name_override`` exists for exactly this,
    export/types.rs:12-22).

    Every file must declare the same column set (order may differ;
    frames align by name). ``_row_id`` stays dense and 1-based across
    the whole domain: file order = list order, rows keep file order
    within each file via per-file offsets, so --SEQ numbering and
    sink row order behave exactly as if the files had been
    pre-concatenated. Labels merge first-file-wins.

    Each file's row count comes from the scan that numbers its rows,
    so every file is scanned once; the at-scale path is parquet.
    """
    if not paths:
        raise ValueError("read_source_csvs: empty path list")
    if len(paths) == 1:
        return read_source_csv(
            spark, paths[0], header_rows=header_rows,
            encoding=encoding, blank_as_null=blank_as_null,
        )
    counted = [
        _read_counted(spark, p, header_rows, encoding, blank_as_null)
        for p in paths
    ]
    tables = [t for t, _ in counted]
    first = tables[0]
    base_cols = set(first.columns)
    for t in tables[1:]:
        if set(t.columns) != base_cols:
            extra = sorted(set(t.columns) - base_cols)
            missing = sorted(base_cols - set(t.columns))
            raise ValueError(
                f"split-dataset column mismatch in {t.path}: "
                f"extra={extra} missing={missing} (vs {first.path})"
            )
    labels: dict[str, str] = {}
    for t in tables:
        for k, v in t.labels.items():
            labels.setdefault(k, v)
    ordered = [*first.columns, SourceTable.ROW_ID]
    df, offset = None, 0
    for t, n_rows in counted:
        part = t.df.select(
            *first.columns,
            (F.col(SourceTable.ROW_ID) + F.lit(offset)).cast("long").alias(
                SourceTable.ROW_ID
            ),
        ).select(*ordered)
        df = part if df is None else df.unionByName(part)
        offset += n_rows
    return SourceTable(
        df=df,
        columns=first.columns,
        labels=labels,
        encoding=first.encoding,
        path=first.path,
    )
