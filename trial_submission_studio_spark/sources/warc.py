"""WARC source — the CommonCrawl ingestion path of a web-scale
training-data pipeline.

Parses WARC/1.0 and WARC/1.1 archives (ISO 28500: records of
``WARC/1.x\\r\\n`` header block + Content-Length payload, separated by
``\\r\\n\\r\\n``) into a typed DataFrame, pure stdlib. HTTP response
records additionally split the HTTP envelope (status, headers, body)
and best-effort-decode the body to text using the declared charset.

Scale shape:

- Files load via Spark's ``binaryFile`` source — one task per file.
  That IS the right parallelism for CommonCrawl: a crawl ships as
  tens of thousands of ~1 GB ``.warc.gz`` members, and gzip members
  are not splittable — per-file tasks are the standard and optimal
  decomposition.
- Parsing runs in ``mapInPandas`` with Arrow batches; records stream
  out of a ``gzip.GzipFile`` wrapper so the decompressed archive is
  never materialized as one bytes object on top of the compressed
  copy.
- Everything downstream (dedup, language ID, quality, tokenize) is
  ordinary DataFrame algebra on the returned columns.

The reference engine (rubentalstra/Trial-Submission-Studio) reads
clinical CSVs, not web archives; this source belongs to the
training-data extension surface (SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Output schema of :func:`read_warc`.
WARC_SCHEMA = (
    "path string, record_id string, warc_type string, url string, "
    "warc_date timestamp, content_type string, content_length long, "
    "http_status int, http_content_type string, body binary, text string"
)


def _make_warc_parser(record_types, max_body_bytes, decode_text):
    """Factory (verify-recipe rule): the mapInPandas kernel captures
    only closure-local state and does its own imports — workers never
    import this package."""
    keep_types = tuple(record_types) if record_types else None
    body_cap = int(max_body_bytes) if max_body_bytes else None
    want_text = bool(decode_text)

    def parse(batches):
        import gzip
        import io
        import re as _re

        import pandas as pd

        date_re = _re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")
        charset_re = _re.compile(rb"charset=([A-Za-z0-9_\-]+)", _re.I)

        def records(stream):
            """Yield (headers dict lower-cased, payload bytes)."""
            while True:
                # skip inter-record blank lines
                line = stream.readline()
                if not line:
                    return
                if line in (b"\r\n", b"\n"):
                    continue
                if not line.startswith(b"WARC/"):
                    # resync: scan forward to the next record marker
                    continue
                headers = {}
                while True:
                    h = stream.readline()
                    if not h or h in (b"\r\n", b"\n"):
                        break
                    if b":" in h:
                        k, v = h.split(b":", 1)
                        headers[k.strip().lower().decode("ascii", "replace")] = (
                            v.strip().decode("utf-8", "replace")
                        )
                try:
                    n = int(headers.get("content-length", "0"))
                except ValueError:
                    n = 0
                payload = stream.read(n) if n > 0 else b""
                yield headers, payload

        def http_split(payload):
            """(status int|None, content_type str|None, body bytes)."""
            if not payload.startswith((b"HTTP/1.", b"HTTP/2")):
                return None, None, payload
            head, sep, body = payload.partition(b"\r\n\r\n")
            if not sep:
                head, sep, body = payload.partition(b"\n\n")
            status = None
            ctype = None
            lines = head.split(b"\r\n") if b"\r\n" in head else head.split(b"\n")
            parts = lines[0].split()
            if len(parts) >= 2 and parts[1][:3].isdigit():
                status = int(parts[1][:3])
            for h in lines[1:]:
                if h.lower().startswith(b"content-type:"):
                    ctype = h.split(b":", 1)[1].strip().decode("utf-8", "replace")
                    break
            return status, ctype, body

        def decode_body(body, ctype_bytes):
            m = charset_re.search(ctype_bytes)
            enc = m.group(1).decode("ascii", "replace") if m else "utf-8"
            try:
                return body.decode(enc, "replace")
            except LookupError:
                return body.decode("utf-8", "replace")

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = io.BytesIO(bytes(content))
                stream = (
                    gzip.GzipFile(fileobj=raw)
                    if str(path).endswith(".gz")
                    else raw
                )
                buffered = io.BufferedReader(stream)
                for headers, payload in records(buffered):
                    wtype = headers.get("warc-type", "")
                    if keep_types is not None and wtype not in keep_types:
                        continue
                    status, http_ctype, body = http_split(payload)
                    if body_cap is not None:
                        body = body[:body_cap]
                    text = None
                    if (
                        want_text
                        and body
                        and (http_ctype or "").lower().startswith("text/")
                    ):
                        text = decode_body(
                            body, (http_ctype or "").encode("utf-8", "replace")
                        )
                    date_raw = headers.get("warc-date", "")
                    ts = None
                    if date_re.match(date_raw or ""):
                        ts = pd.Timestamp(date_raw)
                        if ts.tzinfo is not None:
                            # wall-clock UTC, naive (session tz is UTC)
                            ts = ts.tz_convert(None)
                    rows.append(
                        {
                            "path": str(path),
                            "record_id": headers.get("warc-record-id", ""),
                            "warc_type": wtype,
                            "url": headers.get("warc-target-uri"),
                            "warc_date": ts,
                            "content_type": headers.get("content-type"),
                            "content_length": len(payload),
                            "http_status": status,
                            "http_content_type": http_ctype,
                            "body": body,
                            "text": text,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "record_id", "warc_type", "url", "warc_date",
                    "content_type", "content_length", "http_status",
                    "http_content_type", "body", "text",
                ],
            )

    return parse


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] | None = ("response",),
    max_body_bytes: int | None = None,
    decode_text: bool = True,
) -> DataFrame:
    """Read WARC archives (``.warc`` / ``.warc.gz``) under ``path``
    into one row per record.

    ``record_types`` keeps only those WARC-Type values (None = all);
    ``max_body_bytes`` truncates stored bodies (set it when only
    metadata/dedup keys are needed — the scan then never ships full
    pages through the shuffle); ``decode_text`` fills ``text`` for
    ``text/*`` HTTP responses using the declared charset.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(
        _make_warc_parser(record_types, max_body_bytes, decode_text),
        schema=WARC_SCHEMA,
    )
