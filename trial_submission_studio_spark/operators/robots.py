"""Robots Exclusion Protocol (RFC 9309) — crawl-permission
governance for WARC-scale corpora.

A training-data pipeline that ingests crawl data needs to answer
"was this fetch allowed, and would a refetch be allowed today?" per
URL. This module parses robots.txt payloads (one per origin host)
into a RULES TABLE, then evaluates the RFC's longest-match semantics as a
plain equi-join — no UDF in the match path:

- group selection: the group whose user-agent token is the longest
  case-insensitive prefix of the crawler's product token; ``*``
  only when nothing else matches; multiple groups for one token
  merge (RFC 9309 §2.2.1);
- rule matching: path patterns with ``*`` (any chars) and a final
  ``$`` anchor, compiled ONCE per rule into a SQL ``LIKE`` pattern
  so the per-URL evaluation is whole-stage-codegen string matching;
- decision: longest pattern wins, tie → Allow (RFC 9309 §2.2.2);
  no matching rule or no robots.txt for the host → allowed.

Scale shape: rules tables are tiny relative to URL tables (one row
per rule, KBs per host). `robots_allowed` shuffles on the host key
once; for power-law hosts the join is still bounded fan-out (rules
per host, not URLs × URLs). Broadcast the rules table when it fits
(a 1M-host catalog is ~100 MB).

Reference parity note: the reference engine
(rubentalstra/Trial-Submission-Studio) has no crawl surface; this
extends the crawl-governance family (SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The mapInPandas kernels below capture module-level functions
# (parse_robots / rule_to_like); register the module for BY-VALUE
# cloudpickle serialization so executors that cannot import this
# package (non-repo cwd) still run them.
try:  # pragma: no cover - serialization concern
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001 - never block import on this
    pass

__all__ = [
    "parse_robots",
    "rule_to_like",
    "robots_rules",
    "robots_allowed",
    "robots_sitemaps",
    "parse_sitemap",
    "sitemap_entries",
    "fetch_schedule",
]


def parse_robots(text: str, user_agent: str = "*"):
    """robots.txt body → dict with the selected group's rules.

    Returns ``{"rules": [(allow: bool, pattern: str), ...],
    "crawl_delay": float | None, "sitemaps": [str, ...]}``.
    Group selection follows RFC 9309: longest user-agent token that
    is a case-insensitive prefix of ``user_agent``; the ``*`` group
    applies only when no token matches; several groups naming the
    same token are merged. Empty Disallow values ("allow all") are
    dropped. Sitemap lines are global (outside group scope)."""
    ua = user_agent.lower()
    groups: dict[str, list] = {}  # token -> [(allow, pattern)]
    delays: dict[str, float] = {}
    sitemaps: list[str] = []
    current: list[str] = []  # tokens of the group being built
    last_was_ua = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not last_was_ua:
                current = []
            current.append(value.lower())
            for t in current:
                groups.setdefault(t, [])
            last_was_ua = True
            continue
        last_was_ua = False
        if field == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        if not current:
            continue  # rules before any user-agent line: ignored
        if field in ("allow", "disallow"):
            if not value:
                continue  # empty pattern matches nothing
            for t in current:
                groups.setdefault(t, []).append((field == "allow", value))
        elif field == "crawl-delay":
            try:
                for t in current:
                    delays[t] = float(value)
            except ValueError:
                pass
    best = None
    for token in groups:
        if token != "*" and ua.startswith(token):
            if best is None or len(token) > len(best):
                best = token
    if best is None and "*" in groups:
        best = "*"
    return {
        "rules": list(groups.get(best, [])) if best is not None else [],
        "crawl_delay": delays.get(best) if best is not None else None,
        "sitemaps": sitemaps,
    }


def rule_to_like(pattern: str) -> str:
    """Robots path pattern → SQL LIKE pattern (escape ``\\ % _``,
    ``*`` → ``%``, trailing ``$`` anchors, otherwise append ``%``
    for the implicit prefix match)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    out = []
    for ch in pattern:
        if ch in ("\\", "%", "_"):
            out.append("\\" + ch)
        elif ch == "*":
            out.append("%")
        else:
            out.append(ch)
    like = "".join(out)
    return like if anchored else like + "%"


def robots_rules(
    df: DataFrame,
    host_col: str = "host",
    payload_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """(host, robots.txt body) rows → rules table ``(host, allow,
    pattern, like_pattern, plen)`` with the LIKE compilation done
    once per RULE here, not per URL later. Arrow-batched parse."""
    from collections.abc import Iterator

    import pandas as pd

    parse = parse_robots
    to_like = rule_to_like
    ua = user_agent

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, allows, pats, likes, plens = [], [], [], [], []
            for host, body in zip(pdf[host_col], pdf[payload_col]):
                if body is None:
                    continue
                if isinstance(body, (bytes, bytearray)):
                    body = bytes(body).decode("utf-8", "replace")
                for allow, pattern in parse(body, ua)["rules"]:
                    hosts.append(host)
                    allows.append(allow)
                    pats.append(pattern)
                    likes.append(to_like(pattern))
                    plens.append(len(pattern))
            yield pd.DataFrame(
                {
                    host_col: pd.Series(hosts, dtype=object),
                    "allow": pd.Series(allows, dtype=bool),
                    "pattern": pd.Series(pats, dtype=object),
                    "like_pattern": pd.Series(likes, dtype=object),
                    "plen": pd.Series(plens, dtype="int32"),
                }
            )

    return df.select(host_col, payload_col).mapInPandas(
        kernel,
        f"{host_col} string, allow boolean, pattern string, "
        "like_pattern string, plen int",
    )


def _url_path(url: Column) -> Column:
    """Path (+ ?query) component for rule matching; '/' fallback."""
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit("/"))
    path = F.when(path == "", "/").otherwise(path)
    query = F.try_parse_url(url, F.lit("QUERY"))
    return F.when(query.isNotNull(), F.concat(path, F.lit("?"), query)).otherwise(
        path
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    default_allow: bool = True,
    broadcast_rules: bool = False,
    out_col: str = "crawl_allowed",
) -> DataFrame:
    """Adds boolean ``out_col`` to ``urls`` by RFC 9309 longest-match
    against the rules table (from :func:`robots_rules`).

    Plan: derive host JVM-side → equi-join rules on host (one
    shuffle, or zero with ``broadcast_rules=True``) → codegen LIKE
    per candidate rule → per-URL argmax on (plen, allow) so the
    longest pattern wins and ties go to Allow. Hosts without rules
    (or with no matching rule) get ``default_allow``."""
    cols = urls.columns
    keyed = urls.withColumn("__rid", F.monotonically_increasing_id())
    keyed = keyed.withColumn(
        "__host", F.lower(F.coalesce(F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("")))
    ).withColumn("__path", _url_path(F.col(url_col)))
    r = rules.select(
        F.lower(F.col(host_col)).alias("__host"),
        F.col("allow").alias("__allow"),
        F.col("like_pattern").alias("__like"),
        F.col("plen").alias("__plen"),
    )
    if broadcast_rules:
        r = F.broadcast(r)
    joined = keyed.join(r, "__host", "left")
    matched = F.col("__like").isNotNull() & F.expr(
        "__path LIKE __like ESCAPE '\\\\'"
    )
    # per-row verdict candidate: (plen, allow) — lexicographic max
    cand = F.when(
        matched,
        F.struct(
            F.col("__plen").alias("plen"),
            F.col("__allow").cast("int").alias("allow_rank"),
            F.col("__allow").alias("allow"),
        ),
    )
    agg = joined.groupBy("__rid").agg(
        *[F.first(c, ignorenulls=False).alias(c) for c in cols],
        F.max(cand).alias("__best"),
    )
    return agg.select(
        *cols,
        F.coalesce(F.col("__best.allow"), F.lit(default_allow)).alias(out_col),
    )


def robots_sitemaps(
    df: DataFrame,
    host_col: str = "host",
    payload_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots.txt) rows → exploded ``(host, sitemap_url)``
    table (sitemap lines are group-independent)."""
    from collections.abc import Iterator

    import pandas as pd

    parse = parse_robots

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, maps = [], []
            for host, body in zip(pdf[host_col], pdf[payload_col]):
                if body is None:
                    continue
                if isinstance(body, (bytes, bytearray)):
                    body = bytes(body).decode("utf-8", "replace")
                for sm in parse(body)["sitemaps"]:
                    hosts.append(host)
                    maps.append(sm)
            yield pd.DataFrame(
                {
                    host_col: pd.Series(hosts, dtype=object),
                    "sitemap_url": pd.Series(maps, dtype=object),
                }
            )

    return df.select(host_col, payload_col).mapInPandas(
        kernel, f"{host_col} string, sitemap_url string"
    )


def parse_sitemap(payload):
    """Sitemap payload (XML urlset / sitemapindex, plain-text URL
    list, optionally gzipped) → list of dicts
    ``{kind: "url"|"sitemap", loc, lastmod, changefreq, priority}``.
    Namespace-tolerant (tags matched by local name); malformed XML
    returns [] rather than raising — the caller quarantines."""
    import gzip

    if payload is None:
        return []
    if isinstance(payload, str):
        data = payload.encode("utf-8", "replace")
    else:
        data = bytes(payload)
    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)
        except OSError:
            return []
    text = data.decode("utf-8", "replace").lstrip("﻿ \t\r\n")
    if not text:
        return []
    if not text.startswith("<"):
        # plain-text sitemap: one URL per line
        return [
            {"kind": "url", "loc": ln.strip(), "lastmod": None,
             "changefreq": None, "priority": None}
            for ln in text.splitlines()
            if ln.strip().startswith(("http://", "https://"))
        ]
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except ET.ParseError:
        return []

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    kind = "sitemap" if local(root.tag) == "sitemapindex" else "url"
    out = []
    for entry in root:
        if local(entry.tag) not in ("url", "sitemap"):
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None, "priority": None}
        for child in entry:
            name = local(child.tag)
            if name in fields and child.text:
                fields[name] = child.text.strip()
        if fields["loc"]:
            out.append({"kind": kind, **fields})
    return out


def sitemap_entries(
    df: DataFrame,
    host_col: str = "host",
    payload_col: str = "sitemap_payload",
) -> DataFrame:
    """(host, sitemap payload) rows → exploded entries table
    ``(host, kind, loc, lastmod, changefreq, priority)``. ``kind``
    is "sitemap" for index entries (feed them back through the
    fetcher and this operator — sitemap trees are shallow) and
    "url" for leaf locations. Arrow-batched stdlib XML parse;
    malformed payloads yield no rows (quarantine by anti-join on
    host if you need the failure set)."""
    from collections.abc import Iterator

    import pandas as pd

    parse = parse_sitemap

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    (host_col, "kind", "loc", "lastmod", "changefreq", "priority")}
            for host, body in zip(pdf[host_col], pdf[payload_col]):
                for e in parse(body):
                    rows[host_col].append(host)
                    rows["kind"].append(e["kind"])
                    rows["loc"].append(e["loc"])
                    rows["lastmod"].append(e["lastmod"])
                    rows["changefreq"].append(e["changefreq"])
                    rows["priority"].append(
                        float(e["priority"]) if e["priority"] else None
                    )
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="float64" if k == "priority" else object)
                 for k, v in rows.items()}
            )

    return df.select(host_col, payload_col).mapInPandas(
        kernel,
        f"{host_col} string, kind string, loc string, lastmod string, "
        "changefreq string, priority double",
    )


def fetch_schedule(
    urls: DataFrame,
    delays: DataFrame | None = None,
    url_col: str = "url",
    host_col: str = "host",
    default_delay_s: float = 1.0,
    out_col: str = "not_before_s",
) -> DataFrame:
    """Politeness scheduling: assign each URL a per-host fetch wave
    and earliest fetch offset honoring Crawl-delay.

    ``delays`` is an optional ``(host, crawl_delay)`` table (e.g.
    collected from :func:`parse_robots`); hosts without a row get
    ``default_delay_s``. Adds ``fetch_wave`` (0-based position in
    the host's queue, deterministic url-hash order) and ``out_col``
    = wave × delay seconds. One shuffle on the host key; a frontier
    scheduler partitions output by wave so each wave is a scan-ready
    work list."""
    from pyspark.sql import Window

    keyed = urls.withColumn(
        "__host",
        F.lower(F.coalesce(F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit(""))),
    )
    if delays is not None:
        d = delays.select(
            F.lower(F.col(host_col)).alias("__host"),
            F.col("crawl_delay").cast("double").alias("__delay"),
        )
        keyed = keyed.join(F.broadcast(d), "__host", "left")
    else:
        keyed = keyed.withColumn("__delay", F.lit(None).cast("double"))
    w = Window.partitionBy("__host").orderBy(
        F.xxhash64(F.col(url_col)), F.col(url_col)
    )
    return (
        keyed.withColumn("fetch_wave", F.row_number().over(w) - 1)
        .withColumn(
            out_col,
            F.col("fetch_wave")
            * F.coalesce(F.col("__delay"), F.lit(float(default_delay_s))),
        )
        .drop("__host", "__delay")
    )
