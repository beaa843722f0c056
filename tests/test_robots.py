"""RFC 9309 robots.txt tests: parser group semantics, LIKE
compilation, and the distributed longest-match permission join."""

from __future__ import annotations

import pytest

from trial_submission_studio_spark.operators.robots import (
    parse_robots,
    robots_allowed,
    robots_rules,
    robots_sitemaps,
    rule_to_like,
)

ROBOTS = """
# comment
User-agent: *
Disallow: /private/
Allow: /private/public
Crawl-delay: 2

User-agent: goodbot
User-agent: otherbot
Disallow: /goodbot-only/

User-agent: goodbot-news
Disallow: /news-secret/

Sitemap: https://example.com/sitemap.xml
"""


def test_parse_group_selection():
    star = parse_robots(ROBOTS, "somebot")
    assert (False, "/private/") in star["rules"]
    assert star["crawl_delay"] == 2.0
    good = parse_robots(ROBOTS, "GoodBot")  # case-insensitive
    assert good["rules"] == [(False, "/goodbot-only/")]
    other = parse_robots(ROBOTS, "otherbot")  # stacked UA lines share rules
    assert other["rules"] == [(False, "/goodbot-only/")]
    # longest prefix wins: goodbot-news/1.0 → the -news group
    news = parse_robots(ROBOTS, "goodbot-news/1.0")
    assert news["rules"] == [(False, "/news-secret/")]
    assert parse_robots(ROBOTS)["sitemaps"] == ["https://example.com/sitemap.xml"]


def test_parse_group_merge_and_empty_disallow():
    txt = """
User-agent: *
Disallow:

User-agent: *
Disallow: /a
"""
    # empty Disallow matches nothing; repeated * groups merge
    assert parse_robots(txt)["rules"] == [(False, "/a")]


def test_parse_rules_before_any_group_ignored():
    assert parse_robots("Disallow: /x\nUser-agent: *\nAllow: /y")["rules"] == [
        (True, "/y")
    ]


def test_rule_to_like():
    assert rule_to_like("/private/") == "/private/%"
    assert rule_to_like("/*.pdf$") == "/%.pdf"
    assert rule_to_like("/a*b") == "/a%b%"
    assert rule_to_like("/100%_x") == "/100\\%\\_x%"


@pytest.fixture()
def rules_df(spark):
    hosts = spark.createDataFrame(
        [
            ("example.com", ROBOTS),
            (
                "pdfs.example.net",
                "User-agent: *\nDisallow: /*.pdf$\nAllow: /docs/",
            ),
            ("tie.example.org", "User-agent: *\nAllow: /page\nDisallow: /page"),
        ],
        "host string, robots_txt string",
    )
    return robots_rules(hosts, user_agent="somebot")


def test_robots_rules_table(rules_df):
    rows = {(r["host"], r["allow"], r["pattern"]) for r in rules_df.collect()}
    assert (
        ("example.com", False, "/private/") in rows
        and ("example.com", True, "/private/public") in rows
        and ("pdfs.example.net", False, "/*.pdf$") in rows
    )


def test_longest_match_and_tie_semantics(spark, rules_df):
    urls = spark.createDataFrame(
        [
            (1, "https://example.com/ok.html"),
            (2, "https://example.com/private/x"),
            (3, "https://example.com/private/public/x"),  # longer Allow wins
            (4, "https://pdfs.example.net/doc.pdf"),  # $ anchor blocks
            (5, "https://pdfs.example.net/doc.pdfx"),  # not anchored-match
            (6, "https://pdfs.example.net/docs/a.pdf"),  # Disallow longer → block
            (7, "https://tie.example.org/page"),  # tie → Allow
            (8, "https://unknown.example.io/anything"),  # no rules → default
        ],
        "id long, url string",
    )
    got = {
        r["id"]: r["crawl_allowed"]
        for r in robots_allowed(urls, rules_df).collect()
    }
    assert got == {
        1: True,
        2: False,
        3: True,
        4: False,
        5: True,
        6: False,
        7: True,
        8: True,
    }


def test_query_string_participates(spark):
    hosts = spark.createDataFrame(
        [("q.example.com", "User-agent: *\nDisallow: /*?session=")],
        "host string, robots_txt string",
    )
    rules = robots_rules(hosts)
    urls = spark.createDataFrame(
        [
            (1, "https://q.example.com/a?session=1"),
            (2, "https://q.example.com/a"),
        ],
        "id long, url string",
    )
    got = {r["id"]: r["crawl_allowed"] for r in robots_allowed(urls, rules).collect()}
    assert got == {1: False, 2: True}


def test_broadcast_join_plan(spark, rules_df):
    urls = spark.createDataFrame(
        [(1, "https://example.com/x")], "id long, url string"
    )
    plan = (
        robots_allowed(urls, rules_df, broadcast_rules=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_sitemaps_table(spark):
    hosts = spark.createDataFrame(
        [("example.com", ROBOTS), ("empty.com", "User-agent: *\nDisallow:")],
        "host string, robots_txt string",
    )
    rows = robots_sitemaps(hosts).collect()
    assert [(r["host"], r["sitemap_url"]) for r in rows] == [
        ("example.com", "https://example.com/sitemap.xml")
    ]


def test_binary_payload_and_null(spark):
    hosts = spark.createDataFrame(
        [("b.example.com", ROBOTS.encode()), ("n.example.com", None)],
        "host string, robots_txt binary",
    )
    rows = robots_rules(hosts).collect()
    assert {r["host"] for r in rows} == {"b.example.com"}


SITEMAP_XML = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://example.com/a</loc>
    <lastmod>2025-01-01</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>https://example.com/b</loc></url>
  <url><priority>0.5</priority></url>
</urlset>
"""

SITEMAP_INDEX = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://example.com/sitemap-1.xml.gz</loc></sitemap>
  <sitemap><loc>https://example.com/sitemap-2.xml.gz</loc></sitemap>
</sitemapindex>
"""


def test_parse_sitemap_urlset():
    from trial_submission_studio_spark.operators.robots import parse_sitemap

    entries = parse_sitemap(SITEMAP_XML)
    assert [e["loc"] for e in entries] == [
        "https://example.com/a",
        "https://example.com/b",
    ]  # loc-less entry dropped
    assert entries[0]["priority"] == "0.8" and entries[0]["changefreq"] == "daily"
    assert all(e["kind"] == "url" for e in entries)


def test_parse_sitemap_index_gz_text_and_malformed():
    import gzip

    from trial_submission_studio_spark.operators.robots import parse_sitemap

    idx = parse_sitemap(SITEMAP_INDEX.encode())
    assert [e["kind"] for e in idx] == ["sitemap", "sitemap"]
    gz = parse_sitemap(gzip.compress(SITEMAP_XML.encode()))
    assert len(gz) == 2
    txt = parse_sitemap("https://x.com/1\n# junk\nhttps://x.com/2\n")
    assert [e["loc"] for e in txt] == ["https://x.com/1", "https://x.com/2"]
    assert parse_sitemap("<urlset><url></loc>broken") == []
    assert parse_sitemap(None) == []
    assert parse_sitemap(b"\x1f\x8btruncated-gzip") == []


def test_sitemap_entries_spark(spark):
    import gzip

    from trial_submission_studio_spark.operators.robots import sitemap_entries

    df = spark.createDataFrame(
        [
            ("example.com", SITEMAP_XML.encode()),
            ("idx.example.com", SITEMAP_INDEX.encode()),
            ("gz.example.com", gzip.compress(SITEMAP_XML.encode())),
            ("bad.example.com", b"<not-xml"),
        ],
        "host string, sitemap_payload binary",
    )
    rows = sitemap_entries(df).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["example.com"]) == 2
    assert by_host["example.com"][0]["priority"] == 0.8
    assert {r["kind"] for r in by_host["idx.example.com"]} == {"sitemap"}
    assert len(by_host["gz.example.com"]) == 2
    assert "bad.example.com" not in by_host


def test_fetch_schedule_politeness(spark):
    from trial_submission_studio_spark.operators.robots import fetch_schedule

    urls = spark.createDataFrame(
        [(i, f"https://slow.example.com/p{i}") for i in range(4)]
        + [(10, "https://fast.example.com/x"), (11, "https://fast.example.com/y")],
        "id long, url string",
    )
    delays = spark.createDataFrame(
        [("slow.example.com", 5.0)], "host string, crawl_delay double"
    )
    rows = fetch_schedule(urls, delays, default_delay_s=0.5).collect()
    slow = sorted(r["not_before_s"] for r in rows if "slow" in r["url"])
    fast = sorted(r["not_before_s"] for r in rows if "fast" in r["url"])
    assert slow == [0.0, 5.0, 10.0, 15.0]  # crawl-delay honored
    assert fast == [0.0, 0.5]  # default delay
    # waves are a permutation per host, deterministic across runs
    again = fetch_schedule(urls.repartition(7), delays, default_delay_s=0.5)
    assert {(r["id"], r["fetch_wave"]) for r in again.collect()} == {
        (r["id"], r["fetch_wave"]) for r in rows
    }


def test_crawl_governance_end_to_end(spark):
    """Crawl records → robots rules → permission join → politeness
    schedule: the whole governance chain over one synthetic crawl.
    Pages from a disallowed path are excluded before scheduling; the
    rest get per-host fetch waves honoring Crawl-delay."""
    from pyspark.sql import functions as F

    from trial_submission_studio_spark.operators.robots import (
        fetch_schedule,
        robots_allowed,
        robots_rules,
    )

    robots_body = "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
    records = spark.createDataFrame(
        [
            ("http://site-a.test/robots.txt", robots_body),
            ("http://site-a.test/ok1", "ok"),
            ("http://site-a.test/ok2", "ok"),
            ("http://site-a.test/private/x", "no"),
            ("http://site-b.test/free", "ok"),
        ],
        "url string, text string",
    )

    host = F.lower(F.try_parse_url(F.col("url"), F.lit("HOST")))
    robots_pages = records.filter(
        F.col("url").endswith("/robots.txt")
    ).select(host.alias("host"), F.col("text").alias("robots_txt"))
    rules = robots_rules(robots_pages)
    pages = records.filter(~F.col("url").endswith("/robots.txt")).select(
        F.col("url")
    )
    allowed = robots_allowed(pages, rules, broadcast_rules=True)
    verdicts = {r["url"]: r["crawl_allowed"] for r in allowed.collect()}
    assert verdicts == {
        "http://site-a.test/ok1": True,
        "http://site-a.test/ok2": True,
        "http://site-a.test/private/x": False,
        "http://site-b.test/free": True,  # no robots.txt → default allow
    }
    delays = spark.createDataFrame(
        [("site-a.test", 2.0)], "host string, crawl_delay double"
    )
    plan = fetch_schedule(
        allowed.filter("crawl_allowed"), delays, default_delay_s=1.0
    )
    rows = plan.collect()
    a_offsets = sorted(r["not_before_s"] for r in rows if "site-a" in r["url"])
    b_offsets = [r["not_before_s"] for r in rows if "site-b" in r["url"]]
    assert a_offsets == [0.0, 2.0]  # crawl-delay from robots honored
    assert b_offsets == [0.0]
