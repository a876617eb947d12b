"""robots.txt compliance gate (operators/robots.py) + Unicode script
profile (text_stats.script_profile)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coap_rfc_knowledge_graph_spark.operators.robots import (
    parse_robots,
    parse_robots_text,
    robots_filter,
)

ROBOTS = """\
# comment line
User-agent: googlebot
Disallow: /google-only

User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /tmp*
Disallow:
Allow: /downloads/*.pdf
Disallow: *

User-agent: evilbot
Disallow: /
"""


def test_parse_robots_text_groups_and_wildcards():
    rules = parse_robots_text(ROBOTS, agent="*")
    # the googlebot and evilbot groups don't apply to '*'
    assert (False, "/google-only") not in rules
    assert (False, "/") in rules  # 'Disallow: *' -> conservative '/'
    assert (False, "/private") in rules
    assert (True, "/private/ok") in rules
    assert (False, "/tmp") in rules  # wildcard truncated to literal prefix
    assert (True, "/downloads/") in rules  # '*.pdf' truncated at '*'
    # empty Disallow contributes nothing
    assert all(p != "" for _a, p in rules)


def test_parse_robots_text_specific_agent_merges_star():
    rules = parse_robots_text(ROBOTS, agent="googlebot")
    assert (False, "/google-only") in rules  # its own group
    assert (False, "/private") in rules  # plus the merged '*' group


def test_parse_robots_dataframe_binary_payloads(spark):
    df = spark.createDataFrame(
        [("a.example", ROBOTS.encode()), ("b.example", b"User-agent: *\nDisallow: /x\n"),
         ("c.example", None)],
        "host string, payload binary",
    )
    got = {(r.host, r.allow, r.path_prefix) for r in parse_robots(df).collect()}
    assert ("b.example", False, "/x") in got
    assert ("a.example", True, "/private/ok") in got
    assert not any(h == "c.example" for h, _a, _p in got)


def test_robots_filter_longest_match_allow_ties_and_default(spark):
    rules = spark.createDataFrame(
        [
            ("h.example", False, "/private"),
            ("h.example", True, "/private/ok"),
            ("h.example", False, "/private/ok"),  # same length: allow wins
            ("h.example", False, "/"),
        ],
        "host string, allow boolean, path_prefix string",
    )
    pages = spark.createDataFrame(
        [
            ("https://h.example/private/secret",),  # /private + / -> disallow
            ("https://h.example/private/ok/file",),  # longest = allow
            ("https://h.example/",),  # '/' disallow catches the root
            ("https://other.example/anything",),  # no rules -> allowed
            ("https://h.example:8080/private/ok",),  # port must not break host match
        ],
        "url string",
    )
    got = {r.url: r.robots_allowed for r in robots_filter(pages, rules).collect()}
    assert got["https://h.example/private/secret"] is False
    assert got["https://h.example/private/ok/file"] is True
    assert got["https://h.example/"] is False
    assert got["https://other.example/anything"] is True
    assert got["https://h.example:8080/private/ok"] is True
    # partitioning invariance
    again = {
        r.url: r.robots_allowed
        for r in robots_filter(pages.repartition(5), rules.repartition(3)).collect()
    }
    assert again == got


def test_script_profile_blocks_and_ties(spark):
    from coap_rfc_knowledge_graph_spark.operators.text_stats import script_profile

    docs = spark.createDataFrame(
        [
            (0, "hello world"),
            (1, "Привет мир и ещё текст"),
            (2, "日本語のテキスト plus latin"),
            (3, "مرحبا hello"),  # 5 latin vs 5 arabic: order breaks the tie
            (4, "12345 !!!"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in script_profile(docs).collect()}
    assert got[0].main_script == "latin" and got[0].n_latin == 10
    assert got[1].main_script == "cyrillic" and got[1].n_cyrillic == 18
    assert got[2].n_cjk == 8 and got[2].main_script == "latin"  # 9 latin chars win
    assert got[3].main_script == "latin" and got[3].n_arabic == 5
    assert got[4].main_script == "none"
    assert got[5].main_script == "none"


def test_job_robots_and_delta_prepasses(spark, tmp_path):
    """--robots drops disallowed pages first; --delta-against keeps only
    new/changed content — composed, the job re-processes exactly the
    allowed delta."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    import run_pipeline

    rows = [
        ("https://a.example/p/1", None, "unchanged text", "en"),
        ("https://a.example/p/2", None, "changed text NEW", "en"),
        ("https://a.example/p/3", None, "brand new page", "en"),
        ("https://b.example/blocked/1", None, "disallowed but new", "en"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, text string, lang string")

    robots_dir = str(tmp_path / "robots")
    spark.createDataFrame(
        [("b.example", b"User-agent: *\nDisallow: /blocked\n")], "host string, payload binary"
    ).write.parquet(robots_dir)

    old_dir = str(tmp_path / "old")
    spark.createDataFrame(
        [("https://a.example/p/1", "unchanged text"),
         ("https://a.example/p/2", "changed text OLD"),
         ("https://a.example/p/9", "removed page")],
        "url string, text string",
    ).write.parquet(old_dir)

    args = run_pipeline.parse_args(
        ["--pages", "-", "--out", "-", "--robots", robots_dir, "--delta-against", old_dir]
    )
    out = sorted(r.url for r in run_pipeline._apply_prepasses(spark, args, pages).collect())
    # p/1 unchanged -> dropped; p/2 changed + p/3 added -> kept;
    # b.example/blocked/1 is new but robots-disallowed -> dropped
    assert out == ["https://a.example/p/2", "https://a.example/p/3"]


def test_parse_crawl_delay_text():
    from coap_rfc_knowledge_graph_spark.operators.robots import parse_crawl_delay_text

    body = (
        "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n\n"
        "User-agent: mybot\nCrawl-delay: 0.5\n\n"
        "User-agent: otherbot\nCrawl-delay: 99\n"
    )
    assert parse_crawl_delay_text(body) == 2000
    # mybot matches BOTH its own group and *: max (conservative) wins
    assert parse_crawl_delay_text(body, agent="mybot") == 2000
    assert parse_crawl_delay_text("User-agent: mybot\nCrawl-delay: 0.5\n", "mybot") == 500
    assert parse_crawl_delay_text("User-agent: *\nCrawl-delay: soon\n") is None
    assert parse_crawl_delay_text("Crawl-delay: 3\n") is None  # no open group


def test_parse_crawl_delays_spark(spark):
    from coap_rfc_knowledge_graph_spark.operators.robots import parse_crawl_delays

    rows = [
        ("a.example", b"User-agent: *\nCrawl-delay: 1.25\n"),
        ("b.example", b"User-agent: *\nDisallow: /\n"),  # no delay -> no row
        ("c.example", None),
    ]
    df = spark.createDataFrame(rows, "host string, payload binary")
    got = parse_crawl_delays(df).collect()
    assert [(r.host, r.delay_millis) for r in got] == [("a.example", 1250)]
