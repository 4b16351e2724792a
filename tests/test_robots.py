"""RFC 9309 robots.txt parser/matcher (operators/robots.py): spec
truth table, group selection, longest-match semantics, hostile input,
and the Spark join + Arrow-decision path."""

import random

import pandas as pd
import pytest

from irivermetrics_offpaper.operators import robots as rb

BODY = """
# global rules
User-agent: *
Disallow: /private/
Allow: /private/ok.html
Disallow: /*.php$
Crawl-delay: 2

User-agent: FancyBot
User-agent: OtherBot
Disallow: /fancy-only/
Sitemap: https://example.com/sitemap.xml

User-agent: MegaBot-Deep
Disallow: /

User-agent: MegaBot
Disallow: /tmp/
"""


def test_group_selection_longest_agent_wins():
    assert rb.parse_robots(BODY, "SomeCrawler")["rules"] == [
        (False, "/private/"), (True, "/private/ok.html"), (False, "/*.php$")]
    assert rb.parse_robots(BODY, "FancyBot/1.2")["rules"] == [(False, "/fancy-only/")]
    assert rb.parse_robots(BODY, "OtherBot")["rules"] == [(False, "/fancy-only/")]
    # longest matching token wins: MegaBot-Deep over MegaBot
    assert rb.parse_robots(BODY, "megabot-deep/9")["rules"] == [(False, "/")]
    assert rb.parse_robots(BODY, "MegaBot/2")["rules"] == [(False, "/tmp/")]


def test_metadata_extraction():
    d = rb.parse_robots(BODY, "anything")
    assert d["sitemaps"] == ["https://example.com/sitemap.xml"]
    assert d["crawl_delay"] == 2.0
    assert rb.parse_robots(BODY, "FancyBot")["crawl_delay"] is None


def test_decide_most_octets_and_tie():
    rules = [(False, "/fish"), (True, "/fish/")]
    assert rb.decide(rules, "/fish/bar")        # longer allow wins
    assert not rb.decide(rules, "/fishheads")   # only disallow matches
    assert rb.decide(rules, "/Fish")            # case-sensitive paths
    # equal length: allow wins (RFC 9309 tie rule)
    assert rb.decide([(False, "/page"), (True, "/page")], "/page")
    assert rb.decide([], "/anything")


def test_decide_wildcards_and_anchor():
    rules = [(False, "/*.php$")]
    assert not rb.decide(rules, "/index.php")
    assert not rb.decide(rules, "/a/b/c.php")
    assert rb.decide(rules, "/index.php?x=1")   # $ anchors the end
    assert rb.decide(rules, "/index.phpx")
    assert not rb.decide([(False, "/a*b")], "/a-middle-b")
    # regex metacharacters in paths are literal
    assert not rb.decide([(False, "/p(1).html")], "/p(1).html")
    assert rb.decide([(False, "/p(1).html")], "/pX1Y.html")


def test_parser_tolerance_bom_crlf_garbage():
    body = ("﻿User-Agent: *\r\nDisallow: /a/\r\n"
            "NoSuchKey: x\r\n:::\r\n Disallow : /b/ # trailing comment\r\n"
            "Disallow:\r\n")  # empty Disallow contributes no rule
    d = rb.parse_robots(body, "bot")
    assert d["rules"] == [(False, "/a/"), (False, "/b/")]
    # rules before any User-agent line are ignored; no groups -> allow
    assert rb.parse_robots("Disallow: /\n", "bot")["rules"] == []
    assert rb.parse_robots("", "bot")["rules"] == []
    assert rb.parse_robots(None, "bot")["rules"] == []


def test_sitemap_does_not_split_ua_run():
    body = ("User-agent: A\nSitemap: https://s.example/x.xml\n"
            "User-agent: B\nDisallow: /both/\n")
    assert rb.parse_robots(body, "A")["rules"] == [(False, "/both/")]
    assert rb.parse_robots(body, "B")["rules"] == [(False, "/both/")]


def test_fuzz_never_raises():
    rng = random.Random(3)
    chars = "Uuser-agent:AllowDisalow/*$#\r\n \t﻿é"
    for _ in range(300):
        body = "".join(rng.choice(chars) for _ in range(rng.randrange(0, 200)))
        d = rb.parse_robots(body, "bot")
        for allow, pattern in d["rules"]:
            rb.decide([(allow, pattern)], "/some/path?q=1")


def _tables(spark):
    robots_rows = [
        ("allowed.example", "User-agent: *\nDisallow: /private/\n"),
        ("strict.example", "User-agent: *\nDisallow: /\nUser-agent: trainbot\nAllow: /\n"),
        ("open.example", "# no rules at all\nSitemap: https://open.example/s.xml\n"),
    ]
    robots = spark.createDataFrame(robots_rows, "host string, robots_txt string")
    urls = spark.createDataFrame(
        [(1, "https://allowed.example/page.html"),
         (2, "https://allowed.example/private/x"),
         (3, "https://strict.example/anything"),
         (4, "https://open.example/whatever"),
         (5, "https://norobots.example/a"),
         (6, "not a url 6")],
        "doc_id bigint, url string")
    return urls, robots


@pytest.mark.parametrize("broadcast", [False, True])
def test_filter_by_robots_spark(spark, broadcast):
    urls, robots = _tables(spark)
    out = {r.doc_id: r.robots_allowed
           for r in rb.filter_by_robots(urls, robots, "genericbot",
                                        broadcast_rules=broadcast).collect()}
    assert out == {1: True, 2: False, 3: False, 4: True, 5: True, 6: True}


def test_filter_by_robots_ua_specific_group(spark):
    urls, robots = _tables(spark)
    out = {r.doc_id: r.robots_allowed
           for r in rb.filter_by_robots(urls, robots, "TrainBot/0.1").collect()}
    assert out[3] is True  # the trainbot group allows everything
    assert out[2] is False


def test_filter_by_robots_missing_policy_and_clash(spark):
    urls, robots = _tables(spark)
    out = {r.doc_id: r.robots_allowed
           for r in rb.filter_by_robots(urls, robots, "bot",
                                        missing_allows=False).collect()}
    assert out[5] is False and out[6] is False and out[1] is True
    with pytest.raises(ValueError, match="robots_allowed"):
        rb.filter_by_robots(urls.withColumn("robots_allowed", urls.doc_id > 0),
                            robots, "bot")


def test_parse_robots_df_rows(spark):
    _, robots = _tables(spark)
    rows = rb.parse_robots_df(robots, "genericbot").collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    assert [(r.allow, r.pattern) for r in by_host["allowed.example"]] == [
        (False, "/private/")]
    assert by_host["open.example"][0].pattern is None
    assert by_host["open.example"][0].sitemaps == ["https://open.example/s.xml"]


def test_review_fixes_query_separator_and_group_combining():
    """r7 review finds: (1) the evaluated path must keep the '?' so
    query-targeting rules match and prefix rules can't leak into query
    text; (2) multiple groups at the same agent level COMBINE (RFC
    9309 §2.2.1); (3) unknown directives don't split a UA run."""
    # (2) two '*' groups combine
    body = "User-agent: *\nDisallow: /a/\n\nUser-agent: *\nDisallow: /b/\n"
    rules = rb.parse_robots(body, "bot")["rules"]
    assert rules == [(False, "/a/"), (False, "/b/")]
    assert not rb.decide(rules, "/b/x")
    # same-token specific groups combine too; star rules stay out
    body2 = ("User-agent: foo\nDisallow: /f1/\nUser-agent: *\n"
             "Disallow: /star/\nUser-agent: foo\nDisallow: /f2/\n")
    assert rb.parse_robots(body2, "foo")["rules"] == [
        (False, "/f1/"), (False, "/f2/")]
    # (3) unknown directive inside a UA run
    body3 = "User-agent: a\nFoo: bar\nUser-agent: b\nDisallow: /x/\n"
    assert rb.parse_robots(body3, "a")["rules"] == [(False, "/x/")]
    assert rb.parse_robots(body3, "b")["rules"] == [(False, "/x/")]


def test_review_fix_query_string_paths(spark):
    robots_df = spark.createDataFrame(
        [("q.example", "User-agent: *\nDisallow: /*?\nAllow: /ok?x=1$\n"),
         ("p.example", "User-agent: *\nDisallow: /ab\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [(1, "https://q.example/search?q=1"),
         (2, "https://q.example/plain"),
         (3, "https://q.example/ok?x=1"),
         (4, "https://p.example/a?b=1"),   # /ab must NOT match across '?'
         (5, "https://p.example/ab/c")],
        "doc_id bigint, url string")
    out = {r.doc_id: r.robots_allowed
           for r in rb.filter_by_robots(urls, robots_df, "bot").collect()}
    assert out == {1: False, 2: True, 3: True, 4: True, 5: False}


def test_review_fix_rhost_clash_guard(spark):
    urls, robots_tbl = _tables(spark)
    with pytest.raises(ValueError, match="_rb_rhost"):
        rb.filter_by_robots(urls.withColumn("_rb_rhost", urls.doc_id),
                            robots_tbl, "bot")
