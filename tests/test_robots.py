"""robots.txt derivation: parser semantics, compiled-gate parity with the
pure-Python twin, engine-vs-simulator crawl parity when the robots table
is derived from raw bodies, and legacy disallow tables through bootstrap.

Reference analog (master-exclusion pinning, P6):
pages/Postprocess_scripts/Stance_Detection.py:57-61.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from twittercrawler_spark.frontier.robots import (
    ROBOTS_SCHEMA,
    compile_robots,
    disallow_gate,
    parse_robots,
    parse_robots_body,
    robots_gate,
    rules_allow,
)

BODY_FULL = """
# comment line
User-agent: someoneelse
Disallow: /

User-agent: *
Disallow: /private/
Allow: /private/open/
Crawl-delay: 2
Disallow:          # empty value: no restriction
Disallow: /tmp/*.html
sitemap: http://a.example.org/sitemap.xml
"""

BODY_SPECIFIC = """
User-agent: *
Disallow: /

User-agent: twittercrawler
Disallow: /secret/
Crawl-delay: 5
"""


def test_parser_sections_and_rules():
    rules, n_wild = parse_robots_body("a.example.org", BODY_FULL)
    assert n_wild == 1  # the /tmp/*.html rule is flagged, not silently kept
    assert ("a.example.org", "/private/", False, 2) in rules
    assert ("a.example.org", "/private/open/", True, 2) in rules
    # the someoneelse group must not leak in; empty Disallow dropped
    assert all(p != "/" for _, p, _, _ in rules)


def test_parser_most_specific_group_wins():
    rules, _ = parse_robots_body("b.example.org", BODY_SPECIFIC)
    # agent contains the token "twittercrawler": that group replaces '*'
    assert rules == [("b.example.org", "/secret/", False, 5)]
    rules_other, _ = parse_robots_body("b.example.org", BODY_SPECIFIC,
                                       agent="otherbot")
    assert rules_other == [("b.example.org", "/", False, None)]


def test_parser_delay_only_group():
    rules, _ = parse_robots_body("c.example.org",
                                 "User-agent: *\nCrawl-delay: 7\n")
    assert rules == [("c.example.org", "", True, 7)]


def test_compile_reports_conflicts(spark):
    bodies = spark.createDataFrame(
        [("a.example.org", BODY_FULL), ("b.example.org", "User-agent: *\nDisallow: /x/\n")],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    dis = compile_robots(rules)
    got = {(r.host, r.disallow_prefix): r.allow_ext for r in dis.collect()}
    assert ("a.example.org", "/private/") in got
    assert ("b.example.org", "/x/") in got
    # the Allow-extends-Disallow pair is compiled into its Disallow row
    assert got[("a.example.org", "/private/")] == ["/private/open/"]
    assert got[("b.example.org", "/x/")] == []


def test_gate_matches_python_twin_on_generated_matrix(spark):
    """Compiled gate (compile_robots → disallow_gate) ≡ pure-Python twin,
    including conflicts (allow extends disallow), nested exceptions, length
    ties (allow wins), allow-only hosts, and unmatched hosts/paths."""
    rng = random.Random(7)
    hosts = [f"h{i}.example.org" for i in range(6)]
    prefix_pool = ["/a/", "/a/b/", "/a/b/c/", "/b/", "/b/x", "/c/"]
    triples = []
    for h in hosts[:3]:  # h3 has no rules at all
        for p in rng.sample(prefix_pool, 4):
            triples.append((h, p, rng.random() < 0.5))
    # force a deliberate tie: same prefix both allow and disallow
    triples.append((hosts[0], "/tie/", True))
    triples.append((hosts[0], "/tie/", False))
    # nested: Disallow /a/ ⊃ Allow /a/b/ ⊃ Disallow /a/b/c/
    triples += [(hosts[4], "/a/", False), (hosts[4], "/a/b/", True),
                (hosts[4], "/a/b/c/", False)]
    # a host with only Allow rules: nothing gated
    triples += [(hosts[5], "/a/", True), (hosts[5], "/", True)]
    paths = ["/a/", "/a/x", "/a/b/", "/a/b/c/d", "/b/xyz", "/c/q", "/d/",
             "/tie/p", "/"]
    cand = [
        (f"http://{h}{p}", h, p) for h in hosts for p in paths
    ]
    rules_df = spark.createDataFrame(
        [(h, p, a, None) for h, p, a in triples],
        "host string, prefix string, allow boolean, crawl_delay int",
    )
    cand_df = spark.createDataFrame(cand, "url string, host string, path string")
    got = {
        r.url
        for r in disallow_gate(cand_df, compile_robots(rules_df)).collect()
    }
    want = {u for u, h, p in cand if rules_allow(triples, h, p)}
    assert got == want
    # robots_gate is the same compile + gate
    assert {r.url for r in robots_gate(cand_df, rules_df).collect()} == got
    # sanity: the matrix actually exercised both outcomes and the tie
    assert got and got != {u for u, _, _ in cand}
    assert f"http://{hosts[0]}/tie/p" in got  # tie -> least restrictive
    h4 = f"http://{hosts[4]}"
    assert f"{h4}/a/x" not in got and f"{h4}/a/b/" in got
    assert f"{h4}/a/b/c/d" not in got
    assert all(f"http://{hosts[5]}{p}" in got for p in paths)


def _mini_corpus(spark, tmp_path, urls):
    html = {
        u: f"<html><body><p>page {i}</p></body></html>".encode()
        for i, u in enumerate(urls)
    }
    import datetime as dt

    rows = [
        (u, dt.datetime(2023, 3, 1), html[u], None, "en") for u in urls
    ]
    pages_path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(pages_path)
    seeds_path = str(tmp_path / "seeds.parquet")
    spark.createDataFrame(
        [(u, 1.0) for u in urls], "url string, priority double"
    ).write.parquet(seeds_path)
    return pages_path, seeds_path, html


@pytest.mark.parametrize("conflict", [False, True])
def test_crawl_from_raw_bodies(spark, tmp_path, conflict):
    """run_round gating from RAW robots.txt bodies: in the conflict-free
    case the engine's fetch set must equal the simulator's run from the
    COMPILED disallow table; with an Allow-extends-Disallow conflict the
    engine must honor precedence (the compiled table cannot express it) —
    expected set computed by the pure-Python twin."""
    from twittercrawler_spark.frontier.crawl import run_crawl
    from twittercrawler_spark.frontier.simulator import CrawlConfig, simulate

    urls = [
        "http://a.example.org/private/x",
        "http://a.example.org/private/open/y",
        "http://a.example.org/public/z",
        "http://b.example.org/anything",
    ]
    body_a = (
        "User-agent: *\nDisallow: /private/\n"
        + ("Allow: /private/open/\n" if conflict else "")
    )
    bodies = spark.createDataFrame(
        [("a.example.org", body_a)], "host string, body string"
    )
    rules = parse_robots(bodies)
    pages_path, seeds_path, html = _mini_corpus(spark, tmp_path, urls)
    robots_path = str(tmp_path / "robots.parquet")
    rules.write.parquet(robots_path)

    cfg = CrawlConfig(per_host_per_round=10, rounds=2, num_buckets=8)
    wh = run_crawl(
        spark, str(tmp_path / "wh"), pages_path, seeds_path, robots_path, cfg
    )
    eng = {
        r.url
        for r in wh.read(spark, "fetch_log").filter("status = 'ok'").collect()
    }
    triples = [(r.host, r.prefix, r.allow) for r in rules.collect()]
    from twittercrawler_spark.frontier.simulator import _path_of

    want = {u for u in urls if rules_allow(triples, u.split("/")[2], _path_of(u))}
    assert eng == want
    assert ("http://a.example.org/private/open/y" in eng) == conflict

    if not conflict:
        dis = compile_robots(rules)
        assert all(r.allow_ext == [] for r in dis.collect())
        sim = simulate(
            {u: html[u] for u in urls},
            [(u, 1.0) for u in urls],
            [(r.host, r.disallow_prefix) for r in dis.collect()],
            cfg,
        )
        sim_ok = {r["url"] for r in sim.fetch_log if r["status"] == "ok"}
        assert eng == sim_ok


def test_crawl_delay_from_raw_bodies(spark, tmp_path):
    """Crawl-delay parsed from a raw body must tighten the per-host quota
    through the existing politeness path (quota = floor(round_s/delay))."""
    from twittercrawler_spark.frontier.crawl import run_crawl

    urls = [f"http://d.example.org/p/{i}" for i in range(6)]
    bodies = spark.createDataFrame(
        [("d.example.org", "User-agent: *\nCrawl-delay: 5\n")],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    pages_path, seeds_path, _ = _mini_corpus(spark, tmp_path, urls)
    robots_path = str(tmp_path / "robots.parquet")
    rules.write.parquet(robots_path)
    from twittercrawler_spark.frontier.simulator import CrawlConfig

    cfg = CrawlConfig(per_host_per_round=6, rounds=1, num_buckets=8,
                      round_seconds=10)
    wh = run_crawl(
        spark, str(tmp_path / "wh"), pages_path, seeds_path, robots_path, cfg
    )
    n = wh.read(spark, "fetch_log").count()
    assert n == 2  # floor(10 / 5)


@pytest.mark.parametrize("with_delay", [False, True])
def test_legacy_disallow_table(spark, tmp_path, with_delay):
    """A legacy (host, disallow_prefix[, crawl_delay]) table is committed
    in the one robots shape: a NULL-prefix delay row never gates, an empty
    prefix gates its whole host, allow_ext is [] (never NULL — NOT
    exists(NULL, …) is NULL and would let a disallowed row through), and
    the crawl equals the simulator's."""
    from twittercrawler_spark.frontier.crawl import run_crawl
    from twittercrawler_spark.frontier.simulator import CrawlConfig, simulate

    urls = [
        "http://a.example.org/private/x",
        "http://a.example.org/public/y",
        "http://d.example.org/p",
        "http://e.example.org/anything",
    ]
    pages_path, seeds_path, html = _mini_corpus(spark, tmp_path, urls)
    robots_path = str(tmp_path / "robots.parquet")
    if with_delay:
        rows = [("a.example.org", "/private/", None),
                ("d.example.org", None, 3),
                ("e.example.org", "", None)]
        schema = "host string, disallow_prefix string, crawl_delay int"
    else:
        rows = [("a.example.org", "/private/"), ("e.example.org", "")]
        schema = "host string, disallow_prefix string"
    spark.createDataFrame(rows, schema).write.parquet(robots_path)

    cfg = CrawlConfig(per_host_per_round=10, rounds=2, num_buckets=8)
    wh = run_crawl(
        spark, str(tmp_path / "wh"), pages_path, seeds_path, robots_path, cfg
    )
    eng = {
        r.url
        for r in wh.read(spark, "fetch_log").filter("status = 'ok'").collect()
    }
    assert eng == {"http://a.example.org/public/y", "http://d.example.org/p"}
    sim = simulate(
        {u: html[u] for u in urls}, [(u, 1.0) for u in urls],
        [(r[0], r[1]) for r in rows], cfg,
    )
    assert eng == {r["url"] for r in sim.fetch_log if r["status"] == "ok"}

    committed = wh.read_round(spark, "robots", 0).drop("round")

    def shape(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema]

    assert shape(committed.schema) == shape(
        spark.createDataFrame([], ROBOTS_SCHEMA).schema
    )
    assert all(r.allow_ext == [] for r in committed.collect())
