"""robots.txt rules table + frontier predicate (north_rule politeness)."""

from __future__ import annotations

from icrawler_spark.crawl import CrawlConfig, CrawlEngine, build_site, site_pages_df
from icrawler_spark.crawl.reference_model import crawl_model
from icrawler_spark.crawl.robots import (
    apply_robots_filter,
    parse_robots_txt,
    robots_rules_df,
)

ROBOTS = """
# comment
User-agent: googlebot
Disallow: /private/

User-agent: *
Disallow: /list/detail_
Allow: /list/detail_1.html
Disallow: /tmp/*case
"""


def test_parse_robots_groups_and_wildcards():
    rules = parse_robots_txt("www.example.test", ROBOTS)
    # googlebot group ignored; * group yields 3 rules
    assert ("www.example.test", "/list/detail_", False, len("/list/detail_")) in rules
    assert ("www.example.test", "/list/detail_1.html", True, len("/list/detail_1.html")) in rules
    # wildcard truncated to pre-* prefix
    assert ("www.example.test", "/tmp/", False, len("/tmp/*case")) in rules
    assert len(rules) == 3


def test_apply_robots_longest_match(spark):
    rules = robots_rules_df(spark, {"www.example.test": ROBOTS})
    frontier = spark.createDataFrame(
        [
            ("t", "https://www.example.test/list/detail_1.html", "www.example.test", 0, 0),
            ("t", "https://www.example.test/list/detail_2.html", "www.example.test", 0, 1),
            ("t", "https://www.example.test/list/index.html", "www.example.test", 0, 2),
            ("t", "https://other.test/list/detail_9.html", "other.test", 0, 3),
        ],
        "task string, url string, netloc string, discovered_round int, discovery_pos bigint",
    )
    kept = {r.url for r in apply_robots_filter(frontier, rules).collect()}
    assert "https://www.example.test/list/detail_1.html" in kept   # Allow wins (longer)
    assert "https://www.example.test/list/detail_2.html" not in kept
    assert "https://www.example.test/list/index.html" in kept      # no rule matches
    assert "https://other.test/list/detail_9.html" in kept         # host without rules


def test_engine_with_robots_prunes_frontier(spark):
    site = build_site(n_pages=3, entries_per_page=2)
    pages = site_pages_df(spark, site)
    start = "https://www.example.test/list/index.html"
    robots = robots_rules_df(
        spark, {"www.example.test": "User-agent: *\nDisallow: /list/index_2.html\n"}
    )
    eng = CrawlEngine(
        spark, pages, CrawlConfig(start_url=start, max_rounds=10), robots_rules=robots
    )
    eng.run()
    order = eng.crawl_order()
    assert all("index_2" not in u for u in order)
    # unblocked pages crawl in the reference order filtered of the blocked url
    ref_order, _, _ = crawl_model(site, start)
    assert order == [u for u in ref_order if "index_2" not in u]


def test_parse_crawl_delay_and_budgets(spark):
    from icrawler_spark.crawl.robots import parse_crawl_delay, robots_budgets_df

    txt = "User-agent: bot\nCrawl-delay: 1\n\nUser-agent: *\nCrawl-delay: 30\n"
    assert parse_crawl_delay(txt) == 30.0
    assert parse_crawl_delay("User-agent: *\nDisallow: /x") is None

    budgets = robots_budgets_df(
        spark,
        {"slow.test": txt, "fast.test": "User-agent: *\nDisallow: /private"},
        round_seconds=60.0,
    )
    rows = {r.netloc: r.host_budget for r in budgets.collect()}
    assert rows == {"slow.test": 2}  # 60 // 30; no row for delay-less host
    # delay longer than the round floors at 1 fetch/round
    b2 = robots_budgets_df(spark, {"s.test": "User-agent: *\nCrawl-delay: 999"}, 60.0)
    assert {(r.netloc, r.host_budget) for r in b2.collect()} == {("s.test", 1)}


PAGES_SCHEMA = "url string, warc_ts timestamp_ntz, html binary, text string, lang string"


def _page(host, path, links=()):
    import datetime as dt

    a = "".join(f'<a href="https://{h}/{p}">下一页</a>' for h, p in links)
    return (
        f"https://{host}/{path}",
        dt.datetime(2024, 1, 1),
        f"<html><body>{a}</body></html>".encode(),
        "",
        "en",
    )


def _per_host_round(eng) -> dict[tuple[str, int], int]:
    return {
        (r.netloc, r.round): r.n
        for r in eng.visited.selectExpr(
            "parse_url(url, 'HOST') AS netloc", "round"
        )
        .groupBy("netloc", "round")
        .agg({"*": "count"})
        .withColumnRenamed("count(1)", "n")
        .collect()
    }


def test_engine_crawl_delay_budget_spreads_rounds(spark):
    """Per-host Crawl-delay caps override the (absent) global budget: the
    slow host fetches ≤2 pages/round while the fast host drains in one."""
    from icrawler_spark.crawl.robots import robots_budgets_df

    slow = [("slow.test", f"s{i}.html") for i in range(4)]
    fast = [("fast.test", f"f{i}.html") for i in range(4)]
    pages = spark.createDataFrame(
        [_page("seed.test", "index.html", links=slow + fast)]
        + [_page(h, p) for h, p in slow + fast],
        PAGES_SCHEMA,
    )
    budgets = robots_budgets_df(
        spark, {"slow.test": "User-agent: *\nCrawl-delay: 30"}, round_seconds=60.0
    )
    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(
            start_url="https://seed.test/index.html",
            max_rounds=10,
            use_bloom=False,
            parse_entries=False,
        ),
        host_budgets_df=budgets,
    )
    eng.run()
    per = _per_host_round(eng)
    # fast host: all 4 in round 1 (unlimited); slow host: 2+2 over rounds 1-2
    assert per[("fast.test", 1)] == 4
    assert per[("slow.test", 1)] == 2 and per[("slow.test", 2)] == 2
    assert len({r.url for r in eng.visited.collect()}) == 9  # nothing dropped


def test_engine_global_budget_host_rows_and_priority(spark):
    """One cap per host: its Crawl-delay row when it has one, else the
    global ``host_budget``; inside each cap the priority order picks."""
    from icrawler_spark.crawl.robots import robots_budgets_df

    slow = [("slow.test", f"s{i}.html") for i in range(3)]
    fast = [("fast.test", f"f{i}.html") for i in range(4)]
    pages = spark.createDataFrame(
        [_page("seed.test", "index.html", links=slow + fast)]
        + [_page(h, p) for h, p in slow + fast],
        PAGES_SCHEMA,
    )
    budgets = robots_budgets_df(
        spark, {"slow.test": "User-agent: *\nCrawl-delay: 60"}, round_seconds=60.0
    )
    prio = spark.createDataFrame(
        [("https://slow.test/s2.html", 5), ("https://fast.test/f3.html", 9),
         ("https://fast.test/f1.html", 7)],
        "url string, priority long",
    )
    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(
            start_url="https://seed.test/index.html",
            host_budget=2,
            max_rounds=10,
            use_bloom=False,
            parse_entries=False,
        ),
        host_budgets_df=budgets,
        priority_df=prio,
    )
    eng.run()
    # slow.test: its row caps it at 1 per round; fast.test has no row, so
    # the global budget of 2 applies
    assert _per_host_round(eng) == {
        ("seed.test", 0): 1,
        ("slow.test", 1): 1, ("slow.test", 2): 1, ("slow.test", 3): 1,
        ("fast.test", 1): 2, ("fast.test", 2): 2,
    }
    # scored urls first, then unscored ones (priority 0) in FIFO order; a
    # round lists its fetches in discovery order
    assert eng.crawl_order() == [
        "https://seed.test/index.html",
        "https://slow.test/s2.html", "https://fast.test/f1.html", "https://fast.test/f3.html",
        "https://slow.test/s0.html", "https://fast.test/f0.html", "https://fast.test/f2.html",
        "https://slow.test/s1.html",
    ]


def test_robots_docs_from_pages(spark):
    """Robots corpus derived from the pages table drives rules + budgets."""
    import datetime as dt

    from icrawler_spark.crawl.robots import robots_docs_from_pages

    host = "https://robots.test"

    # a non-robots page row is ignored
    rows = [(f"{host}/d0.html", dt.datetime(2024, 1, 1), b"<html><body></body></html>", "", "en")]
    # robots.txt as a corpus row (newest snapshot wins)
    rows.append((f"{host}/robots.txt", dt.datetime(2024, 1, 1),
                 b"User-agent: *\nDisallow: /old", "", "en"))
    rows.append((f"{host}/robots.txt", dt.datetime(2024, 2, 1),
                 b"User-agent: *\nCrawl-delay: 30\nDisallow: /private", "", "en"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
    )

    docs = robots_docs_from_pages(pages)
    assert set(docs) == {"robots.test"}
    assert "Crawl-delay: 30" in docs["robots.test"]  # newest snapshot won

    from icrawler_spark.crawl.robots import parse_crawl_delay

    assert parse_crawl_delay(docs["robots.test"]) == 30.0
