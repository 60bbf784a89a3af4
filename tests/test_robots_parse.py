"""robots.txt body parser (reference line scan, apollo.py:260-264) and the
priority-ordered politeness batch (select_batch's ``order`` parameter)."""

import random

from pyspark.sql import functions as F

from apollo_service_spark.operators.politeness import select_batch
from apollo_service_spark.operators.robots import parse_robots, parse_robots_py


def _rules(spark, bodies):
    df = spark.createDataFrame(bodies, "host string, body string")
    rows = parse_robots(df).collect()
    out = {}
    for r in rows:
        out.setdefault(r["host"], []).append(r["disallow_prefix"])
    return {h: sorted(ps) for h, ps in out.items()}


def test_parse_robots_edges(spark):
    body = (
        "User-agent: *\n"
        "Disallow: /admin\n"
        "Disallow:\n"              # empty prefix -> dropped
        "disallow: /lower\n"       # wrong case -> ignored
        "  Disallow: /indent\n"    # leading space -> ignored (exact startswith)
        "Disallow: /a:b/c\n"       # split on FIRST colon only
        "Disallow: /crlf\r\n"      # CRLF body: trailing \r stripped
        "Disallow:/nospace\n"      # no space after colon: still a rule
        "Allow: /public\n"
        "Disallow: /admin\n"       # duplicate -> distinct
        "Disallow:   \n"           # whitespace-only prefix -> dropped
    )
    got = _rules(spark, [("h.example.com", body)])
    assert got == {
        "h.example.com": sorted(["/admin", "/a:b/c", "/crlf", "/nospace"])
    }
    # the Python mirror of the reference loop agrees exactly
    assert got["h.example.com"] == parse_robots_py(body)


def test_parse_robots_fuzz_vs_reference_mirror(spark):
    rng = random.Random(7)
    frags = [
        "Disallow: /p{}", "Disallow:/q{}", "Disallow: ", "Disallow:",
        "disallow: /x{}", " Disallow: /y{}", "DISALLOW: /z{}",
        "User-agent: bot{}", "Allow: /a{}", "# comment {}", "",
        "Disallow: /col:on{}", "Disallow: /sp ace{}\r", "Sitemap: /s{}",
    ]
    bodies = []
    for i in range(40):
        lines = [rng.choice(frags).format(rng.randrange(5)) for _ in range(rng.randrange(1, 12))]
        bodies.append((f"host{i % 6}.example.com", "\n".join(lines)))
    got = _rules(spark, bodies)
    want = {}
    for host, body in bodies:
        want.setdefault(host, set()).update(parse_robots_py(body))
    want = {h: sorted(ps) for h, ps in want.items() if ps}
    assert got == want


def test_parse_crawl_delays_and_budgets(spark):
    from apollo_service_spark.operators.politeness import budgets_from_delays
    from apollo_service_spark.operators.robots import parse_crawl_delays

    bodies = [
        # mixed case + MIN merge: 10 and 2 -> 2
        ("a.com", "User-agent: *\nCrawl-Delay: 10\ncrawl-delay: 2\nDisallow: /x"),
        # fractional, surrounded by junk values that must be ignored
        ("b.com", "Crawl-delay: fast\nCrawl-delay: 0.5\nCrawl-delay: -3\nCrawl-delay:"),
        # no valid delay at all -> host absent
        ("c.com", "User-agent: *\nDisallow: /y\nCrawl-delay: soon"),
        # whitespace + CRLF value
        ("d.com", "Crawl-delay:   40 \r\nAllow: /"),
    ]
    df = spark.createDataFrame(bodies, "host string, body string")
    delays = {r["host"]: r["crawl_delay"] for r in parse_crawl_delays(df).collect()}
    assert delays == {"a.com": 2.0, "b.com": 0.5, "d.com": 40.0}

    budgets = {
        r["host"]: r["budget"]
        for r in budgets_from_delays(
            parse_crawl_delays(df), iteration_seconds=30.0, max_budget=20
        ).collect()
    }
    # 30/2=15; 30/0.5=60 clamped to 20; 30/40<1 clamped up to 1
    assert budgets == {"a.com": 15, "b.com": 20, "d.com": 1}


def test_engine_robots_bodies_equivalent(spark, small_corpus_spark, tmp_path):
    """FrontierEngine(robots_bodies=raw text) crawls identically to
    FrontierEngine(robots=pre-parsed rules): the parse IS the rules."""
    from apollo_service_spark.operators.frontier import CrawlConfig, FrontierEngine
    from apollo_service_spark.sources.storage import SnapshotStore
    from tests.conftest import crawl_log_tuples

    rules = small_corpus_spark["robots"]
    bodies = (
        rules.groupBy("host")
        .agg(F.sort_array(F.collect_list("disallow_prefix")).alias("ps"))
        .select(
            "host",
            F.concat(
                F.lit("User-agent: *\n"),
                F.array_join(
                    F.transform(F.col("ps"), lambda p: F.concat(F.lit("Disallow: "), p)),
                    "\n",
                ),
                F.lit("\nAllow: /public"),
            ).alias("body"),
        )
    )
    cfg = CrawlConfig(max_iterations=3)

    def run(robots=None, robots_bodies=None, name="x"):
        store = SnapshotStore(str(tmp_path / name))
        eng = FrontierEngine(
            spark,
            small_corpus_spark["pages"],
            store,
            cfg,
            robots=robots,
            robots_bodies=robots_bodies,
            politeness=small_corpus_spark["politeness"],
        )
        eng.run(seeds=small_corpus_spark["seeds"])
        return crawl_log_tuples(spark, store)

    assert run(robots=rules, name="pre") == run(robots_bodies=bodies, name="raw")


def test_parse_sitemap_directives(spark):
    from apollo_service_spark.operators.robots import parse_sitemap_directives

    bodies = [
        (
            "a.com",
            "User-agent: *\n"
            "Sitemap: https://a.com/sitemap.xml\n"
            "sitemap:https://a.com/lower.xml\n"
            "SITEMAP:   https://a.com/caps.xml \r\n"
            "Sitemap: /relative.xml\n"
            "Sitemap:\n"
            "Sitemap: https://a.com/sitemap.xml\n"  # duplicate
            " Sitemap: https://a.com/indented.xml\n"  # leading space: lower().startswith fails
            "Disallow: /x",
        ),
        ("b.com", "Disallow: /only"),
    ]
    df = spark.createDataFrame(bodies, "host string, body string")
    got = {}
    for r in parse_sitemap_directives(df).collect():
        got.setdefault(r["host"], set()).add(r["sitemap_url"])
    assert got == {
        "a.com": {
            "https://a.com/sitemap.xml",
            "https://a.com/lower.xml",
            "https://a.com/caps.xml",
        }
    }


def test_engine_delay_derived_budgets_equivalent(spark, small_corpus_spark, tmp_path):
    """CrawlConfig.delay_budget_seconds + robots_bodies carrying Crawl-delay
    crawls identically to the same budgets passed as an explicit politeness
    table (hosts without a delay fall back to default_budget)."""
    from apollo_service_spark.operators.frontier import CrawlConfig, FrontierEngine
    from apollo_service_spark.sources.storage import SnapshotStore
    from tests.conftest import crawl_log_tuples

    hosts = [r["host"] for r in small_corpus_spark["pages"].select("host").distinct().collect()] \
        if "host" in small_corpus_spark["pages"].columns else None
    if hosts is None:
        from apollo_service_spark.functions import urlkit

        hosts = [
            r["h"]
            for r in small_corpus_spark["pages"]
            .select(urlkit.url_host(F.col("url")).alias("h"))
            .distinct()
            .collect()
        ]
    hosts = sorted(hosts)
    # delay 10 s on half the hosts -> budget floor(30/10)=3; rest default 4
    delayed = hosts[: len(hosts) // 2]
    bodies = spark.createDataFrame(
        [(h, "User-agent: *\nCrawl-delay: 10\nDisallow: /never-matches-xyz") for h in delayed],
        "host string, body string",
    )
    explicit = spark.createDataFrame([(h, 3) for h in delayed], "host string, budget int")
    cfg_derived = CrawlConfig(max_iterations=4, default_budget=4, delay_budget_seconds=30.0)
    cfg_explicit = CrawlConfig(max_iterations=4, default_budget=4)

    def run(name, cfg, **kw):
        store = SnapshotStore(str(tmp_path / name))
        eng = FrontierEngine(
            spark, small_corpus_spark["pages"], store, cfg, **kw
        )
        eng.run(seeds=small_corpus_spark["seeds"])
        return crawl_log_tuples(spark, store)

    got = run("derived", cfg_derived, robots_bodies=bodies)
    want = run("explicit", cfg_explicit, politeness=explicit)
    assert got == want
    # the budget actually bit: an unthrottled crawl differs
    unthrottled = run("free", cfg_explicit)
    assert got != unthrottled


def test_budgets_from_error_rates(spark):
    from apollo_service_spark.operators.politeness import budgets_from_error_rates

    rows = (
        [("clean", 0)] * 4
        + [("half", 0), ("half", 1), ("half", 0), ("half", 1)]
        + [("dead", 1)] * 3
        + [("third", 1), ("third", 0), ("third", 0)]
    )
    log = spark.createDataFrame(rows, "host string, is_error int")
    got = {
        r["host"]: r["budget"]
        for r in budgets_from_error_rates(log, default_budget=8).collect()
    }
    # clean: 8*4//4=8; half: 8*2//4=4; dead: floor at 1; third: 8*2//3=5
    assert got == {"clean": 8, "half": 4, "dead": 1, "third": 5}


def test_select_batch_priority_order(spark):
    # one host, budget 2: the TOP-scored urls are selected, not the BFS head
    rows = [
        ("https://h/a", "h", 0, 10),
        ("https://h/b", "h", 0, 30),
        ("https://h/c", "h", 0, 20),
        ("https://h/d", "h", 0, 30),  # score tie with /b -> url asc breaks it
    ]
    frontier = spark.createDataFrame(rows, "url string, host string, depth int, score int")
    order = [F.col("score").desc(), F.col("url").asc()]
    sel, carry = select_batch(frontier, None, default_budget=2, order=order)
    assert sorted(r["url"] for r in sel.collect()) == ["https://h/b", "https://h/d"]
    assert sorted(r["url"] for r in carry.collect()) == ["https://h/a", "https://h/c"]
