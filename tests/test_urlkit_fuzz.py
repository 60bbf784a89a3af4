"""Batch fuzz equivalence: Spark column expressions vs Python mirrors over
adversarially-shaped URLs (ports, case, fragments, userinfo, schemes, weird
chars) — one DataFrame pass, not per-example round-trips."""

import html
import random

import pytest
from pyspark.sql import functions as F

from apollo_service_spark.functions import urlkit

_SCHEMES = ["https", "http", "HTTPS", "HtTp", "ftp", "", "java script"]
_HOSTS = [
    "host.example.com", "HOST.EXAMPLE.COM", "host.example.com:80",
    "host.example.com:443", "host.example.com:8080", "user@host.com",
    "xn--bcher-kva.tld", "host.example.com:080", "", "h",
]
_PATHS = [
    "", "/", "/a/b/c", "/reports/annual-report-2019.pdf", "/login",
    "/SEC3/P7", "/a//b///c", "/x.JPG", "/path/404", "/404", "/x.aspx",
    "/falah/bafl", "/united/ubl", "/x.PNG", "/media.mp4/x", "/x.pdf.bak", "/1988/2055",
    "/files/.xlsx", "/a/b/", "/%20space", "/x.zip",
]
_QUERIES = ["", "?year=2005", "?a=1&b=1999", "?y=abc", "?x=", "?=v", "?a=1&a=2020"]
_FRAGS = ["", "#frag", "#a#b"]


def _gen_urls(n=400, seed=1234):
    rng = random.Random(seed)
    urls = []
    for _ in range(n):
        s = rng.choice(_SCHEMES)
        sep = "://" if rng.random() < 0.9 else ":/"
        url = (
            s + sep + rng.choice(_HOSTS) + rng.choice(_PATHS)
            + rng.choice(_QUERIES) + rng.choice(_FRAGS)
        )
        urls.append(url)
    urls += [
        "https://x://y", "relative/path", "//protocol-relative.com/x",
        "https:///nohost", "https://", "http://h?q=2001",
    ]
    return urls


def test_fuzz_mirrors_agree(spark):
    urls = _gen_urls()
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = df.select(
        "url",
        urlkit.canonicalize(F.col("url")).alias("canon"),
        urlkit.categorize(F.col("url")).alias("cat"),
        urlkit.is_document_url(F.col("url")).alias("doc"),
        urlkit.is_ignored_fused(F.col("url")).alias("ign"),
    ).collect()
    assert len(got) == len(urls)
    for row in got:
        u = row["url"]
        assert row["canon"] == urlkit.canonicalize_py(u), ("canon", u)
        assert row["cat"] == urlkit.categorize_py(u), ("cat", u)
        assert row["doc"] == urlkit.is_document_url_py(u), ("doc", u)
        assert row["ign"] == urlkit.is_ignored_py(u), ("ign", u)


def test_fuzz_year_on_parseable(spark):
    """Year precedence equivalence on well-formed URLs (the query-param tier
    intentionally mirrors parse_qs only for non-pathological queries)."""
    urls = [
        u
        for u in _gen_urls(seed=99)
        if u.lower().startswith(("http://", "https://")) and "://" not in u[8:]
        and "?a=1&a=2020" not in u
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = df.select("url", urlkit.extract_year(F.col("url")).alias("y")).collect()
    for row in got:
        assert row["y"] == urlkit.extract_year_py(row["url"]), row["url"]


def test_fuzz_surt_key_mirrors_agree(spark):
    """surt_key vs surt_key_py over the adversarial corpus plus pinned
    golden cases (port kept after the reversed host, userinfo dropped,
    everything lowercased, query preserved lowercase)."""
    urls = _gen_urls(seed=20260819)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = df.select(
        "url", urlkit.surt_key(F.col("url")).alias("surt")
    ).collect()
    for row in got:
        assert row["surt"] == urlkit.surt_key_py(row["url"]), row["url"]
    assert (
        urlkit.surt_key_py("https://User@www.Example.COM:8080/A/b?Q=1")
        == "com,example,www:8080)/a/b?q=1"
    )
    assert urlkit.surt_key_py("http://example.com/") == "com,example)/"
    # one host's pages sort adjacent, subdomains right after the apex
    keys = sorted(
        urlkit.surt_key_py(u)
        for u in [
            "https://example.com/z",
            "https://a.example.com/a",
            "https://example.org/a",
            "https://example.com/a",
        ]
    )
    assert keys == [
        "com,example)/a",
        "com,example)/z",
        "com,example,a)/a",
        "org,example)/a",
    ]


def test_surt_key_ipv6_bracketed_hosts_agree(spark):
    """Bracketed IPv6 literals carry colons inside the host: both twins
    must split host/port at the closing bracket (ADVICE r5 — the
    colon-split forms diverged on every IPv6 url).  Cases must be
    urlparse-valid; malformed brackets raise in urlparse itself and are
    outside the twin contract."""
    urls = [
        "https://[::1]:8080/x",
        "https://[::1]/x",
        "https://[2001:db8::1]:443/A/b?Q=1",
        "https://user@[::1]:8080/p",
        "https://h.com:8080/x",
        "https://h.com:/x",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = df.select(
        "url", urlkit.surt_key(F.col("url")).alias("surt")
    ).collect()
    for row in got:
        assert row["surt"] == urlkit.surt_key_py(row["url"]), row["url"]
    assert urlkit.surt_key_py("https://[::1]:8080/x") == "[::1]:8080)/x"


_EDGE_URLS = [
    # uppercase schemes
    "HTTP://Host.Example.COM/A/B", "HtTpS://h.com/x", "FTP://h.com/x",
    # default and other ports
    "http://h.com:80/x", "https://h.com:443", "https://h.com:80/x",
    "http://h.com:8080/x", "http://user@h.com:443/x", "http://h.com:/x",
    # bracketed IPv6 hosts
    "https://[::1]:8080/x", "https://[2001:db8::1]:443/A?Q=1",
    "http://[::1]/login", "https://user@[::1]:80/p",
    # a second scheme inside the url
    "https://x://y", "http://a.com/b://c",
    # protocol-relative and query-before-path
    "//protocol-relative.com/x", "//h.com:80/x", "https://h.com?q=1/path",
    "http://h.com?x", "?q=/a", "https://h.com/p;params?q=1",
    # hosts whose lowercase is longer or shorter than they are
    "http://İstanbul.com/abc", "https://CAFÉ.example/ÄÖ?q=İ",
    # embedded tabs
    "http://h.com/a\tb", "http\t://h.com/x", "https://h\t.com/x",
    "http://h.com/x\t?y=1", "ht\ttp://h.com/", "\thttp://h.com/a\t",
]

# Each pattern means the same to Java's and Python's regex engines.
_EXTRA_IGNORE = [r"/a/b", r"\?y=", r"example\.com:8080", r"^https://h\."]


def _catalyst_candidates(links, extra):
    """The expand phase's former Catalyst composition over the ``raw``
    column: a ``link`` column with the canonical url and its host and path,
    or null when an ignore pattern matches."""
    url = F.col("canon")
    return links.withColumn("canon", urlkit.canonicalize(F.col("raw"))).withColumn(
        "link",
        F.when(
            ~urlkit.is_ignored_fused(url, extra),
            F.struct(url, urlkit.url_host(url), urlkit.url_path(url)),
        ),
    )


@pytest.mark.parametrize("extra", [[], _EXTRA_IGNORE], ids=["default", "extra"])
def test_link_kernel_matches_catalyst(spark, extra):
    """The expand kernel's per-link rows equal canonicalize → url_host /
    url_path → ~is_ignored_fused, with and without user ignore patterns."""
    urls = _gen_urls() + _gen_urls(seed=7) + _EDGE_URLS
    df = spark.createDataFrame([(u,) for u in urls], "raw string")
    rows = _catalyst_candidates(df, extra).collect()
    assert len(rows) == len(urls)
    kept = 0
    for row in rows:
        want = None if row["link"] is None else tuple(row["link"])
        assert urlkit.expand_link_py(row["raw"], extra) == want, row["raw"]
        kept += want is not None
    assert 0 < kept < len(urls)


@pytest.mark.parametrize("extra", [[], _EXTRA_IGNORE], ids=["default", "extra"])
def test_expand_links_udf_matches_catalyst(spark, extra):
    """The Arrow kernel over whole pages returns, for each page and in
    order, the links that extract_links_udf → explode → the Catalyst
    composition keeps."""
    from apollo_service_spark.functions.udfs import (
        expand_links_udf,
        extract_links_udf,
    )

    urls = _gen_urls(seed=5) + _EDGE_URLS
    pages = [
        (
            "".join(f'<a href="{html.escape(u)}">x</a>' for u in urls[i::7]),
            base,
        )
        for i, base in enumerate(
            ["https://h.com/dir/page", "http://Host.Example.COM:80/", "http://[::1]/"]
            * 3
        )
    ] + [(None, "https://h.com/"), ("<p>no links</p>", "https://h.com/")]
    df = spark.createDataFrame(
        [(i, h, b) for i, (h, b) in enumerate(pages)],
        "page int, html string, url string",
    )
    got = {}
    for row in df.select(
        "page", expand_links_udf(extra)(F.col("html"), F.col("url")).alias("links")
    ).collect():
        got[row["page"]] = [tuple(link) for link in row["links"]]
    raw = df.select(
        "page",
        F.posexplode(extract_links_udf(F.col("html"), F.col("url"))).alias(
            "pos", "raw"
        ),
    )
    want = {page: [] for page in range(len(pages))}
    for row in sorted(
        _catalyst_candidates(raw, extra).collect(), key=lambda r: (r["page"], r["pos"])
    ):
        if row["link"] is not None:
            want[row["page"]].append(tuple(row["link"]))
    assert got == want
    assert sum(map(len, got.values())) > 20
