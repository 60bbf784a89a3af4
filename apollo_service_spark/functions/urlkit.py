"""Catalyst-native URL column expressions.

Every filter / predicate / categorizer from the reference's hand-rolled
per-row Python becomes a pure column expression here, so Catalyst can push it
into the scan, fold constants, and keep it inside whole-stage codegen:

* ignore-pattern filter      — reference `apollo.py:67-76`, applied `:228-232`
* domain restriction         — `apollo.py:235-237`
* document-URL predicate     — `apollo.py:127`, `:354-357`
* link categorizer (CASE)    — `link_processor.py:89-100` (order-sensitive)
* year extractor             — `year_extractor.py:61-106` (precedence:
                               filename → query-param values → path)
* URL component extraction   — `url_clusterer.py:62-87`
* path-prefix truncation     — `url_clusterer.py:69-76`

Python-side mirror functions (``*_py``) implement identical semantics on
plain strings; the oracle simulator and property tests use them so the
distributed plan and the single-process reference can only diverge in the
plan itself, never in predicate semantics.
"""

from __future__ import annotations

import re
from urllib.parse import parse_qs, urlparse

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Patterns (verbatim reference semantics)
# --------------------------------------------------------------------------

IGNORE_PATTERNS = [
    r"logout",
    r"login",
    r"signin",
    r"signout",
    r"\.(zip|rar|exe|dmg|jpeg|png|gif|mov|jpg|mp3|m4v|avi|mp4|aspx)$",
    r"\.jpg",
    # substring, not anchored: the reference's prescreen (apollo.py:229)
    # checks `'/404' in lower_url`, which subsumes its anchored /404$ regex
    r"/404",
]

DOCUMENT_EXTENSIONS = [
    ".pdf", ".doc", ".docx", ".xls", ".xlsx",
    ".ppt", ".pptx", ".txt", ".rtf", ".csv",
]

# The reference carries TWO tiers of categorizer lists: LinkProcessor's
# in-code fallback defaults (link_processor.py:27-35: no jpg/jpeg/png,
# `app.apple`, ['bafl','falah']) and the config values its runtime path
# actually passes (config.py:26-39 via orchestrator.py:303-305: jpg/jpeg/png
# included, `apps.apple`, ['ubl','united']). SURVEY F10 cites config.py as
# the spec, so the config tier is the default here; `categorize` takes the
# three lists as parameters for deployments that customize them (the
# reference's constructor does the same). See PARITY.md "F10 constant tiers".
FILE_EXTENSIONS = [
    "pdf", "xls", "xlsx", "doc", "docx", "ppt", "pptx", "xlsb",
    "csv", "txt", "rtf", "zip", "rar", "tar", "gz", "jpg", "jpeg", "png",
]

SOCIAL_MEDIA_KEYWORDS = [
    "instagram", "facebook", "linkedin", "twitter", "tiktok",
    "youtube", "apps.google", "appstore", "play.google", "apps.apple",
]

BANK_KEYWORDS = ["ubl", "united"]

YEAR_PATTERN = r"(?:19|20)\d{2}"

_FILE_RE = r"\.(" + "|".join(FILE_EXTENSIONS) + r")($|\?)"
_SOCIAL_RE = "(" + "|".join(SOCIAL_MEDIA_KEYWORDS) + ")"
_BANK_RE = "(" + "|".join(BANK_KEYWORDS) + ")"

# Java regex with embedded case-insensitivity for rlike: `u` folds Unicode
# case as Python's re.IGNORECASE does (`(?i)` alone folds ASCII only, so
# `ſignin` or `logİn` would match in the Python mirrors and not here)
_CI = "(?iu)"


# --------------------------------------------------------------------------
# Component extraction
# --------------------------------------------------------------------------


# URL decomposition with Python-urlparse semantics, in plain string
# primitives. Deliberately NOT java.net.URI-based (`parse_url`): a crawler's
# extracted links include malformed garbage (spaces, double fragments, bad
# schemes) that java.net.URI rejects — Spark 4's parse_url THROWS on those —
# while the reference's urlparse is permissive. These expressions reproduce
# urlparse's split exactly (fuzz-tested against the Python mirrors) and
# benchmark faster than parse_url because they avoid full URI parsing.


def _no_frag(url: Column) -> Column:
    return F.split_part(url, F.lit("#"), F.lit(1))


def _after_scheme(url: Column) -> Column:
    """Everything after a *valid* scheme's ':', else the string unchanged
    (urlparse: scheme = [A-Za-z][A-Za-z0-9+.-]* before the first ':')."""
    s = _no_frag(url)
    colon = F.locate(":", s)
    maybe_scheme = F.substr(s, F.lit(1), colon - 1)
    has_scheme = (colon > 1) & maybe_scheme.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*$")
    return F.when(has_scheme, F.substr(s, colon + 1, F.length(s))).otherwise(s)


def url_host(url: Column) -> Column:
    """netloc, as `urlparse(url).netloc` — userinfo@host:port, only when the
    scheme is followed by '//'."""
    rest = _after_scheme(url)
    netloc = F.substring_index(
        F.substring_index(F.substr(rest, F.lit(3), F.length(rest)), "/", 1), "?", 1
    )
    return F.when(rest.startswith("//"), netloc).otherwise(F.lit(""))


def url_path(url: Column) -> Column:
    """path, as `urlparse(url).path` (query and fragment excluded)."""
    rest = _after_scheme(url)
    netloc = F.substring_index(
        F.substring_index(F.substr(rest, F.lit(3), F.length(rest)), "/", 1), "?", 1
    )
    after_netloc = F.when(
        rest.startswith("//"),
        F.substr(rest, F.length(netloc) + F.lit(3), F.length(rest)),
    ).otherwise(rest)
    return F.substring_index(after_netloc, "?", 1)


def url_query(url: Column) -> Column:
    """query string, as `urlparse(url).query` ('' when absent)."""
    rest = _after_scheme(url)
    netloc = F.substring_index(
        F.substring_index(F.substr(rest, F.lit(3), F.length(rest)), "/", 1), "?", 1
    )
    after_netloc = F.when(
        rest.startswith("//"),
        F.substr(rest, F.length(netloc) + F.lit(3), F.length(rest)),
    ).otherwise(rest)
    path = F.substring_index(after_netloc, "?", 1)
    return F.when(
        after_netloc.contains("?"),
        F.substr(after_netloc, F.length(path) + F.lit(2), F.length(after_netloc)),
    ).otherwise(F.lit(""))


def url_filename(url: Column) -> Column:
    """basename of the path (year_extractor.py:93)."""
    return F.element_at(F.split(url_path(url), "/"), -1)


def strip_fragment(url: Column) -> Column:
    """`url.split('#')[0]` (apollo.py:367)."""
    return F.split_part(url, F.lit("#"), F.lit(1))


def surt_key(url: Column) -> Column:
    """SURT key (Sort-friendly URI Reordering Transform) — the canonical
    CDX-index key format Common Crawl's URL index uses (public spec,
    iipc/webarchive-commons): scheme and userinfo dropped, host lowercased
    and its labels REVERSED comma-joined (so one domain's pages sort
    adjacent — the property every per-domain scan at index scale relies
    on), ``:port`` appended after the reversed host when present, then
    ``)`` + lowercased path + ``?`` + lowercased query when non-empty.

    ``https://User@www.Example.COM:8080/A/b?Q=1``
    → ``com,example,www:8080)/a/b?q=1``

    Subset note (documented, pinned by the Python twin's fuzz test): the
    full canonicalizer's extras — www-stripping, session-param removal,
    %-escape normalization — are policy choices layered ON TOP of the key
    transform and intentionally not baked in here."""
    netloc = F.lower(F.substring_index(url_host(url), "@", -1))
    # bracketed IPv6 literals ("[::1]:8080") carry colons INSIDE the host:
    # split host/port at the closing bracket, not at a colon (ADVICE r5 —
    # the colon-split Catalyst form and the first-colon Python twin
    # diverged on every IPv6 url).  A bracket with no "]" keeps the whole
    # netloc as host (no port), in both twins.
    br_end = F.locate("]", netloc)  # 1-based, 0 when absent
    is_br = netloc.startswith("[") & (br_end > 0)
    plain_host = F.substring_index(netloc, ":", 1)
    host = F.when(
        netloc.startswith("["),
        F.when(is_br, F.substr(netloc, F.lit(1), br_end)).otherwise(netloc),
    ).otherwise(plain_host)
    br_rest = F.substr(netloc, br_end + F.lit(1), F.length(netloc))
    plain_port_digits = F.substring_index(netloc, ":", -1)
    # degenerate "host:" (empty port) drops the colon, matching the
    # urlparse-permissive twin (urlparse reports port '')
    port = F.when(
        netloc.startswith("["),
        F.when(
            is_br & br_rest.startswith(":") & (F.length(br_rest) > 1),
            br_rest,
        ).otherwise(F.lit("")),
    ).otherwise(
        F.when(
            netloc.contains(":") & (plain_port_digits != ""),
            F.concat(F.lit(":"), plain_port_digits),
        ).otherwise(F.lit(""))
    )
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    q = F.lower(url_query(url))
    return F.concat(
        rev,
        port,
        F.lit(")"),
        F.lower(url_path(url)),
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def surt_key_py(url: str) -> str:
    """Python twin of :func:`surt_key` (same urlparse-permissive parse the
    other _py twins use) — the fuzz oracle for the Catalyst expression."""
    from urllib.parse import urlparse

    p = urlparse(url)
    netloc = p.netloc.rpartition("@")[2].lower()
    if netloc.startswith("["):
        i = netloc.find("]")
        if i < 0:
            host, port = netloc, ""
        else:
            host = netloc[: i + 1]
            rest = netloc[i + 1 :]
            port = rest[1:] if rest.startswith(":") else ""
    else:
        host, _, port = netloc.partition(":")
    rev = ",".join(reversed(host.split(".")))
    out = rev + (f":{port}" if port else "") + ")" + p.path.lower()
    if p.query:
        out += "?" + p.query.lower()
    return out


def canonicalize(url: Column) -> Column:
    """Lowercase scheme+host, strip fragment and default port.

    The scale-path canonical form used for hashing/partitioning the seen set.
    Built from plain string primitives (split/substr/locate) instead of
    full-URL regex passes — this expression runs on every extracted link of
    every page, and regex here measured ~4× the cost of the extraction UDF
    itself. Semantics identical to ``canonicalize_py`` (hypothesis-tested).
    """
    no_frag = strip_fragment(F.trim(url))
    scheme = F.lower(F.substring_index(no_frag, "://", 1))
    # everything after "://"
    after = F.substr(
        no_frag, F.length(scheme) + F.lit(4), F.length(no_frag)
    )
    # authority = up to first '/' or '?'; the rest starts after its
    # un-lowered length (lowercasing 'İ' adds a character)
    raw_auth = F.substring_index(F.substring_index(after, "/", 1), "?", 1)
    auth = F.lower(raw_auth)
    rest = F.substr(after, F.length(raw_auth) + F.lit(1), F.length(no_frag))
    auth_noport = (
        F.when(auth.endswith(":80"), F.substr(auth, F.lit(1), F.length(auth) - F.lit(3)))
        .when(auth.endswith(":443"), F.substr(auth, F.lit(1), F.length(auth) - F.lit(4)))
        .otherwise(auth)
    )
    return F.when(
        no_frag.contains("://")
        & scheme.isin("http", "https")
        & (auth != ""),
        F.concat(scheme, F.lit("://"), auth_noport, rest),
    ).otherwise(no_frag)


def host_salted_partition(
    host: Column,
    n_partitions: int,
    salt: int = 0,
    url: Column | None = None,
    spread: int | None = None,
) -> Column:
    """Deterministic partition id: salted host hash, plus (when ``url`` is
    given) a per-url offset that spreads each host across ``spread``
    partitions (default: all of them).

    A pure host hash maps a host's ENTIRE url set to one partition — salting
    decorrelates hosts from each other but cannot spread a single mega-host
    (the skew SURVEY §7 names: one host holding most of the frontier pins
    one task). The url offset keeps the id a pure function of the row (the
    same url always lands on the same partition, so partition-local
    membership checks stay exact) while a mega-host's urls distribute
    uniformly. ``spread=1`` / ``url=None`` recovers pure host locality."""
    # pmod the host hash BEFORE adding the url offset: pmod(H, P) + O fits
    # trivially in int64 and pmod(pmod(H, P) + O, P) == pmod(H + O, P), while
    # the raw H + O could overflow int64 for a host hash within `spread` of
    # Long.MAX — an ArithmeticException under ANSI mode (the Spark 4 default)
    base = F.pmod(F.xxhash64(host, F.lit(salt)), F.lit(n_partitions))
    if url is not None:
        spread = n_partitions if spread is None else spread
        if spread > 1:
            base = base + F.pmod(
                F.xxhash64(url, F.lit(salt + 0x51_7C_C1B7)), F.lit(spread)
            )
    return F.pmod(base, F.lit(n_partitions))


def path_prefix(path: Column, depth: int = 2) -> Column:
    """Truncate to the first `depth` non-empty path components.

    Matches `url_clusterer.extract_url_components` (url_clusterer.py:62-87):
    rstrip('/'), split, drop empties, keep first `depth`, '/'-join with
    leading '/', '/' for empty.
    """
    parts = F.filter(F.split(F.regexp_replace(path, "/+$", ""), "/"), lambda p: p != "")
    if depth > 0:
        parts = F.slice(parts, 1, depth)
    return F.when(F.size(parts) > 0, F.concat(F.lit("/"), F.array_join(parts, "/"))).otherwise(
        F.lit("/")
    )


# Windows/POSIX-unsafe filename characters, each replaced with '_'
# (fb_scrape_service.py:149-153, deal_scrape_service.py:182-183)
INVALID_FILENAME_CHARS = '<>:"/\\|?*'


def sanitize_filename(name: Column) -> Column:
    """Replace every invalid filename character with '_' — one translate()."""
    return F.translate(name, INVALID_FILENAME_CHARS, "_" * len(INVALID_FILENAME_CHARS))


def sanitize_filename_py(name: str) -> str:
    for ch in INVALID_FILENAME_CHARS:
        name = name.replace(ch, "_")
    return name


# --------------------------------------------------------------------------
# Predicates / filters
# --------------------------------------------------------------------------


_IGNORE_SUBSTRINGS = ["logout", "login", "signin", "signout", ".jpg", "/404"]
_IGNORE_EXT_SUFFIXES = [
    ".zip", ".rar", ".exe", ".dmg", ".jpeg", ".png", ".gif", ".mov",
    ".jpg", ".mp3", ".m4v", ".avi", ".mp4", ".aspx",
]


def is_ignored_fused(url: Column, extra_patterns: list | None = None) -> Column:
    """True when any ignore pattern matches (case-insensitive search) — the
    default substring/suffix patterns plus any user-supplied regexes, fused
    into ONE ``rlike``.

    The url is referenced exactly once. A contains/endswith decomposition
    references it once per term (~30×); when the url column is an alias for
    e.g. ``canonicalize`` (a ~50-node tree), predicate pushdown substitutes
    the tree into EVERY term and the generated code blows past janino's
    compile limits, silently dropping the superstep's biggest stage to
    interpreted execution (round-4 probe). The fused alternation keeps the
    substituted plan to one canonicalize + one compiled regex per row —
    inside whole-stage codegen (tests/test_plans.py runs the pipeline with
    ``codegen.fallback=false``). Property-tested equivalent to
    ``is_ignored_py`` (tests/test_urlkit.py)."""
    import re as _re

    terms = [_re.escape(s) for s in _IGNORE_SUBSTRINGS]
    # \z = absolute end of input, i.e. endswith(): Java-regex `$` (like
    # Python's in is_ignored_py) would also match just before a trailing
    # line terminator — a url ending in '\n', unreachable post-canonicalize
    terms += [_re.escape(s) + "\\z" for s in _IGNORE_EXT_SUFFIXES]
    if extra_patterns:
        terms += [f"(?:{p})" for p in extra_patterns]
    return url.rlike(_CI + "(?:" + "|".join(terms) + ")")


def is_redirect_404(url: Column, final_url: Column) -> Column:
    """The scraper's redirect-to-404 heuristic (scraper.py:193-198): a fetch
    is treated as a 404 when the FINAL url (after redirects) contains
    ``/404``, or when the request actually redirected (final != requested)
    and the final url contains ``not-found`` or ``error``. Exact-substring,
    case-SENSITIVE, matching the reference's ``in`` checks. A null final_url
    (no redirect information) falls back to the requested url — only the
    redirect-conditioned ``not-found``/``error`` checks are suppressed
    (final == requested), while a requested url containing ``/404`` still
    flags. (In the reference final_url always exists, so the fallback only
    matters for this engine's nullable column.)"""
    f = F.coalesce(final_url, url)
    return f.contains("/404") | (
        (f != url) & (f.contains("not-found") | f.contains("error"))
    )


def is_document_path(path: Column) -> Column:
    """Path (lowercased) ends with one of the 10 document extensions."""
    ext_re = "|".join(e.lstrip(".") for e in DOCUMENT_EXTENSIONS)
    return F.lower(path).rlike(r"\.(" + ext_re + r")$")


def is_document_url(url: Column) -> Column:
    """The url's path ends with one of the 10 document extensions."""
    return is_document_path(url_path(url))


def categorize(
    url: Column,
    file_extensions: list | None = None,
    social_media_keywords: list | None = None,
    bank_keywords: list | None = None,
) -> Column:
    """Order-sensitive CASE (link_processor.py:89-100):

    social-media keyword → 'social_media'; else no bank keyword → 'misc';
    else file extension → 'file'; else 'bank'.

    The three lists default to the reference's runtime config values
    (config.py:26-39, passed via orchestrator.py:303-305) — see the comment
    above the module constants for the config-vs-fallback tier distinction.
    They are injectable exactly as in the reference's constructor
    (link_processor.py:17-20) for customized deployments.

    The reference's patterns are case-insensitive regex *searches*, so each
    keyword list is one rlike folding Unicode case, as ``categorize_py``'s
    ``re.IGNORECASE`` does (``lower().contains`` would not: Java lowercases
    ``İ`` to two characters and leaves ``ı`` and ``ſ`` alone). The
    file-extension regex is reached only for bank-keyword urls (CaseWhen
    evaluates lazily per row).
    """
    social_kws = social_media_keywords or SOCIAL_MEDIA_KEYWORDS
    bank_kws = bank_keywords or BANK_KEYWORDS
    file_re = (
        _FILE_RE
        if file_extensions is None
        else r"\.(" + "|".join(file_extensions) + r")($|\?)"
    )
    social = url.rlike(_CI + "(" + "|".join(social_kws) + ")")
    bank = url.rlike(_CI + "(" + "|".join(bank_kws) + ")")
    return (
        F.when(social, F.lit("social_media"))
        .when(~bank, F.lit("misc"))
        .when(url.rlike(_CI + file_re), F.lit("file"))
        .otherwise(F.lit("bank"))
    )


def extract_year(url: Column) -> Column:
    """Year precedence (year_extractor.py:90-106):

    first (19|20)\\d{2} in the path basename, else in any query-param value,
    else anywhere in the path, else "No Year".
    """
    path = url_path(url)
    filename = F.element_at(F.split(path, "/"), -1)
    query = url_query(url)
    # all '=value' parts of the query, in order — first match wins
    qvals = F.array_join(
        F.transform(
            F.filter(F.split(query, "&"), lambda kv: kv != ""),
            lambda kv: F.when(
                kv.contains("="), F.substring_index(kv, "=", -1)
            ).otherwise(F.lit("")),
        ),
        " ",
    )
    fy = F.regexp_extract(filename, YEAR_PATTERN, 0)
    qy = F.regexp_extract(qvals, YEAR_PATTERN, 0)
    py = F.regexp_extract(path, YEAR_PATTERN, 0)
    return (
        F.when(fy != "", fy)
        .when(qy != "", qy)
        .when(py != "", py)
        .otherwise(F.lit("No Year"))
    )


# --------------------------------------------------------------------------
# Python-side mirrors (oracle simulator + property tests)
# --------------------------------------------------------------------------

_IGNORE_COMPILED = re.compile(
    "|".join(f"(?:{p})" for p in IGNORE_PATTERNS), re.IGNORECASE
)
_FILE_COMPILED = re.compile(_FILE_RE, re.IGNORECASE)
_SOCIAL_COMPILED = re.compile(_SOCIAL_RE, re.IGNORECASE)
_BANK_COMPILED = re.compile(_BANK_RE, re.IGNORECASE)
_YEAR_COMPILED = re.compile(YEAR_PATTERN)


def is_ignored_py(url: str, extra_patterns: list | None = None) -> bool:
    return _IGNORE_COMPILED.search(url) is not None or any(
        re.search(p, url, re.IGNORECASE) for p in extra_patterns or ()
    )


def is_document_url_py(url: str) -> bool:
    path = urlparse(url).path.lower()
    return any(path.endswith(ext) for ext in DOCUMENT_EXTENSIONS)


def categorize_py(url: str) -> str:
    if _SOCIAL_COMPILED.search(url):
        return "social_media"
    if not _BANK_COMPILED.search(url):
        return "misc"
    if _FILE_COMPILED.search(url):
        return "file"
    return "bank"


def extract_year_py(url: str) -> str:
    import os.path

    parsed = urlparse(url)
    m = _YEAR_COMPILED.search(os.path.basename(parsed.path))
    if m:
        return m.group()
    if parsed.query:
        for _param, values in parse_qs(parsed.query).items():
            for value in values:
                m = _YEAR_COMPILED.search(value)
                if m:
                    return m.group()
    if parsed.path:
        m = _YEAR_COMPILED.search(parsed.path)
        if m:
            return m.group()
    return "No Year"


_CANON_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?]*)(.*)$", re.DOTALL)


def canonicalize_py(url: str) -> str:
    # strip(" ") and endswith: Spark's trim removes spaces only, and `$`
    # would also match before a final newline
    url = url.strip(" ").split("#", 1)[0]
    m = _CANON_RE.match(url)
    if not m:
        return url
    scheme, host, rest = m.group(1).lower(), m.group(2).lower(), m.group(3)
    if scheme not in ("http", "https") or not host:
        return url
    for port in (":80", ":443"):
        if host.endswith(port):
            host = host[: -len(port)]
            break
    return f"{scheme}://{host}{rest}"


# The string rules of `url_host` / `url_path` above, in Python. Not urlparse:
# urlparse also splits ';params' off the path. The scheme test is the Java
# regex of `_after_scheme`, whose `$` also matches before one final line
# terminator.
_SCHEME_JAVA_RE = re.compile(
    r"[A-Za-z][A-Za-z0-9+.\-]*(?:\r\n|[\n\r\x85\u2028\u2029])?\Z"
)


def _after_scheme_py(url: str) -> str:
    s = url.split("#", 1)[0]
    colon = s.find(":")
    if colon > 0 and _SCHEME_JAVA_RE.match(s[:colon]):
        return s[colon + 1 :]
    return s


def url_host_py(url: str) -> str:
    """Python twin of :func:`url_host`."""
    rest = _after_scheme_py(url)
    if not rest.startswith("//"):
        return ""
    return rest[2:].split("/", 1)[0].split("?", 1)[0]


def url_path_py(url: str) -> str:
    """Python twin of :func:`url_path`."""
    rest = _after_scheme_py(url)
    if rest.startswith("//"):
        netloc = rest[2:].split("/", 1)[0].split("?", 1)[0]
        rest = rest[len(netloc) + 2 :]
    return rest.split("?", 1)[0]


def expand_link_py(link: str, extra_patterns: list | None = None):
    """One extracted link as the frontier's candidate (url, host, path): the
    canonical url and its host and path, or None when an ignore pattern
    matches the canonical url."""
    url = canonicalize_py(link)
    if is_ignored_py(url, extra_patterns):
        return None
    return url, url_host_py(url), url_path_py(url)


def path_prefix_py(path: str, depth: int = 2) -> str:
    parts = [p for p in path.rstrip("/").split("/") if p]
    if depth > 0:
        parts = parts[:depth]
    return "/" + "/".join(parts) if parts else "/"
