"""Text-analysis column expressions for large-scale training-data pipelines.

JVM-side Catalyst expressions (no Python in the hot path): language-ID
heuristic, quality scoring, token counting, and document fingerprinting over
a ``documents``-shaped table (doc_id, text, lang, source, n_chars).  One
exception by measurement: the repetition scalars also exist as a pure-Python
twin (``repetition_stats_py``, wrapped by ``udfs.repetition_stats_udf``)
because the interpreted higher-order-function folds are 4× slower at corpus
scale — the Catalyst forms stay as the semantic oracle and the Python-free
fallback (BENCH/ROUND5.md).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F


def _kw_rx(kw: str) -> str:
    """Regex-quote a data-driven keyword before embedding it in a pattern
    (the reference does the same with re.escape, fb_scrape_service.py:186) —
    'C++' or 'a.b' must match literally, not as regex syntax. re.escape only
    backslashes non-alphanumerics, which Java regex accepts identically."""
    return re.escape(kw)

# Small stopword lists for the n-gram/stopword language heuristic.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "sich", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count; NULL for NULL text in either ANSI mode
    (without ANSI, ``size(NULL)`` alone is -1)."""
    return F.when(text.isNotNull(), F.size(tokens(text)))


def _word_token_set(text: Column) -> Column:
    """Distinct word tokens of the lowered text, split on ``\\W+``.

    ``\\W`` (ASCII word chars) gives exactly ``\\b``-word semantics for
    ASCII text: a stopword "occurs as a word" iff it appears in this set.
    (For a token like ``theü`` the two formulations diverge — Java's
    ``\\b`` is Unicode-aware, so ``rlike(r"\\bthe\\b")`` would NOT fire
    while the ASCII split does; the split matches the DuckDB oracle's RE2
    ``\\b``, which is ASCII-only, so this is the cross-engine-consistent
    choice — same scoping as the PII patterns' documented ``\\b`` caveat.)
    """
    return F.array_distinct(F.split(F.lower(text), r"\W+"))


def stopword_hits(text: Column, lang: str, token_set: Column | None = None) -> Column:
    """How many DISTINCT stopwords of the language occur as words in the
    text — one ``array_intersect`` against the stopword literals instead of
    per-stopword ``\\b``-regex passes (10 regex evaluations per language per
    row; VERDICT r4 task #8). ``token_set`` lets callers share one split
    across languages."""
    toks = _word_token_set(text) if token_set is None else token_set
    stop_lits = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    return F.coalesce(F.size(F.array_intersect(toks, stop_lits)), F.lit(0))


def detect_lang(text: Column) -> Column:
    """Argmax of per-language stopword hits; 'und' (undetermined) if all
    zero. All languages score against ONE shared token-set expression (the
    identical subtree lets Catalyst's subexpression elimination evaluate the
    split once per row)."""
    toks = _word_token_set(text)
    scores = [(lang, stopword_hits(text, lang, toks)) for lang in _STOPWORDS]
    best = F.greatest(*[s for _, s in scores])
    expr = F.when(best == 0, F.lit("und"))
    for lang, score in scores:
        expr = expr.when(score == best, F.lit(lang))
    return expr


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w).cast("bigint")
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """[0,1] doc-quality heuristic: length band + punctuation band + word-length
    band — the standard pre-training filter shape (length/punct/stopword
    ratios), all Catalyst-native."""
    n_tokens = token_count(text)
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.0)
    mwl = mean_word_length(text)
    word_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    return (length_ok + punct_ok + word_ok) / F.lit(3.0)


# Gopher's document-quality stop-word set (Rae et al. 2021, App. A1.1 —
# distinct from the language-ID lists above: the rule asks for ≥ 2 of THESE
# eight to occur, as a crude "is this running English prose" check).
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via length arithmetic — identical
    in Spark and DuckDB (both `replace` leftmost-non-overlapping), unlike
    regex counting whose engines differ on zero-width/overlap edges."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def gopher_quality_flags(text: Column) -> dict:
    """The Gopher document-quality rule set (Rae et al. 2021, App. A1.1),
    each rule as a named boolean column — all pure Catalyst expressions on
    one projection, zero shuffles, zero Python:

    - ``ok_word_count``: 50 ≤ words ≤ 100,000
    - ``ok_mean_word_len``: mean word length in [3, 10]
    - ``ok_symbol_ratio``: (# + ellipsis occurrences) / words ≤ 0.1
    - ``ok_bullet_lines``: < 90% of lines start with a bullet ("•"/"- ")
    - ``ok_ellipsis_lines``: ≤ 30% of lines end with "..." / "…"
    - ``ok_alpha_words``: ≥ 80% of words contain an alphabetic character
    - ``ok_stop_words``: ≥ 2 distinct Gopher stop words occur as words

    The paper states the bullet rule as "90% of lines starting with a
    bullet point" being the DROP condition.  0-denominator ratios are
    defined as 0 here (the paper leaves them unstated): an empty doc then
    fails ``ok_word_count`` and ``ok_alpha_words`` (0 < 0.8) and passes
    the ≤-threshold ratio rules vacuously — pinned in
    tests/test_curation.py.
    """
    toks = tokens(text)
    n_words = F.size(toks)
    words_d = n_words.cast("double")
    mwl = mean_word_length(text)
    symbols = (
        _occurrences(text, "#")
        + _occurrences(text, "...")
        + _occurrences(text, "…")
    )
    sym_ratio = F.when(n_words > 0, symbols / words_d).otherwise(F.lit(0.0))
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("double")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.startswith("•") | l.startswith("- "))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    bullet_frac = F.when(n_lines > 0, bullet_lines / n_lines).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(n_lines > 0, ellipsis_lines / n_lines).otherwise(
        F.lit(0.0)
    )
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0, alpha_words / words_d).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
        )
    )
    return {
        "ok_word_count": (n_words >= 50) & (n_words <= 100_000),
        "ok_mean_word_len": (mwl >= 3.0) & (mwl <= 10.0),
        "ok_symbol_ratio": sym_ratio <= 0.1,
        "ok_bullet_lines": bullet_frac < 0.9,
        "ok_ellipsis_lines": ellipsis_frac <= 0.3,
        "ok_alpha_words": alpha_frac >= 0.8,
        "ok_stop_words": stop_hits >= 2,
    }


def fingerprint(text: Column) -> Column:
    """64-bit document fingerprint: xxhash64 of the whitespace-normalized,
    lowercased text — the exact-dedup key."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.xxhash64(normalized)


def categorize_post(text: Column, categories: dict) -> Column:
    """Keyword-argmax post categorizer (reference fb_scrape_service.py:191-219):

    per category, score = number of its keywords with a strict word-boundary
    match; winner = argmax with ties broken by category order; zero matches →
    'other'; empty/null text → 'uncategorized'. ``categories`` is an ordered
    {name: [keywords]} dict — the category table is data, not code.
    """
    scores = []
    for name, keywords in categories.items():
        score = F.lit(0)
        for kw in keywords:
            score = score + F.when(
                text.rlike(rf"(?i)\b{_kw_rx(kw)}\b"), 1
            ).otherwise(0)
        scores.append((name, score))
    best = F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    expr = F.when(text.isNull() | (F.trim(text) == ""), F.lit("uncategorized"))
    expr = expr.when(best == 0, F.lit("other"))
    for name, score in scores:
        expr = expr.when(score == best, F.lit(name))
    return expr


def keyword_match_counts(df, text_col: Column, keywords: list):
    """Per-keyword loose/strict match counts over a post/document table —
    the reference's headline FB-scrape output (fb_scrape_service.py:155-189,
    aggregated :333-340, merged across batches :435-439).

    loose  = #rows where lower(keyword) is a substring of lower(text);
    strict = #rows where additionally ``\\b re.escape(kw) \\b`` matches
    (the reference only tests strict inside the loose branch — strict ⊆
    loose by construction). Computed as ONE partial-aggregable pass over the
    table (2·K conditional sums, map-side combined), then unpivoted with
    ``stack`` — no row explosion, no join; at 100 TB this is a single scan.
    Returns (keyword, loose_matches, strict_matches), one row per keyword.
    """
    aggs = []
    for i, kw in enumerate(keywords):
        kl = kw.lower()
        loose = F.lower(text_col).contains(F.lit(kl))
        strict = F.lower(text_col).rlike(rf"\b{_kw_rx(kl)}\b")
        aggs.append(F.sum(F.when(loose, 1).otherwise(0)).alias(f"_l{i}"))
        aggs.append(
            F.sum(F.when(loose & strict, 1).otherwise(0)).alias(f"_s{i}")
        )
    row = df.agg(*aggs)
    cells = ", ".join(
        "'{}', _l{}, _s{}".format(kw.replace("'", "\\'"), i, i)
        for i, kw in enumerate(keywords)
    )
    return row.selectExpr(
        f"stack({len(keywords)}, {cells}) AS (keyword, loose_matches, strict_matches)"
    )


def window_join(
    toks: Column, n: int, stride: int = 1, keep_partial: bool = False
) -> Column:
    """Space-joined n-token windows over a token array, JVM-side only.
    ``stride=1, keep_partial=False`` gives overlapping word n-grams;
    ``stride=n, keep_partial=True`` gives non-overlapping fixed-width
    "lines" including a short tail window (CCNet line shape).

    Shape matters here: the original ``transform(sequence(1, cnt), i ->
    array_join(slice(toks, i, n)))`` re-ran the full token expression per
    index inside the lambda, and inlined under a ``Generate`` (explode) it
    fell off the fast path — 5× slower than this zip form on the same
    data. Zipping n shifted ``slice`` views and ``concat_ws``-ing each
    struct evaluates the token array n+1 times total, not once per gram;
    the stride filter runs BEFORE the transform so discarded windows never
    build their strings.

    Guards: without ``keep_partial``, ``greatest(size-(n-1), 0)`` makes
    every slice empty when the doc has fewer than n tokens (``slice`` with
    a 0 start index would otherwise raise); with it, the shifted views run
    to the array end and ``arrays_zip`` pads the short ones with nulls,
    which ``concat_ws`` skips — that is what keeps the tail window. The
    ``coalesce`` keeps the null-input result an empty array."""
    if n == 1 and stride == 1:
        return F.coalesce(toks, F.array().cast("array<string>"))
    sz = F.size(toks)
    if keep_partial:
        parts = [F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0))) for i in range(n)]
    else:
        cnt = F.greatest(sz - (n - 1), F.lit(0))
        parts = [F.slice(toks, i + 1, cnt) for i in range(n)]
    zipped = F.arrays_zip(*parts)
    if stride > 1:
        zipped = F.filter(zipped, lambda s, i: i % stride == 0)
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    return F.coalesce(grams, F.array().cast("array<string>"))


def _ngram_join(toks: Column, n: int) -> Column:
    """Overlapping word n-grams — see :func:`window_join`."""
    return window_join(toks, n)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>) for Jaccard/MinHash dedup.
    Empty for docs with fewer than n words (not an error)."""
    return _ngram_join(tokens(F.lower(text)), n)


def word_ngrams(text: Column, n: int) -> Column:
    """Case-preserving word n-grams (array<string>) for repetition stats."""
    return _ngram_join(tokens(text), n)


def top_run(sorted_arr: Column) -> Column:
    """Most-frequent element of a SORTED array as ``struct(cnt, g)`` —
    equal elements are adjacent after the sort, so one linear
    :func:`~pyspark.sql.functions.aggregate` scan finds the longest run.
    Ties break to the lexicographically smallest element for free: the
    array is ascending and the scan only replaces the best on a STRICTLY
    longer run, so the first (smallest) maximum wins.  Empty array →
    ``(0, null)``.

    Null elements are IGNORED (filtered before the scan): a null would
    otherwise poison the fold — ``x == prev`` turns null, the pending run
    never folds into the best, and the argmax silently corrupts (e.g.
    ``['a','a','a',null]`` sorted would report ``(1, null)``).

    This keeps per-doc argmax-by-frequency entirely inside one projection:
    no explode, no shuffle — at corpus scale the repetition statistics cost
    exactly one pass over the scan."""
    sorted_arr = F.filter(sorted_arr, lambda x: x.isNotNull())
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("bestcnt"),
        F.lit(None).cast("string").alias("bestg"),
    )

    def step(s: Column, x: Column) -> Column:
        same = s.prev.isNotNull() & (x == s.prev)
        ends_better = (~same) & (s.run > s.bestcnt)
        return F.struct(
            x.alias("prev"),
            F.when(same, s.run + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.when(ends_better, s.run).otherwise(s.bestcnt).alias("bestcnt"),
            F.when(ends_better, s.prev).otherwise(s.bestg).alias("bestg"),
        )

    def finish(s: Column) -> Column:
        last_better = s.run > s.bestcnt
        return F.struct(
            F.when(last_better, s.run).otherwise(s.bestcnt).alias("cnt"),
            F.when(last_better, s.prev).otherwise(s.bestg).alias("g"),
        )

    return F.aggregate(sorted_arr, init, step, finish)


def dup_run_chars(sorted_arr: Column, n: int) -> Column:
    """Character mass of DUPLICATED n-grams (occurrences beyond the first)
    in a SORTED gram array: per run of length c > 1 adds
    ``(c-1) * (length(g) - (n-1))`` (gram length minus its n-1 separator
    spaces = word characters).  Same zero-shuffle linear scan as
    :func:`top_run`, and null elements are ignored for the same reason."""
    sorted_arr = F.filter(sorted_arr, lambda x: x.isNotNull())
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("dup"),
    )

    def _run_dup(s: Column) -> Column:
        return F.when(
            s.run > 1,
            (s.run - 1) * (F.length(s.prev) - (n - 1)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    def step(s: Column, x: Column) -> Column:
        same = s.prev.isNotNull() & (x == s.prev)
        return F.struct(
            x.alias("prev"),
            F.when(same, s.run + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.when(same, s.dup).otherwise(s.dup + _run_dup(s)).alias("dup"),
        )

    return F.aggregate(sorted_arr, init, step, lambda s: s.dup + _run_dup(s))


def word_char_count(text: Column) -> Column:
    """Total characters across whitespace tokens (spaces excluded) — the
    denominator for Gopher-style repetition fractions."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.length(w).cast("bigint"),
    )


def rounded_frac(num: Column, den: Column) -> Column:
    """``num / den`` rounded to 4 places, 0.0 when ``den`` is 0 or NULL —
    the form every curation fraction takes before its threshold, so the
    oracle comparison is exact."""
    return F.round(F.coalesce(num / F.nullif(den, F.lit(0)), F.lit(0.0)), 4)


def repetition_verdict(
    wchars: Column, top_cnt: Column, top_g: Column, dupchars: Column
) -> tuple:
    """``(top_bigram_frac, dup_trigram_frac, keep)`` from the repetition
    scalars: the character fraction of the most frequent 2-gram (its
    count × its characters without the joining space) and of the
    duplicated 3-grams, over the word characters; ``keep`` applies the
    Gopher thresholds (top-2-gram <= 0.20, dup-3-gram <= 0.30)."""
    top = rounded_frac(top_cnt * (F.length(top_g) - 1), wchars)
    dup = rounded_frac(dupchars, wchars)
    return top, dup, (top <= 0.20) & (dup <= 0.30)


# Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python's \s is
# Unicode-aware.  The kernel below must reproduce F.split(text, r"\s+")
# exactly, so it spells the Java class out instead of using \s.
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def repetition_stats_py(text) -> tuple:
    """Pure-Python twin of the Catalyst repetition scalars — EXACTLY
    ``(word_char_count, top_run(sort(2-grams)).cnt, .g,
    dup_run_chars(sort(3-grams), 3))`` per doc, for the Arrow-vectorized
    path (`udfs.repetition_stats_udf`).  Semantics pinned to the column
    expressions (equality property-tested in tests/test_textstats.py):

    - tokenization: Java ``\\s+`` (ASCII whitespace only — see _JAVA_WS),
      empty tokens dropped, case preserved;
    - grams joined with a single space (``concat_ws``);
    - top gram: max count, ties to the smallest gram — Python str order is
      code-point order, which equals UTF-8 byte order (Spark's UTF8String
      comparison), so the tie-break matches;
    - lengths are code points (``len`` ≡ ``F.length``);
    - null text → ``(null, 0, null, 0)``: ``word_char_count`` folds the
      null token array to null, but ``window_join`` coalesces its null
      gram array to EMPTY, so ``top_run`` yields ``(0, null)`` and
      ``dup_run_chars`` folds to 0 — asymmetric on purpose, to match.

    A Counter replaces the sort+run-scan: multiset counts are what the
    run lengths of a sorted array ARE, so no sort is needed here at all —
    this is why the kernel wins (O(n) dict passes vs the interpreted
    fold; see BENCH/ROUND5.md's negative-result section for the two
    Catalyst rewrites that lost)."""
    if text is None:
        return (None, 0, None, 0)
    toks = [t for t in _JAVA_WS.split(text) if t]
    wchars = sum(map(len, toks))
    c2 = Counter(map(" ".join, zip(toks, toks[1:])))
    if c2:
        top_cnt = max(c2.values())
        top_g = min(g for g, c in c2.items() if c == top_cnt)
    else:
        top_cnt, top_g = 0, None
    c3 = Counter(map(" ".join, zip(toks, toks[1:], toks[2:])))
    dupchars = sum((c - 1) * (len(g) - 2) for g, c in c3.items() if c > 1)
    return (wchars, top_cnt, top_g, dupchars)


def space_tokens(text) -> list:
    """The token list ``F.filter(F.split(text, " "), x -> x != "")`` builds
    — split on the single space character only (tabs, newlines and U+00A0
    stay inside tokens), empty tokens dropped; NULL text has no tokens,
    as ``window_join``'s coalesce gives it no windows."""
    return [] if text is None else [t for t in text.split(" ") if t]


def word_windows(
    toks: list, n: int, stride: int = 1, keep_partial: bool = False
) -> list:
    """Pure-Python twin of :func:`window_join`: the space-joined ``n``-token
    windows starting every ``stride`` tokens — all of them when
    ``keep_partial`` (the short tail included), otherwise only the full
    ones."""
    last = len(toks) if keep_partial else len(toks) - n + 1
    return [" ".join(toks[i : i + n]) for i in range(0, last, stride)]


def hash64(s: str) -> int:
    """Deterministic signed 64-bit hash of a string (8-byte BLAKE2b of its
    UTF-8 bytes): equal on every Python worker, unlike the salted
    ``hash()``."""
    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(),
        "little",
        signed=True,
    )


# the one-pass kernel's fixed window widths: CCNet lines of 3 words, and
# the 4-grams the span-coverage and decontamination verdicts share
LINE_WORDS = 3
GRAM_WORDS = 4


def doc_pass_py(text) -> tuple:
    """Everything the curation filters need from one document, read once
    (the row kernel of ``udfs.doc_pass_udf``):

    - the four repetition scalars of :func:`repetition_stats_py` (same
      code, on the same Java ``\\s+`` tokens);
    - from the space-split tokens ``window_join`` sees: the :func:`hash64`
      of every CCNet line (``LINE_WORDS``-token windows at stride
      ``LINE_WORDS``, short tail kept) with the line's length in code
      points, and the :func:`hash64` of every overlapping ``GRAM_WORDS``
      gram.

    Returns ``(wchars, top_cnt, top_g, dupchars, line_h, line_chars,
    gram_h)``; the three lists are empty for NULL or wordless text."""
    toks = space_tokens(text)
    lines = word_windows(toks, LINE_WORDS, LINE_WORDS, keep_partial=True)
    grams = word_windows(toks, GRAM_WORDS)
    return repetition_stats_py(text) + (
        [hash64(x) for x in lines],
        [len(x) for x in lines],
        [hash64(g) for g in grams],
    )
