"""Text-stats operator semantics: keyword matching, sanitizers."""

from pyspark.sql import functions as F

from apollo_service_spark.functions import textstats, urlkit


def test_keyword_match_counts_loose_vs_strict(spark):
    """loose = substring, strict = word-boundary AND loose — the reference's
    has_loose_match / has_word_match pair (fb_scrape_service.py:155-177)."""
    posts = spark.createDataFrame(
        [
            ("the window slides",),    # loose 'win' (substring), not strict
            ("we win today",),         # loose + strict 'win'
            ("nothing relevant",),
            (None,),                   # null text matches nothing
        ],
        "text string",
    )
    out = {
        r["keyword"]: (r["loose_matches"], r["strict_matches"])
        for r in textstats.keyword_match_counts(
            posts, F.col("text"), ["win", "slid"]
        ).collect()
    }
    assert out["win"] == (2, 1)
    assert out["slid"] == (1, 0)


def test_keyword_match_counts_escapes_metacharacters(spark):
    """'a.b' must match only the literal 'a.b' (re.escape parity,
    fb_scrape_service.py:186) — unescaped it would also match 'axb'."""
    posts = spark.createDataFrame(
        [("contains a.b literal",), ("contains axb imposter",)],
        "text string",
    )
    out = {
        r["keyword"]: (r["loose_matches"], r["strict_matches"])
        for r in textstats.keyword_match_counts(
            posts, F.col("text"), ["a.b"]
        ).collect()
    }
    assert out["a.b"] == (1, 1)


def test_categorize_post_escapes_metacharacters(spark):
    cats = {"dotted": ["a.b"], "parens": ["x(y)"]}
    df = spark.createDataFrame(
        [("has a.b here",), ("has axb here",), ("",)], "text string"
    )
    got = [
        r["c"]
        for r in df.select(
            textstats.categorize_post(F.col("text"), cats).alias("c")
        ).collect()
    ]
    assert got == ["dotted", "other", "uncategorized"]


def test_sanitize_filename_spark_matches_python(spark):
    names = [
        'report<2024>:"final"',
        "a/b\\c|d?e*f",
        "clean-name.txt",
        "",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r["name"]: r["out"]
        for r in df.select(
            "name", urlkit.sanitize_filename(F.col("name")).alias("out")
        ).collect()
    }
    for n in names:
        assert got[n] == urlkit.sanitize_filename_py(n), n
    assert got['report<2024>:"final"'] == "report_2024___final_"


def test_shingles_short_docs_empty_not_error(spark):
    # regression: sequence(1, size-(n-1)) runs BACKWARDS for docs shorter
    # than n words, and slice(toks, 0, n) raised INVALID_PARAMETER_VALUE —
    # short docs must yield an empty shingle array instead
    df = spark.createDataFrame(
        [("one two",), ("single",), ("",), ("a b c",)], "text string"
    )
    rows = df.select(textstats.shingles(F.col("text"), 3).alias("s")).collect()
    assert [r["s"] for r in rows] == [[], [], [], ["a b c"]]


def test_word_ngrams_and_char_count(spark):
    df = spark.createDataFrame([("the cat the cat sat",)], "text string")
    row = df.select(
        textstats.word_ngrams(F.col("text"), 2).alias("bi"),
        textstats.word_char_count(F.col("text")).alias("wc"),
    ).collect()[0]
    assert row["bi"] == ["the cat", "cat the", "the cat", "cat sat"]
    assert row["wc"] == len("thecatthecatsat")


def test_repetition_stats_hand_computed(spark, tmp_path):
    # doc 1: "aa bb aa bb aa bb" — top bigram "aa bb" occurs 3x of 5 bigrams;
    # chars in it = 3 * 4 = 12 over 12 word chars -> 1.0; trigrams
    # "aa bb aa" x2, "bb aa bb" x2 -> dup chars = (2-1)*6 + (2-1)*6 = 12 -> 1.0
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": [1, 2],
            "text": ["aa bb aa bb aa bb", "x y z"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [17, 5],
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    from apollo_service_spark.plans.queries import q_repetition_stats

    got = {
        r["doc_id"]: r
        for r in q_repetition_stats(spark, str(tmp_path)).collect()
    }
    assert got[1]["top_bigram_frac"] == 1.0
    assert got[1]["dup_trigram_frac"] == 1.0
    assert got[1]["keep"] is False
    # doc 2: each bigram unique -> top "x y" 1x, chars 2/3; no dup trigrams
    assert got[2]["top_bigram_frac"] == round(2 / 3, 4)
    assert got[2]["dup_trigram_frac"] == 0.0
    assert got[2]["keep"] is False  # top bigram frac > 0.2


def test_run_length_folds_match_brute_force(spark):
    """top_run / dup_run_chars vs a Counter brute force on seeded random
    gram multisets — guards the fold's fiddly parts: the strict-> update
    (lexicographic tie-break inherited from the sort), folding the FINAL
    run after the scan ends, empty/singleton arrays, and null elements
    (ignored — an unfiltered null would poison the run comparison and
    drop the pending best)."""
    import random
    from collections import Counter

    rng = random.Random(20260818)
    vocab = ["aa bb", "bb cc", "aa cc", "cc aa", "dd ee", "aa bb", None]
    cases = [[]] + [["aa bb"]] + [[None]] + [["aa bb", None, "aa bb", None, "aa bb"]] + [
        rng.choices(vocab, k=rng.randint(2, 40)) for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, grams) for i, grams in enumerate(cases)],
        "id int, grams array<string>",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            textstats.top_run(F.array_sort("grams")).alias("top"),
            textstats.dup_run_chars(F.array_sort("grams"), 2).alias("dup"),
        ).collect()
    }
    for i, grams in enumerate(cases):
        counts = Counter(g for g in grams if g is not None)
        if counts:
            # max count, then lexicographically smallest gram
            bestcnt = max(counts.values())
            bestg = min(g for g, c in counts.items() if c == bestcnt)
            assert out[i]["top"]["cnt"] == bestcnt, (i, grams)
            assert out[i]["top"]["g"] == bestg, (i, grams)
        else:
            assert out[i]["top"]["cnt"] == 0 and out[i]["top"]["g"] is None
        expect_dup = sum((c - 1) * (len(g) - 1) for g, c in counts.items() if c > 1)
        assert out[i]["dup"] == expect_dup, (i, grams)


def test_arrow_repetition_kernel_matches_catalyst(spark):
    """The Counter kernel (udfs.repetition_stats_udf) must reproduce the
    Catalyst folds EXACTLY — wchars, top.cnt, top.g, dupchars per doc —
    including the adversarial corners: Java-vs-Python whitespace dialects
    (\\x0b splits in both; NBSP splits in NEITHER because Java's \\s is
    ASCII-only and the kernel spells that class out), repeated-gram
    argmax ties (lexicographically smallest wins), empty and null text
    (null → wchars null but top (0, null) / dupchars 0, because
    window_join coalesces its null gram array to empty)."""
    import random

    rng = random.Random(20260819)
    vocab = ["aa", "bb", "cc", "dd", "ü", "ee ee"]  # embedded space via join
    cases = [
        "",
        " ",
        "one",
        "a b a b a b",
        "x y z",          # NBSP is NOT whitespace in either engine
        "p\x0bq\tr\ns  t",     # every ASCII whitespace flavor splits
        None,
    ] + [
        " ".join(rng.choices(vocab, k=rng.randint(0, 30))) for _ in range(40)
    ]
    from apollo_service_spark.functions.udfs import repetition_stats_udf
    from apollo_service_spark.plans.queries import _repetition_raw_cols

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id int, text string"
    )
    cat_raw = {
        r[0]: tuple(r[1:])
        for r in docs.select("doc_id", *_repetition_raw_cols())
        .select("doc_id", "wchars", "top.cnt", "top.g", "dupchars")
        .collect()
    }
    arr_raw = {
        r[0]: (r[1]["wchars"], r[1]["top_cnt"], r[1]["top_g"], r[1]["dupchars"])
        for r in docs.select(
            "doc_id", repetition_stats_udf(F.col("text")).alias("rep")
        ).collect()
    }
    for i, t in enumerate(cases):
        assert cat_raw[i] == arr_raw[i], (i, t, cat_raw[i], arr_raw[i])


def test_arrow_repetition_kernel_mega_doc(spark):
    """Skew guard for the Arrow path: one pathological 200k-word document
    in a batch must produce exact values (the structure makes them
    computable analytically) without destabilizing the worker — the
    worst-skew story for per-doc kernels is one huge doc in its own Arrow
    batch, and maxRecordsPerBatch only bounds ROWS, not bytes."""
    n = 200_000
    # 'a b a b ... a b': 2-grams alternate 'a b' (n/2 times) and
    # 'b a' (n/2 - 1); 3-grams alternate 'a b a' and 'b a b'
    mega = " ".join(["a", "b"] * (n // 2))
    docs = spark.createDataFrame(
        [(1, mega), (2, "tiny doc here")], "doc_id int, text string"
    )
    from apollo_service_spark.functions.udfs import repetition_stats_udf

    out = {
        r[0]: r[1]
        for r in docs.select(
            "doc_id", repetition_stats_udf(F.col("text")).alias("rep")
        ).collect()
    }
    rep = out[1]
    assert rep["wchars"] == n
    assert rep["top_cnt"] == n // 2 and rep["top_g"] == "a b"
    # dup 3-grams: 'a b a' occurs ceil((n-2)/2), 'b a b' floor((n-2)/2);
    # each duplicate occurrence contributes len('a b a') - 2 = 3 chars
    n3 = n - 2
    expected_dup = ((n3 + 1) // 2 - 1) * 3 + (n3 // 2 - 1) * 3
    assert rep["dupchars"] == expected_dup
    assert out[2]["top_cnt"] == 1
