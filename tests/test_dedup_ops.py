"""Dedup-operator semantics: LSH recall and caps, SimHash groups, winnowing."""

import time

import pytest
from pyspark.sql import functions as F

from apollo_service_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_signature_bands_vary(spark):
    """Each signature slot uses its own permutation salt — a regression
    guard for the transform (element, index) lambda pitfall that made all
    32 slots identical."""
    df = _docs(spark, [(1, "one two three four five six seven eight")])
    sig = df.select(
        dedup.minhash_signature(F.col("text"), n_hashes=8, shingle_n=2).alias("s")
    ).collect()[0]["s"]
    assert len(set(sig)) > 1, sig


def test_minhash_lsh_finds_planted_pairs(spark):
    base = [
        (i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(20)
    ]
    near = [(i + 1000, t + " tail") for i, t in base]
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, base + near), n_hashes=32, bands=32,
        shingle_n=3, jaccard_threshold=0.5,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(i, i + 1000) for i in range(20)}


def test_minhash_lsh_bucket_cap_bounds_degenerate_groups(spark):
    """5000 identical short docs share every band bucket; without the cap the
    within-bucket join is ~12.5M pairs × 32 bands. With the cap the call
    completes quickly and emits no pairs (mega-groups belong to the O(n)
    group representation, not the pairwise path)."""
    n = 5000
    rows = [(i, "same short doc body here") for i in range(n)]
    t0 = time.monotonic()
    out = dedup.minhash_lsh_pairs(
        _docs(spark, rows), n_hashes=16, bands=4, shingle_n=2,
        jaccard_threshold=0.5, max_bucket_size=100,
    ).count()
    wall = time.monotonic() - t0
    assert out == 0
    assert wall < 120, f"degenerate bucket not capped: {wall:.1f}s"
    # the same corpus IS fully grouped by the O(n) representation
    groups = dedup.duplicate_groups(_docs(spark, rows)).collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == n


def test_cosine_topk_guards_large_query_sets(spark):
    from apollo_service_spark.operators.similarity import cosine_topk

    vecs = spark.range(20).select(
        F.col("id").alias("q_id"),
        F.array(F.lit(1.0), F.lit(0.5)).alias("q_vec"),
    )
    corpus = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.3), F.lit(0.9)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(vecs, corpus, k=2, max_queries=10)


def test_duplicate_groups_id_cap_keeps_counts_exact(spark):
    """The mega-group id cap bounds doc_ids BEFORE the collect (window
    row_number, not post-slice) while n_dups stays exact; null group keys
    (cap or no cap) behave identically."""
    n = 500
    rows = [(i, "identical body") for i in range(n)] + [(9000, "unique text here")]
    df = _docs(spark, rows)
    capped = dedup.duplicate_groups(df, max_ids_per_group=10).collect()
    assert len(capped) == 1
    assert capped[0]["n_dups"] == n
    assert capped[0]["doc_ids"] == list(range(10))  # smallest ids kept
    full = dedup.duplicate_groups(df, max_ids_per_group=None).collect()
    assert full[0]["n_dups"] == n and len(full[0]["doc_ids"]) == n


def test_simhash_groups_cap_matches_uncapped_on_small_groups(spark):
    rows = [(i, f"doc body {i % 7}") for i in range(70)]
    df = _docs(spark, rows)
    a = {(r["n"], tuple(r["doc_ids"])) for r in dedup.simhash_dup_groups(df).collect()}
    b = {
        (r["n"], tuple(r["doc_ids"]))
        for r in dedup.simhash_dup_groups(df, max_ids_per_group=None).collect()
    }
    assert a == b and len(a) == 7


def test_ngram_jaccard_posting_cap(spark):
    """Opt-in posting cap: identical to uncapped when no posting exceeds it;
    on a boilerplate corpus it bounds the join and only ever UNDER-counts."""
    rows = []
    for i in range(12):
        words = [f"w{i}x{j}" for j in range(20)]
        rows.append((i, " ".join(words)))
        rows.append((i + 100, " ".join(words[:18]) + " tailA tailB"))
    df = _docs(spark, rows)
    base = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(df, threshold=0.5, max_posting_size=50).collect()}
    assert capped == base == {(i, i + 100) for i in range(12)}
    # boilerplate: every doc shares one giant posting list; cap=10 drops it
    boiler = [(i, "same same same same body") for i in range(300)]
    bdf = _docs(spark, boiler)
    out = dedup.ngram_jaccard_pairs(bdf, threshold=0.5, max_posting_size=10).count()
    assert out == 0  # under-counts by design; O(n^2) join avoided


def test_cap_drop_counts_observed(spark):
    """No silent caps (VERDICT r3 task #7): when a cap binds, the operator
    reports exactly how much it dropped via the rider Observation — so a
    100 TB pipeline can see recall loss, not infer it."""
    from pyspark.sql import Observation

    # duplicate_groups: 40 identical docs, cap 10 → 30 ids truncated
    rows = [(i, "same body") for i in range(40)] + [(900, "unique one")]
    df = _docs(spark, rows)
    obs = Observation()
    got = dedup.duplicate_groups(
        df, max_ids_per_group=10, drop_observation=obs
    ).collect()
    assert got[0]["n_dups"] == 40 and len(got[0]["doc_ids"]) == 10
    assert obs.get["ids_dropped"] == 30

    # ngram_jaccard posting cap: every shingle's posting list has 300 rows,
    # cap 10 drops ALL posting rows (300 rows × n_shingles)
    boiler = [(i, "same same same same body") for i in range(300)]
    bdf = _docs(spark, boiler)
    n_shingles = bdf.select(
        F.size(
            F.array_distinct(
                __import__(
                    "apollo_service_spark.functions.textstats",
                    fromlist=["textstats"],
                ).shingles(F.col("text"), 3)
            )
        ).alias("n")
    ).collect()[0]["n"]
    obs2 = Observation()
    out = dedup.ngram_jaccard_pairs(
        bdf, threshold=0.5, max_posting_size=10, drop_observation=obs2
    ).count()
    assert out == 0
    assert obs2.get["rows_dropped"] == 300 * n_shingles

    # minhash band cap: 50 identical docs → every (band, bucket) bucket holds
    # 50 rows; cap 10 drops all 50×bands banded rows
    mdf = _docs(spark, [(i, "identical minhash body") for i in range(50)])
    obs3 = Observation()
    out = dedup.minhash_lsh_pairs(
        mdf, n_hashes=16, bands=4, shingle_n=2, jaccard_threshold=0.5,
        max_bucket_size=10, drop_observation=obs3,
    ).count()
    assert out == 0
    assert obs3.get["rows_dropped"] == 50 * 4  # 4 bands

    # no-drop case: observation reports 0 (and results match uncapped)
    small = _docs(spark, [(1, "aaa bbb ccc ddd"), (2, "aaa bbb ccc eee")])
    obs4 = Observation()
    dedup.ngram_jaccard_pairs(
        small, threshold=0.1, max_posting_size=100, drop_observation=obs4
    ).count()
    assert obs4.get["rows_dropped"] == 0


def _winnow_naive(text, k=8, window=4):
    """O(n·k·w) reference: per-position polynomial hash + per-window min —
    the DuckDB oracle's shape, independent of the operator's rolling
    recurrence and sliding-min bookkeeping."""
    import re

    M, B = dedup._WINNOW_MOD, dedup._WINNOW_BASE
    t = re.sub(r"\s+", " ", text.strip()).lower()
    if len(t) < k:
        return set()
    hashes = [
        sum(ord(t[i + j]) * pow(B, k - 1 - j, M) for j in range(k)) % M
        for i in range(len(t) - k + 1)
    ]
    return {
        min(hashes[i : i + window])
        for i in range(len(hashes) - window + 1)
    }


def test_winnow_fingerprints_match_naive(spark):
    """The Arrow UDF's O(n) rolling hash + incremental sliding min must equal
    the quadratic per-position recomputation on adversarial shapes: repeats
    (min stays in window), strictly decreasing codes (min always the new
    element), short docs, and unicode."""
    texts = [
        (0, "aaaaaaaaaaaaaaaaaaaa"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "zyxwvutsrqponmlkjihgfedcba"),
        (3, "short"),
        (4, "  Mixed   CASE\twith\nwhitespace   runs  "),
        (5, "héllo wörld ünicode text here"),
        (6, "ab" * 40),
        # fewer k-grams than the window (normalized length k..k+window-2):
        # winnowing has NO full window, so no fingerprints — the UDF used to
        # emit one here while the oracle emitted none (r4 review finding)
        (7, "abcdefgh"),
        (8, "abcdefghij"),
    ]
    got = dedup.winnow_fingerprints(_docs(spark, texts)).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["id"], set()).add(r["fp"])
    for doc_id, text in texts:
        assert by_id.get(doc_id, set()) == _winnow_naive(text), doc_id


def test_winnow_guarantee_shared_run_detected(spark):
    """Winnowing's coverage guarantee: a shared substring of length
    ≥ k + window − 1 MUST contribute ≥ 1 shared fingerprint, however the
    surrounding text differs. Disjoint docs must share nothing."""
    run = "this exact forty char run is shared text"
    rows = [
        (1, "prefix alpha " + run + " suffix beta"),
        (2, "completely different start " + run + " other ending"),
        (3, "no overlap with anything else zqjkvwx mnbpyt"),
    ]
    pairs = dedup.winnow_pairs(_docs(spark, rows), min_shared=1).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_winnow_pairs_posting_cap_undercounts_only(spark):
    """With a posting cap, every surviving pair's n_shared must be ≤ its
    uncapped value and no new pairs may appear (drop = conservative)."""
    rows = [(i, "common shared boilerplate run " + f"unique{i} " * 3)
            for i in range(12)]
    df = _docs(spark, rows)
    full = {(r["id_a"], r["id_b"]): r["n_shared"]
            for r in dedup.winnow_pairs(df, min_shared=1).collect()}
    capped = {(r["id_a"], r["id_b"]): r["n_shared"]
              for r in dedup.winnow_pairs(
                  df, min_shared=1, max_posting_size=6).collect()}
    assert set(capped) <= set(full)
    assert all(capped[p] <= full[p] for p in capped)


def test_duplicated_line_stats_hand_case(spark):
    """Hand-computed CCNet-style line dedup: 2-word lines over three docs.

    doc 1: "a b c d"      -> lines ["a b", "c d"]
    doc 2: "a b x y"      -> lines ["a b", "x y"]
    doc 3: "z z z"        -> lines ["z z", "z"]
    "a b" appears in docs {1,2} -> duplicated; everything else is unique.
    """
    df = _docs(spark, [(1, "a b c d"), (2, "a b x y"), (3, "z z z")])
    out = {
        r["id"]: r
        for r in dedup.duplicated_line_stats(df, words_per_line=2).collect()
    }
    assert out[1]["n_lines"] == 2 and out[1]["n_dup_lines"] == 1
    # "a b" = 3 chars of 6 total line chars
    assert out[1]["dup_line_char_frac"] == 0.5
    assert out[2]["n_lines"] == 2 and out[2]["n_dup_lines"] == 1
    assert out[3]["n_lines"] == 2 and out[3]["n_dup_lines"] == 0
    assert out[3]["dup_line_char_frac"] == 0.0
    assert not out[1]["keep"] and out[3]["keep"]  # 0.5 > 0.3 threshold


def test_duplicated_line_stats_within_doc_repeat_not_dup(spark):
    """A line repeated WITHIN one doc only is not 'duplicated' (the
    distinct-doc count drives the flag), and empty/whitespace docs drop
    out instead of erroring on the sequence() edge."""
    df = _docs(spark, [(1, "p q p q"), (2, ""), (3, "   ")])
    rows = dedup.duplicated_line_stats(df, words_per_line=2).collect()
    out = {r["id"]: r for r in rows}
    assert set(out) == {1}
    assert out[1]["n_lines"] == 2 and out[1]["n_dup_lines"] == 0


def test_duplicated_line_stats_boilerplate_hot_key(spark):
    """The navbar scenario: one identical line in EVERY doc (the hottest
    possible key). Counts stay exact — the pre-combine means the hot hash
    receives one row per doc, and the stats reflect the planted fractions."""
    n = 2000
    rows = [(i, f"nav home about unique{i} words here") for i in range(n)]
    out = dedup.duplicated_line_stats(
        _docs(spark, rows), words_per_line=3
    ).collect()
    assert len(out) == n
    for r in out:
        # line 1 = 'nav home about' (shared by all), line 2 = unique tail
        assert r["n_lines"] == 2 and r["n_dup_lines"] == 1
        assert not r["keep"]  # ~half the chars are boilerplate


def test_winnow_arrays_fuzz_vs_naive():
    """The vectorized O(n) rotation pipeline (dedup._winnow_arrays) must
    match the naive per-position oracle on random batches: doc-boundary
    windows masked, unicode codepoints, empty/short docs interleaved, and
    every (k, window) the engine uses."""
    import random

    from apollo_service_spark.operators.dedup import _winnow_arrays

    rng = random.Random(99)
    alphabet = "abcdef ghijéü中01."
    for trial in range(6):
        k, window = rng.choice([(8, 4), (20, 4), (5, 2)])
        docs = []
        for _ in range(30):
            ln = rng.choice([0, 1, k - 1, k, k + window - 2, k + window - 1, 40, 200])
            docs.append("".join(rng.choice(alphabet) for _ in range(ln)))
        # _winnow_arrays takes already-normalized text: normalize here the
        # same way the UDF does before calling it
        import re

        norm = [re.sub(r"\s+", " ", d.strip()).lower() for d in docs]
        got = _winnow_arrays("".join(norm), [len(d) for d in norm], k, window)
        for i, d in enumerate(norm):
            expect = sorted(_winnow_naive(d, k=k, window=window))
            assert sorted(got[i]) == expect, (trial, i, k, window, d)
