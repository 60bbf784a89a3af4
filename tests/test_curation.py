"""Unit oracles for the corpus-curation tier (operators/curation.py).

Each operator is checked against a hand-computed or brute-force oracle on
literal data — the cross-engine DuckDB gate (scripts/verify_gate.py:
domain_quota / c4_line_filter / dup_span_stats / pack_sequences /
url_blocklist / quality_tiers) covers the sf0.01 corpus; these tests pin
the semantics the gate corpus cannot exercise (terminal punctuation,
newline mode, empty docs, partition independence, dot-boundary hosts).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from apollo_service_spark.operators import curation
from apollo_service_spark.operators.ranking import global_running_sum


def _md5_bucket(val, salt, n=10_000):
    h = hashlib.md5((str(val) + salt).encode()).hexdigest()
    return int(h[:6], 16) % n


# ---------------------------------------------------------------- quota


def test_domain_quota_respects_cap_and_is_deterministic(spark):
    rows = [(i, f"d{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = curation.domain_quota(df, key_col="source", quota=5, salt="s")
    got = out.groupBy("source").count().collect()
    assert all(r["count"] == 5 for r in got)
    # winners = the 5 smallest (md5 bucket, id) per key — recompute by hand
    kept = {(r.source, r.doc_id) for r in out.collect()}
    for kdom in ("d0", "d1", "d2"):
        ids = [i for i in range(60) if i % 3 == int(kdom[1])]
        expect = sorted(ids, key=lambda i: (_md5_bucket(i, "s"), i))[:5]
        assert {(kdom, i) for i in expect} == {
            p for p in kept if p[0] == kdom
        }
    # partition-independent: same winners at a different parallelism
    again = curation.domain_quota(
        df.repartition(13), key_col="source", quota=5, salt="s"
    )
    assert {(r.source, r.doc_id) for r in again.collect()} == kept


# ----------------------------------------------------------- line filter


def test_line_filter_newline_mode_and_terminal_punct(spark):
    docs = spark.createDataFrame(
        [
            (1, "Good line one here.\nshort\nAnother good line here!\nno punct line here\ncontains javascript code."),
            (2, "Only one good line here.\nx y"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in curation.line_filter(
            docs,
            words_per_line=None,
            min_words=4,
            blocklist=("javascript",),
            require_terminal_punct=True,
            min_kept_lines=2,
        ).collect()
    }
    # doc 1: 5 lines; kept = the two punctuated ≥4-word non-js lines
    assert out[1].n_lines == 5 and out[1].n_kept == 2
    assert out[1].text_clean == "Good line one here.\nAnother good line here!"
    assert out[1].keep is True
    # doc 2: one qualifying line < min_kept_lines
    assert out[2].n_kept == 1 and out[2].keep is False
    # empty doc: no lines at all
    assert out[3].n_lines == 0 and out[3].text_clean == "" and out[3].keep is False


def test_line_filter_word_lines_match_hand_oracle(spark):
    # 7 words → word-lines of 3: two full + one 1-word tail
    docs = spark.createDataFrame(
        [(1, "a b c d e bad g")], "doc_id long, text string"
    )
    row = curation.line_filter(
        docs,
        words_per_line=3,
        min_words=3,
        blocklist=("bad",),
        require_terminal_punct=False,
        min_kept_lines=1,
    ).collect()[0]
    # lines: "a b c" (kept), "d e bad" (blocked), "g" (too short)
    assert row.n_lines == 3 and row.n_kept == 1
    assert row.text_clean == "a b c" and row.keep is True


# ------------------------------------------------------------- dup spans


def test_dup_span_stats_brute_force(spark):
    texts = {
        1: "w x y z p q",          # shares the 4-gram "w x y z" with doc 2
        2: "w x y z r s",
        3: "unique words only here totally",
        4: "ab",                    # < 4 words → no grams
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {
        r.id: r
        for r in curation.dup_span_stats(
            docs, gram_words=4, max_dup_frac=0.4
        ).collect()
    }
    # brute force: every doc's overlapping 4-gram multiset vs the others
    grams = {
        i: [
            " ".join(t.split()[j : j + 4])
            for j in range(len(t.split()) - 3)
        ]
        for i, t in texts.items()
    }
    for i, gl in grams.items():
        dup = sum(
            1
            for g in gl
            if any(g in go for k, go in grams.items() if k != i)
        )
        assert out[i].n_grams == len(gl)
        assert out[i].n_dup_grams == dup
        frac = dup / len(gl) if gl else 0.0
        assert out[i].dup_gram_frac == pytest.approx(round(frac, 4))
        assert out[i].keep == (frac <= 0.4)
    assert out[4].n_grams == 0 and out[4].keep is True


# ---------------------------------------------------------------- packing


def test_global_running_sum_matches_naive_window(spark, cleanup):
    rows = [(i, (i * 37) % 11) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r.id: r.s
        for r in global_running_sum(
            df, ["id"], "v", sum_col="s", n_partitions=7, cleanup=cleanup
        ).collect()
    }
    acc, expect = 0, {}
    for i, v in rows:
        expect[i] = acc
        acc += v
    assert got == expect
    # inclusive variant
    got_inc = {
        r.id: r.s
        for r in global_running_sum(
            df,
            ["id"],
            "v",
            sum_col="s",
            n_partitions=7,
            inclusive=True,
            cleanup=cleanup,
        ).collect()
    }
    assert got_inc == {i: expect[i] + v for i, v in rows}


def test_pack_sequences_spans_and_empty_doc(spark, cleanup):
    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 10)),   # tokens 0..9   → chunk 0
            (2, ""),                      # zero tokens   → NULL span
            (3, " ".join(["w"] * 5)),    # tokens 10..14 → chunk 0..1 with seq_len 12
            (4, " ".join(["w"] * 30)),   # tokens 15..44 → chunks 1..3
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in curation.pack_sequences(docs, seq_len=12, cleanup=cleanup).collect()
    }
    assert (out[1].tok_start, out[1].chunk_first, out[1].chunk_last) == (0, 0, 0)
    assert out[2].n_tokens == 0
    assert out[2].chunk_first is None and out[2].chunk_last is None
    assert (out[3].tok_start, out[3].chunk_first, out[3].chunk_last) == (10, 0, 1)
    assert (out[4].tok_start, out[4].chunk_first, out[4].chunk_last) == (15, 1, 3)


def test_pack_sequences_tokens_col_matches_text_path(spark, cleanup):
    """The ``tokens_col`` fast path (q_corpus_prepare's persisted narrow
    fork, r6) must produce the identical packing assignment as the
    text-tokenizing default — same tape, same chunk bounds, including the
    zero-token NULL-span doc."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 10)),
            (2, ""),
            (3, " ".join(["w"] * 5)),
            (4, " ".join(["w"] * 30)),
        ],
        "doc_id long, text string",
    )
    from apollo_service_spark.functions import textstats

    pre = docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).cast("bigint").alias("nt"),
    )
    via_text = {
        tuple(r)
        for r in curation.pack_sequences(docs, seq_len=12, cleanup=cleanup).collect()
    }
    via_col = {
        tuple(r)
        for r in curation.pack_sequences(
            pre, seq_len=12, tokens_col="nt", cleanup=cleanup
        ).collect()
    }
    assert via_text == via_col


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_pack_sequences_null_text_and_null_count_agree(spark, ansi, cleanup):
    """NULL text and a NULL precomputed count pack identically: NULL
    n_tokens, no tape, NULL chunk bounds, in either ANSI mode (without it
    ``size(NULL)`` is -1, which would shift every later doc)."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, ""), (4, "d e")],
        "doc_id long, text string",
    )
    counts = spark.createDataFrame(
        [(1, 3), (2, None), (3, 0), (4, 2)], "doc_id long, nt long"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        via_text = sorted(
            tuple(r)
            for r in curation.pack_sequences(
                docs, seq_len=2, cleanup=cleanup
            ).collect()
        )
        via_col = sorted(
            tuple(r)
            for r in curation.pack_sequences(
                counts, seq_len=2, tokens_col="nt", cleanup=cleanup
            ).collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert via_text == via_col == [
        (1, 3, 0, 0, 1),
        (2, None, 3, None, None),
        (3, 0, 3, None, None),
        (4, 2, 3, 1, 2),
    ]


# -------------------------------------------------------------- blocklist


def test_host_blocklist_dot_boundary_and_soft_cap(spark):
    urls = spark.createDataFrame(
        [
            (1, "https://a.bad.com/x", "a.bad.com"),        # subdomain → blocked
            (2, "https://bad.com/x", "bad.com"),            # exact → blocked
            (3, "https://notbad.com/x", "notbad.com"),      # boundary → NOT blocked
            (4, "https://ok.com/admin/login", "ok.com"),    # 2 soft words → dropped
            (5, "https://ok.com/admin", "ok.com"),          # 1 soft word → kept
        ],
        "doc_id long, url string, host string",
    )
    out = {
        r.doc_id: r
        for r in curation.host_blocklist_filter(
            urls,
            blocked_hosts=("bad.com",),
            soft_words=("admin", "login"),
            max_soft_score=1,
        ).collect()
    }
    assert out[1].host_blocked is True and out[1].keep is False
    assert out[2].host_blocked is True
    assert out[3].host_blocked is False and out[3].keep is True
    assert out[4].soft_score == 2 and out[4].keep is False
    assert out[5].soft_score == 1 and out[5].keep is True


# ------------------------------------------------------------ quality tiers


def test_quality_tiers_exact_thirds_and_remainder_convention(spark, cleanup):
    # 8 rows → tier sizes 3/3/2 (leading tiers take the extra)
    rows = [(i, float(10 - i)) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, quality double")
    out = sorted(
        curation.quality_tiers(df, n_partitions=3, cleanup=cleanup).collect(),
        key=lambda r: r.rank,
    )
    assert [r.id for r in out] == list(range(8))  # desc score = asc id here
    assert [r.tier for r in out] == [0, 0, 0, 1, 1, 1, 2, 2]
    assert [r.tier_label for r in out] == [
        "head", "head", "head", "middle", "middle", "middle", "tail", "tail",
    ]
    # ties broken by id into a total order: equal scores keep stable ranks
    tied = spark.createDataFrame(
        [(i, 1.0) for i in range(6)], "id long, quality double"
    )
    got = sorted(
        curation.quality_tiers(tied, cleanup=cleanup).collect(), key=lambda r: r.id
    )
    assert [r.rank for r in got] == [1, 2, 3, 4, 5, 6]


# -------------------------------------------------------------- decontam


def test_decontaminate_brute_force(spark):
    train = {
        1: "a b c d e f",        # shares "c d e f" with bench doc
        2: "p q r s t",          # clean
        3: "x y",                # too short for any 4-gram
    }
    bench_texts = ["zz c d e f yy", "unrelated bench words here"]
    docs = spark.createDataFrame(list(train.items()), "doc_id long, text string")
    bench = spark.createDataFrame(
        [(t,) for t in bench_texts], "text string"
    )
    out = {
        r.id: r
        for r in curation.decontaminate(docs, bench, gram_words=4).collect()
    }
    bgrams = set()
    for t in bench_texts:
        w = t.split()
        bgrams.update(" ".join(w[j : j + 4]) for j in range(len(w) - 3))
    for i, t in train.items():
        w = t.split()
        grams = [" ".join(w[j : j + 4]) for j in range(len(w) - 3)]
        hits = sum(1 for g in grams if g in bgrams)
        assert out[i].n_grams == len(grams)
        assert out[i].n_hit_grams == hits
        assert out[i].contaminated == (hits > 0)
    assert out[1].contaminated is True
    assert out[2].contaminated is False
    assert out[3].n_grams == 0 and out[3].contaminated is False


def test_dup_span_removal_brute_force(spark):
    texts = {
        1: "a b c d x y",       # "a b c d" repeated in doc 2 → words 0-3 removed
        2: "p a b c d q",       # covered words 1-4 removed
        3: "r r r r r r r r",   # self-repeat: every window duplicated → all removed
        4: "u v w",             # < 4 words: untouched
        5: "m n o p2 q2 r2",    # unique: untouched
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = {
        r.id: r
        for r in curation.dup_span_removal(docs, gram_words=4).collect()
    }
    # brute force on the definition: window duplicated iff its 4-gram string
    # occurs >1 time across ALL docs (incl. within-doc repeats)
    from collections import Counter

    occ = Counter()
    for t in texts.values():
        w = t.split()
        for j in range(len(w) - 3):
            occ[" ".join(w[j : j + 4])] += 1
    for i, t in texts.items():
        w = t.split()
        covered = set()
        for j in range(len(w) - 3):
            if occ[" ".join(w[j : j + 4])] > 1:
                covered.update(range(j, j + 4))
        kept = [x for j, x in enumerate(w) if j not in covered]
        assert out[i].n_words == len(w)
        assert out[i].n_removed == len(covered)
        assert out[i].text_clean == " ".join(kept)
    assert out[3].n_removed == 8 and out[3].text_clean == ""
    assert out[4].text_clean == "u v w"


# ---------------------------------------------------------- gopher rules


def test_gopher_quality_flags_literal_cases(spark):
    from apollo_service_spark.functions.textstats import gopher_quality_flags

    good = "the data be good and " + " ".join(f"w{i}" for i in range(50))
    bullets = "\n".join(["• item one here"] * 9 + ["plain line"])
    dots = "\n".join(["trailing line..."] * 4 + ["clean line"] * 6)
    symbols = "the and " + "# " * 20 + " ".join(f"w{i}" for i in range(50))
    numeric = "the and " + " ".join(str(i) for i in range(60))
    docs = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dots), (4, symbols), (5, numeric), (6, "")],
        "doc_id long, text string",
    )
    flags = gopher_quality_flags(F.col("text"))
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id", *[c.alias(n) for n, c in flags.items()]
        ).collect()
    }
    assert out[1].ok_word_count and out[1].ok_stop_words and out[1].ok_alpha_words
    # 9/10 bullet lines -> bullet_frac 0.9, NOT < 0.9 -> fails
    assert out[2].ok_bullet_lines is False
    # 4/10 ellipsis lines -> 0.4 > 0.3 -> fails
    assert out[3].ok_ellipsis_lines is False
    # 20 '#' over 72 words -> ratio > 0.1 -> fails
    assert out[4].ok_symbol_ratio is False
    # 60 of 62 words purely numeric -> alpha frac < 0.8 -> fails
    assert out[5].ok_alpha_words is False
    assert out[5].ok_stop_words is True  # 'the' and 'and' both occur
    # empty doc: word count fails, ratio rules pass vacuously (0-denominators)
    assert out[6].ok_word_count is False
    assert out[6].ok_symbol_ratio is True and out[6].ok_alpha_words is False


def test_span_decon_flags_equals_composition(spark):
    """The single-gram-pass flags must be EXACTLY the composed
    dup_span_stats + decontaminate verdicts (same thresholds, train docs
    only)."""
    import os

    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    bench_pred = F.col("doc_id") % 50 == 0
    flags = {
        r.id: (r.keep_spans, r.contaminated)
        for r in curation.span_decon_flags(
            docs, bench_pred, gram_words=4, max_dup_frac=0.2
        ).collect()
    }
    spans = {
        r.id: r.keep
        for r in curation.dup_span_stats(
            docs, gram_words=4, max_dup_frac=0.2
        ).collect()
    }
    decon = {
        r.id: r.contaminated
        for r in curation.decontaminate(
            docs.filter(~bench_pred), docs.filter(bench_pred), gram_words=4
        ).collect()
    }
    assert set(flags) == set(decon)  # train docs only
    for i, (ks, cont) in flags.items():
        assert ks == spans[i], f"doc {i} spans"
        assert cont == decon[i], f"doc {i} contamination"
    # the fixture exercises both verdicts of both flags
    assert {ks for ks, _ in flags.values()} == {True, False}
    assert {cont for _, cont in flags.values()} == {True, False}


def test_span_decon_flags_refuses_other_gram_widths(spark):
    """The one-pass kernel hashes 4-grams only; another width must fail
    loudly rather than return 4-gram verdicts."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError):
        curation.span_decon_flags(docs, F.col("doc_id") % 50 == 0, gram_words=5)


def test_doc_pass_flags_equals_standalone_operators(spark):
    """The fused one-read flags must be EXACTLY the four standalone gate
    operators' verdicts: Gopher repetition (``_with_repetition_stats``),
    CCNet lines (``dedup.duplicated_line_stats``, wordless docs kept), span
    coverage (``dup_span_stats``) and decontamination (``decontaminate``,
    train docs).  The fixture adds NULL, empty, short and self-repeating
    docs to the sf0.001 documents; it must hit both values of every flag,
    hold benchmark docs, and hold a doc repeating a gram within itself."""
    import os

    from apollo_service_spark.functions import textstats
    from apollo_service_spark.operators import dedup
    from apollo_service_spark.plans.queries import _with_repetition_stats
    from tests.conftest import SF_DIR

    extra = spark.createDataFrame(
        [
            (10_001, None),
            (10_002, ""),
            (10_003, "two words"),
            (10_004, "three words here"),
            (10_005, "the cat sat on the mat the cat sat on the mat"),
        ],
        "doc_id long, text string",
    )
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select("doc_id", "text")
        .unionByName(extra)
    )
    bench = F.col("doc_id") % 50 == 0
    fused = {r.id: r for r in curation.doc_pass_flags(docs, bench).collect()}
    rep = {r.doc_id: r.keep for r in _with_repetition_stats(docs).collect()}
    lines = {
        r.id: r.keep
        for r in dedup.duplicated_line_stats(docs, max_dup_frac=0.3).collect()
    }
    spans = {r.id: r.keep for r in curation.dup_span_stats(docs).collect()}
    decon = {
        r.id: r.contaminated
        for r in curation.decontaminate(
            docs.filter(~bench), docs.filter(bench)
        ).collect()
    }
    assert set(fused) == set(rep)
    for i, r in fused.items():
        assert r.keep_repetition == rep[i], f"doc {i} repetition"
        assert r.keep_lines == lines.get(i, True), f"doc {i} lines"
        assert r.keep_spans == spans[i], f"doc {i} spans"
        assert r.is_bench == (i % 50 == 0)
        if not r.is_bench:
            assert r.contaminated == decon[i], f"doc {i} contamination"
    for flag in ("keep_repetition", "keep_lines", "keep_spans", "contaminated"):
        assert {getattr(r, flag) for r in fused.values()} == {True, False}, flag
    assert any(r.is_bench for r in fused.values())
    assert 10_002 not in lines  # a wordless doc: no line rows, kept
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert any(
        len(set(g)) < len(g)
        for g in (
            textstats.word_windows(textstats.space_tokens(t), 4)
            for t in texts.values()
        )
    )
