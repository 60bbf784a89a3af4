"""Corpus-curation operators for large-scale training-data pipelines.

These implement the published curation stages a 100 TB web-text pipeline
runs AFTER crawling and BEFORE tokenization — all from public literature
(none has a counterpart in the reference service, which stops at crawl +
cluster; they extend the engine the way SURVEY.md §2's "training-data
tier" frames it):

- **per-domain quota** (RefinedWeb, Penedo et al. 2023; also used by C4's
  host-level balancing): cap the number of documents any one registrable
  domain contributes, selecting the survivors DETERMINISTICALLY by content
  hash so the sample is stable across runs and cluster sizes.
- **line-level cleaning** (C4, Raffel et al. 2020 §2.2): drop lines that
  are too short, lack terminal punctuation, or contain blocklist phrases;
  re-assemble the document from the surviving lines; drop documents left
  with too few lines.
- **duplicated-span coverage** (the detection stage of exact-substring
  dedup, Lee et al. 2021 "Deduplicating Training Data Makes Language
  Models Better"): fraction of a document's fixed-width word windows that
  occur verbatim in at least one OTHER document.  Lee et al. remove the
  spans with a suffix array; at cluster scale the standard approximation
  is fixed-length grams + an inverted index, which is exactly the
  one-shuffle 8-byte-key shape ``dedup.duplicated_line_stats`` proved out.
- **sequence packing** (GPT-style concat-and-chunk, Brown et al. 2020
  App. B): lay every document's tokens on one global tape in a stable
  order and cut the tape every ``seq_len`` tokens; each document's chunk
  span is a pure function of the prefix sum of token counts before it.
- **URL blocklisting** (RefinedWeb §3.1 / C4 badwords filtering): exact +
  subdomain-suffix host blocklist plus a soft-keyword URL score.
- **quality tiers** (CCNet, Wenzek et al. 2019 §4: head/middle/tail
  buckets by model perplexity): rank by a quality score and cut the
  ranking into equal thirds.  CCNet buckets by LM perplexity; no LM ships
  in this container, so the engine buckets by the same heuristic quality
  score the ``quality_scores`` gate query verifies — the bucketing
  machinery (the part Spark has to get right at scale) is identical.

Scale notes are on each function; the common theme is that every global
decision is either a pure per-row expression (blocklist, line filter), one
shuffle on an 8-byte key (span index), or the range-partitioned
prefix-sum/rank machinery from ``operators/ranking.py`` that provably
plans no ``Exchange SinglePartition``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sampling, textstats
from .ranking import global_row_number, global_running_sum

# C4's public line blocklist (Raffel et al. 2020 §2.2, abbreviated to the
# phrases that survive verbatim in the paper); callers pass their own list
# when the corpus language/vocabulary differs.
DEFAULT_LINE_BLOCKLIST = ("javascript", "lorem ipsum", "{", "cookie policy")
TERMINAL_PUNCT_RE = r'[.!?"”’]$'


def domain_quota(
    df: DataFrame,
    key_col: str = "source",
    quota: int = 20,
    id_col: str = "doc_id",
    salt: str = "quota",
) -> DataFrame:
    """Keep at most ``quota`` rows per ``key_col``, chosen by content-hash
    order (``sampling.hash_bucket`` — md5 so the DuckDB oracle runs the
    identical arithmetic), tie-broken by ``id_col`` into a total order.

    Deterministic by construction: the winners depend only on row CONTENT,
    never on partitioning, scheduling, or AQE — re-running on a different
    cluster size keeps the same documents (``df.limit``/``sample`` cannot
    promise that, see ``functions/sampling.py``).

    Plan shape: one shuffle on ``key_col`` for the window; ``rn <= quota``
    is a rank-limit predicate, so Spark plans **WindowGroupLimit** — each
    map task forwards only its per-key top-``quota`` candidates BEFORE the
    exchange (guarded in tests/test_plans.py).  At 100 TB with a quota of
    10³ and 10⁸ domains that partial top-k is what keeps the shuffle
    proportional to the OUTPUT, not the input.  Hot domains (the exact
    case the quota exists for) are therefore bounded: no reducer ever
    sees more than ``maps × quota`` rows for one key.

    Output: the surviving rows plus ``rn`` (1-based rank within the key,
    ``bigint``) — callers wanting the quota decision without the rank can
    drop it.
    """
    order = [sampling.hash_bucket(id_col, salt=salt), F.col(id_col)]
    win = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(win).cast("bigint"))
        .filter(F.col("rn") <= quota)
    )


def _line_ok(
    line: Column,
    min_words: int,
    blocklist: tuple[str, ...],
    require_terminal_punct: bool,
) -> Column:
    ok = F.size(F.split(line, " ")) >= min_words
    for phrase in blocklist:
        ok = ok & ~F.contains(F.lower(line), F.lit(phrase.lower()))
    if require_terminal_punct:
        ok = ok & line.rlike(TERMINAL_PUNCT_RE)
    return ok


def line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_line: int = 3,
    min_words: int = 3,
    blocklist: tuple[str, ...] = DEFAULT_LINE_BLOCKLIST,
    require_terminal_punct: bool = False,
    min_kept_lines: int = 2,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): split each
    document into lines, keep only lines with ≥ ``min_words`` words, no
    blocklist phrase (case-insensitive substring), and — when
    ``require_terminal_punct`` — a terminal punctuation character;
    re-assemble the document from the kept lines in original order and
    keep it only if ≥ ``min_kept_lines`` lines survive.

    C4 splits on ``\\n``; the synthetic gate corpus is single-line, so the
    engine reuses the CCNet fixed-width word-line construction
    (``textstats.window_join`` with ``stride=n, keep_partial``) that
    ``line_dedup`` already verifies — on real crawl text pass
    ``words_per_line=None`` to split on newlines instead.  The gate query
    instantiates the blocklist with a token that exists in the synthetic
    vocabulary (so the drop path is actually exercised) and disables the
    punctuation rule (the synthetic corpus has none); the C4-faithful
    defaults above are what a real pipeline would pass, and the
    punctuation path is pinned by unit tests on literal text.

    Scale: a pure per-row projection — ZERO shuffles, no UDF, whole-stage
    codegen end to end.  This is the cheapest filter in the stack and the
    reason C4 runs it first: at 100 TB it is scan-bound.

    Output: ``(id, n_lines, n_kept, text_clean, keep)``.
    """
    if words_per_line is None:
        lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")
    else:
        w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        lines = textstats.window_join(
            w, words_per_line, stride=words_per_line, keep_partial=True
        )
    kept = F.filter(
        lines,
        lambda l: _line_ok(l, min_words, blocklist, require_terminal_punct),
    )
    n_kept = F.size(kept).cast("bigint")
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("bigint").alias("n_lines"),
        n_kept.alias("n_kept"),
        F.array_join(kept, "\n").alias("text_clean"),
        (n_kept >= min_kept_lines).alias("keep"),
    )


def dup_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_words: int = 4,
    max_dup_frac: float = 0.2,
) -> DataFrame:
    """Duplicated-span coverage — the detection stage of exact-substring
    dedup (Lee et al. 2021), approximated with fixed-width word windows:
    per document, the fraction of its overlapping ``gram_words``-word
    windows that occur verbatim in ≥ 1 OTHER document.  ``keep`` drops
    documents whose coverage exceeds ``max_dup_frac`` (Lee et al. instead
    cut the spans out; dropping the doc is the conservative variant
    RefinedWeb uses for heavily-templated pages).

    Plan shape: identical to ``dedup.duplicated_line_stats`` (whose
    docstring carries the full shuffle/skew analysis) with OVERLAPPING
    windows (``stride=1``) instead of disjoint lines: explode → map-side
    pre-combine to one row per (xxhash64(gram), doc) with an occurrence
    count → ``count(*)`` per gram for the distinct-doc count → join back →
    reduce to the doc.  Every shuffled key is 8 bytes; within-doc repeats
    never cross the wire.  Overlap multiplies the exploded row count by
    ``gram_words`` versus the line variant — still linear in corpus size,
    and the pre-combine keeps the shuffled volume at one row per DISTINCT
    (gram, doc).  The suffix-array exactness Lee et al. get on one machine
    does not distribute; fixed-gram coverage is the standard cluster-scale
    surrogate (it finds every duplicated run ≥ ``gram_words`` words, which
    is the knob ``gram_words`` sets).

    Docs with fewer than ``gram_words`` words have no windows: they are
    re-attached with zero counts and ``keep=true`` (nothing duplicated).

    Output: ``(id, n_grams, n_dup_grams, dup_gram_frac, keep)``.
    """
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    grams = textstats.window_join(w, gram_words, stride=1, keep_partial=False)
    ex = docs.select(
        F.col(id_col).alias("id"), F.explode(grams).alias("g")
    ).select("id", F.xxhash64("g").alias("h"))
    per_gram_doc = ex.groupBy("h", "id").agg(F.count(F.lit(1)).alias("occ"))
    # distinct-doc count per gram as a COUNT window over h (r6, guide §2.4):
    # the aggregate-then-join-back shape paid one more exchange plus a
    # sort-merge join and referenced per_gram_doc from two branches; the
    # window consumes the pre-combined frame once on the same 8-byte key.
    nd_win = F.count(F.lit(1)).over(Window.partitionBy("h"))
    per_doc = (
        per_gram_doc.withColumn("nd", nd_win)
        .groupBy("id")
        .agg(
            F.sum("occ").alias("n_grams"),
            F.sum(
                F.when(F.col("nd") > 1, F.col("occ")).otherwise(F.lit(0))
            ).alias("n_dup_grams"),
        )
    )
    base = docs.select(F.col(id_col).alias("id"))
    joined = base.join(per_doc, "id", "left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
    n_dup = F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("bigint")
    frac_raw = F.coalesce(
        F.col("n_dup_grams") / F.nullif(F.col("n_grams"), F.lit(0)), F.lit(0.0)
    )
    return joined.select(
        "id",
        n_grams.alias("n_grams"),
        n_dup.alias("n_dup_grams"),
        F.round(frac_raw, 4).alias("dup_gram_frac"),
        (frac_raw <= max_dup_frac).alias("keep"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 128,
    n_partitions: int = 32,
    cleanup: list | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk packing assignment (Brown et al. 2020
    App. B): documents are laid end-to-end on one token tape in ``id_col``
    order and the tape is cut every ``seq_len`` tokens; each document's
    span of training sequences is then ``[floor(start/seq_len),
    floor((start+n-1)/seq_len)]`` where ``start`` is the exact prefix sum
    of token counts before it.  This computes the ASSIGNMENT — the pure
    metadata a downstream tokenizer shard needs to emit its chunks without
    any coordination (every executor can compute its documents' target
    sequence ids independently once the prefix sums exist).

    The prefix sum is the whole problem at scale: ``SUM() OVER (ORDER BY
    id)`` funnels the corpus through one task.  This uses
    ``ranking.global_running_sum`` — range-partition on ``id_col``,
    window WITHIN partitions, broadcast per-partition offsets — so the
    plan contains no ``Exchange SinglePartition`` (guarded in
    tests/test_plans.py) and the only data-sized shuffle is the range
    repartition, which carries (id, count) pairs, NOT text.

    Long-lived callers pass ``cleanup`` exactly as for
    ``global_row_number`` (the persisted range-partitioned intermediate
    is appended; unpersist after the materializing action).

    Tokenization is the whitespace count the ``token_counts`` gate query
    verifies — swap ``textstats.count_tokens`` for a BPE UDF without
    touching the packing math.

    Docs with zero tokens occupy no tape: their chunk bounds are NULL.
    NULL text has a NULL ``n_tokens`` and likewise occupies no tape, as in
    the oracle.

    ``tokens_col`` (opt-in) names an already-computed token-count column on
    ``docs`` — callers that fork one narrow persisted ``(id, count)`` frame
    to several consumers (``q_corpus_prepare``) pass it so the tape math
    consumes the shared frame instead of re-tokenizing ``text_col``. A NULL
    count is packed exactly as NULL text is.

    Output: ``(id, n_tokens, tok_start, chunk_first, chunk_last)``.
    """
    n_tokens = (
        F.col(tokens_col)
        if tokens_col is not None
        else textstats.token_count(F.col(text_col))
    )
    toks = docs.select(
        F.col(id_col).alias("id"), n_tokens.cast("bigint").alias("n_tokens")
    )
    summed = global_running_sum(
        toks,
        order_cols=["id"],
        value_col="n_tokens",
        sum_col="tok_start",
        n_partitions=n_partitions,
        cleanup=cleanup,
    )
    nonempty = F.col("n_tokens") > 0
    return summed.select(
        "id",
        "n_tokens",
        "tok_start",
        F.when(nonempty, F.floor(F.col("tok_start") / seq_len))
        .cast("bigint")
        .alias("chunk_first"),
        F.when(
            nonempty,
            F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / seq_len),
        )
        .cast("bigint")
        .alias("chunk_last"),
    )


def dup_span_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_words: int = 4,
) -> DataFrame:
    """Exact-substring REMOVAL (Lee et al. 2021 §4 proper — the stage
    :func:`dup_span_stats` only detects): delete from each document every
    word covered by a ``gram_words``-word window that occurs MORE THAN
    ONCE in the whole corpus (across documents or repeated within one —
    Lee et al. count both, so this does too, unlike ``dup_span_stats``'s
    cross-document-only fraction), and re-assemble the surviving words in
    order.

    Lee et al. build a corpus-wide suffix array — exact but single-node.
    The distributed surrogate: fixed-width gram positions → global
    occurrence counts (one 8-byte-key shuffle with map-side combine) →
    join the duplicated grams back to their positions (second shuffle,
    same key) → expand each duplicated window to its covered word
    positions → subtract from the word list and re-join the text.  It
    removes exactly the windows a suffix array would flag at length
    ``gram_words`` words; runs longer than the window are covered by
    their overlapping windows, so contiguous duplicated regions are
    removed in full.

    Shuffle budget (r6 shape): ONE exchange on the gram hash (a COUNT
    window over ``h`` marks duplicated windows — the former
    aggregate-then-join-back paid a second hash exchange and recomputed
    the gram pipeline per branch), one per-doc reduce collecting the
    duplicated START positions (sorted, bounded by windows per doc), and
    one 8-byte-id join attaching the starts to the token arrays.  The
    former per-WORD machinery — expanding every duplicated window to its
    covered positions, a corpus-wide DISTINCT on (id, word-position), a
    posexplode of every word, and an anti-join — shuffled ~5 rows per
    word; reassembly is now a per-row array expression (expand starts →
    covered set → filter the token array by index), so no per-word row
    ever crosses the wire.  Per-doc cost of the rebuild is
    O(words x covered) comparisons inside codegen — bounded by doc
    length2 in the worst (fully duplicated, very long doc) case; the
    standard mitigation if that regime matters is chunking long docs
    upstream.  There is no driver-side collection anywhere.

    Output: ``(id, n_words, n_removed, text_clean)`` — one row per input
    doc; docs shorter than ``gram_words`` words pass through unchanged.
    """
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = docs.select(F.col(id_col).alias("id"), w.alias("w"))
    grams = textstats.window_join(
        F.col("w"), gram_words, stride=1, keep_partial=False
    )
    # (id, start position, gram hash) for every overlapping window
    pos_grams = base.select(
        "id", F.posexplode(grams).alias("pos", "g")
    ).select("id", "pos", F.xxhash64("g").alias("h"))
    cnt_win = F.count(F.lit(1)).over(Window.partitionBy("h"))
    dup_starts = (
        pos_grams.withColumn("cnt", cnt_win)
        .filter(F.col("cnt") > 1)
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    out = base.join(dup_starts, "id", "left")
    # a word at index i is covered iff some duplicated window starts in
    # [i-gram_words+1, i]; tested with EXISTS over the (small) starts array
    # directly — materializing the expanded covered-position array first
    # (flatten + array_distinct per row) measured 3x slower at sf1-shape
    starts = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("w"),
        lambda x, i: ~F.exists(
            starts, lambda s: (s <= i) & (i <= s + (gram_words - 1))
        ),
    )
    n_words = F.size("w").cast("bigint")
    # null-text parity with the former per-word shape: a null token array
    # contributed NO word rows there, so n_kept was 0 (not size(null))
    n_kept = F.when(F.isnull(F.col("w")), F.lit(0).cast("bigint")).otherwise(
        F.size(kept).cast("bigint")
    )
    return out.select(
        "id",
        n_words.alias("n_words"),
        (n_words - n_kept).cast("bigint").alias("n_removed"),
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("text_clean"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    gram_words: int = 4,
) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 App. C; Lee et al.
    2021 §6): flag every training document that shares at least one
    ``gram_words``-word window with the evaluation set, so eval examples
    can be excluded from training rather than memorized.

    Plan shape — the asymmetry is the whole design: the benchmark side is
    tiny (10³–10⁶ examples) next to the corpus, so its DISTINCT gram-hash
    set is built once and **broadcast**; every corpus gram probes that
    broadcast map-side (a left join attaching a hit marker), and the only
    exchange the corpus pays is ONE map-side-combinable reduce keyed by
    the 8-byte doc id (count + hit-count in the same aggregate).  Guarded
    in tests/test_plans.py.  At 100 TB this is a scan + broadcast probe:
    the cost is reading the corpus, as it must be.

    Windows are overlapping word ``gram_words``-grams hashed to 64 bits
    (collision → one spurious flagged gram per ~2⁶⁴ pairs; a flagged doc
    is re-checkable exactly downstream).  Docs shorter than ``gram_words``
    words carry no windows and cannot be contaminated.

    Output: ``(id, n_grams, n_hit_grams, contaminated)`` — one row per
    input doc, ``n_hit_grams`` counting doc windows (with multiplicity)
    that occur anywhere in the benchmark.
    """
    def gram_col(txt):
        w = F.filter(F.split(F.col(txt), " "), lambda x: x != "")
        return textstats.window_join(w, gram_words, stride=1, keep_partial=False)

    bench = (
        benchmark.select(F.explode(gram_col(bench_text_col)).alias("g"))
        .select(F.xxhash64("g").alias("h"))
        .distinct()
    )
    raw = docs.select(
        F.col(id_col).alias("id"), F.explode(gram_col(text_col)).alias("g")
    ).select("id", F.xxhash64("g").alias("h"))
    marked = raw.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "h", "left"
    )
    per_doc = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit_grams"),
    )
    base = docs.select(F.col(id_col).alias("id"))
    out = base.join(per_doc, "id", "left")
    return out.select(
        "id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_hit_grams"), F.lit(0))
        .cast("bigint")
        .alias("n_hit_grams"),
        (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias("contaminated"),
    )


def span_decon_flags(
    docs: DataFrame,
    bench_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_words: int = 4,
    max_dup_frac: float = 0.2,
) -> DataFrame:
    """One-pass ``keep_spans`` + ``contaminated`` flags for the non-benchmark
    docs — the composition :func:`dup_span_stats` ∘ :func:`decontaminate`
    computes, from a SINGLE gram explode and with no persist barrier (r6).

    No cache is needed: both the distinct-doc count and the
    benchmark-membership marker are WINDOW aggregates over the same gram
    hash — ``nd = COUNT(*) OVER (PARTITION BY h)`` and
    ``ndb = SUM(is_bench) OVER (PARTITION BY h)`` share one window — so the
    plan is one explode + three 8-byte-key exchanges where the composition
    paid three explodes (spans corpus, decon corpus, benchmark) and five.

    Semantics are exactly the composed operators' (gate-verified through
    ``corpus_prepare``): span duplication counts distinct-doc sharing over
    ALL documents (benchmark included); contamination marks a train doc
    when any of its windows occurs anywhere in the benchmark; gram-less
    docs come back ``keep_spans=true, contaminated=false``.

    Output: ``(id, keep_spans, contaminated)`` — non-benchmark docs only.
    """
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    grams = textstats.window_join(w, gram_words, stride=1, keep_partial=False)
    per = (
        docs.select(
            F.col(id_col).alias("id"),
            bench_filter.alias("is_bench"),
            F.explode(grams).alias("g"),
        )
        .select("id", "is_bench", F.xxhash64("g").alias("h"))
        .groupBy("h", "id", "is_bench")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    wh = Window.partitionBy("h")
    train = (
        per.withColumn("nd", F.count(F.lit(1)).over(wh))
        .withColumn(
            "ndb",
            F.sum(F.when(F.col("is_bench"), 1).otherwise(0)).over(wh),
        )
        .filter(~F.col("is_bench"))
    )
    per_doc = train.groupBy("id").agg(
        F.sum("occ").alias("n_grams"),
        F.sum(
            F.when(F.col("nd") > 1, F.col("occ")).otherwise(F.lit(0))
        ).alias("n_dup_grams"),
        F.sum(
            F.when(F.col("ndb") > 0, F.col("occ")).otherwise(F.lit(0))
        ).alias("n_hit_grams"),
    )
    base = docs.filter(~bench_filter).select(F.col(id_col).alias("id"))
    joined = base.join(per_doc, "id", "left")
    frac = F.coalesce(
        F.col("n_dup_grams") / F.nullif(F.col("n_grams"), F.lit(0)), F.lit(0.0)
    )
    return joined.select(
        "id",
        (frac <= max_dup_frac).alias("keep_spans"),
        (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias("contaminated"),
    )


def host_blocklist_filter(
    urls: DataFrame,
    blocked_hosts: tuple[str, ...],
    soft_words: tuple[str, ...],
    max_soft_score: int = 1,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """URL-level filtering (RefinedWeb §3.1 / C4 badwords): a row is
    dropped when its host is on the blocklist (exact match or subdomain —
    ``host == b`` or ``host`` ends with ``"." + b``, the dot boundary
    preventing ``notubl.com`` from matching ``ubl.com``) or when more than
    ``max_soft_score`` soft keywords occur in the URL string (RefinedWeb's
    aggregated soft-word score, with occurrence capped at 1 per word).

    Pure per-row boolean algebra over ≤ |blocklist| literal comparisons —
    zero shuffles, codegen end to end.  At production blocklist sizes
    (10⁵+ hosts) swap the literal fold for a broadcast left-semi join on
    the registrable-domain suffix (same result, one broadcast); the
    literal form is right while the list fits in an expression tree.

    Output: input columns plus ``host_blocked``, ``soft_score``, ``keep``.
    """
    host = F.col(host_col)
    blocked = F.lit(False)
    for b in blocked_hosts:
        blocked = blocked | (host == b) | host.endswith("." + b)
    score = F.lit(0)
    for wd in soft_words:
        score = score + F.when(
            F.contains(F.lower(F.col(url_col)), F.lit(wd.lower())), 1
        ).otherwise(0)
    return urls.select(
        "*",
        blocked.alias("host_blocked"),
        score.cast("bigint").alias("soft_score"),
        (~blocked & (score <= max_soft_score)).alias("keep"),
    )


def quality_tiers(
    scored: DataFrame,
    id_col: str = "id",
    score_col: str = "quality",
    n_tiers: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    n_partitions: int = 32,
    cleanup: list | None = None,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2019 §4): rank all
    documents by ``score_col`` (best first, ties broken by ``id_col`` into
    a total order) and cut the ranking into ``n_tiers`` equal tiers —
    tier ``t = floor((rank-1) * n_tiers / N)``, the exact equal-split
    NTILE when ``N`` divides evenly and the leading-tiers-get-the-extra
    convention otherwise; the formula is pinned (not the engine's
    ``ntile``) so the DuckDB oracle can run character-identical
    arithmetic.

    The global rank uses ``ranking.global_row_number`` (no
    single-partition exchange — a naive ``ntile() OVER (ORDER BY score)``
    serializes the corpus through one task); ``N`` is a 1-row aggregate
    broadcast via cross-join.  Two scans of the scored input, one range
    shuffle of (id, score) pairs — at 100 TB the alternative that avoids
    even the rank (approx-percentile thresholds) loses exactness at tier
    borders; CCNet itself cuts exact thirds.

    Output: ``(id, score_col, rank, tier, tier_label)``.
    """
    if len(labels) < n_tiers:
        raise ValueError(
            f"quality_tiers needs a label per tier: {len(labels)} labels "
            f"for n_tiers={n_tiers}"
        )
    ranked = global_row_number(
        scored.select(F.col(id_col).alias("id"), score_col),
        order_cols=[F.col(score_col).desc(), F.col("id")],
        rank_col="rank",
        n_partitions=n_partitions,
        cleanup=cleanup,
    )
    n = scored.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    tier = F.floor((F.col("rank") - 1) * n_tiers / F.col("_n")).cast("bigint")
    label = F.element_at(
        F.array(*[F.lit(x) for x in labels]), (tier + 1).cast("int")
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "id",
            score_col,
            "rank",
            tier.alias("tier"),
            label.alias("tier_label"),
        )
    )
