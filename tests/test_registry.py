"""The query registry: one record per query, in a pinned order, whose calls
run under a job tag and release the frames they persist.

A deferred-cache query (``cluster_greedy``, ``pack_sequences``,
``quality_tiers``, ``corpus_prepare``) persists intermediates behind the lazy
frame it returns; the registry releases them on the query's next call
(``tests/test_clustering.py``), when its build raises, and on
``release_all()`` (ROADMAP aim 3: cached frames must not outlive a one-shot
caller or an exception)."""

import pytest

from apollo_service_spark.operators import curation
from apollo_service_spark.plans.queries import oracle_sql, queries, release_all
from tests.conftest import SF_DIR, cache_state, cached_since, still_cached

# The correctness sample takes a prefix of this order: the 25 queries
# outside the r5 sample come first.
ORDER = [
    "minhash_pairs", "simhash_groups", "extract_text", "media_features",
    "redirect_404_filter", "cluster_greedy", "crawl_frontier", "pii_redact",
    "line_dedup", "hash_split", "corpus_clean", "pagerank", "domain_quota",
    "c4_line_filter", "dup_span_stats", "pack_sequences", "url_blocklist",
    "quality_tiers", "decontaminate", "corpus_prepare", "dup_span_removal",
    "gopher_quality", "warc_roundtrip", "pagerank_schedule", "surt_keys",
    "url_categorize_counts", "url_year_counts", "url_document_flags",
    "url_ignore_filter", "url_host_counts", "url_path_prefix_counts",
    "frontier_dedup", "politeness_rank", "priority_schedule",
    "backoff_budgets", "robots_gate", "robots_parse", "crawl_delay_budgets",
    "sitemap_extract", "robots_sitemaps", "topk_recent_orders",
    "pagination_orders", "status_rollup", "semi_join_customers",
    "anti_join_customers", "region_revenue", "pricing_summary",
    "events_window", "events_tumbling", "events_json", "sessionize_events",
    "status_pivot", "distinct_users", "url_filename", "post_categorize",
    "download_manifest", "union_distinct", "dedup_exact", "token_counts",
    "quality_scores", "lang_detect", "repetition_stats", "tfidf_top_terms",
    "ngram_jaccard", "winnow_neardup", "dedup_components",
    "dedup_survivors", "ann_cosine_topk", "embed_neardup",
    "fb_keyword_counts", "filename_sanitize", "page_metadata",
    "events_recent", "downloads_by_year", "attachment_stats",
]

DEFERRED = ["cluster_greedy", "pack_sequences", "quality_tiers", "corpus_prepare"]


def test_registry_order_is_pinned():
    assert len(ORDER) == len(set(ORDER)) == 75
    assert list(queries()) == list(oracle_sql()) == ORDER


def test_build_work_runs_under_the_query_job_tag(spark, monkeypatch):
    sc = spark.sparkContext
    seen = []

    def tags() -> set:
        return set(sc.getJobTags())  # a py4j set view otherwise

    pack_sequences = curation.pack_sequences

    def tagged_pack(*args, **kwargs):
        seen.append(tags())
        return pack_sequences(*args, **kwargs)

    monkeypatch.setattr(curation, "pack_sequences", tagged_pack)
    queries()["pack_sequences"](spark, SF_DIR)
    assert seen == [{"apollo:query:pack_sequences"}]
    assert tags() == set()

    def failing_pack(*args, **kwargs):
        seen.append(tags())
        raise RuntimeError("pack failed")

    monkeypatch.setattr(curation, "pack_sequences", failing_pack)
    with pytest.raises(RuntimeError, match="pack failed"):
        queries()["pack_sequences"](spark, SF_DIR)
    assert seen[-1] == {"apollo:query:pack_sequences"}
    assert tags() == set()
    release_all()


def test_deferred_frames_released_when_the_build_raises(
    spark, monkeypatch, persisted
):
    release_all()
    before = cache_state(spark)
    pack_sequences = curation.pack_sequences

    def failing_pack(*args, cleanup, **kwargs):
        pack_sequences(*args, cleanup=cleanup, **kwargs)
        assert cleanup and still_cached(persisted)
        raise RuntimeError("pack failed")

    monkeypatch.setattr(curation, "pack_sequences", failing_pack)
    with pytest.raises(RuntimeError, match="pack failed"):
        queries()["pack_sequences"](spark, SF_DIR)
    assert not still_cached(persisted)
    assert not cached_since(spark, before)


def test_release_all_empties_the_cache(spark, persisted):
    release_all()
    before = cache_state(spark)
    registry = queries()
    for key in DEFERRED:
        registry[key](spark, SF_DIR).count()
    assert cached_since(spark, before) and still_cached(persisted)
    release_all()
    assert not still_cached(persisted)
    assert not cached_since(spark, before)
