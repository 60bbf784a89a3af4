"""Eager callers release what they persist when a later step raises.

``pagerank``, ``connected_components`` and the ``crawl_frontier`` registry
query each persist a frame and then run actions over it; an exception after
the persist must still leave the session's cache as the test found it
(ROADMAP aim 3: cached frames must not outlive an exception)."""

import pytest
from pyspark.sql import functions as F

from apollo_service_spark.operators import frontier
from apollo_service_spark.operators.components import connected_components
from apollo_service_spark.operators.pagerank import pagerank
from apollo_service_spark.plans import queries
from tests.conftest import cache_state, cached_since, still_cached


def test_eager_persists_released_when_a_later_step_raises(
    spark, monkeypatch, persisted
):
    before = cache_state(spark)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))

    def failing_checkpoint(self, *args, **kwargs):
        raise RuntimeError("checkpoint failed")

    with monkeypatch.context() as m:
        m.setattr(type(pairs), "localCheckpoint", failing_checkpoint)
        # pagerank persists nodes and the degree-joined edges, then checkpoints
        with pytest.raises(RuntimeError, match="checkpoint failed"):
            pagerank(edges)
        assert persisted and not still_cached(persisted)
        assert not cached_since(spark, before)
        del persisted[:]
        # connected_components persists the symmetrized edges, then checkpoints
        with pytest.raises(RuntimeError, match="checkpoint failed"):
            connected_components(pairs)
        assert persisted and not still_cached(persisted)
        assert not cached_since(spark, before)
        del persisted[:]

    # crawl_frontier: the crawl log's rank derivation persists into the
    # query's cleanup list; the step after it raises
    crawl_log_df = frontier.crawl_log_df

    def failing_log(spark, store, cleanup=None):
        crawl_log_df(spark, store, cleanup=cleanup)
        assert cleanup and still_cached(persisted)
        raise RuntimeError("crawl log failed")

    monkeypatch.setattr(frontier, "crawl_log_df", failing_log)
    with pytest.raises(RuntimeError, match="crawl log failed"):
        queries.q_crawl_frontier(spark, None)
    assert not still_cached(persisted)
    assert not cached_since(spark, before)
