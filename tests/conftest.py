import os
import sys

import pytest
from pyspark import StorageLevel

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apollo_service_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    session = build_session(
        app_name="apollo-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def small_corpus():
    from apollo_service_spark.sources.corpus import gen_corpus

    return gen_corpus(n_hosts=4, n_pages=120, seed=42)


@pytest.fixture(scope="session")
def small_corpus_spark(spark, small_corpus):
    from apollo_service_spark.sources.corpus import corpus_to_spark

    return corpus_to_spark(spark, small_corpus)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def cache_state(spark) -> tuple:
    """Whether the session's cache manager holds no cached plan, and the ids
    of the persisted RDDs: a test compares against its own starting state
    rather than clearing the whole cache, so a frame another test leaked
    shows up there instead of being dropped here."""
    empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return empty, frozenset(spark.sparkContext._jsc.getPersistentRDDs().keys())


def cached_since(spark, before: tuple) -> set:
    """What the session caches now that it did not at ``before`` (a
    ``cache_state``). Only additions count: Spark's context cleaner may
    unpersist an RDD another test left behind at any time."""
    empty, rdds = cache_state(spark)
    plan = {"a cached plan"} if before[0] and not empty else set()
    return set(rdds - before[1]) | plan


@pytest.fixture
def cleanup():
    """A list for an operator's ``cleanup=`` argument: the frames the
    operator persisted are released when the test ends."""
    frames = []
    yield frames
    for frame in frames:
        frame.unpersist()


@pytest.fixture
def checkpoints(spark, monkeypatch):
    """Every frame ``DataFrame.localCheckpoint`` returns while the test runs;
    their RDDs are released when the test ends. A local checkpoint is
    persisted outside the session's cache manager and stays until the JVM
    collects its frame, so ``unpersist`` on the frame cannot release it."""
    frames = []
    frame_type = type(spark.range(0))
    local_checkpoint = frame_type.localCheckpoint

    def record(self, *args, **kwargs):
        frames.append(local_checkpoint(self, *args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(frame_type, "localCheckpoint", record)
    yield frames
    for frame in frames:
        frame._jdf.logicalPlan().rdd().unpersist(True)


@pytest.fixture
def release_queries():
    """Releases the registry queries' deferred caches, which otherwise live
    until the query's next call, when the test ends."""
    yield
    from apollo_service_spark.plans.queries import release_all

    release_all()


def crawl_log_tuples(spark, store) -> set:
    """``(url, iteration, rank)`` of every row of a crawl's log, with the
    rank derivation's cached frame released."""
    from apollo_service_spark.operators.frontier import crawl_log_df

    frames = []
    try:
        log = crawl_log_df(spark, store, cleanup=frames)
        return {
            (r["url"], r["iteration"], r["rank"])
            for r in log.select("url", "iteration", "rank").collect()
        }
    finally:
        for frame in frames:
            frame.unpersist()


@pytest.fixture
def persisted(spark, monkeypatch):
    """Every frame persisted or cached while the test runs, in order: a
    leak check on these frames does not depend on what other tests of the
    session left cached."""
    frames = []
    frame_type = type(spark.range(0))
    for name in ("persist", "cache"):

        def record(self, *args, _method=getattr(frame_type, name), **kwargs):
            frames.append(self)
            return _method(self, *args, **kwargs)

        monkeypatch.setattr(frame_type, name, record)
    return frames


def still_cached(frames) -> list:
    """The frames whose plan the session still caches."""
    none = StorageLevel(False, False, False, False, 1)
    return [frame for frame in frames if frame.storageLevel != none]
