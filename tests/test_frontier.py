"""Crawl-equivalence: the Spark frontier engine must reproduce the canonical
deterministic BFS (oracle simulator) exactly — final seen set AND crawl
ordering (iteration, within-iteration rank) — BASELINE.md correctness gate 2.
"""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apollo_service_spark.operators.frontier import CrawlConfig, FrontierEngine
from apollo_service_spark.oracle.simulator import SimConfig, simulate
from apollo_service_spark.session import codegen_compiles
from apollo_service_spark.sources.storage import SnapshotStore
from tests.conftest import (
    cache_state,
    cached_since,
    crawl_log_tuples,
    still_cached,
)


def _sim_inputs(small_corpus):
    pages = {
        row["url"]: row["html"] for _, row in small_corpus["pages"].iterrows()
    }
    seeds = list(small_corpus["seeds"]["url"])
    robots = {}
    for _, row in small_corpus["robots"].iterrows():
        robots.setdefault(row["host"], []).append(row["disallow_prefix"])
    politeness = {
        row["host"]: int(row["budget"])
        for _, row in small_corpus["politeness"].iterrows()
    }
    return pages, seeds, robots, politeness


def _run_engine(spark, small_corpus_spark, store_path, config, resume=False):
    store = SnapshotStore(store_path)
    engine = FrontierEngine(
        spark,
        small_corpus_spark["pages"],
        store,
        config,
        robots=small_corpus_spark["robots"],
        politeness=small_corpus_spark["politeness"],
    )
    state = engine.run(seeds=small_corpus_spark["seeds"], resume=resume)
    return state, store


def _seen_set(spark, store) -> set:
    return {r["url"] for r in store.read_accumulated(spark, "seen_delta").collect()}


def _counts(store) -> list:
    """The per-superstep counts a crawl's metrics record."""
    keys = ("scheduled", "pages_fetched", "links_found", "frontier_size")
    return [[m[k] for k in keys] for m in store.iteration_metrics()]


@pytest.mark.parametrize(
    "kwargs",
    [
        {},
        {"depth_limit": 2},
        {"max_pages": 25},
        {"default_budget": 2},
    ],
    ids=["unbounded", "depth2", "maxpages25", "budget2"],
)
def test_crawl_matches_simulator(
    spark, small_corpus, small_corpus_spark, tmp_path, kwargs
):
    pages, seeds, robots, politeness = _sim_inputs(small_corpus)
    sim = simulate(
        pages,
        seeds,
        SimConfig(**kwargs),
        robots=robots,
        politeness=politeness,
    )
    state, store = _run_engine(
        spark, small_corpus_spark, str(tmp_path / "crawl"), CrawlConfig(**kwargs)
    )

    expected = {(r["url"], r["iteration"], r["rank"]) for r in sim.crawl_log}
    got = crawl_log_tuples(spark, store)
    assert got == expected

    seen_df = store.read_accumulated(spark, "seen_delta")
    got_seen = {r["url"] for r in seen_df.collect()}
    assert got_seen == sim.seen

    assert state.pages_fetched == sim.pages_fetched
    assert state.iterations == sim.iterations
    assert state.stopped_reason == sim.stopped_reason


def test_crawl_nontrivial(spark, small_corpus, small_corpus_spark, tmp_path):
    """Guard against vacuous equivalence: the crawl must really expand."""
    pages, seeds, robots, politeness = _sim_inputs(small_corpus)
    sim = simulate(pages, seeds, SimConfig(), robots=robots, politeness=politeness)
    assert sim.iterations >= 3
    assert sim.pages_fetched > 40
    assert len(sim.seen) > 40
    # robots actually blocked something: /sec3 is disallowed on host0/host3
    from urllib.parse import urlparse

    blocked = [
        u
        for u in pages
        if urlparse(u).netloc == "host0.example.com"
        and urlparse(u).path.startswith("/sec3")
    ]
    assert blocked, "fixture should contain robots-disallowed urls"
    assert all(u not in sim.seen for u in blocked)


def test_resume_mid_frontier(spark, small_corpus, small_corpus_spark, tmp_path):
    """Kill after k iterations, resume, final state identical to one run."""
    full_cfg = CrawlConfig()
    _, store_full = _run_engine(
        spark, small_corpus_spark, str(tmp_path / "full"), full_cfg
    )

    part_cfg = CrawlConfig(max_iterations=2)
    _, store_part = _run_engine(
        spark, small_corpus_spark, str(tmp_path / "part"), part_cfg
    )
    assert store_part.latest_iteration() == 1  # iterations 0,1 committed

    resume_cfg = CrawlConfig()
    _, store_resumed = _run_engine(
        spark,
        small_corpus_spark,
        str(tmp_path / "part"),
        resume_cfg,
        resume=True,
    )

    assert crawl_log_tuples(spark, store_resumed) == crawl_log_tuples(
        spark, store_full
    )
    assert _seen_set(spark, store_resumed) == _seen_set(spark, store_full)


def test_resume_after_commit_crash_with_seen_store_ahead(
    spark, small_corpus_spark, tmp_path
):
    """The seen store is updated before the manifest commits, so a commit
    that raises leaves the store holding the failed superstep's urls while
    the manifest does not. Resumed with the real commit, the crawl re-runs
    that superstep against the superset store, and its log, seen set and
    per-superstep counts equal an uninterrupted crawl's."""
    _, full = _run_engine(
        spark, small_corpus_spark, str(tmp_path / "full"), CrawlConfig()
    )

    store = SnapshotStore(str(tmp_path / "crashed"))
    engine = FrontierEngine(
        spark,
        small_corpus_spark["pages"],
        store,
        CrawlConfig(),
        robots=small_corpus_spark["robots"],
        politeness=small_corpus_spark["politeness"],
    )
    commit = store.commit

    def failing_commit(iteration, *args, **kwargs):
        if iteration == 1:
            raise RuntimeError("commit failed")
        return commit(iteration, *args, **kwargs)

    store.commit = failing_commit
    with pytest.raises(RuntimeError, match="commit failed"):
        engine.run(seeds=small_corpus_spark["seeds"])
    assert store.latest_iteration() == 0

    stored = set()
    for path in glob.glob(f"{store.root}/seen_urls/pid=*/*.parquet"):
        stored.update(pq.read_table(path, columns=["url"]).column("url").to_pylist())
    assert stored > _seen_set(spark, store), "the store should be ahead of the manifest"

    _, resumed = _run_engine(
        spark, small_corpus_spark, str(tmp_path / "crashed"), CrawlConfig(), resume=True
    )
    assert crawl_log_tuples(spark, resumed) == crawl_log_tuples(spark, full)
    assert _seen_set(spark, resumed) == _seen_set(spark, full)
    assert _counts(resumed) == _counts(full)


def test_metrics_and_lineage_recorded(spark, small_corpus_spark, tmp_path):
    _, store = _run_engine(
        spark, small_corpus_spark, str(tmp_path / "m"), CrawlConfig(max_iterations=3)
    )
    metrics = store.iteration_metrics()
    assert len(metrics) == 3
    for m in metrics:
        assert m["scheduled"] > 0
        assert "wall_s" in m
    lineage = store.read_accumulated(spark, "lineage")
    rows = lineage.collect()
    assert {r["iteration"] for r in rows} == {0, 1, 2}
    assert all(r["rows"] >= 0 for r in rows)


def test_max_links_limit(spark, small_corpus, small_corpus_spark, tmp_path):
    pages, seeds, robots, politeness = _sim_inputs(small_corpus)
    sim = simulate(
        pages, seeds, SimConfig(max_links=30), robots=robots, politeness=politeness
    )
    state, store = _run_engine(
        spark,
        small_corpus_spark,
        str(tmp_path / "ml"),
        CrawlConfig(max_links=30),
    )
    assert state.stopped_reason == sim.stopped_reason == "max_links"
    assert state.links_processed == sim.links_processed
    assert crawl_log_tuples(spark, store) == {
        (r["url"], r["iteration"], r["rank"]) for r in sim.crawl_log
    }


def test_depth_limit_supersteps_build_no_expansion(
    spark, small_corpus, small_corpus_spark, tmp_path, monkeypatch
):
    """A superstep whose whole frontier sits at depth_limit has no page to
    expand, so it builds no expand or dedup plan. Resumed at the first such
    superstep with _candidate_links raising, the crawl still commits every
    remaining superstep, matches the simulator and equals an uninterrupted
    crawl row for row."""
    pages, seeds, robots, politeness = _sim_inputs(small_corpus)
    sim = simulate(
        pages, seeds, SimConfig(depth_limit=2), robots=robots, politeness=politeness
    )
    # every url is scheduled once, so from here on the frontier holds depth 2
    at_limit = 1 + max(r["iteration"] for r in sim.crawl_log if r["depth"] < 2)
    assert 0 < at_limit < sim.iterations - 1

    expanded = []
    candidate_links = FrontierEngine._candidate_links

    def counted(self, fetched):
        expanded.append(fetched)
        return candidate_links(self, fetched)

    monkeypatch.setattr(FrontierEngine, "_candidate_links", counted)
    _, full = _run_engine(
        spark, small_corpus_spark, str(tmp_path / "full"), CrawlConfig(depth_limit=2)
    )
    assert len(expanded) == at_limit

    _run_engine(
        spark,
        small_corpus_spark,
        str(tmp_path / "part"),
        CrawlConfig(depth_limit=2, max_iterations=at_limit),
    )

    def raising(self, fetched):
        raise AssertionError("a superstep at the depth limit built its expansion")

    monkeypatch.setattr(FrontierEngine, "_candidate_links", raising)
    state, resumed = _run_engine(
        spark,
        small_corpus_spark,
        str(tmp_path / "part"),
        CrawlConfig(depth_limit=2),
        resume=True,
    )
    assert state.iterations == sim.iterations - at_limit
    assert state.stopped_reason == sim.stopped_reason
    assert state.pages_fetched == sim.pages_fetched
    assert state.links_processed == sim.links_processed
    assert crawl_log_tuples(spark, resumed) == {
        (r["url"], r["iteration"], r["rank"]) for r in sim.crawl_log
    }

    assert _counts(resumed) == _counts(full)
    links_found = [m["links_found"] for m in resumed.iteration_metrics()]
    assert sum(links_found[:at_limit]) > 0
    assert links_found[at_limit:] == [0] * (sim.iterations - at_limit)
    for table in ("crawl_log", "seen_delta", "lineage"):
        assert sorted(resumed.read_accumulated(spark, table).collect()) == sorted(
            full.read_accumulated(spark, table).collect()
        ), table
    for it in range(sim.iterations):
        assert sorted(resumed.read(spark, "frontier", it).collect()) == sorted(
            full.read(spark, "frontier", it).collect()
        ), it


def test_engine_requires_observations_to_survive_aqe(
    spark, small_corpus_spark, tmp_path
):
    """An engine on a session whose AQE may prune the superstep's observed
    nodes is refused when it is built; with AQE off it is built."""
    aqe = "spark.sql.adaptive.enabled"
    excluded = "spark.sql.adaptive.optimizer.excludedRules"
    was = {key: spark.conf.get(key) for key in (aqe, excluded)}

    def engine():
        return FrontierEngine(
            spark, small_corpus_spark["pages"], SnapshotStore(str(tmp_path))
        )

    try:
        spark.conf.unset(excluded)
        with pytest.raises(ValueError, match="AQEPropagateEmptyRelation"):
            engine()
        spark.conf.set(aqe, "false")
        engine()
    finally:
        for key, value in was.items():
            spark.conf.set(key, value)


def test_superstep_exception_releases_caches(
    spark, small_corpus_spark, tmp_path, persisted
):
    """A superstep that raises leaves nothing cached: building an engine
    caches nothing, and when the second commit fails every frame run()
    cached (pages layout, frontier, batch, fetch result, next frontier,
    ranking intermediate) has been released by the time the error
    reaches the caller."""
    before = cache_state(spark)
    store = SnapshotStore(str(tmp_path / "raises"))
    engine = FrontierEngine(
        spark,
        small_corpus_spark["pages"],
        store,
        # max_pages makes the truncation ranking (and its cache) run
        CrawlConfig(max_pages=25),
        robots=small_corpus_spark["robots"],
        politeness=small_corpus_spark["politeness"],
    )
    assert not persisted and not cached_since(spark, before)

    commit = store.commit
    calls = []

    def failing_commit(*args, **kwargs):
        calls.append(args[0])
        if len(calls) == 2:
            raise RuntimeError("commit failed")
        return commit(*args, **kwargs)

    store.commit = failing_commit
    with pytest.raises(RuntimeError, match="commit failed"):
        engine.run(seeds=small_corpus_spark["seeds"])
    assert calls == [0, 1]
    assert persisted and not still_cached(persisted)
    assert not cached_since(spark, before)


@pytest.fixture(scope="module")
def repeated_crawls(spark, small_corpus_spark, tmp_path_factory):
    """Two identical 5-superstep crawls, back to back, with the codegen
    compiles each whole run() caused."""
    root = tmp_path_factory.mktemp("compile_once")
    runs = []
    for name in ("first", "second"):
        before = codegen_compiles(spark)
        _, store = _run_engine(
            spark,
            small_corpus_spark,
            str(root / name),
            CrawlConfig(default_budget=2, max_iterations=5, n_partitions=4),
        )
        runs.append((store, codegen_compiles(spark) - before))
    return runs


def test_superstep_compiles_are_recorded(repeated_crawls):
    """Every superstep reports the compiles it caused; together they are
    part of what the whole run() compiled."""
    store, compiles = repeated_crawls[0]
    per_step = [m["codegen_compiles"] for m in store.iteration_metrics()]
    assert len(per_step) >= 4
    assert all(isinstance(c, int) and c >= 0 for c in per_step)
    assert sum(per_step) <= compiles


def test_repeated_crawl_compiles_no_class(repeated_crawls):
    """Spark's generated-class cache holds a whole crawl's plans, so in a
    warm session a repeated crawl of at least 4 supersteps compiles no
    class, in any superstep or around them."""
    store, compiles = repeated_crawls[1]
    per_step = [m["codegen_compiles"] for m in store.iteration_metrics()]
    assert len(per_step) >= 4
    assert per_step == [0] * len(per_step)
    assert compiles == 0


def test_commit_tables_schema_and_iteration(spark, repeated_crawls):
    """The superstep number lands as a non-null int column holding the
    superstep's own number, in the same place."""
    store, _ = repeated_crawls[0]
    n = len(store.iteration_metrics())
    for it in range(n):
        for table in ("crawl_log", "lineage"):
            path = glob.glob(f"{store.root}/{table}/iter={it:05d}/*.parquet")[0]
            assert not pq.read_schema(path).field("iteration").nullable
        log = store.read(spark, "crawl_log", it)
        lineage = store.read(spark, "lineage", it)
        assert log.schema.simpleString() == (
            "struct<url:string,host:string,depth:int,iteration:int,"
            "status:string,is_document:boolean>"
        )
        assert lineage.schema.simpleString() == (
            "struct<partition_id:int,rows:bigint,iteration:int>"
        )
        for df in (log, lineage):
            assert {r["iteration"] for r in df.select("iteration").collect()} == {it}
