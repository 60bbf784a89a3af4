"""The distributed URL-frontier + fetch scheduler (the engine core).

Reimplements the reference's 20-thread BFS crawler
(`apollo.py:393-652`, `:724-801`) as deterministic Spark supersteps. One
iteration of the driver loop is one superstep. Its phases fuse into the
commit's table writes, and Spark runs those as many jobs, because AQE submits
one job per query stage: a two-superstep perfbench crawl traced with
``--trace 1`` counted 58 Spark jobs (seed 7, local[4]). The phases:

1. **batch select** — per-host politeness budget via window ranking
   (politeness.py); carryover stays in the frontier.
2. **fetch** — ``batch LEFT JOIN pages ON url`` (the table-driven analog of
   the HTTP GET at `apollo.py:493`); a missing row is a fetch error, a row
   with NULL html is non-HTML content (no link expansion, `apollo.py:549-555`).
3. **expand** — one Arrow kernel per page (``udfs.expand_links_udf``):
   link extraction, canonicalization, the ignore patterns and the host/path
   split, whose (url, host, path) structs are ``explode``d → domain filter
   → robots broadcast gate (robots.py). A superstep whose whole frontier
   sits at ``depth_limit`` expands nothing and builds neither this phase
   nor dedup: its next frontier is the carryover.
4. **dedup** — exact ``LEFT ANTI JOIN`` against the carryover frontier and
   the in-flight batch (reference double-check under lock,
   `apollo.py:592-604`), then the partitioned bloom seen store (seen.py): a
   bloom probe and an exact check against the partition's own url set, in
   one task per partition, so the accumulated seen set never shuffles.
5. **commit** — frontier, seen delta, crawl log, per-partition lineage and
   iteration metrics land in one SnapshotStore commit; a crawl resumes
   mid-frontier from the latest committed iteration.

Determinism: every ordering in the loop is a total order (depth, url), so
given the same seeds + politeness budgets the engine reproduces the canonical
crawl ordering exactly (verified against oracle/simulator.py). Every
DataFrame crossing iterations round-trips through parquet, which truncates
lineage — no logical-plan growth across supersteps (SURVEY.md §7 risk 3).

Scale notes: the frontier table and the seen store are partitioned by salted
host PLUS a per-url spread offset (`host_salted_partition(url=...)`) so one
mega-host cannot pin a storage/dedup partition; the politeness budget bounds
any host's per-iteration BATCH (politeness.select_batch); robots and
politeness dims are broadcast; AQE handles residual skew in the anti-join.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import urlkit
from ..functions.udfs import expand_links_udf
from ..session import AQE_EMPTY_RELATION_RULE, codegen_compiles, observations_survive
from ..sources.storage import SnapshotStore
from . import politeness as politeness_ops
from . import robots as robots_ops
from .seen import PartitionedBloomSeenStore


@dataclass
class CrawlConfig:
    base_host: str | None = None          # None ⇒ no domain restriction
    depth_limit: int | None = None        # None ⇒ unlimited (ref float('inf'))
    max_pages: int | None = None
    max_links: int | None = None
    default_budget: int = 4
    # searched case-insensitively in each canonical link by Python's `re`
    # inside the expand kernel, as the oracle simulator runs them (not by a
    # Java regex)
    extra_ignore_patterns: list = field(default_factory=list)
    respect_robots: bool = True
    n_partitions: int = 32
    salt: int = 42
    bloom_fpp: float = 0.01
    max_iterations: int = 1000
    expected_urls: int = 1_000_000        # seen-store bloom sizing
    # frontiers at or below this size fetch via a broadcast semi-join probe
    # over the RAW pages scan (no corpus shuffle, no cache materialization)
    # instead of the repartitioned+cached join — the small-superstep fast
    # path (seed iterations, crawl tail). The cached layout is built lazily
    # by the first BIG superstep, where it amortizes against real work.
    small_batch_threshold: int = 10_000
    # opt-in: when set (seconds of wall time one superstep represents) and
    # robots_bodies were given WITHOUT an explicit politeness table, derive
    # per-host budgets from the bodies' Crawl-delay directives
    # (robots.parse_crawl_delays → politeness.budgets_from_delays, clamped
    # to [1, default_budget]); hosts with no valid delay keep default_budget
    delay_budget_seconds: float | None = None


@dataclass
class CrawlResultState:
    iterations: int
    pages_fetched: int
    links_processed: int
    stopped_reason: str


_FRONTIER_SCHEMA = ["url", "host", "depth"]


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        store: SnapshotStore,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        robots_bodies: DataFrame | None = None,
        politeness: DataFrame | None = None,
        sitemap_bodies: DataFrame | None = None,
    ):
        # the superstep's metrics are Observations (session.py's rule note)
        if not observations_survive(spark):
            raise ValueError(
                f"the crawl needs AQE off or {AQE_EMPTY_RELATION_RULE} in the AQE "
                "optimizer's excludedRules, as session.build_session sets them"
            )
        self.spark = spark
        self.config = config or CrawlConfig()
        self.store = store
        # pages is joined on url EVERY superstep; repartition once on the
        # join key and persist (disk-backed) so supersteps pay a cached-read
        # + small-side shuffle instead of re-scanning AND re-shuffling the
        # whole corpus per iteration — the round-4 probe measured the pages
        # reshuffle as the superstep's dominant fixed cost (~19 s/iteration
        # at 50k pages). Scale honesty: executor storage bounds what this
        # buys — when the fetch table exceeds cache it degrades to the
        # re-scan behavior, never worse; on a real crawl the pages "table"
        # is the fetch layer (network), and this join is its stand-in.
        # run() persists it and releases it when the run ends, so an engine
        # that is built but never run caches nothing.
        self.pages_raw = pages
        self.pages = pages.repartition(self.config.n_partitions, "url")
        # robots rules arrive either pre-parsed (host, disallow_prefix) or
        # as raw fetched bodies (host, body) — the latter run through the
        # reference-exact line scan (robots_ops.parse_robots) first, i.e.
        # /robots.txt is just another fetched page whose parse is part of
        # the dataflow (apollo.py:239-264's fetch+cache, minus the network)
        if robots_bodies is not None and self.config.respect_robots:
            parsed = robots_ops.parse_robots(robots_bodies)
            robots = parsed if robots is None else robots.unionByName(parsed)
        self.robots_agg = (
            robots_ops.aggregate_rules(robots)
            if (robots is not None and self.config.respect_robots)
            else None
        )
        if (
            politeness is None
            and robots_bodies is not None
            and self.config.delay_budget_seconds is not None
        ):
            politeness = politeness_ops.budgets_from_delays(
                robots_ops.parse_crawl_delays(robots_bodies),
                self.config.delay_budget_seconds,
                max_budget=self.config.default_budget,
            )
        self.politeness = politeness
        self.sitemap_bodies = sitemap_bodies
        self.expand_links = expand_links_udf(self.config.extra_ignore_patterns)
        self.seen_store = PartitionedBloomSeenStore(
            store.root,
            n_partitions=self.config.n_partitions,
            expected_urls=self.config.expected_urls,
            fpp=self.config.bloom_fpp,
            salt=self.config.salt,
        )

    # ------------------------------------------------------------------ init

    def _init_frontier(self, seeds: DataFrame) -> DataFrame:
        # sitemap-discovered urls join the caller's seeds at depth 0 — a
        # sitemap IS a seed list the site publishes (sitemap.py); its urls
        # go through the same canonicalize + dedup as any other seed, and a
        # sitemapindex's .xml children simply 404 out of the fetch join the
        # way any unknown url does (or resolve, if the pages table carries
        # them, and get parsed on the next superstep)
        if self.sitemap_bodies is not None:
            from .sitemap import parse_sitemap_locs

            seeds = seeds.select("url").unionByName(
                parse_sitemap_locs(self.sitemap_bodies).select("url")
            )
        canon = urlkit.canonicalize(F.col("url"))
        return (
            seeds.select(canon.alias("url"))
            .withColumn("host", urlkit.url_host(F.col("url")))
            .withColumn("depth", F.lit(0))
            .dropDuplicates(["url"])
        )

    def _repartition_state(self, df: DataFrame) -> DataFrame:
        return df.repartition(
            self.config.n_partitions,
            urlkit.host_salted_partition(
                F.col("host"),
                self.config.n_partitions,
                self.config.salt,
                url=F.col("url"),
            ),
        )

    # ------------------------------------------------------------------ steps

    def _candidate_links(self, fetched: DataFrame) -> DataFrame:
        """Post-filter, PRE-dedup candidate links (url, host, depth) from this
        batch's pages — one row per surviving extracted link, duplicates kept
        so ``count()`` on it is the reference's total_links_processed
        increment (`apollo.py:573-574`)."""
        cfg = self.config
        expandable = fetched.filter(F.col("html").isNotNull())
        if cfg.depth_limit is not None:
            expandable = expandable.filter(F.col("depth") < F.lit(cfg.depth_limit))

        # one Arrow kernel per page turns its html into candidate (url, host,
        # path) structs: extraction, canonicalization and the ignore
        # patterns run in Python once per link. Applied as Catalyst columns
        # instead, CollapseProject inlined canonicalize's ~50-node tree into
        # every expression that read the url, and each superstep paid for
        # planning and compiling that tree.
        links = expandable.select(
            (F.col("depth") + 1).alias("depth"),
            F.explode(
                self.expand_links(F.col("html"), F.col("url"))
            ).alias("link"),
        ).select("link.url", "link.host", "link.path", "depth")
        if cfg.base_host is not None:
            links = links.filter(F.col("host") == F.lit(cfg.base_host))
        return robots_ops.robots_allow(links, self.robots_agg).drop("path")

    def _dedup(self, links: DataFrame, exclude: DataFrame) -> DataFrame:
        """Dedup candidates vs in-flight/carryover urls and vs the seen set.

        ``exclude`` is the union of the carryover frontier and this
        iteration's scheduled batch — the reference's visited-set membership
        includes in-flight URLs (`apollo.py:442-452`), so links back to a
        just-fetched page must not re-enter the frontier. The seen check is
        one partition-local pass of the seen store (bloom probe + exact
        pid-local url set inside the task, seen.py:filter_new) — the
        accumulated seen set never shuffles.
        """
        # dedup on url alone — host is a pure function of the url, so it is
        # recomputed AFTER the aggregate instead of riding the shuffle as a
        # grouping key (narrower shuffle rows, one fewer key column)
        links = (
            links.groupBy("url")
            .agg(F.min("depth").alias("depth"))
            .withColumn("host", urlkit.url_host(F.col("url")))
        )
        # exclusion anti-join FIRST, while links are hash-partitioned by url
        # straight out of the groupBy — ENSURE_REQUIREMENTS reuses that
        # layout for the join's left side (only the much smaller exclude
        # side shuffles), and the batch shrinks before the seen-store's
        # Python pass. Order vs the seen check is semantically free (both
        # are row filters).
        links = links.join(exclude.select("url"), "url", "left_anti")
        return self.seen_store.filter_new(links).select(*_FRONTIER_SCHEMA)

    # ------------------------------------------------------------------ loop

    def run(self, seeds: DataFrame | None = None, resume: bool = False) -> CrawlResultState:
        cfg = self.config
        store = self.store
        spark = self.spark

        if resume and store.latest_iteration() >= 0:
            start_iter = store.latest_iteration() + 1
            frontier = store.read_latest(spark, "frontier")
            metrics = store.iteration_metrics()
            pages_fetched = sum(m.get("pages_fetched", 0) for m in metrics)
            links_processed = sum(m.get("links_found", 0) for m in metrics)
        else:
            if seeds is None:
                raise ValueError("seeds required for a fresh crawl")
            self.seen_store.reset()
            start_iter = 0
            frontier = self._init_frontier(seeds)
            pages_fetched = 0
            links_processed = 0
        # one aggregate per RUN (not per iteration): the first superstep
        # counts its input frontier and takes its minimum depth, every later
        # frontier's size and minimum depth are observed for free during the
        # previous commit's write
        frontier_size = min_depth = None

        reason = "frontier_exhausted"
        iteration = start_iter - 1
        # cache lifetimes: the pages layout lives for the whole run; every
        # frame a superstep caches (its input frontier included) goes on that
        # superstep's `cleanup` list. Both are released in `finally`, so a
        # superstep that raises leaves nothing cached.
        self.pages.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for iteration in range(start_iter, cfg.max_iterations + start_iter):
                frontier = frontier.persist()
                cleanup = [frontier]
                try:
                    if frontier_size is None:
                        frontier_size, min_depth = frontier.agg(
                            F.count(F.lit(1)), F.min("depth")
                        ).first()
                    # stop checks on driver-side counters only — the frontier
                    # size of iteration k is observed during iteration k-1's
                    # commit write, so past the first superstep's count the
                    # loop top runs zero Spark jobs
                    if frontier_size == 0:
                        reason = "frontier_exhausted"
                        iteration -= 1
                        break
                    if cfg.max_pages is not None and pages_fetched >= cfg.max_pages:
                        reason = "max_pages"
                        iteration -= 1
                        break
                    if cfg.max_links is not None and links_processed >= cfg.max_links:
                        reason = "max_links"
                        iteration -= 1
                        break
                    m, frontier_size, min_depth = self._superstep(
                        iteration,
                        frontier,
                        frontier_size,
                        min_depth,
                        pages_fetched,
                        cleanup,
                    )
                finally:
                    for cached in cleanup:
                        cached.unpersist()
                pages_fetched += m["pages_fetched"]
                links_processed += m["links_found"]
                # read state back from the committed snapshot: truncates
                # lineage (persisted at the next superstep's top)
                frontier = store.read(spark, "frontier", iteration)
            else:
                reason = "max_iterations"
        finally:
            self.pages.unpersist()
        return CrawlResultState(
            iterations=iteration - start_iter + 1 if iteration >= start_iter else 0,
            pages_fetched=pages_fetched,
            links_processed=links_processed,
            stopped_reason=reason,
        )

    def _superstep(
        self,
        iteration: int,
        frontier: DataFrame,
        frontier_size: int,
        min_depth: int,
        pages_fetched: int,
        cleanup: list,
    ) -> tuple:
        """One superstep: select, fetch, expand, dedup and commit.

        Returns the committed metrics and the next frontier's size and
        minimum depth. Every frame it caches is appended to ``cleanup``,
        which the caller releases in ``finally``. A frontier whose minimum
        depth is at the depth limit has no page to expand, so its superstep
        builds no expand or dedup plan: the next frontier is the carryover.
        """
        cfg = self.config
        spark = self.spark
        t0 = time.monotonic()
        compiles0 = codegen_compiles(spark)
        expands = cfg.depth_limit is None or min_depth < cfg.depth_limit

        selected, carryover = politeness_ops.select_batch(
            frontier, self.politeness, cfg.default_budget
        )
        # deterministic truncation at the page limit (canonical rule for
        # the reference's racy max_pages stop, apollo.py:538-547). The
        # within-iteration rank is DERIVED data — (iteration, depth, url)
        # totally orders the crawl — so the hot loop only materializes it
        # when the truncation can actually bind (remaining < batch bound);
        # readers get ranks from crawl_log_df, recomputed distributed.
        if cfg.max_pages is not None:
            remaining = cfg.max_pages - pages_fetched
            if remaining < frontier_size:
                ranked_all = politeness_ops.rank_within_iteration(
                    selected, cfg.n_partitions, cleanup=cleanup
                )
                overflow = ranked_all.filter(
                    F.col("rank") > remaining
                ).drop("rank")
                ranked = ranked_all.filter(
                    F.col("rank") <= remaining
                ).drop("rank")
                carryover = carryover.unionByName(
                    overflow.select(*_FRONTIER_SCHEMA)
                )
            else:
                ranked = selected
        else:
            ranked = selected
        ranked = ranked.select(*_FRONTIER_SCHEMA).persist()
        cleanup.append(ranked)
        carryover = carryover.select(*_FRONTIER_SCHEMA)

        # batch stats ride the commit writes as observed metrics — no
        # dedicated .collect()/.count() jobs in the superstep
        # fetch join: small supersteps probe the raw pages scan with a
        # broadcast semi-join (scan-only, zero corpus shuffle) and join
        # the pruned hits; big supersteps use the cached url-partitioned
        # layout. The gate uses the tightest driver-known bound on the
        # BATCH size (zero jobs): frontier_size always bounds it, and
        # when the page limit binds the truncation above caps the batch
        # at `remaining` — the deep-crawl tail regime (small page budget
        # against a large residual frontier) takes the fast path.
        batch_bound = frontier_size
        if cfg.max_pages is not None:
            batch_bound = min(
                batch_bound, max(cfg.max_pages - pages_fetched, 0)
            )
        if batch_bound <= cfg.small_batch_threshold:
            fetch_src = self.pages_raw.join(
                F.broadcast(ranked.select("url")), "url", "left_semi"
            )
        else:
            fetch_src = self.pages
        obs_batch = Observation()
        fetched = (
            ranked.join(fetch_src, "url", "left")
            .withColumn(
                "status",
                F.when(F.col("warc_ts").isNull(), F.lit("error"))
                .when(F.col("html").isNull(), F.lit("non_html"))
                .otherwise(F.lit("fetched")),
            )
            .withColumn("is_document", urlkit.is_document_url(F.col("url")))
            .observe(
                obs_batch,
                F.count(F.lit(1)).alias("n_selected"),
                F.sum(
                    F.when(F.col("status") != "error", 1).otherwise(0)
                ).alias("n_ok"),
            )
        )

        next_frontier = carryover
        obs_links = None
        if expands:
            # the fetch result feeds both the expansion and the crawl log
            fetched = fetched.persist()
            cleanup.append(fetched)
            obs_links = Observation()
            links = self._candidate_links(fetched).observe(
                obs_links, F.count(F.lit(1)).alias("links_found")
            )
            exclude = carryover.select("url").unionByName(ranked.select("url"))
            # plain union, no merge aggregate: the two sides are provably
            # disjoint and internally unique — carryover ⊂ frontier (unique
            # by url; the page-limit overflow moved into carryover BEFORE
            # exclude was built), and the dedup output was grouped by url
            # then anti-joined against exclude = carryover ∪ ranked. A
            # groupBy(url).min(depth) here was a full shuffle of the next
            # frontier that could never change a row.
            next_frontier = carryover.unionByName(self._dedup(links, exclude))

        obs_next = Observation()
        next_frontier = (
            self._repartition_state(next_frontier)
            .observe(
                obs_next,
                F.count(F.lit(1)).alias("next_size"),
                F.min("depth").alias("next_min_depth"),
            )
            .persist()
        )
        cleanup.append(next_frontier)

        crawl_log = fetched.select(
            "url",
            "host",
            "depth",
            F.lit(iteration).alias("iteration"),
            "status",
            "is_document",
        )
        lineage = next_frontier.groupBy(
            F.spark_partition_id().alias("partition_id")
        ).agg(F.count("*").alias("rows")).withColumn(
            "iteration", F.lit(iteration)
        )

        # seen-store blobs/url files are updated BEFORE the manifest
        # commit so the store is always a superset of the committed seen
        # set (crash-safe: supersets only cause extra exclusions of urls
        # the crawl already scheduled, never lost urls)
        t_upd = time.monotonic()
        self.seen_store.update(ranked.select("url", "host"))
        store_update_s = round(time.monotonic() - t_upd, 4)

        def _metrics() -> dict:
            # evaluated by the store AFTER the table writes — the writes
            # are the actions that populate the observations
            batch = obs_batch.get
            return {
                "scheduled": int(batch["n_selected"] or 0),
                "pages_fetched": int(batch["n_ok"] or 0),
                "links_found": (
                    int(obs_links.get["links_found"] or 0) if obs_links else 0
                ),
                "frontier_size": frontier_size,
                "wall_s": round(time.monotonic() - t0, 4),
                # fixed-cost breakdown (VERDICT r3 task #2): the store
                # update's wall; commit adds per-table write_walls_s
                "store_update_s": store_update_s,
                # zero once every plan of the superstep is in Spark's
                # generated-class cache (session.codegen_compiles)
                "codegen_compiles": codegen_compiles(spark) - compiles0,
            }

        m = self.store.commit(
            iteration,
            {
                "frontier": next_frontier,
                "seen_delta": ranked.select("url"),
                "crawl_log": crawl_log,
                "lineage": lineage,
            },
            metrics=_metrics,
        )
        nxt = obs_next.get
        return m, int(nxt["next_size"] or 0), nxt["next_min_depth"]


def crawl_log_df(
    spark: SparkSession, store: SnapshotStore, cleanup: list | None = None
) -> DataFrame | None:
    """The accumulated canonical crawl log: (url, iteration, rank, ...).

    ``rank`` (the canonical within-iteration fetch order) is derived on read
    rather than stored: (iteration, depth, url) totally orders the crawl, so
    the superstep never pays a global ranking pass. Derivation is
    distributed — one global row_number over (iteration, depth, url) (no
    single-partition exchange) minus broadcast per-iteration offsets.
    """
    log = store.read_accumulated(spark, "crawl_log")
    if log is None:
        return None
    from .ranking import global_row_number

    ranked = global_row_number(
        log, ["iteration", "depth", "url"], rank_col="_grn", cleanup=cleanup
    )
    offsets = (
        ranked.groupBy("iteration")
        .agg(F.min("_grn").alias("_base"))
    )
    return (
        ranked.join(F.broadcast(offsets), "iteration")
        .withColumn("rank", (F.col("_grn") - F.col("_base") + 1).cast("int"))
        .drop("_grn", "_base")
    )
