"""The benchmark workloads: ``crawl`` and ``curate``.

Each workload object is driven the same way by ``run.py``:

1. ``generate(seed)`` — write the seeded inputs (timed several times; the
   median is part of ``setup_s``, and the repeats must produce identical
   bytes);
2. ``warm_up()`` — untimed work on the same input, part of ``setup_s``;
3. ``reference()`` — compute the references the output checks use
   (simulator, Python extractor, DuckDB) while Spark is idle; ``run.py``
   hands the result to ``set_reference``. Outside every timed region;
4. ``measure(seconds)`` — run units of work until ``seconds`` seconds have
   passed, then check every output; returns a :class:`Measured`;
5. ``trace(unit_wall)`` — traced run only: replay the layers of the last
   unit on persisted inputs; returns the per-layer metrics and a
   :class:`Measured` holding the checks the replay made.

Units of work: one crawl to frontier exhaustion (``crawl``); one extract +
prepare cycle (``curate``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import checks, gen
from .procs import tree_cpu_s

# --------------------------------------------------------------------------
# sizes (both workloads fit the run budget of a 4-core host; see README.md)
# --------------------------------------------------------------------------

CRAWL_SHAPE = dict(
    n_pages=2000, n_hosts=40, real_links=12, dead_links=8,
    default_budget=2000, mega_budget=16000, seed_share=0.3,
)
# pages at this depth are fetched but not expanded, so a crawl is two
# supersteps: the seeds (about 600 urls), then every link they hold
# (about 5,600 urls). A superstep costs seconds even when it is small,
# and a run has room for about three warm ones.
CRAWL_DEPTH_LIMIT = 1
CRAWL_EXPECTED_URLS = 6_000
CURATE_PAGES = 2000
CURATE_SOURCES = 40
CURATE_FILES = 8
# corpus_prepare keeps getting faster over its first cycles in a new JVM;
# one more untimed cycle would not fit the run budget
CURATE_WARM_CYCLES = 1
EXTRACT_REPEATS = 4  # an extract is short: four samples per cycle
QUERY_SF = 0.01
# seven of bench.py's 31 HEADLINE keys, run in the curate trace (README.md)
QUERY_KEYS = [
    "robots_gate",                        # a crawl-domain key over synthesized urls
    "pricing_summary", "region_revenue",  # relational
    "dedup_exact", "ann_cosine_topk", "cluster_greedy",  # dedup, similarity, clustering
    "corpus_prepare",  # the curation composition on saturated-vocabulary text
]


def noop(df) -> float:
    """Wall seconds to run ``df`` through the noop sink."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def self_time(df, input_df) -> float:
    """A layer's forced wall minus the forced wall of its persisted input."""
    return max(noop(df) - noop(input_df), 0.0)


def persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def file_digest(paths) -> str:
    h = hashlib.sha256()
    for path in sorted(paths):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_units(seconds: float, unit) -> None:
    """Call ``unit(n)`` for n = 0, 1, ... until ``seconds`` have passed.
    At least one call runs, and none is cut short."""
    start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - start < seconds:
        unit(n)
        n += 1


@dataclass
class Measured:
    """What one ``measure`` (or ``trace``) call observed."""

    work_per_cpu_s: list = field(default_factory=list)  # work done per CPU second
    step_cpu_s: list = field(default_factory=list)      # CPU seconds per step
    step_s: list = field(default_factory=list)          # wall seconds per step
    unit_wall_s: list = field(default_factory=list)     # wall seconds per unit
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    named: dict = field(default_factory=dict)        # wall figures, printed only


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, cores: int):
        self.spark = spark
        self.work = work_dir
        self.cores = cores
        os.makedirs(work_dir, exist_ok=True)

    def _fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


# --------------------------------------------------------------------------
# crawl
# --------------------------------------------------------------------------


class Crawl(Workload):
    """A fresh crawl to frontier exhaustion over a seeded link graph."""

    name = "crawl"

    def config(self, max_iterations: int = 1000):
        from apollo_service_spark.operators.frontier import CrawlConfig

        return CrawlConfig(
            max_iterations=max_iterations,
            default_budget=CRAWL_SHAPE["default_budget"],
            depth_limit=CRAWL_DEPTH_LIMIT,
            n_partitions=self.cores,
            # bloom sized to the crawl's seen urls, so the filter runs at its
            # design false-positive rate instead of near zero
            expected_urls=CRAWL_EXPECTED_URLS,
            # the seed superstep takes the small-batch fetch path, the
            # second the cached url-partitioned layout
            small_batch_threshold=1000,
        )

    def generate(self, seed: int) -> str:
        self.corpus = gen.crawl_corpus(seed, **CRAWL_SHAPE)
        self.paths = gen.write_crawl_corpus(self.corpus, os.path.join(self.work, "input"))
        return file_digest(self.paths.values())

    def reference(self) -> tuple:
        return crawl_reference(self.corpus)

    def set_reference(self, result) -> None:
        self.expected, self.seen_hash = result

    def _crawl(self, store_dir: str, max_iterations: int = 1000):
        from apollo_service_spark.operators.frontier import FrontierEngine
        from apollo_service_spark.sources.storage import SnapshotStore

        tables = self.tables
        store = SnapshotStore(self._fresh_dir(store_dir))
        engine = FrontierEngine(
            self.spark, tables["pages"], store, self.config(max_iterations),
            robots_bodies=tables["robots_bodies"], politeness=tables["politeness"],
        )
        t = time.perf_counter()
        engine.run(seeds=tables["seeds"])
        return store, time.perf_counter() - t

    def warm_up(self) -> None:
        # the seed superstep: it extracts the links, and its first run in a
        # JVM costs as much as a whole warm crawl
        self.tables = {name: self.spark.read.parquet(p) for name, p in self.paths.items()}
        self._crawl("warm_store", max_iterations=1)

    def measure(self, seconds: float) -> Measured:
        out = Measured()
        stores, walls = [], []

        def unit(n: int) -> None:
            cpu = tree_cpu_s()
            store, wall = self._crawl(f"store{n}")
            cpu = tree_cpu_s() - cpu
            metrics = store.iteration_metrics()
            scheduled = sum(m["scheduled"] for m in metrics)
            out.work_per_cpu_s.append(scheduled / cpu)
            out.step_cpu_s.append(cpu / len(metrics))
            walls.append(wall)
            out.unit_wall_s.append(wall)
            out.step_s += [m["wall_s"] for m in metrics]
            out.named["crawl_urls"] = (scheduled, "count")
            stores.append(store)

        run_units(seconds, unit)
        # checked after the measured window, so the checks do not decide
        # how many units fit in it
        for store in stores:
            metrics = store.iteration_metrics()
            seen = [r.url for r in store.read_accumulated(self.spark, "seen_delta").collect()]
            problems = checks.check_crawl(metrics, seen, self.expected, self.seen_hash)
            out.attempted += max(len(metrics), 1)
            out.failed += min(len(problems), max(len(metrics), 1))
            out.problems += problems
        self.last_store = stores[-1]
        urls_per_s = out.named["crawl_urls"][0] / statistics.median(walls)
        out.named["crawl_urls_per_s"] = (urls_per_s, "urls/s")
        out.named["crawl_superstep_p50_s"] = (statistics.median(out.step_s), "s")
        return out

    # -- traced replay -------------------------------------------------------

    def trace(self, unit_wall: float) -> tuple:
        store = self.last_store
        metrics = store.iteration_metrics()
        out = iteration_layer_metrics(metrics)
        # the seed superstep is the only one that extracts links (depth limit 1)
        seed_step = metrics[0]
        layers = self._replay(store)
        out.update(layers)
        seen_urls = os.path.join(store.root, "seen_urls")
        files = glob.glob(os.path.join(seen_urls, "pid=*", "*.parquet"))
        out["seen.delta_files"] = len(files)
        out["seen.store_bytes"] = sum(
            os.path.getsize(p)
            for p in files + glob.glob(os.path.join(store.root, "seen_bloom", "*.bin"))
        )
        # the engine fetches the seed superstep through the small-batch path
        covered = sum(
            layers[k] for k in (
                "politeness.select_s", "fetch.small_batch_join_s", "udfs.extract_links_s",
                "urlkit.canon_filter_s", "robots.allow_s", "seen.filter_new_s",
            )
        ) + seed_step.get("store_update_s", 0.0)
        out["trace.uncovered_frac"] = 1.0 - covered / seed_step["wall_s"]
        return out, Measured()

    def _replay(self, store) -> dict:
        """Force each layer of the seed superstep on persisted inputs: the
        seeds canonicalized as the engine's initial frontier, and a fresh
        seen store loaded with the superstep's committed seen delta (the
        engine updates the store before its dedup runs)."""
        from apollo_service_spark.functions import urlkit
        from apollo_service_spark.functions.udfs import extract_links_udf
        from apollo_service_spark.operators import politeness as politeness_ops
        from apollo_service_spark.operators import robots as robots_ops
        from apollo_service_spark.operators.seen import PartitionedBloomSeenStore

        spark, cfg, m = self.spark, self.config(), {}
        pages, politeness = self.tables["pages"], self.tables["politeness"]
        cached = []

        def keep(df):
            df = persist(df)
            cached.append(df)
            return df

        frontier = keep(
            self.tables["seeds"].select(urlkit.canonicalize(F.col("url")).alias("url"))
            .withColumn("host", urlkit.url_host(F.col("url")))
            .withColumn("depth", F.lit(0))
            .dropDuplicates(["url"])
        )
        selected, carry = politeness_ops.select_batch(frontier, politeness, cfg.default_budget)
        m["politeness.select_s"] = self_time(selected, frontier)
        ranked = keep(selected.select("url", "host", "depth"))
        rank_cache: list = []
        m["ranking.rank_s"] = self_time(
            politeness_ops.rank_within_iteration(ranked, cfg.n_partitions, cleanup=rank_cache),
            ranked,
        )
        for df in rank_cache:
            df.unpersist()

        small_batch = pages.join(F.broadcast(ranked.select("url")), "url", "left_semi")
        m["fetch.small_batch_join_s"] = self_time(ranked.join(small_batch, "url", "left"), ranked)
        layout = keep(pages.repartition(cfg.n_partitions, "url"))
        fetched_df = ranked.join(layout, "url", "left")
        m["fetch.join_s"] = self_time(fetched_df, ranked)
        fetched = keep(fetched_df)
        expandable = fetched.filter(F.col("html").isNotNull())

        raw_df = expandable.select(
            F.col("depth"),
            F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("raw_link"),
        )
        m["udfs.extract_links_s"] = self_time(raw_df, fetched)
        raw = keep(raw_df)
        n_raw, n_pages = raw.count(), expandable.count()
        m["udfs.links_per_page"] = n_raw / max(n_pages, 1)

        canon_df = (
            raw.select(
                urlkit.canonicalize(F.col("raw_link")).alias("url"),
                (F.col("depth") + 1).alias("depth"),
            )
            .withColumn("host", urlkit.url_host(F.col("url")))
            .filter(~urlkit.is_ignored_fused(F.col("url"), cfg.extra_ignore_patterns))
        )
        m["urlkit.canon_filter_s"] = self_time(canon_df, raw)
        canon = keep(canon_df.withColumn("path", urlkit.url_path(F.col("url"))))
        n_canon = canon.count()
        m["urlkit.keep_frac"] = n_canon / max(n_raw, 1)

        rules = keep(
            robots_ops.aggregate_rules(robots_ops.parse_robots(self.tables["robots_bodies"]))
        )
        allowed_df = robots_ops.robots_allow(canon, rules).drop("path")
        m["robots.allow_s"] = self_time(allowed_df, canon)
        allowed = keep(allowed_df)
        m["robots.keep_frac"] = allowed.count() / max(n_canon, 1)

        exclude = carry.select("url").unionByName(ranked.select("url"))
        candidates = keep(
            allowed.groupBy("url").agg(F.min("depth").alias("depth"))
            .withColumn("host", urlkit.url_host(F.col("url")))
            .join(exclude, "url", "left_anti")
        )
        seen_store = PartitionedBloomSeenStore(
            self._fresh_dir("replay_seen"), n_partitions=cfg.n_partitions,
            expected_urls=cfg.expected_urls, fpp=cfg.bloom_fpp, salt=cfg.salt,
        )
        seen_store.update(
            store.read(spark, "seen_delta", 0).withColumn("host", urlkit.url_host(F.col("url")))
        )
        m["seen.filter_new_s"] = self_time(seen_store.filter_new(candidates), candidates)
        new = keep(seen_store.filter_new(candidates))
        _definitely_new, maybe = seen_store.split_candidates(candidates)
        maybe = keep(maybe)
        n_maybe, n_cand = maybe.count(), candidates.count()
        m["seen.bloom_maybe_frac"] = n_maybe / max(n_cand, 1)
        false_pos = maybe.join(new.select("url"), "url", "left_semi").count()
        m["seen.bloom_fp_frac"] = false_pos / n_maybe if n_maybe else 0.0
        for df in cached:
            df.unpersist()
        return m


def iteration_layer_metrics(metrics: list) -> dict:
    """Per-layer metrics read from ``SnapshotStore.iteration_metrics()``."""

    def p50(key, sub=None):
        vals = [
            (m.get(key, {}) or {}).get(sub, 0.0) if sub else m.get(key, 0.0)
            for m in metrics
        ]
        return statistics.median(vals) if vals else 0.0

    scheduled = sum(m["scheduled"] for m in metrics)
    # frontier rows written at iteration k = frontier size entering k+1;
    # the last superstep writes an empty frontier (crawl exhausted)
    frontier_rows = sum(m["frontier_size"] for m in metrics[1:])
    return {
        "frontier.supersteps": len(metrics),
        "frontier.scheduled": scheduled,
        "frontier.pages_fetched": sum(m["pages_fetched"] for m in metrics),
        "frontier.links_found": sum(m["links_found"] for m in metrics),
        "frontier.superstep_p50_s": p50("wall_s"),
        "seen.update_s": p50("store_update_s"),
        "storage.write_frontier_s": p50("write_walls_s", "frontier"),
        "storage.write_seen_delta_s": p50("write_walls_s", "seen_delta"),
        "storage.write_crawl_log_s": p50("write_walls_s", "crawl_log"),
        "storage.write_lineage_s": p50("write_walls_s", "lineage"),
        "fetch.hit_frac": sum(m["pages_fetched"] for m in metrics) / max(scheduled, 1),
        "storage.frontier_rows_per_scheduled": frontier_rows / max(scheduled, 1),
    }


# --------------------------------------------------------------------------
# curate
# --------------------------------------------------------------------------


def _duck(tables: dict):
    """A DuckDB connection with one view per ``{name: parquet path}``."""
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


class Curate(Workload):
    """HTML→text extraction into a documents table, then corpus_prepare."""

    name = "curate"

    def generate(self, seed: int) -> str:
        self.seed = seed
        self.pages = gen.curate_pages(seed, CURATE_PAGES, CURATE_SOURCES)
        self.pages_path = self._fresh_dir("pages")
        return file_digest(gen.write_curate_pages(self.pages, self.pages_path, CURATE_FILES))

    def reference(self) -> tuple:
        docs_path = os.path.join(self.work, "oracle", "documents.parquet")
        return curate_reference(self.pages["html"], self.pages["source"], docs_path)

    def set_reference(self, result) -> None:
        self.texts, funnel, self.prepared_digest = result
        print(f"curate: rows each corpus_prepare stage keeps (DuckDB oracle): {funnel}")

    def _extract(self, out_dir: str) -> float:
        from apollo_service_spark.functions.udfs import extract_text_udf

        text = extract_text_udf(F.col("html"))
        docs = self.spark.read.parquet(self.pages_path).select(
            "doc_id", text.alias("text"), "source",
            F.length(text).cast("long").alias("n_chars"),
        )
        t = time.perf_counter()
        docs.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
        return time.perf_counter() - t

    def _prepare(self, docs_dir: str) -> float:
        import __spark_entry__ as entry

        t = time.perf_counter()
        df = entry.queries()["corpus_prepare"](self.spark, docs_dir)
        df.write.mode("overwrite").parquet(os.path.join(docs_dir, "prepared.parquet"))
        return time.perf_counter() - t

    def warm_up(self) -> None:
        for n in range(CURATE_WARM_CYCLES):
            out = self._fresh_dir(f"warm{n % 2}")
            self._extract(out)
            self._prepare(out)

    def measure(self, seconds: float) -> Measured:
        out = Measured()
        extract_s, cycles = [], []

        def unit(n: int) -> None:
            cycle = self._fresh_dir(f"cycle{n}")
            walls = []
            for _ in range(EXTRACT_REPEATS):
                cpu = tree_cpu_s()
                walls.append(self._extract(cycle))
                out.work_per_cpu_s.append(CURATE_PAGES / (tree_cpu_s() - cpu))
            extract_s.extend(walls)
            cpu = tree_cpu_s()
            pr = self._prepare(cycle)
            out.step_cpu_s.append(tree_cpu_s() - cpu)
            out.unit_wall_s.append(statistics.median(walls) + pr)
            out.step_s.append(pr)
            cycles.append(cycle)

        run_units(seconds, unit)
        for cycle in cycles:  # checked after the measured window
            problems = [p for p in self.check(cycle) if p]
            out.attempted += 2
            out.failed += len(problems)
            out.problems += problems
        self.last_cycle = cycles[-1]
        out.named = {
            "extract_pages_per_s": (CURATE_PAGES / statistics.median(extract_s), "pages/s"),
            "prepare_wall_s": (statistics.median(out.step_s), "s"),
        }
        return out

    def check(self, cycle: str) -> list:
        """[extract problem or "", prepare problem or ""] for one cycle."""
        rows = self.spark.read.parquet(os.path.join(cycle, "documents.parquet")).collect()
        got = {r.doc_id: r.text for r in rows}
        bad = checks.check_texts(got, self.texts)
        self.identical_frac = 1.0 - sum(1 for p in bad if p.startswith("doc ")) / len(self.texts)
        extract = f"extract: {len(bad)} mismatches, first: {bad[0]}" if bad else ""
        prepared = self.spark.read.parquet(os.path.join(cycle, "prepared.parquet"))
        digest = checks.row_digest(prepared.columns, prepared.collect())
        bad = checks.check_rows("corpus_prepare", digest, self.prepared_digest)
        return [extract, bad[0] if bad else ""]

    def trace(self, unit_wall: float) -> tuple:
        """Replay extract and each corpus_prepare stage on persisted input,
        composed the way ``q_corpus_prepare`` composes them; then time one
        warm pass over the query keys."""
        import __spark_entry__ as entry
        from apollo_service_spark.functions import textstats
        from apollo_service_spark.functions.udfs import extract_text_udf
        from apollo_service_spark.operators import curation
        from apollo_service_spark.sources.tables import load_table

        spark, cycle, m, cached = self.spark, self.last_cycle, {}, []

        def keep(df):
            df = persist(df)
            cached.append(df)
            return df

        pages = keep(spark.read.parquet(self.pages_path))
        m["extract.udf_s"] = self_time(
            pages.select("doc_id", extract_text_udf(F.col("html")).alias("text")), pages
        )
        m["extract.identical_frac"] = self.identical_frac
        docs_scan = load_table(spark, cycle, "documents", rebalance=True)
        m["tables.load_s"] = noop(docs_scan)
        docs = keep(docs_scan)
        clean_df = entry.queries()["corpus_clean"](spark, cycle)
        m["curation.clean_s"] = max(noop(clean_df) - m["tables.load_s"], 0.0)
        clean = keep(clean_df.select("doc_id", F.col("keep").alias("keep_clean")))
        flags_df = curation.span_decon_flags(
            docs, F.col("doc_id") % 50 == 0, gram_words=4, max_dup_frac=0.2
        ).withColumnRenamed("id", "doc_id")
        m["curation.span_decon_s"] = self_time(flags_df, docs)
        flags = keep(flags_df)
        survivors = keep(
            docs.join(clean, "doc_id").join(flags, "doc_id").filter(
                F.col("keep_clean") & F.col("keep_spans") & ~F.col("contaminated")
            )
        )
        quota_df = curation.domain_quota(
            survivors.select("doc_id", "source", "text"), key_col="source", quota=20
        )
        m["curation.quota_s"] = self_time(quota_df, survivors)
        narrow = keep(
            quota_df.select(
                "doc_id", "source",
                textstats.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            )
        )
        pack_cache: list = []
        m["curation.pack_s"] = self_time(
            curation.pack_sequences(narrow, seq_len=128, cleanup=pack_cache, tokens_col="n_tokens"),
            narrow,
        )
        m["curate.docs_in"] = docs.count()
        m["curate.kept_clean"] = clean.filter(F.col("keep_clean")).count()
        m["curate.kept_spans_decon"] = survivors.count()
        m["curate.kept_quota"] = narrow.count()
        m["curate.rows_out"] = spark.read.parquet(
            os.path.join(cycle, "prepared.parquet")
        ).count()
        for df in pack_cache + cached:
            df.unpersist()
        covered = sum(
            m[k] for k in (
                "extract.udf_s", "tables.load_s", "curation.clean_s",
                "curation.span_decon_s", "curation.quota_s", "curation.pack_s",
            )
        )
        m["trace.uncovered_frac"] = 1.0 - covered / unit_wall
        query_metrics, checked = query_layers(spark, self._fresh_dir("sf"), self.seed)
        m.update(query_metrics)
        return m, checked


# --------------------------------------------------------------------------
# query keys (the plans.queries layer, run inside the curate trace)
# --------------------------------------------------------------------------


def query_layers(spark, sf_dir: str, seed: int) -> tuple:
    """Registry keys over generated ``bench.py``-schema tables: a cold pass
    whose output is checked against the DuckDB oracle, then a timed warm
    pass. Returns the ``query.*`` metrics and a :class:`Measured` holding
    the checks."""
    import __spark_entry__ as entry

    registry = entry.queries()
    gen.write_query_tables(gen.query_tables(seed, QUERY_SF), sf_dir)
    reference = queries_reference(sf_dir)
    checked = Measured(attempted=2 * len(QUERY_KEYS))
    for key in QUERY_KEYS:
        try:
            df = registry[key](spark, sf_dir)
            got = checks.row_digest(df.columns, df.collect())
            bad = checks.check_rows(key, got, reference[key])
        except Exception as e:  # noqa: BLE001 - a failing key is a counted failure
            bad = [f"{key}: {type(e).__name__}: {e}"]
        checked.failed += len(bad)
        checked.problems += bad
    plan_s: list = []
    walls = {}
    t = time.perf_counter()
    for key in QUERY_KEYS:
        try:
            t_key = time.perf_counter()
            df = registry[key](spark, sf_dir)
            df._jdf.queryExecution().executedPlan()
            plan_s.append(time.perf_counter() - t_key)
            df.write.format("noop").mode("overwrite").save()
            walls[key] = time.perf_counter() - t_key
        except Exception as e:  # noqa: BLE001 - counted as a failed query
            checked.failed += 1
            checked.problems.append(f"{key}: {type(e).__name__}: {e}")
    loop = time.perf_counter() - t
    m = {f"query.{k}_s": v for k, v in walls.items()}
    m["queries.plan_s"] = sum(plan_s)
    print(
        f"queries: warm pass {sum(walls.values()):.2f} s over {len(walls)} keys; "
        f"{1.0 - sum(walls.values()) / loop:.3f} of the pass wall is outside the key walls"
    )
    return m, checked


# --------------------------------------------------------------------------
# references (Spark-free)
# --------------------------------------------------------------------------


def crawl_reference(corpus: dict) -> tuple:
    """Simulator per-iteration counts and seen-set hash for the corpus."""
    from apollo_service_spark.oracle.simulator import SimConfig, simulate

    sim = simulate(
        corpus["pages"], corpus["seeds"],
        SimConfig(default_budget=CRAWL_SHAPE["default_budget"], depth_limit=CRAWL_DEPTH_LIMIT),
        robots=corpus["robots"], politeness=corpus["politeness"],
    )
    expected = checks.sim_iterations(sim, corpus["pages"], corpus["robots"], CRAWL_DEPTH_LIMIT)
    return expected, checks.set_hash(sim.seen)


def curate_reference(html_rows: list, sources: list, docs_path: str) -> tuple:
    """Extractor output per page, the funnel guard and the DuckDB
    ``corpus_prepare`` digest over the extractor's documents."""
    texts = gen.extract_texts(html_rows)
    gen.write_documents(texts, sources, docs_path)
    funnel, columns, rows = gen.prepare_oracle(docs_path)
    return texts, funnel, checks.row_digest(columns, rows)


def queries_reference(sf_dir: str) -> dict:
    """DuckDB oracle digest per query key."""
    from apollo_service_spark.plans.queries import oracle_sql

    oracles = oracle_sql()
    con = _duck({
        os.path.basename(p)[: -len(".parquet")]: p
        for p in glob.glob(os.path.join(sf_dir, "*.parquet"))
    })
    try:
        out = {}
        for key in QUERY_KEYS:
            cur = con.execute(oracles[key])
            out[key] = checks.row_digest([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    return out


WORKLOADS = {w.name: w for w in (Crawl, Curate)}
