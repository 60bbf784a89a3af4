#!/usr/bin/env python
r"""spark-submit entrypoint for the frontier crawl.

Cluster usage (north-rule deployment shape)::

    zip -r apollo.zip apollo_service_spark
    spark-submit --master <cluster> --py-files apollo.zip submit_crawl.py \
        --pages s3://bucket/pages_table \      # or --warc-dir s3://bucket/segments/ \
        --seeds s3://bucket/seeds_table \
        --store /shared/crawl_state \
        [--robots ...] [--robots-bodies ...] [--sitemap-bodies ...] \
        [--politeness ...] [--delay-budget-seconds S] \
        [--resume] [--max-iterations N] [--depth-limit N] \
        [--n-partitions 4096] [--default-budget 100]

``--store`` is a shared POSIX path that every executor mounts: the seen
store reads and writes it with ``os`` (``operators/seen.py``).

The session comes from ``session.build_session`` on every path, as at every
other entry point. Under spark-submit it keeps the master spark-submit chose,
starts the Python workers under the engine's daemon from the shipped zip,
and sets the engine's defaults. A ``--conf`` flag is only an override: it
wins over the default of the same key, e.g. ``--conf
spark.sql.shuffle.partitions=N`` on a cluster master, where the default is 32.

Local smoke::

    python submit_crawl.py --demo /tmp/apollo_demo

The job is idempotent per iteration: every superstep commits an atomic
snapshot, so re-running with ``--resume`` continues mid-frontier after any
interruption.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--pages")
    parser.add_argument("--warc-dir",
                        help="crawl directly over Common-Crawl WARC segment "
                        "files instead of a parquet pages table (one parse "
                        "task per segment; sources/warc.py)")
    parser.add_argument("--seeds")
    parser.add_argument("--robots",
                        help="pre-parsed rules table (host, disallow_prefix)")
    parser.add_argument("--robots-bodies",
                        help="raw robots.txt table (host, body); parsed in-engine")
    parser.add_argument("--sitemap-bodies",
                        help="sitemap XML table (host, body); locs join the seeds")
    parser.add_argument("--politeness")
    parser.add_argument("--delay-budget-seconds", type=float, default=None,
                        help="derive per-host budgets from robots Crawl-delay "
                        "when no explicit politeness table is given")
    parser.add_argument("--store")
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--max-iterations", type=int, default=1000)
    parser.add_argument("--depth-limit", type=int, default=None)
    parser.add_argument("--max-pages", type=int, default=None)
    parser.add_argument("--max-links", type=int, default=None)
    parser.add_argument("--default-budget", type=int, default=100)
    parser.add_argument("--n-partitions", type=int, default=None)
    parser.add_argument("--base-host", default=None)
    parser.add_argument("--demo", metavar="DIR", default=None,
                        help="generate a synthetic corpus under DIR and crawl it")
    args = parser.parse_args()

    from apollo_service_spark.operators.frontier import CrawlConfig, FrontierEngine
    from apollo_service_spark.session import build_session
    from apollo_service_spark.sources.storage import SnapshotStore

    spark = build_session(app_name="apollo-frontier-crawl")
    spark.sparkContext.setLogLevel("WARN")

    if args.demo:
        from apollo_service_spark.sources.corpus import gen_corpus, write_corpus

        paths = write_corpus(
            spark, gen_corpus(n_hosts=5, n_pages=200, seed=42), args.demo
        )
        args.pages = paths["pages"]
        args.seeds = paths["seeds"]
        args.robots = paths["robots"]
        args.politeness = paths["politeness"]
        args.store = os.path.join(args.demo, "state")
        args.default_budget = 6

    if not ((args.pages or args.warc_dir) and args.store) or (
        not args.resume and not args.seeds
    ):
        parser.error(
            "--pages or --warc-dir, and --store required; "
            "--seeds required unless --resume"
        )
    if args.pages and args.warc_dir:
        parser.error("--pages and --warc-dir are mutually exclusive")

    n_partitions = args.n_partitions or max(
        32, spark.sparkContext.defaultParallelism * 2
    )
    config = CrawlConfig(
        base_host=args.base_host,
        depth_limit=args.depth_limit,
        max_pages=args.max_pages,
        max_links=args.max_links,
        default_budget=args.default_budget,
        n_partitions=n_partitions,
        max_iterations=args.max_iterations,
        delay_budget_seconds=args.delay_budget_seconds,
    )
    if args.warc_dir:
        from apollo_service_spark.sources.warc import pages_from_warc, read_warc

        pages = pages_from_warc(read_warc(spark, args.warc_dir))
    else:
        pages = spark.read.parquet(args.pages)
    engine = FrontierEngine(
        spark,
        pages,
        SnapshotStore(args.store),
        config,
        robots=spark.read.parquet(args.robots) if args.robots else None,
        robots_bodies=(
            spark.read.parquet(args.robots_bodies) if args.robots_bodies else None
        ),
        politeness=spark.read.parquet(args.politeness) if args.politeness else None,
        sitemap_bodies=(
            spark.read.parquet(args.sitemap_bodies) if args.sitemap_bodies else None
        ),
    )
    seeds = spark.read.parquet(args.seeds) if args.seeds else None
    state = engine.run(seeds=seeds, resume=args.resume)
    print(
        json.dumps(
            {
                "iterations": state.iterations,
                "pages_fetched": state.pages_fetched,
                "links_processed": state.links_processed,
                "stopped_reason": state.stopped_reason,
                "store": args.store,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
