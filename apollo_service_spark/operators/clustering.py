"""Host/path-prefix URL clustering — grouped-map greedy merge.

The reference's clustering (`url_clusterer.py:159-205`) is an order-dependent
greedy merge: paths sorted by length; each unprocessed path absorbs every
other path that is a '/'-prefix of it (either direction) or has leading-
component similarity ≥ threshold; the cluster pattern is the common prefix;
clusters below ``min_cluster_size`` are dropped, leftovers kept if large
enough. Sequential *within* a domain, embarrassingly parallel *across*
domains — exactly the shape of ``groupBy("domain").applyInPandas`` (one
pandas group per domain, domains distributed over executors).

Determinism pinning (SURVEY.md §7): the reference sorts by ``len`` only, ties
falling to thread-dependent dict insertion order; we pin ties
lexicographically — ``(len(path), path)`` — and give domains lexicographic
ids (the reference's domain ids follow thread completion order). The oracle
tests encode the same pinned order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType,
)

from ..functions import urlkit
from .ranking import global_row_number

MERGED_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("pattern_order", LongType()),
        StructField("path_pattern", StringType()),
        StructField("urls", ArrayType(StringType())),
        StructField("url_count", LongType()),
    ]
)


def _common_prefix(path1: str, path2: str) -> str:
    parts1 = path1.split("/")
    parts2 = path2.split("/")
    common = []
    for a, b in zip(parts1, parts2):
        if a == b:
            common.append(a)
        else:
            break
    return "/".join(common)


def greedy_merge_paths(
    paths_to_urls: dict,
    min_cluster_size: int = 2,
    similarity_threshold: float = 0.5,
) -> list:
    """Greedy merge over {truncated_path: [urls]}; returns ordered
    [(pattern, urls)] with pinned deterministic tie-breaks.

    The algorithm is inherently O(P²) pairwise within a domain (reference
    semantics, url_clusterer.py:159-205); the constant factor matters at P in
    the thousands, so part-lists, part-sets and their sizes are precomputed
    once per path instead of per pair (~10× on the similarity test, same
    results exactly).
    """
    sorted_paths = sorted(paths_to_urls.keys(), key=lambda p: (len(p), p))
    parts = {p: p.split("/") for p in sorted_paths}
    part_sets = {p: set(parts[p]) for p in sorted_paths}
    set_sizes = {p: len(part_sets[p]) for p in sorted_paths}

    def similar(p1: str, p2: str) -> bool:
        l1, l2 = parts[p1], parts[p2]
        common = 0
        for a, b in zip(l1, l2):
            if a != b:
                break
            common += 1
        total_unique = (
            set_sizes[p1] + set_sizes[p2] - len(part_sets[p1] & part_sets[p2])
        )
        if total_unique == 0:
            return True
        return common / total_unique >= similarity_threshold

    merged: dict = {}
    processed: set = set()
    for path in sorted_paths:
        if path in processed:
            continue
        merged_cluster = list(paths_to_urls[path])
        pattern = path
        path_slash = path + "/"
        for other in sorted_paths:
            if other == path or other in processed:
                continue
            if (
                path.startswith(other + "/")
                or other.startswith(path_slash)
                or similar(path, other)
            ):
                merged_cluster.extend(paths_to_urls[other])
                processed.add(other)
                pattern = _common_prefix(pattern, other)
        if len(merged_cluster) >= min_cluster_size:
            pattern_name = pattern if pattern else "/"
            if pattern == "/":
                pattern_name = "/[ROOT]"
            merged[pattern_name] = merged_cluster
            processed.add(path)

    for path in sorted_paths:
        if path not in processed and len(paths_to_urls[path]) >= min_cluster_size:
            merged[path] = list(paths_to_urls[path])

    return list(merged.items())


def cluster_urls(
    urls: DataFrame,
    path_depth: int = 2,
    min_cluster_size: int = 2,
    similarity_threshold: float = 0.5,
    cleanup: list | None = None,
) -> DataFrame:
    """urls: DataFrame with a string `url` column → clusters DataFrame
    (domain, domain_id, cluster_id, path_pattern, url_count, urls).

    ``cleanup``: optional list receiving the domain-id ranker's persisted
    intermediate (see ``ranking.global_row_number``); long-lived callers
    unpersist the appended frame(s) AFTER materializing the result."""

    comps = urls.select(
        F.col("url"),
        urlkit.url_host(F.col("url")).alias("domain"),
        urlkit.path_prefix(urlkit.url_path(F.col("url")), path_depth).alias("path"),
    )

    def merge_domain(pdf: pd.DataFrame) -> pd.DataFrame:
        domain = pdf["domain"].iloc[0]
        paths_to_urls: dict = {}
        # deterministic intake order regardless of partition layout
        ordered = pdf.sort_values(["path", "url"])
        for path, url in zip(ordered["path"].to_numpy(), ordered["url"].to_numpy()):
            paths_to_urls.setdefault(path, []).append(url)
        clusters = greedy_merge_paths(
            paths_to_urls, min_cluster_size, similarity_threshold
        )
        # urls must be an object Series of Python lists — equal-length lists
        # would otherwise coerce to a 2-D numpy block Arrow can't convert
        return pd.DataFrame(
            {
                "domain": pd.Series([domain] * len(clusters), dtype=object),
                "pattern_order": pd.Series(
                    range(1, len(clusters) + 1), dtype="int64"
                ),
                "path_pattern": pd.Series([p for p, _ in clusters], dtype=object),
                "urls": pd.Series([sorted(us) for _, us in clusters], dtype=object),
                "url_count": pd.Series(
                    [len(us) for _, us in clusters], dtype="int64"
                ),
            },
            columns=[f.name for f in MERGED_SCHEMA.fields],
        )

    merged = comps.groupBy("domain").applyInPandas(merge_domain, MERGED_SCHEMA)

    # lexicographic domain ids (pinned; reference ids are insertion-order,
    # url_clusterer.py:239-266), sub-ids in greedy-emission order. Ids come
    # from the distributed ranker — dense_rank over Window.orderBy would be a
    # single-partition sort over ALL distinct domains (millions on a real web
    # corpus); on the distinct set row_number == dense_rank.
    #
    # No broadcast hint on the id join: a real web corpus has millions of
    # domains (many-MB dim), and `merged` leaves its groupBy already
    # hash-partitioned on domain, so the shuffle join re-uses that layout.
    # When the dim is genuinely runtime-small, AQE converts to broadcast on
    # actual stats — the right call at every scale, made with data.
    domain_ids = global_row_number(
        merged.select("domain").distinct(), ["domain"], rank_col="_did",
        cleanup=cleanup,
    ).withColumn("domain_id", F.col("_did").cast("string")).drop("_did")
    return (
        merged.join(domain_ids, "domain")
        .withColumn(
            "cluster_id",
            F.concat_ws(".", F.col("domain_id"), F.col("pattern_order").cast("string")),
        )
        .select(
            "domain", "domain_id", "cluster_id", "path_pattern", "url_count", "urls"
        )
    )


def cluster_summary(clusters: DataFrame) -> DataFrame:
    """Totals: domains, clusters, urls (url_clusterer.py:268-281)."""
    return clusters.agg(
        F.countDistinct("domain").alias("total_domains"),
        F.count("*").alias("total_clusters"),
        F.sum("url_count").alias("total_urls"),
    )


def year_clusters(urls: DataFrame) -> DataFrame:
    """Group urls by extracted year (year_extractor.py:108-131), urls sorted,
    'No Year' ordered last (orchestrator.py:880-884)."""
    return (
        urls.select(
            F.col("url"), urlkit.extract_year(F.col("url")).alias("year")
        )
        .groupBy("year")
        .agg(
            F.sort_array(F.collect_list("url")).alias("urls"),
            F.count("*").alias("url_count"),
        )
        .orderBy(F.col("year") == "No Year", F.desc("year"))
    )
