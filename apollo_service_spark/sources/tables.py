"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Scan-parallelism note (r6, guide §2.5 "input skew" / §6 "input split size"):
the driver's tables are single parquet files with ONE row group per ~1M rows
(documents: one row group at every sf measured).  Parquet row groups are the
unit of split assignment, so a one-row-group file is an *unsplittable* input:
every "zero-shuffle, one-scan" query — the PII regex scrub, the Gopher
flags, the url categorizer, every per-doc Catalyst fold — was executing its
entire compute-dense projection in ONE task on a 32-core machine (measured:
pii_redact 6.3 s single-task at sf1, stage progress "(1+1)/2").

``load_table`` therefore rebalances small unsplittable reads across the
cluster's cores with one round-robin exchange of the raw table bytes — the
guide's prescribed fix ("one huge unsplittable file … repartition
immediately after the read").  The rule is scale-adaptive, not tuned to
local[32]:

* tables whose natural split count already covers the cores are returned
  untouched — at 100 TB nothing is ever rebalanced.  The natural count is
  the byte splits (bytes / maxPartitionBytes + 1) or, when larger, the
  file count — Spark charges every file an open cost when it packs
  splits, so fewer small files than cores plan one scan partition each —
  capped by the row-group count, since a split holding no row group reads
  nothing;
* tables above ``_REBALANCE_MAX_BYTES`` (64 MB) are returned untouched —
  their row groups give adequate parallelism and a full-table shuffle would
  cost more than the tail it saves;
* tiny dimension tables (< 16 KB: region, nation) are returned untouched —
  a 32-way exchange of a 2 KB table is pure scheduling overhead.

The exchange moves at most ``_REBALANCE_MAX_BYTES`` of compressed input once,
and buys cores-way parallelism for every downstream projection.  Plan-guard
tests account for exactly this one RoundRobinPartitioning exchange and still
forbid any other shuffle in the pure-projection pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Rebalance policy bounds (see module docstring).
_REBALANCE_MAX_BYTES = 64 * 1024 * 1024
_REBALANCE_MIN_BYTES = 16 * 1024

# per-path (file listing, (bytes, n_files, n_row_groups)): a table rewritten
# at the same path lists other names, sizes or mtimes, so its footers are
# read again and its entry replaced
_PATH_META: dict = {}


def _path_meta(path: str) -> tuple:
    """(total_bytes, n_files, n_row_groups) for a parquet file or directory
    of them."""
    path = os.path.abspath(path)
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(
            os.path.join(dirpath, f)
            for dirpath, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
    listing = []
    for f in files:
        st = os.stat(f)
        listing.append((f, st.st_size, st.st_mtime_ns))
    cached = _PATH_META.get(path)
    if cached is not None and cached[0] == listing:
        return cached[1]
    total = sum(size for _, size, _ in listing)
    n_rg = 0
    try:
        import pyarrow.parquet as pq

        for f in files:
            n_rg += pq.ParquetFile(f).metadata.num_row_groups
    except Exception:
        n_rg = len(files)
    meta = (total, len(files), max(1, n_rg))
    _PATH_META[path] = (listing, meta)
    return meta


def maybe_rebalance_scan(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Round-robin rebalance an unsplittable small scan across the cores
    (module docstring has the full policy).  No-op for big inputs, for
    inputs whose natural splits already fill the cluster, and for tiny
    dimension tables."""
    try:
        n_bytes, n_files, n_row_groups = _path_meta(path)
    except OSError:
        return df
    cores = spark.sparkContext.defaultParallelism
    if n_bytes < _REBALANCE_MIN_BYTES or n_bytes > _REBALANCE_MAX_BYTES:
        return df
    max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    # natural scan parallelism: byte splits, at least one per file, capped
    # by row-group granularity
    natural = min(max(n_bytes // max_pb + 1, n_files), n_row_groups)
    if natural >= cores:
        return df
    return df.repartition(cores)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False
) -> DataFrame:
    """Read one driver table.  ``rebalance=True`` opts the read into the
    unsplittable-small-scan rebalance (module docstring): callers whose
    per-row compute dominates the scan (regex tiers, Catalyst folds, gram
    explodes, Arrow kernels) ask for it; pure filter/projection or
    aggregation-only consumers keep the plain scan — for those the extra
    exchange's fixed cost (one AQE stage + a single-task shuffle write)
    measured LARGER than the parallelism it buys (A/B at sf1-shape:
    pii_redact 6.25→0.72 s with, frontier_dedup 0.32→0.82 s with — hence
    per-call-site opt-in, not a blanket default)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    return maybe_rebalance_scan(spark, df, path) if rebalance else df

