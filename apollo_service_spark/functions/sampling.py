"""Deterministic, partition-independent sampling and dataset splits.

``df.sample()`` is the wrong tool for a 100 TB training pipeline: its output
depends on the partitioning and the task scheduler, so the "same" sample
differs between runs, cluster sizes, and AQE decisions — train/test splits
must never do that.  The standard fix (used by every large-corpus pipeline)
is a content hash: bucket every row by a hash of a stable key and select
buckets.  The assignment is then a pure per-row column expression —
reproducible on 1 core or 1000 executors, stable under repartitioning,
joinable across tables (the same key always lands in the same split), and
free (no shuffle, no RNG state).

``md5`` is used (not ``xxhash64``) so the EXACT same arithmetic runs in the
DuckDB oracle: both engines md5 the UTF-8 key bytes, take the first 6 hex
chars (24 bits) and reduce modulo ``n_buckets``.  The modulo bias at 24 bits
is < 10⁻⁵ for percent-scale buckets and — more importantly — identical and
deterministic in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 10_000


def hash_bucket(key, n_buckets: int = DEFAULT_BUCKETS, salt: str = "") -> Column:
    """Deterministic bucket in ``[0, n_buckets)`` from the row key.

    ``salt`` reshuffles the assignment without touching the key (use a new
    salt per experiment so successive samples are independent).

    NULL keys hash like any other value (via a ``<NULL>`` sentinel) instead
    of propagating NULL through the comparison chain — otherwise every
    NULL-keyed row would silently fall into a CASE's ``otherwise`` branch
    (the last split label) while a ``hash_bucket(...) < cutoff`` filter
    dropped the same rows.
    A real key whose string form is exactly ``<NULL>`` collides with the
    sentinel; accepted and documented."""
    col = key if isinstance(key, Column) else F.col(key)
    h = F.md5(F.concat(F.coalesce(col.cast("string"), F.lit("<NULL>")), F.lit(salt)))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % n_buckets


def split_label(
    key,
    weights: dict[str, float] | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = "",
) -> Column:
    """Stable split assignment (e.g. train/valid/test) by cumulative bucket
    ranges.  ``weights`` maps label → fraction (must sum to ≤ 1; any
    remainder falls into the LAST label).  Iteration order of the dict is
    the range order, so pass it in the order you want the ranges laid out.
    """
    weights = weights or {"train": 0.9, "valid": 0.05, "test": 0.05}
    total = sum(weights.values())
    if total > 1.0 + 1e-9:
        raise ValueError(
            f"split weights sum to {total} > 1; later labels would be "
            "silently starved"
        )
    if len(weights) == 1 and total < 1.0 - 1e-9:
        # remainder-to-last degenerates with one label: EVERY row would get
        # it and the weight would be silently ignored (ADVICE r4)
        raise ValueError(
            "split_label with a single label assigns all rows to it "
            f"(weight {total} would be ignored); filter on hash_bucket for "
            "a fractional subset"
        )
    bucket = hash_bucket(key, n_buckets, salt)
    expr = None
    cum = 0.0
    labels = list(weights.items())
    for name, frac in labels[:-1]:
        cum += frac
        cond = bucket < int(round(cum * n_buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = labels[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(last)

