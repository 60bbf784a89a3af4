"""Connected components over near-dup pair lists — pairs → dedup clusters.

Every pair operator in :mod:`dedup` (MinHash-LSH, SimHash, n-gram Jaccard,
winnowing, embedding cosine) emits ``(id_a, id_b)`` evidence rows; a training
-data pipeline then needs the transitive closure — "these 40 documents are
all one cluster, keep one" — because near-duplication chains (A≈B, B≈C ⇒
keep one of {A,B,C} even when A and C never paired directly).

The algorithm is iterative hash-min label propagation, expressed entirely in
DataFrame ops so Catalyst/AQE plan every step:

* label(v) starts as v; each round every node takes the min label across
  itself and its neighbors; converges when no label changes.
* Rounds needed = the graph's diameter. For dedup graphs this is SMALL by
  construction — a near-dup cluster is a dense blob (every member shares
  fingerprints/buckets with most others), not a long chain — so 2–4 rounds
  settle real corpora. The O(log n) alternating-star algorithm (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14) is the
  upgrade path if chain-shaped graphs ever matter; hash-min is preferred
  here because every round is two hash-partitioned shuffles on the node id
  with no skewed star-center groupBys.

Scale notes (the parts that matter at 10^9 edges):

* the edge list is symmetrized once and persisted — every round re-reads it
  from executor storage instead of recomputing the upstream dedup operator;
* each round eagerly ``localCheckpoint``-s its label frame — a TRUNCATED
  lineage, so round k's plan does not embed rounds 0..k-1 (iterative
  DataFrame loops otherwise grow the logical plan until driver planning
  time dominates). Checkpointed RDDs have no unpersist handle; the loop
  instead drops the previous round's Python reference each iteration
  (rebind + ``gc.collect``), which the JVM ContextCleaner reclaims within
  seconds (measured) — live storage stays at ~2 label frames, with a short
  asynchronous tail rather than a deterministic release;
* convergence is detected from the same materialization that produces the
  next labels — no extra job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """``(id, component)`` for every node appearing in ``pairs``, where
    ``component`` is the minimum node id in the node's connected component.

    Raises ``RuntimeError`` if ``max_iterations`` rounds do not converge
    (diameter > max_iterations — pathological for dedup graphs; raise the
    cap or switch to alternating-star rather than silently truncating,
    which would split clusters)."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    import gc

    try:
        labels = (
            edges.select(F.col("u").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
            .localCheckpoint()
        )
        for _ in range(max_iterations):
            # neighbor labels: for node u, the labels of all its neighbors v
            neighbor_min = (
                edges.join(labels.withColumnRenamed("id", "v"), "v")
                .groupBy(F.col("u").alias("id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            new_labels = (
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least("component", F.coalesce("nbr_min", "component")).alias(
                        "component"
                    ),
                    (
                        F.coalesce("nbr_min", "component") < F.col("component")
                    ).alias("_changed"),
                )
            )
            # one action: truncate lineage + count changed labels (eager
            # checkpoint materializes everything, so the limit(1) probe is free)
            new_labels = new_labels.localCheckpoint()
            changed = new_labels.filter("_changed").limit(1).count()
            labels = new_labels.drop("_changed")
            # a checkpointed RDD cannot be unpersisted by handle; dropping the
            # Python reference promptly (rebind + collect) lets the JVM
            # ContextCleaner reclaim the PREVIOUS round's copy within seconds,
            # keeping live storage at ~2 label frames instead of one per round
            del neighbor_min, new_labels
            gc.collect()
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds "
            "(graph diameter exceeds the cap); raise max_iterations"
        )
    finally:
        edges.unpersist()
