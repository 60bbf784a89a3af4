"""Embedding similarity: brute-force cosine top-k and near-dup pairs."""

import pytest
from pyspark.sql import functions as F

from apollo_service_spark.operators import similarity
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_bruteforce_self_similarity(spark, emb):
    """A vector's nearest neighbor in a corpus containing itself is itself."""
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top1 = similarity.cosine_topk(queries, emb, k=1)
    rows = {r["q_id"]: r["vec_id"] for r in top1.collect()}
    assert rows == {i: i for i in range(5)}


def _planted_neardup_df(emb):
    """vec_id < 40 plus a shifted copy of each (id + 1000) — every (i, i+1000)
    pair has cosine >= 0.93, every other pair <= 0.48 (measured)."""
    base = emb.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    near = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(1.1) + F.lit(0.05)
        ).alias("embedding"),
    )
    return base.unionByName(near)


def test_neardup_exact_finds_planted_pairs(spark, emb):
    both = _planted_neardup_df(emb)
    pairs = similarity.neardup_pairs(both, threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(i, i + 1000) for i in range(40)}
    # score is the exact cosine: all planted pairs far from the threshold
    assert all(r["score"] > 0.9 for r in pairs.collect())
