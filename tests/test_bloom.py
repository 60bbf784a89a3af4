"""Bloom filter unit props: no false negatives, false positives near the
design rate, over the JVM-side hash pairs the seen store uses."""

import numpy as np
from pyspark.sql import functions as F

from apollo_service_spark.operators.bloom import BloomFilter, hash_columns


def _hash_pairs(spark, urls):
    h1, h2 = hash_columns(F.col("url"))
    pdf = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select(h1.alias("h1"), h2.alias("h2"))
        .toPandas()
    )
    return pdf["h1"].to_numpy(), pdf["h2"].to_numpy()


def test_bloom_no_false_negatives(spark):
    urls = [f"https://h{i % 7}.com/p{i}" for i in range(2000)]
    h1, h2 = _hash_pairs(spark, urls)
    bloom = BloomFilter.empty(2000, 0.01)
    # folded in several batches, as a task folds its Arrow batches
    for lo in range(0, 2000, 500):
        bloom.add_batch(h1[lo : lo + 500], h2[lo : lo + 500])
    # every true member must be flagged maybe-seen (bloom cannot miss)
    assert bloom.might_contain(h1, h2).all()


def test_bloom_fpp_reasonable(spark):
    h1, h2 = _hash_pairs(spark, [f"https://h/{i}" for i in range(5000)])
    bloom = BloomFilter.empty(5000, 0.01)
    bloom.add_batch(h1, h2)
    p1, p2 = _hash_pairs(spark, [f"https://other/{i}" for i in range(5000)])
    fp = int(bloom.might_contain(p1, p2).sum())
    assert fp / 5000 < 0.05  # generous bound on the 1% target


def test_bloom_local_roundtrip():
    bloom = BloomFilter.empty(1000, 0.01)
    h1 = np.arange(100, dtype=np.int64) * 2654435761
    h2 = np.arange(100, dtype=np.int64) * 40503 + 7
    bloom.add_batch(h1, h2)
    assert bloom.might_contain(h1, h2).all()
