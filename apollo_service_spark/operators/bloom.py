"""Bloom filter bitmap kernel of the partitioned URL-seen store (seen.py).

The store keeps one bitmap per partition id; each ``applyInArrow`` task
builds or probes its own partition's bitmap with :class:`BloomFilter`.
Membership uses double hashing (Kirsch–Mitzenmacher): k indices derived from
two JVM-side ``xxhash64`` values (:func:`hash_columns`), so the Python side
never re-hashes strings. A bloom miss means definitely new; a hit is a
*maybe*, which the store resolves exactly against the partition's url set.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_H1_SALT = 0x9E3779B9
_H2_SALT = 0x85EBCA6B


def hash_columns(col: Column) -> tuple:
    return (
        F.xxhash64(col, F.lit(_H1_SALT)),
        F.xxhash64(col, F.lit(_H2_SALT)),
    )


def optimal_bits(n_items: int, fpp: float = 0.01) -> int:
    n_items = max(n_items, 1)
    m = -n_items * math.log(fpp) / (math.log(2) ** 2)
    return max(1024, 1 << int(math.ceil(math.log2(m))))


def optimal_k(m_bits: int, n_items: int) -> int:
    n_items = max(n_items, 1)
    return max(1, min(16, round(m_bits / n_items * math.log(2))))


class BloomFilter:
    """One bitmap + its params: a seen-store partition's filter."""

    def __init__(self, bitmap: np.ndarray, n_bits: int, k: int):
        self.bitmap = bitmap  # uint8 array of n_bits/8 bytes
        self.n_bits = n_bits
        self.k = k

    def _indices(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        # (k, n) matrix of bit indices via double hashing
        h1 = h1.astype(np.uint64)
        h2 = h2.astype(np.uint64) | np.uint64(1)  # odd → full-period stride
        js = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + js * h2[None, :]) % np.uint64(self.n_bits)).astype(
            np.int64
        )

    def might_contain(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indices(h1, h2)
        bits = (self.bitmap[idx >> 3] >> (idx & 7)) & 1
        return bits.all(axis=0)

    def add_batch(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        idx = self._indices(h1, h2)
        np.bitwise_or.at(self.bitmap, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    @classmethod
    def empty(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_bits = optimal_bits(n_items, fpp)
        return cls(
            np.zeros(n_bits // 8, dtype=np.uint8), n_bits, optimal_k(n_bits, n_items)
        )
