"""Partitioned, incrementally-maintained bloom seen-store (the crawl's
URL-seen set).

At 10^10 seen URLs a single bloom filter is ~12 GB — too big to broadcast and
absurd to rebuild every superstep. The north-star design is a *partitioned*
seen set: URLs are hashed into P partitions by salted host hash PLUS a per-url
spread offset (a pure function of the url — see ``pid_col``), so a mega-host
distributes uniformly across pids instead of pinning one task; each partition
owns a bitmap of m/P bits stored as one blob next to the seen table. Per
iteration:

* **update**: the iteration's seen delta is grouped by partition id and each
  group's ``applyInArrow`` task OR-merges its delta bits into its own blob
  (exclusive writer per pid, atomic ``os.replace``) — cost proportional to
  the DELTA, not the accumulated set;
* **filter**: candidates are grouped by the same pid; each task loads only
  its partition's blob (m/P bits, not m) and flags maybe-seen rows; only
  those go to the exact anti-join, which keeps correctness exact regardless
  of bloom state.

* **exact check, partition-local**: alongside each bitmap the store keeps the
  partition's exact url set as parquet files (``urls/pid=N/``). ``filter_new``
  resolves bloom maybes against the pid-local exact set *inside the same
  task* — no shuffle of the accumulated seen table, no anti-join stage: the
  only exchange in the dedup path is the one groupBy-pid shuffle of the
  (small) candidate delta. Each task reads only its own pid's files
  (accumulated/P bytes), which is the same IO a bucketed-join scan would do,
  minus the join machinery.

Crash-safety invariant: blobs and url files are updated BEFORE the snapshot
manifest commits, so the store is always a superset of the committed seen
set. A superset is harmless: re-run iterations re-schedule from the committed
frontier, and any url the superset wrongly flags as seen is one the crawl
already scheduled (it is also in the exclude set) — never a lost URL
(tests/test_seen_store.py locks this in).

Concurrency contract (task retries / zombie attempts): Spark can run two
attempts of the same ``applyInArrow`` group — a hung attempt's retry
finishes, the stage moves on, and the original attempt completes LATER.
Three rules make every interleaving safe:

* **delta url files are append-only and uniquely named** — a duplicate
  attempt writes a second file with the same rows, which membership checks
  don't care about; compaction is write-new-then-delete-old, and every
  read/delete of a delta file tolerates the file vanishing under it (a
  concurrent compaction subsumed it);
* **blobs are epoch-versioned, never overwritten in place**
  (``pid=N-epoch=K-<uuid>.bin`` — the random suffix keeps the names of
  same-epoch siblings left by retried attempts apart): readers take the
  highest epoch, so a zombie
  writer from superstep *k* completing after superstep *k+1*'s write cannot
  regress the bitmap below the url files — it only re-creates an older-epoch
  file that readers ignore and the next writer garbage-collects. (An
  in-place ``os.replace`` here would be a REAL bug, not just noise: a
  regressed bloom lets ``filter_new`` skip the exact check for a seen url.)
* **speculative execution must stay off for the writer stage**
  (``spark.speculation`` — off by default; the engine's sessions never
  enable it), keeping concurrent same-group attempts a rare retry case
  rather than the norm.

On a real cluster the store root must be a shared POSIX path that every
executor mounts: the store reads and writes it with ``os``, ``glob`` and
``os.replace`` (whose rename must be atomic), so an ``s3://`` or ``hdfs://``
URL does not work. Each task reads/writes only its own ~MB-scale blob;
nothing bloom-shaped ever crosses the driver. Size ``n_partitions`` so
accumulated/P fits a task: at 10^10 urls and 4096 pids a partition holds
~2.4M urls (~200 MB raw, ~50 MB parquet).
"""

from __future__ import annotations

import contextlib
import glob
import os
import re
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import urlkit
from .bloom import BloomFilter, hash_columns, optimal_bits, optimal_k

_BLOB_RE = re.compile(r"pid=(\d+)-epoch=(\d+)(?:-[0-9a-f]+)?\.bin$")


def _blob_prefix(root: str, pid: int) -> str:
    """Path prefix shared by every epoch of a pid's blob."""
    return os.path.join(root, f"pid={pid:05d}-epoch=")


def _latest_blob(root: str, pid: int) -> str | None:
    """Highest-epoch blob for a pid (readers ignore zombie re-creations of
    older epochs); returns None when the pid has no blob yet.

    Equal epochs (two attempts of the same writer task, identical content by
    construction) tie-break on the path string for determinism; the
    per-write random suffix in each name keeps those siblings distinct."""
    best, best_epoch = None, -1
    for path in glob.glob(_blob_prefix(root, pid) + "*.bin"):
        m = _BLOB_RE.search(path)
        if m and (int(m.group(2)), path) > (best_epoch, best or ""):
            best, best_epoch = path, int(m.group(2))
    return best


def _read_pid_dir(pid_dir: str, read) -> list:
    """``read(path)`` of every delta parquet in a pid dir, tolerating a
    concurrent compaction racing the reader.

    A compaction is write-new-then-delete-old, so a single glob+read pass has
    a window: glob BEFORE the compact file's ``os.replace`` lands, read AFTER
    the compactor deleted the deltas — every read raises FileNotFoundError
    and the pid's membership set would silently read as empty (re-scheduling
    already-seen urls). The fix: whenever ANY file vanished mid-read, redo
    the whole glob+read pass — after a compaction the re-glob is guaranteed
    to see the compact file, so the loop terminates (each retry implies a
    compaction completed, and compactions per pid are finite between calls).
    """
    while True:
        try:
            return [
                read(f)
                for f in sorted(glob.glob(os.path.join(pid_dir, "*.parquet")))
            ]
        except FileNotFoundError:
            continue


_MIX = 0xFF51AFD7ED558CCD  # 64-bit mix multiplier for the (h1,h2) pair key


def _pair_key(h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Combined 64-bit key of the (h1,h2) pair — wraparound multiply-xor
    mixes both words; a pair-key collision between DIFFERENT urls needs a
    joint 64-bit accident, which ``filter_new`` resolves with a string check
    on the hits only."""
    return (h1.astype(np.uint64) * np.uint64(_MIX)) ^ h2.astype(np.uint64)


def _load_segment(path: str):
    """Membership segment of one delta file: ``(key_unsorted, key_sorted,
    url_column)`` — the pair key aligned with the file's rows (for the exact
    url resolve mask), the same keys sorted (for ``np.searchsorted``
    membership), and the Arrow url column (strings stay Arrow-packed until a
    hit materializes just the colliding rows)."""
    table = pq.read_table(path, columns=["h1", "h2", "url"])
    key = _pair_key(table.column("h1").to_numpy(), table.column("h2").to_numpy())
    return key, np.sort(key), table.column("url").combine_chunks()


def _maybe_seen(root: str, pid: int, table: pa.Table, n_bits: int, k: int):
    """Bloom maybe-seen flags of a pid group's rows (``_h1``/``_h2``), read
    from the pid's latest blob; None when the pid has no blob yet (every row
    is new)."""
    path = _latest_blob(root, pid)
    if path is None:
        return None
    bloom = BloomFilter(np.fromfile(path, dtype=np.uint8), n_bits, k)
    return bloom.might_contain(
        table.column("_h1").to_numpy(), table.column("_h2").to_numpy()
    )


class PartitionedBloomSeenStore:
    def __init__(
        self,
        root: str,
        n_partitions: int = 32,
        expected_urls: int = 1_000_000,
        fpp: float = 0.01,
        salt: int = 42,
        compact_above: int = 16,
    ):
        self.compact_above = compact_above
        self.root = os.path.join(root, "seen_bloom")
        self.urls_root = os.path.join(root, "seen_urls")
        os.makedirs(self.root, exist_ok=True)
        os.makedirs(self.urls_root, exist_ok=True)
        self.n_partitions = n_partitions
        total_bits = optimal_bits(expected_urls, fpp)
        self.bits_per_partition = max(8192, total_bits // n_partitions)
        self.k = optimal_k(self.bits_per_partition, max(expected_urls // n_partitions, 1))
        self.salt = salt

    # -- partition key -------------------------------------------------------

    def pid_col(self, host_col, url_col) -> object:
        """Partition id: salted host hash + per-url spread — a pure function
        of the url, so update and filter agree row-by-row, while a mega-host
        spreads uniformly across pids instead of pinning one task (SURVEY §7
        skew risk; VERDICT r3 task #4). NOTE: the pid assignment is part of
        the store's on-disk layout — changing salt/spread invalidates an
        existing store (a fresh crawl resets it; resume reuses the engine
        config that created it)."""
        return urlkit.host_salted_partition(
            host_col, self.n_partitions, self.salt, url=url_col
        )

    def reset(self) -> None:
        """Drop all blobs and exact url files (fresh-crawl start on a root
        that may hold a previous crawl's seen state)."""
        for path in glob.glob(os.path.join(self.root, "pid=*.bin")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
        for path in glob.glob(os.path.join(self.urls_root, "pid=*", "*.parquet")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)

    # -- update --------------------------------------------------------------

    def update(self, delta: DataFrame) -> int:
        """OR the delta's urls into the per-partition bitmaps and append them
        to the per-partition exact url files.

        delta: DataFrame with (url, host). One applyInArrow group per pid ⇒
        exclusive writer per blob; atomic replace keeps readers consistent.
        Arrow-native end-to-end: the task's url column is written to parquet
        straight from the Arrow batch — no pandas object-string
        materialization of the delta (measured ~2x on the update wall at
        2M urls/superstep).
        The exact urls land as one immutable parquet file per (pid, update) —
        append-only, so a concurrent/crashed reader never sees a torn file.
        When a pid accumulates more than ``compact_above`` (+ a per-pid
        stagger offset, see below) delta files, the
        writer task merges them into one (write-new-then-delete-old: a crash
        in between leaves duplicate rows, which membership checks don't
        care about — never a lost url). Returns number of partitions touched.
        """
        n_bits, k = self.bits_per_partition, self.k
        root, urls_root = self.root, self.urls_root
        compact_above = self.compact_above

        h1, h2 = hash_columns(F.col("url"))
        keyed = delta.select(
            F.col("url"),
            h1.alias("h1"),
            h2.alias("h2"),
            self.pid_col(F.col("host"), F.col("url")).alias("pid"),
        )

        def merge(table: pa.Table) -> pa.Table:
            pid = int(table.column("pid")[0].as_py())
            bloom = BloomFilter(np.zeros(n_bits // 8, dtype=np.uint8), n_bits, k)
            bloom.add_batch(
                table.column("h1").to_numpy(), table.column("h2").to_numpy()
            )
            prev = _latest_blob(root, pid)
            epoch = 0
            if prev is not None:
                bloom.bitmap |= np.fromfile(prev, dtype=np.uint8)
                epoch = int(_BLOB_RE.search(prev).group(2)) + 1
            pid_dir = os.path.join(urls_root, f"pid={pid:05d}")
            os.makedirs(pid_dir, exist_ok=True)
            fname = os.path.join(pid_dir, f"delta-{uuid.uuid4().hex}.parquet")
            pq.write_table(table.select(["h1", "h2", "url"]), fname + ".tmp")
            os.replace(fname + ".tmp", fname)
            existing = sorted(glob.glob(os.path.join(pid_dir, "*.parquet")))
            # stagger the compaction threshold per pid: every pid gains one
            # delta file per superstep, so a single threshold makes ALL pids
            # compact in the SAME superstep — an O(accumulated) rewrite storm
            # that showed up as one 60s store update in the 10^7 soak. The
            # pid-dependent offset spreads compactions across supersteps
            # (each still compacts at the same long-run frequency).
            if len(existing) > compact_above + (pid % compact_above):
                tables = _read_pid_dir(pid_dir, pq.read_table)
                cname = os.path.join(
                    pid_dir, f"compact-{uuid.uuid4().hex}.parquet"
                )
                pq.write_table(pa.concat_tables(tables), cname + ".tmp")
                os.replace(cname + ".tmp", cname)
                for f in existing:
                    # a racing attempt's compaction may have removed f already
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(f)
            # epoch-versioned blob: never replace in place (see module
            # docstring — a zombie attempt overwriting a newer blob would
            # regress the bloom below the url files); the unique per-write
            # suffix keeps same-epoch siblings of retried attempts apart
            path = os.path.join(
                root, f"pid={pid:05d}-epoch={epoch:06d}-{uuid.uuid4().hex}.bin"
            )
            tmp = path + f".tmp-{uuid.uuid4().hex}"
            bloom.bitmap.tofile(tmp)
            os.replace(tmp, path)
            # GC uses the same (epoch, path) total order readers select by:
            # strictly-lower tuples are losers — older epochs AND same-epoch
            # siblings left by retried/speculative attempts (which would
            # otherwise orphan one full-size bitmap per retry, since a plain
            # `epoch <` check never matches them at the final epoch)
            for old in glob.glob(_blob_prefix(root, pid) + "*.bin"):
                m = _BLOB_RE.search(old)
                if m and (int(m.group(2)), old) < (epoch, path):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(old)
            return pa.table(
                {
                    "pid": pa.array([pid], pa.int32()),
                    "n": pa.array([len(table)], pa.int64()),
                }
            )

        touched = (
            keyed.groupBy("pid")
            .applyInArrow(merge, schema="pid int, n long")
            .count()
        )
        return int(touched)

    # -- filter --------------------------------------------------------------

    def _keyed(self, candidates: DataFrame) -> DataFrame:
        """Candidates plus their bloom hash pair (``_h1``, ``_h2``) and
        partition id (``_pid``) — the grouping input of both filters."""
        h1, h2 = hash_columns(F.col("url"))
        return (
            candidates.withColumn("_h1", h1)
            .withColumn("_h2", h2)
            .withColumn("_pid", self.pid_col(F.col("host"), F.col("url")))
        )

    def split_candidates(self, candidates: DataFrame) -> tuple:
        """(definitely_new, maybe_seen) via per-partition blob lookups.

        candidates: DataFrame with (url, host, ...). Each pid group's task
        loads only its own blob; rows for partitions with no blob yet are all
        definitely-new.
        """
        n_bits, k = self.bits_per_partition, self.k
        root = self.root
        cols = candidates.columns

        keyed = self._keyed(candidates)
        out_schema = keyed.drop("_pid").withColumn(
            "_maybe_seen", F.lit(True)
        ).schema

        def check(table: pa.Table) -> pa.Table:
            pid = int(table.column("_pid")[0].as_py())
            flags = _maybe_seen(root, pid, table, n_bits, k)
            if flags is None:
                flags = np.zeros(table.num_rows, dtype=bool)
            return table.drop_columns(["_pid"]).append_column(
                "_maybe_seen", pa.array(flags)
            )

        flagged = keyed.groupBy("_pid").applyInArrow(check, schema=out_schema)
        definitely_new = flagged.filter(~F.col("_maybe_seen")).select(*cols)
        maybe_seen = flagged.filter(F.col("_maybe_seen")).select(*cols)
        return definitely_new, maybe_seen

    def filter_new(self, candidates: DataFrame) -> DataFrame:
        """Exact partition-local dedup: candidates not yet in the seen set.

        One applyInArrow per pid: bloom-check every row (bit probes, cheap),
        then resolve the bloom maybes against the pid's exact url files loaded
        inside the task. The accumulated seen set never enters a shuffle —
        the only exchange is the groupBy-pid of the candidate delta, on the
        same salted-host key the rest of the frontier state uses. Correctness
        is exact regardless of bloom false positives.

        Membership is resolved on the persisted int64 hash PAIRS, fully
        vectorized: ``np.searchsorted`` of a combined (h1,h2) key against the
        pid's sorted keys, with a url string comparison ONLY for rows
        whose combined key collides (≈ the true duplicates plus a ~2^-64
        accident rate). The whole task is Arrow-native: candidate columns
        arrive as an Arrow table (no pandas conversion), and the string
        confirm is ``pyarrow.compute.is_in`` of the url column against the
        colliding rows of the pid's segments — NO url ever materializes as
        a Python string, in either the hot or the hit path.
        """
        n_bits, k = self.bits_per_partition, self.k
        root, urls_root = self.root, self.urls_root
        cols = candidates.columns

        keyed = self._keyed(candidates)
        out_schema = keyed.drop("_h1", "_h2", "_pid").schema

        def check(table: pa.Table) -> pa.Table:
            pid = int(table.column("_pid")[0].as_py())
            maybe = _maybe_seen(root, pid, table, n_bits, k)
            out = table.drop_columns(["_h1", "_h2", "_pid"])
            if maybe is None or not maybe.any():
                return out
            pid_dir = os.path.join(urls_root, f"pid={pid:05d}")
            segments = _read_pid_dir(pid_dir, _load_segment)
            cand_key = _pair_key(
                table.column("_h1").to_numpy(), table.column("_h2").to_numpy()
            )
            hits = np.zeros(len(cand_key), dtype=bool)
            for _key, key_sorted, _urls in segments:
                if len(key_sorted) == 0:
                    continue
                idx = np.searchsorted(key_sorted, cand_key)
                idx[idx == len(key_sorted)] = 0
                hits |= key_sorted[idx] == cand_key
            hits &= maybe
            if not hits.any():
                return out
            # exact resolve: Arrow is_in of the url column against the
            # colliding segment rows — C++ hash-set probe, zero Python strings
            hit_keys = cand_key[hits]
            chunks = []
            for key, _key_sorted, urls in segments:
                relevant = np.isin(key, hit_keys)
                if relevant.any():
                    chunks.append(urls.filter(pa.array(relevant)))
            confirmed = (
                pc.is_in(out.column("url"), value_set=pa.chunked_array(chunks))
                .to_numpy(zero_copy_only=False)
                .astype(bool)
            )
            return out.filter(pa.array(~(hits & confirmed)))

        return keyed.groupBy("_pid").applyInArrow(check, schema=out_schema)
