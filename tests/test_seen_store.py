"""Partitioned bloom seen-store: unit props + crawl equivalence + crash
superset invariant."""

from pyspark.sql import functions as F

from apollo_service_spark.operators.seen import PartitionedBloomSeenStore


def _urls_df(spark, urls):
    return spark.createDataFrame(
        [(u, u.split("/")[2]) for u in urls], "url string, host string"
    )


def test_update_then_split_no_false_negatives(spark, tmp_path):
    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=8, expected_urls=10_000
    )
    urls = [f"https://h{i % 5}.com/p{i}" for i in range(3000)]
    store.update(_urls_df(spark, urls))

    members = _urls_df(spark, urls[:800])
    new, maybe = store.split_candidates(members)
    assert new.count() == 0          # every member must route to exact check
    assert maybe.count() == 800

    others = _urls_df(spark, [f"https://h9.com/x{i}" for i in range(2000)])
    new2, maybe2 = store.split_candidates(others)
    assert maybe2.count() / 2000 < 0.05  # fpp bound (target 1%)
    assert new2.count() + maybe2.count() == 2000


def test_incremental_updates_accumulate(spark, tmp_path):
    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=4, expected_urls=5000
    )
    a = [f"https://a.com/{i}" for i in range(500)]
    b = [f"https://b.com/{i}" for i in range(500)]
    store.update(_urls_df(spark, a))
    store.update(_urls_df(spark, b))
    new, maybe = store.split_candidates(_urls_df(spark, a + b))
    assert new.count() == 0


def test_empty_store_all_definitely_new(spark, tmp_path):
    store = PartitionedBloomSeenStore(str(tmp_path), n_partitions=4)
    cand = _urls_df(spark, [f"https://x.com/{i}" for i in range(100)])
    new, maybe = store.split_candidates(cand)
    assert new.count() == 100
    assert maybe.count() == 0


def test_crawl_equivalence_partitioned_backend(
    spark, small_corpus, small_corpus_spark, tmp_path
):
    """Exact crawl parity must hold with the partitioned seen backend."""
    from tests.conftest import crawl_log_tuples
    from tests.test_frontier import _run_engine, _sim_inputs

    from apollo_service_spark.operators.frontier import CrawlConfig
    from apollo_service_spark.oracle.simulator import SimConfig, simulate

    pages, seeds, robots, politeness = _sim_inputs(small_corpus)
    sim = simulate(pages, seeds, SimConfig(), robots=robots, politeness=politeness)
    _state, store = _run_engine(
        spark,
        small_corpus_spark,
        str(tmp_path / "pb"),
        CrawlConfig(expected_urls=10_000),
    )
    assert crawl_log_tuples(spark, store) == {
        (r["url"], r["iteration"], r["rank"]) for r in sim.crawl_log
    }


def test_filter_new_exact_membership(spark, tmp_path):
    """filter_new = candidates ∖ seen, exactly — bloom false positives are
    resolved against the pid-local exact url files inside the task."""
    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=4, expected_urls=2000
    )
    seen = [f"https://h{i % 3}.com/s{i}" for i in range(1500)]
    store.update(_urls_df(spark, seen))
    fresh = [f"https://h{i % 3}.com/f{i}" for i in range(700)]
    cand = _urls_df(spark, seen[:300] + fresh)
    got = {r["url"] for r in store.filter_new(cand).collect()}
    assert got == set(fresh)


def test_update_compaction_preserves_membership(spark, tmp_path):
    import glob
    import os

    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=2, expected_urls=2000, compact_above=4
    )
    all_urls = []
    for batch in range(10):
        urls = [f"https://h{i % 2}.com/b{batch}/p{i}" for i in range(50)]
        all_urls += urls
        store.update(_urls_df(spark, urls))
    # compaction kept the per-pid file count bounded
    for pid_dir in glob.glob(os.path.join(str(tmp_path), "seen_urls", "pid=*")):
        assert len(glob.glob(os.path.join(pid_dir, "*.parquet"))) <= 5
    # and membership is intact
    assert store.filter_new(_urls_df(spark, all_urls)).count() == 0
    assert store.filter_new(
        _urls_df(spark, [f"https://h0.com/new{i}" for i in range(100)])
    ).count() == 100


def test_stale_superset_bloom_is_safe(spark, tmp_path):
    """Bloom ahead of the committed seen set (crash between blob update and
    manifest commit) must not lose urls: they route to the exact check."""
    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=4, expected_urls=5000
    )
    committed = [f"https://c.com/{i}" for i in range(100)]
    uncommitted = [f"https://c.com/u{i}" for i in range(50)]
    store.update(_urls_df(spark, committed + uncommitted))  # bloom superset

    seen_table = _urls_df(spark, committed).select("url")
    candidates = _urls_df(spark, uncommitted)
    new, maybe = store.split_candidates(candidates)
    # all uncommitted urls are in the bloom → maybe_seen
    assert new.count() == 0
    # the exact anti-join recovers them as genuinely new
    recovered = maybe.join(seen_table, "url", "left_anti")
    assert recovered.count() == 50


def test_zombie_blob_never_regresses_membership(spark, tmp_path):
    """Epoch-versioned blobs: a zombie writer attempt from superstep k
    completing AFTER superstep k+1's write re-creates an older-epoch file.
    Readers must keep answering from the newest epoch — an in-place
    overwrite would regress the bloom below the url files and let
    filter_new skip the exact check for a k+1 url."""
    import glob
    import os
    import shutil

    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=2, expected_urls=5000
    )
    a = [f"https://h.com/a{i}" for i in range(300)]
    b = [f"https://h.com/b{i}" for i in range(300)]
    store.update(_urls_df(spark, a))           # epoch 0
    # snapshot the epoch-0 blobs (what a zombie attempt would re-write)
    blob_dir = os.path.join(str(tmp_path), "seen_bloom")
    snap = {
        p: p + ".zombie" for p in glob.glob(os.path.join(blob_dir, "pid=*.bin"))
    }
    for p, s in snap.items():
        shutil.copyfile(p, s)
    store.update(_urls_df(spark, b))           # epoch 1 (b's bits added)
    # zombie completes late: re-create the epoch-0 files it had snapshotted
    for p, s in snap.items():
        shutil.copyfile(s, p)
        os.remove(s)
    # both epochs now on disk; membership must still use epoch 1
    out = {r["url"] for r in store.filter_new(_urls_df(spark, a + b)).collect()}
    assert out == set(), f"seen urls leaked back as new: {sorted(out)[:5]}"


def test_mega_host_spreads_across_pids(spark, tmp_path):
    """SURVEY §7 skew risk / VERDICT r3 task #4: one host holding ~90% of
    the urls must NOT pin one store partition. The per-url spread in
    ``pid_col`` distributes a mega-host uniformly: after updating with a
    90%-one-host delta, no pid's exact-url file set holds more than ~2× the
    mean pid load (a pure host hash would put 90% on ONE pid = 28.8× mean
    at 32 pids). Membership stays exact."""
    import glob
    import os

    import pyarrow.parquet as pq

    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=32, expected_urls=50_000
    )
    mega = [f"https://mega.example.com/p{i}" for i in range(9000)]
    rest = [f"https://h{i % 50}.com/p{i}" for i in range(1000)]
    store.update(_urls_df(spark, mega + rest))

    loads = []
    for pid_dir in sorted(glob.glob(os.path.join(store.urls_root, "pid=*"))):
        n = sum(
            pq.read_table(f, columns=["h1"]).num_rows
            for f in glob.glob(os.path.join(pid_dir, "*.parquet"))
        )
        loads.append(n)
    assert len(loads) == 32, "mega-host corpus should touch every pid"
    mean = sum(loads) / len(loads)
    assert max(loads) <= 2 * mean, (max(loads), mean, loads)

    # dedup stays exact under the spread layout
    assert store.filter_new(_urls_df(spark, mega[:500])).count() == 0
    fresh = [f"https://mega.example.com/new{i}" for i in range(500)]
    assert store.filter_new(_urls_df(spark, fresh)).count() == 500


def test_select_batch_honors_per_host_budgets(spark):
    """A politeness-table budget overrides the default for its host, and
    selected + carryover partition the frontier."""
    from apollo_service_spark.operators import politeness as pol

    rows = [
        (f"https://mega.com/p{i:05d}", "mega.com", i % 4) for i in range(5000)
    ] + [(f"https://h{j}.com/p{i}", f"h{j}.com", i % 3)
         for j in range(10) for i in range(20)]
    frontier = spark.createDataFrame(rows, "url string, host string, depth int")
    budgets = spark.createDataFrame(
        [("mega.com", 7)], "host string, budget int"
    )
    sel, carry = pol.select_batch(frontier, budgets, default_budget=5)
    sel = {(r["url"], r["host"], r["depth"]) for r in sel.collect()}
    carry = {(r["url"], r["host"], r["depth"]) for r in carry.collect()}
    assert len(sel) == 7 + 10 * 5
    assert not sel & carry and sel | carry == set(rows)


def test_membership_exact_across_interleaved_supersteps(spark, tmp_path):
    """Membership stays exact while the store changes between reads: every
    superstep interleaves filter_new with update (new delta files and a new
    blob epoch) and compaction (files deleted + rewritten). A url added in
    step k must be flagged seen in every later step; a fresh url must always
    pass."""
    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=2, expected_urls=2000, compact_above=3
    )
    seen_so_far = []
    for step in range(8):
        urls = [f"https://h{i % 2}.com/s{step}/p{i}" for i in range(40)]
        assert store.filter_new(_urls_df(spark, urls)).count() == len(urls)
        if seen_so_far:
            assert store.filter_new(_urls_df(spark, seen_so_far)).count() == 0
        store.update(_urls_df(spark, urls))
        seen_so_far += urls
    assert store.filter_new(_urls_df(spark, seen_so_far)).count() == 0


def test_membership_exact_across_reset(spark, tmp_path):
    """Fresh-crawl safety in one session: reset() drops the previous crawl's
    blobs and url files and restarts epoch numbering at 0, so after it the
    new crawl's urls are seen and the old crawl's urls are new again."""
    store = PartitionedBloomSeenStore(
        str(tmp_path), n_partitions=2, expected_urls=2000
    )
    crawl_a = [f"https://h{i % 2}.com/a{i}" for i in range(200)]
    store.update(_urls_df(spark, crawl_a))
    assert store.filter_new(_urls_df(spark, crawl_a)).count() == 0

    store.reset()
    crawl_b = [f"https://h{i % 2}.com/b{i}" for i in range(200)]
    store.update(_urls_df(spark, crawl_b))
    assert store.filter_new(_urls_df(spark, crawl_b)).count() == 0
    assert store.filter_new(_urls_df(spark, crawl_a)).count() == len(crawl_a)


def test_concurrent_compaction_readers_never_lose_membership(tmp_path):
    """Stress the compaction/read race at the file-protocol level (VERDICT r4
    wrong #1): a writer thread appends delta files and periodically compacts
    (write-new-then-delete-old, exactly ``update``'s protocol) while reader
    threads run the store's real read-pass helpers. A reader whose glob
    predates a compaction's new file but whose reads land after the old
    deltas were deleted must RETRY the whole pass — returning a partial or
    empty set would make ``filter_new`` re-admit already-seen urls, breaking
    the at-most-once scheduling invariant resume accounting relies on.

    Invariant checked on every reader pass: every url whose delta write had
    committed (``os.replace`` landed) BEFORE the pass began is present in the
    pass's result. Compaction only moves rows between files, never drops
    them, so any missing url is a torn read."""
    import contextlib
    import os
    import threading
    import uuid as _uuid
    from glob import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from apollo_service_spark.operators.seen import _load_segment, _read_pid_dir

    def read_urls(path):
        return pq.read_table(path, columns=["url"])

    pid_dir = tmp_path / "pid=00000"
    pid_dir.mkdir()
    committed: list = []  # urls whose delta-file replace() has landed
    lock = threading.Lock()
    stop = threading.Event()
    failures: list = []

    def _write(table: pa.Table, name: str) -> None:
        path = os.path.join(str(pid_dir), name)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)

    def writer() -> None:
        try:
            for step in range(400):
                urls = [f"https://h.com/s{step}/p{i}" for i in range(4)]
                t = pa.table(
                    {
                        "h1": pa.array(
                            [hash((u, 1)) % (1 << 62) for u in urls], pa.int64()
                        ),
                        "h2": pa.array(
                            [hash((u, 2)) % (1 << 62) for u in urls], pa.int64()
                        ),
                        "url": pa.array(urls),
                    }
                )
                _write(t, f"delta-{_uuid.uuid4().hex}.parquet")
                with lock:
                    committed.extend(urls)
                existing = sorted(_glob(os.path.join(str(pid_dir), "*.parquet")))
                if len(existing) > 3:  # compact aggressively: many race windows
                    tables = _read_pid_dir(str(pid_dir), pq.read_table)
                    _write(
                        pa.concat_tables(tables),
                        f"compact-{_uuid.uuid4().hex}.parquet",
                    )
                    for f in existing:
                        with contextlib.suppress(FileNotFoundError):
                            os.remove(f)
        finally:
            stop.set()

    def reader() -> None:
        while not stop.is_set() and not failures:
            with lock:
                snapshot = set(committed)
            tables = _read_pid_dir(str(pid_dir), read_urls)
            via_tables = set()
            for t in tables:
                via_tables.update(t.column("url").to_pylist())
            missing = snapshot - via_tables
            if missing:
                failures.append(("whole-table read dropped", sorted(missing)[:5]))
                return
            with lock:
                snapshot = set(committed)
            via_segments = set()
            for _key, _sorted_key, url_col in _read_pid_dir(
                str(pid_dir), _load_segment
            ):
                via_segments.update(url_col.to_pylist())
            missing = snapshot - via_segments
            if missing:
                failures.append(("segment read dropped", sorted(missing)[:5]))
                return

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not failures, failures
    # final state is complete and consistent
    final = set()
    for t in _read_pid_dir(str(pid_dir), read_urls):
        final.update(t.column("url").to_pylist())
    assert final == set(committed)
