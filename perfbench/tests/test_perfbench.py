"""Tests for the benchmark's own code: generators, output checks, and the
status-store reader.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.status import parse_size  # noqa: E402

SMALL_CRAWL = dict(
    n_pages=120, n_hosts=6, real_links=4, dead_links=3,
    default_budget=50, mega_budget=200, seed_share=0.1,
)


def _digest_dir(path):
    return {name: open(os.path.join(path, name), "rb").read() for name in sorted(os.listdir(path))}


# -- generators ---------------------------------------------------------------


def test_crawl_corpus_is_deterministic(tmp_path):
    a, b = gen.crawl_corpus(7, **SMALL_CRAWL), gen.crawl_corpus(7, **SMALL_CRAWL)
    assert a == b
    assert gen.crawl_corpus(8, **SMALL_CRAWL)["pages"] != a["pages"]
    gen.write_crawl_corpus(a, str(tmp_path / "a"))
    gen.write_crawl_corpus(b, str(tmp_path / "b"))
    assert _digest_dir(tmp_path / "a") == _digest_dir(tmp_path / "b")


def test_curate_pages_are_deterministic(tmp_path):
    a, b = gen.curate_pages(3, 60, 4), gen.curate_pages(3, 60, 4)
    assert a == b
    assert gen.curate_pages(4, 60, 4)["html"] != a["html"]
    assert len(gen.write_curate_pages(a, str(tmp_path / "a"), 3)) == 3
    gen.write_curate_pages(b, str(tmp_path / "b"), 3)
    assert _digest_dir(tmp_path / "a") == _digest_dir(tmp_path / "b")


def test_query_tables_are_deterministic(tmp_path):
    gen.write_query_tables(gen.query_tables(5, 0.001), str(tmp_path / "a"))
    gen.write_query_tables(gen.query_tables(5, 0.001), str(tmp_path / "b"))
    assert _digest_dir(tmp_path / "a") == _digest_dir(tmp_path / "b")


def test_curate_funnel_keeps_rows_at_every_stage(tmp_path):
    pages = gen.curate_pages(1, 400, 8)
    path = str(tmp_path / "documents.parquet")
    gen.write_documents(gen.extract_texts(pages["html"]), pages["source"], path)
    funnel, _columns, rows = gen.prepare_oracle(path)
    assert all(n > 0 for n in funnel.values())
    assert funnel["rows_out"] == len(rows)
    # and every filtering stage drops something
    assert funnel["kept_clean"] < funnel["docs_in"]
    assert funnel["rows_out"] < funnel["kept_clean"]


def test_curate_funnel_fails_loudly_on_saturated_text(tmp_path):
    # the bench.py data's trap: a tiny vocabulary makes every line and 4-gram
    # shared corpus-wide, so the duplicate filters keep nothing
    texts = ["the table row the table row the table row the table row"] * 100
    path = str(tmp_path / "documents.parquet")
    gen.write_documents(texts, [f"s{i % 5}" for i in range(100)], path)
    with pytest.raises(ValueError, match="keep 0 rows"):
        gen.prepare_oracle(path)


# -- output checks ------------------------------------------------------------


@pytest.fixture(scope="module")
def simulated():
    from apollo_service_spark.oracle.simulator import SimConfig, simulate

    corpus = gen.crawl_corpus(11, **SMALL_CRAWL)
    sim = simulate(
        corpus["pages"], corpus["seeds"],
        SimConfig(default_budget=SMALL_CRAWL["default_budget"]),
        robots=corpus["robots"], politeness=corpus["politeness"],
    )
    expected = checks.sim_iterations(sim, corpus["pages"], corpus["robots"])
    return sim, expected


def test_check_crawl_accepts_the_simulator_and_rejects_perturbations(simulated):
    sim, expected = simulated
    metrics = [
        {"scheduled": s, "pages_fetched": f, "links_found": n} for s, f, n in expected
    ]
    seen_hash = checks.set_hash(sim.seen)
    assert len(expected) >= 2
    assert checks.check_crawl(metrics, sorted(sim.seen), expected, seen_hash) == []

    bad = [dict(m) for m in metrics]
    bad[1]["links_found"] += 1
    assert checks.check_crawl(bad, sim.seen, expected, seen_hash)
    assert checks.check_crawl(metrics[:-1], sim.seen, expected, seen_hash)
    fewer = sorted(sim.seen)[1:]
    assert checks.check_crawl(metrics, fewer, expected, seen_hash)


def test_check_texts_rejects_one_changed_byte():
    want = ["alpha beta", "gamma"]
    assert checks.check_texts({0: "alpha beta", 1: "gamma"}, want) == []
    assert checks.check_texts({0: "alpha beta ", 1: "gamma"}, want)
    assert checks.check_texts({0: "alpha beta"}, want)


def test_row_digest_is_order_independent_and_rejects_changes():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    ref = checks.row_digest(["id", "s", "x"], rows)
    # column order and row order do not matter; float noise below 1e-6 neither
    assert checks.row_digest(["x", "id", "s"], [(None, 2, "b"), (0.3, 1, "a")]) == ref
    assert checks.check_rows("q", checks.row_digest(["id", "s", "x"], rows), ref) == []
    changed = [(1, "a", 0.31), (2, "b", None)]
    assert checks.check_rows("q", checks.row_digest(["id", "s", "x"], changed), ref)
    assert checks.check_rows("q", checks.row_digest(["id", "s", "x"], rows[:1]), ref)
    assert checks.check_rows("q", checks.row_digest(["id", "t", "x"], rows), ref)


# -- status-store reader --------------------------------------------------------


def test_parse_size():
    assert parse_size("0.0 B") == 0
    assert parse_size("12.0 KiB") == 12 * 1024
    summary = "total (min, med, max (stageId: taskId))\n401.2 KiB (99.5 KiB, 100.6 KiB, 100.6 KiB (stage 0.0: task 1))"
    assert parse_size(summary) == int(401.2 * 1024)


def test_status_reader_sees_a_one_shuffle_query():
    from pyspark.sql import functions as F

    from apollo_service_spark.session import build_session
    from perfbench.status import StatusReader

    spark = build_session(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    try:
        label = "perfbench-test:one-shuffle"
        spark.sparkContext.setJobDescription(label)
        (
            spark.range(20_000)
            .groupBy((F.col("id") % 97).alias("k"))
            .agg(F.count("*").alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
        spark.sparkContext.setJobDescription(None)
        reader = StatusReader(spark)
        rows = reader.stage_rows(label)
        assert rows, "no stage rows under the label"
        assert all(r["executor_run_ms"] > 0 or r["tasks"] > 0 for r in rows)
        assert sum(r["shuffle_write_bytes"] for r in rows) > 0
        assert sum(r["shuffle_read_bytes"] for r in rows) > 0
        summary = reader.summary(label, wall_s=1.0, cores=2)
        assert summary["spark.jobs"] >= 1
        assert summary["spark.stages"] == len(rows)
        assert reader.stage_rows("perfbench-test:no-such-label") == []
    finally:
        spark.stop()
