"""The spark-submit deployment on a multi-executor cluster.

Two supersteps of a crawl run in process on the ``local[4]`` fixture; then
``submit_crawl.py --resume`` finishes it under ``spark-submit --master
local-cluster[2,1,1024] --py-files apollo.zip`` with no ``--conf`` flag, so
every setting comes from ``session.build_session``. The result must equal an
uninterrupted in-process crawl, and both executor JVMs must run their Python
workers under the engine's daemon, imported from the shipped zip."""

import glob
import os
import shutil
import signal
import subprocess
import sys
import zipfile

from apollo_service_spark import worker_daemon
from apollo_service_spark.operators.frontier import (
    CrawlConfig,
    FrontierEngine,
    crawl_log_df,
)
from apollo_service_spark.session import local_cluster_home
from apollo_service_spark.sources.corpus import gen_corpus, write_corpus
from apollo_service_spark.sources.storage import SnapshotStore

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUDGET, PARTITIONS = 4, 8
COUNTS = ("scheduled", "pages_fetched", "links_found", "frontier_size")


def _crawl(spark, paths, store_path, **kwargs):
    store = SnapshotStore(store_path)
    FrontierEngine(
        spark,
        spark.read.parquet(paths["pages"]),
        store,
        CrawlConfig(default_budget=BUDGET, n_partitions=PARTITIONS, **kwargs),
        robots=spark.read.parquet(paths["robots"]),
        politeness=spark.read.parquet(paths["politeness"]),
    ).run(seeds=spark.read.parquet(paths["seeds"]))
    return store


def _state(spark, store):
    cleanup = []
    log = crawl_log_df(spark, store, cleanup=cleanup)
    seen = store.read_accumulated(spark, "seen_delta")
    try:
        return (
            sorted(tuple(r) for r in log.select(sorted(log.columns)).collect()),
            sorted(r.url for r in seen.collect()),
            [
                {k: m[k] for k in ("iteration", *COUNTS)}
                for m in store.iteration_metrics()
            ],
        )
    finally:
        for frame in cleanup:
            frame.unpersist()


def _zip_package(path):
    with zipfile.ZipFile(path, "w") as zf:
        for src in glob.glob(
            os.path.join(ROOT, "apollo_service_spark", "**", "*.py"), recursive=True
        ):
            zf.write(src, os.path.relpath(src, ROOT))


def test_submit_resumes_a_crawl_on_two_executors(spark, tmp_path):
    paths = write_corpus(
        spark, gen_corpus(n_hosts=3, n_pages=40, seed=42), str(tmp_path / "corpus")
    )
    expected = _state(spark, _crawl(spark, paths, str(tmp_path / "full")))
    assert len(expected[2]) > 2  # the cluster runs supersteps, too
    resumed = str(tmp_path / "resumed")
    assert _crawl(spark, paths, resumed, max_iterations=2).latest_iteration() == 1

    # the driver must import the package from the zip: a copied script puts
    # its own dir, not the repository, first on sys.path
    _zip_package(tmp_path / "apollo.zip")
    shutil.copy(os.path.join(ROOT, "submit_crawl.py"), tmp_path)
    home = local_cluster_home(str(tmp_path))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_HOME=home,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        os.path.join(home, "bin", "spark-submit"),
        "--master", "local-cluster[2,1,1024]",
        "--py-files", str(tmp_path / "apollo.zip"),
        str(tmp_path / "submit_crawl.py"),
        "--pages", paths["pages"],
        "--robots", paths["robots"],
        "--politeness", paths["politeness"],
        "--store", resumed,
        "--resume",
        "--default-budget", str(BUDGET),
        "--n-partitions", str(PARTITIONS),
    ]
    # its own process group, so a timeout also ends the executor JVMs
    proc = subprocess.Popen(
        cmd, cwd=tmp_path, env=env, text=True, start_new_session=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        out, err = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert proc.returncode == 0, err[-3000:]
    assert '"stopped_reason": "frontier_exhausted"' in out

    assert _state(spark, SnapshotStore(resumed)) == expected
    logs = glob.glob(os.path.join(home, "work", "app-*", "*", "stderr"))
    assert len(logs) == 2
    line = (
        "Python daemon module in PySpark is set to "
        f"[{worker_daemon.__name__}]"
    )
    for log in logs:
        with open(log) as fh:
            assert line in fh.read(), log
