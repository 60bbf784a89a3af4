"""The session's Python worker daemon: its zip importers re-read an archive
only when it changed, every UDF worker runs under it, and it starts from
any working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from apollo_service_spark import worker_daemon
from apollo_service_spark.session import _master_cores

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_guard_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"guard_probe_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("guard_probe_a").VALUE == "a"
        reads = []  # every archive whose central directory zipimport reads
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
        )
        importer = sys.path_importer_cache[archive]
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert reads == [archive]

        _write_zip(archive, {"guard_probe_a": "VALUE = 'a'\n",
                             "guard_probe_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("guard_probe_b").VALUE == "b"
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
    finally:
        for name in ("guard_probe_a", "guard_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_udf_workers_run_under_the_guarded_daemon(spark):
    # defined here, not at module level: the workers cannot import this
    # module, so the function must be pickled by value
    def worker_guard(s: pd.Series) -> pd.Series:
        """Which ``invalidate_caches`` this worker's zip importers run, and
        how many archive directories one ``importlib.invalidate_caches()``
        reads."""
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        guard = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        return s.map(lambda _: f"{os.path.basename(guard)} reads={len(reads)}")

    probe = F.pandas_udf(worker_guard, "string")
    rows = spark.range(0, 4, 1, 4).select(probe(F.col("id").cast("string")).alias("r"))
    assert {r.r for r in rows.collect()} == {"worker_daemon.py reads=0"}


def test_daemon_starts_outside_the_repository(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from apollo_service_spark.session import build_session

        spark = build_session(master="local[1]", shuffle_partitions=1)
        try:
            @F.pandas_udf("long")
            def plus_one(s: pd.Series) -> pd.Series:
                return s + 1

            print(sum(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        finally:
            spark.stop()
        """
    )
    # the repository reaches the workers only through the session's conf
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "6"


def test_default_shuffle_partitions_are_the_masters_cores():
    # local-cluster[executors, cores per executor, MiB per executor]
    assert _master_cores("local-cluster[2,1,1024]", cpus=8) == 2
    assert _master_cores("local-cluster[3,2,1024]", cpus=8) == 6
    assert _master_cores("local", cpus=8) == 1
    assert _master_cores("local[4]", cpus=8) == 4
    assert _master_cores("local[4,2]", cpus=8) == 4
    assert _master_cores("local[*]", cpus=8) == 8
    assert _master_cores("spark://host:7077", cpus=8) == 32
