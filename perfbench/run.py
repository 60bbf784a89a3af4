#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 8 --trace 0

Run from the repository root. Starts one Spark session on
``local[<usable cores>]``, generates the workload's inputs from ``--seed``,
warms up, runs units of work until ``--seconds`` seconds have passed,
checks every output and prints the metrics; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run measures once
untraced and once under job labels, then replays the layers of the last
unit of work on persisted inputs and reports the per-layer metrics.

Everything the run writes goes under ``.bench_work/`` in the current
directory and is removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

_T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the engine, the registry entry point and this package live at the root
sys.path.insert(0, ROOT)

from perfbench.procs import peak_rss_mb, tree_cpu_s  # noqa: E402

GEN_REPEATS = 3
HEAP = "2g"

# CPU seconds of the process tree, not wall seconds: see procs.tree_cpu_s
END_TO_END = {
    "setup_s": "s",
    "work_per_cpu_s": "1/s",
    "step_cpu_s": "s",
    "peak_rss_mb": "MiB",
}


def per_layer_names() -> dict:
    """Every per-layer metric name → unit (BENCHMARK.json ``per_layer``)."""
    from perfbench.workloads import QUERY_KEYS

    seconds = [
        "frontier.superstep_p50_s", "seen.update_s",
        "storage.write_frontier_s", "storage.write_seen_delta_s",
        "storage.write_crawl_log_s", "storage.write_lineage_s",
    ]
    replay_s = [
        "udfs.extract_links_s", "urlkit.canon_filter_s", "robots.allow_s",
        "fetch.join_s", "seen.filter_new_s", "politeness.select_s", "ranking.rank_s",
    ]
    names = {
        "frontier.supersteps": "count", "frontier.scheduled": "count",
        "frontier.pages_fetched": "count", "frontier.links_found": "count",
        "fetch.hit_frac": "ratio", "storage.frontier_rows_per_scheduled": "ratio",
        "udfs.links_per_page": "ratio", "urlkit.keep_frac": "ratio",
        "robots.keep_frac": "ratio", "seen.bloom_maybe_frac": "ratio",
        "seen.bloom_fp_frac": "ratio", "seen.delta_files": "count",
        "seen.store_bytes": "bytes",
        "extract.udf_s": "s", "extract.identical_frac": "ratio", "tables.load_s": "s",
        "curation.clean_s": "s", "curation.span_decon_s": "s",
        "curation.quota_s": "s", "curation.pack_s": "s",
        "curate.docs_in": "count", "curate.kept_clean": "count",
        "curate.kept_spans_decon": "count", "curate.kept_quota": "count",
        "curate.rows_out": "count", "queries.plan_s": "s",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes", "spark.python_data_bytes": "bytes",
        "spark.core_busy_frac": "ratio",
        "trace.overhead_frac": "ratio", "trace.uncovered_frac": "ratio",
    }
    names.update({k: "s" for k in seconds + replay_s + ["fetch.small_batch_join_s"]})
    names.update({f"query.{k}_s": "s" for k in QUERY_KEYS})
    return names


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, cores: int):
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers and the JVM inherit these: nothing lands outside work/
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from apollo_service_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: lazy heap growth otherwise shows up
            # as run-to-run noise in both the timings and the peak RSS
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited (it exits when
    its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_generate(workload, seed: int) -> tuple:
    """Generate the inputs GEN_REPEATS times; the repeats must agree byte
    for byte. Returns the median generation (wall, CPU) seconds."""
    walls, cpus, digests = [], [], set()
    for _ in range(GEN_REPEATS):
        t, cpu = time.perf_counter(), tree_cpu_s()
        digests.add(workload.generate(seed))
        walls.append(time.perf_counter() - t)
        cpus.append(tree_cpu_s() - cpu)
    if len(digests) != 1:
        raise RuntimeError("input generation is not deterministic for this seed")
    return statistics.median(walls), statistics.median(cpus)


def set_up(workload, seed: int) -> float:
    """Generate inputs, warm up and compute the references; returns
    ``setup_s``: the CPU seconds of JVM start + median input generation +
    warm-up."""
    jvm_s, jvm_cpu = time.perf_counter() - _T0, tree_cpu_s()
    gen_s, gen_cpu = timed_generate(workload, seed)
    t, cpu = time.perf_counter(), tree_cpu_s()
    workload.warm_up()
    warm_s, warm_cpu = time.perf_counter() - t, tree_cpu_s() - cpu
    # the references run while Spark is idle: computed alongside the
    # warm-up they competed with it for the cores and made it noisy
    t = time.perf_counter()
    workload.set_reference(workload.reference())
    reference_s = time.perf_counter() - t
    setup_s = jvm_cpu + gen_cpu + warm_cpu
    print(
        f"setup: jvm {jvm_s:.2f} s + inputs {gen_s:.2f} s (median of "
        f"{GEN_REPEATS}) + warm-up {warm_s:.2f} s wall; "
        f"{jvm_cpu:.2f} + {gen_cpu:.2f} + {warm_cpu:.2f} = {setup_s:.2f} CPU s; then "
        f"{reference_s:.2f} s for the references (not timed); "
        f"local[{workload.cores}], heap {HEAP} pre-touched"
    )
    return setup_s


def report(name: str, measured) -> None:
    for metric, (value, unit) in measured.named.items():
        print(f"{name}: {metric} = {value:.4f} {unit}")
    print(
        f"{name}: failed_frac = {measured.failed / max(measured.attempted, 1):.4f} "
        f"ratio ({measured.failed}/{measured.attempted} operations); "
        f"{len(measured.unit_wall_s)} units, {len(measured.step_s)} steps, "
        f"{len(measured.work_per_cpu_s)} work_per_cpu_s and "
        f"{len(measured.step_cpu_s)} step_cpu_s samples"
    )
    for problem in measured.problems[:20]:
        print(f"CHECK FAILED: {problem}")


def traced_metrics(workload, seconds: float, step_wall: float) -> tuple:
    """Measure again under a job label, then replay the layers. Returns
    (per-layer metrics, the traced Measured)."""
    from perfbench.status import StatusReader

    spark = workload.spark
    label = f"perfbench:{workload.name}:traced"
    spark.sparkContext.setJobDescription(label)
    t = time.perf_counter()
    traced = workload.measure(seconds)
    traced_wall = time.perf_counter() - t
    spark.sparkContext.setJobDescription(None)
    names = per_layer_names()
    metrics = dict.fromkeys(names, 0.0)
    metrics.update(StatusReader(spark).summary(label, traced_wall, workload.cores))
    metrics["trace.overhead_frac"] = statistics.median(traced.step_s) / step_wall - 1.0
    layers, checked = workload.trace(statistics.median(traced.unit_wall_s))
    metrics.update(layers)
    traced.attempted += checked.attempted
    traced.failed += checked.failed
    for problem in checked.problems[:20]:
        print(f"CHECK FAILED: {problem}")
    absent = sorted(k for k in names if k not in layers and not k.startswith(("spark.", "trace.")))
    if absent:
        print(f"{workload.name}: not run by this workload, reported as 0: {', '.join(absent)}")
    print(
        f"{workload.name}: tracing overhead {metrics['trace.overhead_frac']:+.3f} of "
        f"the median step wall; layer self times leave "
        f"{metrics['trace.uncovered_frac']:.3f} of the step wall uncovered"
    )
    return metrics, traced


def run(args) -> dict:
    from perfbench.workloads import WORKLOADS

    cores = usable_cores()
    work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    spark = start_session(work, cores)
    try:
        workload = WORKLOADS[args.workload](spark, work, cores)
        setup_s = set_up(workload, args.seed)
        measured = workload.measure(args.seconds)
        report(args.workload, measured)
        step_wall = statistics.median(measured.step_s)
        attempted, failed = measured.attempted, measured.failed
        if args.trace:
            metrics, traced = traced_metrics(workload, args.seconds, step_wall)
            attempted += traced.attempted
            failed += traced.failed
            units = per_layer_names()
        else:
            metrics = {
                "setup_s": setup_s,
                "work_per_cpu_s": statistics.median(measured.work_per_cpu_s),
                "step_cpu_s": statistics.median(measured.step_cpu_s),
                "peak_rss_mb": peak_rss_mb(),
            }
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=["crawl", "curate"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    try:
        import __spark_entry__  # noqa: F401
        import apollo_service_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
