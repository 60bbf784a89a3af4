#!/usr/bin/env python
"""Scaling efficiency from N to 4N executors: perfbench's ``crawl`` and
``curate`` units on ``local-cluster[1,1,M]`` against ``local-cluster[4,1,M]``.

    python bench_scaling.py [--pairs 10]

Run from the repository root. Each run is one workload at one size in its
own driver process and process group: a fresh session, perfbench's
generate, warm-up and references, then ``UNITS`` units of work, each one
``measure(0)`` call with its output checks. Both sizes time the same units,
with the crawl's ``n_partitions`` and the shuffle partitions at ``CORES``,
so only the executor count differs. A pair is one run at each size, the
order alternating between pairs. Per pair:

* by wall: (work/wall at 4N) / (4 × work/wall at N);
* by CPU: (work per CPU-second at 4N) / (work per CPU-second at N), with
  the CPU of the whole process tree (the executor JVMs and their Python
  workers are descendants of the driver).

A pair with a failed check or a failed run is left out and counted. Before
and after each run, a kernel probe times the crawl's per-link work
(``html.extract_links`` + ``urlkit.expand_link_py``) in 1 and 4 bare
processes: the host's ceiling at each size. Writes ``BENCH/SCALING_r07.json``
and ``.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

from apollo_service_spark.functions.html import extract_links
from apollo_service_spark.functions.urlkit import expand_link_py

ROOT = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, "BENCH", "SCALING_r07")
WORKLOADS = ("crawl", "curate")
SIZES = (1, 4)  # executor JVMs, one core each
EXECUTOR_MB = 2048
DRIVER_HEAP = "2g"
CORES = 4
UNITS = 2
SEED = 1
RUN_TIMEOUT_S = 1200
TARGET = 0.8


def _unit_cost(name: str, m) -> tuple:
    """(work, wall s, tree CPU s) of the one unit a ``measure(0)`` ran."""
    if name == "crawl":
        urls = m.named["crawl_urls"][0]
        return urls, m.unit_wall_s[0], urls / m.work_per_cpu_s[0]
    from perfbench.workloads import CURATE_PAGES

    # one extract (the median of the unit's four) and the corpus_prepare
    extract_cpu = statistics.median(CURATE_PAGES / w for w in m.work_per_cpu_s)
    return CURATE_PAGES, m.unit_wall_s[0], extract_cpu + m.step_cpu_s[0]


def one_run(name: str, executors: int, work: str) -> dict:
    """One workload at one size, in this process, everything it writes
    under the empty dir ``work``; returns its figures."""
    from apollo_service_spark.session import build_session, local_cluster_home
    from perfbench.procs import peak_rss_mb
    from perfbench.run import stop_session
    from perfbench.status import StatusReader
    from perfbench.workloads import WORKLOADS as BENCH

    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # the launcher, the executors and their Python workers inherit these
    os.environ.update(
        SPARK_HOME=local_cluster_home(work),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    spark = build_session(
        app_name=f"scaling-{name}-{executors}",
        master=f"local-cluster[{executors},1,{EXECUTOR_MB}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.executor.memory": f"{EXECUTOR_MB}m",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        bench = BENCH[name](spark, os.path.join(work, "bench"), CORES)
        bench.generate(SEED)
        bench.warm_up()
        bench.set_reference(bench.reference())
        label = f"scaling:{name}:{executors}"
        spark.sparkContext.setJobDescription(label)
        t = time.perf_counter()
        units = [bench.measure(0) for _ in range(UNITS)]
        labelled_wall = time.perf_counter() - t
        spark.sparkContext.setJobDescription(None)
        costs = [_unit_cost(name, m) for m in units]
        return {
            "workload": name, "executors": executors,
            "work": sum(c[0] for c in costs),
            "wall_s": sum(c[1] for c in costs),
            "cpu_s": sum(c[2] for c in costs),
            "attempted": sum(m.attempted for m in units),
            "failed": sum(m.failed for m in units),
            "problems": [p for m in units for p in m.problems][:5],
            "status": StatusReader(spark).summary(label, labelled_wall, executors),
            "peak_rss_mb": peak_rss_mb(),
        }
    finally:
        stop_session(spark)


def spawn(name: str, executors: int) -> dict:
    """``one_run`` in a child process group, killed whole when it ends."""
    work = tempfile.mkdtemp(prefix=f"scaling-{name}-{executors}-")
    code = f"import json, bench_scaling as b; print(json.dumps(b.one_run({name!r}, {executors}, {work!r})))"
    proc = subprocess.Popen(
        [sys.executable, "-c", code], cwd=ROOT, text=True, start_new_session=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out, err = "", f"timed out after {RUN_TIMEOUT_S} s"
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not out.strip():
        return {"workload": name, "executors": executors, "error": err[-2000:]}
    return json.loads(out.strip().splitlines()[-1])


def _kernel(pages: list) -> int:
    return sum(expand_link_py(x) is not None for u, html in pages for x in extract_links(html, u))


def kernel_probe(pages: list) -> dict:
    """Pages per second of the crawl's link kernel on ``pages`` (url, html)
    in 1 and 4 processes."""
    rates = {}
    for procs in SIZES:
        with multiprocessing.get_context("spawn").Pool(procs) as pool:
            pool.map(_kernel, [[]] * procs, chunksize=1)  # workers started and imported
            t = time.perf_counter()
            pool.map(_kernel, [pages] * procs, chunksize=1)
            rates[procs] = procs * len(pages) / (time.perf_counter() - t)
    return rates


def median_iqr(values: list) -> dict:
    if not values:
        return dict.fromkeys(("median", "q1", "q3"), float("nan")) | {"n": 0}
    q1, _, q3 = statistics.quantiles(values if len(values) > 1 else values * 2, n=4, method="inclusive")
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def ok(run: dict) -> bool:
    return "error" not in run and run["failed"] == 0


def efficiencies(n: dict, n4: dict) -> tuple:
    """(by wall, by CPU) of one pair of runs, N first."""
    scale = SIZES[1] // SIZES[0]
    by_wall = (n4["work"] / n4["wall_s"]) / (scale * n["work"] / n["wall_s"])
    by_cpu = (n4["work"] / n4["cpu_s"]) / (n["work"] / n["cpu_s"])
    return by_wall, by_cpu


def attribute(size: dict, by_wall: float, by_cpu: float) -> dict:
    """Where an efficiency below TARGET goes, from the StatusReader medians
    of each size. By wall, efficiency = (busy share of the executors at 4N /
    at N) × (executor task time at N / at 4N): the smaller factor is named.
    By CPU, the part of the tree CPU that grew more is named."""
    n, n4 = size[SIZES[0]], size[SIZES[1]]
    out = {}
    if by_wall < TARGET:
        busy = n4["spark.core_busy_frac"] / n["spark.core_busy_frac"]
        run = n["spark.executor_run_s"] / n4["spark.executor_run_s"]
        out["wall"] = (
            f"outside executor tasks (driver, scheduling): busy share "
            f"{n4['spark.core_busy_frac']:.2f} at 4N against {n['spark.core_busy_frac']:.2f} "
            f"at N (factor {busy:.2f}; task time factor {run:.2f})"
            if busy < run else
            f"executor tasks: task time {n4['spark.executor_run_s']:.1f} s at 4N against "
            f"{n['spark.executor_run_s']:.1f} s at N (factor {run:.2f}; busy factor {busy:.2f})"
        ) if min(busy, run) < 0.95 else "unknown"
    if by_cpu < TARGET:
        grew = {
            "executor task threads (spark.executor_cpu_s)":
                n4["spark.executor_cpu_s"] - n["spark.executor_cpu_s"],
            "outside task threads (driver, Python workers, JIT and GC threads)":
                (n4["cpu_s"] - n4["spark.executor_cpu_s"]) - (n["cpu_s"] - n["spark.executor_cpu_s"]),
        }
        part = max(grew, key=grew.get)
        out["cpu"] = f"{part}: +{grew[part]:.1f} CPU-s per run at 4N" if grew[part] > 0 else "unknown"
    return out


def summarize(name: str, pairs: list) -> dict:
    """Paired efficiencies, per-size medians and attribution of one workload."""
    used = [p for p in pairs if ok(p["runs"][0]) and ok(p["runs"][1])]
    effs = [efficiencies(*p["runs"]) for p in used]
    size = {}
    for i, executors in enumerate(SIZES):
        runs = [p["runs"][i] for p in used]
        keys = ["wall_s", "cpu_s", "peak_rss_mb"] + sorted(runs[0]["status"]) if runs else []
        size[executors] = {
            k: statistics.median(r.get(k, r["status"].get(k)) for r in runs) for k in keys
        }
    by_wall = median_iqr([e[0] for e in effs])
    by_cpu = median_iqr([e[1] for e in effs])
    return {
        "workload": name, "pairs_used": len(used), "pairs_excluded": len(pairs) - len(used),
        "wall_efficiency": by_wall, "cpu_efficiency": by_cpu, "sizes": size,
        "below_target": attribute(size, by_wall["median"], by_cpu["median"]) if used else {},
    }


def _fmt(s: dict) -> str:
    return f"{s['median']:.3f} [{s['q1']:.3f}, {s['q3']:.3f}]"


def report(result: dict) -> str:
    lines = [
        "# Scaling from N to 4N executors (`bench_scaling.py`)", "",
        f"`local-cluster[1,1,{EXECUTOR_MB}]` against `local-cluster[4,1,{EXECUTOR_MB}]`, "
        f"driver heap {DRIVER_HEAP}, {UNITS} perfbench units per run, "
        f"`n_partitions` and shuffle partitions {CORES} at both sizes; "
        f"{os.cpu_count()} cores, {os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') >> 20:,} "
        "MiB of RAM. Efficiencies are median [IQR] over pairs.", "",
        "| workload | pairs used / excluded | by wall | by CPU | below 0.8: where |",
        "|---|---|---|---|---|",
    ]
    for s in result["summary"].values():
        where = "; ".join(f"{k}: {v}" for k, v in s["below_target"].items()) or "-"
        lines.append(
            f"| {s['workload']} | {s['pairs_used']} / {s['pairs_excluded']} | "
            f"{_fmt(s['wall_efficiency'])} | {_fmt(s['cpu_efficiency'])} | {where} |"
        )
    k = result["kernel"]
    lines += ["", "Kernel ceiling (pages/s of the crawl's link kernel, median [IQR] of "
              f"{k['1']['n']} probes): 1 process {_fmt(k['1'])}, 4 processes "
              f"{_fmt(k['4'])}, speedup {_fmt(k['speedup'])}.", "",
              "## Per size (medians over the pairs used)", "",
              "| workload | executors | wall s | tree CPU s | executor CPU s | GC s | "
              "shuffle write B | core_busy_frac | peak RSS MiB |", "|---|---|---|---|---|---|---|---|---|"]
    for s in result["summary"].values():
        for ex, v in s["sizes"].items():
            lines.append(
                f"| {s['workload']} | {ex} | {v['wall_s']:.2f} | {v['cpu_s']:.2f} | "
                f"{v['spark.executor_cpu_s']:.2f} | {v['spark.gc_s']:.2f} | "
                f"{v['spark.shuffle_write_bytes']:,.0f} | {v['spark.core_busy_frac']:.3f} | "
                f"{v['peak_rss_mb']:,.0f} |"
            )
    lines += ["", "## Every run", "",
              "| pair | workload | first | N wall s | 4N wall s | N CPU s | 4N CPU s | "
              "by wall | by CPU | checks |", "|---|---|---|---|---|---|---|---|---|---|"]
    for p in result["pairs"]:
        n, n4 = p["runs"]
        if ok(n) and ok(n4):
            w, c = efficiencies(n, n4)
            cells = f"{n['wall_s']:.2f} | {n4['wall_s']:.2f} | {n['cpu_s']:.2f} | " \
                    f"{n4['cpu_s']:.2f} | {w:.3f} | {c:.3f} | ok"
        else:
            bad = [r for r in (n, n4) if not ok(r)]
            why = "; ".join(r.get("error", "")[-80:] or f"{r['failed']} failed" for r in bad)
            cells = f"- | - | - | - | - | - | excluded: {why}"
        lines.append(f"| {p['pair']} | {p['workload']} | {p['first']} | {cells} |")
    return "\n".join(lines) + "\n"


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--pairs", type=int, default=10)
    args = parser.parse_args(argv)
    from perfbench import gen
    from perfbench.workloads import CRAWL_SHAPE

    corpus = gen.crawl_corpus(SEED, **CRAWL_SHAPE)
    pages = [(u, h) for u, h in corpus["pages"].items() if h is not None]
    probes, pairs = [kernel_probe(pages)], []
    for i in range(args.pairs):
        order = SIZES if i % 2 == 0 else SIZES[::-1]
        for name in WORKLOADS:
            runs = {}
            for executors in order:
                runs[executors] = spawn(name, executors)
                probes.append(kernel_probe(pages))
                print(json.dumps({"pair": i, **runs[executors]}), file=sys.stderr)
            pairs.append({"pair": i, "workload": name, "first": order[0],
                          "runs": [runs[s] for s in SIZES]})
    result = {
        "executor_mb": EXECUTOR_MB, "driver_heap": DRIVER_HEAP, "units": UNITS,
        "cores": CORES, "pairs": pairs, "probes": probes,
        "kernel": {"1": median_iqr([p[1] for p in probes]), "4": median_iqr([p[4] for p in probes]),
                   "speedup": median_iqr([p[4] / p[1] for p in probes])},
        "summary": {n: summarize(n, [p for p in pairs if p["workload"] == n]) for n in WORKLOADS},
    }
    with open(OUT + ".json", "w", encoding="utf-8") as f:
        json.dump(result, f, indent=1)
    with open(OUT + ".md", "w", encoding="utf-8") as f:
        f.write(report(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
