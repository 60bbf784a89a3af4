#!/usr/bin/env python
"""Third-family scaling evidence: the Arrow cleaning kernel at N vs 4N.

``bench_scaling.py`` evidences the north rule on the frontier superstep and
``bench_scaling_curation.py`` on the shuffle-bound inverted-index family;
this runs the SAME protocol (interleaved rounds, taskset-pinned JVMs,
kernel-probe bracketing and acceptance, identical partition counts at both
levels) on the third execution shape the engine ships: the zero-shuffle
Arrow-UDF projection — ``_with_repetition_stats`` with the Counter kernel
(``udfs.repetition_stats_udf``), the per-doc stage every cleaning job runs
over the full corpus.  The first two families exercise the exchange layer;
this one exercises the Python-worker layer (fork/reuse, Arrow batch
transfer, per-core kernel throughput), which has its own ways to stop
scaling (worker pool contention, batch serialization overheads) that no
shuffle benchmark can see.

Input is synthesized IN Spark exactly as the curation harness does (60
pseudo-words per doc from a 5000-word vocabulary via integer hashing,
identical at any parallelism).  Probe/acceptance machinery is imported
from ``bench_scaling`` so the three artifacts cannot drift
methodologically.  Writes ``BENCH/SCALING_CLEANING.md`` and prints one
JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_scaling import (  # noqa: E402
    HEAP_PER_CORE_GB,
    KERNEL_AGREE,
    kernel_probe,
    sha_probe,
)

N_DOCS = int(os.environ.get("SCALING_CLEANING_DOCS", "400000"))
WORDS_PER_DOC = 60
VOCAB = 5000
WARMUPS = 2
REPEATS = 3
MIN_ROUNDS = int(os.environ.get("SCALING_CLEANING_ROUNDS", "5"))
MAX_ROUNDS = MIN_ROUNDS + 3
MIN_ACCEPTED = 3


def _synth_docs(spark, n_docs: int):
    """Same deterministic corpus as bench_scaling_curation._synth_docs."""
    from pyspark.sql import functions as F

    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
        lambda j: F.concat(
            F.lit("w"),
            (
                (F.col("id") * 2654435761 + j * 40503 + (F.col("id") + j) % 97)
                % VOCAB
            ).cast("string"),
        ),
    )
    return spark.range(n_docs, numPartitions=64).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def _cleaning_job(docs):
    """The measured job: the repetition projection through the Arrow
    Counter kernel, materialized via the noop sink — count() would
    column-prune the kernel away entirely."""
    from apollo_service_spark.plans.queries import _with_repetition_stats

    out = _with_repetition_stats(docs).drop("text")
    out.write.format("noop").mode("overwrite").save()


def worker(cpus: int, n_docs: int) -> None:
    from apollo_service_spark.session import build_session

    heap = max(3, int(cpus * HEAP_PER_CORE_GB))
    spark = build_session(
        app_name=f"scaling-cleaning-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=64,  # identical at both levels (strong scaling)
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-tmp",
            "spark.driver.memory": f"{heap}g",
            "spark.driver.extraJavaOptions": f"-Xms{heap}g -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs).persist()
    docs.count()  # materialize input outside the timed region

    best = None
    for i in range(WARMUPS + REPEATS):
        t0 = time.monotonic()
        _cleaning_job(docs)
        wall = time.monotonic() - t0
        if i < WARMUPS:
            continue
        if best is None or wall < best["wall_s"]:
            best = {
                "cpus": cpus,
                "n_docs": n_docs,
                "wall_s": round(wall, 3),
                "docs_per_sec": round(n_docs / wall),
            }
    print(json.dumps(best))
    spark.stop()


def _run_level(cpus: int, n_docs: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--worker", str(cpus),
           "--n-docs", str(n_docs)]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--worker", type=int, default=None)
    parser.add_argument("--n-docs", type=int, default=N_DOCS)
    args = parser.parse_args()

    if args.worker is not None:
        worker(args.worker, args.n_docs)
        return

    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    sha_start = sha_probe()
    best = {8: None, 32: None}
    rounds = []
    n_accepted = 0
    for _round in range(MAX_ROUNDS):
        load0 = os.getloadavg()
        k_pre = kernel_probe()
        e8 = _run_level(8, args.n_docs)
        k_mid = kernel_probe()
        e32 = _run_level(32, args.n_docs)
        k_post = kernel_probe()
        load1 = os.getloadavg()

        ks = [k_pre["speedup"], k_mid["speedup"], k_post["speedup"]]
        agree = max(ks) / min(ks)
        accepted = agree <= KERNEL_AGREE
        raw = e32["docs_per_sec"] / e8["docs_per_sec"]
        k_med = statistics.median(ks)
        rounds.append({
            "e8": e8["docs_per_sec"], "e32": e32["docs_per_sec"],
            "raw_speedup": round(raw, 3),
            "kernel_speedups": [round(k, 3) for k in ks],
            "kernel_agree": round(agree, 3),
            "paired_eff": round(raw / k_med, 3),
            "accepted": accepted,
            "loadavg": [round(load0[0], 2), round(load1[0], 2)],
        })
        for lvl, e in ((8, e8), (32, e32)):
            if best[lvl] is None or e["docs_per_sec"] > best[lvl]["docs_per_sec"]:
                best[lvl] = e
        n_accepted += accepted
        if _round + 1 >= MIN_ROUNDS and n_accepted >= MIN_ACCEPTED:
            break

    acc = [r for r in rounds if r["accepted"]]
    effs = sorted(r["paired_eff"] for r in acc) or [0.0]
    med_eff = effs[len(effs) // 2]
    raw_eff = (best[32]["docs_per_sec"] / best[8]["docs_per_sec"]) / 4
    result = {
        "workload": "cleaning_arrow_repetition_kernel",
        "n_docs": args.n_docs,
        "docs_per_sec_8": best[8]["docs_per_sec"],
        "docs_per_sec_32": best[32]["docs_per_sec"],
        "median_paired_efficiency": round(med_eff, 3),
        "eff_min": effs[0], "eff_max": effs[-1],
        "absolute_eff": round(raw_eff, 3),
        "rounds_accepted": len(acc), "rounds_total": len(rounds),
        "sha_machine_speedup": round(sha_start["speedup"], 3),
        "criterion_pass": med_eff >= 0.8,
        "rounds": rounds,
    }
    with open("BENCH/SCALING_CLEANING.json", "w") as f:
        json.dump(result, f, indent=1)
    with open("BENCH/SCALING_CLEANING.md", "w") as f:
        f.write(
            "# Scaling evidence — Arrow cleaning-kernel family\n\n"
            "Same protocol as BENCH/BASELINE.md (kernel-bracketed interleaved "
            "rounds,\ntaskset-pinned JVMs, identical partitioning at both "
            "levels), measured on the\nzero-shuffle Arrow-UDF cleaning "
            f"projection ({args.n_docs} synthetic docs × {WORDS_PER_DOC} "
            "words,\nrepetition Counter kernel + derived fracs, noop-"
            "materialized).  This is the\nPython-worker execution shape — "
            "the one the frontier and inverted-index\nfamilies cannot "
            "see.\n\n"
            f"- local[8]:  **{best[8]['docs_per_sec']:,} docs/s** "
            f"(best of {len(rounds)} rounds)\n"
            f"- local[32]: **{best[32]['docs_per_sec']:,} docs/s**\n"
            f"- median paired efficiency (kernel-normalized, accepted rounds "
            f"only): **{med_eff}**\n"
            f"- dispersion: {effs[0]} – {effs[-1]} over {len(acc)} accepted "
            f"/ {len(rounds)} rounds\n"
            f"- absolute N→4N efficiency (no normalization): {round(raw_eff, 3)}\n"
            f"- criterion (≥ 0.8): {'PASS' if med_eff >= 0.8 else 'FAIL'}\n\n"
            "Per-round detail in SCALING_CLEANING.json.\n"
        )
    print(json.dumps({k: v for k, v in result.items() if k != "rounds"}))


if __name__ == "__main__":
    main()
