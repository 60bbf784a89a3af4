"""Per-label runtime counters from Spark's status stores (UI off).

The benchmark tags every Spark action of a measured step with
``SparkContext.setJobDescription(label)``; the core status store keeps the
label on each job and stage, and the SQL status store keeps it on each
execution. Both stores stay readable with ``spark.ui.enabled=false``.

The listener bus is asynchronous, so :meth:`StatusReader.drain` waits until
it is empty before anything is read (right after a write returns, stage
completion times can still be missing). Skipped stages — a shuffle reused
from an earlier job — appear as rows whose counters are all zero; they are
dropped, so only stages that ran are counted.
"""

from __future__ import annotations

import re

_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_MULT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

# SQL node metrics summed into spark.python_data_bytes
_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def parse_size(value: str) -> int:
    """Bytes in a SQL size-metric string.

    Values are either a plain ``"12.0 KiB"`` or a task summary
    ``"total (min, med, max (stageId: taskId))\\n401.2 KiB (99.5 KiB, ...)"``;
    the first size on the total line is the total."""
    lines = value.strip().split("\n")
    m = _SIZE_RE.search(lines[-1] if len(lines) > 1 else lines[0])
    if m is None:
        return 0
    return int(float(m.group(1).replace(",", "")) * _SIZE_MULT[m.group(2)])


def _description(opt) -> str | None:
    return opt.get() if opt.isDefined() else None


class StatusReader:
    """Reads per-label job/stage/SQL counters from one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._jvm = spark.sparkContext._jvm

    def drain(self, timeout_ms: int = 30_000) -> None:
        """Block until every queued listener event has been processed."""
        self._sc.listenerBus().waitUntilEmpty(timeout_ms)

    def stage_rows(self, label: str) -> list:
        """One dict per stage that ran under ``label`` (skipped stages and
        all-zero rows dropped)."""
        self.drain()
        stages = self._sc.statusStore().stageList(
            None, False, False, self._gateway.new_array(self._jvm.double, 0), None
        )
        rows = []
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            if _description(s.description()) != label:
                continue
            row = {
                "stage_id": s.stageId(),
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks(),
                "executor_run_ms": s.executorRunTime(),
                "executor_cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
            if row["status"] == "SKIPPED" or not any(
                v for k, v in row.items() if k not in ("stage_id", "status")
            ):
                continue
            rows.append(row)
        return rows

    def job_count(self, label: str) -> int:
        self.drain()
        jobs = self._sc.statusStore().jobsList(None)
        n = 0
        it = jobs.iterator()
        while it.hasNext():
            if _description(it.next().description()) == label:
                n += 1
        return n

    def python_bytes(self, label: str) -> int:
        """Arrow bytes sent to plus returned from Python workers, summed over
        the SQL executions tagged ``label`` (each accumulator counted once:
        AQE re-plans list the same node metric under several executions)."""
        self.drain()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        seen: dict = {}
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            if e.description() != label:
                continue
            values = sql.executionMetrics(e.executionId())
            mi = e.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() not in _PYTHON_BYTES:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    seen[m.accumulatorId()] = parse_size(v.get())
        return sum(seen.values())

    def summary(self, label: str, wall_s: float, cores: int) -> dict:
        """The ``spark.*`` per-layer metrics for everything run under
        ``label`` during ``wall_s`` seconds of wall time on ``cores``."""
        rows = self.stage_rows(label)
        run_s = sum(r["executor_run_ms"] for r in rows) / 1000.0
        return {
            "spark.jobs": self.job_count(label),
            "spark.stages": len(rows),
            "spark.tasks": sum(r["tasks"] for r in rows),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(r["executor_cpu_ns"] for r in rows) / 1e9,
            "spark.gc_s": sum(r["gc_ms"] for r in rows) / 1000.0,
            "spark.shuffle_read_bytes": sum(r["shuffle_read_bytes"] for r in rows),
            "spark.shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in rows),
            "spark.spill_bytes": sum(r["spill_bytes"] for r in rows),
            "spark.python_data_bytes": self.python_bytes(label),
            "spark.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }
