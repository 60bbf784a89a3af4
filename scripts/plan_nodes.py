"""Count the plan nodes and Spark jobs of one registry query.

Usage: python scripts/plan_nodes.py <key> [sf_dir]

``sf_dir`` (default ``$SPARK_GRAFT_SF_DIR``) holds the tables as
``<name>.parquet``. The session is ``local[$SPARK_GRAFT_CPUS]`` with as many
shuffle partitions, as ``session.build_session`` sets it up.

Prints one JSON line:

- ``scans``, ``exchanges``, ``broadcast_exchanges``, ``generate`` and
  ``arrow_eval_python`` (pandas UDFs): nodes of the key's returned frame's
  formatted physical plan, counted by distinct ``(N)`` id, because the
  formatted plan prints a cached subtree once per reference;
- ``flat_map_groups_in_arrow`` (``applyInArrow`` passes, such as the seen
  store's): nodes counted the same way but over the physical plan of every
  SQL execution of the warm run, summed, because those passes run while
  ``crawl_frontier`` builds its frame and never appear in the returned
  frame's plan;
- ``jobs``, ``stages``, ``tasks`` and ``python_bytes`` (Arrow bytes sent to
  and returned from Python workers): what one warm run of the key cost,
  building its frame and writing it into a parquet sink, read from Spark's
  status stores through ``perfbench.status``. The build counts because a
  key may run an engine there: ``crawl_frontier`` crawls (the seen store's
  ``applyInArrow`` passes included) before it returns the crawl log, so its
  returned plan holds none of that work. The key runs once first, so the
  count is of a warm run with its code already generated.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402
from apollo_service_spark.plans.queries import release_all  # noqa: E402
from apollo_service_spark.session import build_session  # noqa: E402
from perfbench.status import StatusReader  # noqa: E402

NODES = {
    "scans": r"Scan \w+",
    "exchanges": r"Exchange",
    "broadcast_exchanges": r"BroadcastExchange",
    "generate": r"Generate",
    "arrow_eval_python": r"ArrowEvalPython",
}


def _distinct(plan: str, rx: str) -> int:
    return len(set(re.findall(rf"^\((\d+)\) {rx}\b", plan, flags=re.MULTILINE)))


def plan_counts(df) -> dict:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return {name: _distinct(plan, rx) for name, rx in NODES.items()}


def executed_flat_map_groups(reader: StatusReader, label: str) -> int:
    """FlatMapGroupsInArrow nodes summed over the formatted physical plans
    of the SQL executions run under ``label`` (the SQL status store keeps
    each execution's final plan, formatted, with the UI off)."""
    reader.drain()
    sql = reader.spark._jsparkSession.sharedState().statusStore()
    n = 0
    it = sql.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.description() == label:
            n += _distinct(e.physicalPlanDescription(), "FlatMapGroupsInArrow")
    return n


def main(argv: list) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    key = argv[0]
    sf_dir = argv[1] if len(argv) == 2 else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("plan_nodes: pass sf_dir or set SPARK_GRAFT_SF_DIR", file=sys.stderr)
        return 2
    spark = build_session(
        app_name="plan-nodes",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    query = em.queries()[key]
    label = f"plan_nodes:{key}"
    try:
        with tempfile.TemporaryDirectory() as out:
            sink = os.path.join(out, "out.parquet")
            query(spark, sf_dir).write.mode("overwrite").parquet(sink)  # warm-up
            spark.sparkContext.setJobDescription(label)
            t = time.perf_counter()
            df = query(spark, sf_dir)
            counts = plan_counts(df)
            df.write.mode("overwrite").parquet(sink)
            wall = time.perf_counter() - t
            spark.sparkContext.setJobDescription(None)
        cores = spark.sparkContext.defaultParallelism
        reader = StatusReader(spark)
        summary = reader.summary(label, wall, cores)
        counts.update(
            flat_map_groups_in_arrow=executed_flat_map_groups(reader, label),
            jobs=summary["spark.jobs"],
            stages=summary["spark.stages"],
            tasks=summary["spark.tasks"],
            python_bytes=summary["spark.python_data_bytes"],
        )
        print(json.dumps({"key": key, "cores": cores, **counts}))
    finally:
        release_all()
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
