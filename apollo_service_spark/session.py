"""SparkSession factory with the engine's tuned defaults, the one session
builder of every entry point: plain Python and spark-submit alike.

Local-mode settings mirror what a 1000-executor cluster deployment would set
via spark-submit conf: AQE on (runtime coalescing + skew-join splitting),
shuffle partitions sized to the parallelism level, Arrow enabled for the
engine's kernels (the pandas and Arrow UDFs of ``functions/udfs.py``) and
its ``applyInArrow``/``applyInPandas``/``mapInPandas`` passes, and broadcast
threshold left at default so the small robots/politeness dimension tables
broadcast automatically.

Under spark-submit (``PYSPARK_GATEWAY_PORT`` set) the launcher has started
the JVM with its master and ``--conf`` flags, and ``build_session`` sets only
the keys it left unset: ``--conf`` stays the deployment's override, e.g.
``spark.sql.shuffle.partitions`` on a non-local master, which gets 32.

Python workers run under ``apollo_service_spark.worker_daemon``, a fixed conf
and not an option. PySpark's worker calls ``importlib.invalidate_caches()``
at the start of every task, and on Python 3.11 each of the worker's 16 cached
zip importers then re-reads its archive's central directory: 12 on
``pyspark.zip`` (1,328 entries, 11 ms each) and 2 on the spark-core jar
(5,359 entries, 47 ms each), 0.17-0.23 CPU-s per task before it reads a row.
The daemon's importers re-read an archive only when its stat changed: a
4-task pandas-UDF stage over empty partitions went from 0.89-1.11 to
0.09-0.22 CPU-s of worker CPU (local[4], Python 3.11.7, Spark 4.1.2).
The daemon is started with ``python -m``, so ``build_session`` puts the
package's parent directory on the workers' ``PYTHONPATH``, or, when the
package is imported from a zip shipped with ``--py-files``, that zip's
basename, the path executors fetch it to. Without it the daemon would import
only from a JVM started in the repository root, and a daemon that fails to
import takes every Python task of the session with it.
"""

from __future__ import annotations

import os
import sys

from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from . import worker_daemon

# the directory that holds this package, for ``python -m`` in the workers;
# imported from a zip (spark-submit --py-files), the zip's basename: each
# executor fetches it to its working directory
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isfile(_PACKAGE_PARENT):
    _PACKAGE_PARENT = os.path.basename(_PACKAGE_PARENT)

# AQEPropagateEmptyRelation can collapse a subtree holding a CollectMetrics
# node (df.observe) before it runs, resolving its Observation to an empty row
# (seen on the final crawl supersteps, where the new links are empty)
AQE_EMPTY_RELATION_RULE = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


def _master_cores(master: str, cpus: int) -> int:
    """Total cores of a local master, the default shuffle partition count:
    ``local`` → 1, ``local[N]`` → N, ``local[*]`` → ``cpus``,
    ``local-cluster[E,C,M]`` → E executors × C cores each. Any other master
    gets 32; on a real cluster pass 2-3× its total cores instead."""
    if "[" not in master:
        return 1 if master == "local" else 32
    fields = master[master.find("[") + 1 : master.find("]")].split(",")
    if fields[0] == "*":
        return cpus
    if master.startswith("local-cluster"):
        return int(fields[0]) * int(fields[1])
    return int(fields[0])


def build_session(
    app_name: str = "apollo-service-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # spark-submit starts the JVM, with its master and any --conf, before
    # this runs; plain Python leaves PYSPARK_GATEWAY_PORT unset (its own
    # launched JVM reports master local[*], so it must not be read there)
    launched = {}
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        launched = dict(SparkConf().getAll())
        # spark-submit names the app after its script unless --name is given
        if launched.get("spark.app.name") == os.path.basename(sys.argv[0]):
            del launched["spark.app.name"]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = launched.get("spark.master") or master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _master_cores(master, cpus)

    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # NOTE (r6, measured): lowering coalescePartitions.minPartitionSize
        # to 64k (parallelism-first coalescing for small shuffles) was A/B
        # tested across the suite — it bought ~1 s on cluster_greedy (whose
        # post-distinct projection AQE squeezes to 1-3 partitions) but cost
        # ~0.5-0.8 s EACH on the line/gram pipelines, net negative.  The
        # default stays; cluster_greedy fixes its own coalescing locally.
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # Static conf, read when the JVM's codegen first runs. The
        # generated-class cache must hold the engine's working set or every
        # plan recompiles on each run (Janino, then HotSpot JIT of the fresh
        # class). At the default 100 entries a repeated 2-superstep crawl
        # recompiled 105-141 classes and a curate cycle 104-114 (local[4]);
        # at 1000 a repeat compiles none.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # keeps the superstep's observed metrics alive (FrontierEngine checks
        # it); empty-relation pruning buys nothing on these explicit plans
        "spark.sql.adaptive.optimizer.excludedRules": AQE_EMPTY_RELATION_RULE,
        "spark.python.daemon.module": worker_daemon.__name__,
        "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
        **(extra_conf or {}),
    }
    builder = SparkSession.builder
    for key, val in conf.items():
        if key not in launched:
            builder = builder.config(key, val)
    return builder.getOrCreate()


def local_cluster_home(parent: str) -> str:
    """A Spark home under ``parent``: symlinks to the installed one, plus a
    real, empty ``work`` dir. ``local-cluster`` workers put each executor's
    dir under ``$SPARK_HOME/work`` and ignore ``SPARK_WORKER_DIR``, so a
    launcher started with ``SPARK_HOME`` set to this path leaves nothing in
    the installation."""
    home = os.path.join(parent, "spark_home")
    os.makedirs(os.path.join(home, "work"))
    real = _find_spark_home()
    for name in os.listdir(real):
        if name != "work":
            os.symlink(os.path.join(real, name), os.path.join(home, name))
    return home


def observations_survive(spark: SparkSession) -> bool:
    """Whether ``df.observe`` nodes live until they run: AQE off, or
    ``AQE_EMPTY_RELATION_RULE`` excluded, as ``build_session`` sets it."""
    if spark.conf.get("spark.sql.adaptive.enabled").strip().lower() != "true":
        return True
    excluded = spark.conf.get("spark.sql.adaptive.optimizer.excludedRules", "")
    return AQE_EMPTY_RELATION_RULE in {r.strip() for r in excluded.split(",")}


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark codegen has compiled in this JVM so far; cache hits do
    not count. Read on the driver through py4j, with no Spark job. In local
    mode the executors share the driver's JVM, so this counts every compile;
    on a cluster it counts only the driver's."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
