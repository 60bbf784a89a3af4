"""Distributed global ranking — total order without a single-partition sort.

``Window.orderBy(...)`` with no ``partitionBy`` funnels every row through ONE
task (Spark plans it as ``Exchange SinglePartition``) — fine at thousands of
rows, a serialization point at the 10^10-frontier scale this engine targets
(SURVEY.md §7, VERDICT r1 "What's wrong" #1-2). ``global_row_number`` computes
the identical 1-based rank in three distributed steps:

1. **range-partition** on the order columns (``repartitionByRange`` — Spark's
   sampled RangePartitioner, deterministic seeds), so partition *p* holds a
   contiguous slice of the total order;
2. **rank within partition** via a window PARTITIONED by the range-partition
   id — parallelism = number of range partitions, no global funnel;
3. **offset** each partition's ranks by the cumulative row count of the
   partitions before it. The per-partition counts are a ≤``n_partitions``-row
   aggregate; the running sum over them is computed with a broadcast
   nested-loop self-join (tiny × tiny) so the final plan contains NO
   ``Exchange SinglePartition`` anywhere (asserted by tests/test_plans.py).

Determinism: correctness of the offsets requires the counts branch and the
window branch to see IDENTICAL range-partition ids. The range-partitioned
frame is therefore persisted: both branches then scan one InMemoryRelation
over one ShuffledRowRDD instance, whose RangePartitioner bounds were sampled
exactly once — pid agreement no longer depends on Spark's exchange-reuse
rule firing (``spark.sql.exchange.reuse`` / AQE stage reuse), which is an
optimization, not a guarantee. The persisted intermediate must stay cached
until the consuming action runs; long-lived callers (the superstep loop,
soaks) pass ``cleanup=[...]`` and unpersist the appended frames after their
materializing action, so cached intermediates never accumulate for the
session lifetime. The output rank is
byte-identical to ``row_number() OVER (ORDER BY cols)`` and is emitted as
``bigint`` — an int rank would silently wrap past 2^31 rows, well inside
this engine's 10^10-frontier framing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec
from pyspark.storagelevel import StorageLevel


def _offset_by_range_partition(
    df: DataFrame,
    order_cols: list,
    out_col: str,
    total: Column,
    local: Callable[[WindowSpec], Column],
    n_partitions: int,
    cleanup: list | None,
) -> DataFrame:
    """The three distributed steps (module doc) shared by both rankers.

    ``total`` is the named per-partition aggregate the offsets accumulate;
    ``local(win)`` returns the named within-partition window column over
    ``win`` (partitioned by range-partition id, ordered by ``order_cols``).
    ``out_col`` = offset of the row's partition + its local value, bigint.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = (
        df.repartitionByRange(n_partitions, *cols)
        .withColumn("_rpid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cleanup is not None:
        cleanup.append(part)

    totals = part.groupBy("_rpid").agg(total)
    tot = totals.columns[-1]
    # running sum over ≤ n_partitions rows: broadcast non-equi self-join
    # instead of Window.orderBy (which would plan Exchange SinglePartition)
    a = totals.select(F.col("_rpid").alias("_apid"))
    b = totals.select(F.col("_rpid").alias("_bpid"), tot)
    offsets = (
        a.join(F.broadcast(b), F.col("_bpid") < F.col("_apid"), "left")
        .groupBy(F.col("_apid").alias("_rpid"))
        .agg(F.coalesce(F.sum(tot), F.lit(0)).alias("_off"))
    )

    ranked = part.select("*", local(Window.partitionBy("_rpid").orderBy(*cols)))
    loc = ranked.columns[-1]
    return (
        ranked.join(F.broadcast(offsets), "_rpid")
        .withColumn(out_col, (F.col("_off") + F.col(loc)).cast("bigint"))
        .drop("_rpid", loc, "_off")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
    n_partitions: int = 32,
    cleanup: list | None = None,
) -> DataFrame:
    """1-based global row_number (bigint) over the total order
    ``order_cols``, computed without any single-partition exchange.

    ``order_cols`` may be column names or Column expressions; the order must
    be total (ties would make the rank nondeterministic, exactly as with a
    plain window).

    ``cleanup``: optional list the persisted intermediate is appended to;
    the caller unpersists the appended frame(s) AFTER the action that
    materializes the result (unpersisting earlier would reopen the
    pid-divergence hazard the persist exists to close — see module doc).
    """
    return _offset_by_range_partition(
        df,
        order_cols,
        rank_col,
        total=F.count(F.lit(1)).alias("_cnt"),
        local=lambda win: F.row_number().over(win).alias("_r"),
        n_partitions=n_partitions,
        cleanup=cleanup,
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    sum_col: str = "running_sum",
    n_partitions: int = 32,
    cleanup: list | None = None,
    inclusive: bool = False,
) -> DataFrame:
    """Distributed prefix sum of ``value_col`` over the total order
    ``order_cols`` — the running-sum twin of :func:`global_row_number`,
    with the same three-step shape (range-partition → within-partition
    window → broadcast per-partition offsets) and the same persisted-pid
    determinism contract (see module doc; ``cleanup`` works identically).

    ``inclusive=False`` (the default) sums the values STRICTLY BEFORE the
    row in the total order — the "offset of this row" convention a
    concat-and-chunk sequence packer needs (the first row gets 0).
    ``inclusive=True`` gives the classic running total including the row.

    Equivalent to ``SUM(v) OVER (ORDER BY cols ROWS BETWEEN UNBOUNDED
    PRECEDING AND {1 PRECEDING | CURRENT ROW})`` but with NO
    ``Exchange SinglePartition`` anywhere in the plan: a naive
    ``Window.orderBy`` prefix sum funnels 100 TB of rows through one task.
    The per-partition totals branch is a ≤``n_partitions``-row aggregate;
    sums are carried as ``bigint`` (exact — the intended inputs are token
    counts, not floats, so association order cannot change the result).
    """
    value = F.col(value_col).cast("bigint")
    upper = 0 if inclusive else -1
    return _offset_by_range_partition(
        df,
        order_cols,
        sum_col,
        total=F.sum(value).alias("_tot"),
        local=lambda win: F.coalesce(
            F.sum(value).over(win.rowsBetween(Window.unboundedPreceding, upper)),
            F.lit(0),
        ).alias("_ls"),
        n_partitions=n_partitions,
        cleanup=cleanup,
    )
