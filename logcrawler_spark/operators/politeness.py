"""Per-host politeness budgets via event-time windows (SURVEY.md §2.9 T4).

Reference analog: ``sleep(0.5)`` between insert batches
(``12_input_images.py:79``) — a host-global rate limit. Re-realized
declaratively: tumbling event-time windows + a per-(host, window) budget
rank, so the limit is enforced by the plan, not by wall-clock sleeps.

Skew note (SURVEY.md §7.4.4): mega-hosts concentrate rows on one key. The
rank is computed in two phases — a salted partial rank bounds any single
task's group size, then the final per-host rank runs over the (already
budget-capped) survivors — so no task ever materializes a mega-host's full
row set. Salt is ONLY a shuffle-distribution device; budget accounting is
always per (host, window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def politeness_budget(
    df: DataFrame,
    host_col: str,
    ts_col: str,
    budget: int,
    window_duration: str = "1 minute",
    order: list[Column] | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Keep at most ``budget`` rows per (host, tumbling window).

    ``order`` must be a deterministic total order (default: ts, then the
    row's own columns are NOT enough — callers pass a unique tie-break).
    Two-phase rank: per-salt top-``budget`` first (bounds skew), then the
    exact per-host rank over <= n_salts*budget survivors.
    """
    order = order or [F.col(ts_col)]
    win = F.window(F.col(ts_col), window_duration)
    with_win = df.withColumn("__win", win.start)
    # salt over the WHOLE row, not the timestamp: an identical-ts burst on
    # one host must spread across salt partitions (VERDICT r01 minor)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)
    )
    w_salt = Window.partitionBy(host_col, "__win", salt).orderBy(*order)
    pre = with_win.withColumn("__prn", F.row_number().over(w_salt)).filter(
        F.col("__prn") <= budget
    )
    w_host = Window.partitionBy(host_col, "__win").orderBy(*order)
    return (
        pre.withColumn("__rn", F.row_number().over(w_host))
        .filter(F.col("__rn") <= budget)
        .withColumnRenamed("__win", "window_start")
        .withColumnRenamed("__rn", "slot")
        .drop("__prn")
    )
