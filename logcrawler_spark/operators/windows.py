"""Window-function operators (SURVEY.md §2.5).

- carry-forward     (W3, sparse->dense symbol reconstruction,
                     ``11_input_behavior_symbols.py:107-111,261-295``)
- top-1 / top-k per group (W4/O4, ``PatchExecutor.py:191-209``,
                     the frontier's per-host budget)

All are single-shuffle window passes on the partition key; no Python.
Lag-diff (W1) and parity row-numbering (W2) are one window expression
each, written inline by ``q_window_lag_fill`` and ``q_parity_tag``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def carry_forward(
    df: DataFrame, key: str, order: str, value: str, out: str | None = None
) -> DataFrame:
    """Fill nulls with the last non-null value per key (delta decode)."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(order))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        out or value, F.last(F.col(value), ignorenulls=True).over(w)
    )


def top_k_per_group(
    df: DataFrame, key: str | list[str], order: list[Column], k: int,
    out_rank: str | None = None,
) -> DataFrame:
    """row_number-ranked top-k per group with explicit deterministic order.

    The caller MUST pass a total order (include a unique tie-break column) —
    never rely on partition arrival order (SURVEY.md §7.4.1).
    """
    keys = key if isinstance(key, list) else [key]
    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    if out_rank:
        return ranked.withColumnRenamed("__rn", out_rank)
    return ranked.drop("__rn")
