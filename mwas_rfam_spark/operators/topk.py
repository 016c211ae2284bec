"""Per-group top-k (W5 family).

On the pinned Spark (>= 3.5) the plain one-window formulation —
``row_number() over (partition by group order by ...)`` filtered to
``<= k`` — is ALREADY two-phase: the optimizer's ``InferWindowGroupLimit``
rule inserts a map-side ``WindowGroupLimit Partial`` BEFORE the exchange
(each scan task keeps only its own top-k per group) and a ``Final`` after
it, so the shuffle carries at most k rows per group per map task and the
per-group reduce sort is bounded. Measured on this engine (1M rows, 3
groups, k=5): plain = 1 Exchange / 2 Sorts / 0.5 s; the former
hand-rolled (group × spark_partition_id) pre-filter = 2 Exchanges /
4 Sorts / 3.2 s — the pre-filter's "local" window is NOT narrow (Spark
still hash-partitions on (group, pid)), so it re-shuffled the entire
input once more for a bound the optimizer already provides (r12 review
finding; the r4-era design predated the rule's availability here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Rows ranked 1..k per group under ``order_cols``.

    ``order_cols`` must define a deterministic TOTAL order (include a
    tie-breaker key) for the output to be deterministic. The plan relies
    on the optimizer's map-side ``WindowGroupLimit`` (see module
    docstring).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not order_cols:
        # fail eagerly like the k guard — an unordered window dies later
        # at action time with an opaque AnalysisException (r12 review)
        raise ValueError("order_cols must be non-empty (a total order)")
    if rank_col in df.columns:
        # silent clobber guard: withColumn REPLACES an existing column
        # of the same name, destroying caller data (r12 review finding)
        raise ValueError(
            f"top_k_per_group: input already has a {rank_col!r} column — "
            "rename it or pass a different rank_col"
        )
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w).cast("long")).where(
        F.col(rank_col) <= k
    )
