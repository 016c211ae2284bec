"""One way to pin a multiply-consumed subplan, one way to hold a
relation for a bounded block, and one way to overlap independent jobs.

A subplan read by several consumers is materialized once (SURVEY.md
§3.1; SCALE.md "Driver-side re-planning"). The default
``localCheckpoint`` also truncates lineage, so consumers re-plan against
a short ExistingRDD scan instead of the whole tree (25-40% of the
relational core's wall at sf0.1 was that re-planning). Each eager pin's
jobs carry ``spark.job.description`` = ``"<public function>:<relation>"``
(e.g. ``run_mwas:rollup``), so the UI and the status store name the step.

The rule: a pin whose consumers outlive the call checkpoints
(:func:`pin`); a hold whose consumers all run inside one block persists
(:func:`held`). ``unpersist()`` frees a cache at once, but it cannot
free a checkpoint — those blocks wait for the ContextCleaner, i.e. for
a driver GC — so only the cache gives a long-lived driver (the HTTP
server, the CLI) a deterministic release. An evicted cache block merely
recomputes from its lineage.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

T = TypeVar("T")

# keep_lineage pins until release(). Checkpoint pins are not listed: the
# ContextCleaner frees their blocks once the last DataFrame using them
# is garbage-collected.
_pinned: list[DataFrame] = []


def pin(df: DataFrame, name: str, *, eager: bool = True, keep_lineage: bool = False) -> DataFrame:
    """Materialize ``df`` once for its several consumers; an eager pin
    runs its job under the description ``name``.

    An input that is already a settled checkpoint (e.g. the server's
    pinned metadata) is returned as-is instead of being copied again.
    ``keep_lineage`` persists (MEMORY_AND_DISK, recomputable lineage for
    fault-tolerant cluster runs) instead of checkpointing, settles with
    a ``count()`` when eager, and registers the relation for
    :func:`release`.
    """
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return df
    if keep_lineage:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _pinned.append(df)
    if not eager:
        return df if keep_lineage else df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")  # thread-local
    sc.setLocalProperty("spark.job.description", name)
    try:
        if keep_lineage:
            df.count()
            return df
        return df.localCheckpoint()
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def release() -> int:
    """Unpersist every ``keep_lineage`` pin and return how many were
    dropped. Call once the result that reads them is written or
    collected."""
    n = len(_pinned)
    for df in _pinned:
        _unpersist(df)
    _pinned.clear()
    return n


@contextmanager
def held(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` (default storage level) for the block's consumers
    and unpersist it on every exit. Lazy: the first action inside the
    block fills the cache under that action's own job."""
    df = df.persist()
    try:
        yield df
    finally:
        _unpersist(df)


def _unpersist(df: DataFrame) -> None:
    # best effort: a failed release must not mask the caller's own error
    try:
        df.unpersist()
    except Exception:
        pass


def overlap(thunks: list[Callable[[], T]]) -> list[T]:
    """Run zero-argument callables on up to eight threads and return
    their results in order; a failure is re-raised.

    Each eager pin or action blocks its caller, so run serially the
    cluster idles through every job tail. Results are identical; only
    job scheduling changes. Pass thunks, not built DataFrames, where
    building the subplan itself runs jobs.
    """
    if not thunks:
        return []
    with ThreadPoolExecutor(max_workers=min(8, len(thunks))) as pool:
        return list(pool.map(lambda thunk: thunk(), thunks))
