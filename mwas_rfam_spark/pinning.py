"""One way to pin a multiply-consumed subplan, one way to hold a
relation for a bounded block, and one way to overlap independent jobs.

The rule:

- :func:`pin` shares a relation under the policy of the innermost
  :func:`scope`. The default checkpoints (``localCheckpoint``): written
  once, lineage cut, so consumers re-plan against a short ExistingRDD
  scan instead of the whole tree (25-40% of the relational core's wall
  at sf0.1 was that re-planning; SURVEY.md §3.1, SCALE.md). A
  ``keep_lineage`` scope persists instead (recomputable after an
  executor loss) and unpersists exactly its own pins on exit.
- :func:`checkpoint` cuts lineage whatever the scope says, for a
  relation whose source path is overwritten afterwards.
- :func:`held` holds a relation for one block (persist, then unpersist).

Each eager pin's jobs carry ``spark.job.description`` =
``"<public function>:<relation>"`` (e.g. ``run_mwas:rollup``). A scope
lives in a context variable, so concurrent requests on one driver each
own their pins; :func:`overlap` runs its thunks in the caller's context.
Checkpoint blocks are freed by the ContextCleaner (a driver GC), not by
a release.
"""

from __future__ import annotations

import contextvars
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

T = TypeVar("T")


# the innermost scope's persisted pins; None under the checkpoint policy
_pins: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar("pins", default=None)


@contextmanager
def scope(keep_lineage: bool = False) -> Iterator[None]:
    """Pin under one policy inside the block and unpersist the scope's
    persisted pins on every exit. The code that owns a request's
    lifetime opens it from ``MwasConfig.use_local_checkpoint``."""
    token = _pins.set([] if keep_lineage else None)
    try:
        yield
    finally:
        release()
        _pins.reset(token)


def keeps_lineage() -> bool:
    """Whether the innermost scope persists its pins."""
    return _pins.get() is not None


def pin(df: DataFrame, name: str, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once for its several consumers under the
    scope's policy; an eager pin runs its job under the description
    ``name``.

    An input that is already a settled checkpoint (e.g. the server's
    pinned metadata) is returned as-is instead of being copied again.
    """
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return df
    pins = _pins.get()
    if pins is None:
        return checkpoint(df, name, eager=eager)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    pins.append(df)
    if eager:
        with _described(df, name):
            df.count()
    return df


def checkpoint(df: DataFrame, name: str, *, eager: bool = True) -> DataFrame:
    """Local-checkpoint ``df``, cutting its lineage whatever the scope
    says; an eager checkpoint runs its job under the description
    ``name``."""
    if not eager:
        return df.localCheckpoint(eager=False)
    with _described(df, name):
        return df.localCheckpoint()


@contextmanager
def _described(df: DataFrame, name: str) -> Iterator[None]:
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")  # thread-local
    sc.setLocalProperty("spark.job.description", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def release() -> int:
    """Unpersist the current scope's persisted pins and return how many
    were dropped (0 outside a scope)."""
    pins = _pins.get() or []
    for df in pins:
        _unpersist(df)
    n = len(pins)
    pins.clear()
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
    job scheduling changes. Each thunk runs in a copy of the caller's
    context, so its pins land in the caller's scope. Pass thunks, not
    built DataFrames, where building the subplan itself runs jobs.
    """
    if not thunks:
        return []
    contexts = [contextvars.copy_context() for _ in thunks]
    with ThreadPoolExecutor(max_workers=min(8, len(thunks))) as pool:
        return list(pool.map(contextvars.Context.run, contexts, thunks))
