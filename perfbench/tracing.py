"""Spans around calls into the engine's modules, and Spark's own counters.

The engine is not instrumented, so the traced run replaces public
functions of its modules with wrappers that record a span per call. The
engine calls these functions through module attributes (``run_mwas``
reads ``run_tests`` and ``finalize_results`` as module globals;
``serve_request`` imports ``run_mwas`` and ``input_from_rows`` when
called), so replacing the attribute is enough to see every call.

Spans stay in memory; the caller writes them out when the run ends.
Spark counters come from the status store between ops.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import threading
import time
from dataclasses import asdict, dataclass

#: (module under ``mwas_rfam_spark``, function) pairs the traced run wraps
WRAPPED = (
    ("operators.condense", "condense_metadata"),
    ("operators.mwas", "run_mwas"),
    ("operators.mwas", "run_tests"),
    ("operators.mwas", "finalize_results"),
    ("operators.mwas", "release_mwas_persists"),
    ("streaming.requests", "serve_request"),
    ("sources.readers", "input_from_rows"),
    ("sources.sinks", "write_results_partitioned"),
    ("sources.sinks", "write_training_shards"),
    ("operators.dedup", "dedup_pipeline_pairs"),
    ("operators.dedup", "minhash_lsh_pairs_md5"),
    ("operators.curation", "curate_corpus"),
)

SPAN_FIELDS = ("id", "name", "start", "end", "parent", "op", "thread")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: str


class Tracer:
    """Records spans; one stack per thread. A span opened on a thread
    with an empty stack (the HTTP handler thread) takes the innermost
    open span of the op's own thread as its parent (the client's POST),
    so every span of one op hangs under its root and shares its op id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self._op_stack: list[int] = []
        #: wrappers pass straight through while this is False
        self.enabled = True

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = (stack or self._op_stack or [None])[-1]
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(
                    sid, name, start, end, parent, self.op_id,
                    threading.current_thread().name,
                ))

    @contextlib.contextmanager
    def op(self, op_id: int):
        """Root span of one op; spans opened inside it carry ``op_id``."""
        self.op_id = op_id
        self._op_stack = self._stack()
        try:
            with self.span("op") as sid:
                yield sid
        finally:
            self.op_id, self._op_stack = None, []

    def install(self, package: str = "mwas_rfam_spark") -> None:
        for modname, attr in WRAPPED:
            module = importlib.import_module(f"{package}.{modname}")
            orig = getattr(module, attr)
            name = f"{modname}.{attr}"

            def wrapper(*args, _orig=orig, _name=name, **kwargs):
                if not self.enabled:
                    return _orig(*args, **kwargs)
                with self.span(_name):
                    return _orig(*args, **kwargs)

            setattr(module, attr, functools.wraps(orig)(wrapper))
            self._patched.append((module, attr, orig))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def op_spans(self, op_id: int) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.op == op_id]

    def dump(self) -> list[dict]:
        with self._lock:
            return [asdict(s) for s in self.spans]


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration minus the part its child spans
    cover. The root ``op`` span's self time is the op wall no span covers."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_seconds(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


class SparkCounters:
    """Reads jobs and stages from the status store (populated with the UI
    off). py4j cannot fill in Scala default arguments, so ``stageList`` is
    called with all five."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._last_job = max(self._job_ids(), default=-1)

    def _settle(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _job_ids(self) -> list[int]:
        self._settle()
        jobs = self._sc.statusStore().jobsList(self._jvm.java.util.ArrayList())
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def since_last(self, t0: float, t1: float) -> dict[str, float]:
        """Counters of every job that started since the previous call.
        Job intervals are clipped to the op's wall-clock span [t0, t1]."""
        self._settle()
        store = self._sc.statusStore()
        jobs = store.jobsList(self._jvm.java.util.ArrayList())
        new_jobs = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > self._last_job:
                new_jobs.append(j)
        stage_ids: set[int] = set()
        intervals = []
        for j in new_jobs:
            seq = j.stageIds()
            stage_ids.update(seq.apply(k) for k in range(seq.size()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        if new_jobs:
            self._last_job = max(j.jobId() for j in new_jobs)
        stages = store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        out = dict.fromkeys((
            "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "jvm_gc_s",
        ), 0.0)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["jvm_gc_s"] += s.jvmGcTime() / 1e3
        out["jobs"] = float(len(new_jobs))
        out["job_busy_s"] = union_seconds(
            (max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1
        )
        return out
