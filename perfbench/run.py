#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload mwas_serve --seed 1 --seconds 10 --trace 0

The inputs are generated from ``--seed`` (``perfbench/inputs.py``).
Each workload is a closed loop with one caller on ``local[<nproc>]``:
set up, run an untimed warm-up op, then run timed ops until both
``--seconds`` seconds of op time and ``MIN_TIMED_OPS`` timed ops are
reached, checking every op's output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics, from a
run that alternates untraced and traced ops (the difference of their
median op latencies is the tracing overhead).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. A fuller artifact
(every op latency, the machine stamps, self time per layer and, when
traced, every span) is written under ``.perfbench/runs/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: scale factor of the generated inputs (sf0.1 = 100,000 events)
DEFAULT_SF = 0.01
#: repeats of the workload set-up per run; setup_s is the one-off
#: session start plus their median
SETUPS = 3
# a fresh JVM's op latency falls over the first ops (JIT compilation):
# about 14, 7.4, 6.3, 5.8 s for curate_docs and 11.6, 6.6, 5.4, 4.8 s
# for mwas_serve at sf0.01 on 4 cores. One untimed op takes the steepest
# part; more would not fit the run-time budget. A run times at least
# MIN_TIMED_OPS ops, more than fit in 10 s, so its median sits at the
# same point of that curve on every run.
WARMUP_OPS = 1
MIN_TIMED_OPS = 3
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jvm_gc_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "testdata.load_s": "s",
    "condense.s": "s",
    "condense.sets": "count",
    "mwas.construct_s": "s",
    "mwas.force_s": "s",
    "mwas.run_tests_s": "s",
    "mwas.finalize_s": "s",
    "mwas.tests": "count",
    "mwas.t_tests": "count",
    "mwas.perm_tests": "count",
    "mwas.skipped": "count",
    "stattests.kernel_s": "s",
    "stattests.resamples": "count",
    "readers.input_from_rows_s": "s",
    "readers.rows_in": "count",
    "http.server_s": "s",
    "http.overhead_s": "s",
    "http.response_bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "dedup.pipeline_construct_s": "s",
    "dedup.pipeline_force_s": "s",
    "dedup.minhash_construct_s": "s",
    "dedup.minhash_force_s": "s",
    "dedup.pairs": "count",
    "curation.s": "s",
    "curation.docs_in": "count",
    "curation.docs_kept": "count",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
}


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated inputs")
    ap.add_argument("--artifact", help="where to write the run artifact")
    return ap.parse_args(argv)


def _vmhwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since boot
    (the ``steal`` column of ``/proc/stat``); op latencies grow with it."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _spark(work: str):
    from mwas_rfam_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    })


def set_up(wl, work: str, data_dir: str, tracer):
    """Start the session once, then repeat the workload's own set-up
    (first reads of the input tables it uses, workload preparation)
    SETUPS times. Returns the session, the one-off seconds, and per
    repeat its seconds and per-layer numbers."""
    from mwas_rfam_spark.plans import testdata_mwas as tdm

    t0 = time.perf_counter()
    spark = _spark(work)
    t1 = time.perf_counter()
    once = {"session.start_s": t1 - t0}
    repeats = []
    for k in range(SETUPS):
        if k:
            wl.teardown()
            tdm.invalidate_load_memo()
        t = time.perf_counter()
        for name in wl.tables:
            tdm.load(spark, data_dir, name).count()
        layers = dict(once, **{"testdata.load_s": time.perf_counter() - t})
        layers.update(wl.prepare(spark, tracer))
        repeats.append((time.perf_counter() - t, layers))
    return spark, t1 - t0, repeats


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


#: per-layer seconds taken as the summed duration of these spans
SPAN_TOTALS = {
    "mwas.construct_s": ("operators.mwas.run_mwas",),
    "mwas.run_tests_s": ("operators.mwas.run_tests",),
    "mwas.finalize_s": ("operators.mwas.finalize_results",),
    "readers.input_from_rows_s": ("sources.readers.input_from_rows",),
    "sinks.write_s": ("sources.sinks.write_results_partitioned",
                      "sources.sinks.write_training_shards"),
    "dedup.pipeline_construct_s": ("operators.dedup.dedup_pipeline_pairs",),
    "dedup.pipeline_force_s": ("force.dedup_pipeline",),
    "dedup.minhash_construct_s": ("operators.dedup.minhash_lsh_pairs_md5",),
    "dedup.minhash_force_s": ("force.minhash",),
    "curation.s": ("operators.curation.curate_corpus",),
    "condense.s": ("operators.condense.condense_metadata",),
}


def _span_metrics(spans, wall: float) -> dict[str, float]:
    """Per-layer seconds of one traced op from its spans. A layer the op
    did not enter is left out, so its set-up figure, if any, stands."""
    m = {}
    for metric, names in SPAN_TOTALS.items():
        hit = [s for s in spans if s.name in names]
        if hit:
            m[metric] = sum(s.end - s.start for s in hit)

    def first(name):
        return next((s for s in spans if s.name == name), None)

    run = first("operators.mwas.run_mwas")
    release = first("operators.mwas.release_mwas_persists")
    force = first("force")
    # the MWAS result is forced by the write (batch) or by the handler's
    # collect, which ends where the handler releases the pins (serve)
    done = force.end if force is not None else (release.start if release is not None else None)
    if run is not None and done is not None:
        m["mwas.force_s"] = done - run.end
    serve = first("streaming.requests.serve_request")
    if serve is not None and release is not None:
        m["http.server_s"] = release.start - serve.start
        m["http.overhead_s"] = wall - m["http.server_s"]
    return m


def _median_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def _hash_store(workload: str, seed: int, sf: float) -> str:
    return os.path.join(STATE, "hashes", f"{workload}-seed{seed}-sf{sf:g}.json")


def run(args, work: str) -> dict:
    import bench  # the repo's headline bench: machine stamps and canary
    from inputs import fingerprint, generate
    from tracing import SparkCounters, Tracer, self_times
    from workloads import WORKLOADS

    data_dir = os.path.join(work, "data")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir)
    rows = generate(data_dir, args.seed, args.sf)
    stamps = {
        "seed": args.seed,
        "sf": args.sf,
        "nproc": len(os.sched_getaffinity(0)),
        "rows": rows,
        "inputs_fingerprint": fingerprint(data_dir),
        "loadavg_start": bench._loadavg(),
        "canary_start": bench._canary(data_dir),
        "steal_start_s": _steal_s(),
    }
    wl = WORKLOADS[args.workload](data_dir, out_dir, args.seed)
    tracer = Tracer()
    tracer.enabled = False
    if args.trace:
        tracer.install()

    store = _hash_store(args.workload, args.seed, args.sf)
    known: dict[str, str] = {}
    if os.path.exists(store):
        with open(store) as f:
            known = json.load(f)

    spark, once_s, repeats = set_up(wl, work, data_dir, tracer)
    setups = [secs for secs, _ in repeats]
    setup_layers = [layers for _, layers in repeats]
    t_ready = time.perf_counter()

    counters = SparkCounters(spark) if args.trace else None
    ops: list[dict] = []
    traced_layers: list[dict[str, float]] = []
    i = 0
    timed_secs = 0.0
    n_traced = n_untraced = 0
    while True:
        warm = i < WARMUP_OPS
        if (not warm and timed_secs >= args.seconds and i - WARMUP_OPS >= MIN_TIMED_OPS
                and (not args.trace or n_traced)):
            break
        # a traced run alternates untraced and traced ops, so that the
        # difference of their medians is the tracing overhead
        traced = bool(args.trace) and not warm and n_untraced > n_traced
        n_traced += traced
        n_untraced += not (warm or traced)
        tracer.enabled = traced
        t_epoch0, t_op = time.time(), time.perf_counter()
        record, err = None, None
        try:
            with tracer.op(i) if traced else contextlib.nullcontext():
                wall, record = wl.op(spark, i, tracer)
        except Exception as e:  # a failed op is counted, not fatal
            wall, err = time.perf_counter() - t_op, f"{type(e).__name__}: {e}"
        t_epoch1 = time.time()
        tracer.enabled = False
        spark_counts = counters.since_last(t_epoch0, t_epoch1) if counters else {}
        ok, digest, counts = False, "", {}
        if record is not None:
            try:
                ok, digest, counts = wl.check(record)
            except Exception as e:
                err = f"check: {type(e).__name__}: {e}"
        if ok and digest:
            # every op of a run has the same input, so its output must hash
            # like the first op's, and like earlier runs' of this seed
            ok = known.setdefault("op", digest) == digest
            if not ok and err is None:
                err = f"content hash {digest} != {known['op']}"
        if not ok and err is None:
            err = "output check failed"
        if not warm:
            timed_secs += wall
        ops.append({"i": i, "warmup": warm, "traced": traced, "wall_s": wall, "ok": ok,
                    "digest": digest, "error": err})
        if traced and record is not None:
            layers = {f"spark.{k}": v for k, v in spark_counts.items()}
            layers["spark.driver_gap_s"] = wall - spark_counts.get("job_busy_s", 0.0)
            layers.update(counts)
            layers.update(_span_metrics(tracer.op_spans(i), wall))
            layers["trace.uncovered_s"] = self_times(tracer.op_spans(i)).get("op", 0.0)
            traced_layers.append(wl.traced_layers(spark, record, layers))
        i += 1

    peak_py_kb = _vmhwm_kb(os.getpid())
    peak_jvm_kb = _vmhwm_kb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    wl.teardown()
    stop_spark(spark)

    os.makedirs(os.path.dirname(store), exist_ok=True)
    with open(store, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)

    timed = [o for o in ops if not o["warmup"]]
    untraced_walls = [o["wall_s"] for o in timed if not o["traced"] and o["error"] is None]
    traced_walls = [o["wall_s"] for o in timed if o["traced"] and o["error"] is None]
    walls = untraced_walls if args.trace else [o["wall_s"] for o in timed if o["error"] is None]
    e2e = {
        "setup_s": once_s + statistics.median(setups),
        "op_p50_s": statistics.median(walls) if walls else float("nan"),
        # correct ops per second of all timed op time, failed ops included
        "ops_per_s": sum(o["ok"] for o in timed) / sum(o["wall_s"] for o in timed),
        "peak_rss_mb": (peak_py_kb + peak_jvm_kb) / 1024,
    }
    extra_e2e = {
        "failed_frac": sum(not o["ok"] for o in ops) / len(ops),
        "setup_once_s": once_s,
        "process_to_ready_s": t_ready - T_PROCESS,
        "timed_ops": len(walls),
        "peak_rss_python_mb": peak_py_kb / 1024,
        "peak_rss_jvm_mb": peak_jvm_kb / 1024,
    }
    if len(walls) >= 20:
        # the highest percentile with at least 10 samples beyond it
        ordered = sorted(walls)
        extra_e2e["op_tail_s"] = ordered[len(ordered) - 11]
        extra_e2e["op_tail_pct"] = 100.0 * (len(ordered) - 10) / len(ordered)

    # a layer measured both at set-up and in the ops reports the ops' figure
    per_layer = dict.fromkeys(PER_LAYER, 0.0)
    for med in (_median_of(setup_layers), _median_of(traced_layers)):
        per_layer.update({k: v for k, v in med.items() if k in PER_LAYER})
    per_layer["session.warmup_s"] = sum(o["wall_s"] for o in ops if o["warmup"])
    if untraced_walls and traced_walls:
        per_layer["trace.overhead_s"] = (
            statistics.median(traced_walls) - statistics.median(untraced_walls)
        )

    extra_e2e["process_s"] = time.perf_counter() - T_PROCESS
    stamps["loadavg_end"] = bench._loadavg()
    stamps["canary_end"] = bench._canary(data_dir)
    extra_e2e["steal_s"] = _steal_s() - stamps["steal_start_s"]
    artifact = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "stamps": stamps,
        "end_to_end": e2e,
        "end_to_end_extra": extra_e2e,
        "setups_s": setups,
        "setup_layers": setup_layers,
        "ops": ops,
    }
    if args.trace:
        artifact["per_layer"] = per_layer
        artifact["per_op_layers"] = traced_layers
        artifact["self_s"] = _median_of([
            self_times(tracer.op_spans(o["i"])) for o in ops if o["traced"]
        ])
        artifact["spans"] = tracer.dump()
        tracer.uninstall()
    return artifact


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "mwas_rfam_spark", "__init__.py")):
        print(f"perfbench: no mwas_rfam_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    work = os.path.join(STATE, f"work-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
    })
    try:
        artifact = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = artifact["ops"]
    failed = sum(not o["ok"] for o in ops)
    if args.trace:
        metrics = {k: {"value": artifact["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": artifact["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    path = args.artifact or os.path.join(
        STATE, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)

    for k, m in metrics.items():
        print(f"{k:28s} {m['value']:.6g} {m['unit']}")
    for k, v in artifact["end_to_end_extra"].items():
        print(f"{k:28s} {v:.6g}")
    for o in ops:
        if o["error"]:
            print(f"op {o['i']} failed: {o['error']}")
    print(f"check: {'PASS' if failed == 0 else 'FAIL'} ({len(ops) - failed}/{len(ops)} ops correct)")
    print(f"artifact: {path}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
