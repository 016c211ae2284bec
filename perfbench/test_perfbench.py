"""Self-test of the benchmark on tiny inputs (sf0.001, one second of ops).

Pins the metric names and units against ``BENCHMARK.json``, the result
line's keys, the span schema of the traced run, and the refusal to run
without the engine beside it. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from tracing import SPAN_FIELDS, WRAPPED  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, artifact, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
         "--artifact", str(artifact)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    return result


def test_spec_matches_the_runner():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_per_layer_metric(workload, tmp_path):
    artifact = tmp_path / "run.json"
    result = _result(_run(workload, 1, artifact))
    assert {k: m["unit"] for k, m in result["metrics"].items()} == PER_LAYER
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    assert result["metrics"]["spark.jobs"]["value"] >= 1

    with open(artifact) as f:
        art = json.load(f)
    spans = art["spans"]
    assert spans and all(tuple(s) == SPAN_FIELDS for s in spans)
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["name"] == "op"]
    assert roots and all(s["parent"] is None for s in roots)
    for s in spans:
        assert s["start"] <= s["end"]
        if s["name"] != "op":
            # every span hangs under its op's root span
            parent = by_id[s["parent"]]
            assert parent["op"] == s["op"] is not None
    wrapped = {f"{m}.{a}" for m, a in WRAPPED}
    assert {s["name"] for s in spans} - {"op"} <= wrapped | {
        "force", "force.dedup_pipeline", "force.minhash", "client.post"
    }
    for key in ("loadavg_start", "canary_start", "canary_end", "nproc", "seed",
                "inputs_fingerprint"):
        assert key in art["stamps"]


def test_untraced_run_reports_every_end_to_end_metric(tmp_path):
    result = _result(_run("mwas_serve", 0, tmp_path / "run.json"))
    assert {k: m["unit"] for k, m in result["metrics"].items()} == END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("mwas_serve", 0, tmp_path / "run.json", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
