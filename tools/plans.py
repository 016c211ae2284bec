"""Formatted physical plans of the bench queries, and their diff against
another git revision.

Usage:
  python tools/plans.py dump <outdir> [name ...] [--sf-dir DIR]
  python tools/plans.py diff <rev> [name ...] [--sf-dir DIR]

``dump`` writes ``<outdir>/<name>.txt`` per query: by default every
``bench.HEADLINE`` entry plus ``mwas_full``; any ``bench_queries()`` name
works, and so do ``mwas_t_only_full_lineage`` (``run_mwas`` without
checkpoints, so the plan shows the whole relational spine: pushdown,
broadcasts, no Python operator outside the statistical stages),
``mwas_serve_request`` (a fixed 200-row request body from the events,
through ``serve_request`` under the HTTP server's default pin scope) and
``opq_encode_replay`` (the registry's form of ``opq_encode``).

``diff`` exports ``<rev>`` with ``git archive`` into a temp dir, dumps it
and the working tree (each in its own subprocess, so each gets a fresh
JVM), normalizes what differs from run to run (expression ids, RDD and
plan ids, lambda variable names, temp paths, the plan a persisted pin
prints under its ``InMemoryRelation``, node numbers), prints a unified
diff per differing plan and exits 1 when any plan differs or fails to
build.

Both read the test data from ``--sf-dir`` (default
``$SPARK_GRAFT_SF_DIR``).
"""

from __future__ import annotations

import argparse
import difflib
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (pattern, replacement) pairs applied in order by normalize()
_RUN_SPECIFIC = [
    (re.compile(r"#\d+"), "#N"),  # expression ids: id#123L
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"\b([xyz])_\d+(?=#N)"), r"\1_N"),  # PySpark lambda variables: x_15#N
    (re.compile(r"(RDD|Relation)\[\d+\]"), r"\1[N]"),  # MapPartitionsRDD[42]
    (re.compile(r"(file:)?" + re.escape(tempfile.gettempdir()) + r"/[^\s,\]\)]*"), "<tmp>"),
]


_NODE_ID = re.compile(r"(?<= )\((\d+)\)|^\((\d+)\)(?= )", re.M)


def _ids(line: str) -> list[int]:
    return [int(a or b) for a, b in _NODE_ID.findall(line)]


def _drop_cached_plans(plan: str) -> str:
    """Replace the plan under each ``InMemoryRelation`` with ``<cached
    plan>`` and drop its detail entries. A persisted pin prints the AQE
    final plan it ran with, which flips between a shuffle stage and a
    broadcast join from run to run, and a pin planned over it inherits
    that choice's partitioning. Under relation (k) whose child is node
    (m) with k < m, the subtree holds exactly the node ids k+1..m; a
    later scan of the same relation prints that child (m) again."""
    lines = plan.split("\n")
    first_detail = next((i for i, l in enumerate(lines) if re.match(r"\(\d+\) ", l)), len(lines))
    tree, details = lines[:first_detail], lines[first_detail:]
    cached = [
        (i + 1, int(rel[1]), _ids(tree[i + 1])[0])
        for i in range(len(tree) - 1)
        if (rel := re.search(r"InMemoryRelation \((\d+)\)$", tree[i])) and _ids(tree[i + 1])
    ]
    subtree: dict[int, range] = {}
    for _, k, m in cached:
        if k < m:
            subtree.setdefault(m, range(k + 1, m + 1))
    kept, end = [], 0
    for child, _, m in cached:
        if child < end:
            continue
        kept += tree[end:child]
        kept.append(re.sub(r"\+- .*", "+- <cached plan>", tree[child]))
        end = child + 1
        while end < len(tree) and (
            re.search(r"== (Final|Initial) Plan ==", tree[end])
            or (_ids(tree[end]) and all(j in subtree.get(m, ()) for j in _ids(tree[end])))
        ):
            end += 1
    kept += tree[end:]
    drop = False
    for line in details:
        if re.match(r"\(\d+\) |=====", line):
            drop = any(j in r for j in _ids(line) for r in subtree.values())
        if not drop:
            kept.append(line)
    return "\n".join(kept)


def normalize(plan: str) -> str:
    """A plan with its run-specific ids, temp paths and cached-plan
    subtrees replaced, and its node ids renumbered in order of first
    appearance, so two dumps of the same query compare equal unless an
    operator changed."""
    for pattern, repl in _RUN_SPECIFIC:
        plan = pattern.sub(repl, plan)
    plan = _drop_cached_plans(plan)
    order: dict[str, int] = {}
    return _NODE_ID.sub(
        lambda mt: f"({order.setdefault(mt[1] or mt[2], len(order) + 1)})", plan
    )


def _mwas_t_only_full_lineage(spark, sf_dir):
    from mwas_rfam_spark.config import MwasConfig
    from mwas_rfam_spark.operators.condense import condense_metadata
    from mwas_rfam_spark.operators.mwas import run_mwas
    from mwas_rfam_spark.plans.testdata_mwas import (
        mwas_catalog_from_orders,
        mwas_input_from_events,
        mwas_metadata_long_from_customer,
    )

    cfg = MwasConfig(t_test_only=True, use_local_checkpoint=False)
    sets_df, ref_df = condense_metadata(mwas_metadata_long_from_customer(spark, sf_dir))
    return run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )


def _mwas_serve_request(spark, sf_dir):
    from mwas_rfam_spark.config import MwasConfig
    from mwas_rfam_spark.operators.condense import condense_metadata
    from mwas_rfam_spark.plans.testdata_mwas import (
        mwas_catalog_from_orders,
        mwas_input_from_events,
        mwas_metadata_long_from_customer,
    )
    from mwas_rfam_spark.streaming.requests import serve_request

    body = mwas_input_from_events(spark, sf_dir).orderBy("run", "group", "quantifier").limit(200)
    sets_df, ref_df = condense_metadata(mwas_metadata_long_from_customer(spark, sf_dir))
    return serve_request(
        spark,
        [r.asDict() for r in body.collect()],
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        MwasConfig(),
    )


def dump(outdir: str, names: list[str], sf_dir: str) -> int:
    """Write one formatted plan per query; a query that fails to build
    records its error in place. Returns the number of failures."""
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    import bench as benchmod
    from mwas_rfam_spark import pinning
    from mwas_rfam_spark.session import get_spark

    qs = {
        **entrymod.bench_queries(),
        "mwas_full": benchmod._mwas_full,
        "mwas_t_only_full_lineage": _mwas_t_only_full_lineage,
        "mwas_serve_request": _mwas_serve_request,
        "opq_encode_replay": entrymod.q_opq_encode_replay,
    }
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="plans")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    failed = 0
    for name in names or [*benchmod.HEADLINE, "mwas_full"]:
        try:
            # the plan is formatted while the scope's pins are still held
            with pinning.scope(keep_lineage=name == "mwas_t_only_full_lineage"):
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
        except Exception as e:  # noqa: BLE001 - record the failure in place
            failed += 1
            plan = f"ERROR dumping plan: {type(e).__name__}: {e}\n"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}.txt", flush=True)
    spark.stop()
    return failed


def _dump_in_subprocess(root: str, outdir: str, names: list[str], sf_dir: str) -> None:
    """Run the tree's own ``dump`` (this script's, for a tree without
    one) against the tree at ``root``: each tree builds its queries
    under its own pinning API."""
    script = os.path.join(root, "tools", "plans.py")
    if not os.path.exists(script):
        shutil.copy(os.path.abspath(__file__), script)
    env = {**os.environ, "PYTHONPATH": root}
    subprocess.run(
        [sys.executable, script, "dump", outdir, *names, "--sf-dir", sf_dir],
        cwd=root, env=env, check=False,
    )


def diff(rev: str, names: list[str], sf_dir: str) -> int:
    with tempfile.TemporaryDirectory(prefix="plans-diff-") as tmp:
        tree = os.path.join(tmp, "tree")
        os.makedirs(tree)
        archive = subprocess.run(
            ["git", "archive", rev], cwd=ROOT, check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
        before, after = os.path.join(tmp, "before"), os.path.join(tmp, "after")
        _dump_in_subprocess(tree, before, names, sf_dir)
        _dump_in_subprocess(ROOT, after, names, sf_dir)
        differing = 0
        for name in sorted(set(os.listdir(before)) | set(os.listdir(after))):
            a, b = (_read(os.path.join(d, name)) for d in (before, after))
            if a.startswith("ERROR") or b.startswith("ERROR") or a != b:
                differing += 1
                sys.stdout.writelines(
                    difflib.unified_diff(
                        a.splitlines(True), b.splitlines(True),
                        f"{rev}/{name}", f"working-tree/{name}",
                    )
                )
            else:
                print(f"same: {name[:-4]}")
    print(f"{differing} plan(s) differ")
    return 1 if differing else 0


def _read(path: str) -> str:
    if not os.path.exists(path):
        return "ERROR no plan written\n"
    with open(path) as f:
        return normalize(f.read())


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("command", choices=["dump", "diff"])
    p.add_argument("target", help="output dir (dump) or git revision (diff)")
    p.add_argument("names", nargs="*", help="query names (default: the bench headline)")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = p.parse_args(argv)
    if not args.sf_dir:
        p.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")
    if args.command == "dump":
        return 1 if dump(args.target, args.names, args.sf_dir) else 0
    return diff(args.target, args.names, args.sf_dir)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
