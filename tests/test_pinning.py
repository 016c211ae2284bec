"""pinning: the one way to pin a subplan, to hold a relation for a block
and to overlap independent jobs."""

import pathlib
import re

import pytest

from mwas_rfam_spark import pinning

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "mwas_rfam_spark"


def test_pin_returns_checkpointed_input_as_is(spark):
    df = spark.range(10).localCheckpoint()
    assert pinning.pin(df, "t:already") is df
    lazy = spark.range(10)
    assert pinning.pin(lazy, "t:lazy") is not lazy


def test_eager_pin_labels_its_job_and_restores_description(spark, job_descriptions):
    sc = spark.sparkContext
    before, _ = job_descriptions(-1)
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        pinned = pinning.pin(spark.range(100).selectExpr("id % 7 AS k"), "test_pin:rows")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    _, descs = job_descriptions(before)
    assert descs and set(descs) == {"test_pin:rows"}
    assert pinned.count() == 100


def test_keep_lineage_pin_is_registered_and_released(spark, persisted_rdds):
    before = persisted_rdds()
    with pinning.scope(keep_lineage=True):
        df = pinning.pin(spark.range(20), "test_pin:kept")
        assert df.storageLevel.useMemory and df.storageLevel.useDisk
        assert persisted_rdds() - before
        assert pinning.release() == 1
        assert persisted_rdds() == before
        kept = pinning.pin(spark.range(30), "test_pin:kept_to_exit")
    assert not df.storageLevel.useMemory and not kept.storageLevel.useMemory
    assert persisted_rdds() == before


def test_checkpoint_pin_is_not_registered(spark, persisted_rdds):
    before = persisted_rdds()
    with pinning.scope():
        assert not pinning.keeps_lineage()
        pinning.pin(spark.range(5), "test_pin:ckpt")
        assert pinning.release() == 0
    pinning.pin(spark.range(5), "test_pin:ckpt_unscoped")
    assert pinning.release() == 0
    assert persisted_rdds() == before


def test_forced_checkpoint_cuts_lineage_in_a_keep_lineage_scope(spark):
    with pinning.scope(keep_lineage=True):
        df = pinning.checkpoint(spark.range(10), "test_pin:forced")
        assert df._jdf.logicalPlan().rdd().isCheckpointed()
        assert pinning.release() == 0


def test_overlapping_scopes_on_two_threads_release_only_their_own(spark, persisted_rdds):
    """Two requests' scopes interleave on two threads: A's exit
    unpersists A's pins while B's stay cached, then B's exit frees B's."""
    import threading

    before = persisted_rdds()
    a_pinned, b_pinned, b_exit = threading.Event(), threading.Event(), threading.Event()
    pins = {}

    def request(name, first, second):
        with pinning.scope(keep_lineage=True):
            # distinct plans: the cache manager keys a persist by its plan
            pins[name] = pinning.pin(spark.range(40 + len(pins)), f"test_pin:{name}")
            first.set()
            second.wait(60)

    a = threading.Thread(target=request, args=("a", a_pinned, b_pinned))
    b = threading.Thread(target=request, args=("b", b_pinned, b_exit))
    a.start()
    a_pinned.wait(60)
    b.start()
    a.join(60)
    assert not pins["a"].storageLevel.useMemory
    assert pins["b"].storageLevel.useMemory
    assert len(persisted_rdds() - before) == 1
    b_exit.set()
    b.join(60)
    assert not pins["b"].storageLevel.useMemory
    assert persisted_rdds() == before


def test_pin_inside_overlap_registers_in_the_callers_scope(spark, persisted_rdds):
    before = persisted_rdds()
    with pinning.scope(keep_lineage=True):
        pinned = pinning.overlap(
            [lambda i=i: pinning.pin(spark.range(10 + i), f"test_pin:ov{i}") for i in range(3)]
        )
        assert all(df.storageLevel.useMemory for df in pinned)
        assert len(persisted_rdds() - before) == 3
    assert not any(df.storageLevel.useMemory for df in pinned)
    assert persisted_rdds() == before


@pytest.mark.parametrize(
    "query", ["dedup_pipeline", "curation_pipeline", "drift_report", "eval_state_auc"]
)
def test_queries_same_rows_under_both_pin_policies(spark, persisted_rdds, sf_dir, query):
    """The checkpoint and persist policies give identical rows, and a
    keep_lineage scope leaves no persisted RDD behind."""
    import __spark_entry__ as entrymod

    run = entrymod.bench_queries()[query]
    before = persisted_rdds()
    checkpointed = sorted(map(tuple, run(spark, sf_dir).collect()))
    with pinning.scope(keep_lineage=True):
        persisted = sorted(map(tuple, run(spark, sf_dir).collect()))
    assert persisted == checkpointed and checkpointed
    assert persisted_rdds() == before


def test_held_caches_inside_the_block_and_releases_after(spark):
    with pinning.held(spark.range(20)) as df:
        assert df.storageLevel.useMemory and df.storageLevel.useDisk
        assert df.count() == 20
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_held_releases_on_error_and_keeps_the_body_error(spark):
    with pytest.raises(ZeroDivisionError):
        with pinning.held(spark.range(5)) as df:
            assert df.storageLevel.useMemory
            1 / 0
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


@pytest.mark.parametrize("max_iters", [25, 11])
def test_dedup_clusters_leaves_no_cache_behind(spark, max_iters):
    """The distributed loop takes its first stats-reset cache at round
    10; a 4,000-node path needs more than 11 rounds, so ``max_iters=11``
    ends in the non-convergence error. Either way nothing stays cached."""
    from mwas_rfam_spark.operators.dedup import dedup_clusters

    spark.catalog.clearCache()
    n = 4000
    pairs = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    if max_iters == 25:
        out = dedup_clusters(pairs, max_iters=max_iters, local_threshold_edges=None)
        assert out.where("cluster_id != 0").count() == 0
    else:
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_clusters(pairs, max_iters=max_iters, local_threshold_edges=None)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_overlap_keeps_order_and_propagates_failure():
    import time

    def slow(i):
        def run():
            time.sleep(0.01 * (5 - i))
            return i

        return run

    assert pinning.overlap([slow(i) for i in range(5)]) == [0, 1, 2, 3, 4]
    assert pinning.overlap([]) == []

    def boom():
        raise RuntimeError("thunk failed")

    with pytest.raises(RuntimeError, match="thunk failed"):
        pinning.overlap([slow(0), boom])


def test_no_raw_pins_or_pools_outside_pinning():
    """Every pin, hold and job overlap in the package goes through
    pinning; the pin policy is a scope, never a threaded keep_lineage=
    argument or a module-level registry; and pinning's one
    localCheckpoint sits in pinning.checkpoint."""
    import ast

    raw = re.compile(r"\.localCheckpoint\(|\.persist\(|\.cache\(\)|ThreadPoolExecutor|keep_lineage=")
    registry = re.compile(r"^\w+\s*(:[^=]*)?=\s*(\[\]|set\(\)|list\(\)|deque\()")
    pinning_py = PACKAGE / "pinning.py"
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if (path != pinning_py and raw.search(line)) or registry.search(line)
    ]
    assert hits == []

    tree = ast.parse(pinning_py.read_text())
    body = {
        id(node)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == "checkpoint"
        for node in ast.walk(fn)
    }
    bypass = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint"
        and id(node) not in body
    ]
    assert bypass == []
