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


def test_keep_lineage_pin_is_registered_and_released(spark):
    pinning.release()
    df = pinning.pin(spark.range(20), "test_pin:kept", keep_lineage=True)
    assert pinning._pinned == [df]
    assert df.storageLevel.useMemory and df.storageLevel.useDisk
    assert pinning.release() == 1
    assert pinning._pinned == []
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_checkpoint_pin_is_not_registered(spark):
    pinning.release()
    pinning.pin(spark.range(5), "test_pin:ckpt")
    assert pinning._pinned == []


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
    pinning."""
    raw = re.compile(r"\.localCheckpoint\(|\.persist\(|\.cache\(\)|ThreadPoolExecutor")
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "pinning.py" or path.parent != PACKAGE
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert hits == []
