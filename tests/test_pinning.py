"""pinning: the one way to pin a subplan and to overlap independent jobs."""

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
    """Every pin and job overlap in the package goes through pinning."""
    raw = re.compile(r"\.localCheckpoint\(|ThreadPoolExecutor")
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "pinning.py" or path.parent != PACKAGE
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert hits == []
