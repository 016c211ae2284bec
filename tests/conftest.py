import os
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light


@pytest.fixture(scope="session")
def spark():
    from mwas_rfam_spark.session import get_spark

    s = get_spark(app_name="mwas-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_descriptions(spark):
    """``job_descriptions(after)`` → (highest job id, descriptions of the
    jobs with id > ``after``), read from the status store once the
    listener bus has drained; ``after=-1`` lists every job."""

    def read(after: int) -> tuple[int, list]:
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
        last, descs = after, []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            last = max(last, j.jobId())
            if j.jobId() > after:
                d = j.description()
                descs.append(d.get() if d.isDefined() else None)
        return last, descs

    return read


@pytest.fixture
def codegen_compiles(spark):
    """``codegen_compiles()`` → how many classes the JVM's Janino
    compiler has compiled so far; the difference across a block is its
    codegen cache misses."""
    from mwas_rfam_spark.session import codegen_compiles

    return lambda: codegen_compiles(spark)


@pytest.fixture
def persisted_rdds(spark):
    """``persisted_rdds()`` → ids of the JVM's persisted RDDs that are
    not local checkpoints (those wait for the ContextCleaner; a persist
    stays until someone unpersists it)."""

    def read() -> set[int]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in rdds if not rdds[i].rdd().isLocallyCheckpointed()}

    return read


@pytest.fixture
def py4j_round_trips(monkeypatch):
    """``with py4j_round_trips() as n:`` counts the commands the driver
    sends to the JVM inside the block, from every thread and including
    py4j's proxy-delete messages; ``n.count`` holds the count."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    @contextmanager
    def counting():
        n = SimpleNamespace(count=0)

        def counted(self, command):
            n.count += 1
            return send(self, command)

        monkeypatch.setattr(ClientServerConnection, "send_command", counted)
        try:
            yield n
        finally:
            monkeypatch.setattr(ClientServerConnection, "send_command", send)

    return counting


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_terminal_summary(terminalreporter):
    """Print how many tests skipped for want of the reference corpus, so
    a green run cannot hide that the reference-parity checks never ran."""
    n = 0
    for rep in terminalreporter.stats.get("skipped", []):
        if isinstance(rep.longrepr, tuple):
            reason = rep.longrepr[2].removeprefix("Skipped: ")
            n += reason == "reference corpus not present"
    terminalreporter.write_line(f"reference-dependent skips: {n}")
