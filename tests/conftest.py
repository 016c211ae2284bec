import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light


@pytest.fixture(scope="session")
def spark():
    from mwas_rfam_spark.session import get_spark

    s = get_spark(app_name="mwas-tests", shuffle_partitions=8)
    yield s
    s.stop()


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
