from __future__ import annotations

import os
import tempfile

import pytest

SF_DIR = "/root/testdata/sf0.001"


class _ProgressLog:
    """One `outcome nodeid seconds` line per finished test, flushed as it is
    written, so a run cut off by a timeout still names the last test that
    finished, and `sort -k3 -gr` on the file lists the slow ones."""

    def __init__(self, path: str):
        self._fh = open(path, "w", buffering=1)

    def pytest_runtest_logreport(self, report):
        # the call phase of every test, plus a setup/teardown that did not
        # pass (a skipped or erroring test has no call phase)
        if report.when == "call" or not report.passed:
            self._fh.write(f"{report.outcome} {report.nodeid} {report.duration:.2f}\n")

    def pytest_unconfigure(self, config):
        self._fh.close()


def pytest_configure(config):
    path = os.path.join(tempfile.gettempdir(), "hive_apache_ci_spark-pytest-progress.log")
    config.pluginmanager.register(_ProgressLog(path), "progress_log")


@pytest.fixture(scope="session")
def spark():
    from hive_apache_ci_spark.session import get_spark

    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def duck():
    from hive_apache_ci_spark.verify import duck_connect

    return duck_connect(SF_DIR)
