import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _git_status() -> str | None:
    """``git status --porcelain`` of the repo, or None outside a git
    checkout (or without git)."""
    try:
        r = subprocess.run(["git", "status", "--porcelain"], cwd=REPO,
                           capture_output=True, text=True, timeout=60)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout if r.returncode == 0 else None


_STATUS_AT_START = _git_status()


def pytest_sessionfinish(session, exitstatus):
    """Tests must leave the working tree as they found it: no tracked
    file rewritten, no untracked file left behind."""
    if _STATUS_AT_START is None:
        return
    now = _git_status()
    if now != _STATUS_AT_START:
        before = set(_STATUS_AT_START.splitlines())
        changed = sorted(set((now or "").splitlines()) ^ before)
        session.config.get_terminal_writer().line(
            f"FAILED the test run changed `git status --porcelain`: "
            f"{changed}", red=True)
        session.exitstatus = pytest.ExitCode.TESTS_FAILED

SF_DIR = os.environ.get("MURA_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mura_spark.session import get_spark
    spark = get_spark("mura-tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.ui.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def session(spark):
    from mura_spark.session import MuraSession
    return MuraSession(spark)


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    from mura_spark.suite.common import table
    return table(spark, sf_dir, "documents")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    from mura_spark.suite.common import table
    return table(spark, sf_dir, "embeddings")
