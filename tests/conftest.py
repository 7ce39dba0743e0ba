from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from diseasystore_spark.session import get_spark  # noqa: E402

_config: pytest.Config | None = None


def pytest_configure(config: pytest.Config) -> None:
    global _config
    _config = config


def pytest_runtest_logreport(report: pytest.TestReport) -> None:
    """Write a failure's traceback to stderr the moment it happens: a
    run cut off by a timeout never reaches the end-of-run summary."""
    if not report.failed:
        return
    capman = _config.pluginmanager.getplugin("capturemanager")
    with capman.global_and_fixture_disabled():
        sys.stderr.write(
            f"\nFAILED {report.nodeid} ({report.when})\n"
            f"{report.longreprtext}\n"
        )
        sys.stderr.flush()


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("diseasystore-tests", cpus=8)
    yield spark


@pytest.fixture()
def store_root(tmp_path):
    return str(tmp_path / "feature_store")
