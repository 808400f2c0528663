from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# DRIVER_FAST (VERDICT r15 #7): the full suite is ~30 min wall, which
# overflows a time-boxed CI/driver window (VERIFY r15 recorded a run
# truncated mid-suite at ~82% with zero failures). Setting DRIVER_FAST=1
# skips the SOAK/E2E suites — the long multi-restart endurance runs
# whose properties are already covered per-trigger by the fast
# lifecycle tests — cutting several minutes while keeping every
# correctness/equivalence test. The FULL suite stays the default:
# plain `pytest tests/ -x -q` runs everything.
_SOAK_SUITES = {
    "test_disorder_soak.py",  # 8-restart carry soak (~80 s)
    "test_streaming_soak.py",  # continuous-drain state soaks (~25 s)
    "test_cli_e2e.py",  # end-to-end CLI drive (subprocess startup)
}


def pytest_collection_modifyitems(config, items):
    if not os.environ.get("DRIVER_FAST"):
        return
    skip = pytest.mark.skip(
        reason="DRIVER_FAST: soak/e2e suite skipped (full run is the default)"
    )
    for item in items:
        fname = os.path.basename(str(item.fspath))
        if fname in _SOAK_SUITES:
            item.add_marker(skip)

from tweetaggregates_spark.pbshim import ensure_protobuf
from tweetaggregates_spark.session import get_spark

# Activate the pure-Python protobuf fallback BEFORE any SparkSession
# starts: transformWithState's Python workers import google.protobuf,
# and they inherit PYTHONPATH from the JVM, which inherits it from this
# process. No-op when real protobuf is installed.
ensure_protobuf()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
