from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambda_arc_events_filter_spark.session import fixture_conf, get_spark  # noqa: E402
from lambda_arc_events_filter_spark.testing import duck_connection  # noqa: E402

# Small SF for fast unit runs; the driver's own gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Fixture-scale dedup pipeline width (see operators/dedup.py — the
# library default is cluster parallelism; the toy value is a harness
# opt-in).
os.environ.setdefault("SPARK_GRAFT_DEDUP_PARTITIONS", "4")


def _slow_nodeids() -> frozenset[str]:
    """Node-ids measured >= 1.0 s (tests/slow_tests.txt — regenerate with
    tools/mark_slow.py).  The default tier deselects them (pytest.ini
    ``-m "not slow"``) so the driver's verify-window run finishes; the
    full suite runs at round close with ``-m "slow or not slow"``."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")
    try:
        with open(path) as f:
            return frozenset(
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            )
    except OSError:
        return frozenset()


#: Oracle-parity sentinels that stay in the default tier even when
#: slow_tests.txt (a measurement, regenerated by tools/mark_slow.py) lists
#: them: each reads events through a custom Python connector, a path no
#: fast-tier parity test would otherwise check against its oracle.
NEVER_SLOW = frozenset(
    f"tests/test_oracle_parity.py::test_query_matches_oracle[{q}]"
    for q in (
        "custom_source_events_scan",
        "stream_python_source_counts",
        "stream_python_source_windowed",
    )
)

#: How many collected items slow_tests.txt matched (unset: empty list).
_SLOW_MATCHED = pytest.StashKey[int]()


def pytest_collection_modifyitems(config, items):
    slow = _slow_nodeids() - NEVER_SLOW
    if not slow:
        return
    matched = 0
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)
            matched += 1
    config.stash[_SLOW_MATCHED] = matched


def pytest_report_collectionfinish(config, items):
    """One header line when slow_tests.txt lists node ids but none of them
    was collected: a stale list (renamed tests) silently empties the slow
    tier and moves every slow test into the default run."""
    if config.stash.get(_SLOW_MATCHED, None) == 0:
        return (
            f"slow_tests.txt: 0 of {len(_slow_nodeids())} listed node ids "
            "match a collected test"
        )
    return None


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        extra_conf=fixture_conf(),
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()
