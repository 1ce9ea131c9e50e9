from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """A benchmark-configured session on local[2]; its JVM ends with the module."""
    import harness

    # Workers unpickle UDFs defined in these test modules.
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH, HERE])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    work = str(tmp_path_factory.mktemp("work"))
    s = harness.start_session(work)
    yield s
    harness.stop_session(s)
