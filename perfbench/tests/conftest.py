"""Benchmark self-tests. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")


@pytest.fixture(scope="session")
def base():
    import datagen
    return datagen.base_tables()


@pytest.fixture(scope="session")
def spark():
    from nebula_spark.session import get_spark
    s = get_spark("perfbench_tests", **{"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
