import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark():
    from reden_spark.session import get_spark

    # Python workers import reden_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (str(ROOT), os.environ.get("PYTHONPATH"))))
    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()
