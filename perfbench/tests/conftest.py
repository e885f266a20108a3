import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from gobblin_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p)
    s = get_spark("perfbench-tests", parallelism=2, shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="perfbench_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
