import os
import shutil
import sys
import tempfile

import pytest

# this checkout's package, in the driver and in the Python workers the
# JVM forks (they inherit PYTHONPATH), whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from careers_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "careers_spark_tests",
        cpus=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture()
def work_dir():
    d = tempfile.mkdtemp(prefix="kgtest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
