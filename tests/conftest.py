from __future__ import annotations

import contextlib
import os
import sys
from pathlib import Path

import pytest

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))
# executor python workers must be able to unpickle classes defined in
# test modules (fake DB clients shipped into scan and sink tasks)
os.environ["PYTHONPATH"] = (
    f"{_ROOT}:{_ROOT / 'tests'}:" + os.environ.get("PYTHONPATH", "")
)

SF_DIR = "/root/testdata/sf0.001"


@contextlib.contextmanager
def kernels_off():
    """Force every operator onto its dataflow / HOF-fold twin by
    patching the one kernel guard (``operators.util.kernel_ok``) to
    refuse. Yields the names of the functions that consulted the guard,
    in call order. A context manager rather than a fixture, so
    hypothesis ``@given`` tests can use it too."""
    from vectordb_migrator_spark.operators import util

    callers: list[str] = []

    def refuse(n: int = 0, limit: int = 0) -> bool:
        callers.append(sys._getframe(1).f_code.co_name)
        return False

    guard, util.kernel_ok = util.kernel_ok, refuse
    try:
        yield callers
    finally:
        util.kernel_ok = guard


@pytest.fixture(scope="session")
def spark():
    from vectordb_migrator_spark.session import get_spark

    import tempfile

    s = get_spark(
        "tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={
            # bucketed-table tests saveAsTable into a throwaway warehouse
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-")
        },
    )
    yield s


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
