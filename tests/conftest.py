from __future__ import annotations

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
