import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the suite runs local[4] over MB-sized corpora: a small lazily-faulted heap
# starts in seconds where a pre-touched bench-sized one costs minutes of
# kernel time when the hypervisor is under memory pressure (see session.py).
# setdefault → explicit env still wins; subprocess sessions spawned by
# daemon/restart tests inherit the same sizing.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "0")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # PySpark warns on every call of an applyInPandas function whose type
    # hints cover only some of its parameters; annotate all or none
    config.addinivalue_line(
        "filterwarnings",
        "error:Cannot infer the eval type from type hints:UserWarning")


@pytest.fixture(scope="session")
def spark():
    from ee_outliers_spark.session import get_spark

    s = get_spark("ee-outliers-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def docs_dict(documents):
    rows = documents.select("doc_id", "text").collect()
    return {int(r["doc_id"]): r["text"] for r in rows}
