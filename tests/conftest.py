import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from photohive_spark.session import get_spark
    s = get_spark(app="photohive-tests", master="local[4]",
                  extra={"spark.sql.shuffle.partitions": "4",
                         "spark.driver.memory": "6g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _arrow_rows(cols: dict) -> list[dict]:
    """{column name -> pyarrow array} feature columns (batch_kernels'
    output) -> one plain dict per row, shaped like engine.features_row."""
    py = {name: arr.to_pylist() for name, arr in cols.items()}
    n = len(next(iter(py.values())))
    return [{name: vals[i] for name, vals in py.items()} for i in range(n)]


@pytest.fixture
def arrow_rows():
    return _arrow_rows
