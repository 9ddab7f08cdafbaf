"""Every contract query registered in ``__spark_entry__`` against its DuckDB
twin on sf0.001: row count, column names and the order-insensitive value
hash of ``tools/oracle_check.py``.  Output columns must also be scalar: a
harness that canonicalizes cells through pandas ``sort_values`` raises on
array/map/struct cells, so complex columns are serialized in the query
projection (``array_join`` on both sides)."""

import os

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entry
from tests.conftest import TESTDATA
from tools import oracle_check

SF_DIR = os.path.join(TESTDATA, "sf0.001")
CONTRACTS = entry.contracts()


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"test tables not found: {SF_DIR}")
    con = oracle_check.duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(CONTRACTS))
def test_contract_oracle(duck, spark, name):
    c = CONTRACTS[name]
    sdf = c.fn(spark, SF_DIR)
    complex_cols = [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert complex_cols == []
    rel = duck.sql(c.oracle_sql())
    problems = oracle_check.compare(
        sdf.columns,
        [tuple(r) for r in sdf.collect()],
        rel.columns,
        oracle_check.duck_rows_pandas_path(rel),
    )
    assert problems == []
