import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

REFERENCE = os.environ.get("SPARK_GRAFT_REFERENCE", "/root/reference")
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def fixture_path(*parts):
    """The path of a reference input (a file or directory under
    ``REFERENCE``).  When it is absent the calling test or fixture skips,
    naming the missing path; every reference-dependent test goes through
    here."""
    path = os.path.join(REFERENCE, *parts)
    if not os.path.exists(path):
        pytest.skip(f"reference input not found: {path}")
    return path


def read_fixture(*parts) -> bytes:
    with open(fixture_path(*parts), "rb") as f:
        return f.read()


@pytest.fixture(scope="session")
def spark():
    from html_parser_spark.spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def assert_one_python_form(plan: str) -> None:
    """Every Python node of an executed-plan string is an Arrow row UDF
    (ArrowEvalPython with eval type 250, SQL_SCALAR_ARROW_UDF; a pandas UDF
    reads 200) and no MapInPandas node remains."""
    arrow = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
    assert arrow and all(line.rstrip().endswith(", 250") for line in arrow), arrow
    assert "MapInPandas" not in plan
