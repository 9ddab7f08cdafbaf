"""No package code loads pandas into a Python worker.  pyarrow imports
pandas (about 27 MB per worker) the first time ``pa.array`` or
``pa.scalar`` converts Python objects, and a pandas UDF or ``mapInPandas``
stage needs it outright; every Python stage builds its Arrow output with
``spark/pipeline.py:to_arrow`` instead."""

import ast
import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "html_parser_spark")

# attribute calls that load pandas in the process that makes them
_PANDAS_CALLS = {"from_pylist", "pandas_udf", "mapInPandas", "applyInPandas"}
_PA_CALLS = {"array", "scalar"}


def _offences(path: str) -> list[str]:
    tree = ast.parse(open(path, encoding="utf-8").read())
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            names = [node.module or ""]
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr, owner = node.func.attr, node.func.value
            pa_call = isinstance(owner, ast.Name) and owner.id == "pa" and attr in _PA_CALLS
            if pa_call or attr in _PANDAS_CALLS:
                out.append(f"{node.lineno}: .{attr}(...)")
            continue
        else:
            continue
        out.extend(f"{node.lineno}: import {n}" for n in names if n.split(".")[0] == "pandas")
    return out


def test_no_package_module_imports_pandas_or_calls_pa_array():
    paths = glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    assert paths
    found = {
        os.path.relpath(p, ROOT): o for p in sorted(paths) if (o := _offences(p))
    }
    assert found == {}


def test_the_guard_sees_each_form(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import pandas as pd\nfrom pandas import DataFrame\nimport pyarrow as pa\n"
        "pa.array([1])\npa.scalar(1)\npa.Table.from_pylist([])\n"
        "df.mapInPandas(f, s)\nF.pandas_udf('long')\n",
        encoding="utf-8",
    )
    assert len(_offences(str(probe))) == 7


_WORKER_CHECK = """
import sys

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type

from html_parser_spark.kernel import parse_document
from html_parser_spark.ops.bpe import _encode_batches
from html_parser_spark.sources.warc import _gzip_member, _parse_files_fn
from html_parser_spark.spark.pipeline import PARSED_TYPE, to_arrow
from tests.make_golden import KERNEL_PATHS, kernel_path_pages

assert "pandas" not in sys.modules, "imported at module load"

# a kernel batch: one page of each kernel path through the row-UDF converter
rows = [parse_document(kernel_path_pages(shape)[0]) for shape in KERNEL_PATHS]
assert to_arrow(rows, to_arrow_type(PARSED_TYPE)).to_pylist() == rows

def batch(rows, **fields):
    return pa.RecordBatch.from_struct_array(to_arrow(rows, pa.struct(fields)))

# the WARC parser over a one-record .warc.gz
http = b"HTTP/1.1 200 OK\\r\\nContent-Type: text/html\\r\\n\\r\\n<p>a</p>"
record = _gzip_member(
    b"WARC/1.0\\r\\nWARC-Type: response\\r\\nWARC-Date: 2024-01-02T03:04:05Z\\r\\n"
    b"WARC-Target-URI: http://x.example/\\r\\nContent-Length: %d\\r\\n\\r\\n%s\\r\\n\\r\\n"
    % (len(http), http)
)
files = batch([{"path": "a.warc.gz", "content": record}], path=pa.string(), content=pa.binary())
(pages,) = _parse_files_fn(with_offsets=True, with_revisits=True)(iter([files]))
(page,) = pages.to_pylist()
assert (page["url"], page["html"], page["http_status"]) == ("http://x.example/", b"<p>a</p>", 200)
assert page["warc_ts"].isoformat() == "2024-01-02T03:04:05+00:00", page

# the BPE encoder over one batch
docs = batch(
    [{"doc_id": 1, "text": "кьил кьил"}, {"doc_id": None, "text": None}],
    doc_id=pa.int64(), text=pa.string(),
)
(encoded,) = _encode_batches({("к", "ь"): 0})(iter([docs]))
assert encoded.column("bpe_text").to_pylist() == ["кь и л </w> кь и л </w>", ""]

assert "pandas" not in sys.modules
"""


def test_python_stage_batches_leave_pandas_unloaded():
    """A fresh interpreter stands in for a worker: the test process itself
    has pandas loaded by Spark's driver side."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_CHECK],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
