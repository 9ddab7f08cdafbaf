"""spark/pipeline.py:to_arrow, the buffer-built converter every Python stage
returns its rows through, against ``pa.array`` over every type a row UDF
or a mapInArrow stage returns: the same array (``.equals``), valid down to
its buffers (``validate(full=True)``), with NULLs at every nesting level,
empty batches and lists, int32 bounds and Lezgi/Russian/Tabasaran text."""

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from html_parser_spark.ops.boilerplate import MAIN_CONTENT_TYPE
from html_parser_spark.ops.bpe import BPE_SCHEMA
from html_parser_spark.ops.html_meta import ANCHORS_TYPE
from html_parser_spark.ops.markdown import MARKDOWN_TYPE
from html_parser_spark.ops.page_kernel import PAGE_FULL_TYPE
from html_parser_spark.ops.pdf import PDF_TEXT_SCHEMA
from html_parser_spark.sources.warc import WARC_PAGE_SCHEMA, _reader_schema
from html_parser_spark.spark.dictionary import (
    V21_ENTRIES_TYPE,
    corpus_pairs_udf,
    flip_candidates_udf,
    training_pairs_udf,
)
from html_parser_spark.spark.pipeline import PARSED_TYPE, to_arrow

SPARK_TYPES = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "boolean": T.BooleanType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "timestamp": T.TimestampType(),
    "parsed": PARSED_TYPE,
    "main_content": MAIN_CONTENT_TYPE,
    "page_full": PAGE_FULL_TYPE,
    "markdown": MARKDOWN_TYPE,
    "anchors": T.StructType([T.StructField("anchors", ANCHORS_TYPE)]),
    "pdf_text": T.StructType(PDF_TEXT_SCHEMA.fields[1:]),
    "v21_entries": V21_ENTRIES_TYPE,
    "flip": flip_candidates_udf.returnType,
    "corpus": corpus_pairs_udf.returnType,
    "training": training_pairs_udf.returnType,
    "warc_page": WARC_PAGE_SCHEMA,
    "warc_reader": _reader_schema(with_offsets=True, with_revisits=True),
    "bpe": BPE_SCHEMA,
}

# Lezgi and Tabasaran write Cyrillic with the palochka Ӏ (and its
# lowercase ӏ); digraphs like кь, гъ, хь come from the Russian letters
_LETTERS = "абвгдеёжзийклмнопрстуфхцчшщъыьэюя" + "АБВГДЕЁЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ" + "Ӏӏ"
_TEXT = st.text(
    st.sampled_from(_LETTERS + " \xa0\t\n;.,-")
    | st.characters(blacklist_categories=("Cs",)),
    max_size=12,
)
_INT32 = st.sampled_from([-(2**31), 2**31 - 1, 0]) | st.integers(-(2**31), 2**31 - 1)
_INT64 = st.sampled_from([-(2**63), 2**63 - 1, 0]) | st.integers(-(2**63), 2**63 - 1)


def _values(t: pa.DataType):
    """One value of ``t``, NULL included, as a Python stage returns it."""
    if pa.types.is_string(t):
        base = _TEXT
    elif pa.types.is_binary(t):
        base = st.binary(max_size=12)
    elif pa.types.is_boolean(t):
        base = st.booleans()
    elif t == pa.int32():
        base = _INT32
    elif t == pa.int64():
        base = _INT64
    elif pa.types.is_timestamp(t):
        base = st.datetimes()  # naive, as the WARC reader produces
    elif pa.types.is_list(t):
        base = st.lists(_values(t.value_type), max_size=3)
    else:
        # optional keys: a missing key is NULL for both converters
        base = st.fixed_dictionaries({}, optional={f.name: _values(f.type) for f in t})
    return st.none() | base


@pytest.mark.parametrize("name", sorted(SPARK_TYPES))
def test_to_arrow_matches_pa_array(name):
    arrow_type = to_arrow_type(SPARK_TYPES[name])

    @settings(max_examples=60, deadline=None)
    @given(st.lists(_values(arrow_type), max_size=6))
    def check(rows):
        got = to_arrow(rows, arrow_type)
        got.validate(full=True)
        assert got.type == arrow_type
        assert got.equals(pa.array(rows, type=arrow_type))

    check()


@pytest.mark.parametrize("name", sorted(SPARK_TYPES))
def test_to_arrow_empty_and_all_null_batches(name):
    arrow_type = to_arrow_type(SPARK_TYPES[name])
    for rows in ([], [None], [None] * 9):
        got = to_arrow(rows, arrow_type)
        got.validate(full=True)
        assert got.equals(pa.array(rows, type=arrow_type))


def test_to_arrow_nested_nulls_and_empty_lists():
    arrow_type = to_arrow_type(PARSED_TYPE)
    rows = [
        {"fmt": "A", "entries": [], "n_entries": 0},
        {"entries": None, "error": "boom"},
        {"entries": [None, {"spelling": "кьил", "definitions": []}]},
        {"entries": [{"definitions": [None, "голова", "Ӏ"]}]},
        None,
        {},
    ]
    got = to_arrow(rows, arrow_type)
    got.validate(full=True)
    assert got.equals(pa.array(rows, type=arrow_type))
    assert got.to_pylist()[3]["entries"][0]["definitions"] == [None, "голова", "Ӏ"]


@pytest.mark.parametrize(
    "rows, arrow_type",
    [
        ([2**31], pa.int32()),
        ([-(2**31) - 1], pa.int32()),
        ([2**63], pa.int64()),
        ([{"n_entries": 2**31}], to_arrow_type(PARSED_TYPE)),
    ],
)
def test_to_arrow_int_out_of_range_raises(rows, arrow_type):
    """``pa.array`` refuses these too (OverflowError, or ArrowInvalid for
    int32); the converter always raises OverflowError."""
    with pytest.raises((OverflowError, pa.ArrowInvalid)):
        pa.array(rows, type=arrow_type)
    with pytest.raises(OverflowError):
        to_arrow(rows, arrow_type)


def test_to_arrow_refuses_other_types():
    for arrow_type in (pa.float64(), pa.large_string(), pa.date32()):
        with pytest.raises(TypeError):
            to_arrow([None], arrow_type)
