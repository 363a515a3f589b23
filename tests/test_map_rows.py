"""The one per-row Python map stage: ``parallelize.map_rows`` and its
``page_rows`` adapter for ``(key, payload)`` page parsers."""

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.operators.parallelize import map_rows, page_rows

SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n", IntegerType()),
        StructField("body", StringType()),
    ]
)

# one field of every type the operators emit, for the empty-frame check
WIDE = StructType(
    [
        StructField("s", StringType()),
        StructField("i", IntegerType()),
        StructField("l", LongType()),
        StructField("d", DoubleType()),
        StructField("b", BooleanType()),
        StructField("raw", BinaryType()),
    ]
)


def _parse(key, data):
    if data.startswith(b"RAISE"):
        raise ValueError("malformed page")
    # two rows per page: a parser may emit any number
    return [(key, len(data), data.decode()), (key, -1, None)]


class _Stage:
    """Stands in for a DataFrame: keeps the batch function ``map_rows``
    hands to ``mapInPandas`` so a test can drive it on pandas frames."""

    def mapInPandas(self, fn, schema):
        self.fn, self.schema = fn, schema
        return self


def _run(fn, schema, frames):
    return list(map_rows(_Stage(), fn, schema).fn(iter(frames)))


def test_page_rows_mixed_batch():
    batch = pd.DataFrame(
        {
            "url": ["bin", "str", "bad", "null"],
            "html": [bytearray(b"<p>x</p>"), "<p>x</p>", b"RAISE here", None],
        }
    )
    (out,) = _run(page_rows(_parse), SCHEMA, [batch])
    assert list(out.columns) == SCHEMA.fieldNames()
    rows = list(out.itertuples(index=False, name=None))
    assert rows == [
        ("bin", 8, "<p>x</p>"),
        ("bin", -1, None),
        ("str", 8, "<p>x</p>"),
        ("str", -1, None),
    ]
    # str and binary payloads of the same bytes give the same rows
    assert [r[1:] for r in rows[:2]] == [r[1:] for r in rows[2:]]


def test_map_rows_passes_columns_in_order():
    batch = pd.DataFrame({"a": [1, 2], "b": ["x", "y"], "c": [True, False]})
    seen = []

    def fn(*row):
        seen.append(row)
        return [(row[1], row[0], None)] if row[2] else []

    (out,) = _run(fn, SCHEMA, [batch])
    assert seen == [(1, "x", True), (2, "y", False)]
    assert list(out.itertuples(index=False, name=None)) == [("x", 1, None)]


def test_map_rows_one_frame_per_batch_and_empty_frames():
    frames = [
        pd.DataFrame({"url": ["a"], "html": [b"RAISE"]}),
        pd.DataFrame({"url": pd.Series([], dtype=object), "html": []}),
        pd.DataFrame({"url": ["b"], "html": [b"ok"]}),
    ]
    out = _run(page_rows(_parse), SCHEMA, frames)
    assert [len(f) for f in out] == [0, 0, 2]
    for f in out:
        assert list(f.columns) == SCHEMA.fieldNames()


def test_empty_frame_converts_to_schema_arrow_types():
    empty = pd.DataFrame({"url": pd.Series([], dtype=object), "html": []})
    (out,) = _run(page_rows(_parse), WIDE, [empty])
    want = to_arrow_schema(WIDE)
    table = pa.Table.from_pandas(out, schema=want, preserve_index=False)
    assert table.num_rows == 0
    assert [f.type for f in table.schema] == [f.type for f in want]


def test_map_rows_in_spark(spark):
    def parse(key, data):
        if data.startswith(b"RAISE"):
            raise ValueError("malformed page")
        return [(key, len(data), data.decode())]

    pages = [("a", "<p>x</p>"), ("bad", "RAISE"), ("b", "ok")]
    as_str = spark.createDataFrame(pages, "url string, html string")
    as_bin = spark.createDataFrame(
        [(u, bytearray(h.encode())) for u, h in pages], "url string, html binary"
    )
    got_str = map_rows(as_str, page_rows(parse), SCHEMA).collect()
    got_bin = map_rows(as_bin, page_rows(parse), SCHEMA).collect()
    assert sorted(tuple(r) for r in got_str) == [("a", 8, "<p>x</p>"), ("b", 2, "ok")]
    assert sorted(tuple(r) for r in got_bin) == sorted(tuple(r) for r in got_str)

    empty = map_rows(as_bin.limit(0), page_rows(parse), WIDE)
    assert empty.schema == WIDE
    table = empty.toArrow()
    assert table.num_rows == 0
    assert [f.type for f in table.schema] == [f.type for f in to_arrow_schema(WIDE)]
