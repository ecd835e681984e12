"""NDJSON streaming protocol + pagination + CSV export — mirrors reference
tests/test_query_api.py (protocol shape, page sizes, offsets, empty results)
and tests/test_export.py (value formatting, size cap)."""

import datetime as dt
import json

import pyarrow as pa
import pytest

from iceberg_explorer_spark.errors import ExportTooLargeError
from iceberg_explorer_spark.lifecycle.models import QueryResult, QueryStatus
from iceberg_explorer_spark.service.export import (
    sanitize_filename,
    stream_csv,
)
from iceberg_explorer_spark.service.streaming_results import (
    stream_results,
    validate_page_size,
)


def make_result(n_rows: int = 350) -> QueryResult:
    res = QueryResult(sql="SELECT ...")
    table = pa.table({"id": list(range(n_rows)), "name": [f"r{i}" for i in range(n_rows)]})
    res.set_result(table)
    res.status = QueryStatus.COMPLETED
    return res


def parse(lines):
    return [json.loads(line) for line in lines]


def test_protocol_message_order():
    msgs = parse(stream_results(make_result(150), page_size=250))
    kinds = [m["type"] for m in msgs]
    assert kinds[0] == "metadata"
    assert kinds[-1] == "complete"
    assert set(kinds[1:-1]) == {"data", "progress"}
    meta = msgs[0]
    assert meta["columns"] == ["id", "name"] and meta["total_rows"] == 150
    data_rows = sum(len(m["rows"]) for m in msgs if m["type"] == "data")
    assert data_rows == 150
    # data messages are ≤ 100 rows
    assert all(len(m["rows"]) <= 100 for m in msgs if m["type"] == "data")


@pytest.mark.parametrize("page_size", [100, 250, 500, 1000])
def test_valid_page_sizes(page_size):
    validate_page_size(page_size)


@pytest.mark.parametrize("page_size", [0, 50, 101, 2000, -1])
def test_invalid_page_sizes(page_size):
    with pytest.raises(ValueError):
        validate_page_size(page_size)


def test_offset_pagination():
    res = make_result(350)
    msgs = parse(stream_results(res, page_size=100, offset=300))
    data_rows = [r for m in msgs if m["type"] == "data" for r in m["rows"]]
    assert len(data_rows) == 50  # only 50 rows beyond offset 300
    assert data_rows[0][0] == 300


def test_offset_beyond_data():
    msgs = parse(stream_results(make_result(10), page_size=100, offset=500))
    assert [m["type"] for m in msgs] == ["metadata", "complete"]
    assert msgs[-1]["rows_returned"] == 0


def test_empty_results():
    res = QueryResult(sql="SELECT ...")
    res.set_result(pa.table({"x": pa.array([], type=pa.int64())}))
    res.status = QueryStatus.COMPLETED
    msgs = parse(stream_results(res, page_size=100))
    assert msgs[0]["total_rows"] == 0
    assert msgs[-1]["type"] == "complete"


def test_failed_query_streams_error():
    res = QueryResult(sql="SELECT ...")
    res.status = QueryStatus.FAILED
    res.error = "boom"
    msgs = parse(stream_results(res, page_size=100))
    assert msgs == [{"type": "error", "error": "boom"}]


# -- CSV export ------------------------------------------------------------


def test_csv_value_formatting():
    res = QueryResult(sql="SELECT ...")
    table = pa.table(
        {
            "n": pa.array([None, 1], type=pa.int64()),
            "b": pa.array([True, False]),
            "ts": pa.array(
                [dt.datetime(2024, 1, 2, 3, 4, 5), None], type=pa.timestamp("us")
            ),
            "raw": pa.array([b"\x01\xff", None], type=pa.binary()),
        }
    )
    res.set_result(table)
    res.status = QueryStatus.COMPLETED
    body = b"".join(stream_csv(res)).decode()
    lines = body.strip().splitlines()
    assert lines[0] == "n,b,ts,raw"
    assert lines[1] == ",true,2024-01-02T03:04:05,01ff"
    assert lines[2] == "1,false,,"


def test_csv_size_cap():
    res = make_result(5000)
    with pytest.raises(ExportTooLargeError):
        list(stream_csv(res, max_size_bytes=1000))


def test_csv_special_characters():
    res = QueryResult(sql="SELECT ...")
    res.set_result(pa.table({"s": ['a,"b"', "line\nbreak"]}))
    res.status = QueryStatus.COMPLETED
    body = b"".join(stream_csv(res)).decode()
    assert '"a,""b"""' in body and '"line\nbreak"' in body


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("report", "report.csv"),
        ("../../etc/passwd", "etc_passwd.csv"),
        ("my file (1).csv", "my_file__1_.csv"),
        ("", "export.csv"),
    ],
)
def test_sanitize_filename(raw, expected):
    assert sanitize_filename(raw) == expected


def test_registered_udfs_usable_from_sql(spark):
    """The UDF registration surface (absent in the reference, SURVEY §2C):
    vectorized pandas UDFs callable from the admitted SQL grammar, results
    checked against equivalent JVM-side expressions / pandas math."""
    import numpy as np
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.functions.udfs import register_udfs
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMALL

    register_udfs(spark)
    load_table(spark, SF_DIR_SMALL, "embeddings").createOrReplaceTempView(
        "emb_udf"
    )
    rows = spark.sql(
        "SELECT embedding, quantize_embedding(embedding) AS q FROM emb_udf LIMIT 20"
    ).collect()
    assert len(rows) == 20
    for r in rows:
        a = np.asarray(r["embedding"], dtype=np.float64)
        m = np.max(np.abs(a))
        expect = (
            np.zeros(len(a), dtype=np.int8)
            if m == 0
            else np.round(a / m * 127.0).astype(np.int8)
        )
        assert list(expect) == list(r["q"])
        assert max(abs(v) for v in r["q"]) == 127 or m == 0

    load_table(spark, SF_DIR_SMALL, "orders").createOrReplaceTempView("ord_udf")
    got = {
        r["o_orderstatus"]: r["mad"]
        for r in spark.sql(
            "SELECT o_orderstatus, median_abs_dev(o_totalprice) AS mad"
            " FROM ord_udf GROUP BY o_orderstatus"
        ).collect()
    }
    import pandas as pd

    pdf = (
        load_table(spark, SF_DIR_SMALL, "orders")
        .select("o_orderstatus", "o_totalprice")
        .toPandas()
    )
    for status, grp in pdf.groupby("o_orderstatus"):
        med = grp.o_totalprice.median()
        assert abs(got[status] - (grp.o_totalprice - med).abs().median()) < 1e-9


# ---------------------------------------------------------------------------
# Formatting round-trip property: the full schema-test type matrix
# (reference tests/test_catalog.py:917-967 — INTEGER, VARCHAR, DOUBLE,
# BOOLEAN, DATE, TIMESTAMP, DECIMAL(10,2), BLOB — plus nested list/struct)
# through the CSV and NDJSON edges.
# ---------------------------------------------------------------------------


def _reference_format_value(value):
    """Verbatim transcription of the reference CSV rule
    (src/iceberg_explorer/api/routes/export.py:47-61) — the byte-identity
    oracle for csv_cell. (The as_py branch is moot here: arrow_rows already
    pivots batches to Python values, same as the reference's to_pylist
    edge.)"""
    if value is None:
        return ""
    if hasattr(value, "as_py"):
        value = value.as_py()
        if value is None:
            return ""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, dt.datetime):
        return value.isoformat()
    if isinstance(value, bytes):
        return value.hex()
    return str(value)


def _type_matrix_table() -> pa.Table:
    import decimal

    return pa.table(
        {
            "i32": pa.array([1, -2147483648, None], pa.int32()),
            "i64": pa.array([9007199254740993, -1, None], pa.int64()),
            "dbl": pa.array([1.5, -0.0, None], pa.float64()),
            "b": pa.array([True, False, None], pa.bool_()),
            "s": pa.array(['he said "hi",\nbye', "", None], pa.string()),
            "d": pa.array([dt.date(2024, 2, 29), dt.date(1970, 1, 1), None]),
            "ts": pa.array(
                [
                    dt.datetime(2024, 12, 31, 23, 59, 59, 123456),
                    dt.datetime(2000, 1, 1),
                    None,
                ],
                pa.timestamp("us"),
            ),
            "dec": pa.array(
                [
                    decimal.Decimal("12345678.90"),
                    decimal.Decimal("-0.01"),
                    None,
                ],
                pa.decimal128(10, 2),
            ),
            "blob": pa.array([b"\x00\xff\x10", b"", None], pa.binary()),
            "arr": pa.array([[1, 2], [], None], pa.list_(pa.int64())),
            "st": pa.array(
                [{"a": 1, "b": "x"}, {"a": None, "b": ""}, None],
                pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )


def test_csv_cell_byte_identical_to_reference_rule():
    from iceberg_explorer_spark.service.convert import arrow_rows, csv_cell

    table = _type_matrix_table()
    for batch in table.to_batches():
        for row in arrow_rows(batch):
            for v in row:
                assert csv_cell(v) == _reference_format_value(v), repr(v)


def test_csv_stream_full_type_matrix_parses_back():
    """End-to-end CSV edge over the matrix: emitted bytes must parse back
    with csv.reader into exactly the reference-rule cells (quoting of
    embedded commas/newlines/quotes is the csv module's RFC-4180 layer on
    top of the per-cell rule)."""
    import csv as _csv
    import io

    table = _type_matrix_table()
    res = QueryResult(sql="SELECT ...")
    res.set_result(table)
    res.status = QueryStatus.COMPLETED
    raw = b"".join(stream_csv(res)).decode("utf-8")
    rows = list(_csv.reader(io.StringIO(raw)))
    assert rows[0] == table.column_names
    body = rows[1:]
    assert len(body) == table.num_rows
    pylist = table.to_pylist()
    for got_row, want_row in zip(body, pylist):
        want = [_reference_format_value(want_row[c]) for c in table.column_names]
        assert got_row == want


def test_ndjson_value_round_trip_full_type_matrix():
    """Every cell of the matrix must survive json.dumps → json.loads (the
    NDJSON edge) without error, with NULL passthrough, ISO datetimes, hex
    bytes, and stringified decimals (exact — no float coercion)."""
    from iceberg_explorer_spark.service.convert import arrow_rows, json_value

    table = _type_matrix_table()
    for batch in table.to_batches():
        for row in arrow_rows(batch):
            encoded = json.dumps([json_value(v) for v in row])
            decoded = json.loads(encoded)
            for orig, rt in zip(row, decoded):
                if orig is None:
                    assert rt is None
                elif isinstance(orig, (dt.datetime, dt.date)):
                    assert rt == orig.isoformat()
                elif isinstance(orig, bytes):
                    assert rt == orig.hex()
                else:
                    import decimal

                    if isinstance(orig, decimal.Decimal):
                        assert decimal.Decimal(rt) == orig  # exact, stringified
                    else:
                        assert rt == orig


def test_ndjson_nested_temporal_and_binary_values():
    """Struct and array columns carrying datetimes/bytes/decimals must
    stream: pre-fix, json_value returned nested dicts/lists untouched and
    json.dumps raised TypeError, killing the whole NDJSON response for any
    query with a nested temporal column (the reference's pydantic edge
    serializes these, so crashing was a parity break)."""
    import decimal

    from iceberg_explorer_spark.service.convert import json_value

    nested = {
        "when": dt.datetime(2024, 6, 1, 12, 30),
        "blob": b"\x01\x02",
        "amt": decimal.Decimal("9.99"),
        "tags": [dt.date(2024, 1, 1), None],
    }
    out = json.dumps(json_value([nested, None]))  # must not raise
    decoded = json.loads(out)
    assert decoded[0]["when"] == "2024-06-01T12:30:00"
    assert decoded[0]["blob"] == "0102"
    assert decoded[0]["amt"] == "9.99"
    assert decoded[0]["tags"] == ["2024-01-01", None]
    assert decoded[1] is None


def test_ndjson_stream_with_nested_timestamp_column():
    """End-to-end: a result table with array<timestamp> and
    struct<ts timestamp> columns streams complete NDJSON."""
    table = pa.table(
        {
            "id": [1, 2],
            "times": pa.array(
                [[dt.datetime(2024, 1, 1)], None],
                pa.list_(pa.timestamp("us")),
            ),
            "meta": pa.array(
                [{"ts": dt.datetime(2024, 5, 5, 5)}, None],
                pa.struct([("ts", pa.timestamp("us"))]),
            ),
        }
    )
    res = QueryResult(sql="SELECT ...")
    res.set_result(table)
    res.status = QueryStatus.COMPLETED
    msgs = parse(stream_results(res, page_size=100))
    assert msgs[-1]["type"] == "complete"
    rows = [r for m in msgs if m["type"] == "data" for r in m["rows"]]
    assert rows[0][1] == ["2024-01-01T00:00:00"]
    assert rows[0][2] == {"ts": "2024-05-05T05:00:00"}
    assert rows[1][1] is None and rows[1][2] is None


# ---------------------------------------------------------------------------
# Generative property: ARBITRARY nested values (hypothesis) through the
# serialization edge — beyond the hand-built matrix, shrinks any failure.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=40),
    st.binary(max_size=20),
    st.datetimes(
        min_value=dt.datetime(1, 1, 1), max_value=dt.datetime(9999, 12, 31)
    ),
    st.dates(),
    st.decimals(allow_nan=False, allow_infinity=False, places=4),
)
_nested = st.recursive(
    _scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(st.text(max_size=8), inner, max_size=4),
    ),
    max_leaves=12,
)


@settings(max_examples=200, deadline=None)
@given(value=_nested)
def test_json_value_always_json_serializable(value):
    """json.dumps(json_value(v)) must never raise, for any nesting of the
    type matrix; NULLs survive at any depth; decimals stay exact strings."""
    from iceberg_explorer_spark.service.convert import json_value

    encoded = json.dumps(json_value(value))  # the property: no TypeError
    json.loads(encoded)


@settings(max_examples=200, deadline=None)
@given(value=_scalars)
def test_csv_cell_total_and_reference_identical(value):
    """csv_cell is total over the scalar matrix and byte-identical to the
    reference rule for every generated value."""
    from iceberg_explorer_spark.service.convert import csv_cell

    out = csv_cell(value)
    assert isinstance(out, str)
    assert out == _reference_format_value(value)


def test_ndjson_map_typed_column_with_timestamps():
    """Arrow surfaces map<k,v> cells as lists of (key, value) TUPLES —
    the recursion must descend into them (a map<string,timestamp> cell
    otherwise still crashed json.dumps after the list/dict fix)."""
    from iceberg_explorer_spark.service.convert import json_value

    table = pa.table(
        {
            "m": pa.array(
                [[("born", dt.datetime(2024, 3, 1))], None],
                pa.map_(pa.string(), pa.timestamp("us")),
            )
        }
    )
    cells = table.column("m").to_pylist()
    out = json.loads(json.dumps([json_value(c) for c in cells]))
    assert out[0] == [["born", "2024-03-01T00:00:00"]]
    assert out[1] is None


@settings(max_examples=60, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=1200),
    offset=st.integers(min_value=0, max_value=1500),
    page_size=st.sampled_from([100, 250, 500, 1000]),
    batch_split=st.integers(min_value=1, max_value=7),
)
def test_pagination_slice_equivalence(n_rows, offset, page_size, batch_split):
    """Generative pagination contract: for ANY result size, Arrow batch
    segmentation, offset, and page size, the streamed data rows equal the
    plain Python slice rows[offset : offset + page_size] — no off-by-one
    at batch seams, no dependence on how Arrow happened to chunk."""
    table = pa.table(
        {"id": list(range(n_rows)), "v": [i * 3 for i in range(n_rows)]}
    )
    res = QueryResult(sql="SELECT ...")
    # re-chunk the table so batch boundaries land at arbitrary places
    if n_rows:
        size = max(1, n_rows // batch_split)
        batches = [
            b
            for chunk_start in range(0, n_rows, size)
            for b in table.slice(chunk_start, size).to_batches()
        ]
        res.set_result(pa.Table.from_batches(batches, table.schema))
    else:
        res.set_result(table)
    res.status = QueryStatus.COMPLETED

    msgs = parse(stream_results(res, page_size=page_size, offset=offset))
    rows = [r for m in msgs if m["type"] == "data" for r in m["rows"]]
    want = [[i, i * 3] for i in range(n_rows)][offset : offset + page_size]
    assert rows == want
    assert msgs[0]["type"] == "metadata" and msgs[0]["total_rows"] == n_rows
    assert msgs[-1]["type"] == "complete"
    assert msgs[-1]["rows_returned"] == len(want)


def test_non_finite_doubles_stream_as_strict_json_null(spark):
    """json.dumps writes bare NaN/Infinity, which a browser's JSON.parse
    rejects: non-finite doubles go out as null."""
    from iceberg_explorer_spark.lifecycle.executor import QueryExecutor

    res = QueryExecutor(spark).execute(
        "SELECT CAST('NaN' AS DOUBLE) AS n, CAST('Infinity' AS DOUBLE) AS p, "
        "CAST('-Infinity' AS DOUBLE) AS m, 1.5D AS f"
    )

    def reject(token):
        raise ValueError(f"non-strict JSON constant {token}")

    lines = [json.loads(l, parse_constant=reject) for l in stream_results(res)]
    data = [m for m in lines if m["type"] == "data"]
    assert data[0]["rows"] == [[None, None, None, 1.5]]
