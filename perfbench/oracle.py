"""Result canonicalization shared by the benchmark's client and server,
and the DuckDB reference engine over the generated parquet.

A result is compared as (sorted column names, sorted rows of canonical
cell strings): order-insensitive, and exact for floats (``repr``), the
same property the repository's differential tests pin.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import pyarrow as pa

def cell(v) -> str:
    """Canonical text of one value; matches the CSV export's formatting
    (None -> "", bool -> true/false, datetime -> ISO-8601, bytes -> hex),
    so NDJSON values, CSV cells and Arrow values canonicalize alike."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def rows_digest(rows) -> str:
    """Order-insensitive digest of rows that are already canonical
    string tuples."""
    h = hashlib.sha1()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def table_rows(table: pa.Table, columns=None) -> list[tuple[str, ...]]:
    cols = list(columns or table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return [tuple(cell(v) for v in row) for row in zip(*data)]


def _type_sig(t: pa.DataType) -> str:
    # Spark surfaces timestamps with tz=UTC, DuckDB naive; both are UTC
    # wall clock here (the engine pins its session time zone)
    return str(t).replace(", tz=UTC", "")


def summarize(table: pa.Table) -> dict:
    """What a result check compares: row count, column names and types,
    and the canonical digest (columns sorted by name)."""
    cols = sorted(table.column_names)
    return {
        "rows": table.num_rows,
        "schema": [[c, _type_sig(table.schema.field(c).type)] for c in cols],
        "digest": rows_digest(table_rows(table, cols)),
    }


def duckdb_connection(data_dir: str):
    """DuckDB with one view per table file in ``data_dir``, both bare (as the
    registry oracles name them) and in schema ``lake`` (as the service
    workloads do): the reference engine for every output check."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE SCHEMA lake")
    for f in sorted(os.listdir(data_dir)):
        t = f.removesuffix(".parquet")
        path = os.path.join(data_dir, f)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        con.execute(f"CREATE VIEW lake.{t} AS SELECT * FROM main.{t}")
    return con
