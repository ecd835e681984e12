"""Value conversion at the serialization edge.

Reference behavior matched exactly:
- Arrow scalar → Python via .as_py() with null passthrough
  (api/routes/query.py:74-80)
- CSV cell formatting: None → "", bool → "true"/"false", datetime → ISO-8601,
  bytes → hex (api/routes/export.py:47-61)
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

import pyarrow as pa


def arrow_rows(batch: pa.RecordBatch) -> list[list[Any]]:
    """Pivot an Arrow batch to rows of Python values (null-safe)."""
    cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
    return [list(row) for row in zip(*cols)] if cols else []


def json_value(value: Any) -> Any:
    """JSON-safe scalar (reference _convert_value, api/routes/query.py:74-80).

    Recurses into list/dict values: Arrow surfaces struct columns as dicts
    and array columns as lists, and a nested datetime/bytes/Decimal would
    otherwise kill ``json.dumps`` for the whole NDJSON stream. The
    reference never crashes here — its pydantic ``model_dump_json`` edge
    serializes nested datetimes/bytes the same way — so recursion is the
    behavior-parity fix, not an extension."""
    if value is None:
        return None
    if isinstance(value, float):
        # NaN/±Infinity have no strict-JSON spelling (json.dumps would
        # write bare NaN/Infinity, which JSON.parse rejects)
        return value if math.isfinite(value) else None
    if isinstance(value, (dt.datetime, dt.date, dt.time)):
        return value.isoformat()
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, dt.timedelta):
        return value.total_seconds()
    if isinstance(value, (list, tuple)):
        # tuple: Arrow surfaces map<k,v> cells as lists of (key, value)
        # tuples — serialized as 2-element arrays, values recursed
        return [json_value(v) for v in value]
    if isinstance(value, dict):
        return {k: json_value(v) for k, v in value.items()}
    import decimal

    if isinstance(value, decimal.Decimal):
        return str(value)
    return value


def csv_cell(value: Any) -> str:
    """CSV cell text (reference api/routes/export.py:47-61)."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (dt.datetime, dt.date, dt.time)):
        return value.isoformat()
    if isinstance(value, bytes):
        return value.hex()
    return str(value)
