"""Query lifecycle data model (reference: src/iceberg_explorer/query/models.py).

States: PENDING → RUNNING → {COMPLETED, FAILED, CANCELLED}
(reference query/models.py:21-28). Results are columnar Arrow batches
(reference query/models.py:52-113) — also Spark's native interchange format.
"""

from __future__ import annotations

import enum
import time
import uuid
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa


class QueryStatus(str, enum.Enum):
    PENDING = "pending"
    RUNNING = "running"
    COMPLETED = "completed"
    FAILED = "failed"
    CANCELLED = "cancelled"


@dataclass
class ExecutionMetrics:
    """reference query/models.py:31-49 — plus rows_scanned actually populated
    where the reference declared-but-never-set it (SURVEY §2A gap list)."""

    start_time: float = field(default_factory=time.time)
    end_time: Optional[float] = None
    rows_returned: int = 0
    rows_scanned: Optional[int] = None
    truncated: bool = False  # max_rows cap applied (reference never enforced it)

    @property
    def duration_seconds(self) -> Optional[float]:
        if self.end_time is None:
            return None
        return self.end_time - self.start_time

    def complete(self, rows_returned: int) -> None:
        self.end_time = time.time()
        self.rows_returned = rows_returned


#: Terminal states — the only ones the retention policy may evict.
TERMINAL_STATES = (
    QueryStatus.COMPLETED,
    QueryStatus.FAILED,
    QueryStatus.CANCELLED,
)


@dataclass
class QueryResult:
    """In-flight/terminal query state + columnar result."""

    sql: str
    query_id: uuid.UUID = field(default_factory=uuid.uuid4)
    status: QueryStatus = QueryStatus.PENDING
    metrics: ExecutionMetrics = field(default_factory=ExecutionMetrics)
    error: Optional[str] = None
    _schema: Optional[pa.Schema] = None
    _batches: list[pa.RecordBatch] = field(default_factory=list)
    #: CONTIGUOUS-prefix delivery high-water mark: rows [0, hwm) have been
    #: delivered to a client as an unbroken prefix (a page only advances
    #: it when it starts at or before the mark). Maintained by the NDJSON
    #: streaming layer; the executor's retention policy evicts
    #: fully-streamed results first, and "fully" means this mark reached
    #: the end — a jump-to-last-page fetch does not qualify.
    rows_streamed_hwm: int = 0
    #: Set by the streaming layer once the contiguous mark covers every
    #: row (or the error message was delivered for failed/cancelled
    #: queries, or a 0-row result was fetched at all).
    stream_delivered_final: bool = False
    #: Digest of what determines this result's rows (SQL, row cap, output
    #: columns, canonical analyzed plan, leaf versions), or None when the
    #: plan may not be reused. Set by the executor; a later execute with
    #: the same key shares this result's batches while it is retained.
    reuse_key: Optional[str] = None

    def set_result(self, table: pa.Table) -> None:
        self._schema = table.schema
        self._batches = table.to_batches(max_chunksize=10_000)
        self.metrics.complete(table.num_rows)

    def share_result(self, source: "QueryResult") -> None:
        """Take ``source``'s rows without copying them: the Arrow batches
        are immutable, so both results reference the same buffers. Status,
        timing and streaming bookkeeping stay this result's own."""
        self._schema = source._schema
        self._batches = list(source._batches)
        self.metrics.truncated = source.metrics.truncated
        self.metrics.rows_scanned = source.metrics.rows_scanned
        self.metrics.complete(source.metrics.rows_returned)

    @property
    def schema(self) -> Optional[pa.Schema]:
        return self._schema

    @property
    def batches(self) -> list[pa.RecordBatch]:
        return self._batches

    @property
    def total_rows(self) -> int:
        return sum(b.num_rows for b in self._batches)

    def column_names(self) -> list[str]:
        return list(self._schema.names) if self._schema is not None else []

    @property
    def result_nbytes(self) -> int:
        """Retained Arrow buffer bytes — the retention policy's unit."""
        return sum(b.nbytes for b in self._batches)

    @property
    def streamed_complete(self) -> bool:
        """True once a client has been delivered the stream's final row
        (or the error/cancelled message for failed queries) — such
        results are the retention policy's first eviction candidates."""
        return self.status in TERMINAL_STATES and self.stream_delivered_final
