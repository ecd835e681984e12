"""Observability: per-query spans + metrics (A21).

Mirrors the reference's instrumentation surface (reference:
src/iceberg_explorer/observability.py:165-233 — histogram
``query_duration_seconds``, counter ``query_rows_returned``, up-down counter
``active_queries``; per-query span with status/duration/row attributes at
query/executor.py:181-226; trace-context structured logs at :104-150).

Design differences, deliberate:
- OpenTelemetry is OPTIONAL: when the ``opentelemetry`` API is importable the
  same instruments/spans are emitted through it; otherwise everything still
  records into an in-process :class:`Recorder` so the engine is observable
  (and testable) with zero extra dependencies. The reference hard-imports the
  OTel SDK + FastAPI instrumentor; an engine library can't.
- Logs go through stdlib ``logging`` with the span id attached — same
  queryable fields as the reference's structlog JSON without a structlog
  dependency.

On a real cluster these process-local metrics complement (not replace) the
Spark UI/metrics system: they measure the service layer — admission to
Arrow materialization — which is exactly the path the Spark metrics system
does not cover.
"""

from __future__ import annotations

import logging
import threading
import time
import uuid
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field
from typing import Iterator, Optional

logger = logging.getLogger("iceberg_explorer_spark")

#: The Recorder keeps only this many of the most recent spans (and query
#: durations): one of each is added per query or service call, so an
#: unbounded list grows for the life of a long-running server.
MAX_RETAINED_SPANS = 4096

#: Request-scoped correlation id (reference observability.py:104-150 injects
#: trace/span ids into every structured log line). ContextVar so one id
#: follows a request across catalog/query/export/health calls — including
#: through asyncio — without any framework dependency.
_REQUEST_ID: ContextVar[Optional[str]] = ContextVar(
    "iceberg_explorer_spark_request_id", default=None
)


@contextmanager
def request_context(request_id: Optional[str] = None) -> Iterator[str]:
    """Bind a correlation id for the duration of one service request.

    Every span and log line emitted inside the block carries the same id, so
    a query + its catalog lookups + its export read as ONE request in the
    logs — the reference's trace-context behavior without requiring OTel.
    """
    rid = request_id or uuid.uuid4().hex[:16]
    token = _REQUEST_ID.set(rid)
    try:
        yield rid
    finally:
        _REQUEST_ID.reset(token)


def current_request_id() -> Optional[str]:
    return _REQUEST_ID.get()


@contextmanager
def observe_call(name: str, **attributes) -> Iterator["SpanRecord"]:
    """Correlated span around a non-query service call (catalog list/detail,
    export, health probe). Records into the same Recorder as query spans and
    logs one line tagged with the bound request id."""
    span = SpanRecord(
        name=name,
        query_id="",
        request_id=current_request_id(),
        attributes=dict(attributes),
    )
    start = time.perf_counter()
    try:
        yield span
        span.status = "ok"
    except Exception as exc:
        span.status = "error"
        span.error = str(exc)
        raise
    finally:
        span.duration_s = time.perf_counter() - start
        get_observer().recorder.add_span(span)
        logger.info(
            "call %s %s request=%s duration=%.3fs",
            name,
            span.status,
            span.request_id or "-",
            span.duration_s,
        )

try:  # pragma: no cover - exercised only when OTel is installed
    from opentelemetry import metrics as _otel_metrics
    from opentelemetry import trace as _otel_trace

    _OTEL = True
except ImportError:
    _OTEL = False


@dataclass
class SpanRecord:
    name: str
    query_id: str
    status: str = "in_progress"  # ok | error | in_progress
    duration_s: float = 0.0
    rows_returned: int = 0
    error: Optional[str] = None
    request_id: Optional[str] = None
    attributes: dict = field(default_factory=dict)


class Recorder:
    """In-process metric/span store — the OTel-free backend and test hook."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.query_duration_seconds: list[float] = []
        self.query_rows_returned: int = 0
        self.active_queries: int = 0
        self.spans: list[SpanRecord] = []
        # retention-policy gauges/counter (lifecycle/executor.py
        # _enforce_retention): current terminal results held + their Arrow
        # bytes, and cumulative evictions since process start
        self.retained_results: int = 0
        self.retained_result_bytes: int = 0
        self.results_evicted: int = 0
        # executes served from a retained result's batches (no Spark job);
        # over the query count it is the reuse ratio
        self.results_reused: int = 0

    def record_duration(self, seconds: float) -> None:
        with self._lock:
            _append_bounded(self.query_duration_seconds, seconds)

    def add_rows(self, n: int) -> None:
        with self._lock:
            self.query_rows_returned += n

    def adjust_active(self, delta: int) -> None:
        with self._lock:
            self.active_queries += delta

    def add_span(self, span: SpanRecord) -> None:
        with self._lock:
            _append_bounded(self.spans, span)

    def set_retention(self, count: int, nbytes: int, evicted: int = 0) -> None:
        with self._lock:
            self.retained_results = count
            self.retained_result_bytes = nbytes
            self.results_evicted += evicted

    def count_reuse(self) -> None:
        with self._lock:
            self.results_reused += 1

    def reset(self) -> None:
        with self._lock:
            self.query_duration_seconds.clear()
            self.query_rows_returned = 0
            self.active_queries = 0
            self.spans.clear()
            self.retained_results = 0
            self.retained_result_bytes = 0
            self.results_evicted = 0
            self.results_reused = 0


def _append_bounded(items: list, item) -> None:
    items.append(item)
    if len(items) > MAX_RETAINED_SPANS:
        del items[0]


class QueryObserver:
    """Emits the reference's three instruments + a span per query."""

    def __init__(self, recorder: Optional[Recorder] = None) -> None:
        self.recorder = recorder or Recorder()
        if _OTEL:  # pragma: no cover
            meter = _otel_metrics.get_meter("iceberg_explorer_spark")
            self._tracer = _otel_trace.get_tracer("iceberg_explorer_spark")
            self._hist = meter.create_histogram(
                "query_duration_seconds",
                description="Duration of SQL query execution in seconds",
                unit="s",
            )
            self._rows = meter.create_counter(
                "query_rows_returned",
                description="Total number of rows returned from queries",
                unit="rows",
            )
            self._active = meter.create_up_down_counter(
                "active_queries",
                description="Number of currently executing queries",
                unit="queries",
            )
        else:
            self._tracer = self._hist = self._rows = self._active = None

    def record_retention(
        self, count: int, nbytes: int, evicted: int = 0
    ) -> None:
        """Retention-policy gauges (terminal results held + Arrow bytes)
        and the cumulative eviction counter — recorder-backed like the
        reference's three instruments (the OTel mirror of a gauge would
        be an observable callback; the recorder is the contract here)."""
        self.recorder.set_retention(count, nbytes, evicted)

    def record_reuse(self) -> None:
        """One execute served from a retained result (recorder-backed,
        like the retention gauges)."""
        self.recorder.count_reuse()

    @contextmanager
    def observe_query(
        self, query_id: uuid.UUID, sql: str
    ) -> Iterator[SpanRecord]:
        """Span + metrics around one query execution (reference span
        ``duckdb.query`` → here ``spark.query``). The caller sets
        ``span.rows_returned`` before the block exits."""
        span = SpanRecord(
            name="spark.query",
            query_id=str(query_id),
            request_id=current_request_id(),
            attributes={"sql.length": len(sql)},
        )
        start = time.perf_counter()
        self.recorder.adjust_active(1)
        if self._active is not None:  # pragma: no cover
            self._active.add(1)
        otel_cm = (
            self._tracer.start_as_current_span("spark.query")
            if self._tracer is not None
            else None
        )
        otel_span = otel_cm.__enter__() if otel_cm is not None else None
        try:
            yield span
            span.status = "ok"
        except Exception as exc:
            span.status = "error"
            span.error = str(exc)
            raise
        finally:
            span.duration_s = time.perf_counter() - start
            self.recorder.adjust_active(-1)
            self.recorder.record_duration(span.duration_s)
            if span.rows_returned:
                self.recorder.add_rows(span.rows_returned)
            self.recorder.add_span(span)
            if otel_span is not None:  # pragma: no cover
                otel_span.set_attribute("query.id", span.query_id)
                otel_span.set_attribute("query.status", span.status)
                otel_span.set_attribute("query.rows", span.rows_returned)
                if self._hist is not None:
                    self._hist.record(span.duration_s)
                if self._rows is not None and span.rows_returned:
                    self._rows.add(span.rows_returned)
                if self._active is not None:
                    self._active.add(-1)
                otel_cm.__exit__(None, None, None)
            logger.info(
                "query %s %s request=%s duration=%.3fs rows=%d",
                span.query_id,
                span.status,
                span.request_id or "-",
                span.duration_s,
                span.rows_returned,
            )


_OBSERVER: Optional[QueryObserver] = None


def get_observer() -> QueryObserver:
    """Process singleton, like the reference's module-level instruments."""
    global _OBSERVER
    if _OBSERVER is None:
        _OBSERVER = QueryObserver()
    return _OBSERVER
