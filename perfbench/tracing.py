"""Span tracing for the benchmark's traced run, installed from outside.

:func:`install` wraps the public entry points of each layer of
``iceberg_explorer_spark`` in the server process, before the session is
built. No program source changes: every wrapper replaces a module or
class attribute, in every module that bound the original by name. An
untraced run never calls :func:`install`.

A span is ``(id, parent, name, start, end, request id, thread, attrs)``.
Parents come from a per-thread span stack; a query's worker thread
("query-<id>") is linked to its ``executor.execute`` span afterwards, by
the query id that span records. Spans stay in memory and are written
out once, by :meth:`Recorder.dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "iceberg_explorer_spark"

#: span name prefix -> layer, for self time (first match wins)
LAYERS = (
    ("httpd.", "httpd"),
    ("app.", "app"),
    ("gate.", "gate"),
    ("executor.to_arrow", "to_arrow"),
    ("executor.", "executor"),
    ("inspect.", "inspect"),
    ("streaming.", "streaming"),
    ("convert.", "convert"),
    ("export.", "export"),
    ("catalog.", "catalog"),
    ("ui.", "ui"),
    ("registry.", "registry"),
    ("dedup.shared", "dedup_shared"),
    ("operators.", "operators"),
    ("artifacts.", "artifacts"),
    ("spark.", "spark"),
)
LAYER_NAMES = tuple(dict.fromkeys(layer for _, layer in LAYERS))

FAMILIES = (
    "relational",
    "dedup",
    "similarity",
    "text",
    "events",
    "multimodal",
    "pipeline",
)


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS:
        if name.startswith(prefix):
            return layer
    return "other"


class Recorder:
    """In-memory span store. Thread-safe; one per server process."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        #: counters not tied to one span (Spark tasks per operator family)
        self.counts: dict[str, float] = defaultdict(float)

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_request(self, rid) -> None:
        self._tls.rid = rid

    def add(self, key: str, value: float = 1) -> None:
        with self._lock:
            self.counts[key] += value

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "rid": getattr(self._tls, "rid", None),
            "thread": threading.current_thread().name,
            "attrs": attrs,
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield attrs
        except BaseException as exc:
            attrs["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            # a generator span can be closed from another thread
            if rec in stack:
                stack.remove(rec)
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def _replace_everywhere(orig, new) -> None:
    """Rebind ``orig`` to ``new`` in every program module that bound it
    by name (``from x import f`` copies the reference)."""
    for name, mod in list(sys.modules.items()):
        if not (name == PKG or name.startswith(PKG + ".")) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is orig:
                setattr(mod, attr, new)


def _wrap(rec: Recorder, name: str, fn, before=None, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name) as attrs:
            if before is not None:
                before(attrs, args, kwargs)
            out = fn(*args, **kwargs)
            if after is not None:
                after(attrs, args, kwargs, out)
            return out

    return wrapper


def _wrap_stream(rec: Recorder, name: str, fn, rows_of):
    """Wrap a function returning a generator: the span opens at the first
    ``next`` and closes when the stream is drained. ``busy`` is the time
    spent producing chunks (the consumer's socket writes excluded)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        inner = fn(*args, **kwargs)
        rows = rows_of(*args, **kwargs)

        def stream():
            busy, nbytes = 0.0, 0
            with rec.span(name) as attrs:
                attrs["rows"] = rows
                it = iter(inner)
                while True:
                    t0 = time.perf_counter()
                    try:
                        chunk = next(it)
                    except StopIteration:
                        busy += time.perf_counter() - t0
                        break
                    busy += time.perf_counter() - t0
                    nbytes += len(chunk)
                    # busy/bytes are kept current: a consumer that stops
                    # early still leaves a consistent record
                    attrs["busy"], attrs["bytes"] = busy, nbytes
                    yield chunk
                attrs["busy"], attrs["bytes"] = busy, nbytes

        return stream()

    return wrapper


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) Spark recorded for one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info is not None else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return len(jobs), tasks, failed


def count_spark(rec: Recorder, spark, groups: dict) -> None:
    """Attach Spark job and task counts, read from the status tracker at
    the end of the run: per query (its job group is the query id), per
    outermost catalog call, and per batch group of the benchmark's own
    (``groups``: group -> counter prefix, or None)."""
    for s in rec.spans:
        group = s["attrs"].get("query_id") or s["attrs"].get("group")
        if group is not None:
            s["attrs"]["jobs"], s["attrs"]["tasks"], _ = group_counts(spark, group)
    for group, prefix in groups.items():
        if prefix is not None:
            rec.add(f"{prefix}.spark_tasks", group_counts(spark, group)[1])


def install(rec: Recorder) -> None:
    """Wrap every traced entry point."""
    from pyspark.sql.classic import dataframe as classic_dataframe

    import iceberg_explorer_spark.operators  # noqa: F401 (fills sys.modules)
    from iceberg_explorer_spark import errors
    from iceberg_explorer_spark.catalog import metadata
    from iceberg_explorer_spark.lifecycle import executor
    from iceberg_explorer_spark.operators import dedup, incremental_artifacts
    from iceberg_explorer_spark.plans import inspect
    from iceberg_explorer_spark.service import (
        app,
        convert,
        export,
        httpd,
        streaming_results,
        ui_partials,
    )
    from iceberg_explorer_spark.sources import registry

    # -- service.httpd: the request root span, correlated by the client's
    # request id header
    orig_make_handler = httpd.make_handler

    def make_handler(app_obj):
        base = orig_make_handler(app_obj)

        class TracedHandler(base):
            def _dispatch(self, method):
                if self.path.startswith("/bench/"):  # the benchmark's own routes
                    return super()._dispatch(method)
                rec.set_request(self.headers.get("X-Bench-Rid"))
                try:
                    with rec.span("httpd.request", path=self.path):
                        super()._dispatch(method)
                finally:
                    rec.set_request(None)

        return TracedHandler

    httpd.make_handler = make_handler

    # -- service.app
    app.ExplorerApp.handle = _wrap(rec, "app.handle", app.ExplorerApp.handle)

    # -- gate, as bound in the executor module
    def traced_gate(fn):
        @functools.wraps(fn)
        def wrapper(spark, sql):
            with rec.span("gate.validate_sql") as attrs:
                try:
                    return fn(spark, sql)
                except errors.InvalidSQLError:
                    attrs["rejected"] = True
                    raise

        return wrapper

    executor.validate_sql = traced_gate(executor.validate_sql)

    # -- lifecycle.executor
    def exec_after(attrs, args, kwargs, result):
        attrs["query_id"] = str(result.query_id)

    executor.QueryExecutor.execute = _wrap(
        rec, "executor.execute", executor.QueryExecutor.execute, after=exec_after
    )

    # the classic (py4j) DataFrame overrides toArrow: wrap that one
    frame_cls = classic_dataframe.DataFrame
    orig_to_arrow = frame_cls.toArrow

    @functools.wraps(orig_to_arrow)
    def to_arrow(self, *args, **kwargs):
        in_query = threading.current_thread().name.startswith("query-")
        name = "executor.to_arrow" if in_query else "spark.to_arrow"
        with rec.span(name):
            return orig_to_arrow(self, *args, **kwargs)

    frame_cls.toArrow = to_arrow

    # -- plans.inspect (imported by the executor at call time)
    inspect.scan_output_rows = _wrap(
        rec, "inspect.scan_output_rows", inspect.scan_output_rows
    )

    # -- service.streaming_results / service.export / service.convert
    def page_rows(result, page_size=100, offset=0):
        return max(0, min(page_size, result.total_rows - offset))

    def all_rows(result, max_size_bytes=None):
        return result.total_rows

    _replace_everywhere(
        streaming_results.stream_results,
        _wrap_stream(
            rec, "streaming.stream_results", streaming_results.stream_results, page_rows
        ),
    )
    _replace_everywhere(
        export.stream_csv,
        _wrap_stream(rec, "export.stream_csv", export.stream_csv, all_rows),
    )

    def convert_before(attrs, args, kwargs):
        attrs["rows"] = args[0].num_rows

    _replace_everywhere(
        convert.arrow_rows,
        _wrap(rec, "convert.arrow_rows", convert.arrow_rows, before=convert_before),
    )

    # -- catalog.metadata: each outermost call runs under a job group of
    # the benchmark's own, so its Spark jobs can be counted afterwards
    depth = threading.local()
    group_ids = itertools.count(1)

    def catalog_method(op, fn):
        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            level = getattr(depth, "n", 0)
            depth.n = level + 1
            sc = self.spark.sparkContext
            attrs = {}
            if level == 0:
                attrs["group"] = f"perfbench-catalog-{next(group_ids)}"
                sc.setJobGroup(attrs["group"], "perfbench catalog call")
            try:
                with rec.span(f"catalog.{op}", **attrs):
                    return fn(self, *args, **kwargs)
            finally:
                depth.n = level
                if level == 0:
                    sc.setLocalProperty("spark.jobGroup.id", None)

        return wrapper

    for op in ("list_namespaces", "list_tables", "table_schema", "table_details"):
        setattr(
            metadata.CatalogService,
            op,
            catalog_method(op, getattr(metadata.CatalogService, op)),
        )

    # -- service.ui_partials (called through the module attribute)
    for fn_name in (
        "namespace_tree_partial",
        "namespace_children_partial",
        "table_details_partial",
    ):
        setattr(
            ui_partials,
            fn_name,
            _wrap(rec, f"ui.{fn_name}", getattr(ui_partials, fn_name)),
        )

    # -- sources.registry
    _replace_everywhere(
        registry.register_tables,
        _wrap(rec, "registry.register_tables", registry.register_tables),
    )
    _replace_everywhere(
        registry.load_table,
        _wrap(rec, "registry.load_table", registry.load_table),
    )

    # -- operators: the shared candidate caches. A lookup that adds a key
    # to the cache registry built it; any other lookup was a hit.
    def shared_fn(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cache = getattr(dedup, "_SHARED_CANDIDATES", {})
            before = set(cache)
            with rec.span(f"dedup.shared.{name}") as attrs:
                out = fn(*args, **kwargs)
                attrs["built"] = bool(set(cache) - before)
            return out

        return wrapper

    shared = {
        v
        for mod_name, mod in list(sys.modules.items())
        if mod_name.startswith(PKG + ".operators.") and mod is not None
        for k, v in vars(mod).items()
        if k.startswith("shared_") and callable(v) and v.__module__ == mod_name
    }
    for fn in shared:
        _replace_everywhere(fn, shared_fn(fn.__name__, fn))

    # -- operators.incremental_artifacts
    ia = incremental_artifacts
    for fn_name, span_name in (
        ("write_incremental_artifacts", "artifacts.backfill"),
        ("incremental_status_from_artifacts", "artifacts.classify"),
        ("append_incremental_artifacts", "artifacts.append"),
    ):
        _replace_everywhere(getattr(ia, fn_name), _wrap(rec, span_name, getattr(ia, fn_name)))
    store = ia.BucketedArtifactStore
    store.append = _wrap(rec, "artifacts.store_append", store.append)
    store.compact = _wrap(rec, "artifacts.store_compact", store.compact)


# -- analysis --------------------------------------------------------------


def _p50(values) -> float:
    return statistics.median(values) if values else 0.0


def _self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time (s): its busy time minus the part of that
    interval its children cover."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = defaultdict(list)
    exec_by_qid = {
        s["attrs"]["query_id"]: s["id"]
        for s in spans
        if s["name"] == "executor.execute" and "query_id" in s["attrs"]
    }
    for s in spans:
        parent = s["parent"]
        if parent is None and s["thread"].startswith("query-"):
            parent = exec_by_qid.get(s["thread"][len("query-"):])
            s["parent"] = parent
        if parent in by_id:
            children[parent].append(s)
    out = {}
    for s in spans:
        own = s["attrs"].get("busy", s["end"] - s["start"])
        covered = 0.0
        last_end = s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            # union of child intervals, each counted by its own busy time
            # when it has one (a stream span idles while the socket writes)
            start = max(c["start"], last_end)
            end = min(c["end"], s["end"])
            if end > start:
                share = (end - start) / max(c["end"] - c["start"], 1e-12)
                covered += share * c["attrs"].get("busy", c["end"] - c["start"])
                last_end = end
        out[s["id"]] = max(0.0, own - covered)
    return out


def layer_metrics(rec: Recorder, window: tuple[float, float], n_ops: int) -> dict:
    """Per-layer figures from the spans that started inside ``window``.
    Every layer is reported; a layer the workload never called reads 0."""
    lo, hi = window
    spans = [s for s in rec.spans if lo <= s["start"] <= hi]
    self_t = _self_times(spans)
    by_name: dict[str, list] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def durs_ms(name):
        return [(s["end"] - s["start"]) * 1e3 for s in by_name[name]]

    def self_ms(name):
        return [self_t[s["id"]] * 1e3 for s in by_name[name]]

    c = rec.counts
    m: dict[str, float] = {}
    m["app.handle_self_ms"] = _p50(self_ms("app.handle"))
    m["gate.validate_ms"] = _p50(durs_ms("gate.validate_sql"))
    m["gate.calls"] = len(by_name["gate.validate_sql"])
    m["gate.rejected"] = sum(1 for s in by_name["gate.validate_sql"] if s["attrs"].get("rejected"))
    execs = [s for s in by_name["executor.execute"] if "query_id" in s["attrs"]]
    m["executor.execute_self_ms"] = _p50(self_ms("executor.execute"))
    m["executor.to_arrow_ms"] = _p50(durs_ms("executor.to_arrow"))
    m["executor.spark_jobs_per_query"] = (
        statistics.fmean(s["attrs"].get("jobs", 0) for s in execs) if execs else 0.0
    )
    m["executor.spark_tasks_per_query"] = (
        statistics.fmean(s["attrs"].get("tasks", 0) for s in execs) if execs else 0.0
    )
    m["inspect.scan_output_rows_ms"] = _p50(durs_ms("inspect.scan_output_rows"))

    def per_1k(name):
        rows = sum(s["attrs"].get("rows", 0) for s in by_name[name])
        t = sum(s["attrs"].get("busy", s["end"] - s["start"]) for s in by_name[name])
        return t * 1e3 / rows * 1e3 if rows else 0.0

    def bytes_per_row(name):
        rows = sum(s["attrs"].get("rows", 0) for s in by_name[name])
        nbytes = sum(s["attrs"].get("bytes", 0) for s in by_name[name])
        return nbytes / rows if rows else 0.0

    m["streaming.ms_per_1k_rows"] = per_1k("streaming.stream_results")
    m["streaming.bytes_per_row"] = bytes_per_row("streaming.stream_results")
    m["convert.arrow_rows_ms_per_1k_rows"] = per_1k("convert.arrow_rows")
    csv_busy = sum(s["attrs"].get("busy", 0) for s in by_name["export.stream_csv"])
    csv_bytes = sum(s["attrs"].get("bytes", 0) for s in by_name["export.stream_csv"])
    m["export.csv_mb_per_s"] = csv_bytes / 2**20 / csv_busy if csv_busy else 0.0
    m["export.bytes_per_row"] = bytes_per_row("export.stream_csv")
    for op in ("list_namespaces", "list_tables", "table_schema", "table_details"):
        m[f"catalog.{op}_ms"] = _p50(durs_ms(f"catalog.{op}"))
    m["ui.partial_ms"] = _p50(
        [d for n in by_name if n.startswith("ui.") for d in durs_ms(n)]
    )
    calls = [s for s in spans if s["name"].startswith("catalog.") and "group" in s["attrs"]]
    m["catalog.spark_jobs_per_call"] = (
        statistics.fmean(s["attrs"].get("jobs", 0) for s in calls) if calls else 0.0
    )
    m["registry.load_table_ms"] = _p50(durs_ms("registry.load_table"))
    for fam in FAMILIES:
        m[f"operators.{fam}.build_ms"] = sum(durs_ms(f"operators.{fam}.build"))
        m[f"operators.{fam}.run_s"] = sum(durs_ms(f"operators.{fam}.run")) / 1e3
        m[f"operators.{fam}.spark_tasks"] = c[f"operators.{fam}.spark_tasks"]
    shared = [s for n in by_name if n.startswith("dedup.shared.") for s in by_name[n]]
    m["dedup.shared_build_s"] = sum(
        s["end"] - s["start"] for s in shared if s["attrs"].get("built")
    )
    m["dedup.shared_lookups"] = len(shared)
    m["dedup.shared_hit_ratio"] = (
        sum(1 for s in shared if not s["attrs"].get("built")) / len(shared)
        if shared
        else 0.0
    )
    m["artifacts.classify_s"] = sum(durs_ms("artifacts.classify")) / 1e3
    m["artifacts.append_s"] = sum(durs_ms("artifacts.append")) / 1e3
    appends = by_name["artifacts.store_append"]
    m["artifacts.append_s_per_artifact"] = (
        statistics.fmean(s["end"] - s["start"] for s in appends) if appends else 0.0
    )
    m["artifacts.compact_s"] = sum(durs_ms("artifacts.store_compact")) / 1e3
    layer_self: dict[str, float] = defaultdict(float)
    for s in spans:
        layer_self[layer_of(s["name"])] += self_t[s["id"]]
    for layer in LAYER_NAMES:
        m[f"self.{layer}_ms_per_op"] = layer_self[layer] * 1e3 / n_ops if n_ops else 0.0
    m["trace.spans"] = len(spans)
    return m


def request_app_ms(rec: Recorder) -> dict[str, float]:
    """Request id -> time spent in program code for that request (ms):
    ``ExplorerApp.handle`` plus the busy time of its response stream."""
    out: dict[str, float] = defaultdict(float)
    for s in rec.spans:
        rid = s["rid"]
        if rid is None:
            continue
        if s["name"] == "app.handle":
            out[rid] += (s["end"] - s["start"]) * 1e3
        elif s["name"] in ("streaming.stream_results", "export.stream_csv"):
            out[rid] += s["attrs"].get("busy", 0.0) * 1e3
    return dict(out)
