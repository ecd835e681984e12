"""Benchmark server: the program under test behind its own HTTP adapter.

Started by ``run.py`` as ``python3 perfbench/server.py <config.json>``.
It builds a ``local[N]`` session, runs the workload's set-up, and then
serves ``ExplorerApp`` through ``service.httpd.serve``. The port is
written to ``config["port_file"]`` only once set-up is done, so the
client's first ``/ready`` = 200 marks the end of set-up.

Requests under ``/bench/`` are the benchmark's own control routes (the
batch steps of ``curate`` and ``ingest``, result digests for the
``drain`` check, the end-of-run report); every other request goes to
``ExplorerApp.handle`` unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import uuid

import oracle

#: tables the service workloads query, in catalog namespace ``lake``
SERVICE_TABLES = ("region", "nation", "customer", "orders", "lineitem")

#: the curate batch: registry operators covering every operator family
CURATE_OPS = (
    "pricing_summary",
    "window_top_orders_per_customer",
    "events_session_window",
    "text_bigram_lm_score",
    "multimodal_clean_manifest",
    "dedup_minhash_lsh",
    "dedup_semantic_keep_best",
    "pipeline_clean_corpus",
)

ARTIFACT_PREFIX = "perfbench_art"


def family_of(builder) -> str:
    """Operator family = the ``operators.<family>`` module of its builder."""
    return builder.__module__.rsplit(".", 1)[-1]


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class BenchServer:
    """Owns the session, the app, and the workload's server-side state."""

    def __init__(self, cfg: dict, spark, rec) -> None:
        from iceberg_explorer_spark.service.app import ExplorerApp

        self.cfg = cfg
        self.spark = spark
        self.rec = rec
        self.data_dir = cfg["data_dir"]
        self.app = ExplorerApp(spark)
        self.done = threading.Event()
        self.setup_phases: dict[str, float] = {}
        #: job group -> counter prefix for its task count (or None)
        self.groups: dict[str, "str | None"] = {}
        self.window_start = time.perf_counter()
        self.evicted_at_start = 0
        self.store = None
        self.backfill: dict[str, int] = {}
        self.billed: dict[str, int] = {}

    # -- set-up -----------------------------------------------------------
    def _timed(self, phase: str, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self.setup_phases[phase] = time.perf_counter() - t0
        return out

    def setup(self) -> None:
        wl = self.cfg["workload"]
        if wl in ("explore", "drain"):
            self._timed("register_tables_s", self._register)
            self._timed("attach_lake_s", self._attach_lake)
            self._timed("warmup_s", self._warm_service)
        elif wl == "ingest":
            self._timed("backfill_s", self._backfill)

    def _register(self) -> None:
        from iceberg_explorer_spark.sources import registry

        registry.register_tables(self.spark, self.data_dir, SERVICE_TABLES)

    def _attach_lake(self) -> None:
        """Catalog tables over the corpus files, the way a serving
        deployment attaches an existing warehouse: metadata only, no
        copy. (``CatalogService.list_tables`` hides temp views once a
        namespace is given, so the registered views alone would browse
        as an empty catalog.)"""
        self.spark.sql("CREATE DATABASE IF NOT EXISTS lake")
        for t in SERVICE_TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            self.spark.sql(f"CREATE TABLE lake.{t} USING parquet LOCATION '{path}'")

    def _warm_service(self) -> None:
        """One query through every serving path (execute, page, export,
        cleanup) and one catalog panel, in process."""
        app = self.app
        sql = "SELECT * FROM lake.lineitem WHERE l_orderkey >= 0"
        qid = app.handle("POST", "/api/v1/query/execute", body={"sql": sql}).body["query_id"]
        list(app.handle("GET", f"/api/v1/query/{qid}/results", params={"page_size": 1000}).stream)
        list(app.handle("POST", "/api/v1/export/csv", body={"query_id": qid}).stream)
        app.handle("DELETE", f"/api/v1/query/{qid}")
        list(app.handle("GET", "/ui/partials/table-details", params={"table_path": "lake.orders"}).stream)

    def _day_pred(self, lo: int, hi: int):
        """Docs whose seeded day hash falls in ``[lo, hi)``."""
        import pyspark.sql.functions as F

        n_days, seed = self.cfg["ingest_days"], self.cfg["seed"]

        def pred(col):
            day = F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(n_days))
            return (day >= lo) & (day < hi)

        return pred

    def _backfill(self) -> None:
        from iceberg_explorer_spark.operators import incremental_artifacts as ia

        self.store = ia.BucketedArtifactStore(
            self.spark, ARTIFACT_PREFIX, n_buckets=self.cfg["buckets"]
        )
        history = self.cfg["history_days"]
        # history = every doc the batch predicate does NOT select
        self.backfill = ia.write_incremental_artifacts(
            self.spark,
            self.data_dir,
            self.store,
            batch_pred=self._day_pred(history, self.cfg["ingest_days"]),
        )
        self.billed = {name: 0 for name in self.backfill}

    # -- routing ------------------------------------------------------------
    def handle(self, method, path, params=None, body=None):
        from iceberg_explorer_spark.service.app import Response

        if not path.startswith("/bench/"):
            return self.app.handle(method, path, params=params, body=body)
        route = getattr(self, "route_" + path[len("/bench/"):], None)
        if route is None:
            return Response(status=404, body={"detail": "no such bench route"})
        try:
            return Response(status=200, body=route(body or {}))
        except Exception as exc:  # reported to the client as a failed op
            import traceback

            traceback.print_exc()
            return Response(status=500, body={"detail": f"{type(exc).__name__}: {exc}"})

    def _group(self, name: str, prefix: "str | None" = None):
        self.groups[name] = prefix
        self.spark.sparkContext.setJobGroup(name, "perfbench batch")

    def _ungroup(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _span(self, name: str):
        if self.rec is None:
            from contextlib import nullcontext

            return nullcontext({})
        return self.rec.span(name)

    def route_info(self, body) -> dict:
        return {
            "setup": self.setup_phases,
            "local": self.spark.sparkContext.defaultParallelism,
            "master": self.spark.sparkContext.master,
        }

    def route_start(self, body) -> dict:
        from iceberg_explorer_spark.observability import get_observer

        self.window_start = time.perf_counter()
        self.evicted_at_start = get_observer().recorder.results_evicted
        return {}

    def route_result_digest(self, body) -> dict:
        """Canonical digest of the executor's Arrow result for a query:
        the ``drain`` check compares it with the pages and the CSV."""
        res = self.app.executor.get_status(uuid.UUID(body["query_id"]))
        rows = []
        for batch in res.batches:
            rows.extend(oracle.table_rows(batch))
        return {
            "rows": len(rows),
            "digest": oracle.rows_digest(rows),
            "truncated": res.metrics.truncated,
            "columns": res.column_names(),
        }

    def route_curate(self, body) -> dict:
        from iceberg_explorer_spark.operators import dedup
        from iceberg_explorer_spark.operators.registry import QUERIES

        p = body["pass"]
        dedup.invalidate_shared_candidates()
        out = []
        for name in CURATE_OPS:
            spec = QUERIES[name]
            fam = family_of(spec.builder)
            group = f"perfbench-curate-{p}-{name}"
            self._group(group, f"operators.{fam}")
            try:
                t0 = time.perf_counter()
                with self._span(f"operators.{fam}.build"):
                    df = spec.builder(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self._span(f"operators.{fam}.run"):
                    table = df.toArrow()
                t2 = time.perf_counter()
            finally:
                self._ungroup()
            out.append(
                {
                    "name": name,
                    "family": fam,
                    "group": group,
                    "build_s": t1 - t0,
                    "run_s": t2 - t1,
                    **oracle.summarize(table),
                }
            )
        return {"ops": out}

    def route_ingest_day(self, body) -> dict:
        from iceberg_explorer_spark.operators import incremental_artifacts as ia

        d = body["day"]
        pred = self._day_pred(d, d + 1)
        group = f"perfbench-ingest-day-{d}"
        self._group(group)
        try:
            t0 = time.perf_counter()
            status = ia.incremental_status_from_artifacts(
                self.spark, self.data_dir, self.store, batch_pred=pred
            ).localCheckpoint(eager=True)
            t1 = time.perf_counter()
            bills = ia.append_incremental_artifacts(
                self.spark, self.data_dir, self.store, status,
                batch_pred=pred, batch_id=f"day-{d}",
            )
            t2 = time.perf_counter()
        finally:
            self._ungroup()
        for name, n in bills.items():
            self.billed[name] += n
        kept = status.filter("stage = 'kept'").count()
        return {
            "day": d,
            "classify_s": t1 - t0,
            "append_s": t2 - t1,
            "docs": status.count(),
            "kept": kept,
            "bills": bills,
            "files_per_bucket_max": self._files_per_bucket_max(),
        }

    def route_compact(self, body) -> dict:
        group = f"perfbench-compact-{body['day']}"
        self._group(group)
        try:
            t0 = time.perf_counter()
            files = self.store.compact()
            elapsed = time.perf_counter() - t0
        finally:
            self._ungroup()
        return {"compact_s": elapsed, "files": files}

    def _table_dir(self, name: str) -> str:
        rows = self.spark.sql(
            f"DESCRIBE TABLE EXTENDED {self.store.table_name(name)}"
        ).collect()
        loc = next(r["data_type"] for r in rows if r["col_name"] == "Location")
        return loc.removeprefix("file:")

    def _files_per_bucket_max(self) -> int:
        """Largest number of data files any bucket of any artifact holds
        (bucket id = the ``_NNNNN`` suffix Spark gives bucketed files)."""
        worst = 0
        for name in self.store.artifacts:
            counts: dict[str, int] = {}
            for f in os.listdir(self._table_dir(name)):
                if f.startswith(("_", ".")):
                    continue
                bucket = f.split(".")[0].rsplit("_", 1)[-1]
                counts[bucket] = counts.get(bucket, 0) + 1
            worst = max([worst, *counts.values()])
        return worst

    def _store_report(self) -> dict:
        rows = {name: self.store.read(name).count() for name in self.store.artifacts}
        return {
            "rows": rows,
            "backfill": self.backfill,
            "billed": self.billed,
            "bytes": sum(_tree_bytes(self._table_dir(n)) for n in self.store.artifacts),
            "docs": rows["simhash"],
        }

    def _spark_counts(self) -> dict:
        """Jobs, tasks and failed tasks of every job group the measured
        window used: the queries', the catalog calls' and the batches'."""
        import tracing

        groups = set(self.groups)
        for s in self.rec.spans:
            if s["start"] >= self.window_start:
                g = s["attrs"].get("query_id") or s["attrs"].get("group")
                if g is not None:
                    groups.add(g)
        totals = [0, 0, 0]
        for g in groups:
            for i, n in enumerate(tracing.group_counts(self.spark, g)):
                totals[i] += n
        return dict(zip(("jobs", "tasks", "failed_tasks"), totals))

    def route_finish(self, body) -> dict:
        from iceberg_explorer_spark.observability import get_observer

        end = time.perf_counter()
        recorder = get_observer().recorder
        report = {
            "setup": self.setup_phases,
            "store": self._store_report() if self.store is not None else None,
            "observability": {
                "spans_retained": len(recorder.spans),
                "results_evicted": recorder.results_evicted - self.evicted_at_start,
                "retained_mb": recorder.retained_result_bytes / 2**20,
            },
        }
        if self.rec is not None:
            import tracing

            tracing.count_spark(self.rec, self.spark, self.groups)
            report["spark"] = self._spark_counts()
            report["layers"] = tracing.layer_metrics(
                self.rec, (self.window_start, end), body.get("ops", 0)
            )
            report["request_app_ms"] = tracing.request_app_ms(self.rec)
            self.rec.dump(self.cfg["spans_path"])
        self.done.set()
        return report


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    rec = None
    if cfg["trace"]:
        import tracing

        rec = tracing.Recorder()
        tracing.install(rec)

    from iceberg_explorer_spark.service import httpd
    from iceberg_explorer_spark.session import build_session

    tmp = os.path.join(cfg["work_dir"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(cfg["work_dir"], "warehouse"),
        "spark.local.dir": os.path.join(cfg["work_dir"], "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if rec is not None:
        # the traced run counts jobs per group at its end: keep every
        # job's record until then
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = build_session(
        app_name=f"perfbench-{cfg['workload']}", cpus=cfg["cpus"], extra_conf=conf
    )
    bench = BenchServer(cfg, spark, rec)
    try:
        bench.setup()
        server = httpd.serve(bench, port=0)
        tmp_port = cfg["port_file"] + ".tmp"
        with open(tmp_port, "w") as fh:
            fh.write(str(server.server_address[1]))
        os.replace(tmp_port, cfg["port_file"])
        bench.done.wait()
        time.sleep(0.3)  # let the finish response reach the client
        server.shutdown()
        server.server_close()
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
