"""The workloads' clients, with their output checks.

Each workload object has ``prepare(data_dir)`` (inputs and expected
outputs, computed before the server starts) and ``run(server, seconds)``
(the measured loop). ``run`` returns a :class:`Tally`. Every failed check
counts as a failed operation; nothing is skipped.
"""

from __future__ import annotations

import csv
import http.client
import io
import itertools
import json
import random
import threading
import time
from collections import defaultdict
from urllib.parse import quote

import oracle
from datagen import table_sizes

class Tally:
    """Latency samples, counters and check outcomes of one run."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.checks: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        self.errors: list[str] = []
        #: per-operation report lines (batch workloads)
        self.detail: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.elapsed = 0.0
        self.rid_ms: dict[str, float] = {}
        self._lock = threading.Lock()

    def sample(self, key: str, ms: float) -> None:
        with self._lock:
            self.samples[key].append(ms)

    def add(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        with self._lock:
            self.checks[name][0 if ok else 1] += 1
            if not ok and len(self.errors) < 20:
                self.errors.append(f"{name}: {detail}"[:300])
        return ok

    def op(self, ok: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 0 if ok else 1

    def merge_outcomes(self, other: "Tally") -> None:
        """Take over another run's operation and check outcomes (a
        warm-up's): they count toward correctness, not toward timing."""
        self.attempted += other.attempted
        self.failed += other.failed
        for name, (passed, failed) in other.checks.items():
            self.checks[name][0] += passed
            self.checks[name][1] += failed
        self.errors.extend(other.errors)


class Client:
    """One keep-alive HTTP connection. In a traced run every request
    carries a request id, and its client-observed latency is kept."""

    _rids = itertools.count(1)

    def __init__(self, port: int, tally: Tally, trace: bool) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        self.tally = tally
        self.trace = trace

    def request(self, method: str, path: str, body=None) -> tuple[int, bytes]:
        headers = {}
        data = None
        if body is not None:
            data = json.dumps(body).encode()
            headers["Content-Type"] = "application/json"
        rid = None
        if self.trace:
            rid = f"r{next(self._rids)}"
            headers["X-Bench-Rid"] = rid
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=data, headers=headers)
            resp = self.conn.getresponse()
            payload = resp.read()
        except (OSError, http.client.HTTPException):
            self.conn.close()  # reconnects on the next request
            raise
        if rid is not None:
            self.tally.rid_ms[rid] = (time.perf_counter() - t0) * 1e3
        return resp.status, payload

    def json(self, method: str, path: str, body=None) -> tuple[int, dict]:
        status, payload = self.request(method, path, body)
        return status, json.loads(payload) if payload else {}

    def close(self) -> None:
        self.conn.close()


def ndjson(payload: bytes) -> tuple[dict, list[list]]:
    """Parse one results page: (metadata message, data rows)."""
    meta, rows = None, []
    for line in payload.splitlines():
        msg = json.loads(line)
        if msg["type"] == "metadata":
            meta = msg
        elif msg["type"] == "data":
            rows.extend(msg["rows"])
        elif msg["type"] == "error":
            raise RuntimeError(msg["error"])
    if meta is None:
        raise RuntimeError("results page without a metadata message")
    return meta, rows


def canon(rows) -> list[tuple[str, ...]]:
    return [tuple(oracle.cell(v) for v in r) for r in rows]


def run_clients(n: int, seconds: float, body) -> float:
    """Run ``body(i, deadline)`` on ``n`` threads. Each client finishes
    the operation in flight at the deadline; returns the mean over
    clients of the time to their last completed operation, so rates are
    completed work over the time it took, without a partial operation."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    ends = [t0] * n

    def client(i: int) -> None:
        body(i, deadline)
        ends[i] = time.perf_counter()

    threads = [threading.Thread(target=client, args=(i,), name=f"client-{i}") for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(e - t0 for e in ends) / n


# -- explore ---------------------------------------------------------------

#: (class, template). ``{...}`` fields are filled from a seeded pool.
SELECT_TEMPLATES = {
    "point": [
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM lake.orders WHERE o_orderkey = {okey}",
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
        "l_shipdate FROM lake.lineitem WHERE l_orderkey = {okey}",
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM lake.customer "
        "WHERE c_custkey = {ckey}",
    ],
    "scan": [
        "SELECT o_orderkey, o_custkey, o_totalprice FROM lake.orders "
        "WHERE o_totalprice > {price} ORDER BY o_orderkey LIMIT 300",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lake.lineitem "
        "WHERE l_shipdate >= DATE '{date}' ORDER BY l_orderkey, l_linenumber LIMIT 250",
    ],
    "agg": [
        "SELECT r.r_name, count(*) AS n_customers, "
        "CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS balance "
        "FROM lake.customer c JOIN lake.nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN lake.region r ON n.n_regionkey = r.r_regionkey "
        "WHERE c.c_mktsegment = '{segment}' GROUP BY r.r_name",
        "SELECT n.n_name, count(*) AS n_orders FROM lake.orders o "
        "JOIN lake.customer c ON o.o_custkey = c.c_custkey "
        "JOIN lake.nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE o.o_orderstatus = '{status}' AND n.n_regionkey = {region} GROUP BY n.n_name",
    ],
    "window": [
        "SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (SELECT o_custkey, "
        "o_orderkey, o_totalprice, rank() OVER (PARTITION BY o_custkey ORDER BY "
        "o_totalprice DESC, o_orderkey) AS rk FROM lake.orders "
        "WHERE o_custkey BETWEEN {ckey} AND {ckey} + 9) t WHERE rk <= 3",
    ],
    "meta": [
        "DESCRIBE lake.{table}",
        "SHOW TABLES IN lake",
        "EXPLAIN SELECT count(*) FROM lake.{table}",
    ],
}

FORBIDDEN = [
    "DELETE FROM lake.orders WHERE o_orderkey = {okey}",
    "DROP TABLE lake.{table}",
    "INSERT INTO lake.region VALUES (9, 'NOWHERE')",
    "UPDATE lake.customer SET c_acctbal = 0 WHERE c_custkey = {ckey}",
    "CREATE TABLE lake.scratch AS SELECT * FROM lake.orders",
]

#: actions per 50: catalog browse 34%, SELECT admission 56% (by class),
#: next page 8%, forbidden write 2%
MIX = {
    "catalog": 17,
    "point": 10,
    "scan": 7,
    "agg": 4,
    "window": 3,
    "meta": 4,
    "next": 4,
    "forbidden": 1,
}


def interleave(weights: dict[str, int]) -> list[str]:
    """Smooth weighted round robin: every stretch of the cycle holds the
    mix in proportion, so a short run sees the same mix as a long one."""
    total = sum(weights.values())
    current = dict.fromkeys(weights, 0)
    out = []
    for _ in range(total):
        for k, w in weights.items():
            current[k] += w
        pick = max(current, key=current.get)
        current[pick] -= total
        out.append(pick)
    return out


DECK = interleave(MIX)

CATALOG_STEPS = ("namespaces", "tables", "schema", "details", "tree", "children", "table_ui")
POOL_PER_TEMPLATE = 6
ZIPF_S = 1.1


def zipf_pick(rng: random.Random, items: list):
    weights = [1 / (k + 1) ** ZIPF_S for k in range(len(items))]
    return rng.choices(items, weights)[0]


class Explore:
    """Interactive users: closed-loop clients (``nproc`` - 1, chosen by
    the caller), no think time."""

    WARMUP_S = 4.0

    def __init__(self, seed: int, sf: float, trace: bool, clients: int) -> None:
        self.seed, self.sf, self.trace, self.n_clients = seed, sf, trace, clients

    def prepare(self, data_dir: str) -> None:
        from server import SERVICE_TABLES

        rng = random.Random(self.seed)
        n = table_sizes(self.sf)
        con = oracle.duckdb_connection(data_dir)
        self.tables = list(SERVICE_TABLES)
        self.columns = {
            t: [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()] for t in self.tables
        }

        def params():
            return {
                "okey": rng.randrange(n["orders"]),
                "ckey": rng.randrange(n["customer"] - 10),
                "price": rng.randrange(100_000, 400_000),
                "date": f"{rng.randrange(1995, 2001)}-{rng.randrange(1, 13):02d}-01",
                "segment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
                "status": rng.choice("FOP"),
                "region": rng.randrange(5),
                "table": rng.choice(self.tables),
            }

        # per class: a Zipf-ranked pool of (sql, expected) pairs
        self.pools: dict[str, list] = {}
        for cls, templates in SELECT_TEMPLATES.items():
            pool = []
            for tpl in templates:
                for sql in dict.fromkeys(tpl.format(**params()) for _ in range(POOL_PER_TEMPLATE)):
                    pool.append((sql, self._expected(con, cls, sql)))
            rng.shuffle(pool)
            self.pools[cls] = pool
        self.forbidden = [tpl.format(**params()) for tpl in FORBIDDEN]
        con.close()
        # the clients walk the same cycle from evenly spaced offsets
        self.decks = [
            DECK[i * len(DECK) // self.n_clients :] + DECK[: i * len(DECK) // self.n_clients]
            for i in range(self.n_clients)
        ]
        self.rngs = [random.Random(rng.random()) for _ in range(self.n_clients)]

    def _expected(self, con, cls: str, sql: str):
        if cls == "meta":
            return None  # engine-specific output; checked by shape
        rows = canon(con.execute(sql).fetchall())
        # scan templates are ORDER BY ... LIMIT: pages are checked in order
        return rows if cls == "scan" else sorted(rows)

    def _check_select(self, tally: Tally, cls: str, sql: str, expected, meta, rows, offset=0) -> bool:
        got = canon(rows)
        if cls == "meta":
            if sql.startswith("DESCRIBE"):
                table = sql.split(".")[-1]
                names = [r[0] for r in got[: len(self.columns[table])]]
                return tally.check("explore.describe", names == self.columns[table], sql)
            if sql.startswith("SHOW"):
                # (namespace, tableName, isTemporary): temp views list too
                names = sorted(r[1] for r in got if r[2] == "false")
                return tally.check("explore.show_tables", names == sorted(self.tables), str(names))
            return tally.check(
                "explore.explain", len(got) == 1 and "Physical Plan" in got[0][0], sql
            )
        if cls == "scan":
            want = expected[offset : offset + 100]
            ok = got == want and meta["total_rows"] == len(expected)
        else:
            ok = sorted(got) == expected
        return tally.check(f"explore.{cls}", ok, f"{sql} got {len(got)} rows")

    def _catalog(self, c: Client, tally: Tally, step: str, table: str) -> bool:
        if step == "namespaces":
            status, body = c.json("GET", "/api/v1/catalog/namespaces")
            return tally.check("explore.catalog", status == 200 and ["lake"] in body["namespaces"], str(body))
        if step == "tables":
            status, body = c.json("GET", "/api/v1/catalog/namespaces/lake/tables")
            names = sorted(i["name"] for i in body.get("identifiers", []))
            return tally.check("explore.catalog", status == 200 and names == sorted(self.tables), str(names))
        if step == "schema":
            status, body = c.json("GET", f"/api/v1/catalog/tables/lake.{table}/schema")
            names = [col["name"] for col in body.get("columns", [])]
            return tally.check("explore.catalog", status == 200 and names == self.columns[table], str(body))
        if step == "details":
            status, body = c.json("GET", f"/api/v1/catalog/tables/lake.{table}")
            return tally.check(
                "explore.catalog", status == 200 and body.get("name") == table, str(body)
            )
        if step == "tree":
            status, html = c.request("GET", "/ui/partials/namespace-tree")
            return tally.check("explore.ui", status == 200 and b">lake<" in html, html[:200])
        if step == "children":
            status, html = c.request("GET", "/ui/partials/namespace-children?parent=lake")
            ok = status == 200 and all(f">{t}<".encode() in html for t in self.tables)
            return tally.check("explore.ui", ok, html[:200])
        status, html = c.request("GET", f"/ui/partials/table-details?table_path=lake.{quote(table)}")
        ok = status == 200 and all(f">{col}<".encode() in html for col in self.columns[table])
        return tally.check("explore.ui", ok, html[:200])

    def run(self, port: int, seconds: float, tally: Tally) -> None:
        def client(i: int, deadline: float) -> None:
            c = Client(port, tally, self.trace)
            rng, deck = self.rngs[i], self.decks[i]
            pending = None  # (qid, sql, expected, next offset) of a multi-page result
            steps = itertools.cycle(CATALOG_STEPS)
            for action in itertools.cycle(deck):
                if time.perf_counter() >= deadline:
                    break
                t0 = time.perf_counter()
                ok = False
                try:
                    if action == "catalog":
                        ok = self._catalog(c, tally, next(steps), zipf_pick(rng, self.tables))
                        tally.sample("catalog_ms", (time.perf_counter() - t0) * 1e3)
                    elif action == "forbidden":
                        status, _ = c.json("POST", "/api/v1/query/execute", {"sql": rng.choice(self.forbidden)})
                        ok = tally.check("explore.forbidden_400", status == 400, str(status))
                    elif action == "next" and pending is not None:
                        qid, sql, expected, offset = pending
                        status, payload = c.request("GET", f"/api/v1/query/{qid}/results?page_size=100&offset={offset}")
                        meta, rows = ndjson(payload)
                        ok = status == 200 and self._check_select(tally, "scan", sql, expected, meta, rows, offset)
                        tally.add("rows", len(rows))
                        pending = (qid, sql, expected, offset + 100) if offset + 100 < meta["total_rows"] else None
                        tally.sample("next_page_ms", (time.perf_counter() - t0) * 1e3)
                    else:
                        cls = "scan" if action == "next" else action
                        sql, expected = zipf_pick(rng, self.pools[cls])
                        status, body = c.json("POST", "/api/v1/query/execute", {"sql": sql})
                        if status != 200:
                            raise RuntimeError(f"execute {status}: {body}")
                        qid = body["query_id"]
                        status, payload = c.request("GET", f"/api/v1/query/{qid}/results?page_size=100")
                        meta, rows = ndjson(payload)
                        tally.sample("first_page_ms", (time.perf_counter() - t0) * 1e3)
                        tally.add("rows", len(rows))
                        ok = status == 200 and self._check_select(tally, cls, sql, expected, meta, rows)
                        if cls == "scan" and meta["total_rows"] > 100:
                            pending = (qid, sql, expected, 100)
                except Exception as exc:  # a failed operation, never a crash
                    tally.check("explore.request", False, f"{action}: {exc!r}")
                tally.op(ok)
            c.close()

        tally.elapsed = run_clients(self.n_clients, seconds, client)


# -- drain -----------------------------------------------------------------


class Drain:
    """Result export: one closed-loop client; each query is capped at
    10,000 rows, read as 10 pages of 1000 and exported as CSV; unique SQL.
    (One client: with two, page latencies in a short run depend on how
    the clients' serialization phases happen to collide on the server's
    interpreter lock, and the page p95 spread across runs was ~50%.)"""

    WARMUP_S = 1.0
    CAP = 10_000
    PAGE = 1000

    def __init__(self, seed: int, sf: float, trace: bool) -> None:
        self.seed, self.sf, self.trace = seed, sf, trace

    def prepare(self, data_dir: str) -> None:
        con = oracle.duckdb_connection(data_dir)
        # the largest lower bound that still leaves more than CAP rows, so
        # every query is capped
        (hi,) = con.execute(
            f"SELECT l_orderkey FROM lineitem ORDER BY l_orderkey DESC LIMIT 1 OFFSET {self.CAP}"
        ).fetchone()
        con.close()
        rng = random.Random(self.seed)
        # one unique lower bound per operation, across warm-up and run
        self.bounds = iter(rng.sample(range(hi + 1), min(hi + 1, 5000)))

    def run(self, port: int, seconds: float, tally: Tally) -> None:
        def client(i: int, deadline: float) -> None:
            c = Client(port, tally, self.trace)
            while time.perf_counter() < deadline:
                ok = False
                try:
                    ok = self._op(c, tally, next(self.bounds))
                except Exception as exc:
                    tally.check("drain.request", False, repr(exc))
                tally.op(ok)
            c.close()

        tally.elapsed = run_clients(1, seconds, client)

    def _op(self, c: Client, tally: Tally, lo: int) -> bool:
        sql = f"SELECT * FROM lake.lineitem WHERE l_orderkey >= {lo}"
        t0 = time.perf_counter()
        status, body = c.json("POST", "/api/v1/query/execute", {"sql": sql})
        if status != 200:
            raise RuntimeError(f"execute {status}: {body}")
        qid = body["query_id"]
        pages: list[list] = []
        for k in range(self.CAP // self.PAGE):
            tp = time.perf_counter()
            status, payload = c.request(
                "GET", f"/api/v1/query/{qid}/results?page_size={self.PAGE}&offset={k * self.PAGE}"
            )
            if status != 200:
                raise RuntimeError(f"page {k}: {status}")
            tally.sample("page_ms", (time.perf_counter() - tp) * 1e3)
            meta, rows = ndjson(payload)
            pages.extend(rows)
            if k == 0:
                tally.sample("first_page_ms", (time.perf_counter() - t0) * 1e3)
        t1 = time.perf_counter()
        status, payload = c.request("POST", "/api/v1/export/csv", {"query_id": qid})
        tally.sample("export_ms", (time.perf_counter() - t1) * 1e3)
        if status != 200:
            raise RuntimeError(f"export {status}")
        _, summary = c.json("POST", "/bench/result_digest", {"query_id": qid})
        status, _ = c.json("DELETE", f"/api/v1/query/{qid}")
        tally.sample("op_ms", (time.perf_counter() - t0) * 1e3)
        reader = csv.reader(io.StringIO(payload.decode()))
        header = next(reader)
        csv_rows = [tuple(r) for r in reader]
        page_rows = canon(pages)
        tally.add("rows", len(page_rows) + len(csv_rows))
        key = header.index("l_orderkey")
        return all(
            [
                tally.check("drain.row_count", len(page_rows) == self.CAP == summary["rows"], str(len(page_rows))),
                tally.check("drain.truncated", summary["truncated"] is True),
                tally.check("drain.pages_eq_arrow", oracle.rows_digest(page_rows) == summary["digest"]),
                tally.check("drain.csv_eq_arrow", header == summary["columns"] and oracle.rows_digest(csv_rows) == summary["digest"]),
                tally.check("drain.predicate", all(int(r[key]) >= lo for r in csv_rows), sql),
                tally.check("drain.delete", status == 200, str(status)),
            ]
        )


# -- curate ---------------------------------------------------------------


class Curate:
    """The nightly curation batch: one client, sequential passes over a
    fixed operator list (``server.CURATE_OPS``), each result checked
    against its registry oracle in DuckDB."""

    WARMUP_S = 0.0  # a nightly batch runs on a fresh JVM

    def __init__(self, seed: int, sf: float, trace: bool) -> None:
        self.seed, self.sf, self.trace = seed, sf, trace

    def prepare(self, data_dir: str) -> None:
        import iceberg_explorer_spark.operators  # noqa: F401 (fills the registry)
        from iceberg_explorer_spark.operators.registry import QUERIES
        from server import CURATE_OPS

        con = oracle.duckdb_connection(data_dir)
        self.expected = {}
        for name in CURATE_OPS:
            sql = QUERIES[name].oracle
            self.expected[name] = oracle.summarize(con.execute(sql).arrow()) if sql else None
        con.close()

    def run(self, port: int, seconds: float, tally: Tally) -> None:
        c = Client(port, tally, False)
        seen: dict[str, dict] = {}
        t0 = time.perf_counter()
        for p in itertools.count():
            if p and time.perf_counter() - t0 >= seconds:
                break
            status, body = c.json("POST", "/bench/curate", {"pass": p})
            if not tally.check("curate.pass", status == 200, str(body)):
                tally.op(False)
                break
            tally.sample("pass_ms", sum(op["build_s"] + op["run_s"] for op in body["ops"]) * 1e3)
            for op in body["ops"]:
                tally.sample("op_ms", (op["build_s"] + op["run_s"]) * 1e3)
                tally.detail.append(
                    f"pass={p} op={op['name']} family={op['family']} build_ms={op['build_s'] * 1e3:.1f} "
                    f"run_ms={op['run_s'] * 1e3:.1f} rows={op['rows']}"
                )
                tally.add("rows", op["rows"])
                want = self.expected[op["name"]]
                if want is None:  # no oracle: the result must repeat across passes
                    want = seen.setdefault(op["name"], op)
                ok = tally.check(
                    f"curate.{op['name']}",
                    (op["rows"], op["digest"], op["schema"]) == (want["rows"], want["digest"], want["schema"]),
                    f"rows {op['rows']} vs {want['rows']}",
                )
                tally.op(ok)
        tally.elapsed = time.perf_counter() - t0
        c.close()


# -- ingest ----------------------------------------------------------------


class Ingest:
    """The write side of dedup, one client, sequential days: each day
    classifies its batch against the bucketed artifact store that set-up
    backfilled, then appends the kept docs' artifacts; compaction runs
    every ``COMPACT_EVERY`` days and once more at the end of the run."""

    WARMUP_S = 0.0  # a nightly batch runs on a fresh JVM
    N_DAYS = 8
    HISTORY_DAYS = 4
    COMPACT_EVERY = 4
    #: artifact store buckets, sized to the small corpus (the store's
    #: default of 16 is sized for a large one)
    BUCKETS = 4

    def __init__(self, seed: int, sf: float, trace: bool) -> None:
        self.seed, self.sf, self.trace = seed, sf, trace

    def prepare(self, data_dir: str) -> None:
        pass  # expected values come from the server's own bills

    def run(self, port: int, seconds: float, tally: Tally) -> None:
        c = Client(port, tally, False)
        t0 = time.perf_counter()
        since_compact = 0
        for d in range(self.HISTORY_DAYS, self.N_DAYS):
            if d > self.HISTORY_DAYS and time.perf_counter() - t0 >= seconds:
                break
            self._day(c, tally, d)
            since_compact += 1
            last = d == self.N_DAYS - 1 or time.perf_counter() - t0 >= seconds
            if since_compact == self.COMPACT_EVERY or last:
                self._compact(c, tally, d)
                since_compact = 0
        tally.elapsed = time.perf_counter() - t0
        c.close()

    def _day(self, c: Client, tally: Tally, d: int) -> None:
        status, day = c.json("POST", "/bench/ingest_day", {"day": d})
        ok = tally.check("ingest.day", status == 200, str(day))
        if ok:
            tally.sample("op_ms", (day["classify_s"] + day["append_s"]) * 1e3)
            tally.add("docs", day["docs"])
            tally.counts["files_per_bucket_max"] = max(
                tally.counts["files_per_bucket_max"], day["files_per_bucket_max"]
            )
            ok = tally.check(
                "ingest.digest_bill_eq_kept",
                day["bills"]["digests"] == day["kept"],
                f"day {d}: bill {day['bills']['digests']} kept {day['kept']}",
            )
        tally.op(ok)

    def _compact(self, c: Client, tally: Tally, d: int) -> None:
        status, comp = c.json("POST", "/bench/compact", {"day": d})
        ok = tally.check("ingest.compact", status == 200, str(comp))
        if ok:
            tally.sample("compact_ms", comp["compact_s"] * 1e3)
        tally.op(ok)

    @staticmethod
    def check_store(tally: Tally, store: dict) -> None:
        for name, rows in store["rows"].items():
            want = store["backfill"][name] + store["billed"][name]
            tally.check("ingest.store_rows", rows == want, f"{name}: {rows} rows, want {want}")
