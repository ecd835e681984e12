"""The repository benchmark: one command, four workloads, checked outputs.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 15 --trace 0

Generates the seeded corpus, computes every expected output with DuckDB,
starts the server (``perfbench/server.py``: ``ExplorerApp`` behind
``service.httpd.serve`` on a ``local[nproc]`` session), waits for
``/ready``, drives the workload for ``--seconds`` (a batch workload
always completes at least one unit of work), stops the server, and
prints one report line per metric and check. The last line of standard
output is the JSON result. ``--trace 1`` makes the separate traced run:
the server wraps each layer's entry points and the result holds the
per-layer metrics instead of the end-to-end ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.error
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import datagen  # noqa: E402
import workloads  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}

WORKLOADS = {
    "explore": workloads.Explore,
    "drain": workloads.Drain,
    "curate": workloads.Curate,
    "ingest": workloads.Ingest,
}
DEFAULT_SF = 0.01
SETUP_TIMEOUT_S = 150
STOP_TIMEOUT_S = 20


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0 when there is no sample (every
    operation failed, which the result reports)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def tree_hwm_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) summed over a process and all its
    descendants: the server's Python driver, the JVM and any Python
    workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is left in the group."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


class Server:
    """The server process, started in its own session so that it and
    everything it starts can be stopped together."""

    def __init__(self, cfg: dict, work: Path) -> None:
        self.cfg = cfg
        self.port_file = Path(cfg["port_file"])
        cfg_path = work / "server.json"
        cfg_path.write_text(json.dumps(cfg))
        env = dict(os.environ)
        # Spark's Python workers import the program and run from their own
        # working directory: the repo root must be on their path
        env["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT), str(HERE)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        )
        env["PYSPARK_PYTHON"] = sys.executable
        env["SPARK_LOCAL_DIRS"] = cfg["local_dir"]
        env["TMPDIR"] = str(work / "tmp")
        # every JVM the server starts (Spark's launcher and its driver) keeps
        # its temp files in the run directory and writes no perf data
        env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        self.log = open(work / "server.log", "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "server.py"), str(cfg_path)],
            cwd=str(ROOT),
            env=env,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.port = None

    def wait_ready(self) -> float:
        """Seconds from spawn to the first ``/ready`` = 200."""
        deadline = self.t_spawn + SETUP_TIMEOUT_S
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited during set-up ({self.proc.returncode})")
            if self.port is None and self.port_file.exists():
                self.port = int(self.port_file.read_text())
            if self.port is not None:
                try:
                    with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/ready", timeout=30) as r:
                        if r.status == 200:
                            return time.perf_counter() - self.t_spawn
                except (urllib.error.URLError, OSError):
                    pass
            time.sleep(0.02)
        raise RuntimeError("server not ready in time")

    def stop(self) -> None:
        """Terminate the server's process group (the server, its JVM and
        any Python workers) and wait until every member has exited."""
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.perf_counter() + STOP_TIMEOUT_S
            while time.perf_counter() < deadline and _group_alive(self.proc.pid):
                self.proc.poll()  # reaps the server itself
                time.sleep(0.05)
            if not _group_alive(self.proc.pid):
                break
        self.proc.wait()
        self.log.close()

    def tail(self, n: int = 30) -> str:
        self.log.flush()
        lines = Path(self.log.name).read_text(errors="replace").splitlines()
        return "\n".join(lines[-n:])


def end_to_end(
    wl: str, tally: workloads.Tally, ops: int, setup_s: float, rss_mb: float
) -> tuple[dict, dict]:
    """(the BENCHMARK.json end-to-end metrics, the workload's own named
    figures for the report). ``ops``: operations in the measured window."""
    s = tally.samples
    op = {"explore": s["first_page_ms"], "drain": s["page_ms"]}.get(wl, s["op_ms"])
    aux = {
        "explore": s["catalog_ms"],
        "drain": s["export_ms"],
        "curate": s["pass_ms"],
        "ingest": s["compact_ms"],
    }[wl]
    rows = tally.counts["rows"] + tally.counts["docs"]
    m = {
        "setup_s": setup_s,
        "op_p50_ms": pct(op, 0.5),
        "op_p90_ms": pct(op, 0.90),
        "aux_p50_ms": pct(aux, 0.5),
        "ops_per_s": ops / tally.elapsed,
        "rows_per_s": rows / tally.elapsed,
        "peak_rss_mb": rss_mb,
    }
    named = {
        "explore": {
            "first_page_p50_ms": (m["op_p50_ms"], "ms", len(op)),
            "first_page_p95_ms": (pct(op, 0.95), "ms", len(op)),
            "catalog_p50_ms": (m["aux_p50_ms"], "ms", len(aux)),
            "catalog_p95_ms": (pct(aux, 0.95), "ms", len(aux)),
        },
        "drain": {
            "first_page_p50_ms": (pct(s["first_page_ms"], 0.5), "ms", len(s["first_page_ms"])),
            "first_page_p95_ms": (pct(s["first_page_ms"], 0.95), "ms", len(s["first_page_ms"])),
            "export_p50_ms": (m["aux_p50_ms"], "ms", len(aux)),
            "result_rows_per_s": (m["rows_per_s"], "rows/s", len(op)),
        },
        "curate": {"batch_p50_s": (m["aux_p50_ms"] / 1e3, "s", len(aux))},
        "ingest": {
            "batch_p50_s": (m["op_p50_ms"] / 1e3, "s", len(op)),
            "docs_per_s": (m["rows_per_s"], "docs/s", len(op)),
            "compact_p50_s": (m["aux_p50_ms"] / 1e3, "s", len(aux)),
        },
    }[wl]
    named["fail_ratio"] = (tally.failed / max(1, tally.attempted), "ratio", tally.attempted)
    return m, named


def per_layer(tally: workloads.Tally, finish: dict, setup: dict) -> dict:
    m = dict(finish["layers"])
    app_ms = finish["request_app_ms"]
    over = [tally.rid_ms[r] - app_ms[r] for r in tally.rid_ms if r in app_ms]
    m["httpd.overhead_p50_ms"] = pct(over, 0.5)
    m["registry.register_tables_s"] = setup.get("register_tables_s", 0.0)
    obs = finish["observability"]
    m["executor.results_evicted"] = obs["results_evicted"]
    m["executor.retained_mb"] = obs["retained_mb"]
    m["observability.spans_retained"] = obs["spans_retained"]
    store = finish.get("store")
    m["artifacts.files_per_bucket_max"] = tally.counts["files_per_bucket_max"]
    m["artifacts.store_bytes"] = store["bytes"] if store else 0
    for k in ("jobs", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = finish["spark"][k]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="corpus scale factor")
    args = ap.parse_args(argv)

    if not (ROOT / "iceberg_explorer_spark" / "__init__.py").is_file():
        print(f"perfbench: the program (iceberg_explorer_spark) is not under {ROOT}", file=sys.stderr)
        return 2

    wl = args.workload
    cpus = nproc()
    load_before = os.getloadavg()
    runs = ROOT / ".perfbench"
    work = runs / f"{wl}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        data_dir = work / "data"
        datagen.generate(str(data_dir), args.seed, args.sf)
        phase("datagen")
        client = WORKLOADS[wl](args.seed, args.sf, bool(args.trace), **({"clients": max(1, cpus - 1)} if wl == "explore" else {}))
        client.prepare(str(data_dir))
        phase("expected_outputs")
        (runs / "spans").mkdir(exist_ok=True)
        cfg = {
            "workload": wl,
            "seed": args.seed,
            "cpus": cpus,
            "trace": bool(args.trace),
            "data_dir": str(data_dir),
            "work_dir": str(work),
            "local_dir": str(work / "spark-local"),
            "port_file": str(work / "port"),
            "spans_path": str(runs / "spans" / f"{wl}-{args.seed}.jsonl"),
            "ingest_days": workloads.Ingest.N_DAYS,
            "history_days": workloads.Ingest.HISTORY_DAYS,
            "buckets": workloads.Ingest.BUCKETS,
        }
        server = Server(cfg, work)
        t_phase = server.t_spawn
        try:
            setup_s = server.wait_ready()
            phase("server_setup")
            ctl = workloads.Client(server.port, workloads.Tally(), False)
            _, info = ctl.json("GET", "/bench/info")
            warm = workloads.Tally()
            if client.WARMUP_S:
                client.run(server.port, client.WARMUP_S, warm)
                phase("client_warmup")
            ctl.json("POST", "/bench/start")
            tally = workloads.Tally()
            client.run(server.port, args.seconds, tally)
            phase("measure")
            measured_ops = tally.attempted
            tally.merge_outcomes(warm)
            rss_mb = tree_hwm_mb(server.proc.pid)
            status, finish = ctl.json("POST", "/bench/finish", {"ops": measured_ops})
            if status != 200:
                raise RuntimeError(f"finish failed: {finish}")
            ctl.close()
            phase("finish")
        except Exception:
            print(server.tail(), file=sys.stderr)
            raise
        finally:
            server.stop()
            phase("stop")
        if finish.get("store"):
            workloads.Ingest.check_store(tally, finish["store"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    load_after = os.getloadavg()
    print(
        f"perfbench workload={wl} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"sf={args.sf} nproc={cpus} master={info['master']} local_width={info['local']} "
        f"load_before={','.join(f'{x:.2f}' for x in load_before)} "
        f"load_after={','.join(f'{x:.2f}' for x in load_after)}"
    )
    for name, secs in phases.items():
        print(f"phase {wl} {name} {secs:.3f} s")
    for name, secs in info["setup"].items():
        print(f"setup {wl} {name} {secs:.3f} s")
    metrics, named = end_to_end(wl, tally, measured_ops, setup_s, rss_mb)
    for name, value in metrics.items():
        print(f"metric {wl} {name} {value:.6g} {END_TO_END[name]}")
    for name, (value, unit, n) in named.items():
        print(f"metric {wl} {name} {value:.6g} {unit} (n={n})")
    if finish.get("store"):
        store = finish["store"]
        print(f"metric {wl} store_bytes_per_doc {store['bytes'] / store['docs']:.6g} B (n={store['docs']})")
    for line in tally.detail:
        print(f"op {wl} {line}")
    for name, (passed, failed) in sorted(tally.checks.items()):
        print(f"check {wl} {name} passed={passed} failed={failed}")
    for err in tally.errors:
        print(f"error {wl} {err}")

    if args.trace:
        layers = per_layer(tally, finish, info["setup"])
        for name, value in sorted(layers.items()):
            print(f"layer {wl} {name} {value:.6g} {PER_LAYER.get(name, '?')}")
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    checks_failed = sum(f for _, f in tally.checks.values())
    print(
        json.dumps(
            {
                "correct": tally.failed == 0 and checks_failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
