"""Served-latency benchmark for mmw_geoprocessing_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine runs exactly as shipped in its
own process (``perfbench/engine.py``: ``session.get_spark()`` defaults,
``GeoprocessingServer``); this process is the seeded load generator and
the judge. It generates the tables and requests from ``--seed``,
computes every expected answer with DuckDB at set-up, measures for
``--seconds`` (in-flight requests and the current registry pass are
completed), checks every reply, and prints the metrics. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).

Workloads (see BENCHMARK.json for why each was chosen):
- run_catalog: closed loop, 4 clients, POST /run against layers served
  from the partitioned catalog (SPARK_GRAFT_CATALOG_ROOT), mixed with
  single-shape POST /multi MapShed requests over the fixture layers;
- registry_batch: in-process, 1 client, registry queries with a fresh
  plan per op, collected through Arrow.

With ``--trace 1`` the run measures an untraced phase and then a traced
one in the same engine, each for ``--seconds`` and each from the start
of the same request pool; per-layer metrics come from the traced phase
and ``tracing.overhead.*`` is traced minus untraced.

Every run writes its own record, with the raw per-op send/receive
times, to ``.perfbench/runs/``. Scratch data goes to a per-run work
directory under ``.perfbench/`` that is removed at exit.
"""

from __future__ import annotations

T0 = __import__("time").monotonic()

import argparse  # noqa: E402
import datetime as dt  # noqa: E402
import hashlib  # noqa: E402
import http.client  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
REQUEST_TIMEOUT_S = 60.0

# Served workloads share one raster grid: 6144 lineitem rows -> 6144
# fixture pixels = 32 x 3 tiles of 8 x 8 cells (256 x 24 cells).
SERVED_DATA = {"n_orders": 1700, "n_lineitem": 6144}
REGISTRY_DATA = {"n_orders": 15000, "n_lineitem": None}  # sf0.01

# registry_batch query set: non-zonal registry entries -- TPC-H reads,
# two per-query perf candidates (ROADMAP) and an index-writing row next
# to the reads. Seven, so that one pass takes 5-9 s on a 4-core host and
# a 14 s run holds two or three whole passes, each the same mix. An odd
# count puts the median on the middle query's samples, not between two
# queries.
REGISTRY_QUERIES = [
    "pricing_summary",
    "top_customers_by_revenue",
    "tpch_q3",
    "tpch_q5",
    "sampling_decontaminated_mix",
    "text_bigram_surprisal",
    "search_bm25_index_append",
]

# the end-to-end metrics of the final JSON line (BENCHMARK.json)
E2E = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "latency_p50_s": "s",
    "correct_share": "fraction",
    "peak_rss_mb": "MB",
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# engine process
# ---------------------------------------------------------------------------


class Engine:
    """The engine subprocess, in its own process group so that the JVM
    it launches is stopped with it."""

    def __init__(self, root: str, work: str, workload: str, data: str, trace: int, extra: list[str]):
        self.env = {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            # scratch space inside the run's work directory
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "PYTHONPATH": root,
        }
        if workload == "run_catalog":
            self.env["SPARK_GRAFT_CATALOG_ROOT"] = os.path.join(work, "catalog")
        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        self.log = open(os.path.join(work, "engine.log"), "w")
        cmd = [
            sys.executable, os.path.join(HERE, "engine.py"), "--root", root,
            "--workload", workload, "--data", data, "--work", work, "--trace", str(trace),
            *extra,
        ]
        self.proc = subprocess.Popen(
            cmd, cwd=work, env={**os.environ, **self.env}, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.log, text=True, start_new_session=True,
        )
        self.events: list[dict] = []
        self._cv = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                with self._cv:
                    self.events.append(json.loads(line[2:]))
                    self._cv.notify_all()
        with self._cv:
            self.events.append({"event": "exit"})
            self._cv.notify_all()

    def wait_for(self, event: str, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                for ev in self.events:
                    if ev["event"] == event:
                        return ev
                    if ev["event"] == "exit":
                        raise RuntimeError(f"engine exited before '{event}' (see engine.log)")
                left = deadline - time.monotonic()
                if left <= 0:
                    raise RuntimeError(f"engine sent no '{event}' within {timeout:.0f} s")
                self._cv.wait(left)

    def deployment_env(self, root: str, work: str) -> dict:
        """The variables this run set, with its paths made relative."""
        env = {k: v.replace(work, "<work>").replace(root, "<root>") for k, v in self.env.items()}
        env["index_store._STORE_DIR"] = "<work>/index_store"  # set in engine.py
        return env

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def stop(self) -> None:
        """Ask the engine to quit, then end its whole process group and
        wait until no process of it is left."""
        try:
            self.send("quit")
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not group_pids(self.proc.pid):
                break
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + 10
            while group_pids(self.proc.pid) and time.monotonic() < deadline:
                time.sleep(0.1)
        if self.proc.poll() is None:
            self.proc.wait(timeout=10)
        self._reader.join(timeout=10)
        self.log.close()


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def group_pids(pgid: int) -> list[int]:
    """Live processes of a process group."""
    return [
        int(p) for p in os.listdir("/proc")
        if p.isdigit() and (st := _stat(p)) and st[0] != "Z" and int(st[2]) == pgid
    ]


class RssSampler(threading.Thread):
    """Peak summed resident memory of the serving process tree: the
    engine's Python process plus the JVM it launched (its direct child),
    sampled from /proc every 100 ms. PySpark's Python workers are left
    out: how many are alive at a given moment varies run to run."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._halt = pid, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[str]:
        kids = [p for p in os.listdir("/proc")
                if p.isdigit() and (st := _stat(p)) and int(st[1]) == self.pid]
        return [str(self.pid), *kids]

    def run(self) -> None:
        while not self._halt.wait(0.1):
            total = 0
            for pid in self._tree():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self.page
                except OSError:
                    pass
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# served load
# ---------------------------------------------------------------------------


def post(port: int, path: str, doc: dict) -> tuple[int | None, bytes, float, float]:
    body = json.dumps(doc).encode()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    t_send = time.monotonic()
    try:
        conn.request("POST", path, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, data, t_send, time.monotonic()
    except (OSError, http.client.HTTPException) as e:
        return None, str(e).encode(), t_send, time.monotonic()
    finally:
        conn.close()


def closed_loop(port, specs, expected, clients, phase, seconds=None) -> list[dict]:
    """``clients`` threads, each sending its next request only after the
    previous reply. With ``seconds`` the specs repeat and no request
    starts after that time; without it each spec is sent once."""
    from workloads import reply_ok, request

    order = itertools.cycle(specs) if seconds is not None else iter(specs)
    lock = threading.Lock()
    records: list[dict] = []
    counter = itertools.count()
    deadline = time.monotonic() + seconds if seconds is not None else None

    def client() -> None:
        while True:
            with lock:
                if deadline is not None and time.monotonic() >= deadline:
                    return
                spec, n = next(order, None), next(counter)
            if spec is None:
                return
            rid = f"{phase}{n}"
            path, doc = request(spec)
            doc["benchRequestId"] = rid
            status, data, t_send, t_recv = post(port, path, doc)
            ok = reply_ok(status, data, expected[spec["id"]])
            rec = {"rid": rid, "spec": spec["id"], "kind": spec["kind"], "phase": phase,
                   "t_send": t_send, "t_recv": t_recv, "status": status, "ok": ok}
            if not ok:
                rec["reply"] = data[:300].decode(errors="replace")
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def served(args, root, work, data, record) -> tuple[list[dict], dict]:
    import workloads as wl

    engine = Engine(root, work, args.workload, data, args.trace, [])
    sampler = RssSampler(engine.proc.pid)
    sampler.start()
    try:
        # requests and their expected answers, while the engine starts
        t = time.monotonic()
        con = wl.open_oracle(data, wl.CATALOG_LAYERS)
        grid = wl.grid_size(con)
        pool = wl.run_pool(args.seed, grid, 56)
        # warm-up: one round of one request per client, covering the
        # multi-polygon, target-layer, stream-line and /multi paths
        clients = record["clients"] = min(4, CPUS)
        warm = [s for s in wl.run_pool(args.seed + 7919, grid, len(wl.RUN_KINDS))
                if s["kind"] in ("count_many", "summary", "lines", "multi")][:clients]
        expected = {s["id"]: wl.canon(wl.expected(con, s)) for s in pool}
        warm_expected = {s["id"]: wl.canon(wl.expected(con, s)) for s in warm}
        con.close()
        record["setup"]["expected_answers_s"] = time.monotonic() - t

        ready = engine.wait_for("ready", 150)
        record["deployment_env"] = engine.deployment_env(root, work)
        record["setup"].update(ready["setup"])
        record["spark_version"] = ready["spark_version"]
        port = ready["port"]

        t = time.monotonic()
        bad = [r for r in closed_loop(port, warm, warm_expected, clients, "w")
               if not r["ok"]]
        if bad:
            raise RuntimeError(f"warm-up request failed: {bad[0]}")
        record["setup"]["warmup_s"] = time.monotonic() - t

        record["setup_s"] = time.monotonic() - T0
        recs = closed_loop(port, pool, expected, clients, "a", args.seconds)
        layers = {}
        if args.trace:
            engine.send("trace on")
            recs_b = closed_loop(port, pool, expected, clients, "b", args.seconds)
            engine.send("trace off")
            span_path = os.path.join(work, "spans.jsonl")
            engine.send(f"dump {span_path}")
            engine.wait_for("dumped", 60)
            layers = traced_layers(span_path, recs_b, record)
            recs += recs_b
        record["pool"] = {s["id"]: {k: v for k, v in s.items() if k != "id"} for s in pool}
        return recs, layers
    finally:
        record["peak_rss_mb"] = sampler.stop()
        engine.stop()


# ---------------------------------------------------------------------------
# registry batch
# ---------------------------------------------------------------------------


def registry_expected(data: str, queries: list[str]) -> dict:
    """Row count, sorted columns and order-insensitive value hash of each
    query's DuckDB oracle, hashed exactly as ``tools/selfcheck.py``."""
    import duckdb

    import __spark_entry__ as entry
    from mmw_geoprocessing_spark.sources.tables import TABLE_NAMES
    from selfcheck import _hash

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for q in queries:
        pdf = con.execute(oracles[q]).df()
        out[q] = {"rows": len(pdf), "cols": sorted(pdf.columns), "hash": _hash(pdf)}
    con.close()
    return out


def registry(args, root, work, data, record) -> tuple[list[dict], dict]:
    order = list(REGISTRY_QUERIES)
    random.Random(args.seed).shuffle(order)
    record["clients"] = 1
    extra = ["--seconds", str(args.seconds), "--queries", ",".join(order)]
    engine = Engine(root, work, args.workload, data, args.trace, extra)
    sampler = RssSampler(engine.proc.pid)
    sampler.start()
    try:
        # expected hashes while the engine starts; the timed loop waits
        # for them so DuckDB never runs beside a timed op
        t = time.monotonic()
        expected = registry_expected(data, REGISTRY_QUERIES)
        record["setup"]["expected_answers_s"] = time.monotonic() - t
        ready = engine.wait_for("ready", 150)
        record["deployment_env"] = engine.deployment_env(root, work)
        record["setup"].update(ready["setup"])
        record["spark_version"] = ready["spark_version"]
        record["setup_s"] = time.monotonic() - T0
        engine.send("go")
        engine.wait_for("done", 120)
        recs = []
        for ev in engine.events:
            if ev["event"] != "op":
                continue
            exp = expected[ev["query"]]
            ev["ok"] = "error" not in ev and all(ev.get(k) == exp[k] for k in ("rows", "cols", "hash"))
            ev["status"] = None
            recs.append({k: v for k, v in ev.items() if k != "event"})
        layers = {}
        if args.trace:
            span_path = os.path.join(work, "spans.jsonl")
            engine.send(f"dump {span_path}")
            engine.wait_for("dumped", 60)
            layers = traced_layers(span_path, [], record)
        record["registry_order"] = order
        return recs, layers
    finally:
        record["peak_rss_mb"] = sampler.stop()
        engine.stop()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def phase_metrics(recs: list[dict], clients: int, per_query: bool = False) -> dict:
    """End-to-end metrics of one phase of a closed loop.

    ``ops_per_s`` is the share of correct ops over the mean time one op
    holds a client: the throughput while every client waits on a reply
    (Little's law). Counting ops over the wall time instead makes the
    figure jump with whether one more lockstep round of requests starts
    before the deadline. With ``per_query`` (the registry passes, where
    each query repeats once a pass) an op's time is the median of its
    query's latencies, so one slow pass does not move the figure."""
    if not recs:
        return {}
    lat = sorted(r["t_recv"] - r["t_send"] for r in recs)
    ops = len(recs)
    good = sum(1 for r in recs if r["ok"])
    if per_query:
        by_query: dict[str, list[float]] = {}
        for r in recs:
            by_query.setdefault(r["query"], []).append(r["t_recv"] - r["t_send"])
        hold = statistics.mean(statistics.median(v) for v in by_query.values()) / clients
    else:
        hold = statistics.mean(lat) / clients
    p90 = statistics.quantiles(lat, n=10)[8] if len(lat) > 1 else lat[0]
    return {
        "ops_per_s": good / ops / hold if hold > 0 else 0.0,
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": p90,
        "correct_share": good / ops,
        "error_share": 1.0 - good / ops,
        "samples": len(lat),
        "samples_beyond_p90": sum(1 for v in lat if v > p90),
        "ops": ops,
    }


def traced_layers(span_path: str, client_recs: list[dict], record: dict) -> dict:
    from spans import layer_metrics

    with open(span_path) as f:
        spans = [json.loads(line) for line in f]
    layers = layer_metrics(spans, client_recs, REGISTRY_QUERIES)
    setup = record["setup"]
    layers["sources.catalog.write_layer_s"] = sum(setup.get("write_layer_s", {}).values())
    layers["sources.catalog.files_written"] = float(setup.get("files_written", 0))
    record["span_count"] = len(spans)
    return layers


def source_identity(root: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    files = ["__spark_entry__.py"] + sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(os.path.join(root, "mmw_geoprocessing_spark"))
        for f in fs if f.endswith(".py")
    )
    for rel in files:
        digest.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            digest.update(f.read())
    return {"commit": commit, "source_sha256": digest.hexdigest()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["run_catalog", "registry_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its engine (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    root = os.getcwd()
    for need in ("mmw_geoprocessing_spark/__init__.py", "__spark_entry__.py", "tools/selfcheck.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found under {root}")
    sys.path[:0] = [root, os.path.join(root, "tools"), HERE]
    import duckdb

    import datagen

    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
    tag = f"{stamp}-{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", tag)
    os.makedirs(work)
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, **source_identity(root),
        "duckdb_version": duckdb.__version__, "python": sys.version.split()[0],
        "session_confs_set": [], "setup": {},
    }
    try:
        sizes = REGISTRY_DATA if args.workload == "registry_batch" else SERVED_DATA
        data = os.path.join(work, "data")
        t = time.monotonic()
        record["tables"] = datagen.generate(data, args.seed, **sizes)
        record["setup"]["datagen_s"] = time.monotonic() - t
        record["sf"] = round(sizes["n_orders"] / 1_500_000, 6)
        runner = registry if args.workload == "registry_batch" else served
        recs, layers = runner(args, root, work, data, record)
    except RuntimeError as e:
        log = os.path.join(work, "engine.log")
        if os.path.exists(log):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
        fail(str(e), 1)
    finally:
        if "recs" in locals():
            shutil.rmtree(work, ignore_errors=True)

    per_query = args.workload == "registry_batch"
    untraced = phase_metrics([r for r in recs if r["phase"] == "a"], record["clients"], per_query)
    e2e = {"setup_s": record["setup_s"], **untraced, "peak_rss_mb": record["peak_rss_mb"]}
    if args.trace:
        traced = phase_metrics([r for r in recs if r["phase"] == "b"], record["clients"], per_query)
        for m in ("ops_per_s", "latency_p50_s", "correct_share"):
            layers[f"tracing.overhead.{m}"] = traced.get(m, 0.0) - untraced.get(m, 0.0)
        record["traced_phase"] = traced
    record["metrics"] = e2e
    record["per_layer"] = layers
    record["ops"] = recs

    runs = os.path.join(root, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    out_path = os.path.join(runs, f"{tag}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)

    attempted = len(recs)
    failed = sum(1 for r in recs if not r["ok"])
    print(f"workload {args.workload}  seed {args.seed}  cpus {CPUS}  sf {record['sf']}  "
          f"spark {record.get('spark_version')}  record {os.path.relpath(out_path, root)}")
    for name, unit in E2E.items():
        print(f"  {name:<16} {e2e[name]:.6g} {unit}")
    # a run holds too few samples for p90 to bound a change: printed
    # with its sample count, not part of the final line
    print(f"  {'latency_p90_s':<16} {untraced['latency_p90_s']:.6g} s "
          f"({untraced['samples']} samples, {untraced['samples_beyond_p90']} beyond p90)")
    print(f"  {'error_share':<16} {untraced['error_share']:.6g} fraction")
    for name in sorted(layers):
        print(f"  {name:<48} {layers[name]:.6g}")
    if args.trace:
        metrics = {n: {"value": v, "unit": layer_unit(n)} for n, v in layers.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E.items()}
    print(json.dumps({"correct": attempted > 0 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.startswith("tracing.overhead."):
        return E2E[name.split(".", 2)[2]]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("ratio"):
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
