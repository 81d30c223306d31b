"""The engine process the benchmark measures.

Starts a SparkSession from ``session.get_spark()`` with its shipped
defaults, registers the generated tables, does the workload's set-up
and then either serves HTTP through ``GeoprocessingServer`` (run_catalog)
or runs the registry batch in process (registry_batch).

Protocol: lines starting with ``@@`` on stdout are JSON events for the
load process (``ready``, ``op``, ``done``, ``dumped``); commands arrive
one per line on stdin (``trace on``, ``dump <path>``, ``quit``).
Everything else the engine prints is log noise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.monotonic()


def emit(event: str, **fields) -> None:
    sys.stdout.write("@@" + json.dumps({"event": event, **fields}) + "\n")
    sys.stdout.flush()


def _count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def write_catalog(spark, root: str, layers: list[str]) -> dict:
    """Ingest the fixture layers into the partitioned catalog, one
    ``catalog.write_layer`` per layer, the layers written concurrently."""
    from mmw_geoprocessing_spark.sources import catalog
    from mmw_geoprocessing_spark.sources import fixtures as fx

    per_layer: dict[str, float] = {}

    def write(layer: str) -> None:
        t0 = time.monotonic()
        catalog.write_layer(fx.raster_df(spark, layer), root, layer)
        per_layer[layer] = time.monotonic() - t0

    threads = [threading.Thread(target=write, args=(layer,)) for layer in layers]
    t0 = time.monotonic()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    missing = [layer for layer in layers if layer not in per_layer]
    if missing:
        raise RuntimeError(f"catalog ingest failed for {missing}")
    return {
        "write_wall_s": time.monotonic() - t0,
        "write_layer_s": per_layer,
        "files_written": _count_files(root),
    }


def run_registry(spark, tracer, data_dir: str, order: list[str], seconds: float, phase: str) -> None:
    """Whole passes over ``order`` until ``seconds`` have elapsed: each
    op builds a fresh plan and collects it through Arrow. Results are
    hashed after the timed loop, so hashing never counts as op time."""
    import __spark_entry__ as entry
    from spans import catalyst_ms, job_stats

    from selfcheck import _hash

    plans = entry.queries(prepared=False)
    sc = spark.sparkContext
    results = []
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < seconds:
        for q in order:
            rid = f"{phase}{n}"
            n += 1
            sc.setJobGroup(f"bench-{rid}", q)
            rec = {"rid": rid, "query": q, "phase": phase, "t_send": time.monotonic()}
            try:
                with tracer.span("registry.op", rid) as root:
                    root["query"] = q
                    with tracer.span("registry.build"):
                        df = plans[q](spark, data_dir)
                    with tracer.span("spark.collect") as c:
                        pdf = df.toPandas()
                if tracer.active:
                    tracer.later(c, lambda df=df: catalyst_ms(df))
                    tracer.later(root, lambda g=f"bench-{rid}": job_stats(sc, g))
                rec["t_recv"] = time.monotonic()
                results.append((rec, pdf))
            except Exception as e:  # a failed query is an error op, not a crash
                rec.update(t_recv=time.monotonic(), error=f"{type(e).__name__}: {str(e)[:300]}")
                results.append((rec, None))
    for rec, pdf in results:
        if pdf is not None:
            rec.update(rows=len(pdf), cols=sorted(pdf.columns), hash=_hash(pdf))
        emit("op", **rec)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--queries", default="")
    args = ap.parse_args()

    sys.path[:0] = [args.root, os.path.join(args.root, "tools"), os.path.dirname(os.path.abspath(__file__))]
    from spans import Tracer

    from mmw_geoprocessing_spark.session import get_spark
    from mmw_geoprocessing_spark.sources import fixtures, index_store, tables

    setup: dict = {}
    spark = get_spark()
    setup["spark_start_s"] = time.monotonic() - T_START
    t = time.monotonic()
    if args.workload == "registry_batch":
        tables.register_views(spark, args.data)
    else:
        # the raster fixtures derive from lineitem (pixels) and nation
        # (stream-line ids); a geoprocessing server needs no other table
        for name in ("lineitem", "nation"):
            tables.load_table(spark, args.data, name).createOrReplaceTempView(name)
        fixtures.set_active_dir(args.data, spark)
    setup["register_views_s"] = time.monotonic() - t
    # the index store's location is a hard-coded path outside the
    # checkout; keep it inside this run's work directory
    index_store._STORE_DIR = os.path.join(args.work, "index_store")

    tracer = Tracer()
    if args.trace:
        tracer.install(spark)

    if args.workload == "registry_batch":
        import __spark_entry__ as entry

        plans = entry.queries(prepared=False)
        order = args.queries.split(",")
        # each query once, cold, all at once: the cold cost is mostly
        # one-thread JVM class loading and code generation
        t = time.monotonic()
        with ThreadPoolExecutor(max_workers=len(order)) as pool:
            list(pool.map(lambda q: plans[q](spark, args.data).toPandas(), order))
        setup["warmup_s"] = time.monotonic() - t
        emit("ready", setup=setup, spark_version=spark.version)
        if sys.stdin.readline().strip() != "go":
            return 1
        run_registry(spark, tracer, args.data, order, args.seconds, "a")
        if args.trace:
            tracer.active = True
            run_registry(spark, tracer, args.data, order, args.seconds, "b")
            tracer.active = False
        emit("done")
        server = None
    else:
        root = os.environ.get("SPARK_GRAFT_CATALOG_ROOT")
        if args.workload == "run_catalog":
            from workloads import CATALOG_LAYERS

            setup.update(write_catalog(spark, root, CATALOG_LAYERS))
        from mmw_geoprocessing_spark.http_server import GeoprocessingServer

        server = GeoprocessingServer(spark, port=0).start()
        emit("ready", setup=setup, spark_version=spark.version, port=server.port)

    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "trace":
            tracer.active = cmd[1] == "on"
        elif cmd[0] == "dump":
            tracer.dump(cmd[1])
            emit("dumped", path=cmd[1], spans=len(tracer.spans))
        elif cmd[0] == "quit":
            break
    if server is not None:
        server.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
