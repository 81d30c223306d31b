"""Spans around the calls into the engine's modules, recorded from outside.

``Tracer.install`` replaces public functions of the package modules with
wrappers at run time (module attributes only; no package file changes).
A wrapper records one span per call: name, start, end, the enclosing
span on the same thread, and the request id. Spans stay in memory
until ``dump``. Wrappers record only while ``active`` is set, so one
process can measure an untraced phase and then a traced one.

The tracer's own lookups (Spark job counts, Catalyst phase times,
the files a read scans) go through py4j. They are queued with
``later`` and run in ``dump``, after the measured phase, so that their
cost lands in no span and in no request's latency.

``layer_metrics`` turns spans plus the client's send/receive times into
the per-layer metrics, using self time (a span minus its children).
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from collections import defaultdict

# (module path, attribute, span name)
WRAPS = [
    ("mmw_geoprocessing_spark.plans.api", "run_request", "plans.api.dispatch"),
    ("mmw_geoprocessing_spark.plans.api", "multi_request", "plans.api.dispatch"),
    ("mmw_geoprocessing_spark.geometry", "parse_multipolygon", "geometry.parse"),
    ("mmw_geoprocessing_spark.geometry", "rasterize_polygons", "geometry.rasterize_build"),
    ("mmw_geoprocessing_spark.geometry", "rasterize_lines", "geometry.rasterize_build"),
    ("mmw_geoprocessing_spark.geometry", "clip_lines", "geometry.clip_lines"),
    ("mmw_geoprocessing_spark.sources.catalog", "read_layers_for_aoi", "sources.catalog.read"),
    ("mmw_geoprocessing_spark.sources.fixtures", "fixture_df", "sources.fixtures.resolve"),
    ("mmw_geoprocessing_spark.operators.mapshed", "template_df", "operators.mapshed.template_build"),
] + [
    ("mmw_geoprocessing_spark.operators.zonal", fn, "operators.zonal.build")
    for fn in (
        "raster_grouped_count", "raster_grouped_count_many", "raster_average",
        "raster_grouped_average", "raster_grouped_sum", "raster_lines_join",
        "raster_summary",
    )
]

CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations of an executed DataFrame, from
    ``queryExecution().tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    out = {}
    for p in CATALYST_PHASES:
        summary = phases.get(p)
        out[p] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


def job_stats(sc, group: str | None) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran for a job group."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    if not group:
        return out
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = tracker.getStageInfo(sid)
            if stage:
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
    return out


class _Span:
    def __init__(self, tracer: "Tracer", name: str, rid: str | None):
        self.tracer, self.rec = tracer, {"name": name, "rid": rid}

    def __enter__(self):
        t = self.tracer
        self.live = t.active
        if not self.live:
            return self.rec
        stack = t._stack()
        parent = stack[-1] if stack else None
        self.rec.update(id=next(t._ids), parent=parent["id"] if parent else None)
        if self.rec["rid"] is None and parent:
            self.rec["rid"] = parent["rid"]
        stack.append(self.rec)
        self.rec["t0"] = time.monotonic()
        return self.rec

    def __exit__(self, *exc):
        if not self.live:
            return False
        self.rec["t1"] = time.monotonic()
        self.rec["error"] = exc[0].__name__ if exc[0] else None
        self.tracer._stack().pop()
        self.tracer.spans.append(self.rec)
        return False


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._rids: dict[int, str] = {}
        self._lock = threading.Lock()
        self._later: list[tuple[dict, object]] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, rid: str | None = None) -> _Span:
        return _Span(self, name, rid)

    def later(self, rec: dict, lookup) -> None:
        """Merge ``lookup()`` (a dict) into span ``rec`` at ``dump``."""
        with self._lock:
            self._later.append((rec, lookup))

    def install(self, spark) -> None:
        import importlib

        from mmw_geoprocessing_spark import http_server

        for mod_name, attr, name in WRAPS:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), name))
        for attr in ("input_data_from_json", "multi_input_from_json"):
            setattr(http_server, attr, self._wrap_parse(getattr(http_server, attr)))
        df_cls = type(spark.range(1))
        df_cls.collect = self._wrap_collect(df_cls.collect)

    def _wrap_parse(self, fn):
        """Request-document parse on the HTTP handler thread: remember
        the document's request id for the model it produces."""

        def wrapper(doc):
            model = fn(doc)
            if self.active:
                with self._lock:
                    self._rids[id(model)] = doc.get("benchRequestId")
            return model

        return wrapper

    def _wrap(self, fn, name: str):
        tracer = self
        if name == "plans.api.dispatch":
            def wrapper(spark_, model):
                if not tracer.active:
                    return fn(spark_, model)
                with tracer._lock:
                    rid = tracer._rids.pop(id(model), None)
                sc = spark_.sparkContext
                group = sc.getLocalProperty("spark.jobGroup.id")
                with tracer.span(name, rid) as rec:
                    out = fn(spark_, model)
                tracer.later(rec, lambda: job_stats(sc, group))
                return out
        elif name == "sources.fixtures.resolve":
            from mmw_geoprocessing_spark.sources import fixtures

            def wrapper(*a, **kw):
                if not tracer.active:
                    return fn(*a, **kw)
                before = len(fixtures._FIXTURE_CACHE)
                with tracer.span(name) as rec:
                    out = fn(*a, **kw)
                rec["hit"] = len(fixtures._FIXTURE_CACHE) == before
                return out
        elif name == "geometry.parse":
            def wrapper(*a, **kw):
                if not tracer.active:
                    return fn(*a, **kw)
                with tracer.span(name) as rec:
                    polys = fn(*a, **kw)
                rec["shapes"] = len(polys)
                rec["vertices"] = sum(len(ring) for poly in polys for ring in poly)
                return polys
        elif name == "sources.catalog.read":
            def wrapper(*a, **kw):
                if not tracer.active:
                    return fn(*a, **kw)
                with tracer.span(name) as rec:
                    dfs = fn(*a, **kw)
                distinct = list({id(d): d for d in dfs}.values())
                tracer.later(rec, lambda: {
                    "files_scanned": sum(len(df.inputFiles()) for df in distinct)
                })
                return dfs
        else:
            def wrapper(*a, **kw):
                if not tracer.active:
                    return fn(*a, **kw)
                with tracer.span(name):
                    return fn(*a, **kw)
        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_collect(self, fn):
        tracer = self

        def collect(df):
            if not tracer.active:
                return fn(df)
            with tracer.span("spark.collect") as rec:
                rows = fn(df)
            tracer.later(rec, lambda: catalyst_ms(df))
            return rows

        collect.__wrapped__ = fn
        return collect

    def dump(self, path: str) -> None:
        with self._lock:
            later, self._later = self._later, []
        for rec, lookup in later:
            rec.update(lookup())
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

# layer metric -> span names whose SELF time it sums
SELF_TIME_LAYERS = {
    "plans.api.self_s": ["plans.api.dispatch"],
    "geometry.parse_s": ["geometry.parse"],
    "geometry.rasterize_build_s": ["geometry.rasterize_build"],
    "geometry.clip_lines_s": ["geometry.clip_lines"],
    "sources.catalog.read_s": ["sources.catalog.read"],
    "sources.fixtures.resolve_s": ["sources.fixtures.resolve"],
    "operators.zonal.build_s": ["operators.zonal.build"],
    "operators.mapshed.template_build_s": ["operators.mapshed.template_build"],
    "spark.collect_s": ["spark.collect"],
}
ROOTS = ("plans.api.dispatch", "registry.op")


def _self_times(spans: list[dict]) -> dict[int, float]:
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child_time[s["id"]] for s in spans}


def layer_metrics(spans: list[dict], clients: list[dict], registry_queries: list[str]) -> dict[str, float]:
    """Per-op means of each layer's self time and counts, over the ops
    of the traced phase. ``clients``: the load generator's per-request
    records (``rid``, ``t_send``, ``t_recv``, ``status``)."""
    selft = _self_times(spans)
    roots = {s["rid"]: s for s in spans if s["name"] in ROOTS and s["rid"]}
    n_ops = max(1, len(roots))
    out: dict[str, float] = {}

    def per_op_sum(names, value) -> float:
        return sum(value(s) for s in spans if s["name"] in names and s["rid"] in roots) / n_ops

    for metric, names in SELF_TIME_LAYERS.items():
        out[metric] = per_op_sum(names, lambda s: selft[s["id"]])
    out["geometry.vertices"] = per_op_sum(["geometry.parse"], lambda s: s.get("vertices", 0))
    out["geometry.shapes"] = per_op_sum(["geometry.parse"], lambda s: s.get("shapes", 0))
    out["sources.catalog.files_scanned"] = per_op_sum(
        ["sources.catalog.read"], lambda s: s.get("files_scanned", 0)
    )
    resolves = [s for s in spans if s["name"] == "sources.fixtures.resolve"]
    out["sources.fixtures.cache_hit_ratio"] = (
        sum(1 for s in resolves if s.get("hit")) / len(resolves) if resolves else 0.0
    )
    collects = [s for s in spans if s["name"] == "spark.collect" and s["rid"] in roots]
    catalyst_total = 0.0
    for p in CATALYST_PHASES:
        ms = sum(s.get(p, 0.0) for s in collects)
        catalyst_total += ms / 1000.0
        out[f"spark.catalyst.{p}_ms"] = ms / n_ops
    out["spark.execute_s"] = out["spark.collect_s"] - catalyst_total / n_ops
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = sum(r.get(k, 0) for r in roots.values()) / n_ops

    # wire time on either side of dispatch, from the client's clock
    # (CLOCK_MONOTONIC is shared by every process on the host)
    pre, post = [], []
    for c in clients:
        root = roots.get(c["rid"])
        if root is not None and root["name"] == "plans.api.dispatch" and c.get("t_recv"):
            pre.append(root["t0"] - c["t_send"])
            post.append(c["t_recv"] - root["t1"])
    out["http_server.pre_dispatch_s"] = statistics.fmean(pre) if pre else 0.0
    out["http_server.post_dispatch_s"] = statistics.fmean(post) if post else 0.0
    statuses = [c.get("status") for c in clients]
    out["http_server.status_200"] = float(sum(1 for s in statuses if s == 200))
    out["http_server.status_4xx"] = float(sum(1 for s in statuses if isinstance(s, int) and 400 <= s < 500))
    out["http_server.status_5xx"] = float(sum(1 for s in statuses if isinstance(s, int) and s >= 500))

    # registry: the build span is inclusive (eager jobs run while a plan
    # is built are build cost); collect is the op's final Arrow collect
    for q in registry_queries:
        ops = {s["id"] for s in roots.values() if s.get("query") == q}
        builds = [s["t1"] - s["t0"] for s in spans if s["name"] == "registry.build" and s["parent"] in ops]
        colls = [s["t1"] - s["t0"] for s in collects if s["parent"] in ops]
        out[f"registry.{q}.build_s"] = statistics.median(builds) if builds else 0.0
        out[f"registry.{q}.collect_s"] = statistics.median(colls) if colls else 0.0
    return out
