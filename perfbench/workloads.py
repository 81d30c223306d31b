"""Seeded request documents for the served workloads, and their expected
answers computed without the engine.

Every AOI is an axis-parallel rectangle in the zoom-0 ConusAlbers frame
(one grid unit per cell, ``geometry.GridLayout()``). Its edges sit a
quarter cell off the cell boundaries, so no cell center lies on an
edge and the rasterized region is exactly the cells whose centers fall
inside the range. Each edge is split into many collinear vertices:
the engine parses and ray-casts a ring of realistic size, but the
region stays the exact rectangle. Stream segments run along cell-center
rows or columns, so the cells they cross are a closed-form range.

Ring sizes follow the reference's checked-in request payloads as
SURVEY.md (lines 987-990) records them: the 61 HUC-12 shapes of
``examples/MultiOperationRequest.json`` fill 3.2 MB together with the
basin's stream lines, so a HUC-12 ring has at most about 1300 vertices
(at some 40 bytes a coordinate pair). Every ring, /run AOI or /multi
subbasin, draws its vertex count log-uniformly from half that to all
of it. A /multi request carries one subbasin, like the reference's
single-shape payloads. The 9866-vertex HUC-8 boundary of
``examples/MultiOperationRequestHUC8.json`` is not used: driver-side
geometry on one such ring takes seconds, and a run would hold too few
requests to time.

Expected answers are evaluated by DuckDB over the dialect-neutral
fixture SQL (``sources.fixtures.with_fixtures``) with each rectangle a
range predicate on cell centers and each segment a cell range; neither
``geometry.py`` nor Spark is involved.
"""

from __future__ import annotations

import json
import math
import random

from mmw_geoprocessing_spark.sources.fixtures import NODATA_INT, with_fixtures

PK = "key_col, key_row, cell_col, cell_row"
FRAME = {"polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers", "zoom": 0}

# run_catalog: the catalog holds these layers; AOI areas are drawn
# log-uniformly per stratum between these bounds (cells)
CATALOG_LAYERS = ["nlcd", "soil", "gwn", "slope"]
RUN_AREA = (512, 4096)
RUN_STRATA = 8
# six /run operations and one single-shape /multi MapShed request
RUN_KINDS = ["count2", "count_many", "average", "sum", "summary", "lines", "multi"]

# vertices of one ring (see the module docstring)
RING_VERTICES = (650, 1300)

_OP_FOR_KIND = {
    "grouped_count": "RasterGroupedCount",
    "lines_join": "RasterLinesJoin",
    "average": "RasterGroupedAverage",
    "grouped_average": "RasterGroupedAverage",
}


# ---------------------------------------------------------------------------
# geometry of the generated documents
# ---------------------------------------------------------------------------


def rect_geojson(rect: tuple[int, int, int, int], vertices: int) -> str:
    """Polygon for the cells ``x0 <= x < x1, y0 <= y < y1`` whose ring
    has ``vertices`` points, spread evenly over the four edges."""
    x0, y0, x1, y1 = (v + 0.25 for v in rect)
    per_edge = vertices // 4
    pts = []
    for i in range(per_edge):
        pts.append([x0 + (x1 - x0) * i / per_edge, y0])
    for i in range(per_edge):
        pts.append([x1, y0 + (y1 - y0) * i / per_edge])
    for i in range(per_edge):
        pts.append([x1 - (x1 - x0) * i / per_edge, y1])
    for i in range(per_edge):
        pts.append([x0, y1 - (y1 - y0) * i / per_edge])
    pts.append([x0, y0])
    return json.dumps({"type": "Polygon", "coordinates": [pts]})


def _rect(rng: random.Random, area: float, grid: tuple[int, int]) -> tuple[int, int, int, int]:
    gw, gh = grid
    aspect = math.exp(rng.uniform(math.log(0.75), math.log(2.5)))
    h = max(4, min(gh - 4, round(math.sqrt(area / aspect))))
    w = max(4, min(gw - 4, round(area / h)))
    x0 = rng.randrange(0, gw - w + 1)
    y0 = rng.randrange(0, gh - h + 1)
    return (x0, y0, x0 + w, y0 + h)


def _segments(rng: random.Random, near: tuple[int, int, int, int], grid: tuple[int, int], n: int):
    """``n`` axis-parallel segments ``(axis, fixed, lo, hi)`` in cell
    units, crossing or touching the rectangle ``near``."""
    gw, gh = grid
    x0, y0, x1, y1 = near
    segs = []
    for i in range(n):
        if i % 2 == 0:  # horizontal: row y, columns lo..hi
            y = rng.randrange(max(0, y0 - 4), min(gh, y1 + 4))
            lo = rng.randint(max(0, x0 - 20), min(x1 - 1, gw - 2))
            hi = rng.randint(lo + 1, min(gw - 1, x1 + 19))
            segs.append(("h", y, lo, hi))
        else:  # vertical: column x, rows lo..hi
            x = rng.randrange(max(0, x0 - 4), min(gw, x1 + 4))
            lo = rng.randint(max(0, y0 - 20), min(y1 - 1, gh - 2))
            hi = rng.randint(lo + 1, min(gh - 1, y1 + 19))
            segs.append(("v", x, lo, hi))
    return segs


def segments_geojson(segs) -> str:
    lines = []
    for axis, fixed, lo, hi in segs:
        if axis == "h":
            lines.append([[lo + 0.5, fixed + 0.5], [hi + 0.5, fixed + 0.5]])
        else:
            lines.append([[fixed + 0.5, lo + 0.5], [fixed + 0.5, hi + 0.5]])
    return json.dumps({"type": "MultiLineString", "coordinates": lines})


def _log_uniform(rng: random.Random, lo: float, hi: float) -> float:
    return math.exp(rng.uniform(math.log(lo), math.log(hi)))


# ---------------------------------------------------------------------------
# request pools
# ---------------------------------------------------------------------------


def run_pool(seed: int, grid: tuple[int, int], n: int) -> list[dict]:
    """``n`` requests. Request ``i`` has kind ``RUN_KINDS[i % 7]`` and
    an area stratum from a Latin square over blocks of ``RUN_STRATA``
    requests, so every prefix of the pool carries close to the same mix
    of operations and AOI sizes; the seed moves the rectangles, segments
    and vertex counts."""
    rng = random.Random(seed)
    lo, hi = (math.log(a) for a in RUN_AREA)
    step = (hi - lo) / RUN_STRATA
    pool = []
    for i in range(n):
        kind = RUN_KINDS[i % len(RUN_KINDS)]
        block, pos = divmod(i, RUN_STRATA)
        stratum = (pos * 3 + block) % RUN_STRATA
        area = math.exp(lo + step * (stratum + rng.random()))
        vertices = round(_log_uniform(rng, *RING_VERTICES))
        spec = {"id": f"r{i}", "kind": kind, "vertices": vertices, "cells": 0}
        if kind == "count_many":
            # three adjacent strips splitting one rectangle (the TR-55
            # shape: one histogram per polygon, one tile fetch for all)
            x0, y0, x1, y1 = _rect(rng, area, grid)
            w = x1 - x0
            cuts = [x0, x0 + w // 3, x0 + 2 * w // 3, x1]
            spec["rects"] = [(cuts[k], y0, cuts[k + 1], y1) for k in range(3)]
        else:
            spec["rects"] = [_rect(rng, area, grid)]
        spec["cells"] = sum((r[2] - r[0]) * (r[3] - r[1]) for r in spec["rects"])
        if kind in ("lines", "multi"):
            spec["segments"] = _segments(rng, spec["rects"][0], grid, 4)
        pool.append(spec)
    return pool


def request(spec: dict) -> tuple[str, dict]:
    """The request path and document of a pool entry."""
    if spec["kind"] == "multi":
        return "/multi", multi_document(spec)
    return "/run", run_document(spec)


def run_document(spec: dict) -> dict:
    kind = spec["kind"]
    doc = {"benchRequestId": spec["id"], **FRAME}
    doc["polygon"] = [rect_geojson(r, spec["vertices"]) for r in spec["rects"]]
    if kind == "count2":
        # alternate a full-coverage pair with one whose second layer
        # misses every fourth tile column (the NODATA fill path)
        pair = ["nlcd", "soil"] if int(spec["id"][1:]) % 12 < 6 else ["nlcd", "gwn"]
        doc.update(operationType="RasterGroupedCount", rasters=pair)
    elif kind == "count_many":
        doc.update(operationType="RasterGroupedCountMany", rasters=["nlcd", "soil"])
    elif kind == "average":
        doc.update(operationType="RasterGroupedAverage", rasters=["nlcd"], targetRaster="slope")
    elif kind == "sum":
        doc.update(operationType="RasterGroupedSum", rasters=["soil"], targetRaster="slope")
    elif kind == "summary":
        doc.update(operationType="RasterSummary", rasters=["slope", "gwn"])
    else:
        doc.update(
            operationType="RasterLinesJoin",
            rasters=["nlcd", "soil"],
            vector=[segments_geojson(spec["segments"])],
            vectorCRS="ConusAlbers",
        )
    return doc


def mapshed_operations() -> list[dict]:
    """The MapShed templates of ``operators/mapshed.py`` whose layers are
    all catalog layers (5 of the 10). The fixture copies of those layers
    are already materialized by the catalog ingest, so a /multi request
    in the timed mix costs its plan and scan, not a cold fixture load."""
    from mmw_geoprocessing_spark.operators.mapshed import TEMPLATES

    return [
        {"name": _OP_FOR_KIND[kind], "label": label, "rasters": rasters,
         **({"targetRaster": target} if target else {})}
        for label, (kind, rasters, target) in TEMPLATES.items()
        if {*rasters, *([target] if target else [])} <= set(CATALOG_LAYERS)
    ]


def multi_document(spec: dict) -> dict:
    return {
        "benchRequestId": spec["id"],
        "shapes": [
            {"id": f"huc{k}", "shape": rect_geojson(r, spec["vertices"])}
            for k, r in enumerate(spec["rects"])
        ],
        "streamLines": [segments_geojson(spec["segments"])],
        "operations": mapshed_operations(),
        "shapeCRS": "ConusAlbers",
        "rasterCRS": "ConusAlbers",
        "zoom": 0,
    }


# ---------------------------------------------------------------------------
# expected answers (DuckDB)
# ---------------------------------------------------------------------------


def _mask_sql(rect) -> str:
    x0, y0, x1, y1 = (v + 0.25 for v in rect)
    return (
        f"SELECT {PK} FROM px WHERE x + 0.5 > {x0} AND x + 0.5 < {x1} "
        f"AND y + 0.5 > {y0} AND y + 0.5 < {y1}"
    )


def _line_cells_sql(segs) -> str:
    preds = [
        f"(y = {fixed} AND x BETWEEN {lo} AND {hi})" if axis == "h"
        else f"(x = {fixed} AND y BETWEEN {lo} AND {hi})"
        for axis, fixed, lo, hi in segs
    ]
    return f"SELECT {PK} FROM px WHERE {' OR '.join(preds)}"


def _joined_sql(rasters) -> str:
    src = f"(SELECT {PK}, value AS w1 FROM r_{rasters[0]})"
    for i, r in enumerate(rasters[1:], start=2):
        src += f" FULL OUTER JOIN (SELECT {PK}, value AS w{i} FROM r_{r}) USING ({PK})"
    fills = ", ".join(f"COALESCE(w{i}, {NODATA_INT}) AS v{i}" for i in range(1, len(rasters) + 1))
    return f"SELECT {PK}, {fills} FROM {src}"


def _key(n: int) -> str:
    return "'List(' || " + " || ', ' || ".join(f"CAST(v{i} AS VARCHAR)" for i in range(1, n + 1)) + " || ')'"


def _vs(n: int) -> str:
    return ", ".join(f"v{i}" for i in range(1, n + 1))


def _grouped_count(con, rasters, mask) -> dict:
    n = len(rasters)
    sql = (
        f"SELECT {_key(n)}, COUNT(*) FROM ({_joined_sql(rasters)}) JOIN ({mask}) USING ({PK}) "
        f"GROUP BY {_vs(n)}"
    )
    return dict(con.execute(sql).fetchall())


def _grouped_average(con, rasters, target, mask) -> dict:
    n = len(rasters)
    refill = ", ".join(f"COALESCE(v{i}, {NODATA_INT}) AS v{i}" for i in range(1, n + 1))
    uni = (
        f"SELECT {PK}, {refill}, t.value AS tval FROM ({_joined_sql(rasters)}) "
        f"FULL OUTER JOIN r_{target} t USING ({PK})"
    )
    sql = (
        f"SELECT {_key(n)}, AVG(COALESCE(tval, 0.0)) FROM ({uni}) JOIN ({mask}) USING ({PK}) "
        f"GROUP BY {_vs(n)}"
    )
    return dict(con.execute(sql).fetchall())


def _grouped_sum(con, rasters, target, mask) -> dict:
    n = len(rasters)
    sql = (
        f"SELECT {_key(n)}, SUM(COALESCE(t.value, 0.0)) FROM ({_joined_sql(rasters)}) "
        f"JOIN ({mask}) USING ({PK}) LEFT JOIN r_{target} t USING ({PK}) GROUP BY {_vs(n)}"
    )
    return dict(con.execute(sql).fetchall())


def _average(con, target, mask) -> dict:
    sql = (
        f"SELECT 'List(0)', AVG(COALESCE(t.value, 0.0)) FROM ({mask}) m "
        f"JOIN r_{target} t USING ({PK}) GROUP BY 1"
    )
    return dict(con.execute(sql).fetchall())


def _lines_join(con, rasters, segs, mask) -> dict:
    n = len(rasters)
    lp = f"SELECT DISTINCT {PK} FROM ({_line_cells_sql(segs)}) JOIN ({mask}) USING ({PK})"
    sql = (
        f"SELECT {_key(n)}, COUNT(*) FROM ({_joined_sql(rasters)}) JOIN ({lp}) USING ({PK}) "
        f"GROUP BY {_vs(n)}"
    )
    return dict(con.execute(sql).fetchall())


def _summary(con, targets, mask) -> list:
    out = []
    for t in targets:
        row = con.execute(
            f"SELECT MIN(t.value), SUM(COALESCE(t.value, 0.0)) / COUNT(*), MAX(t.value) "
            f"FROM ({mask}) m LEFT JOIN r_{t} t USING ({PK})"
        ).fetchone()
        out.append({"min": row[0], "avg": row[1], "max": row[2]})
    return out


def open_oracle(data_dir: str, rasters) -> "duckdb.DuckDBPyConnection":  # noqa: F821
    """DuckDB connection with the pixel grid ``px`` (cell coordinates
    x, y) and the given fixture rasters materialized from the
    dialect-neutral fixture SQL."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in ("lineitem", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    con.execute(
        "CREATE TABLE px AS "
        + with_fixtures(
            f"SELECT {PK}, key_col * 8 + cell_col AS x, key_row * 8 + cell_row AS y FROM cells",
            "cells",
        )
    )
    for r in rasters:
        con.execute(f"CREATE TABLE r_{r} AS " + with_fixtures(f"SELECT * FROM r_{r}", f"r_{r}"))
    return con


def grid_size(con) -> tuple[int, int]:
    w, h = con.execute("SELECT MAX(x) + 1, MAX(y) + 1 FROM px").fetchone()
    return int(w), int(h)


def expected(con, spec: dict):
    """The expected reply of a pool entry."""
    path, doc = request(spec)
    if path == "/multi":
        return expected_multi(con, spec, doc)
    return expected_run(con, spec, doc)


def expected_run(con, spec: dict, doc: dict):
    masks = [_mask_sql(r) for r in spec["rects"]]
    op, rasters = doc["operationType"], doc.get("rasters", [])
    if op == "RasterGroupedCount":
        return _grouped_count(con, rasters, masks[0])
    if op == "RasterGroupedCountMany":
        return [_grouped_count(con, rasters, m) for m in masks]
    if op == "RasterGroupedAverage":
        return _grouped_average(con, rasters, doc["targetRaster"], masks[0])
    if op == "RasterGroupedSum":
        return _grouped_sum(con, rasters, doc["targetRaster"], masks[0])
    if op == "RasterSummary":
        return _summary(con, rasters, masks[0])
    return _lines_join(con, rasters, spec["segments"], masks[0])


def expected_multi(con, spec: dict, doc: dict) -> dict:
    out: dict = {}
    for shape, rect in zip(doc["shapes"], spec["rects"]):
        mask = _mask_sql(rect)
        per_op = {}
        for op in doc["operations"]:
            label, rasters, target = op["label"], op["rasters"], op.get("targetRaster")
            if op["name"] == "RasterGroupedCount":
                res = _grouped_count(con, rasters, mask)
            elif op["name"] == "RasterLinesJoin":
                res = _lines_join(con, rasters, spec["segments"], mask)
            elif not rasters:
                res = _average(con, target, mask)
            else:
                res = _grouped_average(con, rasters, target, mask)
            if res:
                per_op[label] = res
        out[shape["id"]] = per_op
    return out


def canon(value):
    """Reply/expectation normal form: numbers as 12 significant digits
    (the precision ``tools/selfcheck.py`` compares at), containers
    recursively, so int/float spelling differences never count."""
    if isinstance(value, dict):
        return {str(k): canon(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [canon(v) for v in value]
    if isinstance(value, bool) or value is None:
        return value
    if isinstance(value, (int, float)):
        return f"{float(value):.12g}"
    return value


def reply_ok(status: int | None, body: bytes, expected) -> bool:
    """A reply is correct when it is a 200 whose JSON body equals the
    expected answer (already in ``canon`` form)."""
    if status != 200:
        return False
    try:
        return canon(json.loads(body)) == expected
    except ValueError:
        return False
