"""Point-in-polygon spatial join (J2) — broadcast cell join + exact
ray-cast refine, all in the JVM.

Physical plan (SURVEY.md §2.5, §4):

  polygons (small)  --driver--> rings parsed once into closed float64
                                arrays, covered (kernels.cells) and
                                labelled per cover cell:
                                -> tiny (cell, poly_id[, poly_name],
                                         interior, edges)
  points (huge)     --JVM-----> cell id attached via a pure SQL
                                expression (whole-stage codegen)
  coarse:           points JOIN broadcast(cells) ON cell  (the one
                    broadcast; no shuffle of the big side)
  refine:           one SQL filter, pushed into the join condition:
                      interior OR aggregate(edges, 0, (acc, e) ->
                                  acc + <crossing>) % 2 = 1

A cover cell is *interior* when no ring edge (shell or hole) touches
its rectangle padded by ``_PAD`` degrees and its centre is inside:
every point that maps to the cell is then inside by the reference
rule, and ``OR`` short-circuits before the edge sum. Any other cell
is a *boundary* cell and carries only the non-horizontal edges that
can add a crossing for a point in it (y-span meets the padded cell
rows, max x at or right of the padded x0). A cell with no touching
edge and its centre outside holds no inside point and leaves the
cover. ``<crossing>`` is ``geo_sql._crossing_sql``: the IEEE
operations of ``kernels.rings.points_in_ring`` in the same order, so
the join is bit-identical to ``points_in_polygon``.

There is one point-in-polygon path: a Spark DataFrame of polygons is
collected to the driver once and covered there like a pandas one
(3,000 parcels at res 11 in about 0.3 s on a 4-vCPU host).

At 10^12 rows the coarse phase is the only data movement and it is
broadcast-shaped; the refine is a per-row filter. Hot cells don't
hurt a broadcast join, but per-cell aggregations do (skew.py).
"""

from __future__ import annotations

import functools
import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.geo_sql import _edge_crossing_case_sql
from ..kernels import cells as C
from ..kernels.rings import close_ring, points_in_polygon, polygons_intersect

__all__ = ["attach_cell", "build_polygon_dim",
           "point_in_polygon_join", "polygon_cover_df",
           "point_in_polygon_join_dist",
           "polygon_intersects_join", "DEFAULT_RES"]

DEFAULT_RES = 12

_COVER_SCHEMA = "cell long, poly_id long"
_LABEL_SCHEMA = ("interior boolean, "
                 "edges array<struct<tx double, ty double, hx double, "
                 "hy double>>")
# degrees a cell is padded by before the edge test: far above the
# float error of the cell mapping and of the ray cast (~1e-13 degrees)
_PAD = 1e-9
_BLOCK = 1 << 18    # cell x edge pairs per label block


def attach_cell(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
                res: int = DEFAULT_RES, out: str = "cell") -> DataFrame:
    """Cell id as a JVM-side expression (codegen; identical results to
    kernels.cells.latlng_to_cell and to the DuckDB oracle SQL)."""
    return df.withColumn(out, F.expr(C.cell_sql_expr(lon_col, lat_col, res)))


def _parse_rings(rings_json: str) -> list[np.ndarray]:
    return [close_ring(np.asarray(r, dtype=np.float64))
            for r in json.loads(rings_json)]


def _cover_rows(cells: list, keys: pd.DataFrame) -> pd.DataFrame:
    """(cell, *keys) rows: polygon i's ``cells`` with its ``keys`` row."""
    rows = np.repeat(np.arange(len(keys)), [c.size for c in cells])
    out = keys.iloc[rows].reset_index(drop=True)
    out.insert(0, "cell", np.concatenate(cells or [np.array([], np.int64)]))
    return out


def _cover(rings, keys: pd.DataFrame, level: int,
           projection: C.Projection = C.EQUIRECT) -> pd.DataFrame:
    """(cell, *keys) rows: every grid square covering a polygon, with
    that polygon's ``keys`` row (poly_id[, poly_name]); ``rings`` holds
    the polygons' ``_parse_rings`` arrays in ``keys`` order. The one
    cover loop, for cells and (``tiles.polygon_tile_index``) tiles.
    Pass the schema explicitly: inference fails on 0 rows."""
    return _cover_rows([C.polygon_cover(r, level, projection)
                        for r in rings], keys)


def _segments_meet_rects(seg, x0, y0, x1, y1) -> np.ndarray:
    """bool[m]: segment m (rows tx, ty, hx, hy of ``seg``) meets the
    closed rectangle m, given its bounding box overlaps it. Exact up to
    rounding far below ``_PAD``: the rectangle's corners are not all
    strictly on one side of the segment's line."""
    tx, ty, hx, hy = seg
    dx, dy = hx - tx, hy - ty
    sides = np.stack([dx * (cy - ty) - dy * (cx - tx)
                      for cx, cy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1))])
    return (sides.min(axis=0) <= 0) & (sides.max(axis=0) >= 0)


def _label(rings: list[np.ndarray], cells: np.ndarray):
    """(cells, interior, edges) of one polygon's cover, labelled for the
    SQL refine. Interior: no ring segment meets the cell padded by
    ``_PAD`` and the centre is inside. Boundary: the edge list holds
    the non-horizontal (tx, ty, hx, hy) edges whose y-span meets the
    padded cell rows and whose max x is at least the padded x0. Cells
    on the grid border are boundary cells open to infinity outward
    (``cells.square_reach``). Untouched cells with the centre outside
    are dropped."""
    res, x, y = C.cell_to_res_xy(cells)
    x0, y0, x1, y1 = C.square_bounds(res, x, y)
    x0, y0, x1, y1 = x0 - _PAD, y0 - _PAD, x1 + _PAD, y1 + _PAD
    reach = C.square_reach(int(res[0]), x, y)
    seg = np.vstack([np.column_stack([r[:-1], r[1:]])
                     for r in rings if len(r) > 1]
                    or [np.empty((0, 4))]).T
    touched = np.isinf(reach).any(axis=0)
    lox, hix = np.minimum(seg[0], seg[2]), np.maximum(seg[0], seg[2])
    lo, hi = np.minimum(seg[1], seg[3]), np.maximum(seg[1], seg[3])
    step = max(1, _BLOCK // max(seg.shape[1], 1))
    for s in range(0, cells.size, step):
        b = slice(s, s + step)
        c, e = np.nonzero((lox <= x1[b, None]) & (hix >= x0[b, None])
                          & (lo <= y1[b, None]) & (hi >= y0[b, None]))
        c += s
        touched[c[_segments_meet_rects(seg[:, e], x0[c], y0[c], x1[c],
                                       y1[c])]] = True
    centre = np.column_stack([(x0 + x1) / 2, (y0 + y1) / 2])
    inside = np.zeros(cells.size, dtype=bool)
    inside[~touched] = points_in_polygon(centre[~touched], rings)
    keep = touched | inside

    bnd = np.flatnonzero(touched)
    bx0, by0, _, by1 = (v[bnd, None] + d for v, d in
                        zip(reach, (-_PAD, -_PAD, _PAD, _PAD)))
    slanted = seg[1] != seg[3]
    quads = seg[:, slanted].T
    lo, hi, right = lo[slanted], hi[slanted], hix[slanted]
    counts = np.zeros(cells.size, dtype=np.int64)
    edges = []
    for s in range(0, bnd.size, step):
        b = slice(s, s + step)
        rows, cols = np.nonzero((lo <= by1[b]) & (hi >= by0[b])
                                & (right >= bx0[b]))
        counts[bnd[b]] = np.bincount(rows, minlength=len(bx0[b]))
        edges += map(tuple, quads[cols].tolist())
    ends = np.cumsum(counts[keep])
    return (cells[keep], inside[keep],
            [edges[i:j] for i, j in zip(np.r_[0, ends[:-1]], ends)])


def build_polygon_dim(polygons: pd.DataFrame, res: int = DEFAULT_RES):
    """The static polygon dimension, built once per polygon set: (cover
    pdf of (cell, poly_id[, poly_name], interior, edges), {poly_id:
    closed float64 ring arrays}). Each ``rings_json`` is parsed once;
    every cover row is labelled for the SQL refine (``_label``).
    ``poly_id`` must be unique."""
    pids = polygons["poly_id"]
    dup = sorted(set(pids[pids.duplicated()].tolist()))
    if dup:
        raise ValueError(f"duplicate poly_id in polygon set: {dup}")
    rings = [_parse_rings(rj) for rj in polygons["rings_json"]]
    keys = polygons[[c for c in ("poly_id", "name") if c in polygons]]
    labelled = [_label(r, C.polygon_cover(r, res)) for r in rings]
    cover = _cover_rows([c for c, _, _ in labelled],
                        keys.rename(columns={"name": "poly_name"}))
    cover["interior"] = np.concatenate([i for _, i, _ in labelled]
                                       or [np.array([], bool)])
    cover["edges"] = [e for _, _, es in labelled for e in es]
    return cover, dict(zip(map(int, pids), rings))


def _refine_sql(lon_col: str, lat_col: str) -> str:
    """The refine as one SQL predicate over a joined cover row."""
    crossing = _edge_crossing_case_sql("e", f"CAST(`{lon_col}` AS DOUBLE)",
                                       f"CAST(`{lat_col}` AS DOUBLE)")
    return (f"interior OR aggregate(edges, 0, (acc, e) -> acc + {crossing})"
            " % 2 = 1")


def polygon_cover_df(polygons: DataFrame,
                     res: int = DEFAULT_RES) -> DataFrame:
    """Executor-side cell cover of a polygon DataFrame
    (poly_id long, rings_json string): the same exact cover loop as
    ``build_polygon_dim``, run per batch in ``mapInPandas``, emitting
    one (cell, poly_id) row per covered cell. Never materializes on the
    driver; the polygon x polygon join covers both of its sides this
    way and re-attaches geometry by id after pair dedup."""
    def run(batches):
        for b in batches:
            yield _cover(map(_parse_rings, b["rings_json"]),
                         b[["poly_id"]], res)

    return polygons.select("poly_id", "rings_json").mapInPandas(
        run, schema=_COVER_SCHEMA)


def _poly_intersect_refine():
    """Pair refine for the polygon x polygon join: exact
    ``kernels.rings.polygons_intersect`` over the two joined
    ``rings_json`` columns, Arrow-batched. Geometry parses are memoized
    per batch (each polygon typically appears in many candidate
    pairs)."""
    @pandas_udf("boolean")
    def refine(a: pd.Series, b: pd.Series) -> pd.Series:
        parsed = functools.lru_cache(maxsize=None)(_parse_rings)
        out = np.fromiter(
            (polygons_intersect(parsed(x), parsed(y))
             for x, y in zip(a, b)), dtype=bool, count=len(a))
        return pd.Series(out)

    return refine


def polygon_intersects_join(left: DataFrame, right: DataFrame,
                            res: int = DEFAULT_RES,
                            how: str = "inner") -> DataFrame:
    """Polygon x polygon intersects join (EXT J6) — both sides are
    DataFrames of (poly_id long, rings_json string).

    Plan: cell-cover BOTH sides executor-side (``polygon_cover_df``,
    the exact cover kernel in mapInPandas), equi-join the two slim
    (cell, id) cover tables, dedup candidate id pairs, then re-attach
    geometry BY ID for the surviving pairs and refine with the exact
    even-odd ``polygons_intersect`` predicate (edge crossing or
    either-vertex containment).

    Shuffle-width discipline: geometry never rides the candidate
    exchange — the cover join carries (cell, id) only, and rings join
    back output-bounded (one lookup per surviving pair), the same
    re-attach posture as the minhash band join. Candidate volume in a
    hot cell is |left-in-cell| x |right-in-cell|; pick ``res`` fine
    enough that covers separate the sets (AQE skew-join splits any
    residual hot cell).

    how='inner'      -> (id_a, id_b) distinct intersecting pairs
    how='left_semi'  -> left rows intersecting >= 1 right polygon
    how='left_anti'  -> left rows intersecting none
    """
    cov_l = polygon_cover_df(left, res).select(
        "cell", F.col("poly_id").alias("id_a"))
    cov_r = polygon_cover_df(right, res).select(
        "cell", F.col("poly_id").alias("id_b"))
    cand = (cov_l.join(cov_r, "cell")
            .select("id_a", "id_b").dropDuplicates())

    ga = left.select(F.col("poly_id").alias("id_a"),
                     F.col("rings_json").alias("_rings_a"))
    gb = right.select(F.col("poly_id").alias("id_b"),
                      F.col("rings_json").alias("_rings_b"))
    refine = _poly_intersect_refine()
    matched = (cand.join(ga, "id_a").join(gb, "id_b")
               .filter(refine(F.col("_rings_a"), F.col("_rings_b")))
               .select("id_a", "id_b"))
    if how == "inner":
        return matched
    if how in ("left_semi", "left_anti"):
        return left.join(matched.select(F.col("id_a").alias("poly_id"))
                         .distinct(), "poly_id", how)
    raise ValueError(f"unknown how={how!r}")


def point_in_polygon_join(points: DataFrame, polygons,
                          lon_col: str = "lon", lat_col: str = "lat",
                          res: int = DEFAULT_RES,
                          how: str = "inner", dim=None,
                          id_col: str | None = None) -> DataFrame:
    """Spatial join of a big point table against a small polygon table.

    how='inner'      -> point rows + poly_id (+ poly_name) per match
    how='left_semi'  -> point rows inside >= 1 polygon (deduped)
    how='left_anti'  -> point rows inside none

    ``polygons`` — (poly_id, rings_json[, name]) as a pandas frame or a
    Spark DataFrame; a DataFrame is collected to the driver once, after
    which both take the same path. ``poly_id`` must be unique. A
    polygon ``name`` comes back as ``poly_name`` after ``poly_id``, so
    it never clashes with a points column.

    ``id_col`` — the point-identity column the semi/anti variants key
    on; defaults to the first column of ``points``. Pass it when the
    id is not leftmost: keying on position breaks under column reorder.

    ``dim`` — a precomputed ``build_polygon_dim`` result, reused across
    queries; ``polygons`` is then not read.
    """
    if dim is None:
        if isinstance(polygons, DataFrame):
            cols = [c for c in ("poly_id", "rings_json", "name")
                    if c in polygons.columns]
            polygons = polygons.select(*cols).toPandas()
        dim = build_polygon_dim(polygons, res)
    cover_pdf = dim[0]
    schema = ", ".join([_COVER_SCHEMA] + (["poly_name string"]
                                          if "poly_name" in cover_pdf
                                          else []) + [_LABEL_SCHEMA])
    cell_index = points.sparkSession.createDataFrame(cover_pdf, schema)
    pts = attach_cell(points, lon_col, lat_col, res)
    matched = (pts.join(F.broadcast(cell_index), "cell", "inner")
               .filter(_refine_sql(lon_col, lat_col))
               .drop("cell", "interior", "edges"))
    if how == "inner":
        return matched
    key = id_col if id_col is not None else points.columns[0]
    if key not in points.columns:
        raise ValueError(f"id_col {key!r} not in points columns")
    if how == "left_semi":
        return matched.select(*points.columns).dropDuplicates([key])
    if how == "left_anti":
        return points.join(matched.select(key).distinct(), key, how)
    raise ValueError(f"unknown how={how!r}")


# former name of the second join path; perfbench's parcels layers still
# call it
point_in_polygon_join_dist = point_in_polygon_join
