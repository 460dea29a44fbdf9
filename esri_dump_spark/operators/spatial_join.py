"""Point-in-polygon spatial join (J2) — broadcast cell join + exact
ray-cast refine.

Physical plan (SURVEY.md §2.5, §4):

  polygons (small)  --driver--> rings parsed once into closed float64
                                arrays, feeding both the cover
                                (kernels.cells) and the refine
                                -> tiny (cell, poly_id[, poly_name])
  points (huge)     --JVM-----> cell id attached via a pure SQL
                                expression (whole-stage codegen)
  coarse:           points JOIN broadcast(cells) ON cell  (the one
                    broadcast; no shuffle of the big side)
  refine:           Arrow-batched pandas UDF: one stable sort of the
                    batch by poly_id, then the exact reference ray
                    cast (even-odd, half-open edge rule) once per
                    polygon run (``pip_refine``)

There is one point-in-polygon path: a Spark DataFrame of polygons is
collected to the driver once and covered there like a pandas one
(3,000 parcels at res 11 in about 0.3 s on a 4-vCPU host).

At 10^12 rows the coarse phase is the only data movement and it is
broadcast-shaped; the refine is embarrassingly parallel. Hot cells
don't hurt a broadcast join, but per-cell aggregations do (skew.py).

The refine predicate is exactly the reference's
``coordinatesContainPoint`` (lib/rings2geojson.ts:54-64) extended to
multi-ring even-odd, vectorized over the Arrow batch.
"""

from __future__ import annotations

import functools
import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import cells as C
from ..kernels.rings import close_ring, points_in_polygon, polygons_intersect

__all__ = ["attach_cell", "build_polygon_dim", "pip_refine",
           "point_in_polygon_join", "polygon_cover_df",
           "point_in_polygon_join_dist",
           "polygon_intersects_join", "DEFAULT_RES"]

DEFAULT_RES = 12

_COVER_SCHEMA = "cell long, poly_id long"


def attach_cell(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
                res: int = DEFAULT_RES, out: str = "cell") -> DataFrame:
    """Cell id as a JVM-side expression (codegen; identical results to
    kernels.cells.latlng_to_cell and to the DuckDB oracle SQL)."""
    return df.withColumn(out, F.expr(C.cell_sql_expr(lon_col, lat_col, res)))


def _parse_rings(rings_json: str) -> list[np.ndarray]:
    return [close_ring(np.asarray(r, dtype=np.float64))
            for r in json.loads(rings_json)]


def _cover(rings, keys: pd.DataFrame, level: int,
           projection: C.Projection = C.EQUIRECT) -> pd.DataFrame:
    """(cell, *keys) rows: every grid square covering a polygon, with
    that polygon's ``keys`` row (poly_id[, poly_name]); ``rings`` holds
    the polygons' ``_parse_rings`` arrays in ``keys`` order. The one
    cover loop, for cells and (``tiles.polygon_tile_index``) tiles.
    Pass the schema explicitly: inference fails on 0 rows."""
    cells = [C.polygon_cover(r, level, projection) for r in rings]
    rows = np.repeat(np.arange(len(keys)), [c.size for c in cells])
    out = keys.iloc[rows].reset_index(drop=True)
    out.insert(0, "cell", np.concatenate(cells or [np.array([], np.int64)]))
    return out


def build_polygon_dim(polygons: pd.DataFrame, res: int = DEFAULT_RES):
    """The static polygon dimension, built once per polygon set: (cover
    pdf of (cell, poly_id[, poly_name]), {poly_id: closed float64 ring
    arrays}). Each ``rings_json`` is parsed once, for both the cover
    and the refine. ``poly_id`` must be unique."""
    pids = polygons["poly_id"]
    dup = sorted(set(pids[pids.duplicated()].tolist()))
    if dup:
        raise ValueError(f"duplicate poly_id in polygon set: {dup}")
    rings = [_parse_rings(rj) for rj in polygons["rings_json"]]
    keys = polygons[[c for c in ("poly_id", "name") if c in polygons]]
    cover = _cover(rings, keys.rename(columns={"name": "poly_name"}), res)
    return cover, dict(zip(map(int, pids), rings))


def pip_refine(lon: np.ndarray, lat: np.ndarray, poly_id: np.ndarray,
               rings_by_pid: dict) -> np.ndarray:
    """bool[m]: is candidate i inside ``rings_by_pid[poly_id[i]]``. One
    stable sort groups the batch by polygon, ``points_in_polygon`` runs
    once per run and scatters back: bit-identical to masking the batch
    once per polygon, without the per-polygon scans."""
    pts = np.column_stack([lon, lat]).astype(np.float64, copy=False)
    out = np.zeros(len(pts), dtype=bool)
    order = np.argsort(poly_id, kind="stable")
    pids, starts = np.unique(poly_id[order], return_index=True)
    for pid, idx in zip(pids, np.split(order, starts[1:])):
        out[idx] = points_in_polygon(pts[idx], rings_by_pid[int(pid)])
    return out


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
    cover_pdf, rings_by_pid = dim
    schema = _COVER_SCHEMA + (", poly_name string"
                              if "poly_name" in cover_pdf else "")
    cell_index = points.sparkSession.createDataFrame(cover_pdf, schema)

    @pandas_udf("boolean")
    def refine(lon: pd.Series, lat: pd.Series,
               poly_id: pd.Series) -> pd.Series:
        return pd.Series(pip_refine(lon.to_numpy(), lat.to_numpy(),
                                    poly_id.to_numpy(), rings_by_pid))

    pts = attach_cell(points, lon_col, lat_col, res)
    matched = (pts.join(F.broadcast(cell_index), "cell", "inner")
               .filter(refine(F.col(lon_col), F.col(lat_col),
                              F.col("poly_id"))))
    if how == "inner":
        return matched.drop("cell")
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
