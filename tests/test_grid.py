"""The one grid of kernels/cells.py, under both projections: polygon
covers are sound against the exact ray cast, and the SQL and NumPy
encoders agree across Spark, DuckDB and NumPy on edge coordinates."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
from hypothesis import example, given, settings, strategies as st

from esri_dump_spark.kernels import cells as C
from esri_dump_spark.kernels.rings import close_ring, points_in_polygon
from esri_dump_spark.operators.tiles import tile_id_sql_expr, tile_xy

PROJECTIONS = {"equirect": C.EQUIRECT, "mercator": C.MERCATOR}


@st.composite
def _polygon_case(draw):
    """A shell of 3-10 vertices around a centre (sometimes with the
    shell scaled down as a second ring), 0.01-10 degrees across and
    inside the Mercator range, plus a grid level that keeps its bbox
    to a few thousand squares, and a point-sampling seed."""
    cx = draw(st.floats(-170.0, 170.0))
    cy = draw(st.floats(-75.0, 75.0))
    span = 10.0 ** draw(st.floats(-2.0, 1.0))
    k = draw(st.integers(3, 10))
    ang = np.sort(draw(st.lists(st.floats(0.0, 2 * math.pi),
                                min_size=k, max_size=k)))
    rad = span * np.array(draw(st.lists(st.floats(0.2, 1.0),
                                        min_size=k, max_size=k)))
    rings = [np.column_stack([cx + s * rad * np.cos(ang),
                              cy + s * rad * np.sin(ang)])
             for s in ((1.0, 0.4) if draw(st.booleans()) else (1.0,))]
    level = min(draw(st.integers(0, 16)),
                int(math.log2(20.0 * 180.0 / span)))
    return rings, level, draw(st.integers(0, 2**32 - 1))


def _sample(rings, level, seed, n=600):
    """Points in the polygon's bbox, a third snapped onto square edges
    in lon and a third in lat (EQUIRECT edges); points jittered about
    the ring edges, where a cover made from projected vertices would
    miss the squares a lon/lat edge bows into under Mercator; and
    every vertex."""
    rng = np.random.default_rng(seed)
    allpts = np.vstack(rings)
    lo, hi = allpts.min(axis=0), allpts.max(axis=0)
    pts = rng.uniform(lo, hi, size=(n, 2))
    m = 1 << level
    pts[: n // 3, 0] = np.round((pts[: n // 3, 0] + 180.0) / 360.0 * m) \
        / m * 360.0 - 180.0
    pts[n // 3: 2 * n // 3, 1] = np.round(
        (pts[n // 3: 2 * n // 3, 1] + 90.0) / 180.0 * m) / m * 180.0 - 90.0
    a = np.vstack([close_ring(r)[:-1] for r in rings])
    b = np.vstack([close_ring(r)[1:] for r in rings])
    t = rng.uniform(0.0, 1.0, size=(20, len(a), 1))
    on_edges = (a + t * (b - a)).reshape(-1, 2)
    jitter = rng.normal(scale=1e-7 * (hi - lo).max(), size=on_edges.shape)
    return np.vstack([pts, on_edges + jitter, allpts])


@settings(max_examples=120, deadline=None)
@given(_polygon_case())
@example(([np.array([[0.0, 50.0], [10.0, 70.0], [0.0, 70.0]])], 10, 0))
@example(([np.array([[-180.0, -90.00000000000001], [-135.0, -90.00000000000001],
                     [-135.0, -95.625], [-180.0, -95.625]])], 4, 0))
def test_polygon_cover_sound_in_both_projections(case):
    """Every point the exact ray cast puts inside the polygon encodes
    (NumPy) to a square of the polygon's cover, for cells and tiles.
    The first explicit example's long edge bows about 9 tiles outward
    in Mercator space at z10; the second lies beyond the grid, where
    the encoders clamp its points into border squares that hold none
    of its vertices."""
    rings, level, seed = case
    closed = [close_ring(r) for r in rings]
    pts = _sample(rings, level, seed)
    inside = pts[points_in_polygon(pts, closed)]
    for name, proj in PROJECTIONS.items():
        cover = set(C.polygon_cover(rings, level, proj).tolist())
        ids = C.pack_xy(level, *C.grid_xy(inside[:, 0], inside[:, 1],
                                          level, proj))
        missing = set(ids.tolist()) - cover
        assert not missing, (name, level, sorted(missing)[:5])


def _edge_coordinates(levels):
    """Grid edges and their float neighbours: lon ±180, lat ±90, the
    Mercator clamp ±85.05112878 and the equator, and the exact cell
    and tile edges in lon and cell edges in lat at each level. (A tile
    edge in lat other than the equator is a transcendental latitude
    that no double hits, so it has no exact coordinate to test.)"""
    lon = [-180.0, 180.0, 0.0, -0.0, 179.99999999, -179.99999999]
    lat = [-90.0, 90.0, 0.0, -0.0, 85.05112878, -85.05112878,
           85.06, -85.06]
    for level in levels:
        n = 1 << level
        ks = np.unique([0, 1, n // 2, max(n - 1, 0), n, n // 3])
        lon += list(ks / n * 360.0 - 180.0)
        lat += list(ks / n * 180.0 - 90.0)
    out = []
    for v in (np.array(lon), np.array(lat)):
        v = np.concatenate([np.nextafter(v, -np.inf), v,
                            np.nextafter(v, np.inf)])
        out.append(np.unique(v))
    return out


def test_encoders_agree_across_engines_on_edges(spark):
    """``cell_sql_expr`` and ``tile_id_sql_expr`` give the same id in
    Spark SQL and DuckDB as ``latlng_to_cell`` and ``tile_xy`` in NumPy,
    on every (lon, lat) pair of edge coordinates at levels 0-29."""
    levels = (0, 1, 2, 8, 13, 20, 29)
    lons, lats = _edge_coordinates(levels)
    glon, glat = np.meshgrid(lons, lats, indexing="ij")
    pdf = pd.DataFrame({"lon": glon.ravel(), "lat": glat.ravel()})
    exprs = {}
    for z in levels:
        exprs[f"c{z}"] = C.cell_sql_expr("lon", "lat", z)
        exprs[f"t{z}"] = tile_id_sql_expr("lon", "lat", z)
    select = [f"{e} AS {c}" for c, e in exprs.items()]
    sp = spark.createDataFrame(pdf).selectExpr(*select).toPandas()
    con = duckdb.connect()
    con.register("pts", pdf)
    du = con.sql(f"SELECT {', '.join(select)} FROM pts").df()
    for z in levels:
        want = {f"c{z}": C.latlng_to_cell(pdf["lat"], pdf["lon"], z),
                f"t{z}": C.pack_xy(z, *tile_xy(pdf["lon"], pdf["lat"], z))}
        for col, np_ids in want.items():
            for engine, got in (("spark", sp[col]), ("duckdb", du[col])):
                bad = np.flatnonzero(got.to_numpy() != np_ids)
                assert bad.size == 0, (
                    col, engine, pdf.iloc[bad[:5]].values.tolist())
