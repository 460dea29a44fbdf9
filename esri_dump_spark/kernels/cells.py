"""The one packed 64-bit grid behind geo cells (F10 in SURVEY.md §2.7)
and slippy tiles (J4); no other module does grid arithmetic. (The
``h3`` wheel is absent, so the engine ships its own scheme with the
same API shape: encode / disk / boundary / polygon cover.)

    level r in [0, 29], n = 2^r
    x  = clamp(floor((lon + 180) / 360 * n), 0, n - 1)
    y  = clamp(floor(yfrac(lat) * n), 0, n - 1)
    id = (r << 58) | (x << 29) | y            (fits in a signed int64)

Cells and tiles differ only in ``yfrac``, which a ``Projection``
supplies in SQL and in NumPy:

    EQUIRECT   (lat + 90) / 180                       cells (J2, J3)
    MERCATOR   (1 - ln(tan φ + 1 / cos φ) / π) / 2    slippy tiles (J4)
               φ = lat clamped to ±85.05112878, so y grows southward

Either way a grid square is a lon/lat rectangle, so one polygon cover
serves both. The id is a plain arithmetic SQL expression (every cell
and tile operator has a DuckDB oracle) and trivially NumPy-vectorized;
equi-join keys need no space-filling locality. At 100 TB scale it is
the bucketing key, so the big spatial joins co-locate without a
shuffle.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

import numpy as np

from .rings import close_ring, rects_intersect_polygon

__all__ = [
    "MAX_RES", "LEVEL_SHIFT", "X_SHIFT", "Projection", "EQUIRECT",
    "MERCATOR", "grid_xy", "pack_xy", "clamp_sql", "grid_index_sql",
    "pack_sql", "grid_sql_expr", "latlng_to_cell", "cell_sql_expr",
    "cell_to_res_xy", "square_bounds", "square_reach", "cell_bounds",
    "cell_center", "grid_disk", "cover_bbox", "polygon_cover",
]

MAX_RES = 29
LEVEL_SHIFT = 58
X_SHIFT = 29
_MERC_LAT = 85.05112878


class Projection(NamedTuple):
    """lat -> y fraction in SQL (``y_sql``) and NumPy (``y_np``), and
    the NumPy inverse ``lat_np`` that bounds squares for covers."""
    y_sql: Callable[[str], str]
    y_np: Callable[[np.ndarray], np.ndarray]
    lat_np: Callable[[np.ndarray], np.ndarray]


def _merc_y_sql(lat: str) -> str:
    # the Web-Mercator latitude clamp keeps LN/TAN finite at the poles
    latc = f"LEAST(GREATEST(CAST({lat} AS DOUBLE), -{_MERC_LAT}), {_MERC_LAT})"
    return (f"(1.0 - LN(TAN(RADIANS({latc})) + 1.0 / COS(RADIANS({latc}))) "
            f"/ PI()) / 2.0")


def _merc_y_np(lat):
    rad = np.radians(np.clip(lat, -_MERC_LAT, _MERC_LAT))
    return (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0


EQUIRECT = Projection(lambda lat: f"({lat} + 90.0) / 180.0",
                      lambda lat: (lat + 90.0) / 180.0,
                      lambda f: f * 180.0 - 90.0)
MERCATOR = Projection(_merc_y_sql, _merc_y_np,
                      lambda f: np.degrees(np.arctan(np.sinh(
                          math.pi * (1.0 - 2.0 * f)))))


def grid_xy(lon, lat, level: int, projection: Projection = EQUIRECT):
    """Integer (x, y) of the grid square holding each point, clamped at
    the grid edge (vectorized) — the NumPy twin of ``grid_index_sql``."""
    n = 1 << level
    fx = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    fy = projection.y_np(np.asarray(lat, dtype=np.float64))
    return tuple(np.clip(np.floor(f * n), 0, n - 1).astype(np.int64)
                 for f in (fx, fy))


def pack_xy(level, x, y):
    """Packed id of grid square (x, y) at ``level`` (vectorized)."""
    return ((np.int64(level) << LEVEL_SHIFT)
            | (np.asarray(x, np.int64) << X_SHIFT) | np.asarray(y, np.int64))


def clamp_sql(expr: str, level: int) -> str:
    """Clamp an integer SQL expression into [0, 2^level - 1]."""
    return f"LEAST(GREATEST({expr}, 0), {(1 << level) - 1})"


def grid_index_sql(lon_expr: str, lat_expr: str, level: int,
                   projection: Projection = EQUIRECT) -> tuple[str, str]:
    """(x, y) SQL of the grid square holding a point: only floor and
    int64 arithmetic after the projection, so both engines agree."""
    n = 1 << level
    fx = f"({lon_expr} + 180.0) / 360.0"
    fy = projection.y_sql(lat_expr)
    return (clamp_sql(f"CAST(FLOOR({fx} * {n}) AS BIGINT)", level),
            clamp_sql(f"CAST(FLOOR({fy} * {n}) AS BIGINT)", level))


def pack_sql(level: int, x: str, y: str) -> str:
    return (f"(CAST({level} AS BIGINT) * {1 << LEVEL_SHIFT}"
            f" + {x} * {1 << X_SHIFT} + {y})")


def grid_sql_expr(lon_expr: str, lat_expr: str, level: int,
                  projection: Projection = EQUIRECT) -> str:
    """The one SQL encoder (ANSI: valid Spark SQL and DuckDB)."""
    return pack_sql(level, *grid_index_sql(lon_expr, lat_expr, level,
                                           projection))


def latlng_to_cell(lat, lng, res: int):
    """Vectorized encode. Accepts scalars or arrays; returns int64."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    cell = pack_xy(res, *grid_xy(lng, lat, res))
    return int(cell) if cell.ndim == 0 else cell


def cell_sql_expr(lng_expr: str, lat_expr: str, res: int) -> str:
    """SQL twin of ``latlng_to_cell`` (Spark SQL and DuckDB)."""
    return grid_sql_expr(lng_expr, lat_expr, res)


def cell_to_res_xy(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> LEVEL_SHIFT).astype(np.int64)
    cx = (cell >> X_SHIFT) & np.int64((1 << X_SHIFT) - 1)
    cy = cell & np.int64((1 << X_SHIFT) - 1)
    return res, cx, cy


def square_bounds(level, x, y, projection: Projection = EQUIRECT):
    """(lon_min, lat_min, lon_max, lat_max) of squares (vectorized)."""
    n = np.exp2(level)
    lat_a, lat_b = projection.lat_np(y / n), projection.lat_np((y + 1) / n)
    return (x / n * 360.0 - 180.0, np.minimum(lat_a, lat_b),
            (x + 1) / n * 360.0 - 180.0, np.maximum(lat_a, lat_b))


def cell_bounds(cell):
    """(lng_min, lat_min, lng_max, lat_max) of a cell (vectorized)."""
    return square_bounds(*cell_to_res_xy(cell))


def cell_center(cell):
    x0, y0, x1, y1 = cell_bounds(cell)
    return (x0 + x1) / 2.0, (y0 + y1) / 2.0


def grid_disk(cell: int, k: int = 1) -> list:
    """All cells within Chebyshev distance k (clamped at grid edges)."""
    res, cx, cy = (int(v) for v in cell_to_res_xy(np.int64(cell)))
    n = 1 << res
    return [int(pack_xy(res, x, y))
            for x in range(max(cx - k, 0), min(cx + k, n - 1) + 1)
            for y in range(max(cy - k, 0), min(cy + k, n - 1) + 1)]


def _squares(lo, hi):
    """Every grid square (x, y) from corner square lo to hi, x-major."""
    xs, ys = np.meshgrid(np.arange(lo[0], hi[0] + 1),
                         np.arange(lo[1], hi[1] + 1), indexing="ij")
    return xs.ravel(), ys.ravel()


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float,
               res: int) -> np.ndarray:
    """All cells whose rectangle intersects the envelope (int64 array)."""
    lo, hi = (grid_xy(x, y, res) for x, y in ((xmin, ymin), (xmax, ymax)))
    return pack_xy(res, *_squares(lo, hi))


def polygon_cover(rings, level: int,
                  projection: Projection = EQUIRECT) -> np.ndarray:
    """Ids of the grid squares intersecting a multi-ring polygon: the
    one cover for cells (J2) and tiles (J4). The squares of the
    vertices' bbox are tested as lon/lat rectangles against the
    polygon as given (testing projected vertices would be unsound
    under Mercator, where a lon/lat edge bows away from its chord).
    Squares holding a vertex are kept outright; the rest go through
    ``rings.rects_intersect_polygon``; a border square reaches out to
    the polygon's bbox, since points beyond the grid clamp into it. A
    superset is always fine: the ray-cast refine is exact, pruning only
    shrinks the broadcast."""
    rings = [close_ring(r) for r in rings]
    allpts = np.vstack(rings)
    v = np.column_stack(grid_xy(allpts[:, 0], allpts[:, 1], level,
                                projection))
    lo, hi = v.min(axis=0), v.max(axis=0)
    xs, ys = _squares(lo, hi)
    keep = np.zeros(xs.size, dtype=bool)
    keep[(v[:, 0] - lo[0]) * (hi[1] - lo[1] + 1) + v[:, 1] - lo[1]] = True
    rest = np.flatnonzero(~keep)
    if rest.size:
        keep[rest] = rects_intersect_polygon(
            rings, *square_reach(level, xs[rest], ys[rest], projection,
                                 allpts.min(axis=0), allpts.max(axis=0)))
    return pack_xy(level, xs[keep], ys[keep])


def square_reach(level: int, x, y, projection: Projection = EQUIRECT,
                 lo=(-np.inf, -np.inf), hi=(np.inf, np.inf)):
    """``square_bounds`` of squares (x, y), with the grid's border
    squares stretched outward to ``lo`` (lon, lat) and ``hi``: the
    encoders clamp every point beyond the grid into a border square."""
    last = (1 << level) - 1
    south = 0 if projection.lat_np(0.0) < projection.lat_np(1.0) else last
    x0, y0, x1, y1 = square_bounds(level, x, y, projection)
    return (np.where(x == 0, np.minimum(x0, lo[0]), x0),
            np.where(y == south, np.minimum(y0, lo[1]), y0),
            np.where(x == last, np.maximum(x1, hi[0]), x1),
            np.where(y == last - south, np.maximum(y1, hi[1]), y1))
