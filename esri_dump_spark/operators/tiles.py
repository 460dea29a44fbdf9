"""Raster-tile <-> vector assignment (J4) — slippy xyz scheme.

Tile scheme parity: the reference's TileJSON emits ``scheme: 'xyz'``
(/root/reference/lib/tilejson.ts:28,199) with zoom rules from layer
LODs (:138-154). The engine makes that concrete: every image row gets
a deterministic (z, x, y) tile id from its lon/lat, polygons get their
tile *cover* at the same zoom, and the assignment is an equi-join on
the packed 64-bit tile id.

A tile is a square of the one grid in ``kernels/cells.py`` (layout,
encoders, cover) under its ``MERCATOR`` projection, zoom z = level z.
The tile id is pure SQL (ln/tan/cos/floor), identical in Spark and
DuckDB, so the operator is oracle-checkable. Hot tiles go through
operators.skew.salted_join when the join is shuffle-shaped; a
broadcast polygon side needs no salting.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import cells as C
from .spatial_join import (DEFAULT_RES, _COVER_SCHEMA, _cover, _parse_rings,
                           point_in_polygon_join)

__all__ = ["tile_id_sql_expr", "assign_tiles", "tile_xy",
           "polygon_tile_index", "raster_vector_join", "parent_tile_sql",
           "tile_pyramid_rollup", "pip_tile_rollup", "ROLLUP_Z"]

# zoom of the north-star rollup's tiles
ROLLUP_Z = 13


def tile_id_sql_expr(lon_col: str, lat_col: str, z: int) -> str:
    """Packed tile id of a point as a SQL expression."""
    return C.grid_sql_expr(f"CAST({lon_col} AS DOUBLE)", lat_col, z,
                           C.MERCATOR)


def tile_xy(lon, lat, z: int):
    """NumPy twin of tile_id_sql_expr: the (x, y) tile indices."""
    return C.grid_xy(lon, lat, z, C.MERCATOR)


def assign_tiles(df: DataFrame, z: int, lon_col: str = "lon",
                 lat_col: str = "lat", out: str = "tile_id") -> DataFrame:
    """JVM-side tile id assignment — stays in whole-stage codegen."""
    return df.withColumn(out, F.expr(tile_id_sql_expr(lon_col, lat_col, z)))


def pip_tile_rollup(points: DataFrame, polygons, res: int = DEFAULT_RES,
                    dim=None) -> DataFrame:
    """The north-star job: points -> point-in-polygon join (cell
    broadcast + exact ray-cast refine) -> z``ROLLUP_Z`` tile id ->
    per-(polygon, tile) count, as (poly_id, tile_id, n). ``polygons``
    and ``dim`` are as in ``point_in_polygon_join``."""
    joined = point_in_polygon_join(points, polygons, res=res, dim=dim)
    return (assign_tiles(joined, z=ROLLUP_Z)
            .groupBy("poly_id", "tile_id")
            .agg(F.count(F.lit(1)).alias("n")))


def parent_tile_sql(tile_col: str, z_child: int) -> str:
    """Packed tile id of the parent (zoom z_child - 1): unpack x/y,
    halve, repack — pure integer SQL (shiftright/&), codegen-friendly
    in Spark and identical arithmetic to the slippy pyramid."""
    mask = (1 << C.X_SHIFT) - 1
    x = f"(shiftright({tile_col}, {C.X_SHIFT}) & {mask})"
    y = f"(({tile_col}) & {mask})"
    return C.pack_sql(z_child - 1, f"shiftright({x}, 1)",
                      f"shiftright({y}, 1)")


def tile_pyramid_rollup(df: DataFrame, z_leaf: int, z_top: int,
                        tile_col: str = "tile_id",
                        weight_col: str | None = None) -> DataFrame:
    """Hierarchical tile-pyramid rollup: per-tile totals at every zoom
    from ``z_leaf`` up to ``z_top`` (inclusive), as one DataFrame of
    (tile_id, n).

    The 100 TB shape: the LEAF aggregation is the only input-sized
    shuffle; every coarser level aggregates the PREVIOUS level's
    output (4x smaller per step), so the whole pyramid costs ~4/3 of
    the leaf aggregation. The per-level frames share lineage, and
    Spark's exchange reuse collapses the union's common subplans —
    each level is computed once, not once per branch (plan shows
    ReusedExchange; asserted in tests). Parent derivation is pure
    integer SQL, so the rollup chain is whole-stage codegen end to
    end."""
    if z_top > z_leaf:
        raise ValueError(
            f"z_top ({z_top}) must be <= z_leaf ({z_leaf}): the pyramid "
            "rolls up from fine leaf tiles to coarse parents")
    agg = (F.count(F.lit(1)) if weight_col is None
           else F.sum(weight_col)).alias("n")
    level = df.groupBy(tile_col).agg(agg)
    out = level
    for z in range(z_leaf, z_top, -1):
        level = (level.groupBy(F.expr(parent_tile_sql(tile_col, z))
                       .alias(tile_col))
                 .agg(F.sum("n").alias("n")))
        out = out.unionByName(level)
    return out


def polygon_tile_index(spark: SparkSession, polygons: pd.DataFrame,
                       z: int) -> DataFrame:
    """(tile_id, poly_id) cover table (small, broadcast side): the
    shared cover loop at grid level z under the Mercator projection."""
    cover = _cover(map(_parse_rings, polygons["rings_json"]),
                   polygons[["poly_id"]], z, C.MERCATOR)
    return (spark.createDataFrame(cover, _COVER_SCHEMA)
            .withColumnRenamed("cell", "tile_id"))


def raster_vector_join(images: DataFrame, polygons: pd.DataFrame, z: int,
                       lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Assign each image row to the polygons whose tile cover contains
    its tile (coarse tile-level assignment; compose with
    point_in_polygon_join for exact geometry containment)."""
    spark = images.sparkSession
    idx = polygon_tile_index(spark, polygons, z)
    tiled = assign_tiles(images, z, lon_col, lat_col)
    return tiled.join(F.broadcast(idx), "tile_id", "inner")
