"""Engine-external expected outputs, computed once per (workload, seed,
size) and cached as JSON under the benchmark's cache directory.

* The two joins: a DuckDB ray-cast twin of the per-(poly_id, tile_id)
  rollup. Polygons become the edge table of
  ``functions.geo_sql.polygon_edges_values_sql``; the even-odd parity
  is summed per (point, polygon) over every ring's edges, and the tile
  id is the same SQL expression Spark evaluates.
* ``extract``: the id set comes from DuckDB ``generate_series`` (every
  OID except the attribute-only rows). Geometry-type counts and the
  total GeoJSON length come from a Spark-free decode of every feature,
  which is first checked against the frozen golden rollup of the
  2000-feature reference layer.
"""

from __future__ import annotations

import json
import os

import duckdb

# frozen rollup of extract() over SyntheticFeatureServer(n_features=2000,
# max_record_count=500, geometry_type="esriGeometryPolygon"):
# n_rows, sum_id, n_polygon, n_multipolygon, sum_geojson_len
EXTRACT_GOLDEN = (1979, 1980504, 1979, 0, 641323)
BANDS = 1024   # latitude bands over the polygons' y-range (edge index)


def cached(cache_dir: str, key: str, compute):
    """The JSON value stored under ``key``, computing and storing it
    (write to a temp name, then rename) on first use."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def pip_tile_rollup(points_path: str, recs: list[dict], z: int,
                    id_col: str) -> list[list[int]]:
    """Sorted [poly_id, tile_id, n] rows: points inside each polygon by
    the even-odd ray cast, counted per z-level tile. Only an edge whose
    y-span holds the point's latitude can add a crossing, so each edge
    is listed under every latitude band it spans and a point is tested
    against the edges of its own band only; a point that meets no edge
    of a polygon has parity 0 and drops out with it."""
    from esri_dump_spark.functions.geo_sql import (
        _edge_crossing_case_sql, polygon_edges_values_sql)
    from esri_dump_spark.operators.tiles import tile_id_sql_expr

    edges, _ = polygon_edges_values_sql(recs)
    crossing = _edge_crossing_case_sql("e", "p.lon", "p.lat")
    tile = tile_id_sql_expr("lon", "lat", z)
    ys = [y for r in recs for ring in r["rings"] for _, y in ring]
    k = BANDS / (max(ys) - min(ys))
    sql = f"""
        WITH edges(poly_id, tx, ty, hx, hy) AS (VALUES
             {edges}),
        banded AS (SELECT *, unnest(range(
                              CAST(floor(least(ty, hy) * {k}) AS BIGINT),
                              CAST(floor(greatest(ty, hy) * {k}) AS BIGINT)
                              + 1)) AS band
                   FROM edges),
        inside AS (SELECT p.{id_col}, e.poly_id, p.lon, p.lat
                   FROM read_parquet('{points_path}/*.parquet') p
                   JOIN banded e
                     ON e.band = CAST(floor(p.lat * {k}) AS BIGINT)
                   GROUP BY p.{id_col}, e.poly_id, p.lon, p.lat
                   HAVING sum({crossing}) % 2 = 1)
        SELECT CAST(poly_id AS BIGINT), CAST({tile} AS BIGINT), count(*)
        FROM inside GROUP BY 1, 2 ORDER BY 1, 2"""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count()}")
        return [list(map(int, r)) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def decode_all(server, features):
    """Yields extract()'s row for each decodable feature, decoded by the
    engine's own per-feature decoder, in a plain single-thread loop."""
    from esri_dump_spark.operators.extract import _decode_feature
    from esri_dump_spark.plans.schema import field_to_schema, find_oid_field

    meta = server.metadata()
    oid = find_oid_field(meta["fields"])
    dates = {k for k, v in field_to_schema(meta)["properties"].items()
             if v.get("format") == "date-time"}
    for esri in features:
        row = _decode_feature(esri, meta["geometryType"], oid, dates)
        if row is not None:
            yield row


def _decoded_rollup(server) -> tuple[int, int, int, int, int]:
    """extract()'s rollup from a Spark-free decode of every feature."""
    n = sum_id = n_poly = n_multi = n_len = 0
    for row in decode_all(server, map(server.feature,
                                      range(server.n_features))):
        n += 1
        sum_id += row["id"]
        n_poly += row["geom_type"] == "Polygon"
        n_multi += row["geom_type"] == "MultiPolygon"
        n_len += len(row["geojson"])
    return n, sum_id, n_poly, n_multi, n_len


def extract_rollup(server) -> list[list[int]]:
    """[[n_rows, sum_id, n_polygon, n_multipolygon, sum_geojson_len]]."""
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer

    golden = SyntheticFeatureServer(n_features=2000, max_record_count=500,
                                    geometry_type="esriGeometryPolygon")
    if _decoded_rollup(golden) != EXTRACT_GOLDEN:
        raise RuntimeError("Spark-free decode no longer matches the frozen "
                           "extract golden rollup")
    con = duckdb.connect()
    try:
        n_rows, sum_id = con.execute(
            f"SELECT count(*), sum(i + 1) FROM generate_series(0, "
            f"{server.n_features - 1}) t(i) "
            f"WHERE i % {server.attribute_only_every} != 5").fetchone()
    finally:
        con.close()
    n, s, n_poly, n_multi, n_len = _decoded_rollup(server)
    if (n, s) != (n_rows, sum_id):
        raise RuntimeError("Spark-free decode disagrees with the OID set")
    return [[int(n_rows), int(sum_id), n_poly, n_multi, n_len]]
