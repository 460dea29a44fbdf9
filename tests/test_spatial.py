"""Spatial operator tests: PIP join vs NumPy brute force, kNN vs exact
crossJoin oracle, tile assignment vs NumPy twin, skew utilities."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from esri_dump_spark.kernels import cells as C
from esri_dump_spark.kernels.rings import points_in_polygon, close_ring
from esri_dump_spark.operators.spatial_join import (
    attach_cell, point_in_polygon_join)
from esri_dump_spark.operators.knn import (
    knn_join, knn_join_exact, radius_join, radius_join_exact,
    radius_res, safe_radius)
from esri_dump_spark.operators.tiles import (
    assign_tiles, tile_xy, tile_cover, raster_vector_join)
from esri_dump_spark.operators.skew import (
    hot_keys, salted_repartition, two_phase_agg, salted_join)
from esri_dump_spark.sources.fixtures import polygons_pdf, images_pdf
from esri_dump_spark.sources.feature_server import DEFAULT_EXTENT


@pytest.fixture(scope="module")
def points_pdf():
    return images_pdf(2000, with_geo=True)[["image_id", "lon", "lat"]]


def _brute_force_pip(points: pd.DataFrame, polys: pd.DataFrame) -> set:
    out = set()
    pts = points[["lon", "lat"]].to_numpy(np.float64)
    for rec in polys.itertuples(index=False):
        rings = [close_ring(np.asarray(r, np.float64))
                 for r in json.loads(rec.rings_json)]
        hit = points_in_polygon(pts, rings)
        for iid in points["image_id"].to_numpy()[hit]:
            out.add((iid, rec.poly_id))
    return out


def test_attach_cell_matches_kernel(spark, points_pdf):
    df = attach_cell(spark.createDataFrame(points_pdf), res=12)
    got = {r.image_id: r.cell for r in df.collect()}
    exp = C.latlng_to_cell(points_pdf["lat"].to_numpy(),
                           points_pdf["lon"].to_numpy(), 12)
    for iid, e in zip(points_pdf["image_id"], exp):
        assert got[iid] == int(e)


def _grid_polygons_pdf(n: int) -> pd.DataFrame:
    """n small squares tiling a lon/lat grid, deterministic."""
    rows = []
    side = int(np.ceil(np.sqrt(n)))
    # tile the fixture point extent (DEFAULT_EXTENT, ~8.4 x 8.6 deg)
    for i in range(n):
        gx, gy = i % side, i // side
        x0 = -97.0 + gx * (8.4 / side)
        y0 = 20.5 + gy * (8.6 / side)
        w = 0.7 * (8.4 / side)
        ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + w],
                [x0, y0 + w], [x0, y0]]
        rows.append({"poly_id": i, "name": f"sq{i}",
                     "rings_json": json.dumps([ring])})
    return pd.DataFrame(rows)


# (polygon set, cover resolution, minimum brute-force hits): the
# designed fixture polygons, and 10k grid squares for a polygon table
# well past a handful
_POLYGON_SETS = [(polygons_pdf, 10, 500),
                 (lambda: _grid_polygons_pdf(10_000), 8, 100)]


def _polygon_inputs(spark, polys: pd.DataFrame) -> dict:
    """The same polygon set in both forms point_in_polygon_join takes:
    a pandas frame and a (partitioned) Spark DataFrame."""
    return {"pandas": polys,
            "spark": spark.createDataFrame(polys).repartition(8)}


def test_pip_join_matches_brute_force(spark, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    for make, res, min_hits in _POLYGON_SETS:
        polys = make()
        exp = _brute_force_pip(points_pdf, polys)
        assert len(exp) > min_hits  # non-trivial coverage
        for kind, inp in _polygon_inputs(spark, polys).items():
            got = {(r.image_id, r.poly_id) for r in
                   point_in_polygon_join(pts, inp, res=res).collect()}
            assert got == exp, (kind, res)


def test_pip_join_dist_matches_driver_path(spark, points_pdf):
    """A partitioned Spark DataFrame of >= 10k polygons (cover built
    executor-side) must give exactly the result of the same polygons
    passed as a pandas frame (cover built on the driver)."""
    polys = _grid_polygons_pdf(10_000)
    pts = spark.createDataFrame(points_pdf)
    inputs = _polygon_inputs(spark, polys)
    got = {(r.image_id, r.poly_id) for r in point_in_polygon_join(
        pts, inputs["spark"], res=8).collect()}
    exp = {(r.image_id, r.poly_id) for r in point_in_polygon_join(
        pts, inputs["pandas"], res=8).collect()}
    assert got == exp and len(got) > 100
    n_in = point_in_polygon_join(pts, inputs["spark"], res=8,
                                 how="left_semi").count()
    n_out = point_in_polygon_join(pts, inputs["spark"], res=8,
                                  how="left_anti").count()
    assert n_in + n_out == len(points_pdf)


def test_pip_join_semi_anti_partition(spark, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    for make, res, _ in _POLYGON_SETS:
        polys = make()
        exp_ids = {iid for iid, _ in _brute_force_pip(points_pdf, polys)}
        for kind, inp in _polygon_inputs(spark, polys).items():
            n_in = point_in_polygon_join(pts, inp, res=res,
                                         how="left_semi").count()
            n_out = point_in_polygon_join(pts, inp, res=res,
                                          how="left_anti").count()
            assert n_in + n_out == len(points_pdf), (kind, res)
            assert n_in == len(exp_ids), (kind, res)


def test_pip_join_empty_polygon_set(spark, points_pdf):
    """Zero polygons, in either input form: left_anti keeps every point,
    inner and left_semi return nothing (the cover table has no rows to
    infer a schema from)."""
    cols = "poly_id long, rings_json string, name string"
    empty = spark.createDataFrame([], cols)
    pts = spark.createDataFrame(points_pdf)
    for kind, polys in {"pandas": empty.toPandas(), "spark": empty}.items():
        anti = point_in_polygon_join(pts, polys, how="left_anti")
        assert anti.count() == len(points_pdf), kind
        for how in ("inner", "left_semi"):
            assert point_in_polygon_join(
                pts, polys, how=how).count() == 0, (kind, how)


def test_pip_join_uses_broadcast(spark, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    for kind, inp in _polygon_inputs(spark, polygons_pdf()).items():
        plan = point_in_polygon_join(pts, inp, res=10)._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, (kind, plan[:2000])


def test_polygon_intersects_join_matches_kernel_brute_force(spark):
    """J6 distributed polygon x polygon join == exhaustive pairwise
    kernel evaluation on the designed fixture sets (crossings,
    containment both ways, in-a-hole disjointness), at two cover
    resolutions (coarser covers only grow candidates, never results).
    Semi/anti partition the left set."""
    from esri_dump_spark.kernels.rings import polygons_intersect
    from esri_dump_spark.operators.spatial_join import (
        polygon_intersects_join)
    from esri_dump_spark.sources.fixtures import (
        polygons_pdf, polygons_pdf_b, polygons_records,
        polygons_records_b)
    ra = {r["poly_id"]: r["rings"] for r in polygons_records()}
    rb = {r["poly_id"]: r["rings"] for r in polygons_records_b()}
    exp = {(ia, ib) for ia in ra for ib in rb
           if polygons_intersect(ra[ia], rb[ib])}
    la = spark.createDataFrame(polygons_pdf()[["poly_id", "rings_json"]])
    lb = spark.createDataFrame(polygons_pdf_b()[["poly_id", "rings_json"]])
    for res in (7, 9):
        got = {(r.id_a, r.id_b)
               for r in polygon_intersects_join(la, lb, res=res).collect()}
        assert got == exp and len(got) > 10
    n_semi = polygon_intersects_join(la, lb, res=9, how="left_semi").count()
    n_anti = polygon_intersects_join(la, lb, res=9, how="left_anti").count()
    assert n_semi == len({a for a, _ in exp})
    assert n_semi + n_anti == len(ra)


def test_polygon_intersects_join_grid_scale(spark):
    """Scale shape: two 900-polygon grids offset by half a cell — every
    interior offset square overlaps exactly 4 base squares, so the
    full result is known analytically: (2s-1)^2 pairs with exact ids.
    Covers build executor-side on both sides; nothing polygon-sized
    touches the driver."""
    import json as _json
    from esri_dump_spark.operators.spatial_join import (
        polygon_intersects_join)
    s = 30
    cell_x, cell_y = 8.4 / s, 8.6 / s

    def grid(shift_frac):
        rows = []
        for i in range(s * s):
            gx, gy = i % s, i // s
            x0 = -97.0 + (gx + shift_frac) * cell_x
            y0 = 20.5 + (gy + shift_frac) * cell_y
            ring = [[x0, y0], [x0 + 0.7 * cell_x, y0],
                    [x0 + 0.7 * cell_x, y0 + 0.7 * cell_y],
                    [x0, y0 + 0.7 * cell_y], [x0, y0]]
            rows.append({"poly_id": i, "rings_json": _json.dumps([ring])})
        return pd.DataFrame(rows)

    la = spark.createDataFrame(grid(0.0)).repartition(8)
    lb = spark.createDataFrame(grid(0.5)).repartition(8)
    got = {(r.id_a, r.id_b)
           for r in polygon_intersects_join(la, lb, res=12).collect()}
    exp = set()
    for by in range(s):
        for bx in range(s):
            for ay in (by, by + 1):
                for ax in (bx, bx + 1):
                    if ax < s and ay < s:
                        exp.add((ay * s + ax, by * s + bx))
    assert len(exp) == (2 * s - 1) ** 2
    assert got == exp


def test_polygon_intersects_join_plan_is_equi_join(spark):
    """Plan shape: the candidate stage is a cell EQUI-join over two
    executor-built covers — no cartesian/nested-loop join anywhere,
    and the refine runs on joined candidates (ArrowEvalPython), not
    on the full cross space."""
    from esri_dump_spark.operators.spatial_join import (
        polygon_intersects_join)
    from esri_dump_spark.sources.fixtures import polygons_pdf, polygons_pdf_b
    la = spark.createDataFrame(polygons_pdf()[["poly_id", "rings_json"]])
    lb = spark.createDataFrame(polygons_pdf_b()[["poly_id", "rings_json"]])
    plan = polygon_intersects_join(la, lb, res=9)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "MapInPandas" in plan, plan[:3000]
    assert "ArrowEvalPython" in plan, plan[:3000]


def test_knn_matches_exact_oracle(spark):
    pdf = images_pdf(1500, with_geo=True)[["image_id", "lon", "lat"]]
    pts = spark.createDataFrame(pdf).withColumnRenamed("image_id", "point_id")
    # queries: a 50-point deterministic subsample, renamed
    qpdf = pdf.iloc[::30].rename(columns={"image_id": "query_id"})
    q = spark.createDataFrame(qpdf)
    k = 5
    got = knn_join(q, pts, k, res=7, broadcast_points=True)
    exact = knn_join_exact(q, pts, k)
    g = {(r.query_id, r.rank): r.point_id for r in got.collect()}
    e = {(r.query_id, r.rank): r.point_id for r in exact.collect()}
    # grid-disk candidates must reproduce the exact top-k here (res
    # chosen so cell pitch >> typical 5-NN radius)
    assert g == e


def test_knn_escalates_on_sparse_cells(spark):
    """Correctness-bound enforcement: points scattered so far apart
    that at res=9 a 3x3 disk holds (at most) the query itself — a
    fixed-resolution join would silently return short or wrong top-k.
    The escalation loop must coarsen until the safe-radius condition
    holds and reproduce brute force exactly, tie-breaks included."""
    pdf = images_pdf(1500, with_geo=True)[["image_id", "lon", "lat"]]
    sparse = pdf.iloc[::40]  # ~38 points over the full extent
    pts = spark.createDataFrame(sparse).withColumnRenamed(
        "image_id", "point_id")
    q = spark.createDataFrame(
        sparse.iloc[:8].rename(columns={"image_id": "query_id"}))
    got = knn_join(q, pts, k=5, res=9, broadcast_points=True)
    exact = knn_join_exact(q, pts, k=5)
    g = {(r.query_id, r.rank): (r.point_id, round(r.dist, 9))
         for r in got.collect()}
    e = {(r.query_id, r.rank): (r.point_id, round(r.dist, 9))
         for r in exact.collect()}
    assert g == e
    assert len(g) == 8 * 5  # full k for every query, never short


def test_knn_density_derived_res(spark):
    """res=None derives the starting resolution from the points count
    and still matches brute force."""
    pdf = images_pdf(1200, with_geo=True)[["image_id", "lon", "lat"]]
    pts = spark.createDataFrame(pdf).withColumnRenamed(
        "image_id", "point_id")
    q = spark.createDataFrame(
        pdf.iloc[::100].rename(columns={"image_id": "query_id"}))
    got = knn_join(q, pts, k=3, res=None, broadcast_points=True)
    exact = knn_join_exact(q, pts, k=3)
    g = {(r.query_id, r.rank): r.point_id for r in got.collect()}
    e = {(r.query_id, r.rank): r.point_id for r in exact.collect()}
    assert g == e


def _pair_set(df):
    return {(r.query_id, r.point_id, round(r.dist, 9))
            for r in df.collect()}


def test_radius_join_matches_exact_oracle(spark):
    """J7b one-pass exact: derived res, every in-radius pair exactly
    once, distances bit-matching brute force."""
    pdf = images_pdf(1500, with_geo=True)[["image_id", "lon", "lat"]]
    pts = spark.createDataFrame(pdf).withColumnRenamed(
        "image_id", "point_id")
    q = spark.createDataFrame(
        pdf.iloc[::25].rename(columns={"image_id": "query_id"}))
    for radius in (0.7, 3.0, 11.0):
        got = radius_join(q, pts, radius, broadcast_points=True)
        exact = radius_join_exact(q, pts, radius)
        g, e = _pair_set(got), _pair_set(exact)
        assert g == e, f"radius={radius}"
        assert len(g) > 0  # non-vacuous fixture


def test_radius_join_explicit_fine_res_widens_disk(spark):
    """An explicitly finer res must widen the disk (width =
    ceil(radius / safe_radius)) and stay exact."""
    pdf = images_pdf(1000, with_geo=True)[["image_id", "lon", "lat"]]
    pts = spark.createDataFrame(pdf).withColumnRenamed(
        "image_id", "point_id")
    q = spark.createDataFrame(
        pdf.iloc[::50].rename(columns={"image_id": "query_id"}))
    radius = 4.0
    fine = radius_res(radius) + 2  # safe_radius(fine) < radius -> width 3+
    assert safe_radius(fine) < radius
    got = radius_join(q, pts, radius, res=fine, broadcast_points=True)
    assert _pair_set(got) == _pair_set(radius_join_exact(q, pts, radius))


def test_radius_join_no_duplicate_pairs_at_grid_edge(spark):
    """Points at the clamped grid boundary: each qualifying pair must
    appear exactly once (disk dedup + single point cell)."""
    pdf = pd.DataFrame({
        "query_id": np.arange(6, dtype=np.int64),
        "lon": [-179.99, -179.5, 179.99, 0.0, 179.2, -180.0],
        "lat": [-89.99, 89.99, 89.5, 0.0, -89.3, 90.0],
    })
    q = spark.createDataFrame(pdf)
    pts = spark.createDataFrame(pdf.rename(columns={"query_id": "point_id"}))
    got = radius_join(q, pts, 1.5, broadcast_points=True)
    rows = [(r.query_id, r.point_id) for r in got.collect()]
    assert len(rows) == len(set(rows))
    # each point matches itself at dist 0
    assert {(i, i) for i in range(6)} <= set(rows)
    assert _pair_set(got) == _pair_set(radius_join_exact(q, pts, 1.5))


def test_radius_join_rejects_bad_inputs(spark):
    pdf = images_pdf(50, with_geo=True)[["image_id", "lon", "lat"]]
    pts = spark.createDataFrame(pdf).withColumnRenamed(
        "image_id", "point_id")
    q = spark.createDataFrame(
        pdf.iloc[:5].rename(columns={"image_id": "query_id"}))
    with pytest.raises(ValueError, match="radius"):
        radius_join(q, pts, 0.0, broadcast_points=True)
    with pytest.raises(ValueError, match="width"):
        # res so fine the disk would need width > 8
        radius_join(q, pts, 10.0, res=radius_res(10.0) + 5,
                    broadcast_points=True)
    with pytest.raises(ValueError, match="res"):
        radius_join(q, pts, 1.0, res=99, broadcast_points=True)


def test_tile_assignment_matches_numpy(spark):
    pdf = images_pdf(500, with_geo=True)[["image_id", "lon", "lat"]]
    z = 10
    df = assign_tiles(spark.createDataFrame(pdf), z)
    got = {r.image_id: r.tile_id for r in df.collect()}
    xt, yt = tile_xy(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), z)
    exp = (np.int64(z) << 58) | (xt << 29) | yt
    for iid, e in zip(pdf["image_id"], exp):
        assert got[iid] == int(e)


def test_tile_cover_and_raster_vector_join(spark):
    polys = polygons_pdf()
    # cover of the 'holed' polygon includes the tile of an interior point
    holed = polys[polys["name"] == "holed"].iloc[0]
    rings = json.loads(holed.rings_json)
    z = 12
    cover = set(tile_cover(rings, z).tolist())
    cx = (DEFAULT_EXTENT[0] + DEFAULT_EXTENT[2]) / 2
    cy = (DEFAULT_EXTENT[1] + DEFAULT_EXTENT[3]) / 2
    xt, yt = tile_xy(cx - 0.9, cy - 0.9, z)  # inside shell
    assert int((np.int64(z) << 58) | (xt << 29) | yt) in cover

    pdf = images_pdf(800, with_geo=True)[["image_id", "lon", "lat"]]
    joined = raster_vector_join(spark.createDataFrame(pdf), polys, z=8)
    got = {(r.image_id, r.poly_id) for r in joined.collect()}
    # tile-level assignment is a superset of exact PIP matches
    exact = _brute_force_pip(pdf, polys)
    assert exact <= got


def test_polygon_stats_pure_sql(spark):
    """Known geometry: 3x2 CW shell with a 1x0.5 CCW hole -> signed
    area -(6 - 0.5); closure invariance (open ring == closed ring);
    degenerate 2-point ring contributes zero area; a CW sliver whose
    tiny negative area rounds to zero must land as +0.0, never -0.0
    (the BigDecimal-vs-IEEE signed-zero twin invariant). Plan must
    contain no Python nodes."""
    import json as _json
    import math
    from esri_dump_spark.functions.geometry import with_polygon_stats
    shell = [[0, 0], [0, 2], [3, 2], [3, 0], [0, 0]]          # CW, closed
    shell_open = [[0, 0], [0, 2], [3, 2], [3, 0]]             # unclosed
    hole = [[1, 1], [2, 1], [2, 1.5], [1, 1.5], [1, 1]]       # CCW
    degen = [[5, 5], [6, 6]]
    sliver = [[0, 0], [0, 1e-4], [1e-4, 0], [0, 0]]           # CW, -5e-9
    pdf = pd.DataFrame({
        "poly_id": [0, 1, 2, 3],
        "rings_json": [_json.dumps([shell, hole]),
                       _json.dumps([shell_open, hole]),
                       _json.dumps([degen]),
                       _json.dumps([sliver])]})
    out = with_polygon_stats(spark.createDataFrame(pdf))
    rows = {r.poly_id: r for r in out.collect()}
    assert rows[0].n_rings == 2 and rows[0].n_vertices == 10
    assert rows[0].area_r == -5.5
    assert rows[1].area_r == -5.5          # closure-invariant
    assert rows[2].area_r == 0.0           # degenerate
    assert rows[3].area_r == 0.0           # sliver rounds to zero...
    assert math.copysign(1.0, rows[3].area_r) == 1.0   # ...as +0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not any(k in plan for k in ("ArrowEvalPython", "BatchEvalPython",
                                       "MapInPandas")), plan[:2000]


def test_tile_pyramid_rollup_invariants(spark):
    """Every pyramid level must conserve the leaf total, parent ids
    must match the NumPy tile math one zoom up, and the union's shared
    lineage must collapse to ReusedExchange (each level computed once,
    not once per branch)."""
    import numpy as np
    from esri_dump_spark.operators.tiles import (assign_tiles,
                                                 tile_pyramid_rollup,
                                                 tile_xy, _pack)
    n = 4000
    pts = spark.range(n).selectExpr(
        "cast(id as double) / 50.0 - 40.0 AS lon",
        "cast((id * 7) % 3000 as double) / 50.0 - 30.0 AS lat")
    leaf = assign_tiles(pts, z=6)
    out = tile_pyramid_rollup(leaf, z_leaf=6, z_top=3)
    rows = out.collect()
    by_z = {}
    for r in rows:
        by_z.setdefault(r.tile_id >> 58, []).append(r)
    assert sorted(by_z) == [3, 4, 5, 6]
    for z, rs in by_z.items():
        assert sum(r.n for r in rs) == n, f"level {z} lost rows"
    # independent NumPy recomputation of a coarse level
    lon = np.arange(n) / 50.0 - 40.0
    lat = (np.arange(n) * 7 % 3000) / 50.0 - 30.0
    xt, yt = tile_xy(lon, lat, 4)
    ids, counts = np.unique(_pack(4, xt, yt), return_counts=True)
    got4 = {r.tile_id: r.n for r in by_z[4]}
    assert got4 == dict(zip(ids.tolist(), counts.tolist()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:3000]


def test_hot_keys_and_two_phase_agg(spark):
    pdf = images_pdf(3000, with_geo=True)[["image_id", "lon", "lat"]]
    pts = attach_cell(spark.createDataFrame(pdf), res=10).cache()
    hot = hot_keys(pts, "cell", threshold_frac=0.05, min_count=10)
    assert len(hot) >= 1  # the 20% hot box lands in one res-10 cell
    agg = two_phase_agg(pts, "cell", {"n": "count(*)", "mx": "max(lat)"},
                        hot=hot).collect()
    plain = {(r.cell): (r["count"], r["mx"]) for r in
             pts.groupBy("cell").agg(
                 __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("count"),
                 __import__("pyspark.sql.functions", fromlist=["F"]).max("lat").alias("mx"),
             ).collect()}
    for r in agg:
        assert plain[r.cell] == (r.n, r.mx)
    # scale path: a 0.5 Bernoulli sample must still flag the hot cell
    sampled = hot_keys(pts, "cell", threshold_frac=0.05, min_count=10,
                       sample_frac=0.5)
    assert set(hot) <= set(sampled) or len(sampled) >= 1
    assert any(h in sampled for h in hot)
    pts.unpersist()


def test_salted_repartition_spreads_hot_key(spark):
    pdf = pd.DataFrame({"k": [1] * 900 + list(range(2, 102)),
                        "v": range(1000)})
    df = spark.createDataFrame(pdf)
    out = salted_repartition(df, "k", nsalt=8, hot=[1], keep_salt=True)
    assert out.count() == 1000
    import pyspark.sql.functions as F
    # hot key rows carry multiple salt values (the partition spread at
    # scale; at test scale AQE re-coalesces the tiny partitions)
    salts = out.filter(F.col("k") == 1).select("_salt").distinct().count()
    assert salts > 1
    # cold keys keep salt 0
    assert out.filter((F.col("k") != 1) & (F.col("_salt") != 0)).count() == 0
    # default output is pass-through: no helper column leaks
    assert salted_repartition(df, "k", nsalt=8, hot=[1]).columns == ["k", "v"]


def test_salted_join_matches_plain_join(spark):
    big_pdf = pd.DataFrame({"k": [1] * 500 + [2] * 30 + [3] * 30,
                            "v": range(560)})
    small_pdf = pd.DataFrame({"k": [1, 2, 3, 4], "tag": ["a", "b", "c", "d"]})
    big, small = spark.createDataFrame(big_pdf), spark.createDataFrame(small_pdf)
    got = {(r.k, r.v, r.tag) for r in
           salted_join(big, small, "k", nsalt=4, hot=[1]).collect()}
    exp = {(r.k, r.v, r.tag) for r in big.join(small, "k").collect()}
    assert got == exp


def test_salted_join_left_nulls_and_outer_rejection(spark):
    import pytest
    big_pdf = pd.DataFrame({"k": [1.0] * 50 + [2.0, None],
                            "v": range(52)})
    small_pdf = pd.DataFrame({"k": [1.0, None], "tag": ["a", "x"]})
    big, small = spark.createDataFrame(big_pdf), spark.createDataFrame(small_pdf)
    for how in ("left", "inner", "left_semi", "left_anti"):
        got = {tuple(r) for r in
               salted_join(big, small, "k", nsalt=4, hot=[1.0],
                           how=how).collect()}
        exp = {tuple(r) for r in big.join(small, "k", how).collect()}
        assert got == exp, how
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(big, small, "k", how=how, hot=[1.0])


def test_two_phase_agg_rejects_distinct(spark):
    import pytest
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "x": [1, 1, 2]}))
    with pytest.raises(ValueError, match="distinct"):
        two_phase_agg(df, "k", {"d": "count(distinct x)"}, hot=[1])


def test_salted_ops_randomized_equivalence(spark):
    """Seeded randomized sweep: salted_join and two_phase_agg must equal
    their plain Spark equivalents across hot-set choices (empty, one,
    many, non-existent key), join types, nsalt values, and null keys."""
    import pyspark.sql.functions as F
    rng = np.random.default_rng(1234)
    keys = rng.integers(0, 6, 400).astype(float)
    keys[rng.random(400) < 0.05] = np.nan  # ~5% null keys
    big = spark.createDataFrame(
        pd.DataFrame({"k": keys, "v": np.arange(400)})).cache()
    small = spark.createDataFrame(
        pd.DataFrame({"k": [0.0, 1.0, 2.0, 3.0, None], "tag": list("abcdx")})).cache()
    hot_sets = [[], [0.0], [0.0, 1.0, 2.0], [99.0]]
    for hot in hot_sets:
        for how in ("inner", "left", "left_anti"):
            for nsalt in (2, 7):
                got = sorted((tuple(r) for r in salted_join(
                    big, small, "k", nsalt=nsalt, hot=hot, how=how)
                    .collect()), key=str)
                exp = sorted((tuple(r) for r in
                              big.join(small, "k", how).collect()), key=str)
                assert got == exp, (hot, how, nsalt)
        agg = {(r.k,): (r.n, r.s, r.mn) for r in two_phase_agg(
            big, "k", {"n": "count(*)", "s": "sum(v)", "mn": "min(v)"},
            hot=hot).collect()}
        plain = {(r.k,): (r.n, r.s, r.mn) for r in
                 big.groupBy("k").agg(
                     F.count("*").alias("n"), F.sum("v").alias("s"),
                     F.min("v").alias("mn")).collect()}
        assert agg == plain, hot
    big.unpersist(); small.unpersist()


def test_pip_join_points_with_name_column(spark, points_pdf):
    """A points table that itself has a `name` column must not become
    ambiguous with the polygon dimension's name (attached as
    poly_name), whichever form the polygons come in."""
    polys = polygons_pdf()
    pts_named = spark.createDataFrame(
        points_pdf.assign(name=points_pdf["image_id"]))
    exp = _brute_force_pip(points_pdf, polys)
    for kind, inp in _polygon_inputs(spark, polys).items():
        inner = point_in_polygon_join(pts_named, inp, res=9)
        assert inner.columns.count("poly_name") == 1, kind
        assert inner.columns.count("name") == 1, kind  # the points' own
        semi = point_in_polygon_join(pts_named, inp, res=9,
                                     how="left_semi", id_col="image_id")
        assert set(semi.columns) == set(pts_named.columns), kind
        got = {(r.image_id, r.poly_id) for r in inner.collect()}
        assert got == exp, kind


def test_two_phase_agg_allows_distinct_prefixed_column(spark):
    """Only the DISTINCT keyword is rejected — a column literally named
    distinct_id is a plain decomposable count."""
    df = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 1, 2], "distinct_id": [10, 11, 12]}))
    got = {r.k: r.n for r in two_phase_agg(
        df, "k", {"n": "count(distinct_id)"}, hot=[1]).collect()}
    assert got == {1: 2, 2: 1}
