"""Property tests (hypothesis): the cache-blocked ray cast must equal
a literal transcription of the reference predicate on arbitrary rings
and points, ring assembly invariants must hold for arbitrary ring
soups, and the PIP join's SQL refine must equal the kernel.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from hypothesis import example, given, settings, strategies as st

from esri_dump_spark.kernels.rings import (close_ring, points_in_polygon,
                                           points_in_ring,
                                           ring_is_clockwise,
                                           rings_to_geojson)
from esri_dump_spark.operators.spatial_join import point_in_polygon_join

coord = st.floats(min_value=-180.0, max_value=180.0,
                  allow_nan=False, allow_infinity=False, width=64)


def _reference_raycast(points: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Direct transcription of lib/rings2geojson.ts:54-64."""
    px, py = points[:, 0], points[:, 1]
    inside = np.zeros(points.shape[0], dtype=bool)
    n = ring.shape[0]
    for i in range(n):
        j = i - 1 if i > 0 else n - 1
        xi, yi = ring[i]
        xj, yj = ring[j]
        yc = ((yi <= py) & (py < yj)) | ((yj <= py) & (py < yi))
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = px < (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= yc & xc
    return inside


@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=40),
       st.lists(st.tuples(coord, coord), min_size=1, max_size=300))
@settings(max_examples=60, deadline=None)
def test_raycast_matches_reference_transcription(ring_pts, query_pts):
    ring = close_ring(np.array(ring_pts, dtype=np.float64))
    pts = np.array(query_pts, dtype=np.float64)
    got = points_in_ring(pts, ring)
    exp = _reference_raycast(pts, ring)
    assert np.array_equal(got, exp)


@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=40),
       st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_blocked_path_equals_broadcast_path(ring_pts, seed):
    ring = close_ring(np.array(ring_pts, dtype=np.float64))
    rng = np.random.default_rng(seed)
    pts = rng.uniform(-180, 180, size=(70000, 2))
    # large call takes the cache-blocked path; chunked small calls take
    # the broadcast path — results must be identical
    big = points_in_ring(pts, ring)
    small = np.concatenate([points_in_ring(pts[i:i + 997], ring)
                            for i in range(0, len(pts), 997)])
    assert np.array_equal(big, small)


@given(st.lists(st.lists(st.tuples(coord, coord), min_size=3, max_size=12),
                min_size=1, max_size=6))
@settings(max_examples=60, deadline=None)
def test_assembly_invariants(raw_rings):
    geo = rings_to_geojson([np.array(r, dtype=np.float64)
                            for r in raw_rings])
    assert geo["type"] in ("Polygon", "MultiPolygon")
    polys = [geo["coordinates"]] if geo["type"] == "Polygon" \
        else geo["coordinates"]
    for poly in polys:
        for ring in poly:
            # every emitted ring is closed with >= 4 points
            assert len(ring) >= 4
            assert ring[0] == ring[-1]


# ---- polygons_intersect vs an exact analytic oracle ------------------

def _rect_ring(x0, y0, x1, y1):
    # CW in y-up, like ESRI shells
    return [[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40),
                          st.integers(1, 12), st.integers(1, 12)),
                min_size=1, max_size=3),
       st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40),
                          st.integers(1, 12), st.integers(1, 12)),
                min_size=1, max_size=3))
def test_polygons_intersect_matches_rect_oracle(rects_a, rects_b):
    """Two-sided exact oracle: for multipolygons made of axis-aligned
    rectangle components, intersection is plain interval overlap per
    component pair. The two sides draw coordinates from offset grids
    (+0.25 vs +0.5) so no edges ever coincide — open/closed boundary
    distinctions never engage and the analytic answer is unambiguous.
    This is the property that catches containment-probe bugs (e.g.
    probing only the first component) independently of the kernel.

    Same-side components are banded into disjoint x-ranges (idx * 60):
    under even-odd semantics two OVERLAPPING same-side components
    cancel into a hole, which a union-style oracle cannot model — the
    banding keeps even-odd == union while same-index cross-side pairs
    still exercise every relation, including containment of a NON-
    first component."""
    from esri_dump_spark.kernels.rings import polygons_intersect

    def build(rects, off):
        boxes, rings = [], []
        for idx, (gx, gy, w, h) in enumerate(rects):
            x0, y0 = gx + off + idx * 60, gy + off
            boxes.append((x0, y0, x0 + w, y0 + h))
            rings.append(_rect_ring(x0, y0, x0 + w, y0 + h))
        return boxes, rings

    boxes_a, rings_a = build(rects_a, 0.25)
    boxes_b, rings_b = build(rects_b, 0.5)
    expected = any(ax0 < bx1 and bx0 < ax1 and ay0 < by1 and by0 < ay1
                   for (ax0, ay0, ax1, ay1) in boxes_a
                   for (bx0, by0, bx1, by1) in boxes_b)
    assert polygons_intersect(rings_a, rings_b) == expected


# ---- SQL refine over labelled cover rows vs points_in_polygon -----------

# cells of 22.5 x 11.25 degrees: coordinates on the half-cell grid put
# vertices, edges and points on cell edges and centres; k = -1 and 33
# lie beyond the grid, where the cell expression clamps
_RES = 4
# whole ulps (int) or degrees (float): nudges inside and just past the
# 1e-9 degree cell padding
_NUDGES = (0, 1, 2, -1, -2, 1e-9, -1e-9, 3e-9, -3e-9)


def _nudge(v: float, d) -> float:
    if isinstance(d, float):
        return v + d
    for _ in range(abs(d)):
        v = np.nextafter(v, np.inf if d > 0 else -np.inf)
    return float(v)


def _axis(span: float):
    return st.builds(lambda k, d: _nudge(k * span / 32 - span / 2, d),
                     st.integers(-1, 33), st.sampled_from(_NUDGES))


lonlat = st.tuples(_axis(360.0), _axis(180.0))
rect_ring = st.builds(lambda a, b: [a, (b[0], a[1]), b, (a[0], b[1])],
                      lonlat, lonlat)             # two horizontal edges
free_ring = st.lists(lonlat, min_size=3, max_size=8)
# a second or third ring is a hole or another part (even-odd)
polygon = st.lists(st.one_of(rect_ring, free_ring), min_size=1, max_size=3)


def _sql_pairs(spark, pts: np.ndarray, polys: dict, res: int) -> set:
    """{(point index, poly_id)} from ``point_in_polygon_join``: the
    broadcast cover of ``build_polygon_dim`` rows and its SQL refine."""
    pdf = pd.DataFrame({"pid": np.arange(len(pts), dtype=np.int64),
                        "lon": pts[:, 0], "lat": pts[:, 1]})
    points = spark.createDataFrame(pdf, "pid long, lon double, lat double")
    polygons = pd.DataFrame({"poly_id": list(polys), "rings_json": [
        json.dumps([[list(map(float, v)) for v in r] for r in rings])
        for rings in polys.values()]})
    return {(r.pid, r.poly_id) for r in
            point_in_polygon_join(points, polygons, res=res).collect()}


def _masked_pairs(pts: np.ndarray, polys: dict) -> set:
    """The same pairs by ``points_in_polygon``, one call per polygon."""
    out = set()
    for pid, rings in polys.items():
        hit = points_in_polygon(pts, [close_ring(np.array(r, np.float64))
                                      for r in rings])
        out |= {(int(i), pid) for i in np.flatnonzero(hit)}
    return out


_ULP = float(np.spacing(22.5))


@given(st.dictionaries(st.integers(-2**40, 2**40), polygon,
                       min_size=1, max_size=3),
       st.lists(lonlat, max_size=30),
       st.lists(st.tuples(st.integers(0, 10**6), st.sampled_from(_NUDGES),
                          st.sampled_from(_NUDGES),
                          st.none() | _axis(180.0)), max_size=30))
@example({0: [[(22.5 - _ULP, -45.0), (112.5, -45.0), (112.5, 45.0),
               (22.5 - _ULP, 45.0)]]}, [], [(0, -1, 0, 5.625)])
@settings(max_examples=80, deadline=None)
def test_pip_refine_matches_masked_path(spark, polys, free, picks):
    """The join's SQL refine over interior / edge-list cover rows equals
    ``points_in_polygon`` bit for bit, for points on vertices, on
    (horizontal) edge midpoints, on padded cell edges and beyond the
    grid. A pick (i, dx, dy, lat) nudges vertex i, or puts its nudged
    lon at ``lat``: the example is a point one ulp left of an edge
    that sits one ulp left of a cell edge, which the cell expression
    maps into the cell right of both."""
    verts = [v for rings in polys.values() for r in rings for v in r]
    near = [(_nudge(verts[i % len(verts)][0], dx),
             _nudge(verts[i % len(verts)][1], dy) if lat is None else lat)
            for i, dx, dy, lat in picks]
    mids = [((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
            for rings in polys.values() for r in rings
            for a, b in zip(r, r[1:] + r[:1])]
    pts = np.array(free + near + mids, dtype=np.float64).reshape(-1, 2)
    assert _sql_pairs(spark, pts, polys, _RES) == _masked_pairs(pts, polys)


def test_pip_refine_empty_and_blocked_batches(spark):
    """An empty point set, and a candidate set long enough for the
    masked path's cache-blocked kernel, match points_in_polygon."""
    ring = [[0, 0], [0, 4], [4, 4], [4, 0]]
    hole = [[1, 1], [3, 1], [3, 3], [1, 3]]
    polys = {7: [ring, hole], -3: [ring]}
    empty = np.empty((0, 2), dtype=np.float64)
    assert _sql_pairs(spark, empty, polys, 8) == set()
    rng = np.random.default_rng(0)
    pts = rng.integers(-1, 10, size=(140_000, 2)) / 2
    got = _sql_pairs(spark, pts, polys, 8)
    assert got == _masked_pairs(pts, polys) and len(got) > 50_000
