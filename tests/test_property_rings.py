"""Property tests (hypothesis): the cache-blocked ray cast must equal
a literal transcription of the reference predicate on arbitrary rings
and points, and ring assembly invariants must hold for arbitrary ring
soups.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from esri_dump_spark.kernels.rings import (close_ring, points_in_polygon,
                                           points_in_ring,
                                           ring_is_clockwise,
                                           rings_to_geojson)
from esri_dump_spark.operators.spatial_join import pip_refine

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


# ---- sorted PIP refine vs the per-polygon masked path -----------------

def _masked_refine(pts, poly_id, rings_by_pid):
    """The path ``pip_refine`` replaces: mask the batch once per
    polygon and call ``points_in_polygon`` on the masked rows."""
    out = np.zeros(len(poly_id), dtype=bool)
    for pid in np.unique(poly_id):
        mask = poly_id == pid
        out[mask] = points_in_polygon(pts[mask], rings_by_pid[int(pid)])
    return out


# integer vertices make horizontal edges common; points on the integer
# and half-integer grid land on vertices and on edges
grid_ring = st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                     min_size=3, max_size=9)
grid_polygon = st.lists(grid_ring, min_size=1, max_size=3)  # holes too


@given(st.dictionaries(st.integers(-2**40, 2**40), grid_polygon,
                       min_size=1, max_size=5),
       st.data())
@settings(max_examples=150, deadline=None)
def test_pip_refine_matches_masked_path(polygons, data):
    rings_by_pid = {pid: [close_ring(np.array(r, dtype=np.float64))
                          for r in rings]
                    for pid, rings in polygons.items()}
    # shuffled, interleaved ids; short lists give single-row runs and
    # the empty batch
    ids = data.draw(st.lists(st.sampled_from(sorted(polygons)),
                             max_size=60))
    half = st.integers(0, 16).map(lambda v: v / 2)
    pts = np.array(data.draw(st.lists(st.tuples(half, half),
                                      min_size=len(ids),
                                      max_size=len(ids))),
                   dtype=np.float64).reshape(-1, 2)
    poly_id = np.array(ids, dtype=np.int64)
    got = pip_refine(pts[:, 0], pts[:, 1], poly_id, rings_by_pid)
    exp = _masked_refine(pts, poly_id, rings_by_pid)
    assert got.dtype == bool and np.array_equal(got, exp)


def test_pip_refine_empty_and_blocked_batches():
    """The empty batch, and runs long enough for the kernel's
    cache-blocked evaluation, match the masked path."""
    ring = close_ring(np.array([[0, 0], [0, 4], [4, 4], [4, 0]], float))
    hole = close_ring(np.array([[1, 1], [3, 1], [3, 3], [1, 3]], float))
    rings_by_pid = {7: [ring, hole], -3: [ring]}
    empty = np.array([], dtype=np.float64)
    assert pip_refine(empty, empty, np.array([], np.int64),
                      rings_by_pid).shape == (0,)
    rng = np.random.default_rng(0)
    pts = rng.integers(-1, 10, size=(140_000, 2)) / 2
    poly_id = rng.choice([7, -3], size=len(pts))
    got = pip_refine(pts[:, 0], pts[:, 1], poly_id, rings_by_pid)
    assert np.array_equal(got, _masked_refine(pts, poly_id, rings_by_pid))
