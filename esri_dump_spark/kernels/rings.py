"""ESRI ring geometry kernels (G1-G7 in SURVEY.md §2.3).

Semantics parity targets (checked by tests/test_rings.py):
  - winding test:      /root/reference/lib/rings2geojson.ts:11-23
  - ring closure:      /root/reference/lib/rings2geojson.ts:27-43
  - ray-cast PIP:      /root/reference/lib/rings2geojson.ts:54-64
    (half-open y-interval ``yi <= py < yj`` in either edge direction,
    strict ``<`` on the x-crossing — these exact inequalities are the
    spatial-join refine predicate and must not be "improved")
  - edge intersection: /root/reference/lib/rings2geojson.ts:70-85
  - ring assembly:     /root/reference/lib/rings2geojson.ts:126-184
    (holes popped LIFO, matched against shells from LAST to first,
    unmatched holes reversed and promoted to new shells, rings with
    fewer than 4 points after closing dropped)

All point math is NumPy-vectorized; the only Python-level loop is over
the (small) per-feature ring list.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "ring_is_clockwise",
    "close_ring",
    "points_in_ring",
    "point_in_ring",
    "edges_intersect",
    "rings_intersect",
    "ring_contains_ring",
    "polygons_intersect",
    "rings_to_geojson",
    "points_in_polygon",
    "rects_intersect_polygon",
]


def ring_is_clockwise(ring: np.ndarray) -> bool:
    """Shoelace-style orientation: sum((x2-x1)*(y2+y1)) >= 0 => clockwise.

    Clockwise signifies an outer ring in the ESRI rings model; counter-
    clockwise a hole.
    """
    ring = np.asarray(ring, dtype=np.float64)
    x, y = ring[:, 0], ring[:, 1]
    total = np.sum((x[1:] - x[:-1]) * (y[1:] + y[:-1]))
    return bool(total >= 0)


def close_ring(ring: np.ndarray) -> np.ndarray:
    """Append the first point if the ring is not closed (exact equality)."""
    ring = np.asarray(ring, dtype=np.float64)
    if ring.shape[0] == 0:
        return ring
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def points_in_ring(points: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast of many points against one ring.

    Returns bool[m] for points (m,2) vs ring (n,2). Inequality semantics
    are exactly the reference's: for edge (j -> i),
      crossing iff ((yi <= py < yj) or (yj <= py < yi))
                   and px < (xj-xi)*(py-yi)/(yj-yi) + xi

    Two physically different evaluations of the same predicate:
      * small m*n — one (m,n) broadcast (fewest NumPy dispatches);
      * large m*n — cache-blocked: loop edges, chunk points so every
        temporary stays L2-resident. The broadcast form materializes
        ~6 (m,n) float64 temporaries (67 MB at m=64k, n=128), which
        saturates DRAM bandwidth and destroys multi-core scaling; the
        blocked form is pure-compute and scales with cores.
    """
    points = np.atleast_2d(np.asarray(points, dtype=np.float64))
    ring = np.asarray(ring, dtype=np.float64)
    m, n = points.shape[0], ring.shape[0]
    if n == 0 or m == 0:
        return np.zeros(m, dtype=bool)

    if m * n <= (1 << 18):
        px = points[:, 0][:, None]  # (m,1)
        py = points[:, 1][:, None]
        xi, yi = ring[:, 0][None, :], ring[:, 1][None, :]  # (1,n) vertex i
        # vertex j is the predecessor of i (j starts at n-1, then j = i-1)
        xj = np.roll(ring[:, 0], 1)[None, :]
        yj = np.roll(ring[:, 1], 1)[None, :]
        y_cond = ((yi <= py) & (py < yj)) | ((yj <= py) & (py < yi))
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = (xj - xi) * (py - yi) / (yj - yi) + xi
        crossings = y_cond & (px < x_cross)
        return (crossings.sum(axis=1) % 2).astype(bool)

    xs, ys = np.ascontiguousarray(ring[:, 0]), np.ascontiguousarray(ring[:, 1])
    xjs, yjs = np.roll(xs, 1), np.roll(ys, 1)
    out = np.zeros(m, dtype=bool)
    CH = 8192  # 64 KB per float64 temp — L2-resident, under mmap threshold
    # every buffer preallocated: the inner loop performs no heap
    # allocation at all (mmap/munmap churn on >=128 KB temporaries
    # causes cross-core TLB shootdowns that kill scaling)
    t = np.empty(CH, dtype=np.float64)
    b1 = np.empty(CH, dtype=bool)
    b2 = np.empty(CH, dtype=bool)
    cross = np.empty(CH, dtype=np.int32)
    for s in range(0, m, CH):
        px = np.ascontiguousarray(points[s:s + CH, 0])
        py = np.ascontiguousarray(points[s:s + CH, 1])
        c = px.shape[0]
        tv, b1v, b2v, crossv = t[:c], b1[:c], b2[:c], cross[:c]
        crossv[:] = 0
        for k in range(n):
            xi, yi, xj, yj = xs[k], ys[k], xjs[k], yjs[k]
            if yi == yj:
                # y_cond is unsatisfiable (half-open interval is empty);
                # the reference's x_cross division never matters here
                continue
            if yj > yi:
                np.less_equal(yi, py, out=b1v)
                np.less(py, yj, out=b2v)
            else:
                np.less_equal(yj, py, out=b1v)
                np.less(py, yi, out=b2v)
            b1v &= b2v
            # keep the reference's evaluation order bit-exact:
            # ((xj-xi)*(py-yi)) / (yj-yi) + xi  (IEEE mult commutes)
            np.subtract(py, yi, out=tv)
            tv *= xj - xi
            tv /= yj - yi
            tv += xi
            np.less(px, tv, out=b2v)
            b1v &= b2v
            crossv += b1v
        np.bitwise_and(crossv, 1, out=crossv)
        out[s:s + CH] = crossv.astype(bool)
    return out


def point_in_ring(point, ring) -> bool:
    return bool(points_in_ring(np.asarray([point]), ring)[0])


def edges_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    """Do any segments of polyline ``a`` intersect any segments of ``b``?

    Parametric ua/ub in [0,1] test; parallel (u_b == 0) counts as no
    intersection, matching the reference exactly.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if a.shape[0] < 2 or b.shape[0] < 2:
        return False
    a1, a2 = a[:-1], a[1:]  # (n,2)
    b1, b2 = b[:-1], b[1:]  # (m,2)
    # broadcast (n,1) x (1,m)
    ax1, ay1 = a1[:, 0][:, None], a1[:, 1][:, None]
    ax2, ay2 = a2[:, 0][:, None], a2[:, 1][:, None]
    bx1, by1 = b1[:, 0][None, :], b1[:, 1][None, :]
    bx2, by2 = b2[:, 0][None, :], b2[:, 1][None, :]

    ua_t = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    ub_t = (ax2 - ax1) * (ay1 - by1) - (ay2 - ay1) * (ax1 - bx1)
    u_b = (by2 - by1) * (ax2 - ax1) - (bx2 - bx1) * (ay2 - ay1)

    nonpar = u_b != 0
    with np.errstate(divide="ignore", invalid="ignore"):
        ua = ua_t / u_b
        ub = ub_t / u_b
    hit = nonpar & (ua >= 0) & (ua <= 1) & (ub >= 0) & (ub <= 1)
    return bool(hit.any())


# alias with the reference's ring-vs-ring meaning (both are (n,2) rings)
rings_intersect = edges_intersect


def ring_contains_ring(outer: np.ndarray, inner: np.ndarray) -> bool:
    """hole containment: no edge intersection AND outer contains inner[0]."""
    outer = np.asarray(outer, dtype=np.float64)
    inner = np.asarray(inner, dtype=np.float64)
    if edges_intersect(outer, inner):
        return False
    return point_in_ring(inner[0], outer)


def polygons_intersect(rings_a, rings_b) -> bool:
    """Even-odd polygon x polygon intersects predicate, built from the
    reference-exact primitives (segment test
    /root/reference/lib/rings2geojson.ts:70-85, ray-cast :54-64):

      intersects(A, B) :=  any segment of any ring of A crosses any
                           segment of any ring of B
                        OR the first vertex of ANY ring of B inside A
                           (even-odd over ALL of A's rings)
                        OR the first vertex of ANY ring of A inside B

    With no edge crossings, every connected component of one polygon
    lies entirely within a single even-odd region of the other, so a
    per-ring vertex probe decides: a contained component's rings all
    sit inside, and probing EVERY ring (not just the first — a
    multipolygon's first component can be disjoint while a later one
    is contained) catches it. Ring vertices are boundary points of
    the polygon, so a probe landing strictly inside the other side is
    always a true intersection — per-ring probing adds no false
    positives. Holes fall out of the even-odd parity: a polygon
    sitting inside another's hole has no crossing and every probe
    comes back even -> disjoint, the correct answer. ``rings_a`` /
    ``rings_b`` are iterables of (n,2) ring coordinate arrays (ESRI
    rings; closure not required — rings are closed on a copy exactly
    like the assembly path).
    """
    ca = [close_ring(np.asarray(r, dtype=np.float64)) for r in rings_a]
    cb = [close_ring(np.asarray(r, dtype=np.float64)) for r in rings_b]
    if not ca or not cb:
        return False
    for ra in ca:
        for rb in cb:
            if edges_intersect(ra, rb):
                return True
    probes_b = np.asarray([rb[0] for rb in cb], dtype=np.float64)
    if bool(points_in_polygon(probes_b, ca).any()):
        return True
    probes_a = np.asarray([ra[0] for ra in ca], dtype=np.float64)
    return bool(points_in_polygon(probes_a, cb).any())


def rings_to_geojson(rings) -> dict:
    """Assemble ESRI rings into a GeoJSON Polygon / MultiPolygon dict.

    Exact ordering parity with the reference assembly:
      * iterate rings in input order; close each (on a copy); drop rings
        with < 4 points after closing
      * clockwise ring -> new shell (in encounter order)
      * counter-clockwise ring -> hole stack
      * while holes remain: pop the LAST hole; scan shells from LAST to
        first; first shell that contains it gets the hole appended;
        if no shell contains it, reverse the hole and promote it to a
        new shell (appended at the end)
      * one shell -> Polygon, else MultiPolygon

    Coordinates are returned as nested Python lists (JSON-ready).
    """
    outer_rings: list[list[np.ndarray]] = []
    holes: list[np.ndarray] = []

    for raw in rings:
        ring = close_ring(np.asarray(raw, dtype=np.float64))
        if ring.shape[0] < 4:
            continue
        if ring_is_clockwise(ring):
            outer_rings.append([ring])
        else:
            holes.append(ring)

    while holes:
        hole = holes.pop()
        matched = False
        for x in range(len(outer_rings) - 1, -1, -1):
            if ring_contains_ring(outer_rings[x][0], hole):
                outer_rings[x].append(hole)
                matched = True
                break
        if not matched:
            outer_rings.append([hole[::-1]])

    def _tolist(poly):
        return [r.tolist() for r in poly]

    if len(outer_rings) == 1:
        return {"type": "Polygon", "coordinates": _tolist(outer_rings[0])}
    return {
        "type": "MultiPolygon",
        "coordinates": [_tolist(p) for p in outer_rings],
    }


def points_in_polygon(points: np.ndarray, rings) -> np.ndarray:
    """Even-odd containment of many points in a multi-ring polygon.

    XOR of the per-ring ray-cast across every ring (shells and holes
    alike) — the standard even-odd fill rule, built from the exact
    reference ray-cast predicate. ``rings`` is an iterable of (n,2)
    arrays. Returns bool[m].
    """
    points = np.atleast_2d(np.asarray(points, dtype=np.float64))
    inside = np.zeros(points.shape[0], dtype=bool)
    for ring in rings:
        inside ^= points_in_ring(points, np.asarray(ring, dtype=np.float64))
    return inside


def rects_intersect_polygon(rings, x0, y0, x1, y1) -> np.ndarray:
    """Which axis-aligned rectangles [x0,x1]x[y0,y1] intersect the
    even-odd polygon ``rings``. The three-stage cover test behind
    ``cells.polygon_cover``, the one cover of cells and tiles:

      (a) a rect corner or center inside the polygon (even-odd);
      (b) a polygon vertex inside the rect;
      (c) a rect boundary crossing a ring edge.

    ``rings`` must be closed rings (first point == last) so stage (c)
    sees every edge. Returns bool[len(x0)].
    """
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    allpts = np.vstack(rings)
    keep = np.zeros(x0.shape[0], dtype=bool)
    for px, py in ((x0, y0), (x0, y1), (x1, y0), (x1, y1),
                   ((x0 + x1) / 2, (y0 + y1) / 2)):
        keep |= points_in_polygon(np.column_stack([px, py]), rings)
    vx, vy = allpts[:, 0], allpts[:, 1]
    for i in np.where(~keep)[0]:
        if np.any((vx >= x0[i]) & (vx <= x1[i])
                  & (vy >= y0[i]) & (vy <= y1[i])):
            keep[i] = True
            continue
        rect = np.array([[x0[i], y0[i]], [x1[i], y0[i]],
                         [x1[i], y1[i]], [x0[i], y1[i]],
                         [x0[i], y0[i]]], dtype=np.float64)
        for ring in rings:
            if edges_intersect(rect, ring):
                keep[i] = True
                break
    return keep
