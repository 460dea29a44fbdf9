"""SQL twins of the geometry predicates — oracle-grade ANSI SQL.

These generate plain SQL expressions (valid in both Spark SQL and
DuckDB) for the engine's core spatial predicates so that every spatial
operator has an independent, engine-external oracle:

  * ``derived_lonlat_sql``  — deterministic synthetic coordinates from
    an integer key (exact integer mod arithmetic, then one division:
    bit-identical across engines)
  * ``_crossing_sql``       — the reference's ray-cast crossing
    (/root/reference/lib/rings2geojson.ts:54-64) for one edge, in the
    IEEE operations of the NumPy kernel: the one spelling behind the
    PIP join's refine filter, ``raycast_sql`` and the edge-table twins
  * ``raycast_sql``         — the even-odd ray cast UNROLLED over a
    fixed ring's edges as a sum of crossing terms
"""

from __future__ import annotations

__all__ = ["derived_lonlat_sql", "raycast_sql",
           "polygon_edges_values_sql", "polygon_intersects_oracle_sql"]


def derived_lonlat_sql(key: str, lon_mod: int = 36000, lat_mod: int = 18000,
                       lon_off: float = -180.0, lat_off: float = -90.0):
    """(lon_sql, lat_sql): pseudo-uniform 0.01-degree-grid coordinates
    from a bigint key. Defaults span the globe; pass smaller mods and
    offsets to target a window."""
    # explicit CAST AS DOUBLE: Spark parses bare decimal literals as
    # DECIMAL type (DuckDB as DOUBLE); the cast pins both engines to
    # IEEE double arithmetic
    lon = f"(CAST((({key}) * 7919) % {lon_mod} AS DOUBLE) / 100.0 + ({lon_off}))"
    lat = f"(CAST((({key}) * 104729) % {lat_mod} AS DOUBLE) / 100.0 + ({lat_off}))"
    return lon, lat


def raycast_sql(ring: list[list[float]], px: str, py: str) -> str:
    """Boolean SQL: point (px, py) inside ``ring`` by the reference's
    exact even-odd crossing rule. ``ring`` must be closed (first ==
    last); edges are (j -> i) pairs like the reference loop, one
    ``_crossing_sql`` term each, with the vertices as DOUBLE literals;
    horizontal edges never cross and are skipped."""
    assert ring[0] == ring[-1], "ring must be closed"
    terms = []
    n = len(ring) - 1  # unique vertices
    for i in range(n):
        (xj, yj), (xi, yi) = ring[(i - 1) % n], ring[i]
        if yi == yj:
            continue  # horizontal edge never satisfies the y-interval
        terms.append(_crossing_sql(
            *(f"CAST({float(v)!r} AS DOUBLE)" for v in (xj, yj, xi, yi)),
            px, py))
    if not terms:
        return "FALSE"
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def polygon_edges_values_sql(recs: list[dict]):
    """(edges_values, probes_values): SQL VALUES row lists for a fixture
    polygon set (``polygons_records``-shaped dicts).

    ``edges``: one row per segment of each CLOSED ring — (id, tx, ty,
    hx, hy), tail -> head in vertex order, exactly the segment set the
    NumPy kernels iterate (``edges_intersect`` consumes tail->head
    pairs; the ray-cast's predecessor edge (j -> i) is the same segment
    with head as the base vertex, so ONE table serves both predicates
    bit-identically). ``probes``: the first vertex of EVERY ring —
    (id, ring_idx, x, y) — mirroring ``polygons_intersect``'s per-ring
    containment probes (a multipolygon's first component can be
    disjoint while a later one is contained)."""
    edges, probes = [], []
    for rec in recs:
        pid = int(rec["poly_id"])
        for ri, ring in enumerate(rec["rings"]):
            closed = list(ring) if ring[0] == ring[-1] \
                else list(ring) + [ring[0]]
            for k in range(len(closed) - 1):
                (tx, ty), (hx, hy) = closed[k], closed[k + 1]
                edges.append(
                    f"({pid}, CAST({tx!r} AS DOUBLE), CAST({ty!r} AS DOUBLE),"
                    f" CAST({hx!r} AS DOUBLE), CAST({hy!r} AS DOUBLE))")
            v0 = ring[0]
            probes.append(f"({pid}, {ri}, CAST({v0[0]!r} AS DOUBLE),"
                          f" CAST({v0[1]!r} AS DOUBLE))")
    return ",\n             ".join(edges), ",\n             ".join(probes)


def _segments_intersect_sql(a: str, b: str) -> str:
    """Parametric segment-intersection predicate between edge-table
    aliases ``a`` and ``b`` (columns tx, ty, hx, hy) — the exact
    formula of ``kernels.rings.edges_intersect``: parallel (u_b = 0)
    counts as no intersection, endpoints inclusive."""
    ua_t = (f"(({b}.hx - {b}.tx) * ({a}.ty - {b}.ty)"
            f" - ({b}.hy - {b}.ty) * ({a}.tx - {b}.tx))")
    ub_t = (f"(({a}.hx - {a}.tx) * ({a}.ty - {b}.ty)"
            f" - ({a}.hy - {a}.ty) * ({a}.tx - {b}.tx))")
    u_b = (f"(({b}.hy - {b}.ty) * ({a}.hx - {a}.tx)"
           f" - ({b}.hx - {b}.tx) * ({a}.hy - {a}.ty))")
    return (f"({u_b} != 0 AND {ua_t} / {u_b} >= 0 AND {ua_t} / {u_b} <= 1"
            f" AND {ub_t} / {u_b} >= 0 AND {ub_t} / {u_b} <= 1)")


def _crossing_sql(tx: str, ty: str, hx: str, hy: str, px: str,
                  py: str) -> str:
    """The one SQL spelling of a ray-cast crossing: 1 if the edge
    tail (tx, ty) -> head (hx, hy) crosses the ray from probe point
    (px, py), else 0. The reference's half-open rule with the head as
    base vertex, in the IEEE operations and order of
    ``points_in_ring``, so Spark, DuckDB and NumPy agree bit for bit.
    Every argument is a SQL expression."""
    return (f"CASE WHEN {ty} != {hy}"
            f" AND ((({hy} <= {py}) AND ({py} < {ty}))"
            f"  OR (({ty} <= {py}) AND ({py} < {hy})))"
            f" AND ({px}) < ({tx} - {hx}) * (({py}) - {hy})"
            f" / ({ty} - {hy}) + {hx}"
            f" THEN 1 ELSE 0 END")


def _edge_crossing_case_sql(e: str, px: str, py: str) -> str:
    """``_crossing_sql`` for the edge row or struct ``e`` (fields tx,
    ty, hx, hy)."""
    return _crossing_sql(f"{e}.tx", f"{e}.ty", f"{e}.hx", f"{e}.hy",
                         px, py)


def polygon_intersects_oracle_sql(recs_a: list[dict],
                                  recs_b: list[dict]) -> str:
    """Complete DuckDB twin of ``polygon_intersects_join`` over two
    fixture polygon sets: intersecting iff any segment crossing OR
    ANY ring's first-vertex probe of one side lands inside the other
    polygon by even-odd parity over ALL rings' edges (per-probe
    parity, then EXISTS-any across the side's rings)."""
    ea, va = polygon_edges_values_sql(recs_a)
    eb, vb = polygon_edges_values_sql(recs_b)
    seg = _segments_intersect_sql("a", "b")
    cross_b_in_a = _edge_crossing_case_sql("a", "v.x", "v.y")
    cross_a_in_b = _edge_crossing_case_sql("b", "v.x", "v.y")
    return f"""
        WITH ea(id_a, tx, ty, hx, hy) AS (VALUES
             {ea}),
        eb(id_b, tx, ty, hx, hy) AS (VALUES
             {eb}),
        va(id_a, ring_idx, x, y) AS (VALUES
             {va}),
        vb(id_b, ring_idx, x, y) AS (VALUES
             {vb}),
        xing AS (SELECT DISTINCT a.id_a, b.id_b
                 FROM ea a, eb b WHERE {seg}),
        b_in_a AS (SELECT DISTINCT id_a, id_b FROM (
                   SELECT a.id_a, v.id_b
                   FROM ea a CROSS JOIN vb v
                   GROUP BY a.id_a, v.id_b, v.ring_idx
                   HAVING sum({cross_b_in_a}) % 2 = 1)),
        a_in_b AS (SELECT DISTINCT id_a, id_b FROM (
                   SELECT v.id_a, b.id_b
                   FROM eb b CROSS JOIN va v
                   GROUP BY v.id_a, b.id_b, v.ring_idx
                   HAVING sum({cross_a_in_b}) % 2 = 1)),
        pairs AS (SELECT * FROM xing UNION
                  SELECT * FROM b_in_a UNION
                  SELECT * FROM a_in_b)
        SELECT DISTINCT CAST(id_a AS BIGINT) AS id_a,
                        CAST(id_b AS BIGINT) AS id_b
        FROM pairs"""
