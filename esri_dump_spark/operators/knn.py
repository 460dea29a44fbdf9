"""Cell-bucketed kNN over geo points (J3) — broadcast-then-refine.

Candidate generation is an equi-join on cell ids after exploding each
query point's grid-disk neighborhood (its own cell + the 8 surrounding
cells at the join resolution) — all JVM-side expressions, so the whole
candidate phase stays in whole-stage codegen. The refine is a plain
euclidean-in-degrees distance (built-in functions, no UDF), and the
top-k cut is a window ``row_number() <= k``.

Correctness bound (enforced, not assumed): the 3x3 grid-disk around a
query covers at least the axis-aligned rectangle +-cell_w x +-cell_h
around it, so every point within ``safe_radius(res) = 180 / 2**res``
degrees (the smaller cell pitch) is guaranteed to be a candidate. A
query is *resolved* at a resolution only when it found >= k candidates
AND its k-th distance <= safe_radius — then no closer point can hide
outside the disk and the top-k is exact (same argument as the
reference's adapt-to-density bbox refinement, lib/geometry.ts:180-190,
applied to the kNN disk). Unresolved stragglers are anti-joined out
and re-run at coarser resolutions (cells 2x wider per step) until all
resolve; res 0 is one 9-cell world scan, so termination is total and
the final result always equals the brute-force oracle, including
dist/id tie-breaks.

``res=None`` derives the starting resolution from observed density:
the finest res whose expected 3x3-disk population still covers ~4k
points, so the common case resolves in one pass.

Tie-breaking is deterministic: ORDER BY dist, neighbor id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels import cells as C

__all__ = ["knn_join", "knn_join_exact", "radius_join",
           "radius_join_exact", "neighbor_cells_expr",
           "safe_radius", "density_res", "radius_res"]


def safe_radius(res: int) -> float:
    """Degrees within which the 3x3 grid-disk at ``res`` is guaranteed
    to contain every point (the lat cell pitch; lon pitch is 2x)."""
    return 180.0 / (1 << res)


def density_res(n_points: int, k: int, max_res: int = 12) -> int:
    """Finest resolution whose expected 3x3-disk population
    (9 * n / 4^res, uniform) is still >= 4k — queries then resolve in
    one pass with high probability; stragglers escalate anyway."""
    if n_points <= 0:
        return 0
    for r in range(max_res, -1, -1):
        if 9.0 * n_points / (4.0 ** r) >= 4.0 * max(k, 1):
            return r
    return 0


def radius_res(radius: float) -> int:
    """Finest resolution whose 3x3 grid-disk still covers ``radius``
    degrees (safe_radius(res) >= radius) — one-pass-exact for
    ``radius_join``. Coarser would work too but widens buckets."""
    if radius <= 0:
        raise ValueError(f"radius={radius}: must be > 0")
    if radius >= 180.0:
        return 0
    return min(int(math.floor(math.log2(180.0 / radius))), C.MAX_RES)


def neighbor_cells_expr(lon_col: str, lat_col: str, res: int,
                        width: int = 1) -> str:
    """SQL array expression of the (2*width+1)^2 grid-disk cell ids
    around a point — same arithmetic as kernels.cells.grid_disk,
    clamped at the grid edge (duplicate edge cells are fine: callers
    array_distinct before exploding)."""
    if width < 1 or (2 * width + 1) ** 2 > 289:
        raise ValueError(
            f"width={width}: must be in [1, 8] — a wider disk fans the "
            "query side out quadratically; use a coarser res instead")
    cx, cy = C.grid_index_sql(lon_col, lat_col, res)
    cells = [C.pack_sql(res, C.clamp_sql(f"{cx} + ({dx})", res),
                        C.clamp_sql(f"{cy} + ({dy})", res))
             for dx in range(-width, width + 1)
             for dy in range(-width, width + 1)]
    return "array(" + ", ".join(cells) + ")"


def _knn_at_res(queries: DataFrame, points: DataFrame, k: int,
                query_id: str, point_id: str, res: int,
                q_lon: str, q_lat: str, p_lon: str, p_lat: str,
                broadcast_points: bool,
                radius: float | None = None) -> DataFrame:
    """One candidate-join pass: (query_id, point_id, dist, rank) for
    the k best candidates per query at ``res``; when ``radius`` is
    given, also ``_resolved`` — the exactness certificate (>= k
    candidates AND k-th distance <= radius) folded into the SAME
    window pass (same partition key -> no extra exchange).

    The resolution-tracked pass (``radius`` given) uses a LEFT join so
    zero-candidate queries surface as null-point rows instead of
    vanishing: every query then appears in the output with its
    certificate, and the escalation probe reads ONLY this pass's
    checkpoint — no re-scan of the queries side per round (the round-3
    probe re-evaluated the caller's queries plan, a TakeOrdered over
    the full table in the flagship query, once per round). Real
    candidates order before the null rows (nulls-last sort keys), so
    rank/n_hits/d_k are unchanged; callers drop null-point rows from
    the certified output.

    The grid-disk dedup is ``array_distinct`` on the 9-cell array
    BEFORE the explode (duplicates only arise from edge clamping) —
    JVM-side, replacing the round-2 ``dropDuplicates`` which cost a
    full extra shuffle of the exploded query set."""
    q = queries.select(
        F.col(query_id),
        F.col(q_lon).alias("_qlon"), F.col(q_lat).alias("_qlat"),
        F.explode(F.array_distinct(
            F.expr(neighbor_cells_expr(q_lon, q_lat, res)))).alias("cell"),
    )

    p = points.select(
        F.col(point_id),
        F.col(p_lon).alias("_plon"), F.col(p_lat).alias("_plat"),
        F.expr(C.cell_sql_expr(p_lon, p_lat, res)).alias("cell"),
    )

    right = F.broadcast(p) if broadcast_points else p
    cand = q.join(right, "cell", "left" if radius is not None else "inner")

    dlon = F.col("_qlon") - F.col("_plon")
    dlat = F.col("_qlat") - F.col("_plat")
    # multiplication, not pow(x, 2): bit-identical to the SQL oracle
    dist = F.sqrt(dlon * dlon + dlat * dlat).alias("dist")
    cand = cand.select(query_id, point_id, dist)

    w = Window.partitionBy(query_id).orderBy(
        F.col("dist").asc_nulls_last(), F.col(point_id).asc_nulls_last())
    wall = Window.partitionBy(query_id)
    out = (cand.withColumn("rank", F.row_number().over(w))
           .withColumn("n_hits", F.count(F.col(point_id)).over(wall))
           .filter(F.col("rank") <= k))
    if radius is not None:
        # max over the rank<=k survivors = d_k; F.max ignores the null
        # rows, and (false & NULL) = false keeps zero-candidate
        # queries unresolved
        out = out.withColumn(
            "_resolved",
            (F.col("n_hits") >= k)
            & (F.max("dist").over(wall) <= F.lit(radius)))
    return out


def knn_join(queries: DataFrame, points: DataFrame, k: int,
             query_id: str = "query_id", point_id: str = "point_id",
             res: int | None = 9,
             q_lon: str = "lon", q_lat: str = "lat",
             p_lon: str = "lon", p_lat: str = "lat",
             broadcast_points: bool | None = None,
             res_step: int = 2) -> DataFrame:
    """Exact k nearest ``points`` for each row of ``queries``.

    Output: (query_id, point_id, dist, rank). Plan shape per pass:
      queries -> explode(array_distinct(grid_disk)) [fan-out x9, JVM]
      points  -> cell id                            [JVM]
      equi-join on cell (broadcast if the points side is small,
      shuffle hash otherwise) -> distance -> ONE window pass computing
      top-k rank, candidate count, and the resolved certificate
      (n_hits >= k AND d_k <= safe_radius) together; only unresolved
    stragglers re-run ``res_step`` resolutions coarser. Each escalation
    shrinks the query set, so at scale the coarse passes touch a
    vanishing fraction of queries while the bulk resolves at the
    density-matched resolution.

    Materialization discipline (round-3): each round's candidate pass
    runs EXACTLY once — ``localCheckpoint`` (eager) truncates lineage
    and stores the flagged top-k; everything downstream (resolved
    slice, straggler probe, final union) reads the checkpoint blocks
    instead of re-running the join. The LEFT candidate join keeps
    zero-candidate queries visible, so the per-round escalation probe
    is a limit-1 scan of the checkpoint alone — the caller's queries
    plan is never re-evaluated once the round is materialized.
    Checkpoint storage is released by the context cleaner when the
    result goes out of scope — no caches pinned for the session
    lifetime (round-2 leaked flagged/remaining caches per round,
    never unpersisted).

    ``res=None`` derives the starting resolution from the points count.
    ``broadcast_points=None`` auto-detects: one count (metadata-cheap
    on parquet/Iceberg) and the points side is broadcast when it is
    small enough to ship (<= 1M rows). The broadcast payload is ALWAYS
    the slim (id, lon, lat) projection — the output carries only
    (query_id, point_id, dist, rank), so any other points columns are
    pruned before the join and the count-based size estimate is safe
    regardless of the source table's width.
    """
    if res_step < 1:
        raise ValueError(
            f"res_step={res_step}: must be >= 1 — the escalation loop "
            "re-runs the identical resolution forever otherwise")
    points = points.select(point_id, p_lon, p_lat)
    if broadcast_points is None or res is None:
        n_points = points.count()
        if broadcast_points is None:
            broadcast_points = n_points <= 1_000_000
        if res is None:
            res = density_res(n_points, k)

    remaining = queries
    resolved_parts: list[DataFrame] = []
    r = res
    while True:
        if r <= 0:
            # world-sized cells: the disk is a full scan -> always
            # exact; left lazy, computed once at the final action
            out = _knn_at_res(remaining, points, k, query_id, point_id,
                              0, q_lon, q_lat, p_lon, p_lat,
                              broadcast_points)
            resolved_parts.append(
                out.select(query_id, point_id, "dist", "rank"))
            break
        flagged = _knn_at_res(remaining, points, k, query_id, point_id,
                              r, q_lon, q_lat, p_lon, p_lat,
                              broadcast_points,
                              radius=safe_radius(r)).localCheckpoint()
        resolved_parts.append(
            flagged.filter(F.col("_resolved"))
            .select(query_id, point_id, "dist", "rank"))
        # the left candidate join puts EVERY query in flagged (null
        # point rows for candidate-less cells), so the escalation
        # probe is a limit-1 scan of this round's checkpoint blocks —
        # the common all-resolved round touches neither the queries
        # plan nor the points again
        unresolved = flagged.filter(~F.col("_resolved"))
        if unresolved.isEmpty():
            break
        remaining = (remaining.join(
            unresolved.select(query_id).distinct(), query_id,
            "left_semi")).localCheckpoint()
        r = max(r - res_step, 0)

    result = resolved_parts[0]
    for part in resolved_parts[1:]:
        result = result.unionByName(part)
    return result


def radius_join(queries: DataFrame, points: DataFrame, radius: float,
                query_id: str = "query_id", point_id: str = "point_id",
                res: int | None = None,
                q_lon: str = "lon", q_lat: str = "lat",
                p_lon: str = "lon", p_lat: str = "lat",
                broadcast_points: bool | None = None) -> DataFrame:
    """Exact within-distance join (J7b): every (query, point) pair
    with euclidean-in-degrees distance <= ``radius``.

    Unlike kNN, this is one-pass exact with NO escalation loop and NO
    window: pick the finest resolution whose grid-disk is guaranteed
    to cover ``radius`` (``width * safe_radius(res) >= radius`` — same
    coverage argument as ``knn_join``'s resolved certificate, and the
    same adapt-to-density bbox posture as the reference's
    lib/geometry.ts:180-190), explode the disk on the query side,
    equi-join on the points' single cell id, and filter the exact
    distance. A point occupies exactly one cell and the exploded disk
    is distinct, so each qualifying pair is produced exactly once — no
    dedup, no window, and the whole plan is JVM codegen:

      queries -> explode(array_distinct(disk))   [fan-out (2w+1)^2]
      points  -> cell id
      equi-join on cell (broadcast if points side is small, shuffle
      hash otherwise) -> dist <= radius filter

    ``res=None`` derives the finest one-pass-exact resolution (disk
    width 1, fan-out 9). An explicit FINER ``res`` trades a wider disk
    (width = ceil(radius / safe_radius(res)), capped at 8) for smaller
    buckets — useful when the radius is large relative to point
    density. Output: (query_id, point_id, dist).
    """
    if res is None:
        res = radius_res(radius)
        width = 1
    else:
        if not 0 <= res <= C.MAX_RES:
            raise ValueError(f"res must be in [0, {C.MAX_RES}]")
        width = max(1, math.ceil(radius / safe_radius(res))) if res else 1
    points = points.select(point_id, p_lon, p_lat)
    if broadcast_points is None:
        broadcast_points = points.count() <= 1_000_000

    q = queries.select(
        F.col(query_id),
        F.col(q_lon).alias("_qlon"), F.col(q_lat).alias("_qlat"),
        F.explode(F.array_distinct(
            F.expr(neighbor_cells_expr(q_lon, q_lat, res, width))
        )).alias("cell"),
    )
    p = points.select(
        F.col(point_id),
        F.col(p_lon).alias("_plon"), F.col(p_lat).alias("_plat"),
        F.expr(C.cell_sql_expr(p_lon, p_lat, res)).alias("cell"),
    )
    right = F.broadcast(p) if broadcast_points else p
    cand = q.join(right, "cell", "inner")
    dlon = F.col("_qlon") - F.col("_plon")
    dlat = F.col("_qlat") - F.col("_plat")
    # multiplication, not pow(x, 2): bit-identical to the SQL oracle;
    # predicate on the RAW distance, rounding only in display columns
    return (cand.select(query_id, point_id,
                        F.sqrt(dlon * dlon + dlat * dlat).alias("dist"))
            .filter(F.col("dist") <= F.lit(float(radius))))


def radius_join_exact(queries: DataFrame, points: DataFrame,
                      radius: float,
                      query_id: str = "query_id",
                      point_id: str = "point_id",
                      q_lon: str = "lon", q_lat: str = "lat",
                      p_lon: str = "lon", p_lat: str = "lat") -> DataFrame:
    """Brute-force oracle: crossJoin + distance filter. O(|Q| x |P|)
    — test-scale only."""
    q = queries.select(F.col(query_id), F.col(q_lon).alias("_qlon"),
                       F.col(q_lat).alias("_qlat"))
    p = points.select(F.col(point_id), F.col(p_lon).alias("_plon"),
                      F.col(p_lat).alias("_plat"))
    dlon = F.col("_qlon") - F.col("_plon")
    dlat = F.col("_qlat") - F.col("_plat")
    return (q.crossJoin(p)
            .select(query_id, point_id,
                    F.sqrt(dlon * dlon + dlat * dlat).alias("dist"))
            .filter(F.col("dist") <= F.lit(float(radius))))


def knn_join_exact(queries: DataFrame, points: DataFrame, k: int,
                   query_id: str = "query_id", point_id: str = "point_id",
                   q_lon: str = "lon", q_lat: str = "lat",
                   p_lon: str = "lon", p_lat: str = "lat") -> DataFrame:
    """Brute-force oracle: crossJoin + window top-k. O(|Q| x |P|) —
    test-scale only."""
    q = queries.select(F.col(query_id), F.col(q_lon).alias("_qlon"),
                       F.col(q_lat).alias("_qlat"))
    p = points.select(F.col(point_id), F.col(p_lon).alias("_plon"),
                      F.col(p_lat).alias("_plat"))
    dlon = F.col("_qlon") - F.col("_plon")
    dlat = F.col("_qlat") - F.col("_plat")
    cand = q.crossJoin(p).select(
        query_id, point_id,
        F.sqrt(dlon * dlon + dlat * dlat).alias("dist"))
    w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(),
                                             F.col(point_id).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
